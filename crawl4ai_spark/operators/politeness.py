"""Per-host politeness — budgeted wave selection + backoff state machine.

The reference enforces politeness with wall-clock sleeps per domain
(``crawl4ai/async_dispatcher.py:28-85`` RateLimiter) — per-domain delay,
exponential backoff ×2 on 429/503 capped at 60 s, ×0.75 decay on success,
give-up after max_retries. In a batch-iterated frontier, wall-clock delay
becomes a **per-wave request budget**: at most ``budget(host)`` URLs per
host per wave, enforced by a grouped window rank; hosts in backoff get
budget 0 for ``cooldown_waves`` waves. The equivalence contract (SURVEY.md
§7): under budget b, the multiset of (host, wave#) fetch assignments
matches the reference's (host, ⌊t/Δ⌋) schedule.

Wave selection is one window and Spark's own top-k:
``row_number() over (partition by host order by …) <= budget``, then, for
a ``max_pages`` cap, ``global_top_k`` (``TakeOrderedAndProject``, or a
range rank for huge k).

Scale notes (100 TB / 10^10 URLs):
- The window partitions by ``host``. We ``repartition(host)`` first and
  the budget and cooldown joins are broadcasts, so a wave's selection
  plans exactly one exchange and reads ``pending`` once.
- A hot host's rows sort in one task (a window cannot split its partition
  key); rank ≤ budget then cuts each host to at most ``budget`` rows
  *before* any further join, so a 10^8-row host cannot bloat a wave.
- ``host_budgets`` is a small dimension → broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# global_top_k: the largest k merged in one task (above it, the range rank)
SMALL_K_MAX = 200_000
# global_top_k: range partitions of the large-k rank
RANGE_PARTITIONS = 32


def wave_order():
    """Deterministic total wave-selection order (score desc, depth, url)."""
    return [F.desc("score"), F.asc("depth"), F.asc("url")]


def fair_wave_order(current_wave: int, boost_per_wave: float):
    """Starvation-free wave order: the reference re-prioritizes tasks whose
    wait exceeds fairness_timeout by making wait time the priority
    (async_dispatcher.py:217-226,471-528). Wave analog: age the score by
    ``boost_per_wave`` per wave spent in the frontier, with enqueue_wave
    (FIFO) as the tiebreaker — any URL's effective score eventually
    exceeds every fresh score, so nothing starves under best-first."""
    aged = F.col("score") + F.lit(boost_per_wave) * (
        F.lit(current_wave) - F.col("enqueue_wave")
    )
    return [F.desc(aged), F.asc("enqueue_wave"), F.asc("depth"), F.asc("url")]


def dfs_order():
    """DFS preorder: lexicographic path-key (exact stack order when the
    wave size is 1; reference semantics dfs_strategy.py:65-103)."""
    return [F.asc("path_key"), F.asc("url")]


def global_top_k(df: DataFrame, order: list, k: int, n_rows: int | None = None) -> DataFrame:
    """The first ``k`` rows of ``df`` under ``order``, which must be a
    total order (ours ends in ``url``) so the result is run-independent.
    Three cases, identical selection:

    - **Elision** — when the candidate count (``n_rows``, passed by the
      caller from footer/accumulated counts or computed here with one
      narrow agg) is ≤ k, every row survives: no sort at all. This is the
      common case late in a crawl (candidates ≤ remaining budget).
    - **Small k** (≤ ``SMALL_K_MAX``) — ``orderBy().limit()``, which Spark
      plans as ``TakeOrderedAndProject``: a top-k per partition, then one
      task merges the ≤ partitions×k survivors.
    - **Large k** — exact distributed rank, where even that merge would
      be a straggler sort: range-repartition by ``order`` (sampled
      boundaries → distributed sort, no funnel), per-partition row offsets
      from ``monotonically_increasing_id`` on the persisted sorted layout,
      partition sizes prefix-summed driver-side (``RANGE_PARTITIONS``
      integers), global rank = prefix[pid] + offset. No task ever holds
      more than ~n/P rows.
    """
    if k <= 0:
        return df.limit(0)
    if n_rows is None:
        n_rows = df.count()
    if n_rows <= k:
        return df
    if k <= SMALL_K_MAX:
        return df.orderBy(*order).limit(k)

    # persisted so the id column is stable between the offset job and the
    # filter; ContextCleaner reclaims the cache entry when the frame is
    # garbage collected
    ranged = (
        df.repartitionByRange(RANGE_PARTITIONS, *order)
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        .persist()
    )
    pid = F.shiftright(F.col("_mid"), 33)
    sizes = {
        r["pid"]: r["n"]
        for r in ranged.groupBy(pid.alias("pid")).agg(F.count("*").alias("n")).collect()
    }
    prefix: dict[int, int] = {}
    acc = 0
    for p in sorted(sizes):
        prefix[p] = acc
        acc += sizes[p]
    offset_map = F.create_map(
        *[
            F.lit(x).cast("long")
            for p in sorted(prefix)
            for x in (p, prefix[p])
        ]
    )
    rank = F.element_at(offset_map, pid) + F.pmod(F.col("_mid"), F.lit(1 << 33)) + 1
    return ranged.where(rank <= k).drop("_mid")


def rank_by_host_budget(
    pending: DataFrame,
    host_budgets: DataFrame | None,
    default_budget: int = 100,
    host_state: DataFrame | None = None,
    global_limit: int | None = None,
    order: list | None = None,
    pending_hint: int | None = None,
) -> DataFrame:
    """Select this wave's fetch set: the top-``budget(host)`` rows of each
    host under ``order`` (default ``wave_order``), then an optional
    deterministic global cap of ``global_limit`` rows.

    Returns only the selected rows, each with ``selected = true``;
    unselected rows simply stay in the frontier for the next wave (no
    state mutation).

    ``pending_hint``: caller-known upper bound on ``pending``'s row count
    (run_crawl derives it from accumulated parquet-footer counts — no
    job). When the bound is ≤ global_limit the global cap is vacuous and
    elides its sort; an over-estimate only forgoes the elision, never
    changes the selection.
    """
    df = pending.repartition(F.col("host"))
    if host_budgets is not None:
        df = df.join(F.broadcast(host_budgets.select("host", "budget")), "host", "left")
        df = df.withColumn("budget", F.coalesce(F.col("budget"), F.lit(default_budget)))
    else:
        df = df.withColumn("budget", F.lit(default_budget))
    if host_state is not None:
        cooldown = host_state.select("host", "cooldown_waves")
        df = df.join(F.broadcast(cooldown), "host", "left")
        # cooldown_waves > 0 = backing off; == -1 = retired after
        # max_retries (give-up is permanent, reference RateLimiter
        # async_dispatcher.py:83-85) — both yield budget 0
        df = df.withColumn(
            "budget",
            F.when(F.coalesce(F.col("cooldown_waves"), F.lit(0)) != 0, F.lit(0)).otherwise(
                F.col("budget")
            ),
        ).drop("cooldown_waves")

    order = order if order is not None else wave_order()
    host_rank = F.row_number().over(Window.partitionBy("host").orderBy(*order))
    df = (
        df.withColumn("_host_rank", host_rank)
        .where(F.col("_host_rank") <= F.col("budget"))
        .drop("_host_rank", "budget")
    )
    if global_limit is not None:
        # deterministic global cap (max_pages semantics,
        # bfs_strategy.py:189-196): keep the top-ordered remainder. No
        # hint → skip the elision count (it would run the window plan)
        # and let the case choice run on k alone
        hint = pending_hint if pending_hint is not None else global_limit + 1
        df = global_top_k(df, order, global_limit, n_rows=hint)
    return df.withColumn("selected", F.lit(True))


def update_host_state(
    host_state: DataFrame | None,
    wave_outcomes: DataFrame,
    base_delay: float = 0.25,
    max_delay: float = 60.0,
    max_retries: int = 3,
    wave_seconds: float = 1.0,
) -> DataFrame:
    """Port of the RateLimiter backoff state machine to per-wave columns.

    ``wave_outcomes``: one row per (host) with ``n_ok`` and ``n_throttled``
    (429/503-equivalent outcomes). Transition per wave:

    - any throttled → delay ×2 (capped), fail_count+1,
      cooldown_waves = ceil(delay / wave_seconds)
    - else           → delay ×0.75 floored at base, fail_count unchanged,
      cooldown 0 (jitter deliberately excluded — parity is on state
      transitions, not randomness; SURVEY.md §7 watch list)
    - fail_count > max_retries → host retired (cooldown = -1 sentinel)
    """
    if host_state is None:
        # first wave: no prior state, so no join — the prior columns are
        # typed NULLs (an empty createDataFrame would run a Python-RDD job)
        merged = wave_outcomes.select(
            "*",
            F.lit(None).cast("double").alias("current_delay"),
            F.lit(None).cast("int").alias("fail_count"),
            F.lit(None).cast("int").alias("cooldown_waves"),
        )
    else:
        merged = host_state.join(wave_outcomes, "host", "full")
    throttled = F.coalesce(F.col("n_throttled"), F.lit(0)) > 0
    delay = F.coalesce(F.col("current_delay"), F.lit(base_delay))
    fails = F.coalesce(F.col("fail_count"), F.lit(0))
    new_delay = F.when(throttled, F.least(delay * 2.0, F.lit(max_delay))).otherwise(
        F.greatest(delay * 0.75, F.lit(base_delay))
    )
    new_fails = F.when(throttled, fails + 1).otherwise(fails)
    cooldown = F.when(new_fails > max_retries, F.lit(-1)).otherwise(
        F.when(throttled, F.ceil(new_delay / F.lit(wave_seconds)).cast("int")).otherwise(
            F.greatest(F.coalesce(F.col("cooldown_waves"), F.lit(0)) - 1, F.lit(0))
        )
    )
    return merged.select(
        "host",
        new_delay.alias("current_delay"),
        new_fails.alias("fail_count"),
        cooldown.alias("cooldown_waves"),
        # this wave's throttle count, carried so the crawl loop derives its
        # global throttle metric from the written host_state bytes instead
        # of an extra per-wave count() job over the results table
        F.coalesce(F.col("n_throttled"), F.lit(0)).cast("long").alias("wave_throttled"),
    )

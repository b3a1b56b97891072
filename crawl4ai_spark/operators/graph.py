"""Distributed graph operators for corpus curation at 100 TB scale.

Two classic web-corpus primitives the reference's single-node engine
cannot express but a training-data pipeline needs once near-dup *pairs*
exist (operators/dedup.py) and a crawl link graph exists
(frontier/bfs.py):

- **connected_components** — turn near-duplicate pairs into duplicate
  *clusters* (pick one canonical doc per cluster, drop the rest). The
  alternating large-star / small-star algorithm (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14 — public
  literature, cf. PAPERS.md): converges in O(log² n) rounds, each round
  two hash-shuffles (groupBy min + join), *no* ``collect_list`` of
  neighborhoods, so a 10⁹-node / skewed-degree graph never materializes
  a hot neighborhood in one task.
- **pagerank** — damped PageRank over a (src, dst) edge table, the
  standard authority prior for crawl scheduling / domain-authority
  scoring (reference scorers get a static domain weight table,
  scorers.py; this computes one from the observed link graph). Each
  iteration is one join + one aggregation on the same key — AQE reuses
  the exchange — and ranks are rounded per-iteration so results are
  bitwise reproducible across partitionings (float sum order varies;
  rounding at 1e-9 absorbs it).

Both iterate driver-side over DataFrames with ``localCheckpoint`` per
round to truncate lineage (without it, round k's plan replays rounds
1..k-1 — the classic iterative-DataFrame trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawl4ai_spark.functions.urlnorm import host_col

# ── connected components (large-star / small-star) ───────────────────────


def _canonical(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Undirected edge set as (a < b) pairs, self-loops dropped."""
    lo, hi = F.least(F.col(a), F.col(b)), F.greatest(F.col(a), F.col(b))
    return (
        edges.select(lo.alias("a"), hi.alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _both_directions(edges: DataFrame) -> DataFrame:
    return edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (or small-star) round.

    For every node u with neighborhood Γ(u): m = min(Γ(u) ∪ {u});
    large-star links every neighbor v > u to m, small-star links every
    v ≤ u (plus u itself) to m. Expressed as groupBy-min + re-join —
    neighborhoods are never collected into one row.
    """
    nbr = _both_directions(edges)
    mins = nbr.groupBy("u").agg(F.min("v").alias("_mn"))
    mins = mins.select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
    joined = nbr.join(mins, "u")
    if large:
        emitted = joined.where(F.col("v") > F.col("u")).select("v", "m")
    else:
        emitted = joined.where(F.col("v") <= F.col("u")).select("v", "m").unionAll(
            mins.select(F.col("u").alias("v"), "m")
        )
    return _canonical(emitted, "v", "m")


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(count, order-independent hash) of the edge set — one cheap job."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).head()
    return int(row["n"]), int(row["h"])


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """``(node, component)`` labeling of the undirected graph in ``pairs``
    — component = the minimum node id reachable. Only nodes that appear
    in at least one edge are emitted (singletons are trivially their own
    component; union them in from the corpus table if needed).

    Alternating large-star/small-star until the edge set is stable; on
    convergence the graph is a union of stars whose centers are the
    component minima, so the final labeling is one groupBy-min.
    """
    edges = _canonical(pairs, src, dst).localCheckpoint(eager=True)
    fp = _edge_fingerprint(edges)
    converged = False
    for _ in range(max_rounds):
        edges = _star_round(edges, large=True).localCheckpoint(eager=True)
        edges = _star_round(edges, large=False).localCheckpoint(eager=True)
        nxt = _edge_fingerprint(edges)
        if nxt == fp:
            converged = True
            break
        fp = nxt
    if not converged:
        # A partially-converged labeling would silently mis-cluster —
        # downstream keep/drop curation must not run on it.
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            "large-star/small-star rounds (edge fingerprint still moving); "
            "raise max_rounds — O(log^2 n) rounds suffice for any graph"
        )
    nbr = _both_directions(edges)
    labels = nbr.groupBy("u").agg(F.min("v").alias("_mn"))
    return labels.select(
        F.col("u").alias("node"),
        F.least(F.col("_mn"), F.col("u")).alias("component"),
    )


def duplicate_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Near-dup pairs → one scalar row per cluster member:
    ``(component, n_members, node, is_keep)`` — the per-member curation
    decision (keep the minimum id of each component, drop the rest).

    Deliberately row-per-member, NOT row-per-cluster with a collected
    ``drop_ids`` array: at web scale one boilerplate cluster can hold
    10⁷ members, and ``collect_list`` would materialize it in a single
    task. ``n_members`` comes from an unbounded count window over
    ``component`` — one hash shuffle, no per-cluster row blowup."""
    from pyspark.sql import Window

    cc = connected_components(pairs, src, dst)
    w = Window.partitionBy("component")
    return cc.select(
        "component",
        F.count("*").over(w).alias("n_members"),
        "node",
        (F.col("node") == F.col("component")).cast("int").alias("is_keep"),
    )


# ── PageRank ─────────────────────────────────────────────────────────────


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
    round_digits: int = 9,
) -> DataFrame:
    """Damped PageRank: r₀ = 1/N; r_{k+1}(v) = (1−d)/N + d·Σ_{(u,v)∈E}
    r_k(u)/outdeg(u). N counts distinct nodes on either side; dangling
    mass is not redistributed (documented — the crawl-prior use case
    only needs relative order). Ranks are rounded to ``round_digits``
    each iteration so the result is independent of partitioning /
    float-sum order. Returns ``(node, rank)``.

    Plan shape: ``nodes`` and ``contribs`` hash-partition on the same
    key across iterations; ``outdeg`` is computed once and re-joined
    (broadcast when small). ``localCheckpoint`` per iteration keeps the
    lineage O(1).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates(
        ["src", "dst"]
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg")).localCheckpoint(eager=True)
    ranks = nodes.withColumn("rank", F.lit(round(1.0 / n, round_digits)))
    for _ in range(iters):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("outdeg")).alias("w"))
            .groupBy("node")
            .agg(F.sum("w").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(base) + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)),
                    round_digits,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


# ── HITS (hubs & authorities) ────────────────────────────────────────────


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    round_digits: int = 9,
) -> DataFrame:
    """Kleinberg's HITS over a link graph: per node, a HUB score (sums
    the authority of everything it links to) and an AUTHORITY score
    (sums the hub score of everything linking to it) — the classic
    complement to :func:`pagerank` for crawl frontier prioritization
    (reference scorers rank URLs by keyword/path signals only,
    `crawl4ai/deep_crawling/scorers.py`; at corpus scale the link
    structure itself is the signal — a high-hub seed page is where a
    best-first crawl finds dense new-URL yield).

    Update order is Kleinberg's: authorities from current hubs, then
    hubs from the NEW authorities. Each half-step normalizes by the
    MAXIMUM score (order-independent, unlike an L1/L2 float total) and
    rounds to ``round_digits``, so results are partitioning- and
    engine-independent; relative order matches the eigenvector
    formulation. Dangling direction contributes 0. Returns
    ``(node, hub, authority)``.

    Plan shape: the two half-steps are the same co-partitioned
    edge⋈score hash joins as the PageRank loop; the normalizing max is
    a 1-row aggregate broadcast back (never a global window);
    ``localCheckpoint`` per iteration keeps lineage O(1).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates(
        ["src", "dst"]
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _norm(scored: DataFrame, col: str) -> DataFrame:
        mx = scored.agg(F.max(col).alias("_mx"))
        return (
            scored.crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.when(
                    F.col("_mx") > 0, F.round(F.col(col) / F.col("_mx"), round_digits)
                )
                .otherwise(F.lit(0.0))
                .alias(col),
            )
        )

    hubs = nodes.withColumn("hub", F.lit(1.0))
    auths = nodes.withColumn("authority", F.lit(0.0))
    for _ in range(iters):
        a_raw = (
            e.join(hubs, e["src"] == hubs["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        auths = _norm(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce("authority", F.lit(0.0)).alias("authority")
            ),
            "authority",
        ).localCheckpoint(eager=True)
        h_raw = (
            e.join(auths, e["dst"] == auths["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        hubs = _norm(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce("hub", F.lit(0.0)).alias("hub")
            ),
            "hub",
        ).localCheckpoint(eager=True)
    return nodes.join(hubs, "node", "left").join(auths, "node", "left").select(
        "node",
        F.coalesce("hub", F.lit(0.0)).alias("hub"),
        F.coalesce("authority", F.lit(0.0)).alias("authority"),
    )


def host_authority_prior(
    edges: DataFrame,
    kind: str = "pagerank",
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Roll URL-level link-graph scores up to a ``(host, prior)`` frame
    for ``CrawlConfig.host_prior``: PageRank rank (or HITS authority)
    per URL node, summed by host and divided by the largest host's sum,
    so ``host_prior_weight`` has a stable meaning across graph sizes and
    an observed weak host keeps a prior above 0, apart from an unknown
    host (no row, no boost).
    Edges are URL→URL (e.g. the crawl store's ``parent_url``/``url``
    pairs or extracted-link pairs); hosts come from the frontier's own
    canonical host rule (lowercased authority). The output is
    host-cardinality — bounded and broadcastable by construction.
    """
    if kind not in ("pagerank", "hits"):
        raise ValueError(f"kind must be 'pagerank' or 'hits', got {kind!r}")
    if kind == "pagerank":
        scored = pagerank(edges, src=src, dst=dst, iters=iters).select(
            "node", F.col("rank").alias("s")
        )
    else:
        scored = hits(edges, src=src, dst=dst, iters=iters).select(
            "node", F.col("authority").alias("s")
        )
    host = host_col(F.col("node"))
    by_host = (
        scored.where(host.isNotNull() & (host != ""))
        .groupBy(host.alias("host"))
        .agg(F.sum("s").alias("_raw"))
    )
    top = by_host.agg(F.max("_raw").alias("_hi"))
    return (
        by_host.crossJoin(F.broadcast(top))
        .select(
            "host",
            F.when(F.col("_hi") > 0, F.round(F.col("_raw") / F.col("_hi"), 9))
            .otherwise(F.lit(1.0))
            .alias("prior"),
        )
    )

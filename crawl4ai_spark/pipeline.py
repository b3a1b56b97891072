"""Declarative curation pipeline with single-pass yield accounting.

The repo ships every curation operator a web-scale training-data
pipeline needs (Gopher/C4 gates, language ID, quality classifier,
exact/fuzzy dedup, decontamination, …) as standalone DataFrame
transforms; production corpora (C4 §2.2 of Raffel 2020, Gopher A1,
CCNet, FineWeb) run them as an ordered FUNNEL and publish per-stage
removal accounting. Composing that naively — filter, count, filter,
count — costs one full action per stage, and at 100 TB each action is a
full corpus scan.

This module composes the funnel the Spark-first way instead:

- **Tag, don't filter.** Every stage contributes to a single
  ``fail_stage`` column holding the FIRST stage that rejected the row
  (NULL = survived everything). Row-wise :class:`Gate` stages are pure
  column predicates folded into one projection — zero extra jobs, zero
  shuffles, whole-stage codegen. Set-based :class:`Keeper` stages
  (dedup families — a row's fate depends on other rows) run their
  operator over the currently-alive rows only and come back as one
  id-semi-join each, exactly the shuffles the stage inherently needs.
- **One count job for the whole funnel.** The per-stage lineage
  (rows_in / rows_fail / rows_out / yield) is a ``groupBy(fail_stage)``
  over the tagged frame — a single aggregation of one small-cardinality
  string column — then closed-form cumulative arithmetic on the
  ≤ n_stages+1 result rows driver-side (a bounded collect, same posture
  as the IVF quantizer sample).

The reference (crawl4ai) composes per-page steps imperatively inside
``AsyncWebCrawler.arun`` (config-object strategy slots); this is the
corpus-level analogue: declarative stage list in, curated frame +
auditable lineage out.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["Gate", "Keeper", "CurationPipeline", "gopher_stage", "c4_gate"]


@dataclass(frozen=True)
class Gate:
    """Row-wise stage: ``predicate(df)`` returns a boolean Column over
    ``df``'s columns; NULL evaluates as reject (curation gates must be
    decisive — a doc whose signal is undefined does not pass)."""

    name: str
    predicate: Callable[[DataFrame], Column]


@dataclass(frozen=True)
class Keeper:
    """Set-based stage: ``keep_ids(alive)`` receives the rows that
    survived every earlier stage and returns a frame whose ``id_col``
    lists the rows this stage KEEPS (e.g. exact-dedup firsts, a
    near-dup cluster's representative). Everything alive but absent
    from the keep set is tagged rejected by this stage."""

    name: str
    keep_ids: Callable[[DataFrame], DataFrame]


class CurationPipeline:
    """Ordered funnel of :class:`Gate` / :class:`Keeper` stages.

    ``apply`` tags; ``run`` tags + accounts. Stage names must be
    unique and non-empty (they become ``fail_stage`` values and
    lineage rows). Input columns must not start with the reserved
    ``_cp_`` prefix of the pipeline's own working columns.
    """

    def __init__(self, stages: list[Gate | Keeper], id_col: str = "doc_id"):
        names = [s.name for s in stages]
        if not stages:
            raise ValueError("CurationPipeline requires at least one stage")
        if len(set(names)) != len(names) or not all(names):
            raise ValueError(f"stage names must be unique and non-empty: {names}")
        self.stages = list(stages)
        self.id_col = id_col

    def apply(self, docs: DataFrame) -> DataFrame:
        """``docs`` + a ``fail_stage`` string column: the first stage
        that rejected the row, NULL when the row survived the funnel.
        Consecutive gates fold into one projection; each keeper costs
        one semi-join of ids against the alive set (dead rows carry
        through the join as a NULL match — id-only shuffle weight)."""
        reserved = [c for c in docs.columns if c.startswith("_cp_")]
        if reserved:
            raise ValueError(f"input columns {reserved} use the reserved '_cp_' prefix")
        df = docs
        fail = F.lit(None).cast("string")
        for i, st in enumerate(self.stages):
            if isinstance(st, Gate):
                fail = F.when(fail.isNotNull(), fail).when(
                    ~F.coalesce(st.predicate(df), F.lit(False)), F.lit(st.name)
                )
            else:
                tag = f"_cp_fail_{i}"
                keep = f"_cp_keep_{i}"
                df = df.withColumn(tag, fail)
                alive = df.where(F.col(tag).isNull()).drop(
                    *[c for c in df.columns if c.startswith("_cp_")]
                )
                keeps = (
                    st.keep_ids(alive)
                    .select(self.id_col)
                    .distinct()  # a duplicate keep id must not fan out the join
                    .withColumn(keep, F.lit(True))
                )
                df = df.join(keeps, self.id_col, "left")
                fail = (
                    F.when(F.col(tag).isNotNull(), F.col(tag))
                    .when(F.col(keep).isNull(), F.lit(st.name))
                )
        out = df.withColumn("fail_stage", fail)
        return out.drop(*[c for c in out.columns if c.startswith("_cp_")])

    def run(self, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Returns ``(curated, lineage)``: the surviving rows (original
        columns, no tag) and a lineage frame ``(stage_idx, stage,
        rows_in, rows_fail, rows_out, yield_frac)`` in stage order —
        computed from ONE aggregation job over the tagged frame."""
        tagged = self.apply(docs).persist()
        try:
            hist = dict(
                tagged.groupBy("fail_stage").agg(F.count("*").alias("n")).collect()
            )
            rows = []
            alive = sum(hist.values())
            for i, st in enumerate(self.stages):
                dead = hist.get(st.name, 0)
                rows.append(
                    (
                        i,
                        st.name,
                        alive,
                        dead,
                        alive - dead,
                        round((alive - dead) / alive, 9) if alive else 0.0,
                    )
                )
                alive -= dead
            lineage = tagged.sparkSession.createDataFrame(
                rows,
                "stage_idx int, stage string, rows_in long, rows_fail long, "
                "rows_out long, yield_frac double",
            )
            curated = tagged.where(F.col("fail_stage").isNull()).drop("fail_stage")
            # materialize both results off the persisted frame before unpersist
            curated = curated.localCheckpoint(eager=True)
        finally:
            tagged.unpersist()
        return curated, lineage


def gopher_stage(
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: dict | None = None,
) -> Keeper:
    """The Gopher A1 quality/repetition battery
    (:func:`quality_filters.gopher_filter`) as a pipeline stage. A
    Keeper, not a Gate: the repetition signals aggregate over exploded
    line/gram streams, so the verdict is set-computed — the stage runs
    the battery over the alive rows only and keeps ``gopher_pass``."""
    from crawl4ai_spark.operators.quality_filters import gopher_filter

    def keep(alive: DataFrame) -> DataFrame:
        return (
            gopher_filter(alive, id_col=id_col, text_col=text_col, thresholds=thresholds)
            .where(F.col("gopher_pass"))
            .select(F.col(id_col))
        )

    return Keeper("gopher_quality", keep)


def c4_gate(
    text_col: str = "text",
    min_line_words: int = 3,
    min_sentences: int = 5,
) -> Gate:
    """The C4 §2.2 document gate as a row-wise pipeline Gate (the keep
    verdict of :func:`quality_filters.c4_line_filter`, recomputed as one
    column expression so consecutive gates still fold into a single
    projection; equality with the battery's ``c4_keep`` is pinned by
    ``tests/test_pipeline.py``). Line-level CLEANING is a transform, not
    a filter — run ``c4_line_filter`` for the cleaned text itself."""
    from crawl4ai_spark.operators.quality_filters import _C4_TERMINALS, _lines

    def pred(df: DataFrame) -> Column:
        text = F.coalesce(F.col(text_col), F.lit(""))
        kept = F.filter(
            _lines(text),
            lambda l: F.substring(l, -1, 1).isin(list(_C4_TERMINALS))
            & (F.size(F.split(l, r"\s+")) >= min_line_words)
            & ~F.lower(l).contains("javascript"),
        )
        clean = F.array_join(kept, "\n")
        return (
            (~F.lower(text).contains("lorem ipsum"))
            & (~text.contains("{"))
            & (F.regexp_count(clean, F.lit(r"[.!?]")) >= min_sentences)
            & (F.size(kept) > 0)
        )

    return Gate("c4", pred)

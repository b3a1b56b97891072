"""CurationPipeline: single-pass funnel tagging + lineage accounting.

The pinned invariant: tag-then-count must equal the naive
filter-per-stage composition — same survivors, same per-stage removal
counts — while costing one aggregation job and zero per-gate shuffles.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.pipeline import CurationPipeline, Gate, Keeper


def _docs(spark):
    rows = [
        # (doc_id, text, quality)   — planted: dup pair 3/4, dup pair 6/7
        (0, "good english text here", 0.9),
        (1, "xx", 0.9),                      # fails min_len
        (2, "low quality junk words", 0.1),  # fails quality
        (3, "duplicate body alpha", 0.8),
        (4, "duplicate body alpha", 0.8),    # exact dup of 3 → dedup drops
        (5, None, 0.8),                      # NULL text → first gate rejects
        (6, "duplicate body beta", 0.05),    # fails quality BEFORE dedup
        (7, "duplicate body beta", 0.8),     # survives: its dup died earlier
        (8, "another fine document", 0.8),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, quality double")


def _stages():
    def exact_first(alive):
        return (
            alive.groupBy(F.md5("text").alias("m"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )

    return [
        Gate("min_len", lambda df: F.length("text") >= 5),
        Gate("quality", lambda df: F.col("quality") >= 0.5),
        Keeper("exact_dedup", exact_first),
        Gate("has_vowel", lambda df: F.col("text").rlike("[aeiou]")),
    ]


def _naive(docs):
    """Independent sequential filter composition + per-stage counts."""
    df = docs
    counts = []
    for st in _stages():
        n_in = df.count()
        if isinstance(st, Gate):
            df = df.where(F.coalesce(st.predicate(df), F.lit(False)))
        else:
            df = df.join(st.keep_ids(df).select("doc_id"), "doc_id", "left_semi")
        counts.append((st.name, n_in, df.count()))
    return df, counts


def test_pipeline_matches_naive_composition(spark):
    docs = _docs(spark)
    curated, lineage = CurationPipeline(_stages()).run(docs)
    naive_df, naive_counts = _naive(docs)
    assert sorted(r["doc_id"] for r in curated.collect()) == sorted(
        r["doc_id"] for r in naive_df.collect()
    )
    got = [
        (r["stage"], r["rows_in"], r["rows_out"])
        for r in lineage.orderBy("stage_idx").collect()
    ]
    assert got == naive_counts
    # survivors keep the original schema, no helper columns
    assert curated.columns == docs.columns


def test_fail_stage_is_first_rejector(spark):
    tagged = CurationPipeline(_stages()).apply(_docs(spark))
    fails = {r["doc_id"]: r["fail_stage"] for r in tagged.collect()}
    assert fails == {
        0: None,
        1: "min_len",
        2: "quality",
        3: None,
        4: "exact_dedup",
        5: "min_len",     # NULL text rejected by the FIRST gate, not later
        6: "quality",     # died before dedup …
        7: None,          # … so its duplicate survives the dedup stage
        8: None,
    }


def test_keeper_sees_only_alive_rows(spark):
    """doc 6 (dup of 7) fails quality first; if the keeper ran on the
    full frame it would keep min(6,7)=6 and kill 7. Lineage must show
    exact_dedup removing exactly one row (doc 4)."""
    _, lineage = CurationPipeline(_stages()).run(_docs(spark))
    row = {r["stage"]: r for r in lineage.collect()}["exact_dedup"]
    assert (row["rows_in"], row["rows_fail"], row["rows_out"]) == (5, 1, 4)


def test_lineage_is_conserved_and_yield_bounded(spark):
    _, lineage = CurationPipeline(_stages()).run(_docs(spark))
    rows = lineage.orderBy("stage_idx").collect()
    for a, b in zip(rows, rows[1:]):
        assert a["rows_out"] == b["rows_in"]
    for r in rows:
        assert r["rows_in"] - r["rows_fail"] == r["rows_out"]
        assert 0.0 <= r["yield_frac"] <= 1.0


def test_gate_only_pipeline_is_one_projection(spark):
    """Consecutive gates fold into a single map-only plan: no exchange,
    no Python."""
    gates = [s for s in _stages() if isinstance(s, Gate)]
    plan = (
        CurationPipeline(gates)
        .apply(_docs(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_stage_name_validation():
    with pytest.raises(ValueError):
        CurationPipeline([])
    with pytest.raises(ValueError):
        CurationPipeline([Gate("a", lambda df: F.lit(True)), Gate("a", lambda df: F.lit(True))])
    with pytest.raises(ValueError):
        CurationPipeline([Gate("", lambda df: F.lit(True))])


def test_reserved_prefix_input_column_raises(spark):
    """An input column named like the pipeline's own ``_cp_`` working
    columns would be hidden from keepers and dropped from the output, so
    ``apply`` (and ``run``) refuse it."""
    docs = _docs(spark).withColumn("_cp_note", F.lit("x"))
    pipe = CurationPipeline(_stages())
    for call in (pipe.apply, pipe.run):
        with pytest.raises(ValueError, match="_cp_note"):
            call(docs)
    # the prefix only: a column that merely contains it is fine
    assert "x_cp_note" in pipe.apply(docs.withColumnRenamed("_cp_note", "x_cp_note")).columns


@pytest.mark.parametrize("seed", [3, 17, 41])
def test_pipeline_random_funnels_match_naive(spark, seed):
    """Seeded random corpora × random gate thresholds / keeper placement —
    tag-then-filter must equal sequential filtering on every draw."""
    import random

    rng = random.Random(seed)
    rows = [
        (
            i,
            " ".join(
                rng.choice(["alpha", "beta", "gamma", "delta"])
                for _ in range(rng.randrange(0, 8))
            )
            or None,
            round(rng.random(), 3),
        )
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, quality double")
    qt = round(rng.uniform(0.2, 0.8), 3)
    lt = rng.randrange(1, 20)

    def mk_stages():
        gates = [
            Gate("quality", lambda df: F.col("quality") >= qt),
            Gate("min_len", lambda df: F.length("text") >= lt),
            Gate("has_alpha", lambda df: F.col("text").contains("alpha")),
        ]
        rng2 = random.Random(seed + 1)
        rng2.shuffle(gates)
        keeper = Keeper(
            "dedup",
            lambda alive: alive.groupBy(F.md5("text").alias("m"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"),
        )
        gates.insert(rng2.randrange(len(gates) + 1), keeper)
        return gates

    stages = mk_stages()
    curated, lineage = CurationPipeline(stages).run(docs)

    df = docs
    counts = []
    for st in stages:
        n_in = df.count()
        if isinstance(st, Gate):
            df = df.where(F.coalesce(st.predicate(df), F.lit(False)))
        else:
            df = df.join(st.keep_ids(df).select("doc_id"), "doc_id", "left_semi")
        counts.append((st.name, n_in, df.count()))
    assert sorted(r["doc_id"] for r in curated.collect()) == sorted(
        r["doc_id"] for r in df.collect()
    )
    got = [
        (r["stage"], r["rows_in"], r["rows_out"])
        for r in lineage.orderBy("stage_idx").collect()
    ]
    assert got == counts


def test_gate_only_pipeline_works_on_streams(spark, tmp_path):
    """Row-wise gates are stateless projections, so apply() composes with
    Structured Streaming unchanged; streamed survivors == batch."""
    import shutil

    src = tmp_path / "docs"
    src.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", src / "part-0.parquet"
    )
    batch_df = spark.read.parquet(str(src))
    gates = [
        Gate("nonempty", lambda df: F.length(F.trim("text")) > 0),
        Gate("short", lambda df: F.length("text") < 800),
    ]
    pipe = CurationPipeline(gates)
    want = {
        r["doc_id"]
        for r in pipe.apply(batch_df).where(F.col("fail_stage").isNull()).collect()
    }
    stream = spark.readStream.schema(batch_df.schema).parquet(str(src))
    out = pipe.apply(stream).where(F.col("fail_stage").isNull()).select("doc_id")
    q = (
        out.writeStream.format("memory")
        .queryName("pipe_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM pipe_stream").collect()}
    assert got == want and want


def test_prebuilt_stages_match_their_batteries(spark):
    """gopher_stage/c4_gate must select exactly the ids the standalone
    batteries pass — pins the adapters against drift. (Constructed
    corpus: the sf testdata has no sentence punctuation, so nothing
    there can pass C4 at any threshold.)"""
    from crawl4ai_spark.operators.quality_filters import c4_line_filter, gopher_filter
    from crawl4ai_spark.pipeline import c4_gate, gopher_stage

    rows = [
        (0, "This line has enough words to pass.\nAnd a second proper sentence here!\nA third one follows naturally.\nMore sentences keep arriving today.\nThe fifth sentence closes it out."),
        (1, "short.\nno."),                           # lines under min words
        (2, "This has a brace { and fails wholesale.\nOther sentences do not matter here.\nEven good ones like this.\nOr this one.\nOr this."),
        (3, "lorem ipsum dolor sit amet is boilerplate.\nReal sentences follow it.\nAnd more.\nAnd more.\nAnd more."),
        (4, "No terminal punctuation on this line\nnor on this one\nnor here"),
        (5, "Mixed content works fine sometimes.\njavascript must be removed here.\nBut the rest is acceptable prose.\nFour sentences then remain in place.\nHere is the fifth and final one.\nAnd a sixth for safety."),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    tagged = CurationPipeline([c4_gate()]).apply(docs)
    got = {r["doc_id"] for r in tagged.where(F.col("fail_stage").isNull()).collect()}
    want = {
        r["doc_id"] for r in c4_line_filter(docs).where(F.col("c4_keep")).collect()
    }
    assert got == want
    assert {0, 5} <= want and {1, 2, 3, 4, 6} & want == set()

    # gopher keeper == battery pass set on the real testdata text
    small = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 120)
    )
    tagged2 = CurationPipeline([gopher_stage()]).apply(small)
    got2 = {r["doc_id"] for r in tagged2.where(F.col("fail_stage").isNull()).collect()}
    want2 = {
        r["doc_id"] for r in gopher_filter(small).where(F.col("gopher_pass")).collect()
    }
    assert got2 == want2

    # the two compose: a c4-dead doc is tagged by the gate BEFORE the
    # gopher keeper's battery ever sees it
    both = CurationPipeline([c4_gate(), gopher_stage()]).apply(docs)
    fails = {r["doc_id"]: r["fail_stage"] for r in both.collect()}
    for d in (1, 2, 3, 4, 6):
        assert fails[d] == "c4"

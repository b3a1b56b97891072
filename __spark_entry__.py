"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship crawl-analytics pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` — operator inventory from SURVEY.md §2 +
the training-data-pipeline operators (dedup / similarity / text
analysis), each checked against DuckDB at sf0.01 by the driver.

Column-name contract: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver hash-compares sorted columns).
Float-summing columns are rounded on BOTH sides to absorb summation-order
differences between engines.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ──────────────────────────────────────────────────────────────────────────
# Flagship
# ──────────────────────────────────────────────────────────────────────────


def entry(spark: SparkSession) -> DataFrame:
    """Synthesize an HTML page per document (deterministic), run the full
    extraction UDF (links/markdown/head), and aggregate a per-language
    crawl-quality summary — the engine's extraction + analytics stack in
    one plan."""
    from crawl4ai_spark.extraction.udfs import udf_full_extract, lang_col
    from crawl4ai_spark.operators.textstats import quality_score_col, token_count_col

    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    pages = docs.select(
        F.col("doc_id"),
        F.col("lang"),
        F.concat(
            F.lit('<html lang="'), F.col("lang"), F.lit('"><head><title>doc '),
            F.col("doc_id").cast("string"), F.lit("</title></head><body><h1>doc "),
            F.col("doc_id").cast("string"), F.lit("</h1><p>"), F.col("text"),
            F.lit("</p></body></html>"),
        ).cast("binary").alias("html"),
        F.col("text"),
    )
    extracted = pages.select(
        "doc_id", "lang", "text",
        udf_full_extract("html", F.concat(F.lit("http://corpus.test/doc/"), F.col("doc_id"))).alias("ex"),
        lang_col(F.col("html")).alias("lang_extracted"),
    )
    return (
        extracted.withColumn("md_len", F.length("ex.markdown.raw_markdown"))
        .withColumn("quality", quality_score_col(F.col("text")))
        .withColumn("n_tokens", token_count_col(F.col("text")))
        .withColumn("lang_ok", (F.col("lang") == F.col("lang_extracted")).cast("int"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("md_len"), 4).alias("avg_markdown_len"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.sum("lang_ok").alias("n_lang_roundtrip_ok"),
        )
        .orderBy("lang")
    )


# ──────────────────────────────────────────────────────────────────────────
# queries() — each with a matching oracle_sql() entry unless noted
# ──────────────────────────────────────────────────────────────────────────


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


def _q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact ⋈ broadcast(dim) with the date range pushed
    to the parquet scan — the canonical star-join plan (BroadcastHashJoin,
    no shuffle of lineitem)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-09-01"))
            & (F.col("l_shipdate") < F.lit("1996-09-01"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
                / F.sum(disc),
                4,
            ).alias("promo_revenue_pct")
        )
    )


def _q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact ⋈ broadcast(supplier ⋈ nation ⋈ region) —
    the dim chain collapses into one broadcast before touching the fact,
    so lineitem is never shuffled."""
    li = _read(spark, sf_dir, "lineitem")
    supplier = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    dims = (
        supplier.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "n_name", "r_name")
    )
    return (
        li.join(F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def _q_star_join_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 + Q5 shapes in one driver row (registry consolidation:
    both legs keep their exact oracle arm via UNION ALL): promo revenue
    pct (fact ⋈ broadcast(part), date range pushed to the scan) and
    per-region revenue (fact ⋈ broadcast(supplier⋈nation⋈region)) — in
    both plans lineitem is never shuffled."""
    promo = _q_promo_revenue(spark, sf_dir).select(
        F.lit("promo_pct").alias("kind"),
        F.lit(None).cast("string").alias("r_name"),
        F.lit(None).cast("string").alias("n_name"),
        F.col("promo_revenue_pct").alias("metric"),
        F.lit(None).cast("long").alias("n_items"),
    )
    region = _q_region_revenue(spark, sf_dir).select(
        F.lit("region_revenue").alias("kind"),
        "r_name",
        "n_name",
        F.col("revenue").alias("metric"),
        "n_items",
    )
    return promo.unionByName(region)


def _q_lm_logscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff trigram LM scoring (Brants et al. 2007) over the
    documents table, model trained on the corpus itself — the standard
    model-based quality signal next to the Gopher/C4 rule batteries
    (operators/lm_score.py; counts = hash aggs, scoring = distributed
    hash joins, no broadcast of the gram tables)."""
    from crawl4ai_spark.operators.lm_score import stupid_backoff_scores

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return stupid_backoff_scores(docs)


def _q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rk")
    )


def _q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def _q_first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        events.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


def _q_relational_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three relational shapes in one driver row — per-key window top-k
    (orders), anti-join (customers with no orders), argmin-per-key
    (first event per user) — schemas harmonized into a tagged union so
    each leg keeps its exact oracle arm (UNION ALL in the SQL twin).
    Merged to hold the registry at the driver's 50-row evaluation cap;
    bench.py still times the legs individually."""
    topk = _q_topk_orders_per_customer(spark, sf_dir).select(
        F.lit("topk_orders").alias("leg"),
        F.col("o_custkey").alias("k1"),
        F.col("o_orderkey").alias("k2"),
        F.col("totalprice").alias("num"),
        F.col("rk").cast("int").alias("rk"),
        F.lit(None).cast("string").alias("s"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    noord = _q_customers_without_orders(spark, sf_dir).select(
        F.lit("no_orders").alias("leg"),
        F.col("c_custkey").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.lit(None).cast("double").alias("num"),
        F.lit(None).cast("int").alias("rk"),
        F.col("c_name").alias("s"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    first = _q_first_event_per_user(spark, sf_dir).select(
        F.lit("first_event").alias("leg"),
        F.col("user_id").alias("k1"),
        F.col("event_id").alias("k2"),
        F.lit(None).cast("double").alias("num"),
        F.lit(None).cast("int").alias("rk"),
        F.col("event_type").alias("s"),
        F.col("ts"),
    )
    return topk.unionByName(noord).unionByName(first)


# bpe_tokenize contract constants — shared by the Spark query and the
# offline oracle trainer so the two learn the identical merge table.
_BPE_N_MERGES = 64
_BPE_MAX_WORDS = 50_000


def _q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit a BPE vocabulary on the corpus and re-tokenize it: per-doc
    (n_words, n_pieces) under the learned merge table (operators/bpe.py;
    the corpus-sized passes are hash aggs, Python runs only on the
    deduplicated vocabulary via one Arrow-batched mapInPandas, piece
    counts broadcast back). The reference counts tokens for budgeting
    (crawl4ai/utils.py chunk token estimators) but never fits a
    vocabulary; a training-data pipeline does."""
    from crawl4ai_spark.operators.bpe import bpe_tokenize_stats, bpe_train

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_train(docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS)
    return bpe_tokenize_stats(docs, merges)


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


def _q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) + per-session rollup — the
    standard web-log grouping (operators/sessions.py; one hash shuffle on
    user, window sort partition-local, no global window)."""
    from crawl4ai_spark.operators.sessions import session_stats

    events = _read(spark, sf_dir, "events")
    return session_stats(events).select(
        "user_id",
        "session_seq",
        "session_start",
        "session_end",
        "n_events",
        F.round("duration_s", 4).alias("duration_s"),
        "n_event_types",
    )


def _q_events_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_hourly + session_stats as one tagged-union battery (merged
    to free a registry slot under the driver's 50-row cap; each leg keeps
    its exact oracle arm in the UNION ALL twin)."""
    hourly = _q_events_hourly(spark, sf_dir).select(
        F.lit("hourly").alias("leg"),
        F.col("event_type").alias("etype"),
        F.lit(None).cast("long").alias("uid"),
        F.lit(None).cast("long").alias("seq"),
        F.col("hour").alias("t1"),
        F.lit(None).cast("timestamp").alias("t2"),
        F.col("n_events").alias("n"),
        F.col("avg_value").alias("num"),
        F.lit(None).cast("long").alias("n2"),
    )
    sess = _q_session_stats(spark, sf_dir).select(
        F.lit("session").alias("leg"),
        F.lit(None).cast("string").alias("etype"),
        F.col("user_id").alias("uid"),
        F.col("session_seq").alias("seq"),
        F.col("session_start").alias("t1"),
        F.col("session_end").alias("t2"),
        F.col("n_events").alias("n"),
        F.col("duration_s").alias("num"),
        F.col("n_event_types").alias("n2"),
    )
    return hourly.unionByName(sess)


_QC_BUCKETS = 512
_QC_SAMPLE = 400
_QC_ITERS = 200


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality-classifier filtering (GPT-3 appendix A / the LLaMA
    CCNet classifier; operators/quality_classifier.py): logistic
    regression fit on a bounded hash-ordered sample (positive = the
    lang='en' reference slice), distributed fixed-order-fold scoring, and
    the published Pareto(9) re-inclusion rule. The oracle retrains
    bit-identical weights offline from the same sample via the shared
    featurize/lr_train core and re-derives scoring + selection in SQL."""
    from crawl4ai_spark.operators.quality_classifier import (
        fit_quality_classifier,
        pareto_select,
        score_quality,
    )

    docs = _read(spark, sf_dir, "documents")
    w, b = fit_quality_classifier(
        docs,
        F.col("lang") == "en",
        n_buckets=_QC_BUCKETS,
        sample=_QC_SAMPLE,
        iters=_QC_ITERS,
    )
    return pareto_select(score_quality(docs, w, b), alpha=9.0, seed="qc")


def _q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase per user
    (operators/sessions.py:funnel_steps — chained conditional min-aggs,
    co-partitioned joins, no windows)."""
    from crawl4ai_spark.operators.sessions import funnel_steps

    events = _read(spark, sf_dir, "events")
    return funnel_steps(events, ["view", "click", "purchase"])


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash document fingerprints over the
    corpus — k=5 word grams, window 4 (operators/textstats.py)."""
    from crawl4ai_spark.operators.textstats import winnow_fingerprints

    docs = _read(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=5, window=4)


def _q_politeness_rank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host budget rank analog (SURVEY §2.4) on the events table."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        events.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("user_id", "event_id", F.round("value", 2).alias("value"), "rk")
    )


def _q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_spark.operators.dedup import exact_duplicate_groups

    docs = _read(spark, sf_dir, "documents")
    return exact_duplicate_groups(docs).select(
        "content_md5", "n_dups", F.element_at("doc_ids", 1).alias("min_doc_id")
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token budget + char length + GPT-2 pre-tokenizer
    (BPE-ish) token budget + composite quality score + stopword-panel
    language ID per doc — all JVM regex/array ops, map-only (the former
    bpe_token_counts, quality_scores and langid_heuristic queries are
    folded in as columns so every registry entry fits the driver's
    50-row correctness cap; per-doc lang_pred is a STRICTLY stronger
    check than the old confusion-matrix rollup)."""
    from crawl4ai_spark.operators.textstats import (
        bpe_token_count_col,
        langid_best,
        quality_score_col,
        token_count_col,
    )

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        F.length("text").alias("text_chars"),
        bpe_token_count_col(F.col("text")).alias("n_bpe_tokens"),
        quality_score_col(F.col("text")).alias("quality"),
        langid_best(F.col("text")).alias("lang_pred"),
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk example assembly): documents
    concatenated in md5-shuffled order, token stream cut every 512
    tokens; returns the (chunk, doc-slice) assembly map. Scale: global
    stream offsets via 256 ordered key buckets + a ≤256-row prefix frame,
    per-row running sum windowed at BUCKET grain (never one corpus-wide
    task) — operators/sampling.py."""
    from crawl4ai_spark.operators.sampling import pack_sequences

    docs = _read(spark, sf_dir, "documents")
    return pack_sequences(docs, 512)


def _q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    bucket counts (portable md5-top-52-bit bucket), smoothed log-ratio
    importance of every document toward the English-subset target
    distribution, global top-200. Scale: two hash-agg passes over the
    exploded gram stream, a B-row broadcast ratio table, and a
    TakeOrderedAndProject top-k — no window, no full sort
    (operators/sampling.py)."""
    from crawl4ai_spark.operators.sampling import dsir_select

    docs = _read(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    return dsir_select(docs, target, 200, n_buckets=1024).select("doc_id", "logw")


def _q_term_df_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_spark.operators.textstats import term_frequencies

    docs = _read(spark, sf_dir, "documents")
    return term_frequencies(docs).orderBy(F.desc("df"), F.asc("term")).limit(20)


def _q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.3)


def _q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate near-dup pairs via banded MinHash, exact-verified.
    Precision 1.0 by construction (exact Jaccard re-check on every
    candidate); at the corpus's actual near-dup similarities (J ≥ 0.9)
    the 16-band × 4-row miss probability is < 1e-8 per pair, so the
    exact n-gram-Jaccard SQL is a legitimate equality oracle (see
    _lsh_precision_oracles)."""
    from crawl4ai_spark.operators.dedup import minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, n=3, k=64, bands=16, threshold=0.3)


def _q_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates. Full equality oracle: the token hash
    is the cross-engine md5-low-64, so the whole signature + pigeonhole
    banding + hamming verify unrolls in SQL (``_simhash_oracle_sql``)."""
    from crawl4ai_spark.operators.dedup import simhash_candidate_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_candidate_pairs(docs, max_hamming=3)


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_spark.operators.similarity import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return cosine_topk(emb, list(query), k=10, round_to=4)


def _q_cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH embedding near-dup pairs, exact-verified —
    the scale path for which cosine_pairs_above is the all-pairs
    baseline (the former cosine_pairs registry entry shared this exact
    all-pairs oracle, so it was folded into this row to fit the
    driver's 50-entry cap; the brute-force operator stays pinned by
    tests/test_operators.py's exact-vs-LSH set equality).
    Precision 1.0 by construction (every candidate re-checked against
    the true cosine); 32 bands × 2 planes puts the per-pair miss
    probability at cos ≥ 0.35 below 3e-7, so the exact all-pairs SQL is
    a legitimate equality oracle (see _lsh_precision_oracles)."""
    from crawl4ai_spark.operators.similarity import cosine_neardup_lsh_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return cosine_neardup_lsh_pairs(
        emb, threshold=0.35, bands=32, planes_per_band=2, round_to=4
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style kept set. The k-means cells are deterministic
    (id-hash-ordered sample, seeded Lloyd's), so the oracle recomputes
    the centroid matrix offline, exports it as SQL literals and unrolls
    assignment + the upper-triangular drop rule
    (``_semantic_dedup_oracle_sql``); pytest separately pins the kept set
    vs a numpy recomputation."""
    from crawl4ai_spark.operators.similarity import semantic_dedup

    emb = _read(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=16, threshold=0.35).select("vec_id")


def _q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k. Full equality oracle: the seeded
    Gaussian planes are exported as SQL literals and the probe-bucket set
    recomputed by the oracle builder (``_ann_topk_lsh_oracle_sql``);
    pytest separately checks recall against brute force."""
    from crawl4ai_spark.operators.similarity import ann_topk_lsh

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return ann_topk_lsh(emb, list(query), k=10, n_planes=10, probe_hamming=2)


def _q_ann_topk_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k and the LSH multi-probe ANN in one
    method-labeled row (merged to free a slot under the driver's
    50-entry cap — each leg keeps its exact oracle arm in the UNION
    ALL; IVF keeps its own row since its centroids machinery differs)."""
    brute = _q_cosine_topk(spark, sf_dir).select(
        F.lit("brute").alias("method"), "vec_id", "cosine_sim"
    )
    lsh = _q_ann_topk_lsh(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "vec_id", "cosine_sim"
    )
    return brute.unionByName(lsh)


def _q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page PDF text/link/metadata extraction (the reference's
    processors/pdf NaivePDFProcessorStrategy surface, re-specified as a
    clean-room stdlib parser — extraction/pdf.py). The fixture PDFs are
    deterministic (valid xref, FlateDecode streams, hex-string and
    uncompressed variants, URI annots, one poison row, and RC4-encrypted
    variants — Standard Security Handler /V 1-2 with an empty user
    password, which parse_pdf decrypts transparently to byte-identical
    content), so the oracle re-derives every page's text/link
    analytically from (doc_id, seed); pages explode through one Arrow
    mapInPandas pass."""
    from crawl4ai_spark.extraction.pdf import extract_pdf_pages, synth_pdf

    rows = []
    for i in range(24):
        if i % 8 == 7:  # poison: truncated stream
            payload = synth_pdf(2, seed=i)[:200]
        else:
            payload = synth_pdf(
                n_pages=1 + i % 4,
                seed=i,
                compress=i % 3 != 1,
                hex_strings=i % 8 == 2,
                with_links=i % 5 != 4,
                # empty-user-password encryption decrypts to identical
                # output, so the unchanged oracle also pins the RC4 and
                # AES decryption paths (one aes-256 doc: the R6 hash
                # costs ~1s/doc by design — pure-stdlib AES)
                encrypt="aes-256"
                if i == 4
                else {3: "rc4-40", 5: "rc4-128", 1: "aes-128"}.get(i % 6),
            )
        rows.append((i, bytearray(payload)))
    pdfs = spark.createDataFrame(rows, "doc_id long, payload binary").repartition(8)
    out = extract_pdf_pages(pdfs)
    return out.select(
        "doc_id",
        "page_number",
        "text",
        F.array_join("links", " ").alias("links_joined"),
        "n_pages",
        "title",
        "producer",
        F.col("decode_ok").cast("int").alias("decode_ok"),
    )


def _q_ccnet_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet corpus curation (Wenzek 2020): corpus-wide paragraph dedup →
    language gate → Stupid-Backoff LM scoring → per-language head/middle/
    tail perplexity buckets (operators/ccnet.py). The flat synthetic docs
    get deterministic paragraph structure first — a newline after every
    8th word, the same regex the SQL oracle applies — so the driver row
    exercises real multi-paragraph dedup + byte-exact reconstruction
    (pinned by dedup_md5). The standalone per-doc language-ID check lives
    in token_stats' lang_pred column."""
    from crawl4ai_spark.operators.ccnet import ccnet_pipeline

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", r"((?:\S+ ){8})", "$1\n").alias("text"),
    )
    return ccnet_pipeline(docs)




def _q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crawl4ai_spark.operators.bm25 import bm25_scores

    docs = _read(spark, sf_dir, "documents")
    return bm25_scores(docs, ["table", "scan", "join", "merge"])


def _q_chunking_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length, sliding-window, token-budget, and sentence chunking
    in one multi-kind row (the single-kind registry entries merged to fit
    the driver's 50-entry correctness cap — each leg keeps its own exact
    DuckDB oracle arm in the UNION ALL). All four are map-only column
    algebra; the union is narrow, so the combined plan stays zero-shuffle."""
    from crawl4ai_spark.operators.chunking import (
        fixed_length_word_chunking,
        sentence_chunking,
        sliding_window_chunking,
        token_budget_chunking,
    )

    docs = _read(spark, sf_dir, "documents")
    legs = [
        ("fixed", fixed_length_word_chunking(docs, chunk_size=20)),
        ("sliding", sliding_window_chunking(docs, window_size=30, step=15)),
        ("token", token_budget_chunking(docs, chunk_token_threshold=64, overlap=16)),
        ("sentence", sentence_chunking(docs)),
    ]
    out = None
    for kind, df in legs:
        leg = df.select("doc_id", F.lit(kind).alias("kind"), "chunk_index", "chunk")
        out = leg if out is None else out.unionAll(leg)
    return out


def _event_url_col():
    return F.concat(
        F.lit("http://h"), F.col("user_id").cast("string"), F.lit(".test/"),
        F.col("event_type"), F.lit("/"),
        F.when(F.col("event_id") % 4 == 0, F.lit("2021/")).otherwise(F.lit("")),
        F.lit("e"), F.col("event_id").cast("string"),
        F.when(F.col("event_id") % 5 == 0, F.lit(".html"))
        .when(F.col("event_id") % 7 == 0, F.lit(".pdf"))
        .otherwise(F.lit("")),
    )


def _q_url_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL scorer + filter compilers (SURVEY §2.10) over synthesized URLs."""
    from crawl4ai_spark.operators.filters import (
        TEXT_EXTENSIONS,
        compile_content_type_filter,
        compile_pattern_filter,
    )
    from crawl4ai_spark.operators.scorers import freshness_scorer, path_depth_scorer

    events = _read(spark, sf_dir, "events")
    url = _event_url_col()
    base = events.select(F.col("event_id"), url.alias("url"))
    return base.select(
        "event_id",
        "url",
        F.round(path_depth_scorer(3, 1.0)(F.col("url")), 6).alias("depth_score"),
        F.round(freshness_scorer(2026, 1.0)(F.col("url")), 6).alias("freshness_score"),
        compile_content_type_filter(TEXT_EXTENSIONS)(F.col("url")).alias("ctype_ok"),
        compile_pattern_filter(["*.html"])(F.col("url")).alias("is_html"),
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over the FULL fixture incl. the odd-id opaque
    payloads (rows-only: sha256/byte-level outputs exercise the
    poison-tolerance fallback path, not SQL-recomputable)."""
    from crawl4ai_spark.operators.multimodal import extract_media_features, synth_media_table

    media = synth_media_table(spark, 64)
    return extract_media_features(media).select(
        "media_id", "kind", "n_bytes", "sha256", "decode_ok"
    )


def _q_media_features_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec decode features on the even-id rows, whose payloads are
    REAL deterministic PNG / PCM WAV / y4m bytes generated from closed-
    form parameters (multimodal.synth_media_table) — so width / height /
    duration / frame-count are exactly recomputable by the oracle from
    the id alone: the engine path goes bytes → stdlib codec → features,
    the oracle re-derives the same numbers analytically in SQL."""
    from crawl4ai_spark.operators.multimodal import extract_media_features, synth_media_table

    media = synth_media_table(spark, 64).where(F.col("media_id") % 2 == 0)
    feats = extract_media_features(media)
    e = lambda i: F.element_at("features", i).cast("double")  # noqa: E731
    img_or_vid = F.col("kind").isin("image", "video")
    return feats.select(
        "media_id",
        "kind",
        F.col("decode_ok").cast("int").alias("decode_ok"),
        F.when(img_or_vid, e(1)).alias("width"),
        F.when(img_or_vid, e(2)).alias("height"),
        F.when(F.col("kind") == "audio", e(4)).alias("duration_ms"),
        # audio: PCM sample count; video: stride-2 sampled frame count
        F.when(F.col("kind") != "image", e(3)).alias("n_units"),
    )




def _q_llm_extract_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM extraction orchestration (SURVEY §2.8 LLMExtractionStrategy;
    rows-only: the model is the deterministic contract-faithful fake —
    this env has no LLM service — while the Spark plumbing, token-budget
    chunk merge, prompt construction, and response-parse ladder are real
    and pytest-pinned in tests/test_llm_extract.py)."""
    from crawl4ai_spark.extraction.llm_extract import (
        llm_extract,
        rule_based_completion_factory,
    )

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 100)
    )
    out = llm_extract(
        docs,
        rule_based_completion_factory,
        content_col="text",
        url_col=None,
        extraction_type="block",
        chunk_token_threshold=256,
        overlap_rate=0.1,
        word_token_rate=1.0,
    )
    blocks = F.from_json(
        "extracted_content",
        "array<struct<index:int,tags:array<string>,content:string,error:boolean>>",
    )
    return out.select(
        "doc_id",
        F.col("llm_usage.chunks").alias("n_chunks"),
        F.size(blocks).alias("n_blocks"),
        F.substring(F.element_at(blocks, 1).getField("content"), 1, 40).alias(
            "first_block_prefix"
        ),
    )


def _q_table_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction round-trip: render nation rows into per-region
    HTML tables, extract them back with the table operator (SURVEY §2.5)."""
    from crawl4ai_spark.extraction.tables import udf_extract_tables

    nation = _read(spark, sf_dir, "nation")
    row_html = F.concat(
        F.lit("<tr><td>"), F.col("n_name"), F.lit("</td><td>"),
        F.col("n_regionkey").cast("string"), F.lit("</td></tr>"),
    )
    per_region = nation.groupBy("n_regionkey").agg(
        F.concat_ws("", F.sort_array(F.collect_list(row_html))).alias("body")
    )
    html = per_region.select(
        F.concat(
            F.lit("<table><thead><tr><th>name</th><th>region</th></tr></thead><tbody>"),
            F.col("body"), F.lit("</tbody></table>"),
        ).alias("html")
    )
    tables = html.select(F.explode(udf_extract_tables("html")).alias("t"))
    return tables.select(F.explode("t.rows").alias("r")).select(
        F.col("r")[0].alias("n_name"), F.col("r")[1].alias("n_regionkey")
    )




def _q_link_intrinsic_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link intrinsic scoring (SURVEY §2.5, utils.py:3344-3456) end to
    end through the scrape UDF: one anchor per page whose text / title /
    class / path derive from doc_id; the oracle recomputes the scoring
    formula arithmetically from doc_id."""
    from crawl4ai_spark.extraction.udfs import udf_scrape

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    did = F.col("doc_id").cast("string")
    text = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("spark guide tutorial words"))
        .when(F.col("doc_id") % 3 == 1, F.lit("click here"))
        .otherwise(F.lit("ok"))
    )
    title_attr = F.when(F.col("doc_id") % 2 == 0, F.lit(' title="full docs title"')).otherwise(F.lit(""))
    class_attr = F.when(F.col("doc_id") % 5 == 0, F.lit(' class="nav-item"')).otherwise(F.lit(""))
    path = F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("/docs/p"), did)).otherwise(
        F.concat(F.lit("/p"), did)
    )
    html = F.concat(
        F.lit("<html><head><title>spark guide corpus page</title></head><body><h1>spark guide corpus page</h1><p>intro</p>"
              '<a href="http://corpus.test'), path, F.lit('"'), title_attr, class_attr,
        F.lit(">"), text, F.lit("</a></body></html>"),
    )
    pages = docs.select(
        "doc_id",
        html.cast("binary").alias("html"),
        F.concat(F.lit("http://corpus.test/doc/"), did).alias("url"),
    )
    ex = pages.select("doc_id", F.explode(udf_scrape("html", "url").getField("links").getField("internal")).alias("l"))
    return ex.where(F.col("l.href").contains("/p")).select(
        "doc_id",
        F.col("l.href").alias("href"),
        F.round(F.col("l.intrinsic_score"), 4).alias("intrinsic_score"),
    )


def _q_link_contextual_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-link contextual BM25 + the 0.7/0.3 total blend (SURVEY §2.5 /
    utils.py:3459-3504, link_preview.py:314-331) end to end through the
    query-bound scrape UDF: 3 anchors per page, exactly one containing
    the query term, so Okapi scores min-max-normalize to {1.0, 0.0} and
    the oracle recomputes contextual + blend arithmetically."""
    from crawl4ai_spark.extraction.udfs import make_scrape_udf

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    did = F.col("doc_id").cast("string")
    texts = ["spark handbook guide", "other filler words", "plain boring anchor"]

    def anchor(j: int):
        text = (
            F.when(F.col("doc_id") % 3 == j, F.lit(texts[0]))
            .when((F.col("doc_id") + 1) % 3 == j, F.lit(texts[1]))
            .otherwise(F.lit(texts[2]))
        )
        return F.concat(
            F.lit('<a href="http://corpus.test/p'), did, F.lit(f"x{j}"), F.lit('">'),
            text, F.lit("</a>"),
        )

    html = F.concat(
        F.lit("<html><head><title>corpus page listing</title></head><body><p>intro paragraph text</p>"),
        anchor(0), anchor(1), anchor(2), F.lit("</body></html>"),
    )
    pages = docs.select(
        "doc_id",
        html.cast("binary").alias("html"),
        F.concat(F.lit("http://corpus.test/doc/"), did).alias("url"),
    )
    udf = make_scrape_udf(query="spark")
    ex = pages.select(
        "doc_id", F.explode(udf("html", "url").getField("links").getField("internal")).alias("l")
    )
    return ex.select(
        "doc_id",
        F.col("l.href").alias("href"),
        F.round(F.col("l.intrinsic_score"), 4).alias("intrinsic_score"),
        F.round(F.col("l.contextual_score"), 4).alias("contextual_score"),
        F.round(F.col("l.total_score"), 4).alias("total_score"),
    )


def _q_link_score_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of the intrinsic-attribute battery and the contextual-BM25
    battery (separate registry rows through round 4; merged so every
    operator keeps a driver CORRECTNESS row under the 50-entry cap —
    intrinsic-only rows carry NULL contextual/total)."""
    a = _q_link_intrinsic_scores(spark, sf_dir).select(
        "doc_id",
        "href",
        "intrinsic_score",
        F.lit(None).cast("double").alias("contextual_score"),
        F.lit(None).cast("double").alias("total_score"),
    )
    return a.unionByName(_q_link_contextual_scores(spark, sf_dir))


def _q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling (LLM pre-training data mixing): per-source token
    budgets over the md5-ranked document order; keep while the PRIOR
    cumulative whitespace-token count is strictly under budget. Scale
    path: 256 ordered hash buckets, prefix offsets on the tiny
    (source × bucket) frame, running-sum window only over the ≤1
    boundary bucket per source (operators/sampling.py). Three legs:
    the fixed-budget sample, the TEMPERATURE-derived (alpha=0.5,
    XLM-R/mT5 re-balancing) budget table itself, and the sample those
    budgets select — the oracle recomputes the sqrt-share budgets in
    SQL (floor-to-granularity makes them engine-exact) and re-runs the
    selection window under them."""
    from crawl4ai_spark.operators.sampling import (
        temperature_budgets,
        token_budget_sample,
    )

    docs = _read(spark, sf_dir, "documents")
    budgets = {"src0": 400, "src1": 400, "src2": 5000, "src3": 5000}
    out = token_budget_sample(docs, budgets, default_budget=900)
    tb = temperature_budgets(docs, total_tokens=6000, alpha=0.5, granularity=8)
    temp = token_budget_sample(docs, tb)
    nl = F.lit(None).cast("long")
    return (
        out.select(
            F.lit("fixed").alias("kind"), "doc_id", "source", "n_tokens"
        )
        .unionAll(
            docs.sparkSession.createDataFrame(
                sorted(tb.items()), "source string, budget long"
            ).select(
                F.lit("temp_budget").alias("kind"),
                nl.alias("doc_id"),
                "source",
                F.col("budget").alias("n_tokens"),
            )
        )
        .unionAll(
            temp.select(
                F.lit("temp").alias("kind"), "doc_id", "source", "n_tokens"
            )
        )
    )


def _q_link_preview_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed link preview (SURVEY §2.5 / link_preview.py:190-331):
    join the link batch to the pages table (the "HEAD fetch"), extract
    head text, Okapi-BM25 it against the query with full corpus
    statistics (df over the whole vocabulary, ε-floored negative IDFs —
    deliberately triggered: 'alpha' appears in >half the corpus), min-max
    normalize, blend 0.7/0.3 with a per-link intrinsic score. The oracle
    recomputes the entire BM25Okapi pipeline in SQL."""
    from crawl4ai_spark.operators.link_preview import link_preview_scores

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    did = F.col("doc_id").cast("string")
    title = F.when(F.col("doc_id") % 2 == 0, F.lit("alpha guide")).otherwise(
        F.lit("beta manual")
    )
    desc = F.when(F.col("doc_id") % 3 == 0, F.lit("gamma alpha notes")).otherwise(
        F.lit("delta notes")
    )
    url = F.concat(F.lit("http://corpus.test/t"), did)
    html = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit('</title><meta name="description" content="'), desc,
        F.lit('"></head><body>x</body></html>'),
    )
    pages = docs.select(url.alias("url"), html.cast("binary").alias("html"))
    links = docs.select(
        url.alias("href"), (F.col("doc_id") % 5).cast("double").alias("intrinsic_score")
    )
    out = link_preview_scores(
        links, pages, "alpha gamma", intrinsic_col="intrinsic_score"
    )
    return out.select(
        "href",
        "intrinsic_score",
        F.round("contextual_score", 6).alias("contextual_score"),
        F.round("total_score", 6).alias("total_score"),
    )


def _q_cache_revalidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smart-cache validation (SURVEY §2.1 / cache_validator semantics):
    head-fingerprint change detection over cached-vs-current snapshots.
    Docs <30 are uncached (new); every third doc changes its title
    (stale); the rest change only their body (fresh — body changes don't
    touch the head fingerprint)."""
    from crawl4ai_spark.operators.cache import head_fingerprint_col, revalidate

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    did = F.col("doc_id").cast("string")

    def page(title_suffix, body):
        return F.concat(
            F.lit("<html><head><title>doc "), did, title_suffix,
            F.lit('</title><meta name="description" content="desc '), did,
            F.lit('"></head><body>'), body, F.lit("</body></html>"),
        )

    cached = docs.where(F.col("doc_id") >= 30).select(
        F.concat(F.lit("http://corpus.test/doc/"), did).alias("url"),
        head_fingerprint_col(page(F.lit(""), F.lit("old body"))).alias("head_fingerprint"),
    )
    current = docs.select(
        F.concat(F.lit("http://corpus.test/doc/"), did).alias("url"),
        head_fingerprint_col(
            page(
                F.when(F.col("doc_id") % 3 == 0, F.lit(" v2")).otherwise(F.lit("")),
                F.lit("new body entirely"),
            )
        ).alias("head_fingerprint"),
    )
    return revalidate(cached, current).select("url", "cache_status")


def _q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling (operators/recrawl.py): Cho & Garcia-Molina
    bias-corrected change-rate estimation + Poisson staleness probability
    over a deterministic synthetic visit history (the output shape of
    ``cache_revalidation`` iterated over time). Docs get 1..5 visits on a
    per-doc cadence of 1..7 hours; a visit observed a change when
    (doc_id*7 + j*j) % 3 == 0. The oracle recomputes the closed form."""
    from crawl4ai_spark.operators.recrawl import change_rate_estimates

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    n = (F.lit(1) + F.col("doc_id") % 5).alias("n")
    j = F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("j")
    ts_s = (
        F.col("doc_id") * F.lit(13.0)
        + F.col("j") * F.lit(3600.0) * (F.lit(1) + F.col("doc_id") % 7)
    )
    visits = (
        docs.select("doc_id", n)
        .select("doc_id", "n", j)
        .select(
            F.concat(F.lit("http://corpus.test/doc/"), F.col("doc_id").cast("string")).alias("url"),
            F.timestamp_seconds(ts_s).alias("visit_ts"),
            ((F.col("doc_id") * 7 + F.col("j") * F.col("j")) % 3 == 0).alias("changed"),
        )
    )
    return change_rate_estimates(visits)


def _q_schema_extract_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested JsonCss extraction (SURVEY §2.8): render region→nation HTML,
    extract with a nested_list schema, emit one sorted-key JSON record per
    region; the oracle rebuilds the identical JSON strings in SQL."""
    from crawl4ai_spark.extraction.schema_extract import schema_extract_json_udf

    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    li = F.struct(
        F.col("n_nationkey"),
        F.concat(
            F.lit('<li class="nation" data-key="'),
            F.col("n_nationkey").cast("string"),
            F.lit('">'), F.col("n_name"), F.lit("</li>"),
        ).alias("html"),
    )
    per_region = (
        nation.groupBy("n_regionkey")
        .agg(F.sort_array(F.collect_list(li)).alias("lis"))
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            "r_regionkey",
            F.concat(
                F.lit('<div class="region"><h2>'), F.col("r_name"), F.lit("</h2><ul>"),
                F.concat_ws("", F.transform("lis", lambda x: x.getField("html"))),
                F.lit("</ul></div>"),
            ).alias("html"),
        )
    )
    schema = {
        "baseSelector": "div.region",
        "fields": [
            {"name": "name", "selector": "h2", "type": "text"},
            {
                "name": "nations",
                "type": "nested_list",
                "selector": "li.nation",
                "fields": [
                    {"name": "key", "type": "attribute", "attribute": "data-key"},
                    {"name": "name", "type": "text"},
                ],
            },
        ],
    }
    udf = schema_extract_json_udf(schema)
    return per_region.select(
        "r_regionkey", F.explode(udf("html")).alias("record")
    )


def _q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2021): duplicated sliding
    15-token windows keep only the corpus-global first occurrence; all
    other sites' covered tokens are deleted (operators/dedup.py
    exact_substring_dedup — distributed hash-gram re-expression of the
    paper's suffix-array formulation)."""
    from crawl4ai_spark.operators.dedup import exact_substring_dedup

    docs = _read(spark, sf_dir, "documents")
    return exact_substring_dedup(docs, min_tokens=15).select(
        F.col("id").alias("doc_id"), "dedup_text", "n_tokens", "n_tokens_kept"
    )


_CATALOG_LABELS = (
    "email", "url", "ipv4", "uuid", "currency", "percentage",
    "date_iso", "time_24h", "html_color_hex", "mac_addr",
)


def _catalog_text_col():
    """Deterministic per-event text hitting 10 catalog patterns; the
    oracle reconstructs the identical string in SQL."""
    i = F.col("event_id")
    s = lambda e: e.cast("string")  # noqa: E731
    return F.concat(
        F.lit("ping a"), s(i % 50), F.lit("@mail"), s(i % 7), F.lit(".com via https://ex"),
        s(i % 9), F.lit(".com/p?q="), s(i), F.lit(" from 10.0."), s(i % 256), F.lit("."),
        s(i % 113), F.lit(" uuid 123e4567-e89b-42d3-a456-4266141740"),
        F.lpad(s(i % 100), 2, "0"), F.lit(" pay $"), s(i % 90), F.lit(".25 rate "),
        s(i % 100), F.lit(".5% on 2026-0"), s(1 + i % 9), F.lit("-1"), s(i % 10),
        F.lit(" at 1"), s(i % 10), F.lit(":4"), s(i % 6), F.lit(" color #a1b2c"),
        s(i % 10), F.lit(" mac aa:bb:cc:dd:ee:f"), s(i % 10),
    )


def _q_regex_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 21-pattern DEFAULT_PATTERNS catalog (SURVEY §2.8):
    10 labels exercised over deterministic text, native
    regexp_extract_all; the oracle runs the same patterns in DuckDB.
    A second leg runs a user-supplied pattern ({"digits": \\d+}) over the
    events.props payload — the former regex_digit_matches registry entry,
    folded in to fit the driver's 50-entry cap; both legs are map-only,
    so the union stays zero-shuffle."""
    from crawl4ai_spark.operators.regex_extract import regex_extract_matches, select_patterns

    all_events = _read(spark, sf_dir, "events")
    events = all_events.where(F.col("event_id") < 300)
    docs = events.select("event_id", _catalog_text_col().alias("txt"))
    catalog = regex_extract_matches(
        docs, select_patterns(*_CATALOG_LABELS), id_col="event_id", text_col="txt"
    )
    digits = regex_extract_matches(
        all_events, patterns={"digits": r"\d+"}, id_col="event_id", text_col="props"
    )
    return catalog.unionAll(digits)


def _q_media_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image scoring + srcset variant expansion (SURVEY §2.5): build a
    deterministic page per document carrying one <img> whose attributes
    derive from doc_id, run the scraping UDF, explode the scored media
    items. The oracle recomputes the reference scoring formula
    (content_scraping_strategy.py:410-515) in SQL."""
    from crawl4ai_spark.extraction.udfs import udf_scrape

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    did = F.col("doc_id").cast("string")
    width = (F.lit(100) + (F.col("doc_id") % 20) * 10).cast("string")
    alt_attr = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.lit(' alt="photo '), did, F.lit('"'))
    ).otherwise(F.lit(""))
    srcset_attr = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit(' srcset="/media/doc'), did, F.lit('-2x.jpg 2x"')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><body><p>gallery intro paragraph</p><img src=\"/media/doc"),
        did, F.lit('.jpg" width="'), width, F.lit('" height="200"'),
        alt_attr, srcset_attr, F.lit("></body></html>"),
    )
    pages = docs.select(
        "doc_id",
        html.cast("binary").alias("html"),
        F.concat(F.lit("http://corpus.test/doc/"), did).alias("url"),
    )
    ex = pages.select("doc_id", udf_scrape("html", "url").alias("e"))
    imgs = ex.select("doc_id", F.explode("e.media.images").alias("m"))
    return imgs.select(
        "doc_id",
        F.col("m.src").alias("src"),
        F.col("m.score").alias("score"),
        F.col("m.format").alias("format"),
        # int-coerced like the reference MediaItem ('2x' → NULL) with the
        # raw srcset descriptor kept alongside
        F.col("m.width").alias("width"),
        F.col("m.width_desc").alias("width_desc"),
    )


def _q_cleaned_html_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cleaned_html battery round-trip (SURVEY §2.5): a known template
    (attr noise + script + empty divs) wrapped around each document's
    escaped text must clean to an exactly predictable string — the oracle
    rebuilds that string in SQL."""
    from crawl4ai_spark.extraction.udfs import udf_scrape

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    did = F.col("doc_id").cast("string")
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"),
        ">", "&gt;",
    )
    html = F.concat(
        F.lit('<html><body><div class="c" onclick="z()"><p data-x="1">doc '),
        did, F.lit(": "), esc,
        F.lit("</p></div><script>junk()</script><div></div></body></html>"),
    )
    pages = docs.select(
        "doc_id",
        html.cast("binary").alias("html"),
        F.concat(F.lit("http://corpus.test/doc/"), did).alias("url"),
    )
    return pages.select(
        "doc_id", udf_scrape("html", "url").getField("cleaned_html").alias("cleaned_html")
    )


def _q_crawl_scrape_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl loop end to end in content_mode="scrape" (SURVEY §2.5 +
    §3.3 — the reference's default content flow wired through run_crawl,
    async_webcrawler.py:783,825-877): a deterministic 120-page site over
    the documents table (3 hosts, chains of 3 pages per decade seed), with
    the full CrawlResult surface (cleaned_html / media / links) coming
    back out of the results table. The oracle reconstructs every crawled
    row — URL set, depth, parent, link/image counts, byte-exact
    cleaned_html — in SQL."""
    import tempfile

    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.frontier.store import WaveStore

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    did = F.col("doc_id").cast("string")
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"),
        ">", "&gt;",
    )
    nxt = F.col("doc_id") + 1
    link = F.when(
        F.col("doc_id") % 10 < 2,
        F.concat(
            F.lit('<a href="http://h'), (nxt % 3).cast("string"), F.lit(".test/d"),
            nxt.cast("string"), F.lit('">next doc link</a>'),
        ),
    ).otherwise(F.lit(""))
    img = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit('<img src="/media/d'), did,
                 F.lit('.jpg" width="200" height="200" alt="photo">')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>doc "), did, F.lit("</title></head><body><p>doc "),
        did, F.lit(": "), esc, F.lit("</p>"), link, img, F.lit("</body></html>"),
    )
    url = F.concat(F.lit("http://h"), (F.col("doc_id") % 3).cast("string"),
                   F.lit(".test/d"), did)
    pages = docs.select(url.alias("url"), html.cast("binary").alias("html"))
    seeds = docs.where(F.col("doc_id") % 10 == 0).select(url.alias("url"))
    store_dir = tempfile.mkdtemp(prefix="crawl_scrape_loop_")
    run_crawl(spark, pages, seeds, store_dir, CrawlConfig(content_mode="scrape"))
    results = WaveStore(spark, store_dir).read_table("results")
    return results.select(
        "url",
        "depth",
        "parent_url",
        "status",
        "title",
        "n_internal_links",
        "n_external_links",
        F.coalesce(F.size("media.images"), F.lit(0)).alias("n_images"),
        "cleaned_html",
    )


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means coarse quantizer) approximate top-k. The centroids
    are deterministic (id-hash-ordered sample, seeded Lloyd's), so the
    oracle recomputes them offline and unrolls probe selection + rerank
    in SQL (``_ivf_topk_oracle_sql``); pytest separately checks recall vs
    brute force on clustered data."""
    from crawl4ai_spark.operators.similarity import ivf_topk, kmeans_centroids

    emb = _read(spark, sf_dir, "embeddings")
    centroids = kmeans_centroids(emb, k=8, iters=5)
    query = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return ivf_topk(emb, list(query), centroids, k=10, n_probe=3, round_to=4)


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (exact n-gram Jaccard) → connected-component
    duplicate clusters with the keep/drop curation decision.
    Large-star/small-star (operators/graph.py); oracle is a recursive-CTE
    transitive closure over the same pair set."""
    from crawl4ai_spark.operators.dedup import ngram_jaccard_pairs
    from crawl4ai_spark.operators.graph import duplicate_clusters

    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.3)
    return duplicate_clusters(pairs)


def _q_span_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup battery: the C4 fixed-grid span dedup and the
    Lee-et-al sliding-window exact-substring dedup unioned with a
    ``method`` discriminator (merged so both keep a driver CORRECTNESS
    row inside the 50-entry cap; unit counters aligned as n_units)."""
    from crawl4ai_spark.operators.dedup import exact_substring_dedup, span_dedup

    docs = _read(spark, sf_dir, "documents")
    spans = span_dedup(docs, span_tokens=15).select(
        F.lit("span").alias("method"),
        F.col("id").alias("doc_id"),
        "dedup_text",
        F.col("n_spans").cast("long").alias("n_units"),
        F.col("n_spans_kept").cast("long").alias("n_units_kept"),
    )
    subs = exact_substring_dedup(docs, min_tokens=15).select(
        F.lit("substring").alias("method"),
        F.col("id").alias("doc_id"),
        "dedup_text",
        F.col("n_tokens").cast("long").alias("n_units"),
        F.col("n_tokens_kept").cast("long").alias("n_units_kept"),
    )
    return spans.unionByName(subs)


def _q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs (operators/phash.py): the
    deterministic synthetic image corpus (real BMP/PNG payloads with
    planted near/exact duplicates and opaque poison rows) is pixel-
    decoded and DCT-hashed on EXECUTORS via one Arrow ``mapInPandas``
    projection, then paired by the banded Hamming self-join (exact
    recall for d ≤ n_bands−1 by pigeonhole, no cross join). The oracle
    recomputes the hashes with the driver-side numpy mirror and
    re-derives the pair set as exact all-pairs ``bit_count(xor(...))``
    SQL — pinning both executor≡driver decode determinism and the
    banding join against an independent formulation."""
    from crawl4ai_spark.operators.phash import (
        image_hashes,
        phash_neardup_candidates,
        synth_image_corpus,
    )

    media = spark.createDataFrame(synth_image_corpus(60), "media_id long, payload binary")
    return phash_neardup_candidates(image_hashes(media), max_hamming=7)


def _phash_oracle_sql() -> str:
    from crawl4ai_spark.operators.phash import hash_image_payload, synth_image_corpus

    rows = []
    for mid, payload in synth_image_corpus(60):
        h = hash_image_payload(payload)
        if h is not None:
            rows.append(f"({mid}, CAST({h[4]} AS BIGINT))")
    vals = ", ".join(rows)
    return f"""
        WITH h(media_id, phash) AS (VALUES {vals})
        SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
               bit_count(xor(a.phash, b.phash)) AS hamming
        FROM h a JOIN h b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 7
    """


def _q_link_graph_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph authority battery over a deterministic synthetic link
    graph derived from the documents table (doc i → (i·131 + k) mod N
    for k ∈ 1..3): damped PageRank (the crawl-authority prior) joined
    with Kleinberg HITS hub/authority scores (the best-first frontier's
    link-structure signal). Per-iteration rounding — and HITS's
    max-normalization, an order-independent aggregate — make both
    engine- and partitioning-independent; the oracle unrolls the same
    five iterations of each in SQL. Formerly the `doc_pagerank` row
    (green r1-r4); HITS columns folded in to hold the 50-entry driver
    cap."""
    from crawl4ai_spark.operators.graph import hits, pagerank

    docs = _read(spark, sf_dir, "documents")
    n = docs.count()
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(*[(F.col("doc_id") * 131 + F.lit(k)) % n for k in (1, 2, 3)])
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    ranks = pagerank(edges, iters=5, damping=0.85, round_digits=9)
    ha = hits(edges, iters=5, round_digits=9)
    return ranks.join(ha, "node").select(
        "node",
        F.round("rank", 6).alias("rank"),
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def _q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C rule): docs sharing
    any word-n-gram with the benchmark slice (doc_id < 5 stands in for an
    eval set) are flagged. n=3 here so the synthetic corpus yields a
    non-vacuous hit distribution (the operator defaults to the published
    n=13); the oracle recomputes the overlap with exact gram strings —
    also an implicit check that the engine's xxhash64 reduction is
    collision-clean on this corpus."""
    from crawl4ai_spark.operators.dedup import decontaminate

    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 5)
    # the 5-doc benchmark side is small by construction: force the
    # broadcast path instead of paying the auto-probe's counting job
    # (the None default's probe is for real eval batteries whose
    # distinct-gram count is not known a priori)
    return decontaminate(
        docs.where(F.col("doc_id") >= 5), bench, n=3, broadcast_bench=True
    )


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over deterministic contact text derived from the
    customer table (the synth tables carry no natural PII, so emails /
    phones / IPs are constructed from c_custkey identically in engine
    and oracle): catalog matches are replaced by label tokens, counts
    returned per row. Map-only — one regexp_replace chain inside
    whole-stage codegen."""
    from crawl4ai_spark.operators.regex_extract import redact_pii

    cust = _read(spark, sf_dir, "customer")
    docs = cust.select(
        F.col("c_custkey").alias("doc_id"),
        F.concat(
            F.col("c_name"),
            F.lit(" reach user"),
            F.col("c_custkey"),
            F.lit("@example.com call +1 415 555 0133 from 10.0.0."),
            F.col("c_custkey") % 250,
        ).alias("text"),
    )
    return redact_pii(docs)


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality + repetition battery (Rae et al. 2021 A1) — all 18
    signals, fail_reasons and pass verdict per doc. Oracle: full SQL
    recomputation generated from the SAME threshold table
    (``_gopher_oracle_sql``), so engine and oracle cannot drift."""
    from crawl4ai_spark.operators.quality_filters import gopher_filter

    docs = _read(spark, sf_dir, "documents")
    return gopher_filter(docs, shuffle_parts=32)


def _q_c4_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2): terminal-punct /
    min-words / javascript line gates, lorem-ipsum + brace + sentence
    document gates — pure column algebra, zero shuffles."""
    from crawl4ai_spark.operators.quality_filters import c4_line_filter

    docs = _read(spark, sf_dir, "documents")
    return c4_line_filter(docs)


def _q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation pass: quality gate (≥ 0.75) →
    language gate (en) → exact-dedup keep-first among survivors →
    token budget. The cheap map-side predicates prune before the one
    dedup shuffle — the order the 100 TB pipeline wants. Composed via
    ``crawl4ai_spark.pipeline.CurationPipeline`` (single-pass funnel
    tagging; gates fold into one projection, the dedup keeper is one
    semi-join over the alive set) — same rows as the hand-chained
    r1-r4 implementation, pinned by the unchanged oracle."""
    from crawl4ai_spark.operators.textstats import (
        langid_best,
        quality_score_col,
        token_count_col,
    )

    from crawl4ai_spark.pipeline import CurationPipeline, Gate, Keeper

    docs = _read(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        quality_score_col(F.col("text")).alias("quality"),
        langid_best(F.col("text")).alias("lang_pred"),
    )
    funnel = CurationPipeline(
        [
            Gate("quality", lambda df: F.col("quality") >= 0.75),
            Gate("lang", lambda df: F.col("lang_pred") == "en"),
            Keeper(
                "exact_dedup",
                lambda alive: alive.groupBy(F.md5("text").alias("m"))
                .agg(F.min("doc_id").alias("doc_id"))
                .select("doc_id"),
            ),
        ]
    )
    curated = funnel.apply(scored).where(F.col("fail_stage").isNull())
    return curated.select(
        "doc_id", token_count_col(F.col("text")).alias("n_tokens"), "quality"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": _q_pricing_summary,
        "star_join_battery": _q_star_join_battery,
        "lm_logscore": _q_lm_logscore,
        "relational_battery": _q_relational_battery,
        "bpe_tokenize": _q_bpe_tokenize,
        "events_battery": _q_events_battery,
        "quality_classifier": _q_quality_classifier,
        "funnel_view_click_purchase": _q_funnel_view_click_purchase,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "politeness_rank_events": _q_politeness_rank_events,
        "exact_dup_groups": _q_exact_dup_groups,
        "token_stats": _q_token_stats,
        "pack_sequences": _q_pack_sequences,
        "dsir_selection": _q_dsir_selection,
        "term_df_top20": _q_term_df_top20,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "simhash_candidates": _q_simhash_candidates,
        "ann_topk_battery": _q_ann_topk_battery,
        "cosine_neardup_lsh": _q_cosine_neardup_lsh,
        "semantic_dedup": _q_semantic_dedup,
        "pdf_extract": _q_pdf_extract,
        "ccnet_corpus": _q_ccnet_corpus,
        "bm25_scores": _q_bm25_scores,
        "chunking_battery": _q_chunking_battery,
        "span_substring_dedup": _q_span_substring_dedup,
        "schema_extract_nested": _q_schema_extract_nested,
        "link_score_battery": _q_link_score_battery,
        "link_preview_scores": _q_link_preview_scores,
        "token_budget_sample": _q_token_budget_sample,
        "cache_revalidation": _q_cache_revalidation,
        "recrawl_priority": _q_recrawl_priority,
        "url_scoring": _q_url_scoring,
        "media_features": _q_media_features,
        "media_features_decoded": _q_media_features_decoded,
        "llm_extract_blocks": _q_llm_extract_blocks,
        "regex_catalog": _q_regex_catalog,
        "media_extraction": _q_media_extraction,
        "cleaned_html_roundtrip": _q_cleaned_html_roundtrip,
        "crawl_scrape_loop": _q_crawl_scrape_loop,
        "table_extraction": _q_table_extraction,
        "ivf_topk": _q_ivf_topk,
        "dup_clusters": _q_dup_clusters,
        "image_phash_neardup": _q_image_phash_neardup,
        "link_graph_battery": _q_link_graph_battery,
        "curated_corpus": _q_curated_corpus,
        "gopher_quality": _q_gopher_quality,
        "c4_filtered": _q_c4_filtered,
        "decontamination": _q_decontamination,
        "pii_redaction": _q_pii_redaction,
    }


# DuckDB-mirrored token cleaning (must equal textstats.clean_terms_col).
_CLEAN_TOKS = (
    "list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), "
    "'[^a-z0-9 ]', '', 'g')), '\\s+'), t -> length(t) > 2)"
)
_NTOK = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"

# quality score expression shared by quality_scores and curated_corpus
# (must equal textstats.quality_score_col)
_QUALITY_SQL = f"""round(  least(({_NTOK}) / 100.0, 1.0) * 0.4
                 + greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / length(text)
                       ELSE 0.0 END) * 10.0) * 0.3
                 + greatest(0.0, 1.0 - abs((CASE WHEN ({_NTOK}) > 0
                       THEN length(text) * 1.0 / ({_NTOK}) ELSE 0.0 END) - 5.0) / 5.0) * 0.3
           , 6)"""

# The two span-level dedup oracles, composed by the span_substring_dedup
# battery entry (each re-derives the full keep-first semantics in SQL).
_SPAN_DEDUP_SQL = r"""
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                FROM documents WHERE length(trim(text)) > 0),
            spans AS (
                SELECT doc_id, pos,
                       array_to_string(t[pos * 15 + 1 : pos * 15 + 15], ' ') AS span
                FROM (SELECT doc_id, t,
                             unnest(generate_series(0,
                                 cast(ceil(len(t) / 15.0) AS BIGINT) - 1)) AS pos
                      FROM toks)),
            ranked AS (
                SELECT doc_id, pos, span,
                       row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
                FROM spans)
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY pos), '')
                       AS dedup_text,
                   count(*) AS n_spans,
                   count(*) FILTER (WHERE rn = 1) AS n_spans_kept
            FROM ranked GROUP BY doc_id
"""

_SUBSTRING_DEDUP_SQL = r"""
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                FROM documents WHERE length(trim(text)) > 0),
            grams AS (
                SELECT doc_id, pos, array_to_string(t[pos+1 : pos+15], ' ') AS g
                FROM (SELECT doc_id, t, unnest(range(0, len(t) - 14)) AS pos
                      FROM toks WHERE len(t) >= 15)),
            sited AS (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY g) AS cnt,
                       row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
                FROM grams),
            covered AS (
                SELECT DISTINCT doc_id, p FROM (
                    SELECT doc_id, unnest(range(pos, pos + 15)) AS p
                    FROM sited WHERE cnt > 1 AND rn > 1)),
            tok_rows AS (
                SELECT doc_id, p, t[p+1] AS tok
                FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS p FROM toks))
            SELECT tr.doc_id,
                   coalesce(string_agg(CASE WHEN c.p IS NULL THEN tr.tok END,
                                       ' ' ORDER BY tr.p), '') AS dedup_text,
                   CAST(count(*) AS INT) AS n_tokens,
                   CAST(count(*) FILTER (WHERE c.p IS NULL) AS INT) AS n_tokens_kept
            FROM tok_rows tr
            LEFT JOIN covered c ON tr.doc_id = c.doc_id AND tr.p = c.p
            GROUP BY tr.doc_id
"""


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "star_join_battery": """
            SELECT 'promo_pct' AS kind,
                   CAST(NULL AS VARCHAR) AS r_name,
                   CAST(NULL AS VARCHAR) AS n_name,
                   round(CAST(100.0 AS DOUBLE)
                         * sum(CASE WHEN p_type = 'PROMO'
                                    THEN l_extendedprice * (1 - l_discount)
                                    ELSE CAST(0.0 AS DOUBLE) END)
                         / sum(l_extendedprice * (1 - l_discount)), 4) AS metric,
                   CAST(NULL AS BIGINT) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1995-09-01'
              AND l_shipdate < TIMESTAMP '1996-09-01'
            UNION ALL
            SELECT 'region_revenue', r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2),
                   count(*)
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        # Stupid Backoff (Brants 2007): S(w|w2 w1)=c3/c2 else a*S(w|w1);
        # S(w|w1)=c2/c1 else a*S(w); S(w)=c1/N; a=0.4. Positions use
        # their natural max order (pos 0 = unigram, no penalty). Same
        # cleaned-terms tokenization as term_df_top20.
        "lm_logscore": f"""
            WITH toks0 AS (SELECT doc_id, {_CLEAN_TOKS} AS t FROM documents),
            toks AS (
                SELECT doc_id, pos, t[pos + 1] AS w
                FROM (SELECT doc_id, t,
                             unnest(generate_series(0, len(t) - 1)) AS pos
                      FROM toks0 WHERE len(t) > 0)),
            ctx AS (
                SELECT doc_id, pos, w,
                       lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                       lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
                FROM toks),
            uni AS (SELECT w, count(*) AS c1 FROM toks GROUP BY w),
            tot AS (SELECT sum(c1) AS n_total FROM uni),
            big AS (SELECT w1, w, count(*) AS c2 FROM ctx
                    WHERE w1 IS NOT NULL GROUP BY w1, w),
            tri AS (SELECT w2, w1, w, count(*) AS c3 FROM ctx
                    WHERE w2 IS NOT NULL GROUP BY w2, w1, w),
            scored AS (
                SELECT c.doc_id,
                       CASE
                         WHEN c.w2 IS NOT NULL THEN
                           CASE WHEN t3.c3 IS NOT NULL THEN t3.c3 / bd.c2
                                WHEN bn.c2 IS NOT NULL
                                     THEN 0.4 * (bn.c2 / ud.c1)
                                ELSE 0.4 * (0.4 * (un.c1 / tot.n_total)) END
                         WHEN c.w1 IS NOT NULL THEN
                           CASE WHEN bn.c2 IS NOT NULL THEN bn.c2 / ud.c1
                                ELSE 0.4 * (un.c1 / tot.n_total) END
                         ELSE un.c1 / tot.n_total
                       END AS s
                FROM ctx c
                LEFT JOIN tri t3 ON t3.w2 = c.w2 AND t3.w1 = c.w1 AND t3.w = c.w
                LEFT JOIN big bd ON bd.w1 = c.w2 AND bd.w = c.w1
                LEFT JOIN big bn ON bn.w1 = c.w1 AND bn.w = c.w
                LEFT JOIN uni ud ON ud.w = c.w1
                LEFT JOIN uni un ON un.w = c.w
                CROSS JOIN tot),
            per_doc AS (
                SELECT doc_id, count(*) AS n_tokens,
                       round(avg(log10(s)), 6) AS lm_logscore
                FROM scored GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
                   p.lm_logscore
            FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        """,
        "relational_battery": """
            SELECT 'topk_orders' AS leg, o_custkey AS k1, o_orderkey AS k2,
                   round(o_totalprice, 2) AS num, CAST(rk AS INTEGER) AS rk,
                   CAST(NULL AS VARCHAR) AS s, CAST(NULL AS TIMESTAMP) AS ts
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_custkey
                                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
                  FROM orders)
            WHERE rk <= 3
            UNION ALL
            SELECT 'no_orders', c_custkey, NULL, NULL, NULL, c_name, NULL
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            UNION ALL
            SELECT 'first_event', user_id, event_id, NULL, NULL, event_type, ts
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) AS rk FROM events)
            WHERE rk = 1
        """,
        "events_battery": """
            SELECT 'hourly' AS leg, event_type AS etype,
                   CAST(NULL AS BIGINT) AS uid, CAST(NULL AS BIGINT) AS seq,
                   date_trunc('hour', ts) AS t1, CAST(NULL AS TIMESTAMP) AS t2,
                   count(*) AS n, round(avg(value), 4) AS num,
                   CAST(NULL AS BIGINT) AS n2
            FROM events GROUP BY 2, 5
            UNION ALL
            SELECT 'session', CAST(NULL AS VARCHAR), user_id, session_seq,
                   session_start, session_end, n_events, duration_s,
                   n_event_types
            FROM (
                WITH o AS (
                    SELECT user_id, event_id, ts, event_type,
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                    FROM events),
                f AS (
                    SELECT *, CASE WHEN prev_ts IS NULL
                                     OR epoch(ts) - epoch(prev_ts) > 1800.0
                                   THEN 1 ELSE 0 END AS is_new
                    FROM o),
                s AS (
                    SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_seq
                    FROM f)
                SELECT user_id, session_seq,
                       min(ts) AS session_start, max(ts) AS session_end,
                       count(*) AS n_events,
                       round(CAST(epoch(max(ts)) - epoch(min(ts)) AS DOUBLE), 4) AS duration_s,
                       count(DISTINCT event_type) AS n_event_types
                FROM s GROUP BY 1, 2)
        """,
        "quality_classifier": _quality_classifier_oracle_sql(),
        "funnel_view_click_purchase": """
            WITH u AS (SELECT DISTINCT user_id FROM events),
            s1 AS (SELECT user_id, min(ts) AS step_1_ts FROM events
                   WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS step_2_ts
                   FROM events e JOIN s1 USING (user_id)
                   WHERE e.event_type = 'click' AND e.ts > s1.step_1_ts
                   GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS step_3_ts
                   FROM events e JOIN s2 USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts > s2.step_2_ts
                   GROUP BY 1)
            SELECT u.user_id, step_1_ts, step_2_ts, step_3_ts,
                   CASE WHEN step_3_ts IS NOT NULL THEN 3
                        WHEN step_2_ts IS NOT NULL THEN 2
                        WHEN step_1_ts IS NOT NULL THEN 1
                        ELSE 0 END AS funnel_depth
            FROM u LEFT JOIN s1 USING (user_id)
                   LEFT JOIN s2 USING (user_id)
                   LEFT JOIN s3 USING (user_id)
        """,
        "winnow_fingerprints": f"""
            WITH toks AS (SELECT doc_id, {_CLEAN_TOKS} AS t FROM documents),
            pos AS (
                SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
                FROM toks WHERE len(t) >= 5
            ),
            grams AS (
                SELECT doc_id, CAST(i AS INT) AS pos,
                       md5(array_to_string(t[i:i+4], ' ')) AS h
                FROM pos
            ),
            kept AS (
                SELECT doc_id,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                           AS fingerprint,
                       count(h) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                           AS n
                FROM grams)
            SELECT DISTINCT doc_id, fingerprint FROM kept WHERE n = 4
        """,
        "politeness_rank_events": """
            SELECT user_id, event_id, round(value, 2) AS value, rk
            FROM (SELECT user_id, event_id, value,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY value DESC, event_id) AS rk FROM events)
            WHERE rk <= 2
        """,
        "exact_dup_groups": """
            SELECT md5(text) AS content_md5, count(*) AS n_dups, min(doc_id) AS min_doc_id
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "token_stats": _token_stats_oracle_sql(),
        "pack_sequences": f"""
            -- concat-and-chunk packing: md5-shuffled global token stream
            -- cut every 512 tokens → (chunk, doc-slice) assembly map
            WITH t AS (
                SELECT doc_id, CAST({_NTOK} AS BIGINT) AS nt,
                       md5(CAST(doc_id AS VARCHAR)) AS k
                FROM documents),
            o AS (
                SELECT doc_id, nt,
                       sum(nt) OVER (ORDER BY k, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - nt AS off
                FROM t WHERE nt > 0),
            x AS (
                SELECT doc_id, nt, off,
                       unnest(range(CAST(off // 512 AS BIGINT),
                                    CAST((off + nt - 1) // 512 + 1 AS BIGINT))) AS chunk_id
                FROM o)
            SELECT chunk_id, doc_id,
                   greatest(0, chunk_id * 512 - off) AS doc_tok_start,
                   least(nt, (chunk_id + 1) * 512 - off) AS doc_tok_end,
                   CASE WHEN chunk_id = off // 512 THEN off % 512 ELSE 0 END AS chunk_pos
            FROM x
        """,
        "dsir_selection": f"""
            -- DSIR (Xie et al. 2023): hashed unigram+bigram bucket counts,
            -- smoothed log-ratio importance vs the lang='en' target, top-200
            WITH tok AS (SELECT doc_id, lang, {_CLEAN_TOKS} AS w FROM documents),
            grams AS (
                SELECT doc_id, lang, unnest(list_concat(w,
                    CASE WHEN len(w) >= 2
                         THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
                         ELSE [] END)) AS g
                FROM tok),
            buck AS (SELECT doc_id, lang,
                            ('0x' || substr(md5(g), 1, 13))::BIGINT % 1024 AS b
                     FROM grams),
            dc AS (SELECT doc_id, b, count(*) AS c FROM buck GROUP BY 1, 2),
            q AS (SELECT b, sum(c) AS qc FROM dc GROUP BY 1),
            p AS (SELECT b, count(*) AS pc FROM buck WHERE lang = 'en' GROUP BY 1),
            tot AS (SELECT (SELECT sum(qc) FROM q) AS qt,
                           (SELECT sum(pc) FROM p) AS pt),
            r AS (SELECT q.b,
                         ln((coalesce(p.pc, 0) + 0.5) / (tot.pt + 0.5 * 1024))
                       - ln((q.qc + 0.5) / (tot.qt + 0.5 * 1024)) AS lr
                  FROM q LEFT JOIN p USING (b), tot),
            w AS (SELECT doc_id, round(sum(c * lr), 6) AS logw
                  FROM dc JOIN r USING (b) GROUP BY 1)
            SELECT doc_id, logw FROM (
                SELECT doc_id, logw,
                       row_number() OVER (ORDER BY logw DESC, doc_id) AS rn
                FROM w) WHERE rn <= 200
        """,
        "term_df_top20": f"""
            WITH toks AS (SELECT doc_id, unnest({_CLEAN_TOKS}) AS term FROM documents)
            SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
            FROM toks GROUP BY term ORDER BY df DESC, term LIMIT 20
        """,
        "ngram_jaccard_pairs": f"""
            WITH toks AS (SELECT doc_id, {_CLEAN_TOKS} AS w FROM documents),
            grams AS (
                SELECT doc_id, unnest(list_distinct(
                    CASE WHEN len(w) >= 3
                         THEN [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
                         ELSE [] END)) AS shingle
                FROM toks),
            sizes AS (SELECT doc_id, count(*) AS set_size FROM grams GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(n_inter * 1.0 / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON id_a = sa.doc_id
            JOIN sizes sb ON id_b = sb.doc_id
            WHERE n_inter * 1.0 / (sa.set_size + sb.set_size - n_inter) >= 0.3
        """,
        "bm25_scores": f"""
            WITH toks AS (SELECT doc_id, unnest({_CLEAN_TOKS}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
            stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                             (SELECT avg(dl) FROM dl) AS avgdl),
            q AS (SELECT unnest(['table', 'scan', 'join', 'merge']) AS term),
            tf AS (SELECT doc_id, t.term, count(*) AS tf
                   FROM toks t JOIN q ON t.term = q.term GROUP BY doc_id, t.term),
            dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term)
            SELECT doc_id,
                   round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                             * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
            FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
            GROUP BY doc_id
        """,
        "chunking_battery": f"""
            WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
            fixed AS (
                SELECT doc_id, 'fixed' AS kind, u.chunk_index, u.chunk FROM (
                    SELECT doc_id, unnest([{{'chunk_index': i,
                                            'chunk': array_to_string(w[i*20+1:i*20+20], ' ')}}
                                           FOR i IN range(0, greatest(cast(ceil(len(w)/20.0) AS int), 1))]) AS u
                    FROM t)
                WHERE trim(u.chunk) <> ''
            ),
            sliding AS (
                SELECT doc_id, 'sliding' AS kind, u.chunk_index, u.chunk FROM (
                    SELECT doc_id, unnest([{{'chunk_index': i,
                                            'chunk': array_to_string(w[i*15+1:i*15+30], ' ')}}
                                           FOR i IN range(0, cast(floor(greatest(len(w)-30, 0)/15.0) AS int) + 1)]) AS u
                    FROM t)
                WHERE trim(u.chunk) <> ''
            ),
            tt AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
                FROM documents),
            tc AS (
                SELECT doc_id, toks, len(toks) AS n,
                       CASE WHEN len(toks) >= 86
                            THEN CAST(((len(toks) - 86) // 64) + 1 AS INT)
                            ELSE 0 END AS k
                FROM tt),
            te AS (
                SELECT doc_id, CAST(unnest(range(0, k + 1)) AS INT) AS chunk_index,
                       toks, n, k
                FROM tc),
            ts AS (
                SELECT doc_id, chunk_index,
                       CASE WHEN chunk_index < k
                            THEN array_to_string(toks[chunk_index*64+1 : chunk_index*64+64], ' ')
                            ELSE coalesce(array_to_string(toks[k*64+1 : n], ' '), '') END AS chunk
                FROM te),
            tokenc AS (
                SELECT doc_id, 'token' AS kind, chunk_index, chunk
                FROM ts WHERE trim(chunk) <> ''
            ),
            sraw AS (
                SELECT doc_id,
                       unnest(string_split(
                           regexp_replace(text, '([.!?])\\s+', '\\1' || chr(31), 'g'),
                           chr(31))) AS raw,
                       generate_subscripts(string_split(
                           regexp_replace(text, '([.!?])\\s+', '\\1' || chr(31), 'g'),
                           chr(31)), 1) - 1 AS pos
                FROM documents),
            sentc AS (
                SELECT doc_id, 'sentence' AS kind,
                       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                            AS INT) AS chunk_index,
                       trim(raw) AS chunk
                FROM sraw WHERE trim(raw) <> ''
            )
            SELECT * FROM fixed UNION ALL SELECT * FROM sliding
            UNION ALL SELECT * FROM tokenc UNION ALL SELECT * FROM sentc
        """,
        "url_scoring": """
            WITH u AS (
                SELECT event_id,
                       'http://h' || user_id || '.test/' || event_type || '/'
                       || CASE WHEN event_id % 4 = 0 THEN '2021/' ELSE '' END
                       || 'e' || event_id
                       || CASE WHEN event_id % 5 = 0 THEN '.html'
                               WHEN event_id % 7 = 0 THEN '.pdf' ELSE '' END AS url
                FROM events),
            parsed AS (
                SELECT event_id, url,
                       len(list_filter(string_split(regexp_extract(url, '^https?://[^/]+(/.*)$', 1), '/'),
                                       s -> s <> '')) AS depth,
                       regexp_extract(url, '(?:/|[-_])((?:19|20)[0-9]{2})(?:/|[-_]|\\.|$)', 1) AS year_s,
                       lower(regexp_extract(regexp_extract(url, '^https?://[^/]+(/.*)$', 1),
                                            '\\.([A-Za-z0-9]{1,5})$', 1)) AS ext
                FROM u)
            SELECT event_id, url,
                   round(CASE abs(depth - 3)
                         WHEN 0 THEN 1.0 WHEN 1 THEN 0.5
                         WHEN 2 THEN 1.0/3.0 WHEN 3 THEN 0.25
                         ELSE 1.0 / (1.0 + abs(depth - 3)) END, 6) AS depth_score,
                   round(CASE WHEN year_s = '' THEN 0.5
                         ELSE CASE 2026 - cast(year_s AS int)
                              WHEN 0 THEN 1.0 WHEN 1 THEN 0.9 WHEN 2 THEN 0.8
                              WHEN 3 THEN 0.7 WHEN 4 THEN 0.6 WHEN 5 THEN 0.5
                              ELSE greatest(0.1, 1.0 - (2026 - cast(year_s AS int)) * 0.1) END
                         END, 6) AS freshness_score,
                   (ext = '' OR ext IN ('asp','aspx','htm','html','jsp','md','php','txt','xhtml')) AS ctype_ok,
                   (url LIKE '%.html') AS is_html
            FROM parsed
        """,
        "token_budget_sample": f"""
            -- per-source token-budget mixture sample: md5-ranked order,
            -- keep while the PRIOR cumulative count is strictly < budget
            WITH t AS (
                SELECT doc_id, source, CAST({_NTOK} AS BIGINT) AS n_tokens,
                       md5(CAST(doc_id AS VARCHAR)) AS k
                FROM documents),
            c AS (
                SELECT doc_id, source, n_tokens,
                       sum(n_tokens) OVER (PARTITION BY source ORDER BY k, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tokens AS prior
                FROM t)
            SELECT 'fixed' AS kind, doc_id, source, n_tokens FROM c
            WHERE prior < (CASE WHEN source IN ('src0','src1') THEN 400
                                WHEN source IN ('src2','src3') THEN 5000
                                ELSE 900 END)
            UNION ALL
            -- temperature (alpha=0.5) budgets: share ∝ sqrt(source tokens),
            -- floored to a multiple of 8 (engine-exact across float-sum order)
            SELECT 'temp_budget' AS kind, CAST(NULL AS BIGINT) AS doc_id,
                   source, budget AS n_tokens
            FROM (SELECT source,
                         CAST(floor(6000 * sqrt(CAST(sum(n_tokens) AS DOUBLE))
                              / (SELECT sum(sw) FROM (
                                    SELECT sqrt(CAST(sum(n_tokens) AS DOUBLE)) AS sw
                                    FROM t GROUP BY source))
                              / 8) * 8 AS BIGINT) AS budget
                  FROM t GROUP BY source) b
            UNION ALL
            SELECT 'temp' AS kind, c.doc_id, c.source, c.n_tokens
            FROM c JOIN (SELECT source,
                         CAST(floor(6000 * sqrt(CAST(sum(n_tokens) AS DOUBLE))
                              / (SELECT sum(sw) FROM (
                                    SELECT sqrt(CAST(sum(n_tokens) AS DOUBLE)) AS sw
                                    FROM t GROUP BY source))
                              / 8) * 8 AS BIGINT) AS budget
                  FROM t GROUP BY source) b ON c.source = b.source
            WHERE c.prior < b.budget
        """,
        "link_score_battery": """
            SELECT doc_id,
                   'http://corpus.test' ||
                     (CASE WHEN doc_id % 4 = 0 THEN '/docs/p' ELSE '/p' END) || doc_id AS href,
                   round(CAST(
                     (CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END)   -- title attr
                   + (CASE WHEN doc_id % 5 = 0 THEN 1.5 ELSE 0.0 END)   -- nav class
                   + (CASE WHEN doc_id % 4 = 0 THEN 2.0 ELSE 0.0 END)   -- /docs/ path
                   + 1.0                                                 -- shallow depth
                   + (CASE doc_id % 3 WHEN 0 THEN 3.0                    -- rich text + overlap
                                      WHEN 1 THEN 0.5                    -- 'click here'
                                      ELSE 0.0 END) AS DOUBLE), 4) AS intrinsic_score,
                   CAST(NULL AS DOUBLE) AS contextual_score,
                   CAST(NULL AS DOUBLE) AS total_score
            FROM documents WHERE doc_id < 300
            UNION ALL
            -- 3 anchors per page at /p<doc>x<j>; the one with j = doc_id%3
            -- carries the query term 'spark' (df=1 of n=3 → positive idf,
            -- others score 0 → min-max lands on {1, 0}); every anchor has
            -- identical intrinsic 2.5 (3-word text +1.5, shallow path +1);
            -- total = 0.7·intrinsic + 0.3·(contextual×10)
            SELECT doc_id,
                   'http://corpus.test/p' || doc_id || 'x' || j AS href,
                   CAST(2.5 AS DOUBLE) AS intrinsic_score,
                   CAST(CASE WHEN j = doc_id % 3 THEN 1.0 ELSE 0.0 END AS DOUBLE)
                       AS contextual_score,
                   CAST(round(0.7 * 2.5 + 0.3 * 10 *
                         CASE WHEN j = doc_id % 3 THEN 1.0 ELSE 0.0 END, 4) AS DOUBLE)
                       AS total_score
            FROM documents, unnest([0, 1, 2]) AS t(j)
            WHERE doc_id < 300
        """,
        "link_preview_scores": """
            -- full Okapi BM25 mirror (rank_bm25 semantics: k1=1.5 b=0.75,
            -- negative IDFs floored at 0.25·avg-idf over the WHOLE vocab),
            -- then min-max normalization and the 0.7/0.3 blend
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
            heads AS (
                SELECT doc_id,
                       (CASE WHEN doc_id % 2 = 0 THEN 'alpha guide'
                             ELSE 'beta manual' END) || ' ' ||
                       (CASE WHEN doc_id % 3 = 0 THEN 'gamma alpha notes'
                             ELSE 'delta notes' END) AS txt
                FROM d),
            toks AS (SELECT doc_id, unnest(string_split(txt, ' ')) AS term FROM heads),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
            stats AS (SELECT (SELECT count(*) FROM heads) AS n,
                             (SELECT avg(dl) FROM dl) AS avgdl),
            dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
            idf0 AS (SELECT term, ln(n - df + 0.5) - ln(df + 0.5) AS raw
                     FROM dft CROSS JOIN stats),
            aidf AS (SELECT avg(raw) AS avg_idf FROM idf0),
            idf AS (SELECT term,
                           CASE WHEN raw < 0 THEN 0.25 * avg_idf ELSE raw END AS idf
                    FROM idf0 CROSS JOIN aidf),
            q(term) AS (VALUES ('alpha'), ('gamma')),
            tf AS (SELECT doc_id, t.term, count(*) AS tf
                   FROM toks t JOIN q ON t.term = q.term GROUP BY doc_id, t.term),
            raw AS (
                SELECT h.doc_id,
                       coalesce((SELECT sum(idf.idf * tf.tf * 2.5
                                     / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
                                 FROM tf JOIN idf USING (term)
                                 JOIN dl ON dl.doc_id = tf.doc_id
                                 CROSS JOIN stats
                                 WHERE tf.doc_id = h.doc_id), 0.0) AS s
                FROM heads h),
            mm AS (SELECT min(s) AS lo, max(s) AS hi FROM raw)
            SELECT 'http://corpus.test/t' || r.doc_id AS href,
                   CAST(r.doc_id % 5 AS DOUBLE) AS intrinsic_score,
                   round(CASE WHEN mm.hi = mm.lo THEN 0.5
                              ELSE (r.s - mm.lo) / (mm.hi - mm.lo) END, 6)
                       AS contextual_score,
                   round((r.doc_id % 5) * 0.7
                         + least(CASE WHEN mm.hi = mm.lo THEN 0.5
                                      ELSE (r.s - mm.lo) / (mm.hi - mm.lo) END * 10.0,
                                 10.0) * 0.3, 6) AS total_score
            FROM raw r CROSS JOIN mm
        """,
        "cache_revalidation": """
            SELECT 'http://corpus.test/doc/' || doc_id AS url,
                   CASE WHEN doc_id < 30 THEN 'new'
                        WHEN doc_id % 3 = 0 THEN 'stale'
                        ELSE 'fresh' END AS cache_status
            FROM documents WHERE doc_id < 300
        """,
        # recrawl_priority: regenerate the synthetic visit grid and the
        # Cho/Garcia-Molina closed form analytically (lam = -ln((n-X+.5)/
        # (n+.5))/Ibar; p = 1-exp(-lam*age) at now = global max ts)
        "recrawl_priority": """
            WITH d AS (SELECT doc_id, 1 + doc_id % 5 AS n
                       FROM documents WHERE doc_id < 400),
            v AS (SELECT doc_id, n, unnest(range(0, n)) AS j FROM d),
            vv AS (SELECT doc_id, n, j,
                          doc_id * 13.0 + j * 3600.0 * (1 + doc_id % 7) AS ts_s,
                          CASE WHEN (doc_id * 7 + j * j) % 3 = 0 THEN 1 ELSE 0 END AS ch
                   FROM v),
            agg AS (SELECT doc_id,
                           count(*) AS n_visits,
                           sum(ch) AS n_changed,
                           min(ts_s) AS first_s,
                           max(ts_s) AS last_s
                    FROM vv GROUP BY doc_id),
            nowt AS (SELECT max(ts_s) AS now_s FROM vv)
            SELECT 'http://corpus.test/doc/' || doc_id AS url,
                   CAST(n_visits AS BIGINT) AS n_visits,
                   CAST(n_changed AS BIGINT) AS n_changed,
                   CASE WHEN n_visits >= 2 AND last_s > first_s
                        THEN round(-ln((n_visits - n_changed + 0.5) / (n_visits + 0.5))
                                   / ((last_s - first_s) / (n_visits - 1)) * 86400.0, 6) + 0.0
                   END AS lambda_per_day,
                   CASE WHEN n_visits >= 2 AND last_s > first_s
                        THEN round(1.0 - exp(ln((n_visits - n_changed + 0.5) / (n_visits + 0.5))
                                             / ((last_s - first_s) / (n_visits - 1))
                                             * (now_s - last_s)), 6) + 0.0
                   END AS p_changed
            FROM agg CROSS JOIN nowt
        """,
        "schema_extract_nested": """
            SELECT r.r_regionkey,
                   '{"name": "' || trim(r.r_name) || '", "nations": ['
                   || string_agg(
                          '{"key": "' || n.n_nationkey || '", "name": "' || trim(n.n_name) || '"}',
                          ', ' ORDER BY n.n_nationkey)
                   || ']}' AS record
            FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_regionkey, r.r_name
        """,
        # synth_pdf fixtures are closed-form in (doc_id, page): the oracle
        # regenerates every page's two text lines, link URI, /Info
        # metadata, and the poison rows (doc_id%8=7 truncated payloads)
        # analytically — pinning the whole parse->decode->extract chain
        "pdf_extract": """
            WITH ids AS (SELECT unnest(range(0, 24)) AS doc_id),
            ok AS (SELECT doc_id, 1 + doc_id % 4 AS n_pages
                   FROM ids WHERE doc_id % 8 <> 7),
            pages AS (SELECT doc_id, n_pages,
                             unnest(range(1, n_pages + 1)) AS page_number
                      FROM ok),
            words AS (
                SELECT doc_id, n_pages, page_number,
                       'body ' || array_to_string(
                           ['w' || ((page_number * 7 + doc_id * 3 + j) % 23)
                            FOR j IN range(0, 8)], ' ') || ' end' AS line2
                FROM pages)
            SELECT doc_id,
                   CAST(page_number AS INT) AS page_number,
                   'synthetic pdf seed ' || doc_id || ' page ' || page_number
                       || chr(10) || line2 AS text,
                   CASE WHEN doc_id % 5 <> 4
                        THEN 'http://pdf' || doc_id || '.test/page/' || page_number
                        ELSE '' END AS links_joined,
                   CAST(n_pages AS INT) AS n_pages,
                   'synthetic pdf ' || doc_id AS title,
                   'synth_pdf' AS producer,
                   1 AS decode_ok
            FROM words
            UNION ALL
            SELECT doc_id, 0, '', '', 0, NULL, NULL, 0
            FROM ids WHERE doc_id % 8 = 7
        """,
        # exact-substring dedup (Lee et al. 2021): duplicated sliding
        # 15-token windows keep only the global-first (doc_id, pos) site;
        # covered token positions at every other site are deleted
        "span_substring_dedup": f"""
            SELECT 'span' AS method, doc_id, dedup_text,
                   CAST(n_spans AS BIGINT) AS n_units,
                   CAST(n_spans_kept AS BIGINT) AS n_units_kept
            FROM ({_SPAN_DEDUP_SQL})
            UNION ALL
            SELECT 'substring' AS method, doc_id, dedup_text,
                   CAST(n_tokens AS BIGINT) AS n_units,
                   CAST(n_tokens_kept AS BIGINT) AS n_units_kept
            FROM ({_SUBSTRING_DEDUP_SQL})
        """,
        "image_phash_neardup": _phash_oracle_sql(),
        "regex_catalog": """
            WITH t AS (
                SELECT event_id,
                       'ping a' || (event_id % 50) || '@mail' || (event_id % 7)
                       || '.com via https://ex' || (event_id % 9) || '.com/p?q=' || event_id
                       || ' from 10.0.' || (event_id % 256) || '.' || (event_id % 113)
                       || ' uuid 123e4567-e89b-42d3-a456-4266141740' || lpad(CAST(event_id % 100 AS VARCHAR), 2, '0')
                       || ' pay $' || (event_id % 90) || '.25 rate ' || (event_id % 100)
                       || '.5% on 2026-0' || (1 + event_id % 9) || '-1' || (event_id % 10)
                       || ' at 1' || (event_id % 10) || ':4' || (event_id % 6)
                       || ' color #a1b2c' || (event_id % 10)
                       || ' mac aa:bb:cc:dd:ee:f' || (event_id % 10) AS txt
                FROM events WHERE event_id < 300),
            p(label, rx) AS (VALUES
                ('email', '[\\w.+-]+@[\\w-]+\\.[\\w.-]+'),
                ('url', 'https?://[^\\s"''<>]+'),
                ('ipv4', '(?:\\d{1,3}\\.){3}\\d{1,3}'),
                ('uuid', '[0-9a-f]{8}-[0-9a-f]{4}-[1-5][0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}'),
                ('currency', '(?:USD|EUR|RM|\\$|€|£)\\s?\\d+(?:[.,]\\d{2})?'),
                ('percentage', '\\d+(?:\\.\\d+)?%'),
                ('date_iso', '\\d{4}-\\d{2}-\\d{2}'),
                ('time_24h', '\\b(?:[01]?\\d|2[0-3]):[0-5]\\d(?:[:.][0-5]\\d)?\\b'),
                ('html_color_hex', '#[0-9A-Fa-f]{6}\\b'),
                ('mac_addr', '(?:[0-9A-Fa-f]{2}:){5}[0-9A-Fa-f]{2}'))
            SELECT event_id, label,
                   unnest(regexp_extract_all(txt, '(' || rx || ')', 1, 'im')) AS value
            FROM t, p
            UNION ALL
            SELECT event_id, 'digits' AS label,
                   unnest(regexp_extract_all(props, '(\\d+)', 1)) AS value
            FROM events
        """,
        "media_extraction": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
            s AS (
                SELECT doc_id,
                       3
                       + (CASE WHEN 100 + (doc_id % 20) * 10 > 150 THEN 1 ELSE 0 END)
                       + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS score
                FROM d)
            SELECT doc_id, '/media/doc' || doc_id || '.jpg' AS src, score,
                   'jpg' AS format, CAST(NULL AS INT) AS width,
                   CAST(NULL AS VARCHAR) AS width_desc
            FROM s
            UNION ALL
            SELECT doc_id, '/media/doc' || doc_id || '-2x.jpg' AS src, score,
                   'jpg' AS format, CAST(NULL AS INT) AS width, '2x' AS width_desc
            FROM s WHERE doc_id % 5 = 0
        """,
        "cleaned_html_roundtrip": """
            SELECT doc_id,
                   '<html><body><div class="c"><p>doc ' || doc_id || ': '
                   || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                   || '</p></div></body></html>' AS cleaned_html
            FROM documents WHERE doc_id < 200
        """,
        "table_extraction": """
            SELECT n_name, cast(n_regionkey AS varchar) AS n_regionkey FROM nation
        """,
        "crawl_scrape_loop": """
            WITH d AS (
                SELECT doc_id, text FROM documents
                WHERE doc_id < 120 AND doc_id % 10 <= 2)
            SELECT 'http://h' || (doc_id % 3) || '.test/d' || doc_id AS url,
                   CAST(doc_id % 10 AS INT) AS depth,
                   CASE WHEN doc_id % 10 = 0 THEN NULL
                        ELSE 'http://h' || ((doc_id - 1) % 3) || '.test/d' || (doc_id - 1)
                   END AS parent_url,
                   'fetched' AS status,
                   'doc ' || doc_id AS title,
                   CAST(0 AS INT) AS n_internal_links,
                   CAST(CASE WHEN doc_id % 10 < 2 THEN 1 ELSE 0 END AS INT) AS n_external_links,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT) AS n_images,
                   '<html><head><title>doc ' || doc_id || '</title></head><body><p>doc '
                   || doc_id || ': '
                   || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                   || '</p>'
                   || CASE WHEN doc_id % 10 < 2
                           THEN '<a href="http://h' || ((doc_id + 1) % 3) || '.test/d'
                                || (doc_id + 1) || '">next doc link</a>'
                           ELSE '' END
                   || CASE WHEN doc_id % 2 = 0
                           THEN '<img src="/media/d' || doc_id
                                || '.jpg" width="200" height="200" alt="photo">'
                           ELSE '' END
                   || '</body></html>' AS cleaned_html
            FROM d
        """,
        "ccnet_corpus": _ccnet_oracle_sql(),
        # synth_media_table's even-id payloads are generated from closed-
        # form parameters (PNG w=8+i%4 h=6+i%3 on i%12=0, GIF w=10+i%7
        # h=7+i%5 on i%36=18, baseline/progressive JPEG 16x16 on the other
        # even image ids; WAV n=160+(i%5)*40 @8 kHz; y4m w=4+2*(i%3) h=4
        # frames=3+i%4, stride-2 sampling) — the oracle re-derives the
        # decoded features analytically from the id
        "media_features_decoded": """
            SELECT media_id,
                   CASE media_id % 3 WHEN 0 THEN 'image'
                                     WHEN 1 THEN 'audio'
                                     ELSE 'video' END AS kind,
                   1 AS decode_ok,
                   CASE media_id % 3
                        WHEN 0 THEN CAST(CASE WHEN media_id % 12 = 0
                                              THEN 8 + media_id % 4
                                              WHEN media_id % 36 = 18
                                              THEN 10 + media_id % 7
                                              ELSE 16 END AS DOUBLE)
                        WHEN 2 THEN CAST(4 + 2 * (media_id % 3) AS DOUBLE)
                   END AS width,
                   CASE media_id % 3
                        WHEN 0 THEN CAST(CASE WHEN media_id % 12 = 0
                                              THEN 6 + media_id % 3
                                              WHEN media_id % 36 = 18
                                              THEN 7 + media_id % 5
                                              ELSE 16 END AS DOUBLE)
                        WHEN 2 THEN CAST(4 AS DOUBLE)
                   END AS height,
                   CASE media_id % 3
                        WHEN 1 THEN CAST((160 + (media_id % 5) * 40) / 8.0 AS DOUBLE)
                   END AS duration_ms,
                   CASE media_id % 3
                        WHEN 1 THEN CAST(160 + (media_id % 5) * 40 AS DOUBLE)
                        WHEN 2 THEN CAST((3 + media_id % 4 + 1) // 2 AS DOUBLE)
                   END AS n_units
            FROM (SELECT unnest(range(0, 64, 2)) AS media_id)
        """,
        "dup_clusters": f"""
            WITH RECURSIVE toks AS (SELECT doc_id, {_CLEAN_TOKS} AS w FROM documents),
            grams AS (
                SELECT doc_id, unnest(list_distinct(
                    CASE WHEN len(w) >= 3
                         THEN [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
                         ELSE [] END)) AS shingle
                FROM toks),
            sizes AS (SELECT doc_id, count(*) AS set_size FROM grams GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
            pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON id_a = sa.doc_id
                JOIN sizes sb ON id_b = sb.doc_id
                WHERE n_inter * 1.0 / (sa.set_size + sb.set_size - n_inter) >= 0.3),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
                SELECT a AS node, b AS peer FROM edges
                UNION
                SELECT r.node, e.b FROM reach r JOIN edges e ON r.peer = e.a),
            comp AS (SELECT node, least(node, min(peer)) AS component
                     FROM reach GROUP BY node)
            SELECT component,
                   count(*) OVER (PARTITION BY component) AS n_members,
                   node,
                   CAST(node = component AS INTEGER) AS is_keep
            FROM comp
        """,
        "link_graph_battery": _link_graph_oracle_sql(iters=5, damping=0.85),
        "curated_corpus": _curated_corpus_oracle_sql(),
        # media_features (odd ids' synthetic payloads): intentionally no
        # oracle — binary probing is not SQL-expressible; the even-id
        # split is fully pinned by media_features_decoded.
        # llm_extract_blocks: intentionally no oracle (prompt build +
        # completion + parse ladder runs in Python by design; the fake
        # model's outputs are pinned by tests/test_llm_extract.py).
        "simhash_candidates": _simhash_oracle_sql(),
        "gopher_quality": _gopher_oracle_sql(),
        "c4_filtered": _c4_oracle_sql(),
        "pii_redaction": _pii_oracle_sql(),
        # decontamination: distinct grams per doc (matching the engine's
        # shingle_hash_rows .distinct()), benchmark = doc_id < 5
        "decontamination": f"""
            WITH toks AS (SELECT doc_id, {_CLEAN_TOKS} AS w FROM documents),
            grams AS (
                SELECT doc_id,
                       unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                                             FOR i IN range(1, len(w) - 1)])) AS g
                FROM toks),
            bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
            hits AS (
                SELECT doc_id, count(*) AS n
                FROM grams WHERE doc_id >= 5 AND g IN (SELECT g FROM bench)
                GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(h.n, 0) AS n_contaminated_grams,
                   coalesce(h.n, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id >= 5
        """,
    } | _lsh_precision_oracles() | _centroid_oracles()


_SQL_WORDS = (
    r"list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),"
    " x -> length(x) > 0)"
)
_SQL_LINES = (
    r"list_filter(list_transform(regexp_split_to_array(coalesce(text, ''), '\r\n|\r|\n'),"
    " x -> trim(x)), x -> length(x) > 0)"
)


def _gopher_oracle_sql() -> str:
    """Full SQL recomputation of the Gopher battery. The threshold table
    and stopword panel are imported from the operator module (the langid
    no-drift pattern); the repetition family mirrors the engine's one
    exploded (doc, kind, key) frame as a UNION ALL + two GROUP BYs."""
    from crawl4ai_spark.operators.quality_filters import (
        GOPHER_STOPWORDS,
        GOPHER_THRESHOLDS,
        _DUP_NS,
        _TOP_NS,
    )

    gram_unions = "\n            UNION ALL ".join(
        f"SELECT doc_id, 'g{n}' AS kind, unnest("
        f"[array_to_string(w[i:i+{n - 1}], ' ') FOR i IN range(1, len(w) - {n} + 2)]"
        ") AS key FROM d"
        for n in (*_TOP_NS, *_DUP_NS)
    )
    rep_cols = ",\n                   ".join(
        [
            "coalesce(max(CASE WHEN kind = 'line' THEN line_dup_frac END), 0.0) AS dup_line_fraction",
            "coalesce(max(CASE WHEN kind = 'line' THEN dup_frac END), 0.0) AS dup_line_char_fraction",
        ]
        + [
            f"coalesce(max(CASE WHEN kind = 'g{n}' THEN top_frac END), 0.0) AS top_{n}gram_char_fraction"
            for n in _TOP_NS
        ]
        + [
            f"coalesce(max(CASE WHEN kind = 'g{n}' THEN dup_frac END), 0.0) AS dup_{n}gram_char_fraction"
            for n in _DUP_NS
        ]
    )
    fail_cases = ", ".join(
        f"CASE WHEN {c} < {float(lo)}"
        + (f" OR {c} > {float(hi)}" if hi != float("inf") else "")
        + f" THEN '{c}' END"
        for c, (lo, hi) in sorted(GOPHER_THRESHOLDS.items())
    )
    stop_checks = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    rep_defaults = ", ".join(
        f"coalesce({c}, 0.0) AS {c}"
        for c in (
            ["dup_line_fraction", "dup_line_char_fraction"]
            + [f"top_{n}gram_char_fraction" for n in _TOP_NS]
            + [f"dup_{n}gram_char_fraction" for n in _DUP_NS]
        )
    )
    return f"""
        WITH d AS (
            SELECT doc_id, {_SQL_WORDS} AS w, {_SQL_LINES} AS l,
                   greatest(length(coalesce(text, '')), 1)::DOUBLE AS tcv,
                   coalesce(text, '') AS text
            FROM documents),
        scal AS (
            SELECT doc_id,
                   len(w) AS word_count,
                   round(coalesce(list_sum(list_transform(w, x -> length(x))), 0) * 1.0
                         / greatest(len(w), 1), 6) AS mean_word_length,
                   round((len(regexp_extract_all(text, '#'))
                          + len(regexp_extract_all(text, '\\.\\.\\.'))
                          + len(regexp_extract_all(text, '…'))) * 1.0
                         / greatest(len(w), 1), 6) AS symbol_word_ratio,
                   round(len(list_filter(l, x -> substr(x, 1, 1) IN ('-', '*', '•', '‣', '▪'))) * 1.0
                         / greatest(len(l), 1), 6) AS bullet_line_fraction,
                   round(len(list_filter(l, x -> ends_with(x, '...') OR ends_with(x, '…'))) * 1.0
                         / greatest(len(l), 1), 6) AS ellipsis_line_fraction,
                   round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1.0
                         / greatest(len(w), 1), 6) AS alpha_word_fraction,
                   len(list_filter([{stop_checks}], s -> list_contains(w, s))) AS stopword_count
            FROM d),
        keyed AS (
            SELECT doc_id, 'line' AS kind, unnest(l) AS key FROM d
            UNION ALL {gram_unions}),
        freq AS (
            SELECT doc_id, kind, key, count(*) AS c, max(length(key)) AS kc
            FROM keyed GROUP BY doc_id, kind, key),
        perk AS (
            SELECT doc_id, kind, sum(c) AS n_total, count(*) AS n_distinct,
                   arg_max(CASE WHEN c >= 2 THEN c * kc ELSE 0 END,
                           c::HUGEINT * 1000000000000 + kc) AS top_cover,
                   coalesce(sum(CASE WHEN c >= 2 THEN c * kc END), 0) AS dup_chars
            FROM freq GROUP BY doc_id, kind),
        kfrac AS (
            SELECT p.doc_id, p.kind,
                   round((p.n_total - p.n_distinct) * 1.0 / greatest(p.n_total, 1), 6) AS line_dup_frac,
                   round(least(p.dup_chars / t.tcv, 1.0), 6) AS dup_frac,
                   round(least(p.top_cover / t.tcv, 1.0), 6) AS top_frac
            FROM perk p JOIN d t USING (doc_id)),
        reps AS (
            SELECT doc_id,
                   {rep_cols}
            FROM kfrac GROUP BY doc_id),
        sig AS (
            SELECT s.doc_id, s.word_count, s.mean_word_length, s.symbol_word_ratio,
                   s.bullet_line_fraction, s.ellipsis_line_fraction,
                   s.alpha_word_fraction, s.stopword_count,
                   {rep_defaults}
            FROM scal s LEFT JOIN reps USING (doc_id))
        SELECT *,
               array_to_string(list_filter([{fail_cases}], x -> x IS NOT NULL), ',') AS fail_reasons,
               array_to_string(list_filter([{fail_cases}], x -> x IS NOT NULL), ',') = '' AS gopher_pass
        FROM sig
    """


def _pii_oracle_sql() -> str:
    """redact_pii unrolled: the SAME catalog patterns (imported from the
    operator module, no drift) applied as a sequential case-insensitive
    global regexp_replace chain in the same sorted-label order; token
    counts via literal replace-length arithmetic."""
    from crawl4ai_spark.operators.regex_extract import PII_LABELS, select_patterns

    patterns = select_patterns(*PII_LABELS)
    base = (
        "(c_name || ' reach user' || c_custkey"
        " || '@example.com call +1 415 555 0133 from 10.0.0.'"
        " || (c_custkey % 250))"
    )
    # chained CTEs: each step counts its pattern on the PRE-replacement
    # text (engine semantics: n_redactions = actual replacements, immune
    # to label-token literals already present in the input)
    ctes = [f"s0 AS (SELECT c_custkey AS doc_id, {base} AS t FROM customer)"]
    count_cols = []
    for i, (label, regex) in enumerate(sorted(patterns.items()), start=1):
        rx = regex.replace("'", "''")
        prev_counts = ", ".join(f"c{j}" for j in range(1, i))
        carry = f", {prev_counts}" if prev_counts else ""
        ctes.append(
            f"s{i} AS (SELECT doc_id, "
            f"regexp_replace(t, '{rx}', '[{label.upper()}]', 'gi') AS t, "
            f"len(regexp_extract_all(t, '{rx}', 0, 'i')) AS c{i}{carry} FROM s{i-1})"
        )
        count_cols.append(f"c{i}")
    total = " + ".join(count_cols)
    return f"""
        WITH {", ".join(ctes)}
        SELECT doc_id, t AS redacted_text, CAST({total} AS INT) AS n_redactions
        FROM s{len(patterns)}
    """


def _c4_oracle_sql(min_line_words: int = 3, min_sentences: int = 5) -> str:
    return f"""
        WITH l AS (
            SELECT doc_id, coalesce(text, '') AS text, {_SQL_LINES} AS lines FROM documents),
        k AS (
            SELECT doc_id, text, lines,
                   list_filter(lines, x ->
                       substr(x, length(x), 1) IN ('.', '!', '?', '"', '”', '''')
                       AND len(regexp_split_to_array(x, '\\s+')) >= {min_line_words}
                       AND NOT contains(lower(x), 'javascript')) AS kept
            FROM l)
        SELECT doc_id,
               coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
               len(lines) AS n_lines,
               len(kept) AS n_lines_kept,
               contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
               contains(text, '{{') AS has_brace,
               len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''), '[.!?]')) AS n_sentences,
               (NOT contains(lower(text), 'lorem ipsum'))
                   AND (NOT contains(text, '{{'))
                   AND len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''), '[.!?]')) >= {min_sentences}
                   AND len(kept) > 0 AS c4_keep
        FROM k
    """


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """SimHash unrolled in SQL — possible because the engine's token hash
    is the cross-engine-portable md5-low-64 (``udf_simhash64``): per-token
    hash → 64 bit-votes per doc → the 4×16-bit chunks are built directly
    (chunk shifts stay < 16, dodging DuckDB's UBIGINT left-shift overflow
    check), pigeonhole self-join on equal chunks, hamming = sum of chunk
    XOR popcounts. Token cleaning matches the engine's TOKEN_SPLIT_RE /
    WORD_CHARS_RE / len>2 contract (= ``_CLEAN_TOKS``); docs with no
    surviving tokens keep the engine's all-zero signature via the grid
    left-join."""
    return f"""
        WITH th AS (
            SELECT doc_id, ('0x' || substr(md5(w), 1, 16))::UBIGINT AS hv
            FROM (SELECT doc_id, unnest({_CLEAN_TOKS}) AS w FROM documents)),
        votes AS (
            SELECT doc_id, b,
                   sum(CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
            FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bits
            GROUP BY doc_id, b),
        sim AS (
            SELECT doc_id, b // 16 AS chunk_idx,
                   sum(CASE WHEN vote > 0 THEN 1 << (b % 16) ELSE 0 END) AS chunk
            FROM votes GROUP BY doc_id, chunk_idx),
        ch AS (
            SELECT g.doc_id, g.chunk_idx, coalesce(s.chunk, 0) AS chunk
            FROM (SELECT doc_id, unnest(range(4)) AS chunk_idx FROM documents) g
            LEFT JOIN sim s ON g.doc_id = s.doc_id AND g.chunk_idx = s.chunk_idx),
        cand AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM ch x JOIN ch y
              ON x.chunk_idx = y.chunk_idx AND x.chunk = y.chunk
             AND x.doc_id < y.doc_id),
        ham AS (
            SELECT c.id_a, c.id_b,
                   sum(bit_count(xor(xa.chunk::BIGINT, xb.chunk::BIGINT))) AS hamming
            FROM cand c
            JOIN ch xa ON xa.doc_id = c.id_a
            JOIN ch xb ON xb.doc_id = c.id_b AND xb.chunk_idx = xa.chunk_idx
            GROUP BY 1, 2)
        SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
        FROM ham WHERE hamming <= {max_hamming}
    """


def _lsh_precision_oracles() -> dict[str, str]:
    """Exact oracles for the exact-verified LSH queries.

    Both queries verify every LSH candidate against the exact similarity
    before emitting, so precision is 1.0 by construction, and both are
    fully deterministic (seeded permutations / hyperplanes). The oracle
    is the corresponding exact all-pairs SQL: equality therefore checks
    *recall = 1.0 on this corpus with these parameters* (the parameters
    are chosen so the analytic miss probability is negligible: minhash
    16 bands × 4 rows at J ≥ 0.9 actual pair similarity → miss < 1e-8;
    hyperplane LSH 32 bands × 2 planes at cos ≥ 0.35 → miss < 3e-7 per
    pair). If a future corpus drops a marginal pair, this row goes red —
    that is a signal worth seeing, not an oracle bug."""
    return {
        "minhash_lsh_pairs": f"""
            WITH toks AS (SELECT doc_id, {_CLEAN_TOKS} AS w FROM documents),
            grams AS (
                SELECT doc_id, unnest(list_distinct(
                    CASE WHEN len(w) >= 3
                         THEN [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
                         ELSE [] END)) AS shingle
                FROM toks),
            sizes AS (SELECT doc_id, count(*) AS set_size FROM grams GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(n_inter * 1.0 / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON id_a = sa.doc_id
            JOIN sizes sb ON id_b = sb.doc_id
            WHERE n_inter * 1.0 / (sa.set_size + sb.set_size - n_inter) >= 0.3
        """,
        "cosine_neardup_lsh": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.35
        """,
    }


def _langid_fragments() -> tuple[str, str, str]:
    """(hit_cols, case_expr, langs_csv) for the stopword-panel language
    ID — the panels are imported from the operator module so oracle and
    engine can never drift."""
    from crawl4ai_spark.operators.textstats import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    hit_cols = ",\n                   ".join(
        "len(list_filter(["
        + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        + f"], w -> list_contains(t, w))) AS {lang}"
        for lang in langs
    )
    # argmax with lexicographic-min tie-break: langs tested in sorted order
    case = " ".join(f"WHEN {lang} = m THEN '{lang}'" for lang in langs)
    return hit_cols, case, ", ".join(langs)


def _token_stats_oracle_sql() -> str:
    """token_stats twin: whitespace/BPE budgets + quality + stopword-panel
    lang_pred per doc (the former standalone langid rollup folded in as a
    per-doc column — strictly stronger than the old confusion matrix)."""
    hit_cols, case, langs = _langid_fragments()
    return rf"""
        WITH base AS (
            SELECT doc_id, text,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS t
            FROM documents),
        hits AS (
            SELECT doc_id, text,
                   {hit_cols}
            FROM base),
        pred AS (
            SELECT doc_id, text, CASE {case} END AS lang_pred
            FROM (SELECT *, greatest({langs}) AS m FROM hits))
        SELECT doc_id, {_NTOK} AS n_tokens, length(text) AS text_chars,
               {_bpe_count_sql()} AS n_bpe_tokens,
               {_QUALITY_SQL} AS quality, lang_pred
        FROM pred
    """


def _ccnet_oracle_sql() -> str:
    """Full-equality twin of ``_q_ccnet_corpus`` (operators/ccnet.py):
    same deterministic paragraph synthesis (newline every 8 words), the
    paper's paragraph normalization, keep-global-first dedup (grouping on
    the normalized STRING — ground truth for the engine's xxhash64 key),
    stopword-panel language gate, Stupid-Backoff trigram scoring over the
    deduplicated text, and per-language head/middle/tail thirds derived
    from the same rounded-score histogram with the same cumulative-
    fraction cutoffs."""
    hit_cols, case, langs = _langid_fragments()
    hf = 1.0 / 3.0
    mf = 2.0 / 3.0
    return rf"""
        WITH para_src AS (
            SELECT doc_id,
                   regexp_replace(text, '((?:\S+ ){{8}})', '\1' || chr(10), 'g') AS text
            FROM documents),
        arr AS (SELECT doc_id, string_split(text, chr(10)) AS pt FROM para_src),
        paras AS (
            SELECT doc_id, pos AS para_idx, pt[pos + 1] AS para
            FROM (SELECT doc_id, pt,
                         unnest(generate_series(0, len(pt) - 1)) AS pos
                  FROM arr)
            WHERE length(trim(pt[pos + 1])) > 0),
        norm AS (
            SELECT doc_id, para_idx, para,
                   trim(regexp_replace(regexp_replace(regexp_replace(
                       lower(para), '[0-9]', '0', 'g'),
                       '[^a-z0 ]', '', 'g'),
                       ' +', ' ', 'g')) AS np
            FROM paras),
        kept AS (
            SELECT doc_id, para_idx, para
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY np ORDER BY doc_id, para_idx) AS rn
                  FROM norm)
            WHERE rn = 1),
        totals AS (SELECT doc_id, count(*) AS n_paras_total FROM paras GROUP BY doc_id),
        surv AS (
            SELECT k.doc_id, t.n_paras_total, count(*) AS n_paras_kept,
                   string_agg(k.para, chr(10) ORDER BY k.para_idx) AS text_dedup
            FROM kept k JOIN totals t USING (doc_id)
            GROUP BY k.doc_id, t.n_paras_total),
        ltoks AS (
            SELECT *, regexp_split_to_array(lower(trim(text_dedup)), '\s+') AS t
            FROM surv),
        lhits AS (
            SELECT doc_id, n_paras_total, n_paras_kept, text_dedup,
                   {hit_cols}
            FROM ltoks),
        lang AS (
            SELECT doc_id, n_paras_total, n_paras_kept, text_dedup,
                   m AS lang_hits, CASE {case} END AS lang_pred
            FROM (SELECT *, greatest({langs}) AS m FROM lhits)
            WHERE m >= 1),
        ctoks0 AS (
            SELECT doc_id, {_CLEAN_TOKS} AS ct
            FROM (SELECT doc_id, text_dedup AS text FROM lang)),
        toks AS (
            SELECT doc_id, pos, ct[pos + 1] AS w
            FROM (SELECT doc_id, ct,
                         unnest(generate_series(0, len(ct) - 1)) AS pos
                  FROM ctoks0 WHERE len(ct) > 0)),
        ctx AS (
            SELECT doc_id, pos, w,
                   lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                   lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM toks),
        uni AS (SELECT w, count(*) AS c1 FROM toks GROUP BY w),
        tot AS (SELECT sum(c1) AS n_total FROM uni),
        big AS (SELECT w1, w, count(*) AS c2 FROM ctx
                WHERE w1 IS NOT NULL GROUP BY w1, w),
        tri AS (SELECT w2, w1, w, count(*) AS c3 FROM ctx
                WHERE w2 IS NOT NULL GROUP BY w2, w1, w),
        lm_scored AS (
            SELECT c.doc_id,
                   CASE
                     WHEN c.w2 IS NOT NULL THEN
                       CASE WHEN t3.c3 IS NOT NULL THEN t3.c3 / bd.c2
                            WHEN bn.c2 IS NOT NULL
                                 THEN 0.4 * (bn.c2 / ud.c1)
                            ELSE 0.4 * (0.4 * (un.c1 / tot.n_total)) END
                     WHEN c.w1 IS NOT NULL THEN
                       CASE WHEN bn.c2 IS NOT NULL THEN bn.c2 / ud.c1
                            ELSE 0.4 * (un.c1 / tot.n_total) END
                     ELSE un.c1 / tot.n_total
                   END AS s
            FROM ctx c
            LEFT JOIN tri t3 ON t3.w2 = c.w2 AND t3.w1 = c.w1 AND t3.w = c.w
            LEFT JOIN big bd ON bd.w1 = c.w2 AND bd.w = c.w1
            LEFT JOIN big bn ON bn.w1 = c.w1 AND bn.w = c.w
            LEFT JOIN uni ud ON ud.w = c.w1
            LEFT JOIN uni un ON un.w = c.w
            CROSS JOIN tot),
        per_doc AS (
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(log10(s)), 6) AS lm_logscore
            FROM lm_scored GROUP BY doc_id),
        frame AS (
            SELECT l.*, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
                   p.lm_logscore, round(p.lm_logscore, 3) AS b
            FROM lang l LEFT JOIN per_doc p USING (doc_id)),
        hist AS (
            SELECT lang_pred, b, count(*) AS c FROM frame
            WHERE lm_logscore IS NOT NULL GROUP BY 1, 2),
        fr AS (
            SELECT lang_pred, b,
                   sum(c) OVER (PARTITION BY lang_pred ORDER BY b DESC) * 1.0 /
                   sum(c) OVER (PARTITION BY lang_pred) AS frac
            FROM hist),
        cuts AS (
            SELECT lang_pred,
                   max(CASE WHEN frac >= {hf!r} THEN b END) AS c1,
                   max(CASE WHEN frac >= {mf!r} THEN b END) AS c2
            FROM fr GROUP BY lang_pred)
        SELECT f.doc_id, f.lang_pred, f.lang_hits, f.n_paras_total,
               f.n_paras_kept, f.n_tokens, f.lm_logscore,
               CASE WHEN f.b >= c.c1 THEN 'head'
                    WHEN f.b >= c.c2 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket,
               md5(f.text_dedup) AS dedup_md5
        FROM frame f LEFT JOIN cuts c USING (lang_pred)
    """


def _qc_weights_offline(
    n_buckets: int, sample: int, iters: int
) -> tuple[list[float], float]:
    """Retrain the quality classifier without Spark: same hash-ordered
    sample (pure-Python xxhash64 replica, parity-pinned in tests), same
    shared ``featurize``/``lr_train`` core — the engine and oracle paths
    cannot drift on the math, only on the sample, and the sample order is
    exact."""
    import duckdb

    from crawl4ai_spark.functions.fingerprint import xxhash64_longs
    from crawl4ai_spark.operators.quality_classifier import featurize, lr_train

    path = os.path.join(_oracle_sf_dir(), "documents.parquet")
    con = duckdb.connect()
    rows = con.execute(f"SELECT doc_id, text, lang FROM '{path}'").fetchall()
    con.close()
    rows.sort(key=lambda r: (xxhash64_longs(r[0]), r[0]))
    rows = rows[:sample]
    feats = [featurize(r[1] or "", n_buckets) for r in rows]
    labels = [1 if r[2] == "en" else 0 for r in rows]
    return lr_train(feats, labels, n_buckets, iters=iters)


def _quality_classifier_oracle_sql() -> str:
    """Scoring + Pareto selection unrolled in SQL over offline-retrained
    weight literals: DSIR-contract gram buckets, the identical
    bucket-ordered float fold for the logit (list_reduce over an
    ORDER BY b array — the same IEEE sequence the engine's
    ``F.aggregate`` fold computes), sigmoid rounded to 6, and the
    md5-uniform Pareto(9) keep rule."""
    import math

    weights, bias = _qc_weights_offline(_QC_BUCKETS, _QC_SAMPLE, _QC_ITERS)
    wt_rows = ", ".join(f"({b}, {w!r})" for b, w in enumerate(weights))
    no_feat = round(1.0 / (1.0 + math.exp(-bias)), 6)
    return f"""
        WITH tok AS (SELECT doc_id, {_CLEAN_TOKS} AS w FROM documents),
        grams AS (
            SELECT doc_id, unnest(list_concat(w,
                CASE WHEN len(w) >= 2
                     THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
                     ELSE [] END)) AS g
            FROM tok),
        buck AS (SELECT doc_id,
                        ('0x' || substr(md5(g), 1, 13))::BIGINT % {_QC_BUCKETS} AS b
                 FROM grams),
        dc AS (SELECT doc_id, b, count(*) AS c FROM buck GROUP BY 1, 2),
        tots AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot FROM dc GROUP BY 1),
        wt AS (SELECT * FROM (VALUES {wt_rows}) AS t(b, w)),
        terms AS (
            SELECT dc.doc_id, dc.b,
                   wt.w * (CAST(dc.c AS DOUBLE) / CAST(tots.tot AS DOUBLE)) AS term
            FROM dc JOIN wt USING (b) JOIN tots USING (doc_id)),
        pd AS (
            SELECT t.doc_id, tots.tot AS n_grams,
                   list_reduce(
                       list_prepend(CAST({bias!r} AS DOUBLE),
                                    array_agg(t.term ORDER BY t.b)),
                       (a, x) -> a + x) AS logit
            FROM terms t JOIN tots USING (doc_id)
            GROUP BY t.doc_id, tots.tot),
        scored AS (
            SELECT d.doc_id,
                   CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
                   coalesce(round(1.0 / (1.0 + exp(-pd.logit)), 6),
                            {no_feat!r}) AS qc_score
            FROM documents d LEFT JOIN pd USING (doc_id)),
        par AS (
            SELECT *,
                   round(pow(1.0 - ((('0x' || substr(md5('qc:' ||
                       CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT::DOUBLE + 0.5)
                       / {float(16 ** 13)!r}), -1.0 / 9.0) - 1.0, 6)
                       AS pareto_draw
            FROM scored)
        SELECT doc_id, n_grams, qc_score, pareto_draw,
               CASE WHEN pareto_draw > round(1.0 - qc_score, 6)
                    THEN 1 ELSE 0 END AS keep
        FROM par
    """


def _oracle_sf_dir() -> str:
    """The sf dir the driver's oracle compare runs at (contractually
    sf0.01; scripts/check_oracle.py overrides via env when pointed at a
    different scale). Only the centroid-literal oracles are data-dependent
    — everything else is scale-generic SQL."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _kmeans_centroids_offline(k: int, iters: int, sample: int = 10_000, seed: int = 42):
    """Recompute ``operators.similarity.kmeans_centroids`` without Spark:
    same id-hash sample order (pure-Python replica of Spark's xxhash64
    fold, parity-pinned in tests), same shared ``lloyd_kmeans`` core —
    the two code paths cannot drift on the math, only on the sample, and
    the sample order is exact. Returns (centroids, embeddings_rows)."""
    import duckdb
    import numpy as np

    from crawl4ai_spark.functions.fingerprint import xxhash64_longs
    from crawl4ai_spark.operators.similarity import lloyd_kmeans

    path = os.path.join(_oracle_sf_dir(), "embeddings.parquet")
    con = duckdb.connect()
    rows = con.execute(f"SELECT vec_id, embedding FROM '{path}'").fetchall()
    con.close()
    rows.sort(key=lambda r: (xxhash64_longs(r[0], seed), r[0]))
    data = np.asarray([list(r[1]) for r in rows[:sample]], dtype=np.float64)
    return lloyd_kmeans(data, k, iters, seed), rows


def _ivf_assign_sql(centroids) -> str:
    """CTE prefix mirroring ``ivf_assign``'s literal-path column algebra:
    per-vector cosine against each centroid literal, cell = first argmax
    (Spark ``array_position(sims, array_max(sims)) - 1`` ≡ DuckDB
    ``list_position(sims, list_max(sims)) - 1``, both first-occurrence
    1-based)."""
    sims = ", ".join(
        "list_inner_product(ev, [" + ", ".join(repr(float(x)) for x in c) + "])"
        " / sqrt(list_inner_product(ev, ev))"
        for c in centroids
    )
    return f"""
        v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        s AS (SELECT vec_id, ev, [{sims}] AS sims FROM v),
        a AS (SELECT vec_id, ev, list_position(sims, list_max(sims)) - 1 AS cell FROM s)
    """


def _semantic_dedup_oracle_sql(k: int = 16, iters: int = 8, threshold: float = 0.35) -> str:
    """SemDeDup kept set unrolled in SQL over exported centroid literals:
    assign (literal column algebra), within-cell pairs ≥ threshold at the
    engine's rounding, drop any row with a smaller-id near-dup."""
    centroids, _ = _kmeans_centroids_offline(k=k, iters=iters)
    return f"""
        WITH {_ivf_assign_sql(centroids)},
        drops AS (
            SELECT DISTINCT y.vec_id
            FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
            WHERE round(list_cosine_similarity(x.ev, y.ev), 6) >= {threshold})
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM drops)
    """


_COSINE_TOPK_SQL = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 4) AS cosine_sim
    FROM embeddings, q
    ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 4) DESC, vec_id
    LIMIT 10
"""


def _centroid_oracles() -> dict[str, str]:
    """Data-dependent oracles (centroid / hyperplane literals recomputed
    from the oracle-scale parquet). Isolated so a failure to read the
    parquet degrades these rows to rows-only instead of breaking
    oracle_sql for everything."""
    try:
        ann_sql = _ann_topk_lsh_oracle_sql(k=10, n_planes=10, probe_hamming=2)
        return {
            "semantic_dedup": _semantic_dedup_oracle_sql(k=16, iters=8, threshold=0.35),
            "ivf_topk": _ivf_topk_oracle_sql(k_centroids=8, iters=5, n_probe=3, k=10),
            "ann_topk_battery": f"""
                SELECT 'brute' AS method, * FROM ({_COSINE_TOPK_SQL})
                UNION ALL
                SELECT 'lsh' AS method, * FROM ({ann_sql})
            """,
            "bpe_tokenize": _bpe_tokenize_oracle_sql(
                n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
            ),
        }
    except Exception:  # noqa: BLE001 — missing parquet ⇒ rows-only check
        return {}


def _bpe_tokenize_oracle_sql(n_merges: int, max_words: int) -> str:
    """BPE tokenize-stats twin: retrain the merge table OFFLINE from the
    oracle-scale parquet (DuckDB word counts under the same BPE_SPLIT_RE
    contract the engine's Java-regex path is pinned to, same deterministic
    count-desc/word-asc head, same shared ``bpe_train_merges`` core — the
    centroid-literal pattern of semantic_dedup), then export the encoded
    vocabulary as a literal (word, n_pieces) table and re-aggregate in
    pure SQL. Any drift in pre-tokenization, training order, or encoding
    between the distributed and offline paths hash-mismatches."""
    import duckdb

    from crawl4ai_spark.operators.bpe import bpe_train_merges, encode_word
    from crawl4ai_spark.operators.textstats import BPE_SPLIT_RE

    path = os.path.join(_oracle_sf_dir(), "documents.parquet")
    re_sql = BPE_SPLIT_RE.replace("'", "''")
    con = duckdb.connect()
    wc = con.execute(
        f"""SELECT word, count(*) AS c
            FROM (SELECT unnest(regexp_extract_all(text, '{re_sql}')) AS word
                  FROM '{path}')
            GROUP BY word ORDER BY c DESC, word LIMIT {max_words}"""
    ).fetchall()
    vocab = [
        r[0]
        for r in con.execute(
            f"""SELECT DISTINCT unnest(regexp_extract_all(text, '{re_sql}')) AS w
                FROM '{path}' ORDER BY w"""
        ).fetchall()
    ]
    con.close()
    ranks = {tuple(p): i for i, p in enumerate(bpe_train_merges(wc, n_merges))}
    rows = ", ".join(
        "('{w}', {n})".format(w=w.replace("'", "''"), n=len(encode_word(w, ranks)))
        for w in vocab
    )
    return f"""
        WITH vocab(word, n_pieces) AS (VALUES {rows}),
        words AS (SELECT doc_id, unnest(regexp_extract_all(text, '{re_sql}')) AS word
                  FROM documents),
        per_doc AS (SELECT w.doc_id, count(*) AS n_words, sum(v.n_pieces) AS n_pieces
                    FROM words w JOIN vocab v USING (word) GROUP BY w.doc_id)
        SELECT d.doc_id,
               CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(p.n_pieces, 0) AS BIGINT) AS n_pieces
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """


def _ann_topk_lsh_oracle_sql(
    k: int = 10, n_planes: int = 10, probe_hamming: int = 2, seed: int = 42
) -> str:
    """Multi-probe hyperplane-LSH top-k unrolled in SQL: the Gaussian
    planes are seeded literals (same ``RandomState(seed)`` draw as
    ``hyperplane_signatures``), the query's probe-bucket set is
    recomputed in the builder exactly as ``ann_topk_lsh`` does, then the
    brute-force rerank is restricted to vectors whose literal-projection
    sign bucket falls in that set — fully deterministic end to end."""
    import duckdb
    import numpy as np

    path = os.path.join(_oracle_sf_dir(), "embeddings.parquet")
    con = duckdb.connect()
    query = con.execute(f"SELECT embedding FROM '{path}' WHERE vec_id = 0").fetchone()[0]
    con.close()
    dim = len(query)
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    qbits = (planes @ np.asarray(query, dtype=np.float64) > 0).astype(int)
    qbucket = int((qbits * (1 << np.arange(n_planes))).sum())
    buckets = {qbucket}
    if probe_hamming >= 1:
        for i in range(n_planes):
            buckets.add(qbucket ^ (1 << i))
    if probe_hamming >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                buckets.add(qbucket ^ (1 << i) ^ (1 << j))
    bucket_expr = " + ".join(
        f"(CASE WHEN list_inner_product(ev, ["
        + ", ".join(repr(float(w)) for w in planes[i])
        + f"]) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    probe_list = ", ".join(str(b) for b in sorted(buckets))
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        sig AS (SELECT vec_id, ev, {bucket_expr} AS bucket FROM v),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, round(list_cosine_similarity(ev, qv), 6) AS cosine_sim
        FROM sig, q WHERE bucket IN ({probe_list})
        ORDER BY cosine_sim DESC, vec_id
        LIMIT {k}
    """


def _ivf_topk_oracle_sql(k_centroids: int = 8, iters: int = 5, n_probe: int = 3, k: int = 10) -> str:
    """IVF top-k unrolled in SQL: the probe-cell set is recomputed in the
    builder exactly as ``ivf_topk`` does (normalized query · centroids,
    top ``n_probe``), then brute-force rerank restricted to those cells."""
    import numpy as np

    centroids, rows = _kmeans_centroids_offline(k=k_centroids, iters=iters)
    query = next(list(r[1]) for r in rows if r[0] == 0)
    q = np.asarray(query, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probes = ", ".join(str(int(c)) for c in np.argsort(-(centroids @ q))[:n_probe])
    return f"""
        WITH {_ivf_assign_sql(centroids)},
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, round(list_cosine_similarity(ev, qv), 4) AS cosine_sim
        FROM a, q WHERE cell IN ({probes})
        ORDER BY cosine_sim DESC, vec_id
        LIMIT {k}
    """


def _bpe_count_sql() -> str:
    """regexp token count sharing the engine's BPE_SPLIT_RE verbatim
    (apostrophes doubled for the SQL literal)."""
    from crawl4ai_spark.operators.textstats import BPE_SPLIT_RE

    return f"len(regexp_extract_all(text, '{BPE_SPLIT_RE.replace(chr(39), chr(39) * 2)}'))"


def _curated_corpus_oracle_sql() -> str:
    hit_cols, case, langs = _langid_fragments()
    return rf"""
        WITH toks AS (
            SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS t
            FROM documents),
        hits AS (
            SELECT doc_id, text,
                   {hit_cols}
            FROM toks),
        langed AS (
            SELECT doc_id, text, CASE {case} END AS lang_pred
            FROM (SELECT *, greatest({langs}) AS m FROM hits)),
        scored AS (
            SELECT doc_id, text, lang_pred, {_QUALITY_SQL} AS quality FROM langed),
        surv AS (
            SELECT * FROM scored WHERE quality >= 0.75 AND lang_pred = 'en'),
        firsts AS (
            SELECT min(doc_id) AS doc_id FROM surv GROUP BY md5(text))
        SELECT doc_id, ({_NTOK}) AS n_tokens, quality
        FROM surv WHERE doc_id IN (SELECT doc_id FROM firsts)
    """


def _link_graph_oracle_sql(iters: int, damping: float) -> str:
    """Unrolled PageRank + HITS over the deterministic doc-link graph,
    mirroring operators/graph.pagerank and operators/graph.hits exactly:
    per-iteration round(·, 9), HITS max-normalization (authorities from
    hubs, hubs from the NEW authorities), dangling direction 0."""
    prologue = """
        WITH edges AS MATERIALIZED (
            SELECT doc_id AS src,
                   (doc_id * 131 + k) % (SELECT count(*) FROM documents) AS dst
            FROM documents, unnest([1, 2, 3]) AS u(k)),
        e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        outdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        r0 AS MATERIALIZED (SELECT node, round(1.0 / (SELECT count(*) FROM nodes), 9) AS rank
               FROM nodes),
        h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)"""
    its = []
    for i in range(1, iters + 1):
        its.append(f"""
        r{i} AS MATERIALIZED (
            SELECT nd.node,
                   round((SELECT {1.0 - damping} / count(*) FROM nodes)
                         + {damping} * coalesce(f.inflow, 0.0), 9) AS rank
            FROM nodes nd LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / d.outdeg) AS inflow
                FROM e JOIN r{i - 1} r ON e.src = r.node
                       JOIN outdeg d ON e.src = d.src
                GROUP BY e.dst) f USING (node)),
        ar{i} AS MATERIALIZED (
            SELECT nd.node, coalesce(s.v, 0.0) AS v
            FROM nodes nd LEFT JOIN (
                SELECT e.dst AS node, sum(h.hub) AS v
                FROM e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst) s
            USING (node)),
        a{i} AS MATERIALIZED (
            SELECT node,
                   CASE WHEN (SELECT max(v) FROM ar{i}) > 0
                        THEN round(v / (SELECT max(v) FROM ar{i}), 9)
                        ELSE 0.0 END AS authority
            FROM ar{i}),
        hr{i} AS MATERIALIZED (
            SELECT nd.node, coalesce(s.v, 0.0) AS v
            FROM nodes nd LEFT JOIN (
                SELECT e.src AS node, sum(a.authority) AS v
                FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src) s
            USING (node)),
        h{i} AS MATERIALIZED (
            SELECT node,
                   CASE WHEN (SELECT max(v) FROM hr{i}) > 0
                        THEN round(v / (SELECT max(v) FROM hr{i}), 9)
                        ELSE 0.0 END AS hub
            FROM hr{i})""")
    return (
        prologue
        + ","
        + ",".join(its)
        + f"""
        SELECT r.node, round(r.rank, 6) AS rank, round(h.hub, 6) AS hub,
               round(a.authority, 6) AS authority
        FROM r{iters} r JOIN h{iters} h USING (node) JOIN a{iters} a USING (node)"""
    )

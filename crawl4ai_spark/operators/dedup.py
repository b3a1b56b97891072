"""Deduplication operators for web-scale training-data pipelines.

Exact + near-duplicate detection over a ``documents(doc_id, text)`` table:

- **exact**: hash-groupBy on content digest (one shuffle, map-side
  partial agg).
- **n-gram Jaccard (exact)**: prefix-filtered set-similarity join — global
  shingle rarity order, index only each doc's prefix (|X| − ⌈t·|X|⌉ + 1
  rarest shingles; any pair with Jaccard ≥ t must collide in the prefix),
  then verify candidates with a native ``array_intersect``. The classic
  SSJoin/PPJoin prefix bound (cf. PAPERS.md set-similarity-join line of
  work) — candidate volume shrinks with the threshold instead of
  exploding on hot shingles.
- **MinHash + LSH (approximate)**: shingle hashes computed JVM-side with
  ``xxhash64`` inside a higher-order ``transform`` (no Python in the
  hashing hot path); a numpy pandas UDF reduces them to k-permutation
  signatures; banded buckets → candidate pairs → exact verification of
  candidates only. The 100 TB path: linear in corpus size.
- **SimHash**: 64-bit fingerprint + 16-bit-chunk banding for hamming-
  distance candidates (pigeonhole guarantee for distance ≤ 3).

All pair outputs are canonicalized to ``id_a < id_b`` and deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from crawl4ai_spark.operators.textstats import clean_terms_col

# ── exact ────────────────────────────────────────────────────────────────


def exact_duplicate_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical documents: (content_md5, n_dups, doc_ids)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.count("*").alias("n_dups"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .where(F.col("n_dups") > 1)
    )


def dedup_keep_first(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id representative of each exact-duplicate class."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return docs.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# ── shingles ─────────────────────────────────────────────────────────────


def kgram_rows(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, pos, gram) — one row per positioned word-n-gram: the
    shared front end of every shingle-family operator (MinHash / Jaccard
    shingles, winnowing fingerprints).

    Single-pass tokenization (posexplode evaluates the regex pipeline
    once per document), n-gram assembly via window ``lead`` over attribute
    references — no Python, no expression blowup.

    The raw docs are hash-repartitioned by doc id BEFORE the explode:
    that exchange carries the compact text rows (strictly fewer bytes
    than the exploded token rows the lead window would otherwise have to
    shuffle), it already satisfies the window's required distribution
    (only a partition-local sort remains), and it parallelizes the regex
    tokenizer across the cluster even when the input is a handful of
    splits (a single-split scan otherwise tokenizes on one core — 4×
    observed on the sf0.1 bench).
    """
    if not 1 <= n <= 16:
        # each +1 of n is one more window `lead` column; 16 covers every
        # published contamination/shingle width (GPT-3 decontamination
        # uses 13-grams) at negligible plan cost
        raise ValueError(f"n-gram width must be in [1, 16], got {n}")
    try:
        nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # "auto" on AQE-managed deployments
        nparts = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(nparts, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(clean_terms_col(F.col(text_col))).alias("pos", "tok"),
    )
    # leads + gram concat as SQL text: one py4j call instead of one per
    # expression node (n=13 decontamination builds ~40 nodes here)
    over = "OVER (PARTITION BY doc_id ORDER BY pos)"
    grams = toks.selectExpr(
        "doc_id",
        "pos",
        "tok AS t0",
        *[f"lead(tok, {i}) {over} AS t{i}" for i in range(1, n)],
    ).where(f"t{n - 1} IS NOT NULL")
    return grams.selectExpr(
        "doc_id",
        "pos",
        "concat_ws(' ', " + ", ".join(f"t{i}" for i in range(n)) + ") AS gram",
    )


def shingle_hash_rows(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, shingle:int64) — one row per distinct word-n-gram, hashed
    JVM-side with xxhash64 (see :func:`kgram_rows` for the scale shape).
    n=1 → term sets (the consistency_stats estimator)."""
    assert 1 <= n <= 16
    return (
        kgram_rows(docs, id_col, text_col, n)
        .select("doc_id", F.xxhash64("gram").alias("shingle"))
        .distinct()
    )


def doc_shingle_sets(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, hashes array<long>, set_size) — aggregated from the k-gram
    row pipeline in ONE shuffle: ``collect_set`` dedups inside the hash
    aggregation (map-side partial sets), replacing the previous
    distinct-then-collect_list two-shuffle plan. Consumers are all
    order-insensitive (array_intersect verify, per-element min-hash
    signatures)."""
    return (
        kgram_rows(docs, id_col, text_col, n)
        .select("doc_id", F.xxhash64("gram").alias("shingle"))
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("hashes"))
        .withColumn("set_size", F.size("hashes"))
        .where(F.col("set_size") > 0)
    )


def _verify_pairs(candidates: DataFrame, base: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard of candidate (id_a, id_b) pairs via array_intersect
    over hashed shingle sets (native, no shingle-level shuffle)."""
    a = base.select(
        F.col("doc_id").alias("id_a"), F.col("hashes").alias("sh_a"), F.col("set_size").alias("size_a")
    )
    b = base.select(
        F.col("doc_id").alias("id_b"), F.col("hashes").alias("sh_b"), F.col("set_size").alias("size_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", inter)
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool | None = None,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs ≥ threshold.

    Two physical strategies, auto-selected by threshold:

    - **prefix path** (t ≥ 0.25): index only each doc's |X|−⌈t|X|⌉+1
      globally-rarest shingles (SSJoin prefix bound — a pair with J ≥ t
      must collide in the prefix), then exact-verify candidates with a
      native array_intersect. Candidate volume shrinks as t grows.
    - **count path** (low t): full inverted-index self-join + pair-count
      aggregation — the prefix bound filters almost nothing below ~0.25,
      so the straight hash-join/hash-agg plan is cheaper.

    ``max_shingle_freq`` (count path only): a shingle present in G docs
    contributes G²/2 join rows, so one boilerplate shingle (cookie
    banner, footer) can dominate the self-join at corpus scale. When
    set, shingles with global frequency above the cap are excluded from
    candidate *generation* — a pair is still emitted if it shares ANY
    sub-cap shingle, and its Jaccard is then exact-verified over the
    FULL shingle sets (array_intersect), so emitted values never change;
    only pairs whose every common shingle is boilerplate are missed
    (graceful recall loss, the same contract as the MinHash/SimHash
    bucket caps). Default None = exhaustive; audit what a cap would
    drop with :func:`shingle_freq_stats` (no silent caps). The prefix
    path needs no cap — its rarest-first prefix index already excludes
    high-frequency shingles from the join unless a doc consists of
    almost nothing else.
    """
    # three consumers read the shingle rows (per-doc sets, global shingle
    # frequencies, the prefix index / join sides) — persist so the
    # tokenize+lead-window pipeline runs once, not three times (~40% off
    # the whole query; MEMORY_AND_DISK spills instead of recomputing at
    # scale, and ContextCleaner reclaims the entry when the frame is GC'd)
    sh = shingle_hash_rows(docs, id_col, text_col, n).persist()
    if prefix_filter is None:
        prefix_filter = threshold >= 0.25
    if prefix_filter:
        # ONE packed aggregation carries both the verify sets and the
        # prefix index: global shingle frequencies join onto the rows
        # (co-partitioned with the freq agg's own exchange), then a
        # single per-doc collect packs (gfreq, shingle) structs —
        # array_sort + slice extracts the |X|−⌈t|X|⌉+1 rarest shingles
        # natively (replaces a row_number window sort + a second
        # per-doc agg + a set_size re-join: two exchanges and a
        # partition sort cheaper per query). Like `sh` above, the persist
        # lives until the returned frame is GC'd — ContextCleaner
        # reclaims both entries (the lazy result still references them,
        # so an eager unpersist here would recompute the pipeline).
        freq = sh.groupBy("shingle").agg(F.count("*").alias("gfreq"))
        packed = (
            sh.join(freq, "shingle")
            .groupBy("doc_id")
            .agg(F.collect_list(F.struct("gfreq", "shingle")).alias("pairs"))
            .select(
                "doc_id",
                F.transform(F.col("pairs"), lambda p: p["shingle"]).alias("hashes"),
                F.size("pairs").alias("set_size"),
                F.transform(
                    F.slice(
                        F.array_sort("pairs"),
                        1,
                        (
                            F.size("pairs")
                            - F.ceil(F.lit(threshold) * F.size("pairs"))
                            + 1
                        ).cast("int"),
                    ),
                    lambda p: p["shingle"],
                ).alias("prefix"),
            )
            .persist()
        )
        index = packed.select("doc_id", F.explode("prefix").alias("shingle"))
        a = index.alias("a")
        b = index.alias("b")
        candidates = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .distinct()
        )
        return _verify_pairs(candidates, packed.select("doc_id", "hashes", "set_size"), threshold)
    base = (
        sh.groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("hashes"))
        .withColumn("set_size", F.size("hashes"))
    )
    if max_shingle_freq is not None:
        # capped count path: candidates from the frequency-bounded
        # inverted index, exact verification over the full sets
        freq = sh.groupBy("shingle").agg(F.count("*").alias("gfreq"))
        bounded = sh.join(
            freq.where(F.col("gfreq") <= max_shingle_freq).select("shingle"),
            "shingle",
            "left_semi",
        )
        a = bounded.alias("a")
        b = bounded.alias("b")
        candidates = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .distinct()
        )
        return _verify_pairs(candidates, base, threshold)
    # count path: aggregate intersection sizes directly from the join
    sizes = base.select("doc_id", "set_size")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.selectExpr("doc_id as id_a", "set_size as size_a"), "id_a")
        .join(sizes.selectExpr("doc_id as id_b", "set_size as size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ── MinHash + LSH ────────────────────────────────────────────────────────

_MERSENNE_P = np.uint64((1 << 61) - 1)


def _minhash_params(k: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, (1 << 61) - 1, size=k, dtype=np.uint64) | np.uint64(1)
    b = rng.randint(0, (1 << 61) - 1, size=k, dtype=np.uint64)
    return a, b


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    seed: int = 42,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, signature array<long>[k]) minhash signatures.

    ``shingle_sets``: precomputed :func:`doc_shingle_sets` frame — pass it
    when the caller also needs the sets (exact verification), so the
    tokenize+shingle pipeline is shared instead of rebuilt.

    Shingle → int64 happens JVM-side (``xxhash64`` inside a higher-order
    ``transform`` — zero Python per shingle); the pandas UDF only reduces
    the int64 arrays with vectorized universal hashing
    h_i(x) = (a_i·x + b_i) mod (2^61−1).
    """
    a_params, b_params = _minhash_params(k, seed)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("signature", ArrayType(LongType()))]
    )

    def sig(pdf: pd.DataFrame) -> pd.DataFrame:
        out_ids, out_sigs = [], []
        for doc_id, hashes in zip(pdf["doc_id"], pdf["hashes"]):
            if hashes is None or len(hashes) == 0:
                out_ids.append(doc_id)
                out_sigs.append([0] * k)
                continue
            xs = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
            prod = (a_params[:, None] * xs[None, :] + b_params[:, None]) % _MERSENNE_P
            out_ids.append(doc_id)
            out_sigs.append(prod.min(axis=1).astype(np.int64).tolist())
        return pd.DataFrame({"doc_id": out_ids, "signature": out_sigs})

    sets = shingle_sets if shingle_sets is not None else doc_shingle_sets(docs, id_col, text_col, n)
    hashed = sets.select("doc_id", "hashes")
    return hashed.mapInPandas(lambda it: (sig(pdf) for pdf in it), schema)


def lsh_banded_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, bucket) LSH band assignments.

    The per-band bucket hashes are SQL text, not Column trees — the
    bands × rows_per_band expression nodes cost one py4j round-trip each
    when composed in Python (~0.3 s of driver time at the 16×4 default;
    round-5 profile) but parse JVM-side in one call as a string."""
    assert k % bands == 0
    rows_per_band = k // bands
    sigs = minhash_signatures(docs, id_col, text_col, n, k, seed, shingle_sets)
    band_hashes = ", ".join(
        "hash(concat_ws('_', "
        + ", ".join(
            [str(b)]
            + [f"signature[{b * rows_per_band + r}]" for r in range(rows_per_band)]
        )
        + "))"
        for b in range(bands)
    )
    return sigs.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_hashes})")).alias("band", "bucket"),
    )


def bucket_stats(df: DataFrame, keys: list[str], min_size: int = 2) -> DataFrame:
    """(*keys, size) — the shared audit view behind every bucket-cap
    decision (MinHash bands, SimHash chunks, hyperplane-LSH pair buckets):
    no silent truncation — callers inspect what a cap would drop."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("size"))
        .where(F.col("size") >= min_size)
    )


def lsh_bucket_stats(banded: DataFrame, min_size: int = 2) -> DataFrame:
    """(band, bucket, size) — audit view for bucket-cap decisions."""
    return bucket_stats(banded, ["band", "bucket"], min_size)


def shingle_freq_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_freq: int = 2,
) -> DataFrame:
    """(shingle, size) — global shingle document frequencies ≥ min_freq:
    the audit view behind ``ngram_jaccard_pairs(max_shingle_freq=...)``
    (what would a cap at G drop? every shingle with size > G)."""
    return bucket_stats(shingle_hash_rows(docs, id_col, text_col, n), ["shingle"], min_freq)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    verify_exact: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH, optionally verified
    with exact Jaccard (candidates only — the scale-friendly path).

    ``max_bucket_size``: a bucket of B mutual duplicates yields B²/2
    candidate pairs, so one degenerate bucket (boilerplate pages, empty
    docs) can dominate the join at corpus scale. When set, buckets larger
    than the cap are excluded from the self-join — pairs inside them are
    still recoverable in OTHER bands (a true near-dup pair collides in
    ~threshold^rows_per_band of all bands), so recall degrades gracefully
    instead of the join exploding. Default None = exhaustive; audit what
    a cap would drop with :func:`lsh_bucket_stats` (no silent caps).
    """
    # the shingle sets feed BOTH the signature UDF and the exact-verify
    # join; persist so the tokenize+shingle pipeline runs once (spills via
    # MEMORY_AND_DISK at scale; ContextCleaner reclaims the entry)
    base = doc_shingle_sets(docs, id_col, text_col, n).persist() if verify_exact else None
    banded = lsh_banded_buckets(docs, id_col, text_col, n, k, bands, seed, shingle_sets=base)
    if max_bucket_size is not None:
        sizes = lsh_bucket_stats(banded, min_size=2)
        keep = sizes.where(F.col("size") <= max_bucket_size).select("band", "bucket")
        banded = banded.join(keep, ["band", "bucket"], "left_semi")
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    if not verify_exact:
        return candidates
    return _verify_pairs(candidates, base, threshold)


# ── SimHash ──────────────────────────────────────────────────────────────


def simhash_chunks(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash, chunk_idx, chunk) — the 4×16-bit banding."""
    from crawl4ai_spark.operators.textstats import udf_simhash64

    sigs = docs.select(F.col(id_col).alias("doc_id"), udf_simhash64(F.col(text_col)).alias("simhash"))
    return sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )


def simhash_chunk_stats(chunked: DataFrame, min_size: int = 2) -> DataFrame:
    """(chunk_idx, chunk, size) — audit view for the degenerate-chunk cap
    (the SimHash analog of :func:`lsh_bucket_stats`: near-empty /
    boilerplate corpora share identical 16-bit chunks)."""
    return bucket_stats(chunked, ["chunk_idx", "chunk"], min_size)


def simhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_chunk_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidates by SimHash banding (4×16-bit chunks ⇒ any pair
    within hamming distance 3 shares ≥1 exact chunk — pigeonhole).

    ``max_chunk_bucket_size``: one hot chunk value shared by B docs (all
    near-empty docs hash to similar signatures) yields B²/2 candidate
    pairs — the same blowup the LSH path caps with ``max_bucket_size``.
    When set, (chunk_idx, chunk) buckets larger than the cap are excluded
    from the self-join; a true low-hamming pair usually still collides on
    one of its other 3 chunks, so recall degrades gracefully instead of
    the join exploding. Default None = exhaustive (the pigeonhole
    guarantee holds); audit a cap first with :func:`simhash_chunk_stats`.
    """
    chunks = simhash_chunks(docs, id_col, text_col)
    if max_chunk_bucket_size is not None:
        sizes = simhash_chunk_stats(chunks, min_size=2)
        keep = sizes.where(F.col("size") <= max_chunk_bucket_size).select("chunk_idx", "chunk")
        chunks = chunks.join(keep, ["chunk_idx", "chunk"], "left_semi")
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.withColumn("hamming", hamming).where(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


# ── cross-document span dedup (C4-style) ─────────────────────────────────


def span_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 15,
) -> DataFrame:
    """Explode each document into non-overlapping ``span_tokens``-token
    spans with their position: ``(id, pos, span)``. Whitespace
    tokenization (the corpus-wide oracle contract, textstats.py); the
    final partial span is kept. Pure native array slicing — map-only."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_spans = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(F.slice(toks, i * span_tokens + 1, span_tokens), " "),
    )
    return (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("id"), F.posexplode(spans).alias("pos", "span"))
    )


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 15,
) -> DataFrame:
    """C4-style cross-document span deduplication (Raffel et al. 2020
    deduplicate repeated three-sentence spans; here the span unit is a
    fixed token window so it is corpus-agnostic): every span that occurs
    more than once in the corpus is kept only at its first occurrence
    (minimum ``(id, pos)``) and dropped everywhere else; each document
    is then reconstructed from its surviving spans in order.

    Scale shape: one hash shuffle keyed on the span to pick the keeper
    (``min(struct(id, pos))`` — map-side partial agg, no window over the
    whole corpus), a join back to the span rows, and one groupBy(id) to
    reassemble. Linear in corpus size; hot spans (boilerplate) cost one
    skewed reduce key each, not a pairwise blowup.

    Returns ``(id, dedup_text, n_spans, n_spans_kept)``.
    """
    rows = span_rows(docs, id_col, text_col, span_tokens)
    keepers = rows.groupBy("span").agg(F.min(F.struct("id", "pos")).alias("keep"))
    kept = rows.join(keepers, "span").withColumn(
        "_keep",
        (F.col("keep.id") == F.col("id")) & (F.col("keep.pos") == F.col("pos")),
    )
    return (
        kept.groupBy("id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("_keep").cast("int")).alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("pos", "span"))
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("dedup_text"),
        )
        .select("id", "dedup_text", "n_spans", "n_spans_kept")
    )


def exact_substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 15,
) -> DataFrame:
    """Exact-substring deduplication at token granularity (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"):
    every ``min_tokens``-token window that occurs more than once in the
    corpus keeps only its globally-first occurrence (minimum ``(id,
    pos)``) — every other site's covered tokens are deleted, overlapping
    duplicate windows merging naturally. Unlike :func:`span_dedup` (C4's
    fixed non-overlapping spans), the window SLIDES at stride 1, so
    duplicated passages are caught at any alignment — the property the
    paper's suffix-array formulation provides on one node, re-expressed
    as distributed hash-gram aggregation.

    Scale shape: tokens are hashed once per doc (map-side); sliding gram
    keys are chained xxhash64 folds over 8-byte token hashes, so the
    shuffle carries one ``(ghash, id, pos)`` row per token — the
    algorithm's inherent O(total tokens) — into one hash aggregation
    (map-side partial ``min(struct)``/count) plus one join back. Doc
    reconstruction never explodes tokens: duplicate starts fold into a
    covered-position array and ``array_except(sequence(n), covered)``
    rebuilds the keep-list in O(n) per doc (hash-set semantics — no
    quadratic exists() scan even on fully-duplicated documents).

    Returns ``(id, dedup_text, n_tokens, n_tokens_kept)`` for every
    non-empty-text document.
    """
    try:
        nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # "auto" on AQE-managed deployments
        nparts = docs.sparkSession.sparkContext.defaultParallelism
    L = int(min_tokens)
    base = (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .repartition(nparts, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
        )
    )
    # gram_hash[i] = fold of xxhash64 over token hashes [i, i+L): tokens
    # hashed once, then L-long folds over longs — all before the explode
    tok_hashes = F.transform("toks", lambda t: F.xxhash64(t))
    grams = F.when(
        F.size("toks") >= L,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - L),
            lambda i: F.aggregate(
                F.slice(tok_hashes, i + 1, L),
                F.lit(0).cast("long"),
                lambda acc, x: F.xxhash64(acc, x),
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    sites = base.select("id", F.posexplode(grams).alias("pos", "ghash"))
    keepers = sites.groupBy("ghash").agg(
        F.min(F.struct("id", "pos")).alias("keep"), F.count("*").alias("cnt")
    )
    dup_sites = (
        sites.join(keepers.where(F.col("cnt") > 1), "ghash")
        .where(~((F.col("keep.id") == F.col("id")) & (F.col("keep.pos") == F.col("pos"))))
        .select("id", "pos")
    )
    covered = dup_sites.groupBy("id").agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.sequence(F.col("pos"), F.col("pos") + (L - 1)))
            )
        ).alias("covered")
    )
    joined = base.join(covered, "id", "left").select(
        "id",
        "toks",
        F.coalesce("covered", F.array().cast("array<int>")).alias("covered"),
    )
    kept_pos = F.array_sort(
        F.array_except(F.sequence(F.lit(0), F.size("toks") - 1), F.col("covered"))
    )
    out = joined.select(
        "id",
        F.array_join(
            F.transform(kept_pos, lambda p: F.element_at("toks", p + 1)), " "
        ).alias("dedup_text"),
        F.size("toks").alias("n_tokens"),
        (F.size("toks") - F.size("covered")).alias("n_tokens_kept"),
    )
    return out


# ── benchmark decontamination (GPT-3 appendix C / PaLM) ──────────────────


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
    broadcast_bench: bool | None = None,
    max_broadcast_grams: int = 2_000_000,
) -> DataFrame:
    """Flag training documents that share any word-``n``-gram with a
    benchmark/eval corpus — the GPT-3 decontamination rule (Brown et al.
    2020 appendix C uses 13-grams; PaLM uses 8). Returns EVERY input doc
    as ``(doc_id, n_contaminated_grams, contaminated)`` so the caller
    chooses drop vs audit.

    Scale shape: both sides reduce to distinct 8-byte xxhash64 shingle
    rows through the shared k-gram front end (:func:`kgram_rows` —
    repartition-before-explode, window ``lead``, no Python). The
    benchmark gram set is usually tiny next to a training corpus, but a
    realistic eval battery can still carry tens of millions of distinct
    13-grams — past driver/broadcast limits — so the join strategy is
    AUTO-selected by default (``broadcast_bench=None``): a capped
    ``limit(max_broadcast_grams+1).count()`` probe (one extra bench-side
    pass, cheap by the same smallness assumption) broadcasts only when
    the distinct-gram count fits, else falls back to a hash join keyed
    on the 8-byte shingle. ``broadcast_bench=True``/``False`` forces
    either path. Per-doc hit counts come from one partial-aggregated
    groupBy, and the final left join returns clean docs with zero counts.
    """
    doc_grams = shingle_hash_rows(docs, id_col, text_col, n)
    bench_grams = (
        shingle_hash_rows(benchmark, bench_id_col, bench_text_col, n)
        .select("shingle")
        .distinct()
    )
    if broadcast_bench is None:
        probe = bench_grams.limit(max_broadcast_grams + 1).count()
        broadcast_bench = probe <= max_broadcast_grams
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    hits = (
        doc_grams.join(bench_grams, "shingle", "inner")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_contaminated_grams"), F.lit(0)).alias(
                "n_contaminated_grams"
            ),
            (F.coalesce(F.col("n_contaminated_grams"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )

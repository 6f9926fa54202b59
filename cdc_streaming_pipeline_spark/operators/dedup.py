"""Deduplication operators for training-data pipelines.

Four families, all shared-nothing / shuffle-minimal so they scale to 100 TB:

- exact:     hash-groupBy on a normalization fingerprint (1 shuffle).
- MinHash+LSH: shingle → k minhashes → b bands → bucket self-join →
               exact Jaccard verify. Candidate generation never compares
               all pairs: the join key is (band_id, band_hash), so work is
               proportional to bucket collisions, not n².
- SimHash:   64-bit sign-fingerprint of token hashes; near-dup = small
             Hamming distance; banding the 64 bits gives the candidate join.
- embedding: cosine near-dup — exact threshold self-join for small n,
             LSH-bucketed (random hyperplanes) for scale
             (operators/similarity.py).

Everything is built from JVM-side expressions (xxhash64, transform,
aggregate) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.functions.textfn import normalize_ws, tokens
from cdc_streaming_pipeline_spark.sources.tables import fan_out, keep


# ---------------------------------------------------------------- exact --
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: keep the lowest-id representative
    per fingerprint, count the copies. One shuffle on the fingerprint."""
    fp = F.md5(normalize_ws(F.col(text_col)))
    return (
        df.withColumn("fp", fp)
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


# ------------------------------------------------------------- shingles --
def word_shingles(text: Column, n: int = 3) -> Column:
    """Sliding word n-grams as an array<string> (distinct)."""
    toks = tokens(normalize_ws(text))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.array_distinct(grams)


# -------------------------------------------------------------- minhash --
def _seeded_rehash(seed: int):
    """1-arg rehasher closing over the seed. A 2-arg lambda would make
    F.transform pass the array INDEX as the second argument, silently
    replacing the seed — the hash family must be seed-keyed, not
    position-keyed."""
    return lambda h: F.xxhash64(F.lit(seed), h)


def shingle_hashes(shingle_col: Column) -> Column:
    """xxhash64 of each shingle — the fixed-width working set for candidate
    joins, MinHash signatures, and Jaccard verification. Set semantics are
    preserved modulo 64-bit collisions (~n²/2⁶⁵ — negligible), and every
    downstream shuffle carries 8-byte longs instead of shingle strings."""
    return F.transform(shingle_col, lambda s: F.xxhash64(s))


def minhash_signature_from_hashes(hash_col: Column, num_hashes: int = 16) -> Column:
    """k-permutation MinHash over pre-hashed shingles: seed i's permutation
    is xxhash64(i, base_hash) — cheap long-rehash, one string pass total."""
    sigs = [F.array_min(F.transform(hash_col, _seeded_rehash(i))) for i in range(num_hashes)]
    return F.array(*sigs)


def minhash_signature(shingle_col: Column, num_hashes: int = 16) -> Column:
    """k-permutation MinHash of a string-shingle array (array<bigint> of
    length k)."""
    return minhash_signature_from_hashes(shingle_hashes(shingle_col), num_hashes)


def _shingle_hash_frame(
    df: DataFrame, text_col: str, id_col: str, shingle_size: int
) -> DataFrame:
    """(_id, sh_h) with the tokenize→shingle→hash chain STAGED across
    projection boundaries. Expressions captured inside higher-order-function
    lambdas re-evaluate per array element (slice(toks, i, n) re-runs the
    whole regex tokenization for every i in one fused projection — measured
    ~8x on this corpus); binding each stage to a column first makes the
    per-element work an attribute lookup. CollapseProject keeps the
    boundaries because the bound columns are non-cheap and multiply
    referenced."""
    toks = tokens(normalize_ws(F.col(text_col)))
    staged = fan_out(df).select(F.col(id_col).alias("_id"), toks.alias("_toks"))
    idx = F.sequence(F.lit(0), F.greatest(F.size("_toks") - shingle_size, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(F.col("_toks"), i + 1, shingle_size), " ")
    )
    return (
        staged.select("_id", F.array_distinct(grams).alias("_grams"))
        .select("_id", shingle_hashes(F.col("_grams")).alias("sh_h"))
        .filter(F.size("sh_h") > 0)
    )


def _banded_buckets(base: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(_id, band, bucket) LSH projection of the signature frame — ids +
    keys only, so the bucket join's shuffle payload is 3 longs/row."""
    return base.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    Plan shape (scale-critical):
      1. per-row signature (no shuffle);
      2. explode to `bands` rows/doc, bucket key = hash of the band slice —
         ids + keys ONLY (the shingle arrays stay out of the hot join, so
         the shuffle payload is 3 longs/row, not the document set);
      3. self-join on (band, bucket) — only colliding docs meet;
      4. distinct candidate pairs, then re-attach both shingle sets;
      5. exact Jaccard verify >= threshold.
    At 100 TB the shuffles are the bucket join, the pair distinct, and the
    two narrow re-attach joins; hot buckets (boilerplate docs) are the skew
    risk — AQE skew-join splits them.
    """
    rows_per_band = num_hashes // bands
    # The shingle/signature frame feeds the banded self-join AND both sides
    # of the Jaccard verify — persist so the string-heavy shingling runs
    # once, not once per consumer. (Self-joins get ReuseExchange for free;
    # the differently-keyed verify joins do not.)
    base = keep(
        _shingle_hash_frame(df, text_col, id_col, shingle_size).withColumn(
            "sig", minhash_signature_from_hashes(F.col("sh_h"), num_hashes)
        )
    )
    banded = _banded_buckets(base, bands, rows_per_band)

    cand_ids = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_jaccard(cand_ids, base.select("_id", "sh_h"), jaccard_threshold)


# Per-pair verify cost is an array_intersect over two shingle arrays —
# wall-milliseconds of CPU per few thousand pairs; one task per this many
# pairs keeps tasks ~100ms-class without flooding the scheduler.
_VERIFY_PAIRS_PER_TASK = 2048


def _spread_pairs(cand_ids: DataFrame) -> DataFrame:
    """Candidate-count-proportional fan-out of the verify stage.

    Width must follow COMPUTE, not bytes: the verify stage's cost is
    array_intersect over two shingle arrays per candidate pair, but AQE
    coalesces the candidate exchange by its (tiny) id-pair bytes —
    profiled at sf0.1: 4 post-coalesce tasks, max task 1.19 s while 28
    cores idle. A fixed ``defaultParallelism`` width costs more than it
    saves when candidates are few and under-spreads when they are huge,
    so: keep the id-pair frame (16-byte rows, ``tables.keep``), count it
    — one cheap job whose work the cached verify pass reuses — and size
    the keyed repartition from the count, skipping the exchange entirely
    when the pairs already fit one task's budget. The repartition is
    keyed (not AQE-coalescible) and moves only id rows, never shingle
    arrays.
    """
    cand_ids = keep(cand_ids)
    n = cand_ids.count()
    par = cand_ids.sparkSession.sparkContext.defaultParallelism
    width = min(-(-n // _VERIFY_PAIRS_PER_TASK), par * 8)
    if width > 1:
        return cand_ids.repartition(width, "id_a", "id_b")
    return cand_ids


def _verify_jaccard(cand_ids: DataFrame, shingle_df: DataFrame, threshold: float) -> DataFrame:
    """Re-attach (hashed) shingle sets to deduped candidate id pairs and
    exact-verify: |A∩B|/|A∪B| over the full sets — identical to the
    string-set Jaccard modulo 64-bit collisions.

    Array-attach, not an explode-and-count reformulation — MEASURED, not
    assumed (.benchmarks/PAIR_VERIFY_r8.md): with the base frame warm and
    identical candidates, joining both docs' hash arrays onto each pair
    and running array_intersect beats shipping per-(pair, shingle) rows
    through a (doc, shingle) shuffle in BOTH the sparse regime (sf0.1,
    436k candidates: 2.7s vs 6.3s) and the dup-heavy regime (10x corpus:
    2.3s vs 4.1s). Both formulations are output-proportional — Σ over
    candidate pairs of the docs' shingle counts — the array form just
    packs that volume into one wide row per pair (tight codegen
    array_intersect) instead of narrow rows through an extra exchange.
    A timing that includes the cold shingle-frame build (~48s at 10x)
    inside the array run shows the opposite; that build is shared, so it
    is not part of the verify cost."""
    sh_a = shingle_df.select(F.col("_id").alias("id_a"), F.col("sh_h").alias("sh_a"))
    sh_b = shingle_df.select(F.col("_id").alias("id_b"), F.col("sh_h").alias("sh_b"))
    cand = _spread_pairs(cand_ids).join(sh_a, "id_a").join(sh_b, "id_b")
    # |A∪B| = |A| + |B| - |A∩B| — never array_union: building the deduped
    # union ARRAY per candidate pair is pure allocation (the sizes are
    # all we need) and measured 3-4x the whole verify stage at 436k
    # candidates (5-7s -> ~2s)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    jaccard_threshold: float = 0.5,
    max_doc_freq: int = 10,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share ≥1 rare shingle.

    Inverted-index join (explode shingle → equi-join) instead of a cross
    join. Stop-shingle guard: a shingle appearing in more than
    ``max_doc_freq`` documents is excluded from candidate GENERATION (a
    boilerplate shingle shared by m docs would otherwise emit m² candidate
    rows — the quadratic skew hazard at scale). Verification still uses the
    FULL shingle sets, so reported Jaccard values are exact; a pair is
    missed only if every shared shingle is boilerplate, in which case its
    Jaccard is dominated by stop-shingles anyway. The doc-frequency filter
    is one window over the inverted index — same shuffle the join needs.
    """
    base = keep(_shingle_hash_frame(df, text_col, id_col, shingle_size))
    # (persisted: feeds the inverted index and both verify joins)
    inv = base.select("_id", F.explode("sh_h").alias("sh"))
    # df >= 2: a shingle seen in ONE document can never produce a pair, so
    # it never enters the self-join build side. Provably output-neutral;
    # the benefit is corpus-dependent (a high-uniqueness corpus is mostly
    # df=1 rows — on the driver testdata it is only ~0.2% because the
    # word-soup shingles mostly repeat 2-10x). The df window is the same
    # shuffle the join needs anyway.
    rare = inv.withColumn(
        "df", F.count("*").over(Window.partitionBy("sh"))
    ).filter((F.col("df") <= max_doc_freq) & (F.col("df") >= 2))
    cand_ids = (
        rare.alias("a")
        .join(rare.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_jaccard(cand_ids, base.select("_id", "sh_h"), jaccard_threshold)


def minhash_lsh_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy BATCH-vs-CORPUS near-dup detection — the daily-ingest shape
    (the MinHash twin of ``incremental_exact_dedup``): which incoming
    documents near-duplicate something already landed? Candidates come
    from joining the batch's banded buckets against the CORPUS's banded
    buckets only — never corpus x corpus, so cost tracks |batch| x
    collision rate while the corpus side contributes one signature scan
    (at steady state the corpus buckets are a persisted index; here they
    are recomputed per call, same plan shape). Verification is the exact
    count-based Jaccard over both sides' shingle sets. Emits
    (batch_id, corpus_id, jaccard); a batch doc may match several landed
    docs — dedup policy (drop/link) is the caller's.
    """
    rows_per_band = num_hashes // bands

    def sig_frame(df: DataFrame) -> DataFrame:
        return keep(
            _shingle_hash_frame(df, text_col, id_col, shingle_size).withColumn(
                "sig", minhash_signature_from_hashes(F.col("sh_h"), num_hashes)
            )
        )

    b_base = sig_frame(batch)
    c_base = sig_frame(corpus)
    cand_ids = (
        _banded_buckets(b_base, bands, rows_per_band)
        .withColumnRenamed("_id", "id_a")
        .join(
            _banded_buckets(c_base, bands, rows_per_band).withColumnRenamed(
                "_id", "id_b"
            ),
            ["band", "bucket"],
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    both = b_base.select("_id", "sh_h").unionByName(c_base.select("_id", "sh_h"))
    return _verify_jaccard(cand_ids, both, jaccard_threshold).select(
        F.col("id_a").alias("batch_id"),
        F.col("id_b").alias("corpus_id"),
        "jaccard",
    )


# -------------------------------------------------------------- simhash --
def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document — SHUFFLE-FREE and ENTIRELY JVM-side.

    SimHash is a per-document reduction, so it needs neither the
    explode + 64-aggregate groupBy of the classic SQL formulation (one
    shuffle of |tokens| rows; measured ~3x slower) nor a Python stage:
    token hashes are computed inside the array (``transform(toks,
    xxhash64)``), then one nested higher-order aggregate does the per-bit
    vote sum (64-long accumulator, ``(h >> i) & 1`` per bit — identical to
    a logical shift for bit extraction since ``& 1`` reads below the sign
    fill) and packs majority bits via ``shiftleft(1L, i)`` (bit 63 wraps to
    the sign bit, same two's-complement pattern as the unsigned pack).
    Bit-identical to the previous Arrow/numpy formulation — pinned by the
    independent numpy oracle in tests/test_similarity_recall.py — with no
    Python workers to spawn (an earlier mapInPandas variant re-paid ~5s of
    worker startup whenever the pool went cold between bench passes).
    Embarrassingly parallel; one (id, simhash) row per input row.
    """
    staged = fan_out(df).select(
        F.col(id_col).alias("_id"), tokens(normalize_ws(F.col(text_col))).alias("_toks")
    )
    hashed = staged.select(
        "_id", F.transform("_toks", lambda t: F.xxhash64(t)).alias("_h")
    )
    packed = F.expr(
        """
        aggregate(
          zip_with(
            aggregate(_h, array_repeat(0L, 64),
                      (acc, h) -> zip_with(acc,
                                           transform(sequence(0, 63),
                                                     i -> (shiftright(h, i) & 1L)),
                                           (a, b) -> a + b)),
            sequence(0, 63),
            (v, i) -> IF(2 * v > size(_h), shiftleft(1L, i), 0L)),
          0L, (a, b) -> a + b)
        """
    )
    return hashed.select(F.col("_id").alias(id_col), packed.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64 bits into 4×16-bit blocks —
    any pair within Hamming ≤3 must agree on ≥1 block (pigeonhole) —
    equi-join per block, then exact Hamming via bit_count(xor)."""
    # persist: the block self-join below reads this frame TWICE, and
    # without a cache both sides re-run the whole tokenize+hash+Arrow
    # signature pipeline (the expensive part — the frame itself is one
    # (long, long) row per doc, trivially cacheable at any scale)
    sh = keep(simhash64(df, text_col, id_col))
    blocks = sh.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        F.shiftright(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("_id", "simhash", F.col("bk.block").alias("block"), F.col("bk.key").alias("key"))
    cand = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- substring-level dedup --
def duplicate_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
) -> DataFrame:
    """Exact substring-level deduplication at token granularity — the
    operator behind "exact substring dedup" in published pretraining
    pipelines (remove repeated passages, keep exactly one corpus-wide
    copy), approximated on token k-grams instead of a suffix array:

    1. Every k-token span is keyed by its text. A span text is *duplicated*
       if it occurs in ≥2 documents; its *owner* is the min doc_id
       containing it (the kept copy — deterministic, engine-portable).
    2. In every non-owner document, all token positions covered by a
       duplicated span are removed; the owner keeps its text untouched.
    3. Output per document: token counts before/after, removed fraction,
       and an md5 fingerprint of the cleaned (space-joined) text so the
       full rewritten content is value-checked without shipping it.

    Plan shape: one explode to (doc, pos, gram) [~n_tokens rows per doc],
    one groupBy gram for df+owner (map-side combinable), one equi-join back
    (no pair enumeration — cost tracks dup-span volume, not doc pairs²),
    one explode of covered positions (k × dup spans only), one per-doc
    re-aggregation. All JVM expressions.
    """
    k = span_tokens
    staged = df.select(
        F.col(id_col).alias("_id"), tokens(normalize_ws(F.col(text_col))).alias("_toks")
    ).filter(F.size("_toks") > 0)
    staged = fan_out(staged)

    toks = staged.select(
        "_id", F.posexplode("_toks").alias("idx", "tok")
    )
    gram_idx = F.when(
        F.size("_toks") >= k, F.sequence(F.lit(0), F.size("_toks") - k)
    ).otherwise(F.array().cast("array<int>"))
    grams = staged.select(
        "_id",
        F.explode(
            F.transform(
                gram_idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice("_toks", i + 1, k), " ").alias("g"),
                ),
            )
        ).alias("pg"),
    ).select("_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))

    owners = grams.groupBy("g").agg(
        F.countDistinct("_id").alias("ndocs"), F.min("_id").alias("owner")
    )
    dup_pos = (
        grams.join(owners.filter(F.col("ndocs") >= 2), "g")
        .filter(F.col("_id") != F.col("owner"))
        .select("_id", "pos")
    )
    removed = dup_pos.select(
        "_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("idx")
    ).distinct()

    kept = toks.join(removed, ["_id", "idx"], "left_anti")
    cleaned = kept.groupBy("_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("_cleaned"),
    )
    base = staged.select("_id", F.size("_toks").alias("n_tokens"))
    return (
        base.join(cleaned, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.round(
                (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
                / F.col("n_tokens").cast("double"),
                4,
            ).alias("frac_removed"),
            F.md5(F.coalesce(F.col("_cleaned"), F.lit(""))).alias("cleaned_fp"),
        )
    )


def incremental_exact_dedup(
    batch: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: dedup a NEW batch within itself, then drop
    every batch document whose fingerprint already exists in the corpus.

    This is the shape production pipelines actually run daily — the corpus
    fingerprint store is persisted state (at 100 TB it is a parquet table of
    md5 strings, ~32 bytes/doc), and each ingest batch pays one groupBy on
    its own fingerprints plus one left-anti shuffle join whose payload is
    (fp, id) only — never document text. The batch side is typically small
    enough that AQE converts the anti-join to broadcast automatically.

    Output: the surviving batch representatives (fp, min-id, within-batch
    copy count).
    """
    fp = F.md5(normalize_ws(F.col(text_col)))
    batch_reps = exact_dedup(batch, text_col=text_col, id_col=id_col)
    seen = existing.select(fp.alias("fp")).distinct()
    return batch_reps.join(seen, "fp", "left_anti")


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    containment_threshold: float = 0.9,
    max_doc_freq: int = 10,
) -> DataFrame:
    """Exact ASYMMETRIC containment |A∩B|/|A| over shared-rare-shingle
    candidates — the subset-duplication detector Jaccard structurally
    misses: a short doc quoted wholesale inside a long one has
    containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so a Jaccard threshold
    never fires. Same inverted-index candidate generation and stop-
    shingle guard as ``ngram_jaccard_pairs`` (one shuffle, output-
    proportional); the verify divides by the CONTAINED side's set size.
    Emits ordered (id_small, id_big) with containment of the smaller
    set in the larger, plus both set sizes — ties on size keep id
    order."""
    base = keep(_shingle_hash_frame(df, text_col, id_col, shingle_size))
    inv = base.select("_id", F.explode("sh_h").alias("sh"))
    rare = inv.withColumn(
        "df", F.count("*").over(Window.partitionBy("sh"))
    ).filter((F.col("df") <= max_doc_freq) & (F.col("df") >= 2))
    cand_ids = (
        rare.alias("a")
        .join(rare.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("sh_h").alias("sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("sh_h").alias("sh_b"))
    # same candidate-count-proportional width rule as _verify_jaccard
    cand = _spread_pairs(cand_ids).join(sh_a, "id_a").join(sh_b, "id_b")
    na, nb = F.size("sh_a"), F.size("sh_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    a_small = (na < nb) | ((na == nb) & (F.col("id_a") < F.col("id_b")))
    out = cand.select(
        F.when(a_small, F.col("id_a")).otherwise(F.col("id_b")).alias("id_small"),
        F.when(a_small, F.col("id_b")).otherwise(F.col("id_a")).alias("id_big"),
        F.when(a_small, na).otherwise(nb).alias("n_shingles_small"),
        F.when(a_small, nb).otherwise(na).alias("n_shingles_big"),
        F.round(inter.cast("double") / F.least(na, nb), 4).alias("containment"),
    )
    return out.filter(F.col("containment") >= containment_threshold)

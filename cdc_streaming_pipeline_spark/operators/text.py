"""Text-analysis operators over a document table (training-data pipeline).

All JVM-side column expressions (no Python in the hot path): language-ID
(stopword-hit heuristic), quality scoring, token stats, fingerprinting.
Designed to run over 100 TB of documents: per-row expressions only — no
shuffle, no state, trivially partition-parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.functions.textfn import normalize_ws, punct_ratio, token_count, tokens
from cdc_streaming_pipeline_spark.sources.tables import fan_out

# Tiny per-language stopword regexes (word-boundary anchored). The RE subset
# used (alternation + \b) means the same pattern string runs on Java regex
# (Spark) and RE2 (DuckDB oracle) with identical semantics.
STOPWORD_PATTERNS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|that|for|with|was)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b",
    "fr": r"\b(le|la|les|et|est|une|des|dans|pour|que)\b",
    "es": r"\b(el|los|las|es|una|por|con|para|del|como)\b",
}


def lang_hits(text: Column, lang: str) -> Column:
    return F.regexp_count(F.lower(text), F.lit(STOPWORD_PATTERNS[lang]))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language-ID: argmax of per-language stopword hits
    (deterministic tie-break by language code; 'und' when no hits)."""
    text = F.col(text_col)
    hit_cols = {lang: lang_hits(text, lang) for lang in sorted(STOPWORD_PATTERNS)}
    best = F.greatest(*hit_cols.values())
    pred = F.lit("und")
    # Reverse order so earlier languages win ties via later .when precedence.
    for lang in sorted(hit_cols, reverse=True):
        pred = F.when((hit_cols[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    out = df
    for lang, c in hit_cols.items():
        out = out.withColumn(f"hits_{lang}", c)
    return out.withColumn("pred_lang", pred)


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    text = F.col(text_col)
    toks = tokens(text)
    return (
        df.withColumn("n_chars_actual", F.length(text))
        .withColumn("n_tokens", token_count(text))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)))
        .withColumn(
            "avg_token_len",
            F.round(
                F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
                .cast("double")
                / F.greatest(token_count(text), F.lit(1)).cast("double"),
                4,
            ),
        )
    )


# BPE-ish pre-tokenization granularity: alpha runs, digit runs, and single
# punctuation marks each count as one unit (no vocab needed; the same
# pattern runs on Java regex and RE2).
SUBWORD_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def with_subword_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting at subword granularity — the BPE-ish complement to
    whitespace token counts (a rough proxy for LLM token cost)."""
    lowered = F.lower(F.col(text_col))
    n_sub = F.regexp_count(lowered, F.lit(SUBWORD_PATTERN))
    return (
        df.withColumn("n_subwords", n_sub)
        .withColumn("n_alpha_runs", F.regexp_count(lowered, F.lit(r"[a-z]+")))
        .withColumn("n_digit_runs", F.regexp_count(lowered, F.lit(r"[0-9]+")))
        .withColumn(
            "subwords_per_token",
            F.round(
                n_sub.cast("double")
                / F.greatest(token_count(F.col(text_col)), F.lit(1)).cast("double"),
                4,
            ),
        )
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: length band + lexical diversity −
    punctuation-noise penalty. Pure per-row arithmetic (codegen'd)."""
    text = F.col(text_col)
    n_tok = token_count(text).cast("double")
    diversity = F.size(F.array_distinct(tokens(text))).cast("double") / F.greatest(
        token_count(text), F.lit(1)
    ).cast("double")
    length_ok = F.when((n_tok >= 10) & (n_tok <= 5000), F.lit(1.0)).otherwise(F.lit(0.5))
    score = length_ok * 0.4 + diversity * 0.4 + (1.0 - punct_ratio(text)) * 0.2
    return df.withColumn("quality_score", F.round(score, 4))


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style WITHIN-document repetition signals (Rae et al. 2021,
    §A1.1 "repetition" filters): the duplicate-token fraction and the share
    of bigram slots occupied by the single most frequent bigram. High
    values flag boilerplate / keyword-stuffed / looping documents for
    removal before LLM pretraining — the within-doc complement to the
    cross-doc dedup operators.

    Per-row JVM expressions only — no shuffle, linear in corpus size. The
    token→bigram→mode chain is STAGED across projection boundaries:
    higher-order-function lambdas re-evaluate captured expressions per
    element, so each stage is bound to a column (an attribute lookup inside
    the next lambda) before the O(m²)-per-row mode computation uses it.
    """
    text = F.col(text_col)
    staged = df.withColumn("_toks", tokens(normalize_ws(text))).withColumn(
        "_n", F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size("_toks"))
    )
    bigrams = F.when(
        F.col("_n") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.col("_n") - 2),
            lambda i: F.concat(F.get("_toks", i), F.lit(" "), F.get("_toks", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = staged.withColumn("_bigrams", bigrams)
    top_bigram_count = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct("_bigrams"),
                lambda b: F.size(F.filter("_bigrams", lambda x: x == b)),
            )
        ),
        F.lit(0),
    )
    dup_frac = F.when(F.col("_n") == 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct("_toks")).cast("double") / F.col("_n").cast("double")
    )
    top_frac = F.when(F.col("_n") < 2, F.lit(0.0)).otherwise(
        top_bigram_count.cast("double") / (F.col("_n") - 1).cast("double")
    )
    return (
        staged.withColumn("n_tokens", F.col("_n"))
        .withColumn("dup_token_frac", F.round(dup_frac, 4))
        .withColumn("top_bigram_frac", F.round(top_frac, 4))
        .drop("_toks", "_n", "_bigrams")
    )


# PII detection/redaction. Pattern subset chosen to behave identically on
# Java regex (Spark) and RE2 (DuckDB oracle): no backrefs, no lookaround;
# \b, (?i), bounded repetition only.
PII_PATTERNS: dict[str, str] = {
    "email": r"(?i)\b[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}\b",
    "phone": r"\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "long_id": r"\b[0-9]{9,}\b",
}


def with_pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-class PII hit counts — the filter stage of a scrubbing pipeline
    (route documents with hits to redaction/quarantine). Pure per-row
    regexp_count expressions: shuffle-free, scan-parallel."""
    out = df
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(f"pii_{name}", F.regexp_count(F.col(text_col), F.lit(pat)))
    return out


def redact_pii(df: DataFrame, text_col: str = "text", replacement: str = "[PII]") -> DataFrame:
    """Redacted copy of the text: every PII class replaced by a fixed
    marker. Deterministic and idempotent (the marker matches no pattern),
    so re-running the scrub is safe."""
    red = F.col(text_col)
    for pat in PII_PATTERNS.values():
        red = F.regexp_replace(red, pat, replacement)
    return df.withColumn("redacted", red)


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k TF-IDF terms per document (keyword extraction).

    tf = in-doc term count, idf = ln(N / df_term), deterministic tie-break
    (score desc, term asc). Plan shape at scale: one explode + groupBy
    (map-side combined) for tf, a groupBy on term for document frequency,
    one shuffle join tf⋈df on term (AQE broadcasts if the vocabulary is
    small), and a per-doc window for the top-k. The corpus size N joins in
    as a broadcast single-row aggregate — no driver-side count action, the
    whole thing stays one lazy plan.
    """
    # partition count must follow COMPUTE cost here, not input bytes: a
    # single small parquet file would serialize the tokenize+explode onto
    # one core (measured ~10x on local[32])
    toked = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(normalize_ws(F.col(text_col)))).alias("term"),
    )
    tf = toked.groupBy("_id", "term").agg(F.count("*").alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    total = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df_docs").cast("double")),
                4,
            ),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col), "rank", "term", "tf", "df_docs", "tfidf"
        )
    )


def corpus_top_bigrams(df: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k word bigrams (language-model-ish corpus stats).

    Explode sliding bigrams → count (map-side partial aggregation does the
    heavy lifting; the shuffle carries one row per distinct bigram per
    partition) → global top-k with deterministic ties (count desc, bigram
    asc). The final LIMIT is a single-partition reduction of per-partition
    top-k — no full sort of the vocabulary.
    """
    base = (
        fan_out(df)
        .select(tokens(normalize_ws(F.col(text_col))).alias("t"))
        .filter(F.size("t") >= 2)
    )
    # adjacent-pair zip (tokens[:-1] zip tokens[1:]) — one pass over the
    # materialized token array instead of per-index element_at lookups
    bigrams = F.zip_with(
        F.slice("t", 1, F.size("t") - 1),
        F.slice("t", 2, F.size("t") - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        base.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(k)
    )


def contamination_scores(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: fraction of each document's word
    n-grams that appear ANYWHERE in the benchmark set (eval-set leakage
    detection for pretraining corpora).

    Plan shape: the benchmark's distinct shingles are a (hashed) set —
    tiny next to the corpus, broadcast by AQE — left-joined against the
    corpus's exploded shingles; containment = matched/total per doc. The
    corpus side is one explode + one groupBy; no pairwise comparison with
    individual benchmark docs ever happens.
    """
    from cdc_streaming_pipeline_spark.operators.dedup import _shingle_hash_frame

    docs = _shingle_hash_frame(df, text_col, id_col, shingle_size)
    bench = (
        _shingle_hash_frame(benchmark, text_col, id_col, shingle_size)
        .select(F.explode("sh_h").alias("sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    inv = docs.select("_id", F.explode("sh_h").alias("sh"))
    return (
        inv.join(bench, "sh", "left")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_shingles").cast("double"), 4
            ).alias("contamination"),
        )
    )


def perplexity_proxy_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram perplexity proxy: mean −ln p(token) per document, with
    p estimated from the corpus itself — the cheap LM-based quality
    filter (high score = improbable token soup, low = repetitive).

    One explode feeds both the frequency table (map-side-combined groupBy)
    and the per-doc join; the corpus token total rides along as a
    broadcast single-row aggregate. All arithmetic is JVM-side."""
    toked = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(normalize_ws(F.col(text_col)))).alias("term"),
    )
    freq = toked.groupBy("term").agg(F.count("*").alias("cnt"))
    total = toked.agg(F.count("*").alias("n_total"))
    return (
        toked.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("cnt").cast("double") / F.col("n_total").cast("double"))), 4
            ).alias("nll_per_token"),
        )
        .withColumnRenamed("_id", id_col)
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized text (exact-dup
    key) and md5 of the sorted distinct token set (bag-of-words key,
    robust to word order)."""
    text = F.col(text_col)
    norm = normalize_ws(text)
    bow = F.array_join(F.array_sort(F.array_distinct(tokens(norm))), " ")
    return df.withColumn("fp_exact", F.md5(norm)).withColumn("fp_bow", F.md5(bow))


def novelty_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_size: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    token shingles that appear in NO other document (corpus doc-frequency
    1). High novelty = unique content; low = boilerplate shared across the
    corpus. The complement of near-dup detection: pairwise ops find WHO
    shares; this scores HOW MUCH of each doc is shared, in one pass.

    Plan: explode distinct shingles, window-count doc frequency partitioned
    by shingle (one shuffle on the shingle key), re-aggregate per doc (one
    shuffle on the id). No join, no candidate pairs, no driver state. This
    engine-portable variant ships shingle STRINGS so the DuckDB oracle can
    replicate it byte-for-byte; at 100 TB swap the string key for
    xxhash64(shingle) (the dedup module's trick) to shuffle 8-byte longs —
    same frequencies modulo 64-bit collisions.
    """
    from pyspark.sql import Window

    # Stage tokenization behind a projection boundary: a raw expression
    # referenced inside the transform() lambda is re-inlined and the whole
    # regex tokenization re-runs PER SHINGLE (the ~8x hazard documented at
    # operators/dedup.py:_shingle_hash_frame); a bound column is an
    # attribute lookup.
    staged = df.select(
        F.col(id_col), tokens(normalize_ws(F.col(text_col))).alias("_toks")
    )
    toks = F.col("_toks")
    n = shingle_size - 1
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - n, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, shingle_size), " "),
        )
    )
    inv = staged.select(F.col(id_col), F.explode(shingles).alias("_g"))
    with_df = inv.withColumn("_df", F.count("*").over(Window.partitionBy("_g")))
    is_novel = (F.col("_df") == 1).cast("int")
    return with_df.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.sum(is_novel).alias("n_novel"),
        F.round(F.avg(is_novel.cast("double")), 4).alias("novelty"),
    )


def boilerplate_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    shingle_size: int = 2,
    min_df: int = 3,
) -> DataFrame:
    """Per-document boilerplate fraction WITHIN its source/domain: the
    fraction of a document's distinct token shingles that appear in at
    least ``min_df`` documents of the SAME source. Site templates,
    navigation chrome, legal footers — the CCNet/RefinedWeb-style cleaning
    signal, grouped by source because boilerplate is a per-site phenomenon
    (a phrase ubiquitous on one domain and absent elsewhere is exactly
    what corpus-global novelty cannot see). Computed at shingle
    granularity; with a line-splitter as the tokenizer the identical plan
    is line-level boilerplate removal.

    Plan: distinct shingles per doc → window-count DOCUMENT frequency
    partitioned by (source, shingle) (one shuffle on that composite key —
    source in the key means a mega-domain skews only its own partition
    range, and AQE skew-split handles the rest) → re-aggregate per doc
    (one shuffle on the id). No joins, no candidate pairs, no driver
    state. Engine-portable shingle STRINGS so the DuckDB oracle replicates
    byte-for-byte; at 100 TB swap in xxhash64(shingle) to shuffle 8-byte
    longs (operators/dedup.py's trick).
    """
    from pyspark.sql import Window

    staged = df.select(
        F.col(id_col), F.col(group_col), tokens(normalize_ws(F.col(text_col))).alias("_toks")
    )
    toks = F.col("_toks")
    n = shingle_size - 1
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - n, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, shingle_size), " "),
        )
    )
    inv = staged.select(F.col(id_col), F.col(group_col), F.explode(shingles).alias("_g"))
    with_df = inv.withColumn(
        "_df", F.count("*").over(Window.partitionBy(group_col, "_g"))
    )
    is_boiler = (F.col("_df") >= min_df).cast("int")
    return with_df.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.sum(is_boiler).alias("n_boiler"),
        F.round(F.avg(is_boiler.cast("double")), 4).alias("boiler_frac"),
    )


def word_entropy_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy (bits) of the unigram distribution — a
    repetitiveness/diversity quality signal (low entropy = degenerate
    keyboard-mash or template text; used alongside repetition_stats as a
    pretraining filter).

    Uses the single-aggregation identity  H = log2(N) - (1/N)·Σ c·log2(c)
    over per-(doc, token) counts, so the plan is explode + two key-local
    aggregations (map-side partial combine on both), no window, no join.
    Empty documents are excluded (entropy undefined at N=0).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(normalize_ws(F.col(text_col)))).alias("_tok")
    ).filter(F.col("_tok") != "")
    counts = toks.groupBy(id_col, "_tok").agg(F.count("*").alias("_c"))
    c = F.col("_c").cast("double")
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count("*").alias("n_distinct_tokens"),
            F.sum(c * F.log2(c)).alias("_clogc"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "n_distinct_tokens",
            F.round(
                F.log2(F.col("n_tokens").cast("double"))
                - F.col("_clogc") / F.col("n_tokens").cast("double"),
                4,
            ).alias("entropy_bits"),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunking — the pretraining/RAG sharding primitive
    that turns variable-length documents into bounded-length training rows.

    Windows of ``chunk_tokens`` tokens start every ``stride`` tokens; a final
    window is pinned at ``n - chunk_tokens + 1`` so the tail is always covered
    (dedup'd when it aligns with the strided grid). Pure JVM expressions
    (sequence/slice/posexplode) — a narrow per-row flatMap with no shuffle and
    no Python workers, so at 100 TB it streams through the scan stage at
    whole-stage-codegen speed; output size is input tokens × (chunk/stride)
    overlap factor, which is the designed cost of overlap.

    Output: one row per (doc, chunk) with the 0-based chunk index, 1-based
    start token, actual chunk token count (the last chunk of a short doc may
    be shorter), and an md5 of the chunk text for value-level verification.
    """
    toks = tokens(normalize_ws(F.col(text_col)))
    d = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(id_col, toks.alias("_toks"))
        .withColumn("_n", F.size("_toks"))
    )
    last = F.greatest(F.col("_n") - chunk_tokens + 1, F.lit(1))
    starts = F.array_sort(
        F.array_distinct(
            F.concat(F.sequence(F.lit(1), last, F.lit(stride)), F.array(last))
        )
    )
    return (
        d.select(
            id_col,
            "_toks",
            "_n",
            F.posexplode(starts).alias("chunk_idx", "start_token"),
        )
        .select(
            F.col(id_col),
            "chunk_idx",
            "start_token",
            F.least(F.lit(chunk_tokens), F.col("_n") - F.col("start_token") + 1).alias(
                "n_chunk_tokens"
            ),
            F.md5(
                F.array_join(F.slice("_toks", F.col("start_token"), chunk_tokens), " ")
            ).alias("chunk_md5"),
        )
    )


# Fixed published-style weights for the linear quality classifier below.
# (Feature order: log1p_tokens, diversity, stopword_ratio, punct_ratio,
# digit_ratio.) Frozen constants so the score is deterministic and the
# DuckDB oracle replicates it bit-for-bit in plain arithmetic.
QUALITY_LOGIT_WEIGHTS: tuple[float, ...] = (0.6, 2.5, 3.0, -4.0, -3.0)
QUALITY_LOGIT_BIAS: float = -3.0


def with_quality_logit(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Linear quality classifier (fastText/CCNet-style shape): a fixed-weight
    logistic model over cheap lexical features, producing a keep-probability
    and a boolean keep decision at p >= 0.5.

    The model itself is intentionally frozen (training a classifier is out of
    scope); the point is the SERVING path — all five features and the sigmoid
    are JVM column expressions, so scoring 100 TB is a pure map stage with
    zero shuffle, zero Python. Swap the constants for learned weights and the
    plan is unchanged.
    """
    text = F.col(text_col)
    n_tok = token_count(text).cast("double")
    diversity = F.size(F.array_distinct(tokens(text))).cast("double") / F.greatest(
        token_count(text), F.lit(1)
    ).cast("double")
    stop_hits = lang_hits(text, "en").cast("double")
    stop_ratio = stop_hits / F.greatest(n_tok, F.lit(1.0))
    n = F.length(text)
    digits = n - F.length(F.regexp_replace(text, r"[0-9]", ""))
    digit_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        digits.cast("double") / n.cast("double")
    )
    w = QUALITY_LOGIT_WEIGHTS
    z = (
        F.lit(QUALITY_LOGIT_BIAS)
        + F.lit(w[0]) * F.log1p(n_tok)
        + F.lit(w[1]) * diversity
        + F.lit(w[2]) * stop_ratio
        + F.lit(w[3]) * punct_ratio(text)
        + F.lit(w[4]) * digit_ratio
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return df.select(
        "doc_id",
        F.round(z, 4).alias("logit"),
        F.round(p, 4).alias("p_keep"),
        (p >= 0.5).alias("keep"),
    )


def clean_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pre-tokenization text normalization — the standard cleaning pass a
    pretraining pipeline runs before chunking/dedup: strip C0/C1 control
    characters (keeping \\n and \\t), collapse space/tab runs to one
    space, cap blank-line runs at one empty line, and trim per-line edge
    whitespace. Pure JVM regexp chain (one map stage, no shuffle); the
    regex subset used (character classes, (?m) anchors, bounded
    repetition) behaves identically on Java regex and RE2, which is what
    lets the DuckDB oracle replicate the transform bit-for-bit via the
    cleaned-text md5."""
    t = F.col(text_col)
    t = F.regexp_replace(t, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    t = F.regexp_replace(t, r"[ \t]+", " ")
    t = F.regexp_replace(t, r"(?m)^ | $", "")
    t = F.regexp_replace(t, r"\n{3,}", "\n\n")
    return df.select(
        "doc_id",
        F.length(text_col).alias("n_chars_raw"),
        F.length(t).alias("n_chars_clean"),
        (F.length(text_col) - F.length(t)).alias("n_removed"),
        F.md5(t).alias("clean_md5"),
    )


def compression_ratio_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Compression-ratio quality signal (deflate level 6): highly
    repetitive/templated text compresses far below natural prose, making
    the ratio a cheap repetition/boilerplate filter (used alongside the
    JVM-side repetition stats). zlib has no JVM SQL expression, so this is
    a legitimately Python kernel — Arrow-batched mapInPandas (bytes stay
    partition-local, no shuffle), NOT a row-at-a-time UDF; the kernel is
    pinned against direct zlib in tests."""
    import zlib

    from collections.abc import Iterator

    import pandas as pd

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [(t or "").encode() for t in pdf[text_col]]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": [len(b) for b in raw],
                    "n_compressed": comp,
                    "compression_ratio": [
                        round(c / n, 4) if n else 0.0 for c, n in zip(comp, (len(b) for b in raw))
                    ],
                }
            )

    return df.select("doc_id", text_col).mapInPandas(
        score, "doc_id long, n_bytes int, n_compressed int, compression_ratio double"
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Bigram-LM quality filter: mean −ln p(w₂|w₁) per document with
    add-k smoothed corpus-estimated probabilities,
    p = (c(w₁w₂) + k) / (c(w₁) + k·V). Catches what the unigram proxy
    can't: a doc of common words in impossible ORDER scores high here
    and normal there — the word-salad detector.

    One explode into adjacent pairs (two shifted array slices — no UDF)
    feeds both the bigram count table and the per-doc join; the unigram
    context counts and the vocabulary size ride as one more join + a
    broadcast 1-row aggregate. c(w₁) is the token's full corpus count
    (identical in both engines; documented simplification vs
    context-position counts). k = 0.5 is exactly representable, so the
    smoothing arithmetic is bit-identical across engines."""
    t = tokens(normalize_ws(F.col(text_col)))
    n = F.size("_t")
    pair_arr = F.arrays_zip(
        F.slice("_t", 1, n - 1).alias("w1"), F.slice("_t", 2, n - 1).alias("w2")
    )
    pairs = (
        df.select(F.col(id_col).alias("_id"), t.alias("_t"))
        .filter(n >= 2)
        .select("_id", F.explode(pair_arr).alias("p"))
        .select("_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    uni = (
        df.select(F.explode(t).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    vocab = uni.agg(F.count("*").alias("v"))
    nll = -F.log(
        (F.col("c12") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("v"))
    )
    return (
        pairs.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg(nll), 4).alias("bigram_nll"),
        )
        .withColumnRenamed("_id", id_col)
    )

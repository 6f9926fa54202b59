"""Exact edit-distance (fuzzy) join — symmetric-deletion blocking for
short strings, prefix-filtered q-gram blocking for long ones.

Record linkage / entity resolution needs ``JOIN ON edit_distance(a, b)
<= d`` — which no equi-join expresses and a cross join cannot survive at
scale (10^9 × 10^9 comparisons). Both blocking schemes here are
**complete** (never drop a true pair) and feed an exact JVM-side
``F.levenshtein`` verify, so the result EQUALS the cross-join definition.

**Why two schemes.** The classic rarest-q-gram prefix filter (AllPairs/
PPJoin family) assumes rare grams are discriminative. On short
STRUCTURED strings sharing a scaffold ("entity <id> record <id>") that
assumption collapses: measured on a 112k-row synthetic corpus, every
"rare" gram was still shared by ~2.3k strings, the signature equi-join
produced 415M candidate pairs and 467s of wall — a quadratic bucket
blowup (.benchmarks/SCALE10_r9.md). The fix is the symmetric-deletion
scheme (the FastSS / SymSpell family):

* if ``levenshtein(a, b) <= d`` then deleting the ≤ d aligned
  edit positions from each side leaves equal subsequences, so
  ``D_≤d(a) ∩ D_≤d(b) ≠ ∅`` where ``D_≤d(s)`` is s's deletion
  neighborhood (every string reachable by ≤ d single-char deletions).
* Each side emits its deletion variants (``Σ_{i≤d} C(len,i)`` per
  string — bounded because the scheme only runs for ``len <=
  symdel_max_len``), the candidate set is the variant equi-join.
  Variants are near-whole strings, so join buckets are as selective as
  the strings themselves: candidate volume is proportional to the
  number of pairs within ~2d, i.e. output-proportional — structured
  scaffolds cost nothing because the discriminative payload survives in
  every variant. Variants join as ``xxhash64`` keys (8 bytes instead of
  the string): a hash collision can only ADD a candidate, never lose
  one, and the verify removes it — exactness is preserved while shuffle
  bytes drop ~len/8×.

Long strings (``len > symdel_max_len``, where C(len, d) explodes) keep
the q-gram prefix filter — long natural text has diverse, genuinely
rare grams, which is exactly the regime where the prefix filter's
assumption holds. Cross-length pairs (one side just under the cap, one
just over — the length window ``|len_a − len_b| <= d`` allows nothing
wider) are covered by extending the symdel side to ``len <=
symdel_max_len + d`` on the opposite table, so the four length-quadrant
candidate sets partition the pair space exactly.

Scale notes: symdel shuffles rows × Σ C(len,i) 8-byte keys — linear in
input, partitionable, no corpus-wide skew key (a hot variant bucket
means genuinely many near-equal strings, i.e. the OUTPUT is large; any
exact algorithm pays output size). The q-gram path shuffles one
gram-frequency aggregate, one per-string window over ≤ len(s) rows, and
one signature equi-join whose skew is bounded because frequent grams
are excluded from signatures. No Python anywhere in either path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.sources.tables import fan_out


def _grams(col, q: int):
    """Distinct q-gram set of ``lower(col)`` — pure JVM HOFs; a string
    shorter than ``q`` yields itself as its single gram."""
    s = F.lower(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - q + 1, F.lit(1))),
            lambda i: s.substr(i, F.lit(q)),
        )
    )


def _del_variants(col, d: int) -> Column:
    """Distinct deletion neighborhood D_≤d of ``lower(col)`` as an
    array<string> (the string itself, every single-deletion, and for
    d=2 every double-deletion) — pure JVM HOFs. Supports d in {1, 2}."""
    if d not in (1, 2):
        raise ValueError("symmetric-deletion blocking supports max_distance 1 or 2")
    s = F.lower(col)
    n = F.length(s)
    idx = F.sequence(F.lit(1), F.greatest(n, F.lit(1)))
    empty = F.array().cast("array<string>")

    def del1(i):
        return F.concat(s.substr(F.lit(1), i - F.lit(1)), s.substr(i + F.lit(1), n))

    singles = F.when(n >= 1, F.transform(idx, del1)).otherwise(empty)
    parts = [F.array(s), singles]
    if d == 2:

        def del2(i):
            # all deletions of positions (i, j) with j in (i, n]
            return F.when(
                i < n,
                F.transform(
                    F.sequence(i + F.lit(1), F.greatest(n, i + F.lit(1))),
                    lambda j: F.concat(
                        s.substr(F.lit(1), i - F.lit(1)),
                        s.substr(i + F.lit(1), j - i - F.lit(1)),
                        s.substr(j + F.lit(1), n),
                    ),
                ),
            ).otherwise(empty)

        doubles = F.when(n >= 2, F.flatten(F.transform(idx, del2))).otherwise(empty)
        parts.append(doubles)
    return F.array_distinct(F.concat(*parts))


def _symdel_candidates(l_side: DataFrame, r_side: DataFrame, d: int) -> DataFrame:
    """Distinct (l_id, r_id) sharing a deletion variant — the complete
    symdel candidate set for the given frames."""
    lv = l_side.select(
        "l_id", F.explode(_del_variants(F.col("l_val"), d)).alias("_var")
    ).select("l_id", F.xxhash64("_var").alias("_vh"))
    rv = r_side.select(
        "r_id", F.explode(_del_variants(F.col("r_val"), d)).alias("_var")
    ).select("r_id", F.xxhash64("_var").alias("_vh"))
    return lv.join(rv, "_vh").select("l_id", "r_id").distinct()


def _qgram_candidates(
    l_side: DataFrame, r_side: DataFrame, d: int, q: int
) -> DataFrame:
    """Distinct (l_id, r_id) sharing one of each other's q·d+1 rarest
    grams — complete by the gram-count bound (an edit touches ≤ q grams,
    so within distance d the gram sets differ by ≤ q·d) plus the
    prefix-filter theorem. Strings here are guaranteed (by the caller's
    length routing) to own ≥ q·d+1 distinct grams."""
    sig_size = q * d + 1
    lg = l_side.select("l_id", _grams(F.col("l_val"), q).alias("_grams"))
    rg = r_side.select("r_id", _grams(F.col("r_val"), q).alias("_grams"))
    freq = (
        lg.select(F.explode("_grams").alias("gram"))
        .unionByName(rg.select(F.explode("_grams").alias("gram")))
        .groupBy("gram")
        .agg(F.count("*").alias("_freq"))
    )

    def signatures(s: DataFrame, id_col: str) -> DataFrame:
        g = s.select(id_col, F.explode("_grams").alias("gram")).join(freq, "gram")
        w = Window.partitionBy(id_col).orderBy(F.col("_freq").asc(), F.col("gram").asc())
        return (
            g.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= sig_size)
            .select(id_col, "gram")
        )

    return (
        signatures(lg, "l_id")
        .join(signatures(rg, "r_id"), "gram")
        .select("l_id", "r_id")
        .distinct()
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_val: str,
    right_id: str,
    right_val: str,
    max_distance: int = 2,
    q: int = 3,
    symdel_max_len: int = 40,
    max_deficient: int = 100_000,
) -> DataFrame:
    """All (left, right) pairs with ``levenshtein(left_val, right_val)
    <= max_distance`` — exact, via symmetric-deletion blocking for
    strings up to ``symdel_max_len`` chars and prefix-filtered q-gram
    blocking above it (see module docstring). ``max_distance`` 1 or 2
    (the entity-resolution regime; larger radii need a different plan).
    Returns (l_id, r_id, l_val, r_val, edit_dist)."""
    d = max_distance
    # Spread rows across all cores BEFORE the deletion-variant / q-gram
    # expansion (``tables.fan_out``): the per-row expansion is Σ C(len, i)
    # substring builds — hundreds of strings per row — and a small input
    # arrives as ONE scan partition, serializing that work onto one core
    # (profiled: a 2.3 s single-task stage on the 20k-row part catalog).
    # A wide input keeps its own partitioning and skips the exchange.
    L = fan_out(
        left.select(
            F.col(left_id).alias("l_id"),
            F.col(left_val).alias("l_val"),
            F.length(left_val).alias("_l_len"),
        )
    )
    R = fan_out(
        right.select(
            F.col(right_id).alias("r_id"),
            F.col(right_val).alias("r_val"),
            F.length(right_val).alias("_r_len"),
        )
    )
    cap = symdel_max_len
    l_short, l_long = L.filter(F.col("_l_len") <= cap), L.filter(F.col("_l_len") > cap)
    r_short, r_long = R.filter(F.col("_r_len") <= cap), R.filter(F.col("_r_len") > cap)
    # the four length quadrants partition the pair space; the length
    # window |len_l - len_r| <= d means a cross quadrant only contains
    # pairs hugging the cap, so the long side of a cross quadrant is
    # pre-filtered to len <= cap + d before emitting deletion variants.
    # the prefix filter needs >= q*d+1 DISTINCT grams per string — a
    # long string below that bound (a near-single-repeated-char
    # degenerate) gets no completeness guarantee from ANY gram filter,
    # so those route through a contract-bounded broadcast against the
    # long cohort; the contract is enforced (counted, refused above
    # max_deficient), never assumed.
    sig_size = q * d + 1
    n_distinct_grams = F.size(_grams(F.col("l_val"), q))
    l_rich = l_long.filter(n_distinct_grams >= sig_size)
    l_def = l_long.filter(n_distinct_grams < sig_size)
    n_distinct_grams_r = F.size(_grams(F.col("r_val"), q))
    r_rich = r_long.filter(n_distinct_grams_r >= sig_size)
    r_def = r_long.filter(n_distinct_grams_r < sig_size)
    # the broadcast contract needs the deficient-cohort size BEFORE the
    # plan is final — one probe job over the UNION of both sides (not
    # one count() per side), with the gram expansion guarded behind the
    # length test so the common all-short corpus pays a plain length
    # scan and never materializes a gram array
    _is_def = F.when(
        F.col("_len") > cap,
        F.when(F.size(_grams(F.col("_val"), q)) < sig_size, 1).otherwise(0),
    ).otherwise(0)
    probe = (
        L.select(F.col("_l_len").alias("_len"), F.col("l_val").alias("_val"))
        .unionAll(R.select(F.col("_r_len").alias("_len"), F.col("r_val").alias("_val")))
        .agg(F.coalesce(F.sum(_is_def), F.lit(0)).alias("n_def"))
        .collect()[0]
    )
    n_def = int(probe["n_def"])
    if n_def > max_deficient:
        raise ValueError(
            f"{n_def} gram-deficient long strings exceed the broadcast "
            f"contract ({max_deficient}); pre-filter degenerate strings"
        )
    deficient_pairs = (
        F.broadcast(l_def.select("l_id"))
        .crossJoin(r_long.select("r_id"))
        .unionByName(
            l_rich.select("l_id").crossJoin(F.broadcast(r_def.select("r_id")))
        )
        if n_def
        else None
    )
    cand = (
        _symdel_candidates(l_short, r_short, d)
        .unionByName(
            _symdel_candidates(l_short, r_long.filter(F.col("_r_len") <= cap + d), d)
        )
        .unionByName(
            _symdel_candidates(l_long.filter(F.col("_l_len") <= cap + d), r_short, d)
        )
        .unionByName(_qgram_candidates(l_rich, r_rich, d, q))
    )
    if deficient_pairs is not None:
        cand = cand.unionByName(deficient_pairs)
    cand = cand.distinct()
    return (
        cand.join(L.select("l_id", "l_val", "_l_len"), "l_id")
        .join(R.select("r_id", "r_val", "_r_len"), "r_id")
        .filter(F.abs(F.col("_l_len") - F.col("_r_len")) <= d)
        .withColumn("edit_dist", F.levenshtein("l_val", "r_val"))
        .filter(F.col("edit_dist") <= d)
        .select("l_id", "r_id", "l_val", "r_val", "edit_dist")
    )

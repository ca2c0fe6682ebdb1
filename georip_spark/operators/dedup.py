"""Deduplication operators for large-scale training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band →
bucket-join), SimHash, and n-gram Jaccard — all as pure Catalyst
column math (higher-order functions over arrays; zero Python UDFs),
so the fingerprinting runs inside whole-stage codegen and the only
shuffles are the final band-bucket / pair joins.

Hashing is a polynomial rolling hash over Unicode code points with
explicit modulus — deliberately engine-portable (reproducible in any
SQL engine; Spark's xxhash64 would not be), which is also what lets
the DuckDB oracle verify these operators bit-for-bit.

Scale notes: at 10^12 docs the minhash signature is a narrow
fixed-width projection computed in the scan stage; the band-bucket
equi-join is the classic LSH shuffle, band keys are near-uniform by
construction (hash buckets), and candidate verification (exact
jaccard) touches only bucket collisions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MOD = 2147483647  # 2^31 − 1 (Mersenne prime)
SHINGLE_LEN = 8
SHINGLE_STRIDE = 4
MINHASH_K = 16
BANDS = 4  # 4 bands × 4 rows

# fixed affine hash family (a_h·x + b_h) mod MOD — small odd constants
# keep a_h·x < 2^63 (x < 2^31, a < 2^9)
_HASH_A = [2 * h + 3 for h in range(MINHASH_K)]
_HASH_B = [5 * h + 1 for h in range(MINHASH_K)]


def shingle_codes(text: Column) -> Column:
    """text → array<long> of polynomial codes of its length-8
    character shingles taken every 4 chars.

    code(s) = Σ_{j=0..7} cp(s[j]) · 31^j  (mod 2^31−1), cp = Unicode
    code point. Max pre-mod value 8·0x10FFFF·31^7 < 2^63 — no
    overflow, so Spark and any SQL oracle agree exactly.
    """
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length(text) - SHINGLE_LEN, F.lit(0)),
        F.lit(SHINGLE_STRIDE),
    )
    def code(i: Column) -> Column:
        sh = F.substring(text, i + 1, SHINGLE_LEN)
        total = F.lit(0).cast("long")
        for j in range(SHINGLE_LEN):
            total = total + F.ascii(F.substring(sh, j + 1, 1)).cast("long") * F.lit(31 ** j)
        return total % F.lit(MOD)

    return F.transform(starts, code)


def _affine_hash(a: int, b: int):
    # factory, not default-arg lambda: PySpark infers lambda arity from
    # the parameter count, so `lambda c, a=a: ...` would read as 2-ary
    return lambda c: (c * F.lit(a) + F.lit(b)) % F.lit(MOD)


def minhash_signature(codes: Column) -> Column:
    """array<long> codes → array<long>[K] minhash signature."""
    sig = [
        F.array_min(F.transform(codes, _affine_hash(a, b)))
        for a, b in zip(_HASH_A, _HASH_B)
    ]
    return F.array(*sig)


def band_keys(sig: Column) -> Column:
    """Signature → array<string>[BANDS] of band bucket keys (the LSH
    grouping keys). rows_per_band = K / BANDS."""
    rpb = MINHASH_K // BANDS
    bands = []
    for b in range(BANDS):
        parts = [sig[b * rpb + r].cast("string") for r in range(rpb)]
        bands.append(F.concat_ws("_", F.lit(str(b)), *parts))
    return F.array(*bands)


def minhash_signatures_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, h0..h15) minhash signatures via explode + hash-aggregate.

    Why not one expression per hash over the codes array: Catalyst's
    CollapseProject inlines the codes sub-expression into every
    array_min, recomputing the shingle polynomial K times. Exploding
    to (id, code) rows and taking K mins in ONE groupBy evaluates each
    code once, and partial (map-side) aggregation reduces the shuffle
    to K longs per doc — the formulation that survives 10^12 docs.
    """
    codes = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingle_codes(F.col(text_col))).alias("c"),
    )
    aggs = [
        F.min((F.col("c") * F.lit(a) + F.lit(b)) % F.lit(MOD)).alias(f"h{i}")
        for i, (a, b) in enumerate(zip(_HASH_A, _HASH_B))
    ]
    return codes.groupBy("_id").agg(*aggs)


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs sharing ≥1 band bucket.
    Returns distinct (id_a, id_b) with id_a < id_b.

    Plan shape: scan → explode shingles → partial+final hash agg →
    band keys → explode bands → shuffle on band key (uniform) →
    per-bucket self-pairs → distinct.

    Hot-bucket guard (``bucket_cap``, default off): a band bucket with
    B members emits O(B²) pairs — a 10⁶-row near-identical boilerplate
    cluster (routine in a web crawl) makes one straggler task own
    ~5·10¹¹ rows. With ``bucket_cap=c`` set, buckets larger than c are
    sub-split on ``id mod ceil(B/c)`` (deterministic, same scheme as
    similarity.lsh_neardup_pairs) and each row is additionally chained
    to its successor in id order, so every hot bucket stays CONNECTED
    through the chain while pair enumeration is capped at
    O(B·c + B). The pair SET then differs from the uncapped one
    (cross-sub-bucket non-adjacent pairs are forgone — a disclosed
    recall trade for downstream component-level dedup, which only
    needs connectivity); the default ``None`` keeps the exact
    all-bucket-pairs semantics the q19 oracle verifies.
    """
    rpb = MINHASH_K // BANDS
    sig_df = minhash_signatures_df(df, id_col, text_col)
    bands = []
    for b in range(BANDS):
        parts = [F.col(f"h{b * rpb + r}").cast("string") for r in range(rpb)]
        bands.append(F.concat_ws("_", F.lit(str(b)), *parts))
    sigs = sig_df.select("_id", F.explode(F.array(*bands)).alias("band"))
    if bucket_cap:
        from pyspark.sql.window import Window

        wb = Window.partitionBy("band")
        sigs = sigs.withColumn(
            "_k",
            F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.count("*").over(wb) / F.lit(bucket_cap)).cast("long"),
            ),
        )
        idl = F.col("_id").cast("long")
        sigs = sigs.withColumn(
            "_sub",
            F.when(F.col("_k") <= 1, F.lit(0).cast("long")).otherwise(
                F.pmod(
                    F.coalesce(
                        idl,
                        F.raise_error(
                            f"minhash_candidate_pairs: id_col '{id_col}' must "
                            "cast to long for the deterministic hot-bucket "
                            "sub-split"
                        ).cast("long"),
                    ),
                    F.col("_k"),
                )
            ),
        )
        a = sigs.alias("a")
        b = sigs.alias("b")
        joined = (
            a.join(b, ["band", "_sub"])
            .filter(F.col("a._id") < F.col("b._id"))
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        )
        # id-order chain within hot buckets only: keeps the bucket one
        # component even though the sub-split shattered its cliques
        nxt = F.lead("_id").over(wb.orderBy("_id"))
        chain = (
            sigs.filter(F.col("_k") > 1)
            .select(F.col("_id").alias("id_a"), nxt.alias("id_b"))
            .filter(F.col("id_b").isNotNull())
        )
        return joined.unionByName(chain).distinct()
    a = sigs.alias("a")
    b = sigs.alias("b")
    pairs = (
        a.join(b, "band")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, pairs: DataFrame
) -> DataFrame:
    """Exact n-gram Jaccard verification for candidate pairs:
    |A∩B| / |A∪B| over distinct shingle-code sets."""
    sets_df = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingle_codes(F.col(text_col))).alias("_set"),
    )
    j = (
        pairs.join(sets_df.withColumnRenamed("_id", "id_a").withColumnRenamed("_set", "set_a"), "id_a")
        .join(sets_df.withColumnRenamed("_id", "id_b").withColumnRenamed("_set", "set_b"), "id_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size(F.array_union("set_a", "set_b"))
    return j.select(
        "id_a", "id_b",
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    )


def _token_codes(text: Column) -> Column:
    """Whitespace tokens → polynomial codes (first 8 chars)."""
    tokens = F.filter(F.split(text, " "), lambda t: F.length(t) > 0)

    def tok_code(t: Column) -> Column:
        total = F.lit(0).cast("long")
        for j in range(8):
            total = total + F.ascii(F.substring(t, j + 1, 1)).cast("long") * F.lit(31 ** j)
        return total % F.lit(MOD)

    return F.transform(tokens, tok_code)


def simhash_df(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """(id, simhash) SimHash fingerprints: per-token polynomial codes
    vote ±1 on each bit; bit set iff vote sum > 0.

    Same explode + single-groupBy shape as minhash_signatures_df (one
    token-code evaluation, `bits` partial-aggregated sums), instead of
    `bits` F.aggregate folds that would each recompute the codes."""
    codes = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_token_codes(F.col(text_col))).alias("c"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("c"), b) % 2 == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = codes.groupBy("_id").agg(*votes)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"v{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("_id", fp.alias("simhash"))


def neardup_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau: float = 0.6,
    collapse_exact: bool = True,
    bucket_cap: int | None = None,
) -> DataFrame:
    """END-TO-END near-duplicate deduplication — the full composition:
    MinHash-LSH candidates → exact n-gram Jaccard ≥ tau verification →
    connected components over the verified-pair graph → keeper = min
    id per duplicate group.

    Returns one row per input doc: (id_col, keeper, is_kept) —
    singletons keep themselves; a duplicate group survives only
    through its min-id member. Feed ``is_kept`` to a filter (or
    anti-join the losers) to materialize the deduplicated corpus
    (see drop_near_duplicates).

    Scale shape: candidates come from the banded LSH bucket join (no
    all-pairs), verification touches only candidates, and component
    resolution is O(log diameter) min-label rounds — each one
    edge-join + partial-aggregated min. Duplicate-group diameters are
    tiny in practice (near-dups of a doc are near-dups of each other),
    so the loop converges in 2-3 rounds.

    Exact-duplicate collapse (``collapse_exact``, round 6): BEFORE the
    LSH, identical texts are collapsed to one representative (min id
    per md5 fingerprint) and only representatives enter the
    candidate/verify/components machinery; members then inherit their
    representative's component. This is RESULT-IDENTICAL for tau ≤ 1
    — identical texts share every band by construction and verify at
    jaccard = 1, so in the uncapped graph each fingerprint group is a
    clique whose quotient graph (one node per group, an edge iff the
    representatives' texts share a band and pass tau — both facts
    depend only on the TEXT) has exactly the original components, and
    min-id labels agree because each representative is its group's
    min. What it buys: a 10⁶-copy boilerplate cluster — the classic
    100 TB-crawl degenerate band bucket — becomes ONE row before
    banding, so the O(B²) bucket self-join never materializes
    (guide §2.5 hot keys: collapse, don't enumerate). ``bucket_cap``
    additionally guards hot buckets of NON-identical texts (forwarded
    to minhash_candidate_pairs; off by default — see its docstring for
    the recall trade)."""
    from georip_spark.operators.dissolve import connected_components

    collapse = collapse_exact and tau <= 1.0
    if collapse:
        # null-safe fingerprint: md5(NULL) is NULL and would never match
        # the equi-join, losing the row; each null-text doc is its own
        # group instead (a NUL-prefixed key no md5 hex digest equals)
        fp = F.coalesce(
            F.md5(F.col(text_col)),
            F.concat(F.lit("\0nulltext:"), F.col(id_col).cast("string")),
        )
        groups = df.groupBy(fp.alias("_fp")).agg(F.min(id_col).alias("_rep"))
        members = df.select(F.col(id_col).alias("_mid"), fp.alias("_fp")).join(
            groups, "_fp"
        )
        reps = df.join(
            groups.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
        )
    else:
        reps = df

    cand = minhash_candidate_pairs(reps, id_col, text_col, bucket_cap=bucket_cap)
    verified = jaccard_pairs(reps, id_col, text_col, cand).filter(
        F.col("jaccard") >= tau
    )
    pairs = verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    vertices = reps.select(F.col(id_col).alias("geom_id"))
    comps = connected_components(pairs, vertices)
    if collapse:
        return members.join(
            comps, members["_rep"] == comps["geom_id"]
        ).select(
            F.col("_mid").alias(id_col),
            F.col("component").alias("keeper"),
            (F.col("_mid") == F.col("component")).alias("is_kept"),
        )
    return comps.select(
        F.col("geom_id").alias(id_col),
        F.col("component").alias("keeper"),
        (F.col("geom_id") == F.col("component")).alias("is_kept"),
    )


def drop_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, tau: float = 0.6
) -> DataFrame:
    """The deduplicated corpus: df minus non-keeper near-duplicates.
    Join (not broadcast) on the id — the assignment table is the same
    cardinality as df."""
    keep = neardup_dedup(df, id_col, text_col, tau).filter("is_kept").select(id_col)
    return df.join(keep, id_col, "left_semi")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5 fingerprint groups with keeper = min id."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min(id_col).alias("keeper"),
        )
    )

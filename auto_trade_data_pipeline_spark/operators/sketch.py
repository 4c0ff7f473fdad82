"""Deterministic cardinality sketches (KMV / bottom-k, the estimator
family behind theta sketches — Bar-Yossef et al. RANDOM'02, Beyer et
al. SIGMOD'07).

Why KMV here instead of HLL: given the portable md5-60bit hash family
(`operators.text.hash64`) the ENTIRE sketch — the retained hashes,
the threshold, every estimate — is a deterministic function of the
input set, so sketch results are cross-engine oracle-able and
partition-invariant, unlike implementation-defined HLL registers.

Scale shape: a bottom-k sketch is mergeable state of at most k longs
per group — each partition keeps its k smallest locally (map-side),
merges are union + bottom-k, and every downstream set-algebra answer
(distinct count, union, intersection, Jaccard) is computed from the
KB-sized sketch table, never from the raw data again. That is the
whole point at 100 TB: scan once, answer all overlap queries from
sketches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_trade_data_pipeline_spark.operators.text import hash64

__all__ = [
    "KMV_SPACE",
    "kmv_sketch",
    "kmv_estimate_col",
    "kmv_estimate",
    "kmv_pair_overlap",
    "cms_bucket_array",
    "cms_sketch",
    "cms_lookup",
    "HLL_ALPHA_64",
    "HLL_M",
    "hll_sketch",
    "hll_estimate",
]

#: hash64 is uniform on [0, 2^60)
KMV_SPACE = float(1 << 60)


def kmv_sketch(
    df: DataFrame, group_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """Bottom-k sketch per group: the k smallest distinct 60-bit
    hashes of `value_col` — (group, hv, r) with rank r in [1, k].
    The shuffle after this carries at most k longs per group."""
    if k < 2:
        raise ValueError("k must be >= 2")
    h = df.select(
        F.col(group_col), hash64(F.col(value_col).cast("string")).alias("hv")
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("hv")
    return (
        h.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select(group_col, "hv", "r")
    )


def kmv_estimate_col(k: int) -> Column:
    """The KMV distinct-count estimate over a sketch summary's
    ``sketch_n`` (retained hashes) and ``kth_hv`` (k-th smallest hash)
    columns: (k-1) * space / kth_hv when the sketch is full, else the
    exact retained count (a sketch with fewer than k hashes IS the
    distinct set). Unrounded; callers round what they emit."""
    return F.when(F.col("sketch_n") < k, F.col("sketch_n").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_SPACE) / F.col("kth_hv")
    )


def kmv_estimate(sketch: DataFrame, group_col: str, k: int = 64) -> DataFrame:
    """Distinct-count estimate per group from a bottom-k sketch
    (`kmv_estimate_col`). Returns (group, sketch_n, est_distinct)."""
    agg = sketch.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("sketch_n"),
        F.max(F.when(F.col("r") == k, F.col("hv"))).alias("kth_hv"),
    )
    return agg.select(
        group_col, "sketch_n", F.round(kmv_estimate_col(k), 4).alias("est_distinct")
    )


def kmv_pair_overlap(sketch: DataFrame, group_col: str, k: int = 64) -> DataFrame:
    """Theta-style set algebra for every group pair, computed ONLY
    from the sketches: merge the two bottom-k sets, take the k
    smallest of the union (threshold theta = the kth, or the full
    merged set if it has fewer than k hashes), count the common
    hashes below theta, and estimate

        |A u B|   = (k-1) * space / theta      (exact if merged < k)
        |A n B|   = common_below_theta * space / theta
        jaccard   = common_below_theta / k'    (k' = union sample size)

    Emits (group_a, group_b, est_union, est_inter, jaccard_est). The
    pair computation touches sketch rows only — at most 2k longs per
    pair — so all-pairs overlap across G groups costs O(G^2 k) longs,
    independent of the data size."""
    a = sketch.select(
        F.col(group_col).alias("group_a"), F.col("hv"), F.lit(1).alias("in_a")
    )
    b = sketch.select(
        F.col(group_col).alias("group_b"), F.col("hv"), F.lit(1).alias("in_b")
    )
    pairs = (
        a.select("group_a").distinct()
        .join(b.select("group_b").distinct())
        .filter(F.col("group_a") < F.col("group_b"))
    )
    ha = pairs.join(a.select("group_a", "hv"), "group_a").select(
        "group_a", "group_b", "hv"
    )
    hb = pairs.join(b.select("group_b", "hv"), "group_b").select(
        "group_a", "group_b", "hv"
    )
    merged = ha.unionByName(hb).distinct()
    w = Window.partitionBy("group_a", "group_b").orderBy("hv")
    topk = merged.withColumn("ur", F.row_number().over(w)).filter(F.col("ur") <= k)
    theta = topk.groupBy("group_a", "group_b").agg(
        F.count(F.lit(1)).alias("ku"),
        F.max(F.when(F.col("ur") == k, F.col("hv"))).alias("theta_hv"),
    )
    common = (
        a.select(F.col("group_a"), "hv")
        .join(b.select("group_b", "hv"), "hv")
        .filter(F.col("group_a") < F.col("group_b"))
        .join(theta, ["group_a", "group_b"])
        .filter(F.col("theta_hv").isNull() | (F.col("hv") < F.col("theta_hv")))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = theta.join(common, ["group_a", "group_b"], "left").select(
        "group_a",
        "group_b",
        "ku",
        F.coalesce("n_common", F.lit(0)).alias("n_common"),
        "theta_hv",
    )
    est_union = F.when(F.col("theta_hv").isNull(), F.col("ku").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_SPACE) / F.col("theta_hv")
    )
    est_inter = F.when(
        F.col("theta_hv").isNull(), F.col("n_common").cast("double")
    ).otherwise(F.col("n_common") * F.lit(KMV_SPACE) / F.col("theta_hv"))
    jac = F.col("n_common") / F.col("ku")
    return out.select(
        "group_a",
        "group_b",
        F.round(est_union, 4).alias("est_union"),
        F.round(est_inter, 4).alias("est_inter"),
        F.round(jac, 6).alias("jaccard_est"),
    )


def cms_bucket_array(
    value_col: str, depth: int, width: int, salt: str = "cms"
):
    """The depth (r, bucket) cells an item of `value_col` lands in,
    as one inline array of structs — shared by the batch sketch, the
    point lookup, and the streaming form so all three bucket
    identically."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (hash64(F.col(value_col).cast("string"), salt=f"{salt}{r}") % width)
                .cast("int")
                .alias("bucket"),
            )
            for r in range(depth)
        ]
    )


def cms_sketch(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 512,
    salt: str = "cms",
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan, J.Alg'05): a
    depth x width grid of counters; row r counts items at bucket
    hash_r(item) % width. Point estimate = min over rows — always an
    OVER-estimate (collisions only add), error <= 2N/width with
    probability 1 - (1/2)^depth.

    Returns the sketch as (r, bucket, c) rows — depth*width longs of
    mergeable state (merge = sum by cell), the frequency-table
    analogue of the KMV distinct sketch. Deterministic: buckets come
    from the portable md5-60bit hash family salted per row, so the
    whole sketch (and every estimate off it) is cross-engine
    oracle-able, unlike seeded-RNG CMS implementations.

    Scale shape: ONE scan — the depth buckets per item ride a single
    posexplode'd inline array (no per-row re-scan per hash row) —
    then one shuffle on the uniform (r, bucket) key with map-side
    partial sums. The sketch is KB-sized and broadcastable; point
    lookups never touch the raw data again."""
    if depth < 1 or width < 2:
        raise ValueError("depth must be >= 1 and width >= 2")
    wcol = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    ex = df.select(
        F.explode(cms_bucket_array(value_col, depth, width, salt)).alias("rb"),
        wcol.alias("__w"),
    )
    return (
        ex.groupBy(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
        .agg(F.sum("__w").alias("c"))
    )


def cms_lookup(
    cms: DataFrame,
    probes: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 512,
    salt: str = "cms",
) -> DataFrame:
    """Point-frequency estimates for `probes[value_col]` from a CMS
    built with the same (depth, width, salt): re-derive each probe's
    depth buckets, join the (KB-sized, broadcast) sketch on (r,
    bucket), take the min cell per probe. Missing cells count 0 (an
    empty cell proves absence). Adds a `cms_est` long column."""
    ex = probes.select(
        value_col, F.explode(cms_bucket_array(value_col, depth, width, salt)).alias("rb")
    ).select(
        value_col, F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket")
    )
    joined = ex.join(F.broadcast(cms), ["r", "bucket"], "left").select(
        value_col, F.coalesce("c", F.lit(0)).alias("c")
    )
    est = joined.groupBy(value_col).agg(F.min("c").alias("cms_est"))
    return probes.join(est, value_col)


# ---------------------------------------------------------------------------
# HyperLogLog (deterministic registers over the portable hash family)
# ---------------------------------------------------------------------------

#: alpha_64: the HLL bias constant 0.7213/(1 + 1.079/m) for m=64,
#: embedded as an exact double literal shared with the SQL oracles.
HLL_ALPHA_64 = 0.7093409548395029
HLL_M = 64
#: Registers deeper than this contribute 0 to the scaled harmonic sum
#: (2^(50-reg) underflows BIGINT scaling); identical truncation on
#: both engines, reachable only with ~2^50 hashed values per bucket.
HLL_REG_CAP = 50


def hll_sketch(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """HyperLogLog registers per group (Flajolet et al., AofA'07) over
    the md5-60bit hash family: bucket = hash mod m, rho = leading-zero
    rank of the remaining 54 bits. Because the hash family is the
    deterministic portable one (`operators.text.hash64`), the ENTIRE
    register table is a pure function of the input set — cross-engine
    oracle-able and partition-invariant, which implementation-defined
    HLL register layouts are not.

    Returns (group, bucket, register) for OCCUPIED buckets only;
    `hll_estimate` supplies the empty-bucket spine. Merge/union of
    sketches is elementwise max over registers — the mergeable-state
    property that makes HLL the production distinct-count sketch at
    100 TB: each partition reduces to m bytes, combines are max."""
    h = df.select(
        F.col(group_col), hash64(F.col(value_col).cast("string"), salt="hll").alias("hv")
    ).distinct()
    rem = F.expr(f"hv div {HLL_M}")
    rho = F.when(rem == 0, F.lit(55)).otherwise(55 - F.length(F.bin(rem)))
    return (
        h.select(
            F.col(group_col),
            (F.col("hv") % HLL_M).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("register"))
    )


def hll_estimate(sketch: DataFrame, group_col: str) -> DataFrame:
    """Raw HLL estimate per group from a register table: the scaled
    harmonic sum S = sum over all m buckets of 2^(50 - register)
    (register 0 for empty buckets) is an exact BIGINT, and the final
    alpha * m^2 * 2^50 / S is one double division — deterministic at
    any parallelism. No small/large-range corrections (the raw
    estimator is what the cross-engine differential pins; corrections
    are a monotone post-map both engines would share)."""
    spark = sketch.sparkSession
    groups = sketch.select(group_col).distinct()
    spine = groups.crossJoin(
        spark.range(HLL_M).select(F.col("id").cast("long").alias("bucket"))
    )
    full = spine.join(sketch, [group_col, "bucket"], "left").select(
        group_col,
        "bucket",
        F.coalesce(F.col("register"), F.lit(0)).alias("register"),
    )
    term = F.when(
        F.col("register") <= HLL_REG_CAP,
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_REG_CAP} - register AS INT))"),
    ).otherwise(F.lit(0).cast("long"))
    s = full.groupBy(group_col).agg(F.sum(term).alias("s_scaled"))
    est = (
        F.lit(HLL_ALPHA_64)
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(1 << HLL_REG_CAP))
        / F.col("s_scaled").cast("double")
    )
    return s.select(group_col, "s_scaled", est.alias("hll_est"))

"""Count-Min Sketch — bounded-memory frequency estimation for heavy
hitters over unbounded streams (Cormode & Muthukrishnan 2005).

The 100 TB problem: "which terms / domains / fingerprints are hot" over
a stream whose exact groupBy state would grow with the key universe.
A CMS is a depth x width counter grid — memory FIXED at d*w cells
regardless of universe size — where every occurrence increments one
cell per row (cell_j = hash_j(value) mod width) and a point estimate is
the MIN over the value's d cells: never an underestimate, over by at
most epsilon*N with probability 1-delta at the textbook sizing.

Spark shape: the sketch IS a DataFrame of nonzero cells (j, col, c) —
built with one map-side-combined groupBy over the d exploded hash
positions per occurrence, so the shuffle carries at most d*w cell rows
per partition no matter how many occurrences flow through (the same
bound that makes the block-built Bloom filter scale,
bloomdedup.build_bloom). Sketches MERGE by unionByName + the same
groupBy-sum — the associative property that makes per-batch sketches
composable across a stream's epochs. Queries broadcast the sketch
(d*w rows) and take one min-aggregation per candidate value.

Hashes are xxhash64(value, j) pmod width — Spark-reproducible from a
materialized position table by any engine (the bloomdedup/minhash
oracle convention); everything downstream is integer SQL.

No reference analog (/root/reference is a slow-log parser, src/*.rs).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F


def cms_positions(
    df: DataFrame, value_col: str, depth: int, width: int
) -> DataFrame:
    """One (value, j, col) row per input row per sketch row j: col =
    xxhash64(value, j) pmod width. Keeps every OTHER column of `df`
    (weights ride along)."""
    js = F.array(*[F.lit(j) for j in range(depth)])
    return df.select(
        "*", F.explode(js).alias("j")
    ).withColumn(
        "col", F.pmod(F.xxhash64(F.col(value_col), F.col("j")), F.lit(width))
    )


def build_cms(
    df: DataFrame,
    value_col: str,
    depth: int,
    width: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Nonzero sketch cells (j, col, c): c = sum of weights (1 per row if
    `weight_col` is None) of the values hashing there. One shuffle whose
    width is bounded by depth*width cells per map partition."""
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    return (
        cms_positions(df.select(value_col, *( [weight_col] if weight_col else [] )),
                      value_col, depth, width)
        .groupBy("j", "col")
        .agg(F.sum(w).alias("c"))
    )


def cms_query(
    values: DataFrame,
    cms: DataFrame,
    value_col: str,
    depth: int,
    width: int,
) -> DataFrame:
    """(value, cms_est) point estimates for the candidate values: min
    over the value's depth cells; a value whose cell was never touched
    estimates 0 (left-join null). The sketch side broadcasts (<= d*w
    rows); one per-value min aggregation is the only shuffle."""
    pos = cms_positions(
        values.select(value_col).distinct(), value_col, depth, width
    )
    return (
        pos.join(F.broadcast(cms), ["j", "col"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"))
    )


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    k: int,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """K-Minimum-Values distinct sketch (Bar-Yossef et al. 2002) per
    group: the k smallest xxhash64 values over the DISTINCT inputs —
    (group..., h, rk) rows, rk 1-based. Unlike HLL, KMV with a fixed
    hash is fully DETERMINISTIC, so two engines (or two runs) produce
    the identical sketch — the property that makes it value-hash
    verifiable where approx_count_distinct is not.

    Scale shape: distinct (one map-side-combined shuffle), then a
    per-group window bottom-k — parallel across groups; for ONE
    giant group prefer the two-phase rank (corpus._distributed_rank)
    to avoid a single-partition sort, the standard window caveat."""
    if k < 2:
        raise ValueError(f"kmv_sketch: k must be >= 2, got {k}")
    from pyspark.sql import Window

    gcols = list(group_cols)
    hashed = (
        df.select(*gcols, F.col(value_col).alias("__v"))
        .distinct()
        .select(*gcols, F.xxhash64("__v").alias("h"))
    )
    w = Window.partitionBy(*gcols).orderBy("h") if gcols else Window.orderBy("h")
    return (
        hashed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*gcols, "h", "rk")
    )


def kmv_estimate(
    sketch: DataFrame, k: int, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(group..., n_distinct_est): (k-1) / u_(k) where u_(k) maps the
    k-th smallest signed-64 hash onto (0, 1). A group holding FEWER than
    k hashes has every distinct value in the sketch — its count is
    exact, by definition of bottom-k, and is returned as such. All
    arithmetic is reproducible double math over the sketch rows — the
    oracle recomputes it from the same materialized hashes."""
    gcols = list(group_cols)
    agg = sketch.groupBy(*gcols).agg(
        F.count("*").alias("__n"), F.max("h").alias("__hk")
    )
    u = (F.col("__hk").cast("double") - F.lit(float(-(2 ** 63)))) / F.lit(
        float(2 ** 64)
    )
    return agg.select(
        *gcols,
        F.when(F.col("__n") < k, F.col("__n").cast("double"))
        .otherwise(F.lit(float(k - 1)) / u)
        .alias("n_distinct_est"),
    )


def hll_alpha(p: int) -> float:
    """Bias-correction constant alpha_m for m = 2^p registers (Flajolet
    et al. 2007, HyperLogLog)."""
    m = 1 << p
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_sketch(
    df: DataFrame, value_col: str, p: int, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """HyperLogLog register table per group: (group..., reg, rho) with at
    most m = 2^p rows per group. reg = top p bits of xxhash64(value),
    rho = 1 + leading-zero count of the remaining W = 64-p bits (the
    Flajolet position-of-first-1; rho = W+1 when the suffix is all
    zeros), rho aggregated per register with MAX.

    Fully DETERMINISTIC (fixed hash, integer-only rho), unlike Spark's
    approx_count_distinct whose sketch is opaque — so the register table
    is value-hash verifiable by a second engine recomputing
    `(h >> W) & (m-1)` and `W + 1 - bitlength(h & (2^W - 1))` from the
    same materialized hashes.

    100 TB shape: NO distinct pre-shuffle (MAX is idempotent over
    duplicate values — the decisive win over KMV, which must distinct
    first); one map-side-combined groupBy whose shuffle carries at most
    m rows per partition per group regardless of row count."""
    if not 4 <= p <= 16:
        raise ValueError(f"hll_sketch: p must be in [4, 16], got {p}")
    w = 64 - p
    q = w + 1
    gcols = list(group_cols)
    h = F.xxhash64(value_col)
    rest = h.bitwiseAND(F.lit((1 << w) - 1))
    rho = F.when(rest == 0, F.lit(q)).otherwise(F.lit(q) - F.length(F.bin(rest)))
    return (
        df.select(
            *gcols,
            F.shiftright(h, w).bitwiseAND(F.lit((1 << p) - 1)).alias("reg"),
            rho.alias("rho"),
        )
        .groupBy(*gcols, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def merge_hll(*sketches: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Union per-batch register tables and re-MAX — the HLL merge law
    (register-wise max of sketches == sketch of the union, exactly)."""
    if not sketches:
        raise ValueError("merge_hll: need at least one sketch")
    gcols = list(group_cols)
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*gcols, "reg").agg(F.max("rho").alias("rho"))


def hll_estimate(
    sketch: DataFrame, p: int, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(group..., hll_est): the HLL cardinality estimate from a register
    table. Relative standard error ~= 1.04 / sqrt(2^p).

    Engine-portable arithmetic, deliberately: the harmonic sum
    sum_j 2^-M_j is computed as the EXACT integer sum_j 2^(Q - M_j)
    (Q = 64-p+1 bounds rho) in decimal(38,0) — terms span 2^0..2^(Q-1),
    beyond double's 53-bit mantissa, so a float sum would be
    order-dependent and unverifiable — then one decimal->double cast and
    one division by the Python-side literal alpha*m^2*2^Q. The
    small-range correction (E <= 2.5m with V empty registers) indexes a
    Python-precomputed literal table of m*ln(m/V) values rather than
    calling the engine's ln, so two engines agree bit-for-bit."""
    m = 1 << p
    q = 64 - p + 1
    gcols = list(group_cols)
    c = hll_alpha(p) * m * m * float(1 << q)
    # m * ln(m / V) for V = 1..m, 1-indexed (V=0 never hits the branch)
    lincount = F.array(
        *[F.lit(m * math.log(m / v)) for v in range(1, m + 1)]
    )
    agg = sketch.groupBy(*gcols).agg(
        F.count("*").alias("__nt"),
        F.sum(
            F.expr(f"cast(shiftleft(1L, {q} - rho) as decimal(38,0))")
        ).alias("__si"),
    )
    total = (
        F.col("__si")
        + (F.lit(m) - F.col("__nt")) * F.lit(1 << q).cast("decimal(38,0)")
    ).cast("double")
    raw = F.lit(c) / total
    v_zero = F.lit(m) - F.col("__nt")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.element_at(lincount, v_zero.cast("int")),
    ).otherwise(raw)
    return agg.select(*gcols, est.alias("hll_est"))


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    cms: DataFrame,
    candidates: DataFrame,
    depth: int,
    width: int,
) -> DataFrame:
    """Estimate-vs-exact audit over a candidate set: (value, exact,
    cms_est). The CMS guarantee — cms_est >= exact always, and over by
    at most epsilon*N w.h.p. — is checkable row by row; `df` supplies
    the exact counts (at audit scale; in production the exact side is
    the expensive thing the sketch replaces)."""
    exact = (
        df.join(candidates.select(value_col).distinct(), value_col, "left_semi")
        .groupBy(value_col)
        .agg(F.count("*").alias("exact"))
    )
    est = cms_query(candidates, cms, value_col, depth, width)
    return exact.join(est, value_col)


def build_hll_index(
    df: DataFrame,
    index_path: str,
    value_col: str,
    p: int,
    group_cols: tuple[str, ...] = (),
) -> None:
    """Persist an HLL register index for CONTINUOUS distinct tracking:
    the ingest-side answer to "how many distinct urls/terms/users has
    this stream carried, per group, so far" in O(m) storage per group.
    The table is (group..., reg, rho) under {index_path}/regs."""
    hll_sketch(df, value_col, p, group_cols=group_cols).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/regs")


def append_to_hll_index(
    batch: DataFrame,
    index_path: str,
    value_col: str,
    p: int,
    group_cols: tuple[str, ...] = (),
) -> None:
    """Grow a persisted HLL index with a batch: append the batch's own
    register rows (O(m) rows per group touched — never a corpus
    rescan). `p` must match the build.

    Replay contract — strictly stronger than the minhash/simhash index
    appends: estimates read max(rho) per register, and max over
    DUPLICATED rows equals max, so replaying a crashed append (or
    appending the same batch twice) changes NO estimate, ever. No
    epoch-authoritative sink or DISTINCT downstream is needed; the
    sketch is idempotent by algebra."""
    hll_sketch(batch, value_col, p, group_cols=group_cols).write.mode(
        "append"
    ).parquet(f"{index_path}/regs")


def hll_index_estimate(
    spark, index_path: str, p: int, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(group..., hll_est) from a persisted register index: one
    groupBy-max merge (the HLL merge law) + the estimator."""
    regs = spark.read.parquet(f"{index_path}/regs")
    return hll_estimate(
        merge_hll(regs, group_cols=group_cols), p, group_cols=group_cols
    )

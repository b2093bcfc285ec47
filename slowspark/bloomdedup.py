"""Distributed Bloom-filter membership index — the pruning half of
incremental exact dedup against a corpus snapshot.

The 100 TB problem: continuous ingest must answer "is this exact text
already in the corpus?" per incoming batch. The exact answer is an
anti-join of the batch against the corpus hash table — at 10^12 docs
that is an 8 TB hash-column scan + shuffle PER BATCH, almost all of it
spent proving that brand-new documents are new. A Bloom filter inverts
the cost: ~1.2 GB of bits per 10^9 corpus docs at 1% false-positive
rate answers "definitely new" for ~99% of a fresh batch from a
broadcast table, and only the tiny maybe-present remainder pays the
exact verify join (the caller's, e.g. the bloom_incremental_dedup
query). False positives are then REMOVED by that verify, so the composed
dedup is exact — the Bloom is a pruning structure, not an approximation
of the answer (same discipline as the LSH-then-verify near-dup path,
textops.jaccard_verified_pairs).

Representation: the filter is a DataFrame of NONZERO 64-bit blocks
(block_id, bits) — built with one groupBy(block_id){bit_or} over the
k hashed bit positions of every corpus value, map-side combined, so the
shuffle carries at most m/64 block rows per partition regardless of
corpus size. Probing broadcasts the blocks (m/64 rows; 2^31 bits =
256 MB of longs — broadcast-sized for any practical per-snapshot
filter) and joins the batch's exploded positions against them.

k hash functions are xxhash64(value, j) pmod m for j = 0..k-1 —
Spark-reproducible from a materialized position table by any engine
(the minhash-signature oracle convention); block math is plain integer
SQL both engines share.

No reference analog (/root/reference is a slow-log parser, src/*.rs);
size (n_bits, k) by the standard Bloom analysis (Bloom 1970; m/n = -ln p
/ ln^2 2, k = (m/n) ln 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bloom_positions(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_bits: int,
    k: int,
) -> DataFrame:
    """(id, j, pos): the k hashed bit positions of each row's value —
    pos_j = xxhash64(value, j) pmod n_bits. The only Spark-specific
    primitive in the family; everything downstream (block build, bit
    test, verify) is engine-portable integer SQL over this table."""
    ks = F.array(*[F.lit(j) for j in range(k)])
    return (
        df.select(F.col(id_col).alias("id"), F.col(value_col).alias("__v"))
        .select("id", F.explode(ks).alias("j"), F.col("__v"))
        .select(
            "id", "j",
            F.pmod(F.xxhash64("__v", "j"), F.lit(n_bits)).alias("pos"),
        )
    )


def build_bloom(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_bits: int,
    k: int,
) -> DataFrame:
    """Nonzero filter blocks (block_id, bits): bit_or of 1 << (pos % 64)
    grouped by pos div 64. One shuffle whose width is bounded by m/64
    block rows per map partition (partial bit_or combines map-side), not
    by corpus size."""
    pos = bloom_positions(df, value_col, id_col, n_bits, k)
    return (
        pos.groupBy(F.expr("pos div 64").alias("block_id"))
        .agg(
            F.bit_or(F.expr("shiftleft(1L, int(pos % 64))")).alias("bits")
        )
    )


def bloom_probe(
    df: DataFrame,
    blocks: DataFrame,
    value_col: str,
    id_col: str,
    n_bits: int,
    k: int,
) -> DataFrame:
    """(id, maybe_present): True iff ALL k bits are set. The blocks side
    is broadcast (m/64 rows); the batch side explodes to k rows per doc,
    joins on block_id, and folds back with one per-doc aggregation —
    bit tests are (bits & mask) != 0, identical two's-complement
    semantics in any engine. A position landing in an absent (all-zero)
    block is an unset bit via the left join's null."""
    pos = bloom_positions(df, value_col, id_col, n_bits, k)
    tested = (
        pos.withColumn("block_id", F.expr("pos div 64"))
        .withColumn("mask", F.expr("shiftleft(1L, int(pos % 64))"))
        .join(F.broadcast(blocks), "block_id", "left")
        .select(
            "id",
            (
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
                != 0
            ).alias("set"),
        )
    )
    return tested.groupBy("id").agg(
        (F.min(F.col("set").cast("int")) == 1).alias("maybe_present")
    )

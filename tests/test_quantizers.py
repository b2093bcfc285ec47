"""The embedding-index family's shared cores: the Lloyd seed sampler's
null handling and the quantizer-table round trip."""

import os

import numpy as np
from pyspark.sql import functions as F

from slowspark import similarity

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def test_lloyd_trainers_skip_a_null_first_vector(spark):
    """A null vector ahead of every other row of the partition is skipped
    by both trainers: the quantizer equals the one trained without that
    row (pq_train used to read dim from the first row and raise a
    TypeError on None)."""
    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .orderBy("vec_id").limit(200).select("vec_id", "embedding")
    )
    null_row = spark.range(1).select(
        F.lit(-1).cast("long").alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    # one partition each, in vec_id order: the null row leads its partition
    base = rows.coalesce(1).sortWithinPartitions("vec_id").cache()
    with_null = (
        null_row.union(rows).coalesce(1).sortWithinPartitions("vec_id").cache()
    )
    assert with_null.first()["embedding"] is None
    assert np.array_equal(
        similarity.ivf_train(with_null, n_centroids=8, lloyd_iters=2),
        similarity.ivf_train(base, n_centroids=8, lloyd_iters=2),
    )
    assert np.array_equal(
        similarity.pq_train(with_null, m=4, k=8, lloyd_iters=2),
        similarity.pq_train(base, m=4, k=8, lloyd_iters=2),
    )


def test_quantizer_tables_round_trip(spark, tmp_path):
    """Centroids land as (cell, centroid) and codebooks as (j, c,
    centroid), one file each, and read back as the matrix written."""
    rng = np.random.RandomState(0)
    for mat, cols in (
        (rng.standard_normal((5, 6)), ["cell", "centroid"]),
        (rng.standard_normal((3, 4, 2)), ["j", "c", "centroid"]),
    ):
        path = str(tmp_path / f"q{mat.ndim}")
        similarity._write_quantizer(spark, mat, path)
        assert spark.read.parquet(path).columns == cols
        assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 1
        assert np.array_equal(similarity._read_quantizer(spark, path), mat)

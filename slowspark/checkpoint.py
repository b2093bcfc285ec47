"""Checkpoint-resumable stage boundaries (BASELINE.json north_rule).

Each pipeline stage (parsed, enriched, routed, aggregated) materializes as a
table plus a manifest {stage, input_signature, row_count, content_hash,
partition_by, schema}. Resume = skip stages whose manifest matches the
current input signature. A fresh stage runs one job, the write: the row
count and content hash are observed on the rows as they are written, and
the stored schema lets every read of the table skip Parquet schema
inference, so a resumed stage runs no job at all.
Content hashes are order-insensitive (sum of per-row xxhash64 over the
stored values) and every upstream value is deterministic (hash-derived
ids, no rand()), so a resumed run is bit-identical to a fresh one — the
Spark analog of the reference's
restartability guarantee (same 310 entries at any read-buffer size,
/root/reference/src/codec.rs:586-599).
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import (
    Column,
    DataFrame,
    Observation,
    SparkSession,
    functions as F,
    types as T,
)

from slowspark.catalog import Catalog


def _hash_sum(cols: list[Column]) -> Column:
    """SUM of per-row xxhash64 over `cols` (stage hashes pass them as
    stored, through `_hash_col`). Sum — not xor — because xor cancels
    duplicate rows pairwise (two identical rows hash like zero rows),
    which would silently pass a corrupted aggregate output that happened
    to duplicate a row; sum counts multiplicity. The sum runs in decimal(38,0) so ANSI mode can't
    overflow; `_mod64` reduces it."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def _mod64(s) -> int:
    return int(s or 0) % (1 << 64)


def _hash_col(
    schema: T.StructType, c: str, partition_by: list[str] = ()
) -> Column:
    """Column `c` of `schema` as the hash reads it: the stored value, not
    a string rendering of it (a rendering hashes `["a, b"]` and
    `["a", "b"]` alike). A map goes in as its entries, because xxhash64
    rejects maps; a string partition column's "" as null, because a Hive
    partition directory stores it as null."""
    t = schema[c].dataType
    col = F.col(c)
    if c in partition_by and isinstance(t, T.StringType):
        col = F.nullif(col, F.lit(""))
    return F.map_entries(col) if isinstance(t, T.MapType) else col


def content_hash(df: DataFrame, cols: list[str] | None = None) -> int:
    """Order-insensitive content hash (`_hash_sum` mod 2^64) over selected
    columns, all of them by default. Runs one aggregate job; run_stage
    gets the same value from its write instead."""
    cols = cols or df.columns
    s = df.agg(
        _hash_sum([_hash_col(df.schema, c) for c in cols]).alias("s")
    ).first()["s"]
    return _mod64(s)


def _manifest_path(cat: Catalog, stage: str) -> str:
    return f"{cat.warehouse}/_manifests/{stage}.json"


def load_manifest(cat: Catalog, stage: str, spark: SparkSession) -> dict | None:
    """Manifest IO goes through the Hadoop FS util, so an object-store
    warehouse resumes correctly."""
    from slowspark.util import fs_exists, fs_read_text

    p = _manifest_path(cat, stage)
    if not fs_exists(spark, p):
        return None
    return json.loads(fs_read_text(spark, p))


def save_manifest(
    cat: Catalog, stage: str, manifest: dict, spark: SparkSession
) -> None:
    from slowspark.util import fs_write_text_atomic

    fs_write_text_atomic(
        spark, _manifest_path(cat, stage), json.dumps(manifest, sort_keys=True)
    )


def run_stage(
    spark: SparkSession,
    cat: Catalog,
    stage: str,
    input_signature: str,
    build: Callable[[], DataFrame],
    partition_by: list[str] | None = None,
    hash_cols: list[str] | None = None,
) -> DataFrame:
    """Materialize `build()` as table `stage` unless a manifest with the
    same input signature already covers it (resume path). A manifest
    without a schema (written before manifests carried one) still resumes,
    through an inferred read."""
    m = load_manifest(cat, stage, spark)
    if (
        m is not None
        and m.get("input_signature") == input_signature
        and cat.exists(spark, stage)
    ):
        schema = m.get("schema")
        return cat.read(
            spark, stage, schema=T.StructType.fromJson(schema) if schema else None
        )
    df = build()
    partition_by = partition_by or []
    # in the column order a read of the written table has: partition
    # columns last
    schema = T.StructType(
        [f for f in df.schema.fields if f.name not in partition_by]
        + [df.schema[c] for c in partition_by]
    )
    # hash the values a read of the table returns
    read_back = [
        _hash_col(schema, c, partition_by) for c in hash_cols or schema.names
    ]
    stats = Observation()
    cat.write(
        df.observe(
            stats,
            F.count(F.lit(1)).alias("row_count"),
            _hash_sum(read_back).alias("hash_sum"),
        ),
        stage,
        partition_by=partition_by,
    )
    got = stats.get
    save_manifest(cat, stage, {
        "stage": stage,
        "input_signature": input_signature,
        "row_count": got["row_count"],
        "content_hash": _mod64(got["hash_sum"]),
        "partition_by": partition_by,
        "schema": schema.jsonValue(),
    }, spark)
    return cat.read(spark, stage, schema=schema)

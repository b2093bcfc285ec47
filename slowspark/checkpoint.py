"""Checkpoint-resumable stage boundaries (BASELINE.json north_rule).

Each pipeline stage (parsed, enriched, routed, aggregated) materializes as a
table plus a manifest row {stage, input_signature, row_count, content_hash}.
Resume = skip stages whose manifest matches the current input signature.
Content hashes are order-insensitive (sum of per-row xxhash64) and every
upstream value is deterministic (hash-derived ids, no rand()), so a resumed
run is bit-identical to a fresh one — the Spark analog of the reference's
restartability guarantee (same 310 entries at any read-buffer size,
/root/reference/src/codec.rs:586-599).
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from slowspark.catalog import Catalog


def content_hash(df: DataFrame, cols: list[str] | None = None) -> int:
    """Order-insensitive content hash: SUM of per-row xxhash64 (mod 2^64)
    over selected columns. Sum — not xor — because xor cancels duplicate
    rows pairwise (two identical rows hash like zero rows), which would
    silently pass a corrupted aggregate output that happened to duplicate a
    row; sum counts multiplicity. The sum runs in decimal(38,0) so ANSI
    mode can't overflow, reduced mod 2^64 on the driver. One extra
    aggregate job; cheap relative to the write."""
    cols = cols or [c for c in df.columns]
    s = df.select(
        F.xxhash64(*[F.col(c).cast("string") for c in cols])
        .cast("decimal(38,0)")
        .alias("h")
    ).agg(F.sum("h").alias("s")).collect()[0]["s"]
    return int(s or 0) % (1 << 64)


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
    same input signature already covers it (resume path)."""
    m = load_manifest(cat, stage, spark)
    if (
        m is not None
        and m.get("input_signature") == input_signature
        and cat.exists(spark, stage)
    ):
        return cat.read(spark, stage)
    df = build()
    cat.write(df, stage, partition_by=partition_by)
    out = cat.read(spark, stage)
    manifest = {
        "stage": stage,
        "input_signature": input_signature,
        "row_count": out.count(),
        "content_hash": content_hash(out, hash_cols),
        "partition_by": partition_by or [],
    }
    save_manifest(cat, stage, manifest, spark)
    return out

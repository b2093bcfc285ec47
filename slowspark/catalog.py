"""Iceberg-or-Parquet table abstraction.

The north rule targets Iceberg tables; this sandbox has no Iceberg jars on
the Spark classpath and no network to fetch them, so the same call sites
write partitioned Parquet with an Iceberg-shaped API. On a real cluster set
SLOWSPARK_TABLE_FORMAT=iceberg (plus the usual spark.sql.catalog.* configs)
and the write path switches to DataFrameWriterV2 (writeTo / createOrReplace).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _is_temp_view(spark: SparkSession, name: str) -> bool:
    """True when `name` resolves to a temp/global-temp view. tableExists()
    matches those too, and a temp view must neither shadow path data on
    read nor be dropped by a table write."""
    try:
        return bool(spark.catalog.getTable(name).isTemporary)
    except Exception:
        return False


@dataclass
class Catalog:
    """warehouse_root/<table_name> tables."""

    warehouse: str
    fmt: str = field(
        default_factory=lambda: os.environ.get("SLOWSPARK_TABLE_FORMAT", "parquet")
    )
    # zstd: ~30% smaller than snappy at comparable speed — at 100 TB that is
    # tens of TB of storage and scan IO; override via env for snappy-only
    # readers
    codec: str = field(
        default_factory=lambda: os.environ.get("SLOWSPARK_PARQUET_CODEC", "zstd")
    )

    def path(self, name: str) -> str:
        # URI-safe join ('/' separator regardless of host OS): the
        # warehouse may be s3a://... or hdfs://... — os.path.join would
        # use the platform separator and only works for URIs on POSIX by
        # accident
        return f"{self.warehouse.rstrip('/')}/{name}"

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
    ) -> str:
        if self.fmt == "iceberg":
            writer = df.writeTo(name).using("iceberg")
            if partition_by:
                from pyspark.sql import functions as F

                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.createOrReplace()
            return name
        path = self.path(name)
        # A prior write_bucketed(name) leaves a metastore entry whose
        # bucketing metadata describes the OLD files; overwriting the path
        # underneath it would make read()'s spark.table(name) return a
        # table whose bucket metadata no longer matches the data —
        # Exchange-free joins would then silently co-locate on garbage.
        # Drop the stale entry so read() falls back to the path load.
        spark = df.sparkSession
        try:
            if spark.catalog.tableExists(name) and not _is_temp_view(
                spark, name
            ):
                spark.sql(f"DROP TABLE IF EXISTS {name}")
        except Exception:
            pass  # no metastore / unparseable name: nothing to go stale
        w = df.write.mode(mode).format(self.fmt)
        if self.fmt == "parquet":
            w = w.option("compression", self.codec)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(path)
        return path

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_by: list[str],
        n_buckets: int = 16,
        sort_by: list[str] | None = None,
    ) -> str:
        """Bucketed managed table: both sides of a repeated large-large join
        written with the SAME (bucket_by, n_buckets) join shuffle-free —
        Spark matches the bucketing metadata and plans a SortMergeJoin with
        NO Exchange on either side (pinned by tests/test_plans.py). This is
        the pre-pay-the-shuffle-once pattern for the fact tables a 100 TB
        pipeline joins repeatedly (entries x per-url quality scores, etc.);
        the Iceberg equivalent is partitionedBy(bucket(n, col))."""
        if self.fmt == "iceberg":
            from pyspark.sql import functions as F

            # Iceberg's bucket transform is single-column and writeTo has
            # no sortBy — refuse loudly rather than silently writing a
            # table with weaker co-location than the caller asked for
            if len(bucket_by) != 1 or sort_by:
                raise ValueError(
                    "iceberg write_bucketed supports exactly one bucket "
                    "column and no sort_by (bucket transform is "
                    "single-column; use table write-order properties for "
                    "sorting)"
                )
            writer = df.writeTo(name).using("iceberg").partitionedBy(
                F.bucket(n_buckets, bucket_by[0])
            )
            writer.createOrReplace()
            return name
        w = (
            df.write.mode("overwrite")
            .format(self.fmt)
            .option("path", self.path(name))
            .option("compression", self.codec)
            .bucketBy(n_buckets, *bucket_by)
        )
        if sort_by:
            w = w.sortBy(*sort_by)
        w.saveAsTable(name)
        return name

    def read(
        self, spark: SparkSession, name: str, schema: StructType | None = None
    ) -> DataFrame:
        """`schema`, the table's schema as written (partition columns
        last), spares a path read its schema-inference job; Iceberg and
        metastore reads ignore it."""
        if self.fmt == "iceberg":
            return spark.read.format("iceberg").load(name)
        # Metastore-registered tables (write_bucketed's saveAsTable) MUST be
        # read via spark.table: a path load silently drops the bucketing
        # metadata, and the very Exchange-free join the bucketed write
        # prepaid for comes back. Path load is only the fallback for plain
        # path-written tables (or names the metastore cannot even parse,
        # e.g. containing path separators). Temp views are excluded: a
        # same-named temp view must not shadow the path data.
        try:
            is_table = spark.catalog.tableExists(name) and not _is_temp_view(
                spark, name
            )
        except Exception:
            is_table = False
        if is_table:
            return spark.table(name)
        reader = spark.read.format(self.fmt)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(self.path(name))

    def exists(self, spark: SparkSession, name: str) -> bool:
        if self.fmt == "iceberg":
            try:
                spark.read.format("iceberg").load(name).schema
                return True
            except Exception:
                return False
        # _SUCCESS is REQUIRED: a directory with part files but no marker is
        # a crashed partial overwrite and must not satisfy a resume check
        # (round-1 ADVICE finding). Spark writes the marker last, after all
        # tasks commit. Probed via the Hadoop FS util so object-store
        # warehouse paths (s3a://, hdfs://) behave like local dirs.
        from slowspark.util import fs_exists

        return fs_exists(
            spark, f"{self.path(name)}/_SUCCESS"
        )

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
        w = df.write.mode(mode).format(self.fmt)
        if self.fmt == "parquet":
            w = w.option("compression", self.codec)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(path)
        return path

    def read(
        self, spark: SparkSession, name: str, schema: StructType | None = None
    ) -> DataFrame:
        """`schema`, the table's schema as written (partition columns
        last), spares a path read its schema-inference job; Iceberg reads
        ignore it."""
        if self.fmt == "iceberg":
            return spark.read.format("iceberg").load(name)
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

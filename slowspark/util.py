"""Shared plan-shape utilities: driver-built frames, input spreading, eager
materialization and bucket capping.

Every DataFrame built from driver-side rows goes through local_frame, so
it plans as a LocalRelation, and every Arrow batch a Python stage hands
the JVM (local_frame's included) is built by arrow_batch. The other
helpers exist because three patterns recur across the dedup/similarity
family:

  - a Python/UDF-heavy stage over a scan with fewer splits than cores
    (a one-file input) must spread its input first, or it runs as one
    task;
  - self-joins on UDF-produced tables must materialize the UDF output
    first (a lazy cache lets both join sides race to recompute the UDF
    subtree — measured 2-3x signature cost run-to-run);
  - bucket-keyed candidate joins need a safety cap against pathological
    (viral-template) buckets, and that cap must never be silent.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

logger = logging.getLogger("slowspark")


def arrow_batch(schema: StructType, columns):
    """One Arrow RecordBatch of `columns` (one per `schema` field, in field
    order) typed by the Spark `schema`: the one way slowspark turns Python
    values into what the JVM reads, for local_frame on the driver and for
    every mapInArrow/applyInArrow stage in the Python workers.

    A column is either a sequence of Python values, built into an array of
    the field's Arrow type, or an Arrow array (a column taken from the
    input batch), cast to that type. The arrays are built from the values,
    not through pandas, so a null in an integer column stays null instead
    of becoming NaN, and an int stays an int. A naive datetime in a
    timestamp column is read as UTC, which is its instant under
    session.get_spark's UTC session time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    arrays = []
    for c, f in zip(columns, arrow, strict=True):
        if isinstance(c, pa.ChunkedArray):
            c = c.combine_chunks()
        arrays.append(
            c.cast(f.type) if isinstance(c, pa.Array)
            else pa.array(c, type=f.type)
        )
    return pa.RecordBatch.from_arrays(arrays, schema=arrow)


def local_frame(spark, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame of driver-side `rows` (tuples or Rows, in schema column
    order) under `schema` (a StructType or a DDL string), planned as a
    LocalRelation.

    The rows go to the JVM as one Arrow table (arrow_batch), so no action
    over the frame starts a Python worker; createDataFrame(list) would
    plan a Python-RDD scan whose every action forks one to unpickle the
    rows. Zero rows give an empty typed frame."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    batch = arrow_batch(
        schema, [[r[i] for r in rows] for i in range(len(schema.fields))]
    )
    return spark.createDataFrame(pa.Table.from_batches([batch]), schema)


def spread(df: DataFrame) -> DataFrame:
    """Repartition `df` to the session's defaultParallelism when it has
    fewer partitions than that; otherwise return it unchanged.

    A CPU-heavy stage (a Python UDF, a per-row array projection) runs one
    task per input partition, so on a one-file input it would serialize
    on a single core. A large scan already has at least as many splits as
    cores, and a fixed count would cap it, so it is left alone. Call it
    on a scan or a materialized table: counting the partitions of an
    un-run adaptive aggregate runs its map stage, whereas a file scan or
    a checkpoint reports them from the plan without a job."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize a DataFrame and truncate its lineage.

    With a reliable checkpoint dir configured (spark.sparkContext.
    setCheckpointDir — what a production cluster job should do), uses
    .checkpoint(): blocks live in fault-tolerant storage and survive
    executor loss. Otherwise falls back to .localCheckpoint(), which is
    exactly right for local mode but NOT fault-tolerant on a cluster
    (executor churn loses blocks AND the truncated lineage prevents
    recompute). Used before self-joins on UDF-produced tables and inside
    iterative loops (plan growth)."""
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for `path` via the Hadoop FS API — resolves the
    scheme (file://, hdfs://, s3a://, ...) from the session's Hadoop conf,
    so the same call works on local dirs in the sandbox and object stores
    on a cluster. This is the one sanctioned way slowspark probes/writes
    index and marker files; os.path/open on an s3a:// string would
    silently probe the driver's local disk instead."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def fs_exists(spark, path: str) -> bool:
    """True iff `path` exists on its (scheme-resolved) filesystem."""
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def fs_write_text_atomic(spark, path: str, content: str) -> None:
    """Write a small text file (marker / JSON metadata) so a torn write
    never looks valid: the bytes land in `<path>.tmp` first, then a rename
    publishes them. On rewrite the rename uses
    FileContext.rename(..., Options.Rename.OVERWRITE) where the store
    supports it, so a concurrent reader sees either the old content or the
    new content — never an absent path (absence is itself an observable
    torn state: a reader in a delete-to-rename window would conclude the
    marker is missing and trigger a spurious rebuild). Where overwrite
    rename is unavailable (some object-store connectors), the fallback is
    delete-then-rename: still crash-safe (the final path is never
    partially written) but NOT concurrent-reader-safe on rewrite — a
    reader can observe the gap."""
    jvm = spark._jvm
    fs, p = _hadoop_fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    try:
        fctx = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            p.toUri(), spark._jsc.hadoopConfiguration()
        )
        gw = spark.sparkContext._gateway
        opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fctx.rename(tmp, p, opts)
        return
    except Exception:
        logger.debug(
            "fs_write_text_atomic: overwrite rename unavailable for %s; "
            "falling back to delete-then-rename (crash-safe, not "
            "concurrent-reader-safe on rewrite)", path,
        )
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"fs_write_text_atomic: rename {tmp} -> {p} failed")


def fs_read_text(spark, path: str) -> str:
    """Read a small text file (marker / JSON metadata) via the Hadoop FS
    API. Only for driver-side metadata a few KB in size — datasets go
    through spark.read."""
    fs, p = _hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def fs_listing_stamp(spark, path: str) -> str:
    """`n:digest` over every file under `path` (a file, a directory or a
    glob): the count and a digest of each (path, length, mtime) from a
    Hadoop FS listing. A CLI's resume signature carries it, so pages
    rewritten at the same path miss the resume instead of being served
    from the old manifests. Driver-side listing calls only, no Spark
    job."""
    import hashlib

    fs, p = _hadoop_fs(spark, path)
    files = []
    for st in fs.globStatus(p) or []:
        it = fs.listFiles(st.getPath(), True)
        while it.hasNext():
            f = it.next()
            files.append(
                f"{f.getPath().toString()}\t{f.getLen()}\t{f.getModificationTime()}"
            )
    digest = hashlib.sha256("\n".join(sorted(files)).encode()).hexdigest()
    return f"{len(files)}:{digest[:16]}"


def capped_by_bucket(
    df: DataFrame,
    keys: list[str],
    max_bucket_size: int,
    label: str,
) -> DataFrame:
    """Drop every bucket (group over `keys`) larger than `max_bucket_size`
    via a left-semi join on the surviving keys.

    No-silent-caps rule: the dropped-bucket count and row count are
    computed eagerly (one tiny aggregate job over the bucket-size table —
    the caller explicitly opted into capping, and a cap that truncates
    recall without a trace is how candidates disappear unnoticed) and
    emitted through the `slowspark` logger at WARNING.

    The input is materialized first: `df` is almost always a UDF-derived
    band/signature table, and without truncating its lineage the
    drop-stats job, the size aggregate, and BOTH sides of the left-semi
    join would each recompute the whole upstream UDF subtree (measured 4x
    wall on the sf0.1 dedup-skew bench: capped 42s vs uncapped 10.8s
    before this materialize)."""
    df = materialize(df)
    sizes = df.groupBy(*keys).agg(F.count("*").alias("__bn"))
    stats = (
        sizes.filter(F.col("__bn") > max_bucket_size)
        .agg(
            F.count("*").alias("nb"),
            F.coalesce(F.sum("__bn"), F.lit(0)).alias("nr"),
        )
        .first()
    )
    if stats["nb"]:
        logger.warning(
            "%s: max_bucket_size=%d dropped %d bucket(s) / %d row(s) "
            "from candidate generation (recall truncated for those "
            "buckets; run the bucket histogram to inspect)",
            label, max_bucket_size, stats["nb"], stats["nr"],
        )
    kept = sizes.filter(F.col("__bn") <= max_bucket_size).select(*keys)
    return df.join(kept, keys, "left_semi")

"""Input sources.

The reference's primary entry point is a raw slow-log FILE streamed through
tokio's FramedRead (/root/reference/src/lib.rs:14-36). The Spark equivalents:

  - read_pages: the Common-Crawl pages table (Iceberg/Parquet) — the
    north-rule primary input.
  - read_slow_logs: raw .log files via the binaryFile source, one row per
    file -> parse_entries over the whole file text. A slow-log file is a
    self-contained record stream, so whole-file decode matches the
    reference byte-for-byte; files are the unit of parallelism (a directory
    of daily/host-sharded logs fans out across executors). For single
    multi-TB log files a production build would pre-split on '# Time: '
    anchors at block boundaries; not needed for the fixture-scale files
    this mode exists to ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from slowspark.schema import PAGES_SCHEMA
from slowspark.util import arrow_batch


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    return spark.read.schema(PAGES_SCHEMA).format(fmt).load(path)


_WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_path", T.StringType()),
        T.StructField("record_ix", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField("payload", T.BinaryType()),
    ]
)


# write_warc's CC-CDX-style record index (one parquet file per WARC file)
_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_path", T.StringType()),
        T.StructField("record_ix", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
    ]
)


def _warc_batch(rows: list):
    """read_warc-schema record tuples -> one Arrow batch."""
    return arrow_batch(
        _WARC_SCHEMA, [[r[i] for r in rows] for i in range(len(_WARC_SCHEMA))]
    )


def _parse_warc_blob(blob: bytes, path: str):
    """Yield (record_ix, warc_type, url, warc_ts, headers, payload) from
    one WARC file's bytes (ISO 28500 framing: version line, CRLF header
    block, blank line, Content-Length payload bytes, CRLF CRLF). Raises
    on torn framing — a truncated crawl file must fail loudly, not yield
    a silently short corpus."""
    from datetime import datetime, timezone

    pos, ix = 0, 0
    n = len(blob)
    while pos < n:
        # tolerate record separators
        while pos < n and blob[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            return
        if not blob.startswith(b"WARC/", pos):
            raise ValueError(
                f"read_warc: {path}: expected 'WARC/' at byte {pos}"
            )
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(
                f"read_warc: {path}: unterminated header block at {pos}"
            )
        lines = blob[pos:hdr_end].decode("utf-8", "replace").split("\r\n")
        headers: dict = {}
        norm: dict = {}  # ISO 28500 field names are case-insensitive;
        for line in lines[1:]:  # keep the raw map for round-trip fidelity
            k, _, v = line.partition(":")
            headers[k.strip()] = v.strip()
            norm[k.strip().lower()] = v.strip()
        try:
            length = int(norm["content-length"])
        except (KeyError, ValueError):
            raise ValueError(
                f"read_warc: {path}: record at {pos} lacks a numeric "
                f"Content-Length"
            ) from None
        body_start = hdr_end + 4
        if body_start + length > n:
            raise ValueError(
                f"read_warc: {path}: truncated payload at {pos} "
                f"(wants {length} bytes, {n - body_start} left)"
            )
        ts = None
        if norm.get("warc-date"):
            try:
                ts = datetime.strptime(
                    norm["warc-date"], "%Y-%m-%dT%H:%M:%SZ"
                ).replace(tzinfo=timezone.utc)
            except ValueError:
                ts = None
        yield (
            ix,
            norm.get("warc-type"),
            norm.get("warc-target-uri"),
            ts,
            headers,
            blob[body_start : body_start + length],
        )
        ix += 1
        pos = body_start + length


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """WARC files (the Common Crawl interchange format, ISO 28500) ->
    one row per record: (warc_path, record_ix, warc_type, url, warc_ts,
    headers, payload). `.gz` files are decompressed as concatenated
    gzip members — the CC layout (one member per record), which plain
    multi-member `gzip.decompress` handles.

    Scale shape: binaryFile source, whole files as the unit of
    parallelism — exactly how CC ships (thousands of ~1 GB segment
    files fan out across executors; a file must fit worker memory,
    which CC's 1 GB segmenting guarantees). The parse itself is one
    mapInArrow, no shuffle; downstream projections prune the payload
    column unless asked for."""
    import gzip

    def parse_fn(batches):
        for batch in batches:
            rows = []
            for path, blob in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                if path.endswith(".gz"):
                    blob = gzip.decompress(blob)
                rows.extend(
                    (path, *rec) for rec in _parse_warc_blob(blob, path)
                )
            yield _warc_batch(rows)

    raw = spark.read.format("binaryFile").load(path_glob)
    return raw.select("path", "content").mapInArrow(
        parse_fn, schema=_WARC_SCHEMA
    )


def write_warc(
    df: DataFrame,
    path: str,
    n_files: int = 8,
    url_col: str = "url",
    payload_col: str = "payload",
    ts_col: str | None = None,
    header_cols: tuple[str, ...] = (),
    compress: bool = True,
    index_path: str | None = None,
) -> list[dict]:
    """Export a DataFrame as WARC response records — the interchange
    artifact other crawl tooling consumes. Fully deterministic: rows
    land in file pmod(xxhash64(url), n_files), each file written sorted
    by url, record ids derived from md5(url) (no uuid/now()); rerunning
    produces byte-identical files. `header_cols` ride along as
    X-Slowspark-<col> headers (round-trip metadata). With
    `compress=True` each record is its own gzip member (the CC layout).

    `index_path`: also materialize a CC-CDX-style record index — one
    parquet row per record: (url, warc_path, record_ix, offset, length)
    where offset/length delimit the record's own gzip member (or raw
    framing bytes) WITHIN its file. Per-record gzip members are exactly
    what makes CC range requests possible; the index is what
    read_warc_selective consumes to fetch single records without
    scanning whole files — the incremental-recrawl IO complement to
    weburl.crawl_delta. Each writer task writes its own index shard
    (pyarrow, deterministic name) in the same pass: no extra job, no
    driver collect.

    Scale shape: one shuffle (groupBy file bucket), one applyInArrow
    writer per file, driver collects only the n_files-row manifest
    (returned). Executors write with plain open(), so `path` must be a
    filesystem mount (file://, NFS, FUSE); for object storage write to
    local scratch and upload, or raise n_files and distcp — noted in
    RUNBOOK."""
    import gzip
    import hashlib
    import os

    if n_files < 1:
        raise ValueError(f"write_warc: n_files must be >= 1, got {n_files}")
    os.makedirs(path, exist_ok=True)
    ext = ".warc.gz" if compress else ".warc"
    # a previous export with MORE files would leave stale part files a
    # glob reader would pick up next to the fresh ones — clear both
    # extensions up front (driver-side; same file:// scope as the write)
    import glob as _glob

    for stale in _glob.glob(os.path.join(path, "part-*.warc")) + _glob.glob(
        os.path.join(path, "part-*.warc.gz")
    ):
        os.remove(stale)
    if index_path is not None:
        os.makedirs(index_path, exist_ok=True)
        for stale in _glob.glob(os.path.join(index_path, "part-*.parquet")):
            os.remove(stale)
    cols = [url_col, payload_col] + list(header_cols)
    if ts_col:
        cols.append(ts_col)
    manifest = _manifest_schema("warc_path")

    def write_group(key, table):
        ix = key[0].as_py()
        rows = _export_rows(table.sort_by(url_col))
        fpath = os.path.join(path, f"part-{ix:05d}{ext}")
        chunks = []
        idx_rows = []
        running = 0
        for row in rows:
            payload = row[payload_col]
            url = str(row[url_col])
            # no ts_col, or a null capture date: the epoch
            t = row[ts_col] if ts_col else None
            ts = (
                t.strftime("%Y-%m-%dT%H:%M:%SZ") if t is not None
                else "1970-01-01T00:00:00Z"
            )
            rid = hashlib.md5(url.encode()).hexdigest()
            hdrs = [
                "WARC/1.0",
                "WARC-Type: response",
                f"WARC-Target-URI: {url}",
                f"WARC-Date: {ts}",
                f"WARC-Record-ID: <urn:slowspark:{rid}>",
                "Content-Type: application/octet-stream",
                f"Content-Length: {len(payload)}",
            ]
            # a null leaves its header out: read_warc reads an absent
            # header back as null
            hdrs.extend(
                f"X-Slowspark-{hc}: {row[hc]}" for hc in header_cols
                if row[hc] is not None
            )
            rec = (
                "\r\n".join(hdrs).encode() + b"\r\n\r\n"
                + payload + b"\r\n\r\n"
            )
            # mtime=0: gzip embeds a timestamp at header byte 4 —
            # byte-identical reruns require pinning it
            chunk = gzip.compress(rec, 9, mtime=0) if compress else rec
            if index_path is not None:
                idx_rows.append(
                    (url, fpath, len(chunks), running, len(chunk))
                )
            chunks.append(chunk)
            running += len(chunk)
        blob = b"".join(chunks)
        tmp = fpath + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, fpath)
        if index_path is not None:
            import pyarrow as pa
            import pyarrow.parquet as pq

            index = arrow_batch(_INDEX_SCHEMA, list(zip(*idx_rows)))
            ipath = os.path.join(index_path, f"part-{ix:05d}.parquet")
            itmp = ipath + ".tmp"
            pq.write_table(pa.Table.from_batches([index]), itmp)
            os.replace(itmp, ipath)
        return _manifest_row(manifest, ix, fpath, len(rows), len(blob))

    written = (
        df.select(*cols)
        .withColumn("__f", F.pmod(F.xxhash64(url_col), F.lit(n_files)))
        .groupBy("__f")
        .applyInArrow(write_group, schema=manifest)
        .collect()
    )
    return [r.asDict() for r in written]


def read_warc_selective(
    spark: SparkSession,
    index: "DataFrame | str",
    urls=None,
) -> DataFrame:
    """Fetch ONLY index-selected WARC records — the CC-index access
    pattern (CDX offset/length range reads) instead of read_warc's
    whole-file scans. `index` is the parquet dir (or DataFrame) written
    by write_warc(index_path=...); `urls` narrows it: a list of url
    strings or any DataFrame with a url column (e.g. the NEW/CHANGED
    side of weburl.crawl_delta — the incremental-recrawl recipe:
    crawl_delta says WHICH pages changed, this fetches exactly those
    records and nothing else). Returns the read_warc schema, payloads
    byte-identical to a full scan (pinned by the round-trip test).

    Each selected record is read with one seek + one length-bounded
    read of its own gzip member (write_warc's per-record members make
    the range self-contained, exactly like CC's warc.gz ranges), parsed
    through the same ISO 28500 parser, and validated: the decoded
    record's URL must match the index row — a stale or torn index
    raises instead of yielding someone else's bytes.

    Scale shape: the only distributed data is the SELECTED index rows
    (one narrow join against the url selection — broadcast when small);
    a repartition+sort on warc_path groups each file's selections so a
    task opens every touched file once, seeks monotonically through it,
    and never lists, opens, or reads an untouched file (pinned by a
    test that corrupts the untouched files and reads anyway). IO is
    O(selected bytes), not O(corpus bytes) — at CC scale the difference
    between a range request and a 1 GB segment download per record."""
    import gzip

    from slowspark.util import local_frame

    idx = (
        spark.read.parquet(index) if isinstance(index, str) else index
    ).select("url", "warc_path", "record_ix", "offset", "length")
    if urls is not None:
        if not isinstance(urls, DataFrame):
            urls = local_frame(spark, [(u,) for u in urls], "url string")
        idx = idx.join(
            F.broadcast(urls.select("url").distinct()), "url", "left_semi"
        )
    sel = idx.repartition("warc_path").sortWithinPartitions(
        "warc_path", "offset"
    )

    def fetch_fn(batches):
        handles: dict = {}
        try:
            for batch in batches:
                rows = []
                for url, path, rix, off, length in zip(
                    *(c.to_pylist() for c in batch.columns)
                ):
                    fh = handles.get(path)
                    if fh is None:
                        fh = handles[path] = open(path, "rb")
                    fh.seek(int(off))
                    raw = fh.read(int(length))
                    if len(raw) != int(length):
                        raise ValueError(
                            f"read_warc_selective: {path}: short read at "
                            f"offset {off} (index wants {length} bytes)"
                        )
                    try:
                        blob = (
                            gzip.decompress(raw)
                            if path.endswith(".gz") else raw
                        )
                    except (EOFError, OSError) as e:
                        raise ValueError(
                            f"read_warc_selective: {path}: range at "
                            f"{off}+{length} is not a whole gzip member "
                            f"({e}) — stale index?"
                        ) from None
                    recs = list(_parse_warc_blob(blob, path))
                    if len(recs) != 1:
                        raise ValueError(
                            f"read_warc_selective: {path}: range at "
                            f"{off}+{length} framed {len(recs)} records, "
                            f"expected exactly 1 — stale index?"
                        )
                    _, wt, rurl, ts, hdrs, payload = recs[0]
                    if rurl != url:
                        raise ValueError(
                            f"read_warc_selective: {path}: index says "
                            f"{url!r} at offset {off} but the record is "
                            f"{rurl!r} — stale index"
                        )
                    rows.append((path, rix, wt, url, ts, hdrs, payload))
                yield _warc_batch(rows)
        finally:
            for fh in handles.values():
                fh.close()

    return sel.mapInArrow(fetch_fn, schema=_WARC_SCHEMA)


def read_jsonl(
    spark: SparkSession,
    path_glob: str,
    schema: str | None = None,
    required_cols: tuple[str, ...] = (),
) -> DataFrame:
    """JSONL(.gz) dataset reader — the interchange format released text
    corpora actually ship (one JSON object per line; gzip handled
    natively by the line reader). With `schema` (a DDL string) the scan
    is schema-first — no inference pass over 10^12 lines, and column
    pruning reaches the parser; without it, one inference pass runs
    (fine for CLI ergonomics at small scale, wasteful at web scale —
    pass the schema). mode=FAILFAST: a malformed line raises instead of
    becoming a silent NULL row (the no-silent-drops rule at the format
    boundary). `required_cols` raises early when the data lacks the
    columns the pipeline needs."""
    reader = spark.read.option("mode", "FAILFAST")
    if schema:
        reader = reader.schema(schema)
    df = reader.json(path_glob)
    missing = [c for c in required_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"read_jsonl: {path_glob} lacks required columns {missing} "
            f"(have {df.columns})"
        )
    return df


def write_jsonl(
    df: DataFrame,
    path: str,
    n_files: int = 8,
    id_col: str = "doc_id",
    compress: bool = True,
) -> list[dict]:
    """Export a DataFrame as JSONL files — the dataset-release twin of
    write_warc, same determinism contract: rows land in file
    pmod(xxhash64(id_col), n_files), each file written sorted by id,
    every line a compact JSON object with SORTED keys, gzip mtime
    pinned to 0 — rerunning produces byte-identical files (hash the
    artifacts into a release manifest and the manifest is reproducible
    too). Binary columns are refused loudly (base64-smuggling bytes
    into a text interchange is a decision the caller must make).

    Scale shape: one shuffle (groupBy file bucket), one applyInArrow
    writer per file, driver collects only the n_files-row manifest
    (returned). Same file://-scope caveat as write_warc (RUNBOOK)."""
    import gzip
    import json
    import os
    import glob as _glob

    if n_files < 1:
        raise ValueError(f"write_jsonl: n_files must be >= 1, got {n_files}")
    for c, t in df.dtypes:
        if t == "binary":
            raise ValueError(
                f"write_jsonl: column {c!r} is binary — JSONL is a text "
                f"interchange; encode it explicitly or drop it"
            )
    os.makedirs(path, exist_ok=True)
    ext = ".jsonl.gz" if compress else ".jsonl"
    for stale in _glob.glob(os.path.join(path, "part-*.jsonl")) + _glob.glob(
        os.path.join(path, "part-*.jsonl.gz")
    ):
        os.remove(stale)
    data_cols = list(df.columns)
    manifest = _manifest_schema("jsonl_path")

    def write_group(key, table):
        ix = key[0].as_py()
        rows = _export_rows(table.sort_by(id_col))
        fpath = os.path.join(path, f"part-{ix:05d}{ext}")
        lines = []
        for row in rows:
            # JSON has no NaN: a NaN double is written as null (and a
            # timestamp or a date as its naive ISO text, by `default`)
            obj = {
                c: None if isinstance(row[c], float) and row[c] != row[c]
                else row[c]
                for c in data_cols
            }
            lines.append(
                json.dumps(obj, sort_keys=True, ensure_ascii=False,
                           separators=(",", ":"),
                           default=lambda v: v.isoformat())
            )
        blob = ("\n".join(lines) + "\n").encode("utf-8")
        if compress:
            blob = gzip.compress(blob, 9, mtime=0)
        tmp = fpath + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, fpath)
        return _manifest_row(manifest, ix, fpath, len(rows), len(blob))

    written = (
        df.withColumn("__f", F.pmod(F.xxhash64(id_col), F.lit(n_files)))
        .groupBy("__f")
        .applyInArrow(write_group, schema=manifest)
        .collect()
    )
    return [r.asDict() for r in written]


def _manifest_schema(path_col: str) -> T.StructType:
    """The per-file manifest write_warc and write_jsonl return."""
    return T.StructType(
        [
            T.StructField("file_ix", T.IntegerType()),
            T.StructField(path_col, T.StringType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )


def _manifest_row(schema: T.StructType, *values):
    """One written file's manifest row, as an applyInArrow result."""
    import pyarrow as pa

    return pa.Table.from_batches([arrow_batch(schema, [[v] for v in values])])


def _export_rows(table) -> list[dict]:
    """An export group's rows as dicts of the values Spark shows for
    them: maps as dicts, timestamps as naive datetimes (the session wall
    clock). Every other value is to_pylist's own."""
    import pyarrow as pa

    cols = {}
    for f in table.schema:
        vals = table.column(f.name).to_pylist()
        if pa.types.is_nested(f.type) or pa.types.is_timestamp(f.type):
            vals = [_plain(v, f.type) for v in vals]
        cols[f.name] = vals
    return [dict(zip(cols, vals)) for vals in zip(*cols.values())]


def _plain(v, t):
    """One to_pylist value of Arrow type `t`, as _export_rows describes."""
    import pyarrow as pa

    if v is None:
        return None
    if pa.types.is_timestamp(t):
        return v.replace(tzinfo=None)
    if pa.types.is_map(t):
        return {k: _plain(x, t.item_type) for k, x in v}
    if pa.types.is_struct(t):
        return {f.name: _plain(v[f.name], f.type) for f in t}
    if pa.types.is_list(t):
        return [_plain(x, t.value_type) for x in v]
    return v


def read_slow_logs(spark: SparkSession, path_glob: str) -> DataFrame:
    """Raw slow-log files -> pages-shaped DataFrame (url = file path,
    text = whole file decoded lossily, the String::from_utf8_lossy analog
    at /root/reference/src/types.rs:31)."""
    raw = spark.read.format("binaryFile").load(path_glob)
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.decode(F.col("content"), "UTF-8").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )

"""The vectorized parse stage: pages -> entries via Arrow-batched mapInArrow.

This is the Spark re-expression of the reference's streaming decoder
(EntryCodec, /root/reference/src/codec.rs:255-352). The reference's framing
problem — an entry split across read buffers, solved with Partial streams +
checkpoint/rewind (src/codec.rs:284-311) — disappears here: a page is a
self-contained record (no entry spans pages), so the parse is embarrassingly
parallel over rows. Memory is bounded by the Arrow batch size
(spark.sql.execution.arrow.maxRecordsPerBatch), the analog of the
reference's tunable read buffer (src/lib.rs:23).

Scale notes (100 TB / 10^12 pages):
  - the only Python stage in the pipeline; everything downstream is
    JVM-side DataFrame ops under whole-stage codegen
  - regexes compile at slowspark.grammar import time = once per Python
    worker process ("once per partition", BASELINE.json north_star)
  - no shuffle: mapInArrow is a narrow transformation; input splits come
    straight from the Parquet/Iceberg scan (spark.sql.files.maxPartitionBytes
    controls split size; pages are ~KB so default 128 MiB splits are fine)
  - Arrow in, Arrow out: the worker reads the page text with to_pylist(),
    takes url/lang/warc_ts from the input batch by page index, and builds
    the entry columns with util.arrow_batch; no pandas frame is built, so
    no dtype repair is needed (a null stat stays a null long)
  - column pruning: only url/text/lang/warc_ts are read from the scan —
    html (the big binary column) is never touched unless asked for
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from slowspark import grammar
from slowspark.schema import ENTRY_SCHEMA
from slowspark.util import arrow_batch

_OUT_COLS = [f.name for f in ENTRY_SCHEMA.fields if f.name != "entry_id"]
_PAGE_COLS = ("url", "lang", "warc_ts")


def _entries_for_batch(batch, context_mapper, schema: StructType, fields=None):
    """One page batch -> one entry batch. The page columns come from the
    input batch by each entry's page index; log_time is the grammar's UTC
    microsecond count."""
    page_ix: list[int] = []
    entries: list[dict] = []
    for i, text in enumerate(batch.column("text").to_pylist()):
        if text is None:
            continue
        for e in grammar.parse_entries(text, context_mapper, fields):
            page_ix.append(i)
            entries.append(e)
    names = batch.schema.names
    take = pa.array(page_ix, type=pa.int32())
    cols = []
    for c in schema.names:
        if c in _PAGE_COLS:
            cols.append(
                batch.column(c).take(take) if c in names
                else [None] * len(entries)
            )
        else:
            key = "log_time_us" if c == "log_time" else c
            cols.append([e.get(key) for e in entries])
    return arrow_batch(schema, cols)


def parse_pages(
    pages: DataFrame,
    context_mapper=grammar.default_comment_context,
    columns: Optional[list[str]] = None,
    masking: str = "none",
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> DataFrame[ENTRY_SCHEMA].

    The UDTF-shaped stage: one page row in, N entry rows out. Equivalent of
    iterating EntryCodec over the page text (src/codec.rs:137-252), plus our
    never-panic policy: malformed entries become ParseError rows
    (entry_kind='ParseError') instead of killing the job the way the
    reference's panics would (src/codec.rs:313-327).

    ``columns``: manual column pruning THROUGH the Python boundary. Catalyst
    prunes the scan below this stage but cannot prune what the UDF emits, so
    a census that needs 5 columns would otherwise pay Arrow+JVM conversion
    for all 27 (the nested objects/map/struct columns and the three
    statement strings dominate that cost). Pass the columns the downstream
    plan needs; url/entry_index are always included (entry_id determinism).

    ``masking``: the reference's EntryMasking config
    (/root/reference/src/lib.rs:93-105) as a pipeline parameter.
    ``"none"`` (reference default) leaves literal values in ``statement``;
    ``"placeholder"`` renders SqlStatement rows' ``statement`` with every
    literal masked to '?' (the ``fingerprint`` rendering — mask_tokens,
    src/parser.rs:559-581). Either way ``fingerprint`` stays available as
    its own column; the switch is a JVM-side projection, not a re-parse.
    """
    if masking not in ("none", "placeholder"):
        raise ValueError(f"masking must be 'none' or 'placeholder', got {masking!r}")
    # url is required: it is non-null in ENTRY_SCHEMA and keys entry_id
    in_cols = ["url", "text"] + [c for c in ("lang", "warc_ts") if c in pages.columns]
    mapper = context_mapper
    forced_cols: set[str] = set()
    if columns is None:
        out_cols = _OUT_COLS
    else:
        need = set(columns) | {"url", "entry_index"}
        if masking == "placeholder" and "statement" in need:
            # helper columns for the masking projection; dropped afterwards
            # unless the caller asked for them (the projection contract must
            # not depend on the masking flag)
            forced_cols = {"fingerprint", "entry_kind"} - need
            need |= forced_cols
        out_cols = [c for c in _OUT_COLS if c in need]

    # column pruning THROUGH the parse, not just through Arrow: a derived
    # field the plan discards (objects / canonical statement / raw bytes /
    # context) is never computed in the Python worker — with the default
    # full column set this is a no-op (fields=None = compute everything)
    prune = None if columns is None else frozenset(out_cols)

    schema_no_id = StructType(
        [f for f in ENTRY_SCHEMA.fields if f.name in out_cols]
    )

    def fn(batches):
        for batch in batches:
            yield _entries_for_batch(batch, mapper, schema_no_id, prune)

    out = pages.select(*in_cols).mapInArrow(fn, schema=schema_no_id)
    if masking == "placeholder" and "statement" in out_cols:
        out = mask_statements(out)
        if forced_cols:
            out = out.drop(*sorted(forced_cols))
    # deterministic entry id: hash of natural keys, never rand()/uuid()
    # (reruns and checkpoint resumes must produce identical tables)
    return out.withColumn("entry_id", F.xxhash64("url", "entry_index"))


def mask_statements(entries: DataFrame) -> DataFrame:
    """The EntryMasking 'placeholder' switch as a standalone projection
    (reference /root/reference/src/lib.rs:93-105 + mask_tokens rendering,
    src/parser.rs:559-581): SqlStatement rows' ``statement`` becomes the
    masked ``fingerprint`` rendering; every other entry kind keeps its raw
    statement. Pure JVM-side CASE — no re-parse — so it can be applied to
    already-materialized entry tables as well as inline in parse_pages."""
    return entries.withColumn(
        "statement",
        F.when(
            F.col("entry_kind") == "SqlStatement", F.col("fingerprint")
        ).otherwise(F.col("statement")),
    )


def split_errors(entries: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, parse_errors) — the decode_eof analog (src/codec.rs:334-351):
    non-whitespace residue / malformed entries are routed, not fatal."""
    good = entries.filter(F.col("entry_kind") != "ParseError")
    bad = entries.filter(F.col("entry_kind") == "ParseError")
    return good, bad

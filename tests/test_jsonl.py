"""JSONL dataset source/sink: byte-identical deterministic export,
round trip, FAILFAST malformed-line behavior, stale-part cleanup."""

from __future__ import annotations

import glob
import gzip
import os

import pytest

from slowspark.sources import read_jsonl, write_jsonl


def _docs(spark):
    rows = [
        (i, f"text body {i} é中", ["en", "de", "zh"][i % 3], i * 1.5)
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, score double"
    )


def test_jsonl_round_trip_and_determinism(spark, tmp_path):
    out = str(tmp_path / "ds")
    m1 = write_jsonl(_docs(spark), out, n_files=3)
    assert sum(r["n_records"] for r in m1) == 40
    files = sorted(glob.glob(os.path.join(out, "part-*.jsonl.gz")))
    assert 1 <= len(files) <= 3
    blobs1 = {f: open(f, "rb").read() for f in files}
    # rerun -> byte-identical artifacts (sorted keys, sorted rows,
    # pinned gzip mtime)
    write_jsonl(_docs(spark), out, n_files=3)
    for f, b in blobs1.items():
        assert open(f, "rb").read() == b
    # round trip restores every row and value
    back = read_jsonl(
        spark, os.path.join(out, "*.jsonl.gz"),
        schema="doc_id long, text string, lang string, score double",
    )
    want = sorted(map(tuple, _docs(spark).collect()))
    got = sorted(
        map(tuple, back.select("doc_id", "text", "lang", "score").collect())
    )
    assert got == want
    # within-file rows are sorted by id
    first = gzip.decompress(blobs1[files[0]]).decode().splitlines()
    import json

    ids = [json.loads(line)["doc_id"] for line in first]
    assert ids == sorted(ids)


def test_jsonl_null_round_trip_keeps_int_types(spark, tmp_path):
    """Nullable numeric/timestamp columns round-trip losslessly (ADVICE
    r7): Arrow promotes int-with-null to float64 (1 -> 1.0) and null
    timestamps to NaT — the writer must serialize ints as ints and every
    NA as JSON null, or the declared-schema FAILFAST read blows up."""
    import json

    rows = [
        ("a", 1, 1.5, "2024-01-02T03:04:05"),
        ("b", None, None, None),
        ("c", 7, 0.25, "2024-06-07T08:09:10"),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "doc_id string, n int, x double, t string"
    ).withColumn("t", F.to_timestamp("t"))
    out = str(tmp_path / "nulls")
    write_jsonl(df, out, n_files=1)
    blob = gzip.decompress(
        open(glob.glob(os.path.join(out, "*.jsonl.gz"))[0], "rb").read()
    ).decode()
    objs = {json.loads(line)["doc_id"]: json.loads(line)
            for line in blob.splitlines()}
    assert objs["a"]["n"] == 1 and "1.0" not in blob.split("\n")[0]
    assert objs["b"]["n"] is None and objs["b"]["x"] is None
    assert objs["b"]["t"] is None
    assert "NaN" not in blob and "NaT" not in blob
    back = read_jsonl(
        spark, os.path.join(out, "*.jsonl.gz"),
        schema="doc_id string, n int, x double, t string",
    )
    got = {r["doc_id"]: r for r in back.collect()}
    assert got["a"]["n"] == 1 and got["c"]["n"] == 7
    assert got["b"]["n"] is None and got["b"]["x"] is None


def _lines(out):
    """{doc_id: raw JSON line} of a one-file uncompressed export."""
    import json

    (f,) = glob.glob(os.path.join(out, "part-*.jsonl"))
    return {json.loads(ln)["doc_id"]: ln for ln in open(f).read().splitlines()}


def test_jsonl_array_column_is_a_json_array(spark, tmp_path):
    """An array<string> column is written as a JSON array at every
    length, a one-element array included."""
    df = spark.createDataFrame(
        [(1, ["a"]), (2, ["a", "b"]), (3, []), (4, None)],
        "doc_id long, tags array<string>",
    )
    out = str(tmp_path / "arr")
    write_jsonl(df, out, n_files=1, compress=False)
    assert _lines(out) == {
        1: '{"doc_id":1,"tags":["a"]}',
        2: '{"doc_id":2,"tags":["a","b"]}',
        3: '{"doc_id":3,"tags":[]}',
        4: '{"doc_id":4,"tags":null}',
    }
    back = read_jsonl(spark, out, schema="doc_id long, tags array<string>")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_jsonl_struct_int_field_beside_a_null_struct(spark, tmp_path):
    """A struct's int field stays an int when another row of the same
    file has a null struct."""
    df = spark.createDataFrame(
        [(1, ("p", 2)), (2, None)], "doc_id long, s struct<a:string,b:int>"
    )
    out = str(tmp_path / "st")
    write_jsonl(df, out, n_files=1, compress=False)
    assert _lines(out) == {
        1: '{"doc_id":1,"s":{"a":"p","b":2}}',
        2: '{"doc_id":2,"s":null}',
    }


def test_jsonl_date_column_is_iso_text(spark, tmp_path):
    """A date, at the top level or inside a struct, is written as its
    YYYY-MM-DD text; a timestamp keeps its naive ISO text."""
    import datetime

    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 2), (datetime.date(1999, 12, 31),),
          datetime.datetime(2024, 1, 2, 3, 4, 5, 123456))],
        "doc_id long, d date, s struct<e:date>, t timestamp",
    )
    out = str(tmp_path / "date")
    write_jsonl(df, out, n_files=1, compress=False)
    assert _lines(out) == {
        1: '{"d":"2024-01-02","doc_id":1,"s":{"e":"1999-12-31"},'
           '"t":"2024-01-02T03:04:05.123456"}',
    }


def test_jsonl_stale_parts_cleared_and_uncompressed(spark, tmp_path):
    out = str(tmp_path / "ds")
    write_jsonl(_docs(spark), out, n_files=6)
    n6 = len(glob.glob(os.path.join(out, "part-*")))
    write_jsonl(_docs(spark), out, n_files=2, compress=False)
    parts = glob.glob(os.path.join(out, "part-*"))
    assert all(p.endswith(".jsonl") for p in parts)  # stale .gz removed
    assert len(parts) <= 2 < n6


def test_jsonl_binary_refused_and_failfast(spark, tmp_path):
    base = _docs(spark)
    df = base.withColumn("blob", base["text"].cast("binary"))
    with pytest.raises(ValueError, match="binary"):
        write_jsonl(df, str(tmp_path / "x"))
    # malformed line raises instead of silently nulling
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"doc_id": 1, "text": "ok"}\nnot json at all{{{\n')
    with pytest.raises(Exception):
        read_jsonl(
            spark, str(bad), schema="doc_id long, text string"
        ).collect()
    with pytest.raises(ValueError, match="required"):
        read_jsonl(
            spark, str(bad), schema="doc_id long, text string",
            required_cols=("url",),
        )


def _run_cli(*args):
    """Drive the CLI in a subprocess: main() owns (and stops) its
    SparkSession, which would kill the shared test fixture in-process."""
    import json
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "slowspark.curate", "--master", "local[4]",
         *args],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = [
        ln for ln in r.stdout.replace("\r", "\n").splitlines()
        if ln.strip().startswith("{")
    ]
    return json.loads(lines[-1])


def test_curate_cli_jsonl_export_and_reingest(spark, tmp_path):
    good = "the quick brown fox jumps over a lazy dog near the old mill"
    docs = spark.createDataFrame(
        [(i, f"{good} tail{i} é中", ["en", "de"][i % 2]) for i in range(30)],
        "doc_id long, text string, lang string",
    )
    inp = str(tmp_path / "in.parquet")
    docs.write.parquet(inp)
    out1 = _run_cli(
        "--input", inp, "--warehouse", str(tmp_path / "wh1"),
        "--seq-len", "64", "--min-words", "2", "--export-jsonl", "2",
    )
    assert out1["jsonl_export"]["n_files"] <= 2
    assert out1["jsonl_export"]["n_records"] == out1["stage_rows"]["sampled"]
    out2 = _run_cli(
        "--input", str(tmp_path / "wh1" / "jsonl_export" / "*.jsonl.gz"),
        "--input-format", "jsonl",
        "--warehouse", str(tmp_path / "wh2"),
        "--seq-len", "64", "--min-words", "2",
    )
    # a curated corpus re-ingested through JSONL re-curates losslessly
    assert (out2["stage_rows"]["packed"]
            == out1["stage_rows"]["packed"])

"""WARC source/sink: ISO 28500 framing, CC-style per-record gzip
members, deterministic export, byte-exact round trip."""

import glob
import gzip
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from slowspark.sources import read_warc, write_warc


def _docs(spark, n=12):
    rows = [
        (
            f"https://example.org/doc/{i}",
            (f"payload {i} é中 " * (i + 1)).encode("utf-8"),
            f"lang{i % 3}",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "url string, payload binary, lang string"
    )


def test_warc_round_trip_byte_exact(spark, tmp_path):
    docs = _docs(spark)
    out = str(tmp_path / "warc")
    manifest = write_warc(
        docs, out, n_files=3, header_cols=("lang",), compress=True
    )
    assert sum(m["n_records"] for m in manifest) == 12
    assert len(manifest) <= 3
    back = read_warc(spark, out + "/*.warc.gz").collect()
    assert len(back) == 12
    want = {r["url"]: (bytes(r["payload"]), r["lang"])
            for r in docs.collect()}
    for r in back:
        payload, lang = want[r["url"]]
        assert bytes(r["payload"]) == payload  # byte-exact through gzip
        assert r["headers"]["X-Slowspark-lang"] == lang
        assert r["warc_type"] == "response"
        assert r["warc_ts"] is not None  # epoch default parses


def test_warc_write_is_deterministic(spark, tmp_path):
    docs = _docs(spark, n=8)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_warc(docs, a, n_files=2)
    write_warc(docs, b, n_files=2)
    fa = sorted(glob.glob(a + "/*"))
    fb = sorted(glob.glob(b + "/*"))
    assert [os.path.basename(p) for p in fa] == [
        os.path.basename(p) for p in fb
    ]
    for pa, pb in zip(fa, fb):
        assert open(pa, "rb").read() == open(pb, "rb").read()


def test_warc_uncompressed_and_validation(spark, tmp_path):
    docs = _docs(spark, n=4)
    out = str(tmp_path / "plain")
    write_warc(docs, out, n_files=1, compress=False)
    files = glob.glob(out + "/*.warc")
    assert len(files) == 1
    blob = open(files[0], "rb").read()
    assert blob.startswith(b"WARC/1.0\r\n")
    back = read_warc(spark, files[0]).collect()
    assert len(back) == 4
    with pytest.raises(ValueError, match="n_files"):
        write_warc(docs, out, n_files=0)


def test_warc_header_ints_and_nulls(spark, tmp_path):
    """A nullable int header column renders as an int, and a null value
    (int or string) leaves its header out, the form read_warc reads back
    as null."""
    docs = spark.createDataFrame(
        [("https://example.org/a", b"x", 5, "v"),
         ("https://example.org/b", b"y", None, None)],
        "url string, payload binary, n int, s string",
    )
    out = str(tmp_path / "hdr")
    write_warc(docs, out, n_files=1, header_cols=("n", "s"), compress=False)
    (f,) = glob.glob(out + "/*.warc")
    blob = open(f, "rb").read().decode()
    assert blob.count("X-Slowspark-n: ") == 1
    assert "X-Slowspark-n: 5\r\n" in blob
    assert blob.count("X-Slowspark-s: ") == 1
    assert "X-Slowspark-s: v\r\n" in blob
    assert "nan" not in blob and "None" not in blob and "5.0" not in blob
    back = {r["url"]: r["headers"] for r in read_warc(spark, f).collect()}
    assert back["https://example.org/a"]["X-Slowspark-n"] == "5"
    assert back["https://example.org/a"]["X-Slowspark-s"] == "v"
    assert back["https://example.org/b"].get("X-Slowspark-n") is None
    assert back["https://example.org/b"].get("X-Slowspark-s") is None


def test_warc_null_timestamp_writes_the_epoch_date(spark, tmp_path):
    """A null `ts_col` value writes the epoch WARC-Date, the one the
    writer uses without `ts_col`, instead of failing the export."""
    import datetime

    docs = spark.createDataFrame(
        [("https://example.org/a", b"x", datetime.datetime(2024, 1, 2, 3, 4, 5)),
         ("https://example.org/b", b"y", None)],
        "url string, payload binary, t timestamp",
    )
    out = str(tmp_path / "ts")
    write_warc(docs, out, n_files=1, ts_col="t", compress=False)
    (f,) = glob.glob(out + "/*.warc")
    blob = open(f, "rb").read().decode()
    assert "WARC-Date: 2024-01-02T03:04:05Z\r\n" in blob
    assert "WARC-Date: 1970-01-01T00:00:00Z\r\n" in blob


def test_warc_reader_accepts_lowercase_headers(spark, tmp_path):
    """ISO 28500 field names are case-insensitive — a spec-valid
    third-party WARC with 'content-length:' / 'warc-type:' must parse
    (ADVICE r7). The raw header map keeps the original casing."""
    body = b"hello lowercase"
    rec = (
        b"WARC/1.0\r\n"
        b"warc-type: response\r\n"
        b"WARC-TARGET-URI: https://example.org/lc\r\n"
        b"warc-date: 2024-03-04T05:06:07Z\r\n"
        b"content-length: " + str(len(body)).encode() + b"\r\n"
        b"\r\n" + body + b"\r\n\r\n"
    )
    p = tmp_path / "lc.warc"
    p.write_bytes(rec)
    rows = read_warc(spark, str(p)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["warc_type"] == "response"
    assert r["url"] == "https://example.org/lc"
    assert r["warc_ts"] is not None and r["warc_ts"].year == 2024
    assert bytes(r["payload"]) == body
    assert r["headers"]["warc-type"] == "response"  # raw casing kept


def test_warc_reader_rejects_torn_files(spark, tmp_path):
    # truncated payload must raise, not silently shorten the corpus
    p = tmp_path / "bad.warc"
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://x/1\r\nContent-Length: 100\r\n\r\n"
        b"only-20-bytes-here!!"
    )
    p.write_bytes(rec)
    with pytest.raises(Exception, match="truncated"):
        read_warc(spark, str(p)).collect()
    q = tmp_path / "notwarc.warc"
    q.write_bytes(b"HTTP/1.1 200 OK\r\n\r\n")
    with pytest.raises(Exception, match="expected 'WARC/'"):
        read_warc(spark, str(q)).collect()


def test_warc_cc_multi_member_gzip_layout(spark, tmp_path):
    """A hand-built CC-style file (one gzip member per record) reads
    back record-exact — the layout real Common Crawl segments use."""
    recs = []
    for i in range(3):
        payload = f"body {i}".encode()
        rec = (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: https://cc/{i}\r\n"
            f"WARC-Date: 2024-01-0{i + 1}T00:00:00Z\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode() + payload + b"\r\n\r\n"
        recs.append(gzip.compress(rec))
    p = tmp_path / "cc.warc.gz"
    p.write_bytes(b"".join(recs))
    back = sorted(
        read_warc(spark, str(p)).collect(), key=lambda r: r["record_ix"]
    )
    assert [r["url"] for r in back] == [f"https://cc/{i}" for i in range(3)]
    assert [bytes(r["payload"]) for r in back] == [
        f"body {i}".encode() for i in range(3)
    ]
    assert back[1]["warc_ts"].day == 2


def _run_curate_cli(args: list) -> dict:
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


def test_curate_cli_reads_warc_input(spark, tmp_path):
    """--input-format warc: curation runs straight off WARC files with
    doc_id = xxhash64(url), decoded text, detected lang — and produces
    the same attrition as the equivalent parquet input."""
    rows = [
        (
            f"https://example.org/d/{i}",
            (
                "the quick brown fox jumps over a lazy dog near the "
                f"old mill u{i} " + " ".join(f"w{i}x{j}" for j in range(20))
            ).encode(),
        )
        for i in range(6)
    ] + [(f"https://example.org/bad/{i}", b"too short") for i in range(2)]
    docs = spark.createDataFrame(rows, "url string, payload binary")
    src = str(tmp_path / "in")
    write_warc(docs, src, n_files=2)
    out = _run_curate_cli([
        "--input", src + "/*.warc.gz", "--input-format", "warc",
        "--warehouse", str(tmp_path / "wh"), "--min-words", "10",
        "--seq-len", "32",
    ])
    assert out["filter_audit"]["n_docs"] == 8
    assert out["stage_rows"]["filtered"] == 6  # the 2 short docs dropped
    assert out["stage_rows"]["packed"] == 6


def test_curate_cli_warc_multi_capture_doc_ids(spark, tmp_path):
    """Multi-snapshot crawls carry several captures of the same URL:
    doc_id is per (url, warc_ts) capture — distinct ids, no silent
    downstream key collisions (ADVICE r7) — while same url AND same
    warc_ts fails loudly pointing at --latest-capture."""
    import subprocess
    import sys
    from datetime import datetime, timezone

    body = (
        "the quick brown fox jumps over a lazy dog near the old mill "
        + " ".join(f"w{j}" for j in range(20))
    ).encode()
    rows = [
        ("https://example.org/d/same", body,
         datetime(2024, 1, d, tzinfo=timezone.utc))
        for d in (1, 2)  # two captures, different timestamps
    ]
    docs = spark.createDataFrame(
        rows, "url string, payload binary, warc_ts timestamp"
    )
    src = str(tmp_path / "in")
    write_warc(docs, src, n_files=1, ts_col="warc_ts")
    out = _run_curate_cli([
        "--input", src + "/*.warc.gz", "--input-format", "warc",
        "--warehouse", str(tmp_path / "wh"), "--min-words", "10",
        "--seq-len", "32",
    ])
    # both captures survive as distinct docs up to exact dedup (same
    # text -> deduped there), proving distinct doc_ids at ingest
    assert out["filter_audit"]["n_docs"] == 2
    assert out["stage_rows"]["deduped_exact"] == 1
    # identical (url, warc_ts) twice: ambiguous input -> loud failure
    dup = spark.createDataFrame(rows[:1] * 2,
                                "url string, payload binary, warc_ts timestamp")
    # write_warc dedups by url-sorted file write; build the torn case by
    # concatenating the single-capture export with itself instead
    blob = open(
        glob.glob(os.path.join(src, "part-*.warc.gz"))[0], "rb"
    ).read()
    dsrc = tmp_path / "dup"
    dsrc.mkdir()
    (dsrc / "part-00000.warc.gz").write_bytes(blob + blob)
    r = subprocess.run(
        [sys.executable, "-m", "slowspark.curate", "--master", "local[4]",
         "--input", str(dsrc / "*.warc.gz"), "--input-format", "warc",
         "--warehouse", str(tmp_path / "wh2"), "--min-words", "10",
         "--seq-len", "32"],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode != 0
    assert "--latest-capture" in (r.stderr + r.stdout)


def test_curate_cli_export_warc_round_trips(spark, tmp_path):
    """--export-warc writes the sampled corpus as WARC under the
    warehouse; reading it back yields exactly the sampled docs with
    byte-exact text."""
    rows = [
        (
            i,
            "the quick brown fox jumps over a lazy dog near the old "
            f"mill u{i} " + " ".join(f"w{i}x{j}" for j in range(20)),
            "en",
        )
        for i in range(5)
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(src)
    wh = str(tmp_path / "wh")
    out = _run_curate_cli([
        "--input", src, "--warehouse", wh, "--min-words", "10",
        "--seq-len", "32", "--export-warc", "2",
    ])
    assert out["warc_export"]["n_records"] == out["stage_rows"]["sampled"] == 5
    back = read_warc(spark, wh + "/warc_export/*.warc.gz").collect()
    got = {
        int(r["headers"]["X-Slowspark-doc_id"]):
            bytes(r["payload"]).decode()
        for r in back
    }
    assert got == {i: t for i, t, _ in rows}


def test_curate_cli_respects_noindex(spark, tmp_path):
    """--respect-noindex (WARC input): pages carrying a meta robots
    noindex directive are dropped at the ingest boundary — they never
    become document rows; parquet input refuses the flag."""
    good = ("the quick brown fox jumps over a lazy dog near the old "
            "mill " + " ".join(f"w{j}" for j in range(20)))
    rows = [
        (f"https://example.org/keep/{i}",
         f"<html><body>{good} k{i}</body></html>".encode())
        for i in range(4)
    ] + [
        (f"https://example.org/drop/{i}",
         (f'<html><head><meta name="robots" content="noindex"></head>'
          f"<body>{good} d{i}</body></html>").encode())
        for i in range(3)
    ]
    docs = spark.createDataFrame(rows, "url string, payload binary")
    src = str(tmp_path / "in")
    write_warc(docs, src, n_files=1)
    out = _run_curate_cli([
        "--input", src + "/*.warc.gz", "--input-format", "warc",
        "--respect-noindex",
        "--warehouse", str(tmp_path / "wh"), "--min-words", "10",
        "--seq-len", "32",
    ])
    assert out["filter_audit"]["n_docs"] == 4  # the 3 noindexed never enter
    # wrong input format is refused loudly
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "slowspark.curate", "--master", "local[4]",
         "--input", "/tmp/x.parquet", "--warehouse", str(tmp_path / "w2"),
         "--respect-noindex"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0 and "respect-noindex" in r.stderr


# ---------------------------------------------------------------------------
# CC-index-style selective fetch (write_warc index_path + read_warc_selective)
# ---------------------------------------------------------------------------

def test_warc_index_selective_fetch_byte_identical(spark, tmp_path):
    """The CDX recipe: export with an index, fetch an index-selected url
    subset — every returned row (payload bytes, headers, record_ix,
    warc_type, ts) equals the full-scan read_warc row for that url, and
    ONLY the selected urls come back. Both selection forms (url list,
    DataFrame with url column) work; urls=None fetches everything."""
    from slowspark.sources import read_warc_selective

    docs = _docs(spark, n=14)
    out, idx = str(tmp_path / "warc"), str(tmp_path / "cdx")
    write_warc(docs, out, n_files=3, header_cols=("lang",),
               index_path=idx)
    index = spark.read.parquet(idx)
    assert index.count() == 14
    assert set(index.columns) == {"url", "warc_path", "record_ix",
                                  "offset", "length"}
    full = {r["url"]: r for r in read_warc(spark, out + "/*.warc.gz").collect()}
    pick = [f"https://example.org/doc/{i}" for i in (0, 5, 9, 13)]
    got = read_warc_selective(spark, idx, urls=pick).collect()
    assert {r["url"] for r in got} == set(pick)
    for r in got:
        w = full[r["url"]]
        assert bytes(r["payload"]) == bytes(w["payload"])
        assert r["headers"] == w["headers"]
        assert r["record_ix"] == w["record_ix"]
        assert r["warc_type"] == w["warc_type"]
        assert r["warc_ts"] == w["warc_ts"]
    # DataFrame selection (the crawl_delta composition shape)
    sel_df = spark.createDataFrame([(u,) for u in pick[:2]], "url string")
    got2 = {r["url"] for r in
            read_warc_selective(spark, index, urls=sel_df).collect()}
    assert got2 == set(pick[:2])
    # no selection: the whole index, equal to the full scan
    all_rows = read_warc_selective(spark, idx).collect()
    assert {r["url"]: bytes(r["payload"]) for r in all_rows} == {
        u: bytes(w["payload"]) for u, w in full.items()
    }


def test_warc_selective_never_opens_untouched_files(spark, tmp_path):
    """The IO contract: after selecting urls from ONE warc file,
    corrupting every OTHER file to garbage does not affect the fetch —
    proof the reader opens only files the selected index rows name
    (read_warc on the same glob now fails, confirming the corruption is
    real)."""
    from slowspark.sources import read_warc_selective

    docs = _docs(spark, n=14)
    out, idx = str(tmp_path / "warc"), str(tmp_path / "cdx")
    write_warc(docs, out, n_files=4, index_path=idx)
    index = spark.read.parquet(idx)
    # all urls living in one single file
    one_file = index.groupBy("warc_path").count().collect()[0]["warc_path"]
    pick = [r["url"] for r in
            index.filter(F.col("warc_path") == one_file).collect()]
    want = {r["url"]: bytes(r["payload"]) for r in
            read_warc_selective(spark, index, urls=pick).collect()}
    for f in glob.glob(out + "/part-*.warc.gz"):
        if f != one_file:
            with open(f, "wb") as fh:
                fh.write(b"not a warc file at all")
    got = {r["url"]: bytes(r["payload"]) for r in
           read_warc_selective(spark, index, urls=pick).collect()}
    assert got == want  # untouched-by-selection files were never read
    with pytest.raises(Exception):  # the corruption IS real
        read_warc(spark, out + "/*.warc.gz").collect()


def test_warc_selective_stale_index_raises(spark, tmp_path):
    """A stale index must fail loudly, not serve someone else's bytes:
    re-exporting DIFFERENT content over the same files while keeping
    the old index raises the url-mismatch (or framing) validation."""
    from slowspark.sources import read_warc_selective

    docs = _docs(spark, n=10)
    out, idx = str(tmp_path / "warc"), str(tmp_path / "cdx")
    write_warc(docs, out, n_files=2, index_path=idx)
    stale = spark.read.parquet(idx).collect()
    # overwrite the export with shifted urls (index NOT regenerated)
    docs2 = docs.withColumn(
        "url", F.concat(F.col("url"), F.lit("?v=2"))
    )
    write_warc(docs2, out, n_files=2)
    stale_df = spark.createDataFrame(stale)
    with pytest.raises(Exception, match="stale index|short read"):
        read_warc_selective(spark, stale_df).collect()
    # and a plain payload-content swap (same urls, same framing sizes
    # would be a coincidence — here sizes differ) also fails loudly
    docs3 = docs.withColumn("payload", F.encode(F.lit("swapped"), "UTF-8"))
    write_warc(docs3, out, n_files=2)
    with pytest.raises(Exception, match="stale index|short read"):
        read_warc_selective(spark, stale_df).collect()


def test_curate_cli_warc_main_content(spark, tmp_path):
    """--main-content: WARC ingest extracts the article block only.
    The differential vs raw-decode ingest is stark on real HTML: raw
    markup fails the symbol-ratio quality rule (0 docs survive), while
    main-content extraction yields clean article text (all survive,
    nav/footer links never becoming document text)."""
    def page(i):
        li = "abcd"[i]
        body = (f"the quick brown fox jumps over a lazy dog near mill {li} "
                + " ".join(f"w{li}{'abcdefghijklmnopqrst'[j]}"
                           for j in range(20)))
        return (
            '<html><body><div><a href="/">Home</a> <a href="/n">News</a> '
            '<a href="/s">Sports</a> <a href="/m">More links</a></div>'
            f"<p>{body}</p>"
            '<div><a href="/p">Privacy</a> | <a href="/t">Terms</a></div>'
            "</body></html>"
        )
    rows = [(f"https://example.org/d/{i}", page(i).encode())
            for i in range(4)]
    docs = spark.createDataFrame(rows, "url string, payload binary")
    src = str(tmp_path / "in")
    write_warc(docs, src, n_files=1)
    base = ["--input", src + "/*.warc.gz", "--input-format", "warc",
            "--min-words", "10", "--seq-len", "32"]
    plain = _run_curate_cli(base + ["--warehouse", str(tmp_path / "wh_p")])
    mc = _run_curate_cli(base + ["--main-content",
                                 "--warehouse", str(tmp_path / "wh_m")])
    # raw-decode ingest keeps the MARKUP as text: the symbol-ratio
    # quality rule kills every page (angle brackets/slashes) — exactly
    # the failure mode --main-content exists to fix
    assert plain["stage_rows"]["packed"] == 0
    assert plain["filter_audit"]["dropped_by_rule_symbol_ratio"] == 4
    # main-content ingest yields clean article text that passes
    assert mc["stage_rows"]["packed"] == 4
    assert mc["n_sequences"] >= 1
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "slowspark.curate", "--input", "x.parquet",
         "--warehouse", str(tmp_path / "wh_e"), "--main-content"],
        capture_output=True, text=True,
    )
    assert r.returncode != 0 and "warc only" in r.stderr

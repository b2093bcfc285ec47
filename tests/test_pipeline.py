"""Spark pipeline tests: parse stage, enrichment, routing, rollups, skew,
checkpoint resume, and the restartability analog (identical output under
different partitionings — reference src/codec.rs:586-599 proves the same
with a 4-byte read buffer)."""

import hashlib
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from slowspark import aggregate as agg
from slowspark.catalog import Catalog
from slowspark.enrich import enrich
from slowspark.gen import (
    expected_kind_counts,
    gen_pages,
    host_dc_dim,
    lang_locale_dim,
    render_page,
)
from slowspark.grammar import parse_entries
from slowspark.metrics import page_lineage, partition_metrics
from slowspark.parse import parse_pages, split_errors
from slowspark.route import route
from slowspark.skew import salted_groupby_agg, salted_repartition

N_PAGES = 120


@pytest.fixture(scope="module")
def pages(spark):
    return gen_pages(spark, N_PAGES, partitions=4).cache()


@pytest.fixture(scope="module")
def entries(spark, pages):
    return parse_pages(pages).cache()


def test_kind_census_matches_analytic_golden(entries):
    got = {r["entry_kind"]: r["n"] for r in agg.kind_census(entries).collect()}
    assert got == expected_kind_counts(N_PAGES)


def test_no_parse_errors_on_generated_pages(entries):
    good, bad = split_errors(entries)
    assert bad.count() == 0


def test_parse_large_single_page_memory_bounded(spark, pages):
    """The reference's headline claim is memory-boundedness on arbitrarily
    large inputs; our analog bound is the Arrow batch (one page row at a
    time through the Python worker). A single multi-megabyte page holding
    thousands of entries must parse completely and linearly — the census
    of text*N is exactly N times the census of text."""
    row = pages.orderBy("url").select("warc_ts", "text").first()
    one = {e["entry_kind"] for e in parse_entries(row["text"])}
    base_counts = Counter(e["entry_kind"] for e in parse_entries(row["text"]))
    reps = 3000  # ~2.5 MB, ~10k entries in ONE row
    big = spark.createDataFrame(
        [("https://big.example.com/one", row["warc_ts"], None,
          row["text"] * reps, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = {
        r["entry_kind"]: r["n"]
        for r in agg.kind_census(
            parse_pages(big, columns=["entry_kind"])
        ).collect()
    }
    assert got == {k: v * reps for k, v in base_counts.items()}
    assert one  # sanity: the template page parsed at all


def test_census_fingerprint_rollup_fusion_consistent(entries):
    """The fused single-pass aggregate must derive the exact kind census
    and the exact fingerprint-rollup group count that the two standalone
    operators produce (the bench's one-action pipeline relies on this)."""
    rows = agg.census_fingerprint_rollup(entries).collect()
    census: dict[str, int] = {}
    fps = set()
    for r in rows:
        census[r["entry_kind"]] = census.get(r["entry_kind"], 0) + r["n"]
        if r["entry_kind"] == "SqlStatement":
            fps.add((r["fingerprint"], r["sql_type"]))
    assert census == {r["entry_kind"]: r["n"] for r in agg.kind_census(entries).collect()}
    assert len(fps) == agg.fingerprint_rollup(entries).count()
    # and sums agree with the per-fingerprint rollup totals
    want_sum = (
        agg.fingerprint_rollup(entries)
        .agg(F.sum("sum_query_time").alias("s")).first()["s"]
    )
    got_sum = sum(r["sum_query_time"] for r in rows if r["entry_kind"] == "SqlStatement")
    assert got_sum == pytest.approx(want_sum, rel=1e-9)


def test_identical_output_under_different_partitionings(spark, entries):
    """Restartability analog: same parsed table at 1 vs 8 input partitions
    and different shuffle widths (order-insensitive content hash)."""

    def table_hash(df):
        return (
            df.select(
                F.xxhash64(
                    "entry_id", "entry_kind",
                    F.coalesce("fingerprint", F.lit("")),
                    F.coalesce(F.col("statement_raw").cast("string"), F.lit("")),
                ).alias("h")
            )
            .agg(F.expr("bit_xor(h)").alias("s"))
            .collect()[0]["s"]
        )

    base = table_hash(entries)
    p1 = parse_pages(gen_pages(spark, N_PAGES, partitions=1))
    p8 = parse_pages(gen_pages(spark, N_PAGES, partitions=8).repartition(8))
    assert table_hash(p1) == base
    assert table_hash(p8) == base


def test_byte_identity_vs_pure_python_oracle(pages, entries):
    """Per-row invariant (BASELINE.json input_hint): the Spark pipeline's
    statement_raw per (url, entry_index) is byte-identical to the pure-Python
    grammar applied directly to the page text."""
    page_rows = {r["url"]: r["text"] for r in pages.collect()}
    expected = {}
    for url, text in page_rows.items():
        for e in parse_entries(text):
            raw = e["statement_raw"]
            expected[(url, e["entry_index"])] = hashlib.sha256(raw).hexdigest() if raw else None
    got_rows = entries.select("url", "entry_index", "statement_raw").collect()
    assert len(got_rows) == len(expected)
    for r in got_rows:
        want = expected[(r["url"], r["entry_index"])]
        got = hashlib.sha256(bytes(r["statement_raw"])).hexdigest() if r["statement_raw"] is not None else None
        assert got == want, (r["url"], r["entry_index"])


def test_enrich_plan_is_broadcast(spark, entries):
    enriched = enrich(entries, host_dc_dim(spark), lang_locale_dim(spark))
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # the dims are local relations: broadcasting them starts no Python
    # worker (a Python-RDD dim plans as LogicalRDD / Scan ExistingRDD)
    optimized = enriched._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in optimized
    assert "Scan ExistingRDD" not in plan
    # left joins never drop rows
    assert enriched.count() == entries.count()
    # known lookups resolve
    dc = enriched.filter(F.col("host") == "localhost").select("datacenter").first()
    assert dc["datacenter"] is not None


def test_routed_row_equality(entries):
    """Union of the per-kind sinks == the parsed table (row-disjoint and
    row-complete; north_star routed-row equality)."""
    sinks = route(entries)
    total = sum(df.count() for df in sinks.values())
    assert total == entries.count()
    ids_union = None
    for df in sinks.values():
        sel = df.select("entry_id")
        ids_union = sel if ids_union is None else ids_union.unionAll(sel)
    assert ids_union.distinct().count() == entries.select("entry_id").distinct().count()


def test_fingerprint_rollup_collapses_literals(entries):
    roll = agg.fingerprint_rollup(entries)
    rows = roll.collect()
    n_calls = sum(r["n_calls"] for r in rows)
    assert n_calls == entries.filter(F.col("entry_kind") == "SqlStatement").count()
    # literals vary per entry but fingerprints collapse: far fewer groups
    assert 0 < len(rows) < n_calls
    assert all("?" in r["fingerprint"] or r["fingerprint"] for r in rows)


def test_salted_agg_equals_plain_agg(entries):
    plain = {
        (r["entry_kind"],): (r["n"], round(r["s"] or 0.0, 9))
        for r in entries.groupBy("entry_kind")
        .agg(F.count("*").alias("n"), F.sum("query_time").alias("s"))
        .collect()
    }
    salted = {
        (r["entry_kind"],): (r["n"], round(r["s"] or 0.0, 9))
        for r in salted_groupby_agg(
            entries, ["entry_kind"],
            {"n": ("count", "*"), "s": ("sum", "query_time")},
        ).collect()
    }
    assert plain == salted


def test_salted_repartition_spreads_hot_keys(spark, entries):
    df = salted_repartition(entries, "url", 8, buckets=16)
    sizes = [
        r["n"]
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n")).collect()
    ]
    assert len(sizes) > 1
    assert df.count() == entries.count()


def test_sink_rollup_and_windows(entries):
    roll = agg.sink_rollup(entries).collect()
    grand = [r for r in roll if r["entry_kind"] is None and r["sql_type"] is None]
    assert grand[0]["n"] == entries.count()
    topk = agg.top_k_slowest_per_fingerprint(entries, k=2)
    assert topk.groupBy("fingerprint").count().agg(F.max("count")).collect()[0][0] <= 2
    hourly = agg.hourly_rollup(entries)
    assert hourly.agg(F.sum("n")).collect()[0][0] == entries.count()


def test_object_usage(entries):
    usage = agg.object_usage(entries)
    rows = usage.collect()
    names = {r["full_object_name"] for r in rows}
    assert "products" in names and "orders" in names
    # a statement that references no object (SET NAMES ...) adds no row:
    # one ref per exploded object, as the DuckDB oracles' unnest counts
    assert "" not in names
    n_objects = (
        entries.filter(
            (F.col("entry_kind") == "SqlStatement")
            & F.col("objects").isNotNull()
        ).agg(F.sum(F.size("objects"))).collect()[0][0]
    )
    assert sum(r["n_refs"] for r in rows) == n_objects


def test_metrics_tables(entries):
    pm = partition_metrics(entries)
    assert pm.agg(F.sum("entries_out")).collect()[0][0] == entries.count()
    pl = page_lineage(entries)
    assert pl.count() == N_PAGES
    assert pl.filter(F.col("has_errors")).count() == 0


# --- fixture-verbatim variants (FIXTURES.md §A) -----------------------------

ASSETS = "/root/reference/assets"
BIG = os.path.join(ASSETS, "slow-test-queries.log")

needs_fixtures = pytest.mark.skipif(
    not os.path.exists(BIG), reason="reference assets not available"
)


@needs_fixtures
def test_fixture_whole_file_and_per_entry_pages_agree(spark):
    """Embed the reference log as (1) one page per whole file and (2) one
    page per entry; both must yield identical parsed kind/statement tables
    (310 total, src/codec.rs:583)."""
    with open(BIG, encoding="utf-8", errors="replace") as f:
        text = f.read()

    whole = spark.createDataFrame(
        [("file://whole", text, "en")], "url string, text string, lang string"
    )
    parsed_whole = parse_pages(whole)
    counts_whole = Counter(
        r["entry_kind"] for r in parsed_whole.select("entry_kind").collect()
    )
    assert sum(counts_whole.values()) == 310
    assert counts_whole["AdminCommand"] == 13

    # one page per entry: split on the '# Time: ' anchor; put the 3-line
    # preamble on the first page
    import re

    chunks = re.split(r"(?m)^(?=# Time: )", text)
    pages = [
        (f"file://entry/{i}", c, "en") for i, c in enumerate(chunks) if c.strip()
    ]
    per_entry = spark.createDataFrame(pages, "url string, text string, lang string")
    parsed_pe = parse_pages(per_entry)
    counts_pe = Counter(
        r["entry_kind"] for r in parsed_pe.select("entry_kind").collect()
    )
    assert counts_pe == counts_whole

    # statement_raw multisets agree between the two variants
    def raw_multiset(df):
        return Counter(
            bytes(r["statement_raw"])
            for r in df.select("statement_raw").collect()
            if r["statement_raw"] is not None
        )

    assert raw_multiset(parsed_whole) == raw_multiset(parsed_pe)


# --- checkpoint resume (SURVEY.md §7 M5) ------------------------------------

def test_checkpoint_resume(spark, tmp_path, pages):
    from slowspark.job import run_pipeline

    wh = str(tmp_path / "wh")
    t1 = run_pipeline(spark, pages, wh, "sig-a")
    census1 = {r["entry_kind"]: r["n"] for r in t1["kind_census"].collect()}
    assert census1 == expected_kind_counts(N_PAGES)

    # resume: manifests match -> stages are read back, not rebuilt; results
    # identical
    t2 = run_pipeline(spark, pages, wh, "sig-a")
    census2 = {r["entry_kind"]: r["n"] for r in t2["kind_census"].collect()}
    assert census2 == census1

    # changed input signature -> rebuild (still identical results because
    # generation is deterministic)
    t3 = run_pipeline(spark, pages, wh, "sig-b")
    census3 = {r["entry_kind"]: r["n"] for r in t3["kind_census"].collect()}
    assert census3 == census1


def test_job_cli_reads_pages_path(spark, tmp_path):
    """`slowspark.job --pages` reads the pages table through
    sources.read_pages (the catalog's format, the declared pages schema);
    the census equals the analytic one. A subprocess, because main()
    stops its own SparkSession."""
    import json
    import subprocess
    import sys

    n_pages = 100
    src = str(tmp_path / "pages")
    gen_pages(spark, n_pages).write.parquet(src)
    r = subprocess.run(
        [sys.executable, "-m", "slowspark.job", "--pages", src,
         "--warehouse", str(tmp_path / "wh"), "--master", "local[2]"],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = [
        ln for ln in r.stdout.replace("\r", "\n").splitlines()
        if ln.strip().startswith("{")
    ]
    assert json.loads(lines[-1])["kind_census"] == expected_kind_counts(n_pages)


def test_job_cli_rewritten_pages_miss_the_resume(spark, tmp_path):
    """The resume signature of `slowspark.job --pages <path>` stamps the
    files under the path (util.fs_listing_stamp), not just its name:
    pages rewritten at the same path must be parsed afresh, never served
    from the first run's manifests. Subprocesses, because main() stops
    its own SparkSession."""
    import json
    import subprocess
    import sys

    src, wh = str(tmp_path / "pages"), str(tmp_path / "wh")

    def run_job():
        r = subprocess.run(
            [sys.executable, "-m", "slowspark.job", "--pages", src,
             "--warehouse", wh, "--master", "local[2]"],
            capture_output=True, text=True, timeout=600,
        )
        assert r.returncode == 0, r.stderr[-3000:]
        lines = [
            ln for ln in r.stdout.replace("\r", "\n").splitlines()
            if ln.strip().startswith("{")
        ]
        return json.loads(lines[-1])["kind_census"]

    gen_pages(spark, 50).write.parquet(src)
    assert run_job() == expected_kind_counts(50)
    gen_pages(spark, 100).write.mode("overwrite").parquet(src)
    assert run_job() == expected_kind_counts(100)


def test_manifests_match_their_tables(spark, tmp_path, pages):
    """Each manifest describes its table: the row count and content hash
    run_stage observes on the write equal those of the table read back
    (with schema inference, so the stored schema is checked too), for the
    sql_type-partitioned sink and for the parse_errors sink that two
    malformed pages fill. A resumed run reads every table with the fresh
    run's schema; a stage of zero rows hashes to 0 and resumes."""
    from slowspark.checkpoint import content_hash, load_manifest, run_stage
    from slowspark.job import run_pipeline
    from slowspark.schema import PAGES_SCHEMA

    bad = []
    for doc_id in (N_PAGES, N_PAGES + 1):
        row = render_page(doc_id)
        i = row["text"].index("# Time: ")
        row["text"] = row["text"][:i] + "not a slow-log line\n" + row["text"][i:]
        bad.append(tuple(row[f.name] for f in PAGES_SCHEMA.fields))
    with_bad = pages.unionByName(spark.createDataFrame(bad, PAGES_SCHEMA))
    hash_cols = {"parsed": ["entry_id", "entry_kind", "fingerprint", "statement_raw"]}

    wh = str(tmp_path / "wh")
    cat = Catalog(wh)
    fresh = run_pipeline(spark, with_bad, wh, "sig-m")
    assert len(fresh) == 11
    for stage, df in fresh.items():
        m = load_manifest(cat, stage, spark)
        back = cat.read(spark, stage)
        assert back.schema == df.schema, stage
        assert m["row_count"] == back.count(), stage
        assert m["content_hash"] == content_hash(back, hash_cols.get(stage)), stage
    assert load_manifest(cat, "parse_errors", spark)["row_count"] == 2
    assert load_manifest(cat, "sql_statements", spark)["partition_by"] == ["sql_type"]

    resumed = run_pipeline(spark, with_bad, wh, "sig-m")
    for stage, df in resumed.items():
        assert df.schema == fresh[stage].schema, stage
        m = load_manifest(cat, stage, spark)
        assert content_hash(df, hash_cols.get(stage)) == m["content_hash"], stage

    empty = run_stage(
        spark, cat, "empty", "sig-m",
        lambda: fresh["parse_errors"].filter(F.lit(False)),
    )
    m = load_manifest(cat, "empty", spark)
    assert (m["row_count"], m["content_hash"]) == (0, 0)
    again = run_stage(
        spark, cat, "empty", "sig-m", lambda: pytest.fail("empty stage rebuilt")
    )
    assert again.schema == empty.schema
    assert again.count() == 0


@needs_fixtures
def test_raw_log_file_source(spark):
    """read_slow_logs ingests the reference's own fixture files and yields
    the golden totals (310 + 22 = 332 entries across the two logs)."""
    from slowspark.sources import read_slow_logs

    pages = read_slow_logs(spark, f"{ASSETS}/*.log")
    assert pages.count() == 2
    parsed = parse_pages(pages)
    assert parsed.count() == 332
    by_file = {
        r["url"].rsplit("/", 1)[-1]: r["n"]
        for r in parsed.groupBy("url").agg(F.count("*").alias("n")).collect()
    }
    assert by_file["slow-test-queries.log"] == 310
    assert by_file["slow-test-queries-small.log"] == 22


def test_parse_scan_prunes_html_column(spark, pages, tmp_path):
    """Column pruning: the parse plan must read only url/text/lang/warc_ts
    from the pages scan — never the big html binary column."""
    path = str(tmp_path / "pages_pruning")
    pages.write.parquet(path)
    on_disk = spark.read.parquet(path)
    plan = parse_pages(on_disk)._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"ReadSchema: (struct<[^>]*>)", plan)
    assert m, plan
    assert "html" not in m.group(1)
    assert "text:string" in m.group(1)


def test_parse_pages_keeps_entry_schema_nullability(spark, pages):
    """The parse output declares ENTRY_SCHEMA's own fields, nullability
    included (url, entry_index, entry_kind and objects[].object_name are
    non-null), for the full column set and for a pruned one."""
    from pyspark.sql.types import StructType

    from perfbench.workloads import CENSUS_COLS
    from slowspark.schema import ENTRY_SCHEMA

    for columns in (None, CENSUS_COLS):
        keep = set(columns or ENTRY_SCHEMA.names) | {"url", "entry_index"}
        want = StructType([f for f in ENTRY_SCHEMA.fields if f.name in keep])
        out = parse_pages(pages, columns=columns).drop("entry_id")
        assert out.schema == want, columns
        assert out.count() > 0
    # url keys entry_id: pages without it fail at analysis, naming it
    with pytest.raises(Exception, match="url"):
        parse_pages(pages.drop("url"))


def test_parse_pages_column_pruning_matches_full(spark, pages):
    """Narrow (columns=...) parse output equals the full parse projected to
    the same columns — manual pushdown through the Python boundary must not
    change values."""
    cols = ["url", "entry_index", "entry_kind", "fingerprint", "query_time", "entry_id"]
    full = parse_pages(pages).select(*cols)
    narrow = parse_pages(pages, columns=["entry_kind", "fingerprint", "query_time"])
    assert sorted(narrow.columns) == sorted(cols)
    a = {tuple(r) for r in full.collect()}
    b = {tuple(r) for r in narrow.select(*cols).collect()}
    assert a == b


def test_log_meta_column_in_spark(spark, entries):
    """gen_pages gives every 50th page the 3-line preamble; entries from
    those pages must carry the log_meta struct, all others NULL."""
    with_meta = entries.filter(F.col("log_meta").isNotNull())
    r = with_meta.select("log_meta.*").first()
    assert r["version"] == "8.0.32-log (Source distribution)."
    assert r["tcp_port"] == 3306
    assert r["socket"] == "/var/run/mysqld/mysqld.sock"
    # pages 0, 50, 100 of 120 -> entries_per_page(0,50,100) = 1+doc_id%5
    from slowspark.gen import entries_per_page

    want = sum(entries_per_page(d) for d in (0, 50, 100))
    assert with_meta.count() == want


def test_masking_placeholder_switch(spark, pages):
    """EntryMasking parity (/root/reference/src/lib.rs:93-105): masking
    'placeholder' renders SqlStatement rows' statement as the fingerprint;
    'none' (default) reproduces today's output byte-for-byte."""
    none_df = parse_pages(pages, masking="none")
    default_df = parse_pages(pages)
    masked_df = parse_pages(pages, masking="placeholder")
    a = {r["entry_id"]: r["statement"] for r in none_df.select("entry_id", "statement").collect()}
    b = {r["entry_id"]: r["statement"] for r in default_df.select("entry_id", "statement").collect()}
    assert a == b
    rows = masked_df.select("entry_id", "entry_kind", "statement", "fingerprint").collect()
    for r in rows:
        if r["entry_kind"] == "SqlStatement":
            assert r["statement"] == r["fingerprint"]
    # non-SQL lanes unmasked
    assert {r["entry_id"]: r["statement"] for r in rows if r["entry_kind"] != "SqlStatement"} \
        == {k: v for k, v in a.items() if k in {r["entry_id"] for r in rows if r["entry_kind"] != "SqlStatement"}}
    with pytest.raises(ValueError):
        parse_pages(pages, masking="bogus")


def test_salted_repartition_spreads_genuinely_hot_key(spark):
    """One key repeated 4000x with distinct payloads must land on multiple
    partitions (the round-1 salt was a pure function of the key - a no-op)."""
    hot = spark.range(4000).select(
        F.lit("https://hot.example.com/").alias("url"), F.col("id").alias("payload")
    )
    df = salted_repartition(hot, "url", 8, buckets=16)
    parts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert parts > 1
    # deterministic in row content: identical rerun -> identical placement
    a = {r["payload"]: r["p"] for r in
         df.select("payload", F.spark_partition_id().alias("p")).collect()}
    b = {r["payload"]: r["p"] for r in
         salted_repartition(hot, "url", 8, buckets=16)
         .select("payload", F.spark_partition_id().alias("p")).collect()}
    assert a == b


def test_content_hash_counts_duplicate_rows(spark):
    """sum-based content hash must distinguish a table from the same table
    with a row duplicated (xor would cancel the pair)."""
    from slowspark.checkpoint import content_hash

    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    dup = base.unionAll(spark.createDataFrame([(1, "a")], "id long, v string"))
    h_base = content_hash(base)
    h_dup = content_hash(dup)
    assert h_base != h_dup
    # order-insensitive: reversed row order hashes identically
    rev = spark.createDataFrame([(2, "b"), (1, "a")], "id long, v string")
    assert content_hash(rev) == h_base


def test_content_hash_reads_stored_values(spark):
    """The hash reads each value as stored, not a string rendering of it:
    ["a, b"] and ["a", "b"] render alike but hash apart. A map column is
    hashed too, through its entries."""
    from slowspark.checkpoint import content_hash

    one = spark.createDataFrame([(["a, b"],)], "v array<string>")
    two = spark.createDataFrame([(["a", "b"],)], "v array<string>")
    assert content_hash(one) != content_hash(two)
    m = spark.createDataFrame([({"k": "v"},)], "m map<string,string>")
    other = spark.createDataFrame([({"k": "w"},)], "m map<string,string>")
    assert content_hash(m) != content_hash(other)


def test_catalog_exists_requires_success_marker(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame([(1,)], "id long")
    cat.write(df, "t1")
    assert cat.exists(spark, "t1")
    # simulate a crashed partial overwrite: part files present, no marker
    os.remove(os.path.join(cat.path("t1"), "_SUCCESS"))
    assert not cat.exists(spark, "t1")


def test_catalog_writes_zstd_by_default(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    assert cat.codec == "zstd"
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "id long, v string")
    cat.write(df, "tz")
    files = [f for f in os.listdir(cat.path("tz")) if f.endswith(".parquet")]
    assert files and all(".zstd." in f for f in files)
    back = cat.read(spark, "tz")
    assert back.count() == 100


def test_masking_does_not_change_projection_schema(spark, pages):
    a = parse_pages(pages, columns=["statement"], masking="none")
    b = parse_pages(pages, columns=["statement"], masking="placeholder")
    assert a.columns == b.columns

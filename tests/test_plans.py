"""Physical-plan audits: pin the plan properties the 100 TB design relies
on (predicate pushdown to the scan, column pruning, partial+final
aggregation, no shuffle before the parse stage, window/groupBy partitioning
reuse), so a plan regression fails CI instead of surfacing as a silent
10x at scale."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


# plan nodes of a Python stage; a "no Python stage" plan has none of them
_PYTHON_NODES = ("MapInPandas", "MapInArrow", "BatchEvalPython")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pricing_summary_pushes_filter_to_scan(spark):
    import __spark_entry__ as contract

    df = contract.queries()["pricing_summary"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_regex_extract_stats_prunes_scan_columns(spark):
    import __spark_entry__ as contract

    df = contract.queries()["regex_extract_stats"](spark, SF_DIR)
    plan = _plan(df)
    # the documents table has 5 columns; the scan must read only 2
    read = plan[plan.index("ReadSchema:"):].splitlines()[0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "source" not in read and "n_chars" not in read


def test_parse_census_has_no_shuffle_before_python_stage(spark):
    """The parse is narrow: the ONLY Exchange in scan -> parse -> census is
    the tiny post-parse aggregation shuffle."""
    from slowspark.aggregate import kind_census
    from slowspark.gen import gen_pages
    from slowspark.parse import parse_pages

    df = kind_census(
        parse_pages(gen_pages(spark, 50, partitions=4), columns=["entry_kind"])
    )
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    # physical plans print root-first, so the one Exchange (the census agg)
    # must appear ABOVE the MapInArrow parse operator — i.e. nothing
    # shuffles between the scan and the Python stage
    assert plan.index("Exchange") < plan.index("MapInArrow")


def test_session_windows_single_shuffle(spark):
    """lag-flag window, running-sum window and the final groupBy all reuse
    ONE hash partitioning on the key."""
    from slowspark.aggregate import session_windows

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(session_windows(ev, ["user_id"], "ts", 30))
    assert plan.count("Exchange") == 1


def test_fingerprint_rollup_single_shuffle_after_parse(spark):
    from slowspark.aggregate import fingerprint_rollup
    from slowspark.gen import gen_pages
    from slowspark.parse import parse_pages

    entries = parse_pages(
        gen_pages(spark, 50, partitions=4),
        columns=["entry_kind", "fingerprint", "sql_type", "query_time",
                 "lock_time", "rows_sent", "rows_examined"],
    )
    plan = _plan(fingerprint_rollup(entries))
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2  # partial + final


def test_exact_dedup_semi_join_reuses_aggregation_partitioning(spark):
    """exact_dedup: groupBy(text_hash) then a left_semi back to the corpus —
    the whole plan needs at most 3 exchanges (agg + two join sides) and no
    cartesian anywhere."""
    from slowspark.textops import exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(exact_dedup(docs))
    assert "Cartesian" not in plan
    assert plan.count("Exchange") <= 3


def test_lsh_near_dup_join_is_bucket_keyed_not_cartesian(spark):
    from slowspark.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(embedding_near_dup_pairs(emb, dim=64))
    assert "Cartesian" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_manku_simhash_join_is_key_equijoin(spark):
    from slowspark import textops

    sigs = spark.createDataFrame(
        [(i, i * 7919) for i in range(50)], "doc_id long, simhash long"
    )
    plan = _plan(textops.simhash_candidates(sigs))
    assert "Cartesian" not in plan
    # the join keys are (tbl, tkey) — an equi-join, hash or sort-merge
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.parametrize("method", ["simhash", "minhash"])
def test_incremental_simhash_probe_prunes_index_columns(spark, tmp_path, method):
    """The persisted-index probe's scale contract, for both methods: the
    candidate join scans the key table reading ONLY (doc_id, key) — never
    the signature per key row (SimHash: 20 key rows/doc, reading the
    8-byte simhash would inflate the dominant scan by ~50%) — with the
    part column (tbl / band_id) arriving as a partition column
    (PartitionFilters, prunable); and the index sigs table is scanned
    exactly once (the verify), not per candidate join."""
    from slowspark import textops

    build, probe, part, key, sig_type = {
        "simhash": (textops.build_simhash_index,
                    textops.incremental_simhash_near_dups,
                    "tbl", "tkey", "simhash:bigint"),
        "minhash": (textops.build_minhash_index,
                    textops.incremental_near_dup_pairs,
                    "band_id", "band_hash", "signature:array<bigint>"),
    }[method]
    corpus = spark.createDataFrame(
        [(i, f"w{i} " * 30) for i in range(20)], "doc_id long, text string"
    )
    idx = str(tmp_path / "idx")
    build(corpus, idx)
    new = spark.createDataFrame(
        [(100, "w1 " * 30)], "doc_id long, text string"
    )
    plan = _plan(probe(new, idx))
    assert "Cartesian" not in plan
    # identify the two index scans by ReadSchema (the plan's Location
    # string truncates long paths): the key-table scan reads exactly
    # (doc_id, key) with the part column as a partition filter; the sigs
    # scan reads (doc_id, signature). Exactly one of each — no redundant
    # re-read.
    scans = plan.split("Scan parquet")[1:]
    key_scans = [
        s for s in scans
        if f"ReadSchema: struct<doc_id:bigint,{key}:bigint>" in s
    ]
    assert len(key_scans) == 1
    assert f"PartitionFilters: [isnotnull({part}" in key_scans[0]
    sigs_scans = [
        s for s in scans
        if f"ReadSchema: struct<doc_id:bigint,{sig_type}>" in s
    ]
    assert len(sigs_scans) == 1
    assert len(scans) == 2  # and nothing else scans the index


def test_gopher_repetition_single_python_stage_no_shuffle(spark):
    """gopherrep: all 13 signals in one narrow mapInArrow pass — the plan
    must contain exactly one Python stage and ZERO exchanges (a gram
    explode/shuffle formulation would move O(6x tokens) rows per doc)."""
    from slowspark.gopherrep import gopher_repetition_flags

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(gopher_repetition_flags(docs))
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1


def test_qualityclf_scoring_broadcast_join_single_exchange(spark):
    """score_documents: the coefficient table must broadcast (never
    shuffle the corpus-sized feature table for the join) and the per-doc
    margin agg must be partial+final with ONE exchange."""
    from slowspark.qualityclf import score_documents

    feats = spark.createDataFrame(
        [(1, 5, 0.5), (1, 9, 0.5)], "id long, bucket int, tf double"
    )
    coeffs = spark.createDataFrame([(5, 1.0)], "bucket int, weight double")
    plan = _plan(score_documents(feats, coeffs, 0.0))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan


def test_qualityclf_features_pushdown_and_two_narrow_shuffles(spark):
    """hashed_text_features: explode + groupBy(id,bucket) + window norm —
    the exploded gram stream partial-aggregates map-side (the shuffle
    carries distinct (id,bucket) rows, not raw grams), then one window
    re-partition by id; no more than 2 exchanges, no Python stage."""
    from slowspark.qualityclf import hashed_text_features

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(hashed_text_features(docs))
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert not any(n in plan for n in _PYTHON_NODES)


def test_bloom_probe_broadcasts_blocks(spark):
    """bloom_probe: the block table must broadcast — the batch is never
    shuffled for the membership join; the fold-back agg is partial+final
    with one exchange."""
    from slowspark.bloomdedup import bloom_probe, build_bloom

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "doc_id long, v string"
    )
    blocks = build_bloom(df, "v", "doc_id", 1024, 4)
    plan = _plan(bloom_probe(df, blocks, "v", "doc_id", 1024, 4))
    assert "BroadcastHashJoin" in plan
    # one exchange for the per-id agg; blocks build has its own agg
    # exchange feeding the broadcast — none on the probe side stream
    assert "partial_min" in plan


def test_bpe_pair_counts_stay_jvm_side(spark):
    """The BPE round primitive (pair counts) is pure built-ins — no
    Python stage — and partial-aggregates before its one exchange."""
    from slowspark import bpe as bpemod

    words = spark.createDataFrame(
        [("\x1fa\x1f\x1fb\x1f", 3)], "s string, count long"
    ).withColumnRenamed("count", "cnt")
    plan = _plan(bpemod._pair_counts(words.withColumnRenamed("cnt", "count")))
    assert not any(n in plan for n in _PYTHON_NODES)
    assert "partial_sum" in plan


def test_substring_dedup_chars_exchange_carries_hashes_not_grams(spark):
    """exact_substring_dedup_chars' scale contract: the per-position
    L-char gram STRING never crosses an exchange (16 bytes of xxhash64
    fingerprint per position do, not L bytes of text — the 50x shuffle
    blowup the design avoids), the window count+min aggregate is
    map-side combined, and the whole pipeline is Python-free."""
    from slowspark.textops import exact_substring_dedup_chars

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(exact_substring_dedup_chars(docs, min_len=40))
    assert not any(n in plan for n in _PYTHON_NODES)
    assert "partial_min" in plan and "partial_count" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert " AS g#" not in line and "substring(" not in line


def test_sequence_spans_no_shuffle_after_pack(spark):
    """sequence_spans is a narrow map over the packed table: zero
    exchanges of its own (only pack_sequences' two-phase machinery may
    shuffle upstream of the provided input)."""
    from slowspark.corpus import sequence_spans

    packed = spark.createDataFrame(
        [(1, 10, 0, 0), (2, 30, 0, 10)],
        "doc_id long, n_tokens long, seq_id long, seq_offset long",
    )
    plan = _plan(sequence_spans(packed, 16))
    assert "Exchange" not in plan
    assert not any(n in plan for n in _PYTHON_NODES)


def test_cms_build_partial_aggregates(spark):
    """build_cms: the cell-grid shuffle must be map-side combined so it
    carries at most depth*width cell rows per partition."""
    from slowspark.sketch import build_cms

    df = spark.createDataFrame([("a",), ("b",)], "term string")
    plan = _plan(build_cms(df, "term", 4, 64))
    assert "partial_sum" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bpe_segment_udf_python_runs_over_distinct_words(spark):
    """The production segmenter's scale contract: the Python stage
    (mapInArrow) must sit downstream of the DISTINCT-word aggregate —
    O(distinct words) Python work — never over the exploded occurrence
    table (O(word occurrences), 4+ orders of magnitude more rows at web
    scale); the occurrence side rejoins the segmented words by key."""
    from slowspark.bpe import bpe_learn, bpe_segment_udf

    df = spark.createDataFrame(
        [(i, "low lower lowest newest " * 4) for i in range(4)],
        "doc_id long, text string",
    )
    merges = bpe_learn(df, n_merges=4)
    plan = _plan(bpe_segment_udf(df, merges))
    # exactly one Python stage
    assert plan.count("MapInArrow") == 1
    # the Python stage's subtree contains the distinct aggregate
    # (HashAggregate on word), i.e. Python consumes the deduped words
    python_subtree = plan.split("MapInArrow")[1]
    assert "HashAggregate" in python_subtree
    # and the occurrences come back via a key join, not a re-parse
    assert "Join" in plan


def test_bpe_byte_level_python_stays_distinct_bounded(spark):
    """Byte-level mode keeps BOTH of the word path's scale contracts:
    the trainer's corpus-wide pass (pre-tokenize + explode + count) is
    pure JVM regex — its Python stage (the byte map) consumes the
    ALREADY-AGGREGATED distinct table; and the UDF segmenter's single
    Python stage still sits over the distinct pre-tokens, occurrences
    rejoining by key."""
    from slowspark.bpe import bpe_learn, bpe_segment_udf, pretoken_frequencies

    df = spark.createDataFrame(
        [(i, "low lower Lowest  newest don't " * 4) for i in range(4)],
        "doc_id long, text string",
    )
    tplan = _plan(pretoken_frequencies(df))
    assert tplan.count("MapInArrow") == 1
    # byte map AFTER the count aggregate: its subtree holds the groupBy
    assert "HashAggregate" in tplan.split("MapInArrow")[1]
    merges = bpe_learn(df, n_merges=4, byte_level=True)
    plan = _plan(bpe_segment_udf(df, merges, byte_level=True))
    assert plan.count("MapInArrow") == 1
    assert "HashAggregate" in plan.split("MapInArrow")[1]
    assert "Join" in plan


def test_unimax_sample_selection_scan_is_narrow(spark):
    """After the (eager, strata-bounded) count aggregate, the UniMax
    selection itself must be a narrow scan: literal thresholds, no
    Exchange, no join — the hash_sample discipline carried over to the
    repeat path."""
    from slowspark.corpus import unimax_sample

    df = spark.createDataFrame(
        [(i, "tok " * 10, "en" if i % 2 else "de") for i in range(30)],
        "doc_id long, text string, lang string",
    )
    out = unimax_sample(df, total_budget=100, max_epochs=2.0)
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_temperature_mixture_selection_scan_is_narrow(spark):
    """temperature_mixture_props + mixture_sample: rates become literal
    CASE thresholds — the selection plan is one narrow filtered scan."""
    from slowspark.corpus import mixture_sample, temperature_mixture_props

    df = spark.createDataFrame(
        [(i, "tok " * 10, "en" if i % 2 else "de") for i in range(30)],
        "doc_id long, text string, lang string",
    )
    props = temperature_mixture_props(df, 2.0)
    plan = _plan(mixture_sample(df, props))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pagerank_iteration_reuses_edge_partitioning(spark):
    """The scale property the iterative graph family depends on: the
    persisted edges⋈outdeg table was shuffled on src ONCE at build; a
    per-iteration contribution join must re-shuffle only the (tiny)
    rank table against the cache's preserved hash partitioning — an
    Exchange on the edge side every round would re-shuffle 10^12 edges
    per iteration. Plan contract: cache scan present, and at most two
    Exchanges in the whole iteration step (ranks side + groupBy(dst));
    a third would be the edge re-shuffle."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        edges = spark.createDataFrame(
            [(i, (i * 7 + 1) % 40) for i in range(40) if i % 10 != 0],
            "src long, dst long",
        )
        out_deg = edges.groupBy("src").agg(F.count("*").alias("__od"))
        edges_w = edges.join(out_deg, "src").persist()
        edges_w.count()
        ranks = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
            .withColumn("rank", F.lit(0.025))
        )
        step = (
            edges_w.join(ranks, edges_w["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("__od")).alias("c"))
        )
        plan = step._jdf.queryExecution().executedPlan().toString()
        # the cached relation PRINTS its stored build plan (exchanges
        # included) under InMemoryRelation — the live region above the
        # cache is what executes per iteration
        live = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in live  # the cache is actually used
        # exactly the groupBy(dst) exchange; an Exchange on src here
        # would be the 10^12-edge re-shuffle
        assert live.count("Exchange") == 1, plan
        assert "Exchange hashpartitioning(src" not in live, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        edges_w.unpersist()


def test_hits_iteration_reuses_repartitioned_edge_caches(spark):
    """hits caches the edge list twice, hash-partitioned per join key —
    the per-iteration join must reuse that partitioning (exchange only
    the score side + the per-direction groupBy), never re-shuffle the
    edge table."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    e = spark.createDataFrame(
        [(i, (i * 7 + 1) % 40) for i in range(40) if i % 10 != 0],
        "src long, dst long",
    ).select(F.col("src").alias("__s"), F.col("dst").alias("__d"))
    es = e.repartition("__s").persist()
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        es.count()
        scores = es.select(F.col("__s").alias("node")).distinct() \
            .withColumn("hub", F.lit(1.0))
        step = (
            es.join(scores.select(F.col("node").alias("__s"), "hub"), "__s")
            .groupBy("__d")
            .agg(F.sum("hub").alias("a"))
        )
        plan = step._jdf.queryExecution().executedPlan().toString()
        live = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in live
        # the one live exchange above the cache is the groupBy(__d);
        # an Exchange on __s would be the per-round edge re-shuffle
        assert "Exchange hashpartitioning(__s" not in live, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        es.unpersist()


def test_priority_block_leaves_rotation_slots():
    """The driver verifies only the first 50 queries() entries per round.
    r8 shipped a 51-entry priority block: the 51st entry never reached the
    driver AND the stable-tail rotation advanced zero slots (VERDICT r8
    "What's wrong" #1). Cap the block so >= 20 rotation slots always
    survive, and pin that the priority entries actually lead the dict."""
    import __spark_entry__ as contract

    n_prio = len(contract._PRIORITY_QUERIES)
    assert n_prio + 20 <= 50, (
        f"_PRIORITY_QUERIES has {n_prio} entries; the driver window is 50 "
        "and >= 20 rotation slots must survive"
    )
    assert len(contract._PRIORITY_QUERIES) == len(set(contract._PRIORITY_QUERIES))
    names = list(contract.queries())
    assert names[:n_prio] == contract._PRIORITY_QUERIES


def test_coverage_index_names_every_query():
    """COVERAGE.md's operator->oracle index rotted to 125 entries while the
    registry grew to 132 (VERDICT r8 "What's missing" #2). Guard the doc:
    every queries() name must appear backticked somewhere in COVERAGE.md,
    so a new query cannot land without an index entry."""
    import re

    import __spark_entry__ as contract

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(here, "COVERAGE.md")).read()
    documented = set(re.findall(r"`([A-Za-z0-9_.]+)`", text))
    missing = sorted(set(contract.queries()) - documented)
    assert not missing, f"queries absent from COVERAGE.md: {missing}"


def test_spread_widens_only_narrow_inputs_without_a_job(spark, tmp_path):
    """util.spread: a one-file parquet comes back with defaultParallelism
    partitions, and an input already that wide comes back unchanged. The
    partition count must come from the plan: neither call may run a Spark
    job (checked through the status tracker's job group)."""
    from slowspark.util import spread

    sc = spark.sparkContext
    target = sc.defaultParallelism
    path = str(tmp_path / "one_file.parquet")
    spark.range(200).coalesce(1).write.parquet(path)
    narrow = spark.read.parquet(path)
    wide = spark.range(0, 200, 1, numPartitions=target + 1)
    group = "test_spread_no_job"
    sc.setJobGroup(group, "util.spread")
    try:
        spread_narrow = spread(narrow)
        spread_wide = spread(wide)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert spread_wide is wide
    assert spread_narrow.rdd.getNumPartitions() == target
    assert sorted(r.id for r in spread_narrow.collect()) == list(range(200))


def _job_ids(spark, group, fn):
    """(fn(), ids of the Spark jobs fn ran), through the status tracker's
    job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _stage_source(spark, tmp_path):
    """60 rows; k is "" on a third of them (a Hive partition directory
    reads "" back as null) and a non-numeric string on the rest."""
    path = str(tmp_path / "stage_src")
    spark.range(60).select(
        "id",
        F.when(F.col("id") % 3 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 3).cast("string")))
        .alias("k"),
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_checkpoint_stage_jobs(spark, tmp_path):
    """A fresh run_stage over a parquet scan with no shuffle runs one job,
    the write: the manifest's row count and content hash come from the
    write, and the read-back uses the manifest's schema instead of a
    schema-inference job. A resumed run_stage runs no job, and neither does
    a whole resumed run_pipeline."""
    from slowspark.catalog import Catalog
    from slowspark.checkpoint import run_stage
    from slowspark.gen import gen_pages
    from slowspark.job import run_pipeline

    src = _stage_source(spark, tmp_path)
    cat = Catalog(str(tmp_path / "wh"))

    def stage():
        return run_stage(
            spark, cat, "t", "sig", lambda: src.filter(F.col("id") % 2 == 0)
        )

    fresh, jobs = _job_ids(spark, "checkpoint_fresh", stage)
    assert len(jobs) == 1
    resumed, jobs = _job_ids(spark, "checkpoint_resumed", stage)
    assert jobs == []
    assert sorted(resumed.collect()) == sorted(fresh.collect())

    pages = gen_pages(spark, 40, partitions=2)
    wh = str(tmp_path / "pipeline")
    run_pipeline(spark, pages, wh, "sig")
    _, jobs = _job_ids(
        spark, "pipeline_resumed", lambda: run_pipeline(spark, pages, wh, "sig")
    )
    assert jobs == []


def test_checkpoint_resumes_manifest_without_schema(spark, tmp_path):
    """A manifest written before manifests carried the schema still
    resumes, through an inferred read: no rebuild (the table's files keep
    their mtime) and the same rows. The partitioned table's manifest hash
    is that of the table as read back, "" partition values read as null."""
    from slowspark.catalog import Catalog
    from slowspark.checkpoint import (
        content_hash,
        load_manifest,
        run_stage,
        save_manifest,
    )

    src = _stage_source(spark, tmp_path)
    cat = Catalog(str(tmp_path / "wh"))
    fresh = run_stage(spark, cat, "t", "sig", lambda: src, partition_by=["k"])
    m = load_manifest(cat, "t", spark)
    assert fresh.filter(F.col("k").isNull()).count() == 20
    assert m["content_hash"] == content_hash(fresh)
    del m["schema"]
    save_manifest(cat, "t", m, spark)
    marker = os.path.join(cat.path("t"), "_SUCCESS")
    mtime = os.stat(marker).st_mtime_ns

    resumed = run_stage(
        spark, cat, "t", "sig", lambda: pytest.fail("stage rebuilt"),
        partition_by=["k"],
    )
    assert os.stat(marker).st_mtime_ns == mtime
    assert resumed.columns == fresh.columns == ["id", "k"]
    assert sorted(resumed.collect(), key=lambda r: r.id) == sorted(
        fresh.collect(), key=lambda r: r.id
    )


def test_no_literal_partition_counts():
    """A literal `.repartition(32)` caps a 100 TB scan at 32 partitions
    and over-splits a small one; the one partition rule is util.spread.
    No `.repartition(<int literal>)` may appear in the library or the
    driver contract."""
    import ast
    import glob

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(here, "slowspark", "*.py")))
    files.append(os.path.join(here, "__spark_entry__.py"))
    hits = []
    for path in files:
        tree = ast.parse(open(path).read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and isinstance(node.args[0].value, int)
            ):
                hits.append(f"{os.path.relpath(path, here)}:{node.lineno}")
    assert not hits, f"literal repartition counts: {hits}"


def test_no_direct_create_dataframe():
    """A DataFrame built from driver rows with createDataFrame(list) plans
    as a Python-RDD scan, so every action over it forks a Python worker;
    the one driver-frame rule is util.local_frame. No `createDataFrame(`
    call may appear in the library or the driver contract outside it."""
    import ast
    import glob

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(here, "slowspark", "*.py")))
    files.append(os.path.join(here, "__spark_entry__.py"))
    hits = []
    for path in files:
        tree = ast.parse(open(path).read(), path)
        allowed = set()
        if os.path.relpath(path, here) == os.path.join("slowspark", "util.py"):
            allowed = {
                n
                for fn in tree.body
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
                for n in ast.walk(fn)
            }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and node not in allowed
            ):
                hits.append(f"{os.path.relpath(path, here)}:{node.lineno}")
    assert not hits, f"createDataFrame outside util.local_frame: {hits}"


# The pandas UDF sites that stay, by "module.def", each with its reason.
# Every other Python stage is mapInArrow/applyInArrow (or arrow_udf) and
# builds its output with util.arrow_batch.
_PANDAS_KEEP = {
    "similarity.with_lsh_bucket":
        "numpy hyperplane matmul over a stacked vector Series",
    "similarity._assign_with":
        "numpy argmax-cosine matmul over a stacked vector Series",
    "similarity._with_residual":
        "numpy vector-minus-centroid over stacked vector Series",
    "similarity._lloyd": "numpy Lloyd partial sums per Arrow batch",
    "similarity.pq_encode": "numpy nearest-codeword encode per Arrow batch",
    "similarity.ivfpq_topk_batch":
        "numpy batch-query gemv and ADC lookup-table stages",
    "streaming.sessionize_stream":
        "applyInPandasWithState has no Arrow twin",
}
_PANDAS_APIS = {
    "mapInPandas", "applyInPandas", "applyInPandasWithState", "pandas_udf",
}


def test_no_pandas_udf_outside_the_keep_list():
    """Every mapInPandas, applyInPandas(WithState) or pandas_udf in the
    library or the driver contract sits in a def on _PANDAS_KEEP, and
    every _PANDAS_KEEP entry still has one; a module with no kept site
    does not import pandas."""
    import ast
    import glob

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(here, "slowspark", "*.py")))
    files.append(os.path.join(here, "__spark_entry__.py"))
    hits, seen, pandas_imports = [], set(), []
    for path in files:
        mod = os.path.basename(path)[: -len(".py")]
        tree = ast.parse(open(path).read(), path)
        for top in tree.body:
            for node in ast.walk(top):
                name = (
                    node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name) else None
                )
                if name in _PANDAS_APIS:
                    key = f"{mod}.{getattr(top, 'name', '<module>')}"
                    if key in _PANDAS_KEEP:
                        seen.add(key)
                    else:
                        hits.append(f"{key} ({name}, line {node.lineno})")
                if (
                    isinstance(node, ast.Import)
                    and any(a.name == "pandas" for a in node.names)
                ) or (
                    isinstance(node, ast.ImportFrom) and node.module == "pandas"
                ):
                    pandas_imports.append(f"{mod}:{node.lineno}")
    kept_mods = {k.split(".")[0] for k in _PANDAS_KEEP}
    assert not hits, f"pandas UDFs outside _PANDAS_KEEP: {hits}"
    assert seen == set(_PANDAS_KEEP), (
        f"stale _PANDAS_KEEP entries: {sorted(set(_PANDAS_KEEP) - seen)}"
    )
    stray = [m for m in pandas_imports if m.split(":")[0] not in kept_mods]
    assert not stray, f"pandas imported outside the kept modules: {stray}"


# Unreached library defs that stay, each with the reason it stays.
_REACH_KEEP = {
    "aggregate.sql_type_census": "the reference's examples/iterator.rs fold",
    "bpe.decode_token": "tests decode byte-level tokens with it",
    "bpe.unicode_to_bytes": "decode_token's byte table",
    "gen.expected_kind_counts": "the analytic census tests compare against",
    "grammar.canonical_sql": "tests build expected fingerprints with it",
    "grammar.mask_fingerprint": "tests build expected fingerprints with it",
    "parse.split_errors": "tests split parse errors from entries with it",
    "qualityclf.classifier_accuracy": "tests score the trained classifier",
    "similarity.ivf_topk": "the exact reference for ivfpq_topk's tests",
    "similarity.sq_query_code": "tests build expected SQ8 codes with it",
    "skew.salted_repartition": "BASELINE north_star names it",
    "sources.read_slow_logs": "the reference's raw slow-log file input",
    "textops.simhash_bucket_histogram": "capped_by_bucket's warning names it",
}


def test_every_library_function_is_reached():
    """Every def in slowspark/ is reached by name from a root, or is on
    _REACH_KEEP with a reason. Roots: the driver contract, the bench
    scripts, perfbench/ and scripts/, module-level code in slowspark/ (the
    job and curate mains), and the streaming mode's entry points. A def is
    reached when a reached body names it: a Name, an attribute, an import,
    or a whole string (queries() names its operators by string). Methods
    count as Class.method; dunder methods belong to their class. A new
    public def needs a root that calls it or a keep-list reason."""
    import ast
    import glob

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    streaming = {
        "start_curate_ingest", "read_page_stream", "parse_stream",
        "start_fanout_sink", "windowed_kind_counts", "dedup_stream",
        "sessionize_stream", "windowed_hll_registers",
    }

    def names(nodes):
        out = set()
        for node in nodes:
            for n in ast.walk(node):
                if isinstance(n, ast.Name):
                    out.add(n.id)
                elif isinstance(n, ast.Attribute):
                    out.add(n.attr)
                elif isinstance(n, ast.alias):
                    out.add(n.name.split(".")[-1])
                elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                    out.add(n.value)
        return out

    fn_types = (ast.FunctionDef, ast.AsyncFunctionDef)
    defs = {}  # qualified name -> (bare name, names its body references)
    roots = set(streaming)
    for path in sorted(glob.glob(os.path.join(here, "slowspark", "*.py"))):
        mod = os.path.basename(path)[:-3]
        for st in ast.parse(open(path).read(), path).body:
            if isinstance(st, fn_types):
                defs[f"{mod}.{st.name}"] = (st.name, names([st]) - {st.name})
                roots |= names(st.decorator_list)
            elif isinstance(st, ast.ClassDef):
                body = []
                for b in st.body:
                    if isinstance(b, fn_types) and not b.name.startswith("__"):
                        defs[f"{mod}.{st.name}.{b.name}"] = (
                            b.name, names([b]) - {b.name}
                        )
                    else:
                        body.append(b)
                defs[f"{mod}.{st.name}"] = (st.name, names(body))
            else:
                roots |= names([st])
    entry_files = [
        os.path.join(here, f)
        for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")
    ]
    entry_files += glob.glob(os.path.join(here, "perfbench", "*.py"))
    entry_files += glob.glob(os.path.join(here, "scripts", "*.py"))
    for path in entry_files:
        roots |= names([ast.parse(open(path).read(), path)])

    by_name = {}
    for q, (bare, _) in defs.items():
        by_name.setdefault(bare, []).append(q)
    reached, frontier = set(), set(roots)
    while frontier:
        for q in by_name.get(frontier.pop(), ()):
            if q not in reached:
                reached.add(q)
                frontier |= defs[q][1]
    unreached = sorted(set(defs) - reached - set(_REACH_KEEP))
    assert not unreached, f"defs no root reaches: {unreached}"
    stale = sorted(q for q in _REACH_KEEP if q not in defs or q in reached)
    assert not stale, f"keep-list entries gone or now reached: {stale}"


def test_local_frame_matches_list_frame_as_local_relation(spark):
    """util.local_frame keeps the rows createDataFrame(list) gives — nulls
    in long/int/double/string columns stay null (not NaN), arrays and
    collected Rows pass through, a DDL string schema works, zero rows give
    an empty typed frame — and plans as a LocalRelation, never a
    Python-RDD LogicalRDD."""
    from pyspark.sql import Row
    from pyspark.sql.types import StructType

    from slowspark.util import local_frame

    ddl = "a long, b int, c double, d string, e array<double>"
    rows = [
        (1, 2, 1.5, "x", [1.0, None]),
        (None, None, None, None, None),
        (-(2**62), 0, float("nan"), "", []),
    ]
    collected = [Row(lang="en", est=2.5), Row(lang=None, est=None)]
    cases = [
        (rows, ddl),
        (rows, StructType.fromDDL(ddl)),
        ([], ddl),
        (collected, "lang string, est double"),
    ]
    for data, schema in cases:
        got = local_frame(spark, data, schema)
        want = spark.createDataFrame(data, schema)
        assert got.schema == want.schema
        assert repr(got.collect()) == repr(want.collect())
        opt = _optimized(got)
        assert opt.startswith("LocalRelation") and "LogicalRDD" not in opt

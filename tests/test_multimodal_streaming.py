"""The Structured Streaming mode."""

from pyspark.sql import functions as F

from slowspark.gen import expected_kind_counts, gen_pages
from slowspark.streaming import (
    parse_stream,
    read_page_stream,
    start_fanout_sink,
    windowed_kind_counts,
)


def test_streaming_pipeline(spark, tmp_path):
    """File-source stream -> parse -> foreachBatch fan-out; counts equal the
    batch pipeline's analytic goldens."""
    n_pages = 40
    src = str(tmp_path / "pages")
    gen_pages(spark, n_pages, partitions=2).write.parquet(src)

    stream = read_page_stream(spark, src, max_files=2)
    entries = parse_stream(stream)
    out = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")
    q = start_fanout_sink(entries, out, ckpt)
    q.awaitTermination(120)

    got = {}
    for sink, kind in {
        "sql_statements": "SqlStatement",
        "admin_commands": "AdminCommand",
        "invalid_statements": "InvalidStatement",
    }.items():
        try:
            got[kind] = spark.read.parquet(f"{out}/{sink}").count()
        except Exception:
            got[kind] = 0
    assert got == expected_kind_counts(n_pages)


def test_streaming_windowed_counts(spark, tmp_path):
    n_pages = 20
    src = str(tmp_path / "pages2")
    gen_pages(spark, n_pages, partitions=1).write.parquet(src)
    stream = read_page_stream(spark, src)
    win = windowed_kind_counts(parse_stream(stream), window="1 hour")
    q = (
        win.writeStream.outputMode("complete")
        .format("memory").queryName("win_counts")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    total = spark.sql("SELECT sum(n) AS s FROM win_counts").first()["s"]
    assert total == sum(expected_kind_counts(n_pages).values())


def test_streaming_fanout_replay_is_idempotent(spark, tmp_path):
    """Exactly-once evidence: replaying the WHOLE stream into the same sink
    directory (fresh checkpoint = every epoch replays, the worst case) must
    not change per-sink counts — epoch-keyed overwrites make replays rewrite
    the same directories; the pre-fix blind append would double them."""
    n_pages = 20
    src = str(tmp_path / "pages_rep")
    gen_pages(spark, n_pages, partitions=1).write.parquet(src)
    out = str(tmp_path / "sinks_rep")

    def run(ckpt):
        q = start_fanout_sink(
            parse_stream(read_page_stream(spark, src, max_files=2)), out, ckpt
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt_a"))
    first = {
        s: spark.read.parquet(f"{out}/{s}").count()
        for s in ("sql_statements", "admin_commands", "invalid_statements")
    }
    want = expected_kind_counts(n_pages)
    assert first == {
        "sql_statements": want["SqlStatement"],
        "admin_commands": want["AdminCommand"],
        "invalid_statements": want["InvalidStatement"],
    }
    run(str(tmp_path / "ckpt_b"))  # full replay
    second = {
        s: spark.read.parquet(f"{out}/{s}").count()
        for s in ("sql_statements", "admin_commands", "invalid_statements")
    }
    assert second == first


def test_dedup_stream_drops_cross_batch_replays(spark, tmp_path):
    """Streaming exact dedup: the same pages delivered again in a LATER
    micro-batch (crawler redelivery) must reach the sink once."""
    import time

    from slowspark.streaming import dedup_stream

    src = str(tmp_path / "pages_dd")
    pages = gen_pages(spark, 10, partitions=1)
    pages.coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.05)
    pages.coalesce(1).write.mode("append").parquet(src)  # full replay

    stream = dedup_stream(
        read_page_stream(spark, src, max_files=1),
        keys=("url",), ts_col="warc_ts",
    )
    q = (
        stream.writeStream.format("memory").queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "dd_ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select url from dd_out").collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == 10
    assert len(set(urls)) == 10


def test_sessionize_stream_matches_batch_analog(spark, tmp_path):
    """applyInPandasWithState sessionization under the FINALITY contract:
    every emitted session must exactly equal a batch session_windows
    session, a session may only be emitted once the watermark passed its
    end + gap, and every session comfortably finalized by the last data
    batch's watermark MUST have been emitted (the only missing ones are
    the un-finalizable tail — their end + gap exceeds the final
    watermark, so the stream ends before they can flush)."""
    from slowspark.aggregate import session_windows
    from slowspark.parse import parse_pages
    from slowspark.streaming import sessionize_stream

    import time
    from datetime import timedelta

    from slowspark.gen import BASE_TS

    n_pages = 40
    src = str(tmp_path / "pages_sess")
    # FileStreamSource forms batches oldest-mtime-first: write the pages in
    # four event-time-ordered chunks so micro-batch order follows event time
    # (a single bulk write gives all files one mtime and the batch order —
    # hence which rows are late vs the watermark — becomes nondeterministic)
    all_pages = gen_pages(spark, n_pages, partitions=2)
    for i in range(4):
        lo = (BASE_TS + timedelta(seconds=i * 10)).replace(tzinfo=None)
        hi = (BASE_TS + timedelta(seconds=(i + 1) * 10)).replace(tzinfo=None)
        (
            all_pages.filter((F.col("warc_ts") >= lo) & (F.col("warc_ts") < hi))
            .coalesce(1).write.mode("append").parquet(src)
        )
        time.sleep(0.05)
    stream = parse_stream(read_page_stream(spark, src, max_files=1))
    sess = sessionize_stream(stream, ("user",), "warc_ts", gap_minutes=1 / 60.0)
    q = (
        sess.writeStream.format("memory").queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    key = lambda r: (r["user"], r["session_start"], r["session_end"], r["n_events"])
    got = {key(r) for r in spark.sql(
        "select user, session_start, session_end, n_events from sess_out"
    ).collect()}
    batch = session_windows(
        parse_pages(spark.read.parquet(src)), ["user"], "warc_ts", 1 / 60.0
    )
    want = {key(r) for r in batch.collect()}
    assert got <= want

    # watermark bookkeeping: delay is sessionize_stream's default 1s, gap
    # is 1s. The watermark available during the LAST data batch derives
    # from the first three chunks' max event time; whether a trailing
    # no-data batch advances it to the global max is a Spark scheduling
    # detail, so assert against both bounds:
    gap = timedelta(seconds=1)
    delay = timedelta(seconds=1)
    slack = timedelta(milliseconds=2)
    pages = spark.read.parquet(src)
    chunk3_hi = (BASE_TS + timedelta(seconds=30)).replace(tzinfo=None)
    wm_lo = (
        pages.filter(F.col("warc_ts") < chunk3_hi).agg(F.max("warc_ts")).first()[0]
        - delay
    )
    wm_hi = pages.agg(F.max("warc_ts")).first()[0] - delay
    # completeness: everything comfortably finalized by wm_lo was emitted
    assert {x for x in want if x[2] + gap + slack <= wm_lo} <= got
    # finality: nothing was emitted before the max possible watermark
    # passed its end + gap
    assert all(e + gap <= wm_hi + slack for _, s, e, n in got)


def test_sessionize_stream_random_differential(spark, tmp_path):
    """Seeded-random differential in the adversarial regime ADVICE flagged
    (watermark delay >> gap, heavy in-batch disorder): the emitted set must
    equal the BATCH sessionization of the same rows restricted to sessions
    the watermark finalized — no splits, no overlaps, no early emissions."""
    import random
    import time
    from datetime import datetime, timedelta

    from slowspark.aggregate import session_windows
    from slowspark.streaming import sessionize_stream

    rng = random.Random(99)
    base = datetime(2022, 3, 1)
    gap_s, wm_s = 5.0, 20.0
    chunks = []
    for k in range(4):
        rows = []
        for _ in range(40):
            u = f"u{rng.randint(0, 2)}"
            # chunk k spans [60k, 60k+60): inter-chunk event time advances,
            # in-chunk order is fully shuffled (watermark only moves
            # between micro-batches, so disorder inside a chunk is always
            # within-watermark)
            s = 60 * k + rng.random() * 60
            rows.append((u, base + timedelta(seconds=s), rng.random()))
        rng.shuffle(rows)
        chunks.append(rows)

    src = str(tmp_path / "rand_sess")
    for rows in chunks:
        spark.createDataFrame(
            rows, "user string, warc_ts timestamp, query_time double"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)

    stream = (
        spark.readStream.schema("user string, warc_ts timestamp, query_time double")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    sess = sessionize_stream(stream, ("user",), "warc_ts",
                             gap_minutes=gap_s / 60.0, watermark=f"{int(wm_s)} seconds")
    q = (
        sess.writeStream.format("memory").queryName("rand_sess_out")
        .option("checkpointLocation", str(tmp_path / "rand_sess_ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    key = lambda r: (r["user"], r["session_start"], r["session_end"],
                     r["n_events"], round(r["sum_query_time"], 6))
    got = {key(r) for r in spark.sql(
        "select user, session_start, session_end, n_events, sum_query_time "
        "from rand_sess_out").collect()}

    all_rows = [r for c in chunks for r in c]
    batch = session_windows(
        spark.createDataFrame(
            all_rows, "user string, warc_ts timestamp, query_time double"
        ),
        ["user"], "warc_ts", gap_s / 60.0, agg_col="query_time",
    ).select("user", "session_start", "session_end", "n_events",
             F.col("sum_query_time"))
    want = {key(r) for r in batch.collect()}

    assert got <= want  # every emitted session is a true batch session
    gap = timedelta(seconds=gap_s)
    slack = timedelta(milliseconds=2)
    wm_lo = max(r[1] for r in chunks[2]) - timedelta(seconds=wm_s)  # last data batch's wm
    wm_hi = max(r[1] for c in chunks for r in c) - timedelta(seconds=wm_s)
    # completeness at the guaranteed watermark; finality at the max one
    assert {x for x in want if x[2] + gap + slack <= wm_lo} <= got
    assert all(e + gap <= wm_hi + slack for _, s, e, n, q_ in got)


def test_sessionize_stream_out_of_order_within_watermark(spark, tmp_path):
    """Late-but-within-watermark rows must extend a buffered session
    BACKWARD (session_start moves earlier) and strictly-earlier rows must
    form their own session — and NOTHING may be emitted until the watermark
    passes its end + gap (the finality contract: a watermark delay larger
    than the gap must not produce split/overlapping sessions)."""
    from datetime import datetime, timedelta

    from slowspark.streaming import sessionize_stream

    base = datetime(2021, 6, 1)

    def chunk(rows):
        import time

        spark.createDataFrame(
            [("u", base + timedelta(seconds=s), 0.0) for s in rows],
            "user string, warc_ts timestamp, query_time double",
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "ooo"))
        time.sleep(0.05)

    chunk([0, 9])
    # 8.5 is older than the buffered [9,9] session's start but within gap
    # (backward extension); 3 is strictly earlier (its own session); 20
    # gap-closes the extended session. Watermark delay (30s) >> gap (1s):
    # the OLD eager emission would have emitted [9,9] before 8.5 arrived,
    # yielding split sessions — the finality contract forbids that.
    chunk([8.5, 3, 20])
    # watermark movers: during the [140] batch the watermark is 120-30=90s,
    # finalizing everything through [20,20]; even if a trailing no-data
    # batch advances it to 140-30=110s, [120,120] (end+gap=121s) and
    # [140,140] stay buffered — the expected set is the same either way
    chunk([120])
    chunk([140])
    stream = (
        spark.readStream.schema("user string, warc_ts timestamp, query_time double")
        .option("maxFilesPerTrigger", 1).parquet(str(tmp_path / "ooo"))
    )
    sess = sessionize_stream(stream, ("user",), "warc_ts",
                             gap_minutes=1 / 60.0, watermark="30 seconds")
    q = (
        sess.writeStream.format("memory").queryName("ooo_out")
        .option("checkpointLocation", str(tmp_path / "ooo_ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql(
            "select session_start, session_end, n_events from ooo_out"
        ).collect()
    }
    t = lambda s: base + timedelta(seconds=s)
    assert got == {(t(0), t(0), 1), (t(3), t(3), 1), (t(8.5), t(9), 2),
                   (t(20), t(20), 1)}


def test_streaming_windowed_hll_registers(spark, tmp_path):
    """Streaming HLL: append-mode finality (closed windows emit exactly
    the batch register table; the still-open window emits nothing) and
    the estimate over the sink matches the batch estimate."""
    from datetime import datetime

    from slowspark.sketch import hll_estimate, hll_sketch
    from slowspark.streaming import windowed_hll_registers

    t = lambda h, m: datetime(2024, 1, 1, h, m)
    rows = (
        # hour-0 window: 30 urls, each twice (duplicates must not move
        # registers)
        [(f"http://h{i}.com/a", t(0, i % 60)) for i in range(30)] * 2
        # hour-1 window: 10 urls
        + [(f"http://k{i}.com/b", t(1, i % 60)) for i in range(10)]
    )
    # sentinel far ahead: advances the watermark past hours 0-1 — it
    # must arrive in a LATER file than the data (otherwise the data is
    # correctly dropped as late), so it is a second, later write
    sentinel = [("http://sentinel.com/", t(5, 0))]
    src = str(tmp_path / "hll_src")
    main = spark.createDataFrame(rows, "url string, warc_ts timestamp")
    main.repartition(3).write.parquet(src)
    import time as _time

    _time.sleep(1.1)  # distinct mtime: file-source ordering is by mtime
    spark.createDataFrame(sentinel, main.schema).write.mode(
        "append"
    ).parquet(src)
    df = main.unionByName(
        spark.createDataFrame(sentinel, main.schema)
    )

    stream = (
        spark.readStream.format("parquet").schema(df.schema)
        .option("maxFilesPerTrigger", 1).load(src)
    )
    regs = windowed_hll_registers(
        stream, # the 2h delay covers the cross-file disorder of the main
        # rows (repartitioned arbitrarily): a tighter watermark would
        # (correctly) late-drop hour-0 rows read after an hour-1 file
        window="1 hour", watermark="2 hours", p=8
    )
    q = (
        regs.writeStream.outputMode("append")
        .format("memory").queryName("hll_regs")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM hll_regs")

    batch = hll_sketch(
        df.filter(F.col("warc_ts") < t(2, 0)).withColumn(
            "window_start", F.date_trunc("hour", "warc_ts")
        ),
        "url", 8, group_cols=("window_start",),
    )
    key = lambda r: (str(r["window_start"]), r["reg"], r["rho"])
    assert sorted(map(key, got.collect())) == sorted(
        map(key, batch.collect())
    )
    # the sentinel's open window emitted nothing
    assert got.filter(F.col("window_start") >= t(5, 0)).count() == 0
    # estimates over the sink: close to exact per closed window
    est = {
        str(r["window_start"]): r["hll_est"]
        for r in hll_estimate(got, 8, group_cols=("window_start",)).collect()
    }
    assert abs(est["2024-01-01 00:00:00"] - 30) / 30 < 0.2
    assert abs(est["2024-01-01 01:00:00"] - 10) / 10 < 0.2

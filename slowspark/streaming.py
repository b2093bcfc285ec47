"""Structured Streaming mode: the same parse -> route -> aggregate pipeline
over a file-source stream of pages.

The reference is a streaming decoder (tokio FramedRead,
/root/reference/src/lib.rs:14-36); its framing state machine
(src/codec.rs:284-311) existed because an entry could span read buffers. In
the page model an entry never spans rows, so micro-batch boundaries align
with rows and NO cross-batch parser state is needed — no
flatMapGroupsWithState, just a stateless mapInArrow per micro-batch plus
watermarked windowed aggregation for late pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from slowspark.parse import parse_pages
from slowspark.route import route
from slowspark.schema import PAGES_SCHEMA


def read_page_stream(spark: SparkSession, path: str, max_files: int = 16) -> DataFrame:
    return (
        spark.readStream.format("parquet")
        .schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .load(path)
    )


def parse_stream(pages_stream: DataFrame) -> DataFrame:
    """parse_pages' mapInArrow runs unchanged on a streaming DataFrame
    (checked on a rate-source -> memory-sink stream)."""
    return parse_pages(pages_stream)


def windowed_kind_counts(entries_stream: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window kind census with late-page tolerance."""
    return (
        entries_stream
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "entry_kind")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "entry_kind", "n")
    )


def sessionize_stream(
    entries_stream: DataFrame,
    key_cols: tuple[str, ...] = ("user",),
    ts_col: str = "warc_ts",
    gap_minutes: float = 60,
    watermark: str = "1 second",
) -> DataFrame:
    """Custom STATEFUL streaming operator via applyInPandasWithState:
    cross-batch gap-based session windows per key, the streaming analog of
    slowspark.aggregate.session_windows.

    FINALITY CONTRACT (append mode): a session is emitted only once the
    event-time watermark passes ``session_end + gap`` — i.e. once Spark
    guarantees no surviving row can extend or backward-merge into it.
    Sessions closed by an in-batch gap are NOT emitted immediately (a
    later micro-batch could still deliver a within-watermark row that
    belongs to them when the watermark delay exceeds the gap); they stay
    buffered in state until finalized. This matches Spark's own
    session_window aggregation in append mode and makes the emitted set a
    pure function of the input, independent of micro-batch boundaries.

    State per key = the list of not-yet-final sessions (each 4 scalars:
    start_us, last_us, n, sum_qt), JSON-encoded. Each micro-batch merges
    its rows into that list with interval semantics — a row within `gap`
    of a buffered session extends it (backward or forward), a row bridging
    two sessions merges them, anything else opens a new session — then
    flushes every session the current watermark has finalized and arms an
    event-time timeout at the earliest remaining ``session_end + gap`` so
    finalization happens even if the key sees no more data. Rows beyond
    the watermark are dropped by Spark before they reach the function.

    Scale shape: state is O(unfinalized sessions) per key — bounded by
    ``watermark delay / gap`` sessions, a handful in practice (it cannot
    grow with history: anything older than the watermark flushes) — the
    shuffle is the groupBy key partitioning, and emission is incremental."""
    out_fields = ", ".join(f"{k} string" for k in key_cols)
    out_schema = (
        f"{out_fields}, session_start timestamp, session_end timestamp, "
        f"n_events long, sum_query_time double"
    )
    state_schema = "sessions string"
    gap_us = int(gap_minutes * 60 * 1_000_000)

    def fn(key, pdfs, state):
        import json

        import pandas as pd

        def emit_df(sessions):
            sessions = sorted(sessions)
            return pd.DataFrame({
                **{k: [key[i]] * len(sessions) for i, k in enumerate(key_cols)},
                "session_start": [pd.Timestamp(s[0], unit="us") for s in sessions],
                "session_end": [pd.Timestamp(s[1], unit="us") for s in sessions],
                "n_events": [int(s[2]) for s in sessions],
                "sum_query_time": [float(s[3]) for s in sessions],
            })

        wm_us = state.getCurrentWatermarkMs() * 1000

        def split_final(sessions):
            # STRICT <: Spark still admits rows with event time exactly
            # equal to the watermark, and a row at t == end + gap merges
            # in batch semantics (t - prev <= gap). Finalize only once no
            # admissible row could extend the session.
            final = [s for s in sessions if s[1] + gap_us < wm_us]
            keep = [s for s in sessions if s[1] + gap_us >= wm_us]
            return final, keep

        def park(keep):
            """Store the unfinalized sessions and arm the timeout at the
            earliest possible finalization instant (must be > watermark)."""
            state.update((json.dumps(keep),))
            timeout_ms = min(s[1] + gap_us for s in keep) // 1000
            state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))

        if state.hasTimedOut:
            final, keep = split_final(json.loads(state.get[0]))
            if keep:
                park(keep)
            else:
                state.remove()
            if final:
                yield emit_df(final)
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        # normalize to ns first — Arrow may hand back datetime64[us] or [ns]
        ts_us = (
            pd.to_datetime(rows[ts_col]).astype("datetime64[ns]").astype("int64")
            // 1000
        ).tolist()
        qts = (
            rows["query_time"].fillna(0.0).tolist()
            if "query_time" in rows
            else [0.0] * len(ts_us)
        )
        sessions = json.loads(state.get[0]) if state.exists else []
        # interval merge: buffered sessions are already gap-dense, so the
        # session partition of (buffered points + new points) equals the
        # gap-merge of the sorted intervals — new rows can extend a session
        # backward/forward or bridge two sessions into one
        intervals = sessions + [[t, t, 1, float(q)] for t, q in zip(ts_us, qts)]
        intervals.sort(key=lambda s: (s[0], s[1]))
        merged: list[list] = []
        for iv in intervals:
            if merged and iv[0] - merged[-1][1] <= gap_us:
                m = merged[-1]
                m[1] = max(m[1], iv[1])
                m[2] += iv[2]
                m[3] += iv[3]
            else:
                merged.append(list(iv))
        final, keep = split_final(merged)
        if keep:
            park(keep)
        elif state.exists:
            state.remove()
        if final:
            yield emit_df(final)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        entries_stream.withWatermark(ts_col, watermark)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_stream(
    entries_stream: DataFrame,
    keys: tuple[str, ...] = ("url", "entry_index"),
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, dropping
    replays/duplicates that arrive within the watermark window
    (dropDuplicatesWithinWatermark — state per key expires once the
    watermark passes, so state size is bounded by the window's key
    cardinality, never the stream's history; plain dropDuplicates on a
    stream would grow state forever). The ingest-time companion to the
    batch textops.exact_dedup: upstream crawlers redeliver pages, and the
    sinks should see each (url, entry_index) once per window."""
    return entries_stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def start_fanout_sink(entries_stream: DataFrame, base_path: str, checkpoint: str):
    """foreachBatch multi-sink fan-out: each micro-batch is routed by
    entry_kind into the same per-kind tables the batch pipeline writes.

    Exactly-once per sink: each epoch writes to its OWN directory
    (`<sink>/epoch=<id>`) with mode('overwrite'). foreachBatch alone is
    at-least-once — after a mid-batch failure the streaming checkpoint
    replays the epoch with the SAME epoch_id, and a blind append would
    duplicate rows; the epoch-keyed overwrite makes the replay rewrite the
    identical directory instead (idempotent, since parse output is
    deterministic). Readers see `epoch` as a discovered partition column on
    `spark.read.parquet(base_path/<sink>)`."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            for sink, rows in route(batch_df).items():
                rows.write.mode("overwrite").parquet(
                    f"{base_path}/{sink}/epoch={epoch_id}"
                )
        finally:
            batch_df.unpersist()

    return (
        entries_stream.writeStream
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def curate_ingest_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    accepted_path: str,
    min_words: int = 20,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = None,
    method: str = "minhash",
    max_hamming: int = 3,
    extra_filter=None,
) -> None:
    """One epoch of the continuous-ingest curation flow (the foreachBatch
    body of start_curate_ingest, factored out so tests and backfills can
    drive it directly): quality filter -> in-batch exact dedup ->
    near-dup dedup against the persisted MinHash or SimHash index (corpus
    priority; the index is built from the first epoch if absent) -> write
    accepted docs to an epoch-keyed sink -> append them to the index.

    Replay contract (foreachBatch is at-least-once; the checkpoint replays
    a failed epoch with the SAME epoch_id):
      - the accepted sink is authoritative per epoch: if its _SUCCESS
        marker exists the replay RE-READS accepted rows from it instead of
        recomputing (recomputing after a completed index append would find
        every doc already indexed and overwrite the epoch with an empty
        set — data loss, not idempotency);
      - the index append is gated on `<index>/_epochs/<id>`, written
        atomically AFTER the append, so a completed append is never
        repeated. On a REPLAY (accepted re-read from a completed sink)
        with the marker absent, a prior attempt may already have appended
        or built before crashing — the batch's ids are anti-joined
        against the index's signature ids first, so the append lands each
        doc's sig rows exactly once (no duplicate index rows; the
        anti-join scans one column of the sigs table and only runs on the
        crash-recovery path, never per healthy epoch).
    Path probes and the marker go through the Hadoop FS util
    (slowspark.util.fs_exists / fs_write_text_atomic), so object-store
    index paths (s3a://, hdfs://) behave the same as local dirs.

    `method` selects the near-dup semantics — "minhash" (Jaccard over
    shingles, `jaccard_threshold`) or "simhash" (hamming distance,
    `max_hamming`) — dispatching to the matching public textops names
    (build/incremental/append_*_{minhash,simhash}_*, looked up at call
    time). Both are one index core in textops: one layout
    (INDEX_LAYOUT: the `sigs` table plus the method's key table, whose
    _SUCCESS marks a completed build), one write path
    (sigs-before-keys builds, keys-before-sigs appends), one probe
    (candidate DISTINCT before the sig joins), so the epoch/marker/
    anti-join machinery here is method-agnostic; an
    index built with one method must never be probed with the other —
    the index carries a `_method` stamp (written BEFORE the first build,
    so no crash window leaves a built index unstamped) and a mismatching
    batch raises BEFORE touching anything (without the stamp the other
    method's key-table probe would read the index as absent and silently
    REBUILD over it — data loss, not an error)."""
    from slowspark.corpus import quality_filter_flags
    from slowspark.textops import (
        INDEX_LAYOUT,
        INDEX_SIGS,
        append_to_minhash_index,
        append_to_simhash_index,
        build_minhash_index,
        build_simhash_index,
        exact_dedup,
        incremental_dedup,
        incremental_simhash_dedup,
        minhash_dedup,
        simhash_dedup,
    )
    from slowspark.util import (
        fs_exists,
        fs_read_text,
        fs_write_text_atomic,
        materialize,
    )

    if method == "minhash":
        _build = lambda df: build_minhash_index(df, index_path)
        _append = lambda df: append_to_minhash_index(df, index_path)
        _incremental = lambda df: incremental_dedup(
            df, index_path, jaccard_threshold=jaccard_threshold,
            max_bucket_size=max_bucket_size,
        )
        _batch_dedup = lambda df: minhash_dedup(
            df, jaccard_threshold=jaccard_threshold,
            max_bucket_size=max_bucket_size,
        )
    elif method == "simhash":
        _build = lambda df: build_simhash_index(df, index_path)
        _append = lambda df: append_to_simhash_index(df, index_path)
        _incremental = lambda df: incremental_simhash_dedup(
            df, index_path, max_hamming=max_hamming,
            max_bucket_size=max_bucket_size,
        )
        _batch_dedup = lambda df: simhash_dedup(
            df, max_hamming=max_hamming, max_bucket_size=max_bucket_size,
        )
    else:
        raise ValueError(
            f"curate_ingest_batch: method must be 'minhash' or 'simhash', "
            f"got {method!r}"
        )

    spark = batch_df.sparkSession
    key_table = INDEX_LAYOUT[method][0]
    method_stamp = f"{index_path}/_method"
    if fs_exists(spark, method_stamp):
        recorded = fs_read_text(spark, method_stamp).strip()
        if recorded != method:
            raise ValueError(
                f"curate_ingest_batch: index at {index_path} was built with "
                f"method={recorded!r}; probing it with method={method!r} "
                f"would read it as absent and silently rebuild over it"
            )
    sink_dir = f"{accepted_path}/epoch={epoch_id}"
    # _SUCCESS required: a key-table dir WITHOUT it is a crashed initial
    # build — probing it would read partial parquet; treating the index
    # as absent makes the epoch rebuild it (overwrite = clean recovery)
    index_exists = fs_exists(spark, f"{index_path}/{key_table}/_SUCCESS")
    is_replay = fs_exists(spark, f"{sink_dir}/_SUCCESS")
    if is_replay:
        accepted = spark.read.parquet(sink_dir)
    else:
        kept = (
            quality_filter_flags(batch_df, min_words=min_words)
            .filter(F.col("keep"))
            .select(*batch_df.columns)
        )
        if extra_filter is not None:
            # model/repetition filters (gopher_repetition_flags keep,
            # classifier score cut, ppl buckets...) slot in here, after
            # the hard rules and before any dedup — MUST be a
            # deterministic function of the batch rows: on epoch replay
            # the accepted sink is reread, not recomputed, so a
            # nondeterministic filter would make replayed and fresh
            # epochs disagree about the same input
            kept = extra_filter(kept)
        kept = exact_dedup(kept)
        if index_exists:
            accepted = _incremental(kept)
        else:
            accepted = _batch_dedup(kept)
        # one computation feeds both the sink write and the index append
        accepted = materialize(accepted)
        accepted.write.mode("overwrite").parquet(sink_dir)
    marker = f"{index_path}/_epochs/{epoch_id}"
    if not fs_exists(spark, marker):
        # stamp the method BEFORE touching the index: if the stamp were
        # written after the build, a crash in between would leave a built
        # index with no stamp, and a later wrong-method probe would pass
        # the check, read the index as absent (its key-table layout
        # differs), and silently rebuild over it — the exact loss the
        # stamp exists to prevent. Stamping first is safe: the content is
        # idempotent, and a stamp with no index behind it just means the
        # next correct-method epoch builds as usual.
        if not fs_exists(spark, method_stamp):
            fs_write_text_atomic(spark, method_stamp, method)
        to_index = accepted
        if is_replay and index_exists:
            # Crash-recovery path only: the sink completed but the marker
            # is absent, so a prior attempt may have appended (crash
            # between append and marker) or done the initial build (crash
            # between build and marker). Appending the whole epoch again
            # would duplicate every doc's sig+band rows; dedup RESULTS
            # would stay correct (candidate DISTINCT collapses dup bands)
            # but incremental_near_dup_pairs would return duplicated pair
            # rows (its DISTINCT runs before the sig join). The anti-join
            # against the index's id column keeps the append idempotent.
            idx_ids = spark.read.parquet(
                f"{index_path}/{INDEX_SIGS}"
            ).select("doc_id")
            to_index = accepted.join(idx_ids, "doc_id", "left_anti")
        if index_exists:
            _append(to_index)
        else:
            _build(to_index)
        # atomic publish: a torn marker never looks valid
        fs_write_text_atomic(spark, marker, "done")


def start_curate_ingest(
    docs_stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    min_words: int = 20,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = None,
    method: str = "minhash",
    max_hamming: int = 3,
    extra_filter=None,
):
    """Continuous-ingest curation: the streaming front door of the batch
    slowspark.curate pipeline. Each micro-batch of new documents is
    quality-filtered, exact-deduped within the batch, near-dup-deduped
    against EVERYTHING ingested so far (persisted MinHash or SimHash
    index per `method` — O(batch) probe, no corpus rescan), and the
    survivors land in an epoch-keyed accepted sink and grow the index.
    Corpus priority: a new near-dup of an already-accepted doc is
    dropped, never swapped in. The `method` must stay constant for the
    lifetime of one index path (curate_ingest_batch docs).

    State lives in storage (the index), not in Spark streaming state —
    unbounded corpus growth with bounded executor memory; the streaming
    checkpoint only tracks source offsets. `extra_filter` (DataFrame ->
    DataFrame, deterministic) runs after the hard quality rules in each
    epoch — the hook for the model/repetition stages (gopher flags,
    classifier score, ppl buckets) in the streaming path."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        curate_ingest_batch(
            batch_df, epoch_id, index_path, accepted_path,
            min_words, jaccard_threshold, max_bucket_size,
            method, max_hamming, extra_filter,
        )

    return (
        docs_stream.writeStream
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_hll_registers(
    stream: DataFrame,
    ts_col: str = "warc_ts",
    value_col: str = "url",
    window: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 12,
) -> DataFrame:
    """Streaming distinct-cardinality per tumbling event-time window,
    as HLL register rows: (window_start, reg, rho). Because the HLL
    register update is a per-(window, reg) MAX — idempotent over
    duplicates and associative across micro-batches — this is ONE
    streaming aggregation, append-mode compatible: a window's registers
    are emitted exactly once, when the watermark passes window end
    (the sessionize_stream finality contract, for cardinality).
    Estimate downstream with sketch.hll_estimate(...,
    group_cols=("window_start",)) over the sink — estimation is
    register-local arithmetic, deliberately OUTSIDE the stream (a
    second stacked streaming agg would be a state-store chain; the
    register table is the durable, mergeable artifact).

    The streaming twin of the batch hll_windowed_distinct query:
    distinct-users-per-hour / distinct-URLs-per-crawl-window dashboards
    at <= m=2^p state rows per open window, regardless of event volume
    — state is bounded by windows-in-flight x m, never by traffic.
    Exactly-once replay safety is the HLL merge law (register max of a
    re-delivered batch is a no-op), pinned batch-vs-stream in tests."""
    from slowspark.sketch import hll_sketch

    s = stream.withWatermark(ts_col, watermark).withColumn(
        "__w", F.window(ts_col, window)
    )
    regs = hll_sketch(s, value_col, p, group_cols=("__w",))
    return regs.select(
        F.col("__w.start").alias("window_start"), "reg", "rho"
    )

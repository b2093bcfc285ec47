"""Golden checks. Each returns a list of problems; an empty list passes.

The checks take plain Python / pandas values, never Spark objects, so the
tests in ``test_checks.py`` can feed them deliberately wrong results.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

# --- census and job: (entry_kind, sql_type) counts ------------------------------


def oracle_counts(meta: dict) -> dict[tuple, int]:
    return {(k, t): n for k, t, n in meta["kind_type_counts"]}


def check_kind_type_counts(observed: dict[tuple, int], meta: dict) -> list[str]:
    want = oracle_counts(meta)
    got = {k: n for k, n in observed.items() if n}
    if got == want:
        return []
    keys = sorted(set(got) | set(want), key=repr)
    diff = [f"{k}: got {got.get(k, 0)} want {want.get(k, 0)}" for k in keys
            if got.get(k, 0) != want.get(k, 0)]
    return ["(entry_kind, sql_type) counts differ from the oracle: " + "; ".join(diff)]


# --- job: routing, manifests, resume ---------------------------------------------

SINKS = ("sql_statements", "admin_commands", "invalid_statements", "parse_errors")


def check_job(
    manifests: dict[str, dict],
    table_counts: dict[str, int],
    resumed_hashes: dict[str, int],
) -> list[str]:
    """Routed rows equal parsed rows; every manifest's row_count matches its
    table; the resume call returns the content hashes the fresh run wrote."""
    problems = []
    routed = sum(manifests[s]["row_count"] for s in SINKS)
    parsed = manifests["parsed"]["row_count"]
    if routed != parsed:
        problems.append(f"routed rows {routed} != parsed rows {parsed}")
    for stage, m in sorted(manifests.items()):
        if table_counts.get(stage) != m["row_count"]:
            problems.append(
                f"manifest {stage}: row_count {m['row_count']} "
                f"!= table rows {table_counts.get(stage)}"
            )
    for stage, h in sorted(resumed_hashes.items()):
        if h != manifests[stage]["content_hash"]:
            problems.append(
                f"resume {stage}: content hash {h} "
                f"!= manifest {manifests[stage]['content_hash']}"
            )
    return problems


# --- rollup: value checks against DuckDB -----------------------------------------

# output name -> (key columns, float columns); every other column compares exactly
ROLLUP_SHAPES: dict[str, tuple[list[str], list[str]]] = {
    "fingerprint_rollup": (
        ["fingerprint", "sql_type"],
        ["sum_query_time", "avg_query_time", "max_query_time", "sum_lock_time"],
    ),
    "census_fingerprint_rollup": (
        ["entry_kind", "sql_type", "fingerprint"], ["sum_query_time"]),
    "sink_rollup": (
        ["grouping_level", "entry_kind", "sql_type"], ["sum_query_time"]),
    "top_k_slowest_per_fingerprint": (
        ["fingerprint", "rank"], ["query_time"]),
    "group_quantiles": (["fingerprint"], ["q50", "q95", "q99"]),
    "object_usage": (["full_object_name"], ["sum_query_time"]),
    "hourly_rollup": (["hour", "entry_kind"], []),
}

_ROLLUP_SQL = {
    "fingerprint_rollup": """
        SELECT fingerprint, sql_type, count(*) AS n_calls,
               sum(query_time) AS sum_query_time,
               avg(query_time) AS avg_query_time,
               max(query_time) AS max_query_time,
               sum(lock_time) AS sum_lock_time,
               sum(rows_examined) AS sum_rows_examined,
               sum(rows_sent) AS sum_rows_sent
        FROM e WHERE entry_kind = 'SqlStatement' GROUP BY ALL""",
    "census_fingerprint_rollup": """
        SELECT entry_kind, sql_type, fingerprint, count(*) AS n,
               sum(query_time) AS sum_query_time
        FROM e GROUP BY ALL""",
    "sink_rollup": """
        SELECT entry_kind, sql_type, count(*) AS n,
               sum(query_time) AS sum_query_time,
               GROUPING(entry_kind, sql_type) AS grouping_level
        FROM e GROUP BY ROLLUP (entry_kind, sql_type)""",
    "top_k_slowest_per_fingerprint": """
        SELECT fingerprint, rank, entry_id, query_time FROM (
            SELECT fingerprint, entry_id, query_time,
                   row_number() OVER (PARTITION BY fingerprint
                       ORDER BY query_time DESC, entry_id ASC) AS rank
            FROM e WHERE entry_kind = 'SqlStatement')
        WHERE rank <= 3""",
    # type-1 quantile: the value at 1-based sorted position ceil(p * n)
    "group_quantiles": """
        SELECT fingerprint, max(n) AS n,
               max(CASE WHEN pos = ceil(0.5 * n) THEN query_time END) AS q50,
               max(CASE WHEN pos = ceil(0.95 * n) THEN query_time END) AS q95,
               max(CASE WHEN pos = ceil(0.99 * n) THEN query_time END) AS q99
        FROM (
            SELECT fingerprint, query_time,
                   row_number() OVER (PARTITION BY fingerprint
                       ORDER BY query_time, entry_id) AS pos,
                   count(*) OVER (PARTITION BY fingerprint) AS n
            FROM e WHERE entry_kind = 'SqlStatement')
        GROUP BY fingerprint""",
    "object_usage": """
        SELECT concat_ws('.', o.schema_name, o.object_name) AS full_object_name,
               count(*) AS n_refs, sum(query_time) AS sum_query_time
        FROM (SELECT query_time, unnest(objects) AS o
              FROM e WHERE entry_kind = 'SqlStatement')
        GROUP BY 1""",
    "hourly_rollup": """
        SELECT epoch_us(warc_ts) // 3600000000 AS hour, entry_kind,
               count(*) AS n
        FROM e GROUP BY ALL""",
}


def rollup_expected(entries_dir: str) -> dict[str, pd.DataFrame]:
    """The seven rollup outputs computed by DuckDB over the same parquet."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        con.execute(
            f"CREATE VIEW e AS SELECT * FROM read_parquet('{entries_dir}/*.parquet')"
        )
        return {name: con.sql(sql).df() for name, sql in _ROLLUP_SQL.items()}
    finally:
        con.close()


def normalize_rollup(name: str, df: pd.DataFrame) -> pd.DataFrame:
    """Spark output -> the column set and units of the DuckDB oracle."""
    if name == "hourly_rollup":
        start = pd.to_datetime(df["hour_start"]).astype("datetime64[ns]")
        df = df.assign(hour=start.astype("int64") // 3_600_000_000_000)
        df = df.drop(columns=["hour_start"])
    return df


def _py(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA:
        return None
    if isinstance(v, np.integer):
        return int(v)
    return v


def _sorted(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    order = sorted(
        range(len(df)),
        key=lambda i: tuple((v is None, v if v is not None else 0)
                            for v in (_py(df[k].iloc[i]) for k in keys)),
    )
    return df.iloc[order].reset_index(drop=True)


def compare_frame(
    name: str, got: pd.DataFrame, want: pd.DataFrame,
    keys: list[str], floats: list[str], rel_tol: float = 1e-9,
) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle has {len(want)}"]
    got, want = _sorted(got, keys), _sorted(want, keys)
    for c in want.columns:
        g = [_py(v) for v in got[c].tolist()]
        w = [_py(v) for v in want[c].tolist()]
        if c in floats:
            bad = [i for i, (a, b) in enumerate(zip(g, w))
                   if (a is None) != (b is None)
                   or (a is not None and not math.isclose(a, b, rel_tol=rel_tol,
                                                          abs_tol=1e-12))]
        else:
            bad = [i for i, (a, b) in enumerate(zip(g, w)) if a != b]
        if bad:
            i = bad[0]
            return [f"{name}.{c}: {len(bad)} rows differ, first at "
                    f"{ {k: _py(want[k].iloc[i]) for k in keys} }: got {g[i]!r} want {w[i]!r}"]
    return []


def check_rollup(got: dict[str, pd.DataFrame], want: dict[str, pd.DataFrame]) -> list[str]:
    problems = []
    for name, (keys, floats) in ROLLUP_SHAPES.items():
        if name not in got:
            problems.append(f"{name}: no output")
            continue
        problems += compare_frame(
            name, normalize_rollup(name, got[name]), want[name], keys, floats
        )
    return problems


# --- graph ------------------------------------------------------------------------

MASS_TOL = 1e-9


def check_graph_invariants(out: dict[str, pd.DataFrame], nodes: set) -> list[str]:
    """PageRank mass is 1.0; HITS vectors have unit L2 norm; every node gets
    exactly one LPA label and the label is a node of the graph."""
    problems = []
    mass = math.fsum(out["pagerank"]["rank"].tolist())
    if abs(mass - 1.0) > MASS_TOL:
        problems.append(f"pagerank mass {mass!r} is not 1.0 +- {MASS_TOL}")
    for col in ("hub", "authority"):
        norm = math.sqrt(math.fsum(v * v for v in out["hits"][col].tolist()))
        if abs(norm - 1.0) > MASS_TOL:
            problems.append(f"hits {col} L2 norm {norm!r} is not 1.0")
    lpa = out["lpa"]
    if set(lpa["node"]) != nodes or len(lpa) != len(nodes):
        problems.append(f"lpa labels {len(lpa)} rows for {len(nodes)} nodes")
    elif not set(lpa["label"]) <= nodes:
        problems.append("lpa assigns a label that is not a node")
    return problems


_GRAPH_SHAPES = {
    "pagerank": (["node"], ["rank"]),
    "hits": (["node"], ["hub", "authority"]),
    "lpa": (["node"], []),
}


def check_graph_paths_agree(
    driver: dict[str, pd.DataFrame], distributed: dict[str, pd.DataFrame]
) -> list[str]:
    """The driver fast path and the distributed path give the same results on
    the same graph (floats to 1e-9 relative)."""
    problems = []
    for name, (keys, floats) in _GRAPH_SHAPES.items():
        problems += compare_frame(
            f"{name} driver-vs-distributed", driver[name], distributed[name],
            keys, floats,
        )
    return problems

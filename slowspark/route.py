"""Entry-kind fan-out routing (BASELINE.json north_star).

The reference's EntryStatement enum (/root/reference/src/types.rs:249-257)
is the routing key: SqlStatement / AdminCommand / InvalidStatement, plus our
ParseError lane (the reference panics instead, src/codec.rs:313-327).

Kind discrimination is a column, not control flow: each sink is a filter on
the entry_kind column. Under job.run_pipeline's checkpointing each sink is
its own run_stage over the written `enriched` table, so parse and enrich run
once and each sink write is a narrow filtered scan of that table.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, functions as F

KINDS = ("SqlStatement", "AdminCommand", "InvalidStatement", "ParseError")

SINK_NAMES: Mapping[str, str] = {
    "SqlStatement": "sql_statements",
    "AdminCommand": "admin_commands",
    "InvalidStatement": "invalid_statements",
    "ParseError": "parse_errors",
}


def route(entries: DataFrame) -> dict[str, DataFrame]:
    """Split the parsed table into per-kind sinks. Row-disjoint and
    row-complete by construction: union of sinks == input (routed-row
    equality is pinned by tests)."""
    return {
        SINK_NAMES[k]: entries.filter(F.col("entry_kind") == k) for k in KINDS
    }

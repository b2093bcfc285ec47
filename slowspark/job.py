"""spark-submit entry point: the full parse -> enrich -> route -> aggregate
pipeline with checkpoint-resumable stage boundaries.

Cluster usage (north_rule ships via --py-files at N and 4N executors):

    spark-submit --py-files slowspark.zip -m slowspark.job \\
        --pages <iceberg-table-or-parquet-path> --warehouse <out> \\
        [--n-pages 100000]   # generate instead of read

Sandbox evidence for the two-cluster-size scaling criterion runs the same
job at local[8] and local[32] (bench.py --scaling).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession

from slowspark import aggregate as agg
from slowspark.catalog import Catalog
from slowspark.checkpoint import run_stage
from slowspark.enrich import enrich
from slowspark.gen import gen_pages, host_dc_dim, lang_locale_dim
from slowspark.metrics import page_lineage, partition_metrics
from slowspark.parse import parse_pages
from slowspark.route import SINK_NAMES, route
from slowspark.session import get_spark
from slowspark.sources import read_pages
from slowspark.util import fs_listing_stamp


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    input_signature: str,
    masking: str = "none",
) -> dict[str, DataFrame]:
    """Full pipeline. Returns the materialized stage DataFrames.
    ``masking`` is the reference's EntryMasking config (parse_pages docs)."""
    cat = Catalog(warehouse)
    out: dict[str, DataFrame] = {}
    # masking changes the parsed content, so it is part of EVERY stage's
    # input signature (a masking switch must invalidate downstream resumes)
    input_signature = f"{input_signature}|masking={masking}"

    parsed = run_stage(
        spark, cat, "parsed", input_signature,
        lambda: parse_pages(pages, masking=masking),
        hash_cols=["entry_id", "entry_kind", "fingerprint", "statement_raw"],
    )
    out["parsed"] = parsed

    enriched = run_stage(
        spark, cat, "enriched", input_signature,
        lambda: enrich(parsed, host_dc_dim(spark), lang_locale_dim(spark)),
    )
    out["enriched"] = enriched

    # fan-out sinks (routed-row equality: union of sinks == parsed table)
    for kind, sink in SINK_NAMES.items():
        out[sink] = run_stage(
            spark, cat, sink, input_signature,
            lambda k=kind: route(enriched)[SINK_NAMES[k]],
            partition_by=["sql_type"] if kind == "SqlStatement" else None,
        )

    out["fingerprint_rollup"] = run_stage(
        spark, cat, "fingerprint_rollup", input_signature,
        lambda: agg.fingerprint_rollup(enriched),
    )
    out["kind_census"] = run_stage(
        spark, cat, "kind_census", input_signature,
        lambda: agg.kind_census(enriched),
    )
    out["admin_histogram"] = run_stage(
        spark, cat, "admin_histogram", input_signature,
        lambda: agg.admin_histogram(enriched),
    )
    out["partition_metrics"] = run_stage(
        spark, cat, "partition_metrics", input_signature,
        lambda: partition_metrics(parsed),
    )
    out["page_lineage"] = run_stage(
        spark, cat, "page_lineage", input_signature,
        lambda: page_lineage(parsed),
    )
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", help="pages table path (parquet/iceberg)")
    p.add_argument("--n-pages", type=int, help="generate N pages instead")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--masking", default="none", choices=["none", "placeholder"],
                   help="EntryMasking parity: statement rendering for SQL rows")
    args = p.parse_args(argv)

    spark = get_spark("slowspark-job", master=args.master)
    try:
        if args.n_pages:
            pages = gen_pages(spark, args.n_pages)
            sig = f"gen:{args.n_pages}"
        elif args.pages:
            fmt = Catalog(args.warehouse).fmt
            pages = read_pages(spark, args.pages, fmt)
            sig = f"path:{args.pages}"
            if fmt != "iceberg":
                # a table name has no file listing; a path's files are
                # stamped so a rewrite at the same path misses the resume
                sig += f":files={fs_listing_stamp(spark, args.pages)}"
        else:
            p.error("one of --pages / --n-pages required")
        tables = run_pipeline(spark, pages, args.warehouse, sig, args.masking)
        census = {
            r["entry_kind"]: r["n"] for r in tables["kind_census"].collect()
        }
        print(json.dumps({"kind_census": census}))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())

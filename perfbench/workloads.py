"""The workloads. Each is a closed loop: one client runs one batch after
another against the public functions of ``slowspark``.

A workload opens its inputs once (``open``); the benchmark then calls
``run`` repeatedly and times it. ``check`` is untimed and returns the
problems found in one run's outputs. ``traced`` does the same work with
each layer's output materialized at its boundary, under the tracer's
spans, and returns (result, layer counters).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import pandas as pd

from perfbench import checks
from perfbench.inputs import SEED_STRIDE, is_malformed, page_row
from perfbench.probes import plan_metrics

# the census plan needs 9 of the 27 entry columns (bench.py's pipeline leaf)
CENSUS_COLS = [
    "entry_kind", "fingerprint", "sql_type", "query_time", "lock_time",
    "rows_sent", "rows_examined", "host", "lang",
]

GRAPH_ROUNDS = {"pagerank": 2, "hits": 1, "lpa": 1}


def _dims(spark):
    from slowspark.gen import host_dc_dim, lang_locale_dim

    return host_dc_dim(spark), lang_locale_dim(spark)


def _boundary(tracer, name: str, df, counters: dict):
    """Persist ``df`` and count it inside span ``name``: the layer's output
    is materialized at its boundary, so its time is its own."""
    df = df.persist()
    with tracer.span(name) as s:
        n = df.count()
    counters[f"{name}.wall_s"] = s["seconds"]
    return df, n


def _parse_counters(df, n_rows: int) -> dict:
    """Counters of a materialized parse_pages output."""
    from pyspark.sql import functions as F

    pm = plan_metrics(df)
    get = lambda m: pm.get(("MapInPandas", m), 0.0)  # noqa: E731
    return {
        "parse.python_total_s": get("pythonTotalTime"),
        "parse.python_init_s": get("pythonInitTime"),
        "parse.python_boot_s": get("pythonBootTime"),
        "parse.arrow_bytes_sent": get("pythonDataSent"),
        "parse.arrow_bytes_received": get("pythonDataReceived"),
        "parse.entries_out": n_rows,
        "parse.error_rows": df.filter(F.col("entry_kind") == "ParseError").count(),
    }


def _enrich_counters(df, n_rows: int) -> dict:
    """Counters of a materialized enrich output."""
    from pyspark.sql import functions as F

    matched = df.filter(F.col("datacenter").isNotNull()).count()
    return {
        "enrich.broadcast_collect_s": plan_metrics(df).get(
            ("BroadcastExchange", "collectTime"), 0.0),
        "enrich.match_ratio": matched / n_rows if n_rows else 0.0,
    }


class Workload:
    name = ""
    size = 0  # input size handed to the generator
    row_unit = "rows"
    grammar_fields = None  # column-pruning set for grammar_us_per_page

    def open(self, spark, inputs_dir: str, meta: dict, scratch: str) -> None:
        self.spark, self.dir, self.meta, self.scratch = spark, inputs_dir, meta, scratch

    @property
    def rows(self) -> int:
        """Input rows one run processes (the rows of ``rows_per_s``)."""
        return self.meta["rows"]

    def run(self):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def traced(self, tracer) -> tuple[object, dict]:
        raise NotImplementedError

    def grammar_us_per_page(self, seed: int, n_pages: int = 300, reps: int = 3) -> float:
        """grammar.parse_entries in-process, no Spark, on the first pages of
        the seed's doc-id range: the same sample for every workload."""
        from slowspark import grammar

        base = seed * SEED_STRIDE
        texts = [page_row(d, is_malformed(d))["text"] for d in range(base, base + n_pages)]
        times = []
        for _ in range(reps):
            t = time.perf_counter()
            for text in texts:
                grammar.parse_entries(text, grammar.default_comment_context,
                                      self.grammar_fields)
            times.append(time.perf_counter() - t)
        return statistics.median(times) / n_pages * 1e6


# --- census ----------------------------------------------------------------------


class Census(Workload):
    """parse_pages(census columns) -> enrich -> census_fingerprint_rollup ->
    collect. Read-only; the Python parse dominates; ~140 groups."""

    name = "census"
    size = 5000
    row_unit = "pages"
    grammar_fields = frozenset(CENSUS_COLS) | {"url", "entry_index"}

    def open(self, spark, inputs_dir, meta, scratch):
        super().open(spark, inputs_dir, meta, scratch)
        self.pages = spark.read.parquet(os.path.join(inputs_dir, "pages"))

    @staticmethod
    def _counts(rows) -> dict:
        c: dict = {}
        for r in rows:
            k = (r["entry_kind"], r["sql_type"])
            c[k] = c.get(k, 0) + r["n"]
        return c

    def run(self):
        from slowspark.aggregate import census_fingerprint_rollup
        from slowspark.enrich import enrich
        from slowspark.parse import parse_pages

        entries = parse_pages(self.pages, columns=CENSUS_COLS)
        rows = census_fingerprint_rollup(enrich(entries, *_dims(self.spark))).collect()
        return self._counts(rows)

    def check(self, result):
        return checks.check_kind_type_counts(result, self.meta)

    def traced(self, tracer):
        from slowspark.aggregate import census_fingerprint_rollup
        from slowspark.enrich import enrich
        from slowspark.parse import parse_pages

        c: dict = {}
        entries, n = _boundary(tracer, "parse", parse_pages(self.pages, columns=CENSUS_COLS), c)
        c.update(_parse_counters(entries, n))
        enriched, _ = _boundary(tracer, "enrich", enrich(entries, *_dims(self.spark)), c)
        c.update(_enrich_counters(enriched, n))
        with tracer.span("aggregate.census_fingerprint_rollup") as sa:
            rows = census_fingerprint_rollup(enriched).collect()
        st = tracer.stats(sa)
        c["aggregate.census_fingerprint_rollup_s"] = sa["seconds"]
        c["aggregate.shuffle_write_bytes"] = st["shuffle_write_bytes"]
        c["aggregate.max_task_over_median"] = st["max_task_over_median"]
        c["aggregate.groups_out"] = len(rows)
        enriched.unpersist()
        entries.unpersist()
        return self._counts(rows), c


# --- job -----------------------------------------------------------------------------


def _manifests(wh: str) -> dict[str, dict]:
    out = {}
    for p in glob.glob(os.path.join(wh, "_manifests", "*.json")):
        with open(p) as f:
            m = json.load(f)
        out[m["stage"]] = m
    return out


class Job(Workload):
    """slowspark.job.run_pipeline into a fresh warehouse, then one resume call
    on it. 27 columns, 11 tables, ~1% malformed pages."""

    name = "job"
    size = 1000
    row_unit = "pages"
    # the run_pipeline stages built by slowspark.aggregate functions
    AGG_STAGES = ("fingerprint_rollup", "kind_census", "admin_histogram")
    # stage -> the hash columns run_pipeline writes into its manifest
    RESUME_HASHED = {
        "parsed": ["entry_id", "entry_kind", "fingerprint", "statement_raw"],
        "kind_census": None,
    }

    def open(self, spark, inputs_dir, meta, scratch):
        super().open(spark, inputs_dir, meta, scratch)
        self.pages = spark.read.parquet(os.path.join(inputs_dir, "pages"))
        self.sig = f"perfbench:job:seed={meta['seed']}:n={meta['size']}"
        self.n_runs = 0

    def _fresh_warehouse(self) -> str:
        self.n_runs += 1
        wh = os.path.join(self.scratch, f"warehouse-{self.n_runs}")
        shutil.rmtree(wh, ignore_errors=True)
        return wh

    def run(self):
        from slowspark.job import run_pipeline

        wh = self._fresh_warehouse()
        run_pipeline(self.spark, self.pages, wh, self.sig)
        resumed = run_pipeline(self.spark, self.pages, wh, self.sig)
        return wh, resumed

    def check(self, result):
        """The written tables are read back with pyarrow, not Spark: row
        counts, the kind census and the sql_type partitions."""
        import pyarrow.dataset as ds

        from slowspark.checkpoint import content_hash

        wh, resumed = result
        try:
            manifests = _manifests(wh)
            tables = {s: ds.dataset(os.path.join(wh, s), format="parquet",
                                    partitioning="hive") for s in manifests}
            census = tables["kind_census"].to_table().to_pylist()
            counts = {(r["entry_kind"], None): r["n"] for r in census
                      if r["entry_kind"] != "SqlStatement"}
            sql = tables["sql_statements"].to_table(columns=["sql_type"])
            for r in sql.group_by("sql_type").aggregate([([], "count_all")]).to_pylist():
                counts[("SqlStatement", r["sql_type"])] = r["count_all"]
            problems = checks.check_kind_type_counts(counts, self.meta)
            problems += checks.check_job(
                manifests,
                {s: t.count_rows() for s, t in tables.items()},
                {s: content_hash(resumed[s], cols)
                 for s, cols in self.RESUME_HASHED.items()},
            )
            if set(manifests) != set(resumed):
                problems.append(f"manifests {sorted(manifests)} != tables {sorted(resumed)}")
            return problems
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def traced(self, tracer):
        """run_pipeline with a span around each run_stage call, and the parse
        and enrich outputs it builds materialized at their boundary, by
        wrapping the names slowspark.job looks up at call time."""
        import slowspark.job as job

        real = (job.run_stage, job.parse_pages, job.enrich)
        stages: dict[str, dict] = {"fresh": {}, "resume": {}}
        phase = ["fresh"]
        cached: dict = {}  # layer -> (persisted output, rows)
        c: dict = {}

        def run_stage(spark, cat, stage, sig, build, **kw):
            with tracer.span(f"checkpoint.{stage}") as s:
                out = real[0](spark, cat, stage, sig, build, **kw)
            stages[phase[0]][stage] = s
            return out

        def parse_pages(pages, **kw):
            cached["parse"] = _boundary(tracer, "parse", real[1](pages, **kw), c)
            return cached["parse"][0]

        def enrich(*args):
            cached["enrich"] = _boundary(tracer, "enrich", real[2](*args), c)
            return cached["enrich"][0]

        wh = self._fresh_warehouse()
        job.run_stage, job.parse_pages, job.enrich = run_stage, parse_pages, enrich
        try:
            with tracer.span("run_pipeline"):
                job.run_pipeline(self.spark, self.pages, wh, self.sig)
            bytes_written = sum(
                os.path.getsize(p)
                for p in glob.glob(os.path.join(wh, "**", "*"), recursive=True)
                if os.path.isfile(p)
            )
            phase[0] = "resume"
            with tracer.span("resume") as sres:
                resumed = job.run_pipeline(self.spark, self.pages, wh, self.sig)
            c.update(_parse_counters(*cached["parse"]))
            c.update(_enrich_counters(*cached["enrich"]))
        finally:
            job.run_stage, job.parse_pages, job.enrich = real
            for df, _ in cached.values():
                df.unpersist()
        fresh = stages["fresh"]
        sec = lambda names: sum(fresh[s]["seconds"] for s in names)  # noqa: E731
        rollups = [s for s in fresh if s not in checks.SINKS and s not in ("parsed", "enriched")]
        manifests = _manifests(wh)
        agg = [tracer.stats(fresh[s]) for s in self.AGG_STAGES]
        c.update({
            "checkpoint.parsed_s": sec(["parsed"]),
            "checkpoint.enriched_s": sec(["enriched"]),
            "checkpoint.sinks_s": sec(checks.SINKS),
            "checkpoint.rollups_s": sec(rollups),
            "checkpoint.jobs_per_stage": statistics.mean(
                tracer.stats(s)["jobs"] for s in fresh.values()
            ),
            "checkpoint.bytes_written": bytes_written,
            "checkpoint.resume_s": sres["seconds"],
            "route.rows_routed_ratio": (
                sum(manifests[s]["row_count"] for s in checks.SINKS)
                / manifests["parsed"]["row_count"]
            ),
            "aggregate.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in agg),
            "aggregate.max_task_over_median": max(st["max_task_over_median"] for st in agg),
            "aggregate.groups_out": sum(manifests[s]["row_count"] for s in self.AGG_STAGES),
        })
        return (wh, resumed), c


# --- rollup -----------------------------------------------------------------------------


def _rollup_outputs():
    """name -> function of the enriched entries; the seven aggregates."""
    from pyspark.sql import functions as F

    from slowspark import aggregate as agg

    sql = F.col("entry_kind") == "SqlStatement"
    return {
        "fingerprint_rollup": agg.fingerprint_rollup,
        "census_fingerprint_rollup": agg.census_fingerprint_rollup,
        "sink_rollup": agg.sink_rollup,
        "top_k_slowest_per_fingerprint": lambda e: agg.top_k_slowest_per_fingerprint(
            e, 3).select("fingerprint", "rank", "entry_id", "query_time"),
        "group_quantiles": lambda e: agg.group_quantiles(e.filter(sql), "query_time"),
        "object_usage": agg.object_usage,
        "hourly_rollup": agg.hourly_rollup,
    }


class Rollup(Workload):
    """enrich + the seven JVM-only aggregates over a synthetic entries table:
    high fingerprint cardinality, Zipf skew, no Python UDF."""

    name = "rollup"
    size = 250_000
    row_unit = "entries"

    def open(self, spark, inputs_dir, meta, scratch):
        super().open(spark, inputs_dir, meta, scratch)
        self.entries = spark.read.parquet(os.path.join(inputs_dir, "entries"))
        self.outputs = _rollup_outputs()
        self._expected = None

    def run(self):
        from slowspark.enrich import enrich

        enriched = enrich(self.entries, *_dims(self.spark))
        return {name: fn(enriched).toPandas() for name, fn in self.outputs.items()}

    def check(self, result):
        if self._expected is None:
            self._expected = {
                name: pd.read_parquet(os.path.join(self.dir, "expected", f"{name}.parquet"))
                for name in self.outputs
            }
        return checks.check_rollup(result, self._expected)

    def traced(self, tracer):
        from slowspark.enrich import enrich

        c: dict = {}
        enriched, n = _boundary(tracer, "enrich", enrich(self.entries, *_dims(self.spark)), c)
        c.update(_enrich_counters(enriched, n))
        out, shuffle, skew = {}, 0.0, 1.0
        for name, fn in self.outputs.items():
            with tracer.span(f"aggregate.{name}") as sa:
                out[name] = fn(enriched).toPandas()
            st = tracer.stats(sa)
            c[f"aggregate.{name}_s"] = sa["seconds"]
            shuffle += st["shuffle_write_bytes"]
            skew = max(skew, st["max_task_over_median"])
        c["aggregate.shuffle_write_bytes"] = shuffle
        c["aggregate.max_task_over_median"] = skew
        c["aggregate.groups_out"] = sum(len(df) for df in out.values())
        enriched.unpersist()
        return out, c


# --- graph --------------------------------------------------------------------------------


class Graph(Workload):
    """pagerank + hits + label_propagation on one link graph, each run on both
    backends: the distributed path (driver_fastpath_edges=0) and the default
    driver fast path. Both must agree on every run."""

    name = "graph"
    size = 8_000
    row_unit = "edge-rounds"
    # backend -> driver_fastpath_edges (None: the library default)
    PATHS = {"distributed": 0, "driver": None}

    def open(self, spark, inputs_dir, meta, scratch):
        super().open(spark, inputs_dir, meta, scratch)
        self.edges = spark.read.parquet(os.path.join(inputs_dir, "edges"))
        self._nodes = None

    @property
    def rows(self):
        return self.meta["rows"] * sum(GRAPH_ROUNDS.values()) * len(self.PATHS)

    def _algos(self, gate):
        from slowspark import graph

        kw = {} if gate is None else {"driver_fastpath_edges": gate}
        return {
            "pagerank": lambda: graph.pagerank(self.edges, n_iter=GRAPH_ROUNDS["pagerank"], **kw),
            "hits": lambda: graph.hits(self.edges, n_iter=GRAPH_ROUNDS["hits"], **kw),
            "lpa": lambda: graph.label_propagation(self.edges, n_iter=GRAPH_ROUNDS["lpa"], **kw),
        }

    def run(self):
        return {p: {a: fn().toPandas() for a, fn in self._algos(gate).items()}
                for p, gate in self.PATHS.items()}

    def check(self, result):
        if self._nodes is None:
            import pyarrow.parquet as pq

            t = pq.read_table(os.path.join(self.dir, "edges"))
            self._nodes = set(t["src"].to_pylist()) | set(t["dst"].to_pylist())
        problems = [f"{p}: {x}" for p in self.PATHS
                    for x in checks.check_graph_invariants(result[p], self._nodes)]
        return problems + checks.check_graph_paths_agree(
            result["driver"], result["distributed"])

    def traced(self, tracer):
        c, out = {}, {}
        jobs = shuffle = 0.0
        for p, gate in self.PATHS.items():
            out[p] = {}
            for a, fn in self._algos(gate).items():
                with tracer.span(f"graph.{a}.{p}") as s:
                    out[p][a] = fn().toPandas()
                c[f"graph.{a}.{p}_s"] = s["seconds"]
                if p == "distributed":
                    st = tracer.stats(s)
                    jobs += st["jobs"]
                    shuffle += st["shuffle_write_bytes"]
        rounds = sum(GRAPH_ROUNDS.values())
        c["graph.jobs_per_round"] = jobs / rounds
        c["graph.shuffle_bytes_per_round"] = shuffle / rounds
        return out, c


WORKLOADS = {w.name: w for w in (Census, Job, Rollup, Graph)}

"""slowspark benchmark: one workload per invocation, run from the checkout root.

    python3 perfbench/run.py --workload census --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

One process is one closed loop on ``local[2]``: set up a SparkSession,
run the workload once cold, then warm until ``--seconds`` of timed runs are
done. Set-up and runs are measured in CPU seconds of the whole process tree
(driver, JVM, Python workers), which a busy host inflates far less than
wall time; the wall times are in the report line. The last stdout line is the result JSON:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
counters of the traced runs, and the spans go to ``.perfbench_cache/traces``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_wall_s

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout: slowspark/ and perfbench/
CACHE = os.path.join(ROOT, ".perfbench_cache")
# fits a 4-vCPU / 15 GB host next to the Python workers; a small heap also
# keeps the JVM's resident set from swinging with GC timing
DRIVER_MEMORY = "1g"

sys.path.insert(0, ROOT)


def metric_units(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics a run reports, as BENCHMARK.json lists
    them: the end-to-end ones untraced, the per-layer ones traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# Spark task slots. The workloads spend their time in per-job overhead, not
# in parallel work: two slots run them as fast as four on a 4-vCPU host, use
# less CPU and memory, and leave cores for the JVM's JIT and GC threads and
# for the host's other tenants, which makes run-to-run times steadier.
SLOTS = 2


def cores() -> int:
    return min(SLOTS, len(os.sched_getaffinity(0)))


def make_inputs(workload, seed: int) -> tuple[str, dict]:
    """The (workload, seed slot, size) input set, generated in a child process
    on a cache miss."""
    out = os.path.join(CACHE, "inputs", f"{workload.name}-s{seed}-n{workload.size}")
    meta = os.path.join(out, "meta.json")
    if not os.path.exists(meta):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), "--workload",
             workload.name, "--seed", str(seed), "--size", str(workload.size),
             "--out", out],
            check=True, cwd=ROOT,
        )
    with open(meta) as f:
        return out, json.load(f)


def session_env(scratch: str) -> dict:
    """Keep every file Spark, the JVM and the Python workers write inside the
    checkout, and let the workers import slowspark from it."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the spark-submit launcher JVM; -UsePerfData: no hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SLOWSPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # workers run this interpreter; the driver binds to loopback, so the JVM
    # neither resolves the host name nor depends on the network interfaces
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_HOSTNAME"] = "localhost"
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
        # the serial collector: a 1 GB heap needs no parallel GC threads, and
        # their spin-waits grow with the time a busy host steals from the JVM
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            " -XX:+UseSerialGC"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
    }


def start_session(scratch: str):
    from slowspark.session import get_spark

    n = cores()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf=session_env(scratch))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_config(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "master": conf.get("spark.master"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "arrow_max_records_per_batch": spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"),
        "driver_memory": conf.get("spark.driver.memory"),
        "worker_pythonpath": os.environ["PYTHONPATH"],
        "cores": cores(),
    }


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and the Python workers below it, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    gw = SparkContext._gateway
    proc = gw.proc
    below = descendants(proc.pid)
    # a gateway call cut short (by SIGTERM) can leave py4j unusable; the JVM
    # and the workers are still stopped below
    for stop in (spark.stop, gw.shutdown):
        with contextlib.suppress(Exception):
            stop()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in below) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in below:
        if _alive(p):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Loop:
    """Counts attempted and failed runs; a run fails if it raises or its
    golden check finds a problem."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.cpu_s: list[float] = []  # CPU seconds of each timed call

    def timed(self, fn):
        from perfbench.probes import tree_cpu_s

        self.attempted += 1
        c = tree_cpu_s()
        t = time.perf_counter()
        try:
            result = fn()
        except Exception:
            result = None
            self._fail([traceback.format_exc()])
        dt = time.perf_counter() - t
        self.cpu_s.append(tree_cpu_s() - c)
        return result, dt

    def check(self, result) -> None:
        if result is None:
            return
        try:
            problems = self.workload.check(result)
        except Exception:
            problems = [traceback.format_exc()]
        self._fail(problems)

    def _fail(self, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.problems += problems
            for p in problems:
                print(f"[{self.workload.name}] CHECK FAILED: {p}", file=sys.stderr)


def run_workload(args) -> dict:
    from perfbench import probes
    from perfbench.inputs import seed_slot
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    slot = seed_slot(args.seed)
    t_gen, cpu_gen = time.perf_counter(), probes.tree_cpu_s()
    inputs_dir, meta = make_inputs(wl, slot)
    gen_s = time.perf_counter() - t_gen
    gen_cpu_s = probes.tree_cpu_s() - cpu_gen
    scratch = os.path.join(CACHE, "run", f"{wl.name}-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)

    # --- setup: imports, JVM + SparkSession, inputs opened; in CPU seconds
    # of the process tree since process start, like the runs ----------------
    t = time.perf_counter()
    spark = start_session(scratch)
    session_start_s = time.perf_counter() - t
    try:
        wl.open(spark, inputs_dir, meta, scratch)
        setup_wall_s = time.perf_counter() - T0 - gen_s
        setup_s = probes.tree_cpu_s() - gen_cpu_s
        jvm_pid = spark.sparkContext._gateway.proc.pid

        calib = probes.calib_s()
        cpu0 = probes.cpu_times()
        loop = Loop(wl)
        layers: list[dict] = []
        spark_runs: list[dict] = []
        tracer = probes.Tracer(spark) if args.trace else None
        # --- cold first run ---------------------------------------------------
        if tracer:
            tracer.run = "cold"
            (first, cold_layers), first_run_s = _traced(loop, wl, tracer)
        else:
            first, first_run_s = loop.timed(wl.run)
        first_cpu_s = loop.cpu_s[-1]
        loop.check(first)

        # --- warm runs until --seconds of timed work ---------------------------
        warm, warm_cpu, traced_warm = [], [], []
        while sum(warm) + sum(traced_warm) < args.seconds or not warm:
            group = f"warm-{len(warm)}"
            if tracer:
                spark.sparkContext.setJobGroup(group, "untraced warm run")
            result, dt = loop.timed(wl.run)
            warm.append(dt)
            warm_cpu.append(loop.cpu_s[-1])
            loop.check(result)
            if tracer:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                spark_runs.append(probes.group_stats(spark, group) | {"wall_s": dt})
                tracer.run = f"traced-{len(traced_warm)}"
                (result, layer), dt = _traced(loop, wl, tracer)
                traced_warm.append(dt)
                loop.check(result)
                if layer:
                    layers.append(layer)
        rss = probes.peak_rss_mb(jvm_pid)
        steal = probes.steal_ratio(cpu0, probes.cpu_times())
        config = session_config(spark)
    finally:
        stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    run_s = statistics.median(warm)
    units = metric_units(bool(tracer))
    report = {
        "workload": wl.name, "seed": args.seed, "input_slot": slot, "row_unit": wl.row_unit,
        "rows": wl.rows, "session": config, "gen_s": gen_s,
        "setup_wall_s": setup_wall_s,
        "host": {"calib_s": calib, "steal_ratio": steal}, "peak_rss_mb": rss,
        "first_run_s": first_run_s, "warm_runs_s": warm, "rows_per_s": wl.rows / run_s,
        "first_run_cpu_s": first_cpu_s, "warm_runs_cpu_s": warm_cpu,
        "attempted": loop.attempted, "failed": loop.failed,
        "failed_ops_ratio": loop.failed / loop.attempted,
        "problems": loop.problems,
    }
    if not tracer:
        metrics = {
            "setup_s": setup_s, "first_run_cpu_s": first_cpu_s,
            "run_cpu_s": statistics.median(warm_cpu), "peak_rss_mb": sum(rss.values()),
        }
    else:
        metrics = dict.fromkeys(units, 0.0)
        for name in layers[0] if layers else ():
            metrics[name] = statistics.median(ly[name] for ly in layers)
        for name in ("parse.python_init_s", "parse.python_boot_s"):
            metrics[name] = (cold_layers or {}).get(name, 0.0)
        for name in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                     "gc_s", "shuffle_write_bytes", "input_bytes"):
            metrics[f"spark.{name}"] = statistics.median(r[name] for r in spark_runs)
        metrics["spark.cpu_util"] = statistics.median(
            r["executor_cpu_s"] / (r["wall_s"] * cores()) for r in spark_runs)
        metrics["session.start_s"] = session_start_s
        metrics["host.steal_ratio"] = steal
        metrics["host.calib_s"] = calib
        metrics["grammar.us_per_page"] = wl.grammar_us_per_page(slot)
        metrics["trace.overhead_s"] = statistics.median(traced_warm) - run_s
        report["traced_runs_s"] = traced_warm
        report["trace_file"] = _write_trace(wl, args, tracer, metrics)
    print(json.dumps(report))
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def _traced(loop, wl, tracer):
    """One traced run under a root span; (result, layer counters), seconds."""
    def go():
        with tracer.span("run"):
            return wl.traced(tracer)
    out, dt = loop.timed(go)
    return (out if out is not None else (None, None)), dt


def _write_trace(wl, args, tracer, metrics) -> str:
    path = os.path.join(CACHE, "traces", f"{wl.name}-s{args.seed}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed,
                   "spans": tracer.report(), "counters": metrics}, f, indent=1)
    return os.path.relpath(path, ROOT)


def run_all(args) -> int:
    """Every workload in its own process; one table of every metric."""
    from perfbench.workloads import WORKLOADS

    ok = True
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{name}: exit {p.returncode}")
            ok = False
            continue
        res, report = json.loads(lines[-1]), json.loads(lines[-2])
        ok &= res["correct"]
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} failed_ops_ratio={report['failed_ops_ratio']:.3f} "
              f"row_unit={report['row_unit']}")
        for k, m in res["metrics"].items():
            print(f"  {k:<44} {m['value']:>16.6g} {m['unit']}")
    return 0 if ok else 1


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description="slowspark benchmark")
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=4)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops Spark and its workers (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.workload == "all":
        return run_all(args)
    result = run_workload(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "slowspark")):
        print(f"perfbench: no slowspark package under {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())

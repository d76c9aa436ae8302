"""Benchmark harness for the survey-data engine.

    python3 perfbench/run.py --workload survey_etl|query_mix --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It drives the engine only through its
public functions, in one Spark application per run (``local[<cores>]``,
one client in a closed loop), and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, measured from spans around the engine's layer functions
and the Spark event log. Everything it writes goes under
``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: a run that has not finished by then is killed; a run must end within 180 s
WATCHDOG_S = 175
#: what ``--trace 0`` reports; BENCHMARK.json lists the same names and units
END_TO_END = [
    {"name": "setup_s", "unit": "s"},
    {"name": "pass_s", "unit": "s"},
    {"name": "query_geomean_s", "unit": "s"},
    {"name": "queries_per_min", "unit": "q/min"},
]


@dataclass
class Context:
    """What a workload gets from the harness."""

    seed: int
    tracer: object
    work: str


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(trace: bool, work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout and put
    the engine on the Python workers' path. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = [
        f"spark.local.dir={tmp}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                  f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"


def _instrument(tracer) -> None:
    """Open a span around each public layer function the workloads reach,
    in its own module and in ``pipeline``, which imports it by name."""
    from dhs_to_database_spark import pipeline
    from dhs_to_database_spark.plans import schema_evolution
    from dhs_to_database_spark.sources import cspro_dcf, fixed_width, sinks, staging

    from spans import wrap, wrap_all

    def staged(result, args, kwargs):
        tracer.count("staging.files_staged", len(result))

    def parsed(result, args, kwargs):
        # the parse is lazy; count its items here so it runs in this span
        tracer.count("cspro_dcf.items", result[0].count())

    def demuxed(result, args, kwargs):
        paths = args[1] if isinstance(args[1], list) else [args[1]]
        tracer.count("fixed_width.dat_bytes", sum(os.path.getsize(p) for p in paths))
        tracer.count("fixed_width.fields_projected",
                     sum(len(r.fields) for r in args[2].records.values()))
        tracer.count("pipeline.spec_groups", 1)

    def read(result, args, kwargs):
        n = sum(f.endswith(".parquet") for _r, _d, fs in os.walk(args[1]) for f in fs)
        tracer.count("schema_evolution.files_read", n)

    wrap(tracer, pipeline, "run_pipeline", "pipeline.run_pipeline")
    wrap_all(tracer, [staging, pipeline], "stage_manual", "staging.stage", staged)
    wrap_all(tracer, [cspro_dcf, pipeline], "parse_dcf_files", "cspro_dcf.parse", parsed)
    wrap_all(tracer, [sinks, pipeline], "write_spec_csvs", "sinks.spec_csv")
    wrap_all(tracer, [fixed_width, pipeline], "demux_to_parquet", "fixed_width.demux_write", demuxed)
    wrap_all(tracer, [fixed_width, pipeline], "unknown_tags", "fixed_width.unknown_tags")
    wrap(tracer, schema_evolution, "read_evolved", "schema_evolution.read_evolved", read)


def geomean_of_medians(latencies: dict[str, list[float]]) -> float:
    """Geometric mean over queries of each query's median latency. Every
    query weighs the same whatever its size, and noise in one query moves
    the figure by its share only; a median across unlike queries instead
    jumps between neighbours when their order changes."""
    return math.exp(statistics.fmean(math.log(statistics.median(v))
                                     for v in latencies.values()))


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _untraced_pass_s(workload: str) -> float | None:
    """``pass_s`` of the last untraced run of the workload in this
    checkout, if there was one."""
    try:
        with open(os.path.join(WORK, f"untraced_{workload}.json")) as f:
            return json.load(f)["pass_s"]
    except FileNotFoundError:
        return None


def _watchdog(seconds: int) -> None:
    """Kill the JVM and exit with status 1 if the run outlives ``seconds``."""

    def expire(_signum, _frame):
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        print(f"run exceeded {seconds} s", file=sys.stderr)
        os._exit(1)

    signal.signal(signal.SIGALRM, expire)
    signal.alarm(seconds)


def _measure(args, wl, tracer) -> dict:
    """Session start, warm pass, timed region and output checks, in one
    Spark application. Returns the raw figures of the run."""
    from dhs_to_database_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    try:
        tracer.bind(spark)
        t1 = time.perf_counter()
        with tracer.span("session.warm"):
            wl.warm(spark)
        warm_s = time.perf_counter() - t1 - getattr(wl, "hash_s", 0.0)
        tracer.counts.clear()
        tracer.cost = 0.0
        window = (time.time(), None)
        with tracer.span("timed"):
            wl.run(spark, args.seconds)
        window = (window[0], time.time())
        tracer.unbind()
        wl.check(spark)
        return {"start_s": start_s, "warm_s": warm_s, "window": window,
                "rss": _jvm_peak_rss_mb(spark), "app_id": spark.sparkContext.applicationId}
    finally:
        _stop(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "dhs_to_database_spark"))):
        print(f"engine not found under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    import etl
    import queries
    from layers import PER_LAYER, layer_metrics
    from spans import EventLog, Tracer

    workloads = {"survey_etl": etl.EtlWorkload, "query_mix": queries.QueryWorkload}
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    _watchdog(WATCHDOG_S)
    os.makedirs(WORK, exist_ok=True)
    # runs in one checkout share WORK; a second run waits for the first
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
        _prepare_env(trace, WORK)
        tracer = Tracer(trace, f"{args.workload}-{args.seed}-{os.getpid()}")
        if trace:
            _instrument(tracer)
        wl = workloads[args.workload](Context(args.seed, tracer, WORK))
        wl.generate()
        raw = _measure(args, wl, tracer)
        e2e = wl.metrics()
        if e2e is None:
            print(f"no pass completed; failed operations: {wl.failed}", file=sys.stderr)
            return 1
        e2e.update(setup_s=raw["start_s"] + raw["warm_s"], peak_rss_mb=raw["rss"],
                   query_geomean_s=geomean_of_medians(wl.latencies))
        if trace:
            tracer.write(os.path.join(WORK, f"spans_{args.workload}.json"))
            log = EventLog(os.path.join(WORK, "eventlog"), raw["app_id"])
        else:
            with open(os.path.join(WORK, f"untraced_{args.workload}.json"), "w") as f:
                json.dump(e2e, f)

    samples = [s for v in wl.latencies.values() for s in v]
    n = len(samples)
    report = {
        "workload": args.workload, "seed": args.seed, "size": wl.describe(),
        "failed_ops": wl.failed, "ops_failed_frac": len(wl.failed) / wl.attempted,
        "samples": n, **{k: round(v, 4) for k, v in e2e.items()},
        "query_p50_s": round(statistics.median(samples), 4),
        # only with at least ten samples beyond it
        "query_p90_s": statistics.quantiles(samples, n=10)[-1] if n >= 100 else None,
    }
    print(json.dumps(report))
    if trace:
        metrics = layer_metrics(tracer, log, raw["window"], e2e, raw["start_s"], raw["warm_s"],
                                _untraced_pass_s(args.workload))
        units = {m["name"]: m["unit"] for m in PER_LAYER}
    else:
        metrics = e2e
        units = {m["name"]: m["unit"] for m in END_TO_END}
    print(json.dumps({
        "correct": not wl.failed,
        "attempted": wl.attempted,
        "failed": len(wl.failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

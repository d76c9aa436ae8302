"""Per-query profiler: where each query's seconds go.

Starts one session with the Spark event log in a per-run temp dir and warms
the input tables. Then, for each named query (default: ``bench.BENCH_QUERIES``),
it runs the query once to warm it and then ``-n`` profiled runs. Each profiled
run has two phases, timed on the driver:

  construct  ``queries()[name](spark, sf_dir)`` alone: driver-side plan
             building plus every job it fires eagerly (checkpoints,
             collects, streaming drains);
  action     the ``noop`` write of the returned frame (bench.py's action).

Event-log jobs, stages, tasks and streaming micro-batches are assigned to a
phase by its wall-clock window (job and stage submission time, task launch
time, micro-batch trigger time). Phases run one at a time, so the windows are
exact. Job groups are not used: a streaming micro-batch job carries its
stream's own group, not the caller's.

One JSON record per query goes to stdout:

  construct_s, action_s  min over runs of each phase's wall time
  eager_jobs             jobs per run fired during construction
  eager_s                min over runs of the wall time those jobs cover
  jobs .. python_run_s   event-log totals per run, both phases: counts,
                         executor run and CPU time, shuffle read/write,
                         input and spill (MB), Python-worker start and run
                         time (from the tasks' SQL accumulables)
  stage_rows             one row per stage that ran, every profiled run
  microbatches           streaming progress (durationMs, state operators)
                         of every profiled run

and a table ranked by construction time goes to stderr.

Usage: python tools/qprofile.py [-n N] [--sf SF_DIR] [query ...]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile
import time
from datetime import datetime

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PHASES = ("construct", "action")
FIELDS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_read_mb", "shuffle_write_mb",
          "input_mb", "spill_mb", "python_start_s", "python_run_s")
# task accumulables of Python-evaluating operators (milliseconds) -> field
PYTHON_ACCUMULABLES = {"time to start Python workers": "python_start_s",
                       "time to run Python workers": "python_run_s"}


def _iso_ms(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1e3


def attribute(events, windows: dict) -> dict:
    """Assign event-log records to the windows holding their timestamps.

    ``windows`` maps a label to its (start, end) in epoch seconds; each bound
    is widened to the whole millisecond, the log's resolution. Returns, per
    label, the FIELDS totals plus ``job_spans`` ((submit, end) seconds of its
    jobs), ``stage_rows`` and ``microbatches``. Records outside every window
    (warm-up, warm runs) are dropped."""
    bounds = [(math.floor(lo * 1e3), math.ceil(hi * 1e3), label)
              for label, (lo, hi) in windows.items()]

    def label_at(ms):
        return next((label for lo, hi, label in bounds if lo <= ms <= hi), None)

    out = {label: {**dict.fromkeys(FIELDS, 0.0), "job_spans": [], "stage_rows": [],
                   "microbatches": []} for label in windows}
    open_jobs: dict[int, tuple] = {}
    stage_tasks: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            label = label_at(ev["Submission Time"])
            if label is not None:
                out[label]["jobs"] += 1
                open_jobs[ev["Job ID"]] = (label, ev["Submission Time"] / 1e3)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in open_jobs:
            label, start = open_jobs.pop(ev["Job ID"])
            out[label]["job_spans"].append((start, ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerTaskEnd":
            label = label_at(ev["Task Info"]["Launch Time"])
            if label is None:
                continue
            m = ev.get("Task Metrics") or {}
            b = out[label]
            sr = m.get("Shuffle Read Metrics") or {}
            counters = {
                "tasks": 1, "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "shuffle_read_mb": (sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)) / 1e6,
                "shuffle_write_mb": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6,
                "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6,
                "spill_mb": m.get("Disk Bytes Spilled", 0) / 1e6,
            }
            for acc in ev["Task Info"].get("Accumulables", []):
                if acc.get("Name") in PYTHON_ACCUMULABLES:
                    key = PYTHON_ACCUMULABLES[acc["Name"]]
                    counters[key] = counters.get(key, 0.0) + float(acc.get("Update", 0)) / 1e3
            for key, value in counters.items():
                b[key] += value
            st = stage_tasks.setdefault(ev["Stage ID"], dict.fromkeys(("tasks", "run_s", "cpu_s"), 0.0))
            for key in st:
                st[key] += counters[key]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            label = label_at(info["Submission Time"]) if info.get("Submission Time") else None
            if label is None:  # skipped stages never ran
                continue
            out[label]["stages"] += 1
            out[label]["stage_rows"].append({
                "stage": info["Stage ID"], "name": info.get("Stage Name", "")[:80],
                "wall_s": (info.get("Completion Time", 0) - info["Submission Time"]) / 1e3,
                **{k: round(v, 3) for k, v in stage_tasks.pop(info["Stage ID"], {}).items()},
            })
        elif kind.endswith("QueryProgressEvent"):
            p = ev["progress"]
            label = label_at(_iso_ms(p["timestamp"]))
            if label is not None:
                out[label]["microbatches"].append({
                    "batchId": p["batchId"],
                    "numInputRows": sum(s.get("numInputRows", 0) for s in p.get("sources", [])),
                    "durationMs": p.get("durationMs", {}),
                    "stateOperators": [{k: v for k, v in op.items() if k != "customMetrics"}
                                       for op in p.get("stateOperators", [])],
                })
    return out


def covered_s(spans) -> float:
    """Seconds covered by the union of (start, end) intervals."""
    total, reach = 0.0, -math.inf
    for lo, hi in sorted(spans):
        if hi > reach:
            total += hi - max(lo, reach)
            reach = hi
    return total


def record(name: str, runs: int, windows: dict, parsed: dict) -> dict:
    """One query's record from its phase windows and their ``attribute``
    output, both labelled (name, run, phase)."""
    phase = {(r, ph): parsed[(name, r, ph)] for r in range(runs) for ph in PHASES}

    def wall_s(ph):
        return min(windows[(name, r, ph)][1] - windows[(name, r, ph)][0] for r in range(runs))

    rec = {
        "query": name, "runs": runs,
        "construct_s": wall_s("construct"), "action_s": wall_s("action"),
        "eager_jobs": sum(phase[r, "construct"]["jobs"] for r in range(runs)) / runs,
        "eager_s": min(covered_s(phase[r, "construct"]["job_spans"]) for r in range(runs)),
        **{f: sum(p[f] for p in phase.values()) / runs for f in FIELDS},
    }
    rec = {k: round(v, 3) if isinstance(v, float) else v for k, v in rec.items()}
    rec["stage_rows"] = [{"run": r, "phase": ph, **row} for (r, ph), p in phase.items()
                     for row in p["stage_rows"]]
    rec["microbatches"] = [{"run": r, "phase": ph, **mb} for (r, ph), p in phase.items()
                           for mb in p["microbatches"]]
    return rec


def read_events(log_dir: str):
    for root, _dirs, files in os.walk(log_dir):
        for fn in sorted(files):
            if not fn.startswith((".", "appstatus_")):
                with open(os.path.join(root, fn)) as f:
                    yield from (json.loads(line) for line in f)


def main() -> None:
    from dhs_to_database_spark.sources.tables import DEFAULT_SF_DIR, TABLE_NAMES, load_table

    ap = argparse.ArgumentParser(description="Per-query construct/eager/action profile.")
    ap.add_argument("queries", nargs="*", help="query names (default: the bench list)")
    ap.add_argument("-n", type=int, default=2, help="profiled runs per query, after one warm run")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    args = ap.parse_args()
    if args.n < 1:
        ap.error("-n must be at least 1")

    with tempfile.TemporaryDirectory(prefix="qprofile_ev_") as log_dir:
        # get_spark owns the builder, so the event-log confs reach the JVM
        # through PYSPARK_SUBMIT_ARGS, before the context starts
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false"
            " --conf spark.eventLog.rolling.enabled=false"
            f" --conf spark.eventLog.dir=file://{log_dir} pyspark-shell"
        )
        import __spark_entry__ as em
        import bench
        from dhs_to_database_spark.session import get_spark

        qs = em.queries()
        names = args.queries or bench.BENCH_QUERIES
        unknown = [n for n in names if n not in qs]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        spark = get_spark("qprofile")
        for t in TABLE_NAMES:
            load_table(spark, args.sf, t).count()

        windows: dict[tuple, tuple] = {}
        for name in names:
            qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            for r in range(args.n):
                t0 = time.time()
                df = qs[name](spark, args.sf)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
                windows[(name, r, "construct")] = (t0, t1)
                windows[(name, r, "action")] = (t1, t2)
        spark.stop()
        parsed = attribute(read_events(log_dir), windows)

    records = [record(name, args.n, windows, parsed) for name in names]
    for rec in records:
        print(json.dumps(rec), flush=True)
    print(f"{'construct':>9} {'eager_s':>8} {'action':>8} {'eager_jobs':>10}  query", file=sys.stderr)
    for rec in sorted(records, key=lambda r: -r["construct_s"]):
        print(f"{rec['construct_s']:9.3f} {rec['eager_s']:8.3f} {rec['action_s']:8.3f}"
              f" {rec['eager_jobs']:10.1f}  {rec['query']}", file=sys.stderr)
    print(f"total construct {sum(r['construct_s'] for r in records):.1f} s, action"
          f" {sum(r['action_s'] for r in records):.1f} s over {len(records)} queries", file=sys.stderr)


if __name__ == "__main__":
    main()

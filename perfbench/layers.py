"""Per-layer metrics of a traced run.

Layers are the engine's modules. Times are span self times summed over the
timed region; Spark counters come from the event log, per layer through the
job group of the span that submitted each job, and for the ``spark`` layer
from every job submitted while the timed region ran.
"""

from __future__ import annotations

from queries import LAYERS as QUERY_LAYERS

LOWER, HIGHER = "lower", "higher"

PER_LAYER = [
    {"name": "session.start_s", "unit": "s", "better": LOWER},
    {"name": "session.warm_s", "unit": "s", "better": LOWER},
    {"name": "staging.stage_s", "unit": "s", "better": LOWER},
    {"name": "staging.files_staged", "unit": "count", "better": LOWER},
    {"name": "cspro_dcf.parse_s", "unit": "s", "better": LOWER},
    {"name": "cspro_dcf.items", "unit": "count", "better": HIGHER},
    {"name": "cspro_dcf.executor_cpu_s", "unit": "s", "better": LOWER},
    {"name": "fixed_width.demux_write_s", "unit": "s", "better": LOWER},
    {"name": "fixed_width.unknown_tags_s", "unit": "s", "better": LOWER},
    {"name": "fixed_width.lines", "unit": "count", "better": LOWER},
    {"name": "fixed_width.fields_projected", "unit": "count", "better": HIGHER},
    {"name": "fixed_width.mb_per_s", "unit": "MB/s", "better": HIGHER},
    {"name": "fixed_width.input_bytes_per_dat_byte", "unit": "ratio", "better": LOWER},
    {"name": "fixed_width.known_tag_share", "unit": "ratio", "better": HIGHER},
    {"name": "fixed_width.executor_cpu_s", "unit": "s", "better": LOWER},
    {"name": "sinks.spec_csv_s", "unit": "s", "better": LOWER},
    {"name": "sinks.bytes_written", "unit": "bytes", "better": LOWER},
    {"name": "sinks.stored_bytes_per_input_byte", "unit": "ratio", "better": LOWER},
    {"name": "schema_evolution.read_evolved_s", "unit": "s", "better": LOWER},
    {"name": "schema_evolution.files_read", "unit": "count", "better": LOWER},
    {"name": "schema_evolution.executor_cpu_s", "unit": "s", "better": LOWER},
    {"name": "pipeline.run_pipeline_s", "unit": "s", "better": LOWER},
    {"name": "pipeline.check_for_updates_s", "unit": "s", "better": LOWER},
    {"name": "pipeline.spec_groups", "unit": "count", "better": LOWER},
    {"name": "pipeline.load_mb_per_s", "unit": "MB/s", "better": HIGHER},
    {"name": "pipeline.refresh_s", "unit": "s", "better": LOWER},
    {"name": "pipeline.crosssurvey_query_s", "unit": "s", "better": LOWER},
    *[
        {"name": f"{m}.{k}", "unit": u, "better": LOWER}
        for m in QUERY_LAYERS
        for k, u in (("construct_s", "s"), ("eager_jobs", "count"), ("action_s", "s"),
                     ("executor_cpu_s", "s"), ("shuffle_write_mb", "MB"))
    ],
    {"name": "spark.jobs", "unit": "count", "better": LOWER},
    {"name": "spark.stages", "unit": "count", "better": LOWER},
    {"name": "spark.tasks", "unit": "count", "better": LOWER},
    {"name": "spark.executor_run_s", "unit": "s", "better": LOWER},
    {"name": "spark.executor_cpu_s", "unit": "s", "better": LOWER},
    {"name": "spark.gc_s", "unit": "s", "better": LOWER},
    {"name": "spark.input_mb", "unit": "MB", "better": LOWER},
    {"name": "spark.shuffle_read_mb", "unit": "MB", "better": LOWER},
    {"name": "spark.shuffle_write_mb", "unit": "MB", "better": LOWER},
    {"name": "spark.spill_mb", "unit": "MB", "better": LOWER},
    {"name": "spark.peak_execution_memory_mb", "unit": "MB", "better": LOWER},
    {"name": "spark.task_failures", "unit": "count", "better": LOWER},
    {"name": "spark.driver_peak_rss_mb", "unit": "MB", "better": LOWER},
    {"name": "trace.overhead_frac", "unit": "ratio", "better": LOWER},
]

#: end-to-end ETL figures a traced run also reports, by per-layer name
_ETL_FIGURES = {
    "pipeline.load_mb_per_s": "load_mb_per_s",
    "pipeline.refresh_s": "refresh_s",
    "pipeline.crosssurvey_query_s": "crosssurvey_query_s",
    "sinks.stored_bytes_per_input_byte": "stored_bytes_per_input_byte",
}


def layer_metrics(tracer, log, window: tuple[float, float], e2e: dict, start_s: float,
                  warm_s: float, untraced_pass_s: float | None) -> dict[str, float]:
    """Every PER_LAYER metric; a layer the workload never reached reads 0.

    ``trace.overhead_frac`` is the traced ``pass_s`` over the untraced one
    when an untraced run is on record; otherwise the tracer's own time
    (job tagging and count hooks) over the rest of the timed region."""
    out = {m["name"]: 0.0 for m in PER_LAYER}
    timed = next(s["id"] for s in tracer.spans if s["name"] == "timed")
    in_timed = {s["id"] for s in tracer.spans
                if any(a["id"] == timed for a in tracer.ancestors(s["id"]))}
    self_t = tracer.self_times()
    jobs_of: dict[int, list[int]] = {}
    for jid, job in log.jobs.items():
        if job["span"] in in_timed:
            jobs_of.setdefault(job["span"], []).append(jid)

    def spans_named(prefix: str) -> list[int]:
        return [s for s in in_timed if tracer.spans[s]["name"].startswith(prefix)]

    def jobs(prefix: str) -> list[int]:
        return [j for s in spans_named(prefix) for j in jobs_of.get(s, [])]

    for sid in in_timed:
        key = tracer.spans[sid]["name"] + "_s"
        if key in out:
            out[key] += self_t[sid]
    for name, value in tracer.counts.items():
        if name in out:
            out[name] = value
    for layer in ("cspro_dcf", "fixed_width", "schema_evolution"):
        out[f"{layer}.executor_cpu_s"] = log.totals(jobs(layer + "."))["cpu_s"]
    for layer in QUERY_LAYERS:
        t = log.totals(jobs(layer + "."))
        out[f"{layer}.executor_cpu_s"] = t["cpu_s"]
        out[f"{layer}.shuffle_write_mb"] = t["shuffle_write_mb"]
        out[f"{layer}.eager_jobs"] = len(jobs(f"{layer}.construct"))

    dat_bytes = tracer.counts.get("fixed_width.dat_bytes", 0)
    if dat_bytes:
        demux = log.totals(jobs("fixed_width.demux_write"))
        scans = log.totals(jobs("fixed_width."))
        out["fixed_width.lines"] = demux["input_records"]
        out["fixed_width.mb_per_s"] = dat_bytes / 1e6 / out["fixed_width.demux_write_s"]
        out["fixed_width.input_bytes_per_dat_byte"] = scans["input_mb"] * 1e6 / dat_bytes
        out["fixed_width.known_tag_share"] = 1.0 - (
            tracer.counts.get("fixed_width.unknown_lines", 0) / demux["input_records"])
    for name, key in _ETL_FIGURES.items():
        out[name] = e2e.get(key, 0.0)

    lo, hi = window
    total = log.totals([j for j, job in log.jobs.items() if lo <= job["submitted"] <= hi])
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = total[k]
    out.update({
        "spark.executor_run_s": total["run_s"], "spark.executor_cpu_s": total["cpu_s"],
        "spark.gc_s": total["gc_s"], "spark.input_mb": total["input_mb"],
        "spark.shuffle_read_mb": total["shuffle_read_mb"],
        "spark.shuffle_write_mb": total["shuffle_write_mb"], "spark.spill_mb": total["spill_mb"],
        "spark.peak_execution_memory_mb": total["peak_execution_mb"],
        "spark.task_failures": total["failures"],
        "spark.driver_peak_rss_mb": e2e["peak_rss_mb"],
        "session.start_s": start_s, "session.warm_s": warm_s,
        "trace.overhead_frac": (e2e["pass_s"] / untraced_pass_s - 1.0 if untraced_pass_s
                                else tracer.cost / (hi - lo - tracer.cost)),
    })
    return out

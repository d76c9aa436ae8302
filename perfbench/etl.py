"""``survey_etl``: the paper's pipeline on a generated CSPro corpus.

One cycle, in a fresh staging tree and warehouse of a fresh Spark
application — what one batch ETL run costs a user, JIT and code generation
included:

1. bulk load — ``run_pipeline`` over every bulk survey zip, with the
   metadata spec tables written too, plus the unknown-tag report;
2. refresh — ``check_for_updates`` against a catalog that lists one new
   survey and one re-released survey, then ``run_pipeline`` staging both
   zips into the same staging tree (it re-demuxes every staged survey);
3. cross-survey read-back — each record table through ``read_evolved``,
   the RECH1-RECH4A join on the relation the dictionary declares, one
   ``unpack_map_field`` on the packed record, and a NULL count of the
   v2-only column on v1 surveys.

There is no warm pass: the pipeline runs once per process in real use, so
its first-run cost is part of what it measures. Cycles repeat until the
run's time is spent (at least one). The outputs of the last cycle are
checked against the generator's expectations after the timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import corpus

# Corpus size: households per hh/hh2 survey, per wide survey, and surveys
# per layout. Surveys that share a layout share one demux text scan.
HH_HOUSEHOLDS = 600
WIDE_HOUSEHOLDS = 1000
SURVEYS = {"hh": 3, "hh2": 2, "wide": 2}
RECORD_TABLES = ("RECH0", "RECH1", "RECH4A", "WREC0", "WREC5")
PACKED_TABLE, PACKED_FIELD = "WREC5", "WP000"


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class EtlWorkload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.work = os.path.join(ctx.work, "survey_etl")
        self.failed: dict[str, str] = {}  # operation -> first reason
        self.attempted = 0
        self.latencies: dict[str, list[float]] = {}  # query -> seconds per cycle
        self.phases: dict[str, list[float]] = {}

    # -- inputs -------------------------------------------------------------
    def generate(self) -> None:
        """Write the corpus (not timed)."""
        shutil.rmtree(self.work, ignore_errors=True)
        seed = self.ctx.seed
        self.plan = corpus.plan(seed, HH_HOUSEHOLDS, WIDE_HOUSEHOLDS, SURVEYS)
        self.bulk_exp, self.after_exp = corpus.write_corpus(
            os.path.join(self.work, "corpus"), self.plan, seed)

    def describe(self) -> dict:
        e = self.bulk_exp
        return {
            "dat_mb": round(e.dat_bytes / 1e6, 2), "dat_lines": e.dat_lines,
            "wide_line_share": round(e.wide_lines / e.dat_lines, 4),
            "non_ascii_line_share": round(e.non_ascii_lines / e.dat_lines, 4),
            "surveys_per_layout": SURVEYS,
        }

    # -- operations ---------------------------------------------------------
    def _op(self, name: str, fn):
        """Run one timed operation; an exception marks it failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failed op is reported, not fatal
            self.failed.setdefault(name, f"{type(e).__name__}: {str(e)[:200]}")
            return None
        finally:
            self.phases.setdefault(name, []).append(time.perf_counter() - t0)

    def _load(self, spark, downloads: str, cycle_dir: str, spec: bool):
        from dhs_to_database_spark import pipeline

        tr = self.ctx.tracer
        res = pipeline.run_pipeline(
            spark, os.path.join(cycle_dir, "staging"), os.path.join(cycle_dir, "warehouse"),
            downloads_folder=downloads,
            spec_dir=os.path.join(cycle_dir, "spec") if spec else None,
        )
        with tr.span("fixed_width.unknown_tags"):
            unknown = {(r["surveyid"], r["record_type"]): r["n_lines"]
                       for r in res.unknown_tag_counts.collect()}
        tr.count("fixed_width.unknown_lines", sum(unknown.values()))
        return res, unknown

    def _check_updates(self, spark, res, plan):
        from dhs_to_database_spark import pipeline
        from dhs_to_database_spark.plans import schema_evolution as se

        ids = [(f"XX{sid}DHS", int(sid)) for _l, sid, _n in plan.bulk]
        ids.append((f"XX{plan.new[1]}DHS", int(plan.new[1])))
        catalog = spark.createDataFrame(ids, "SurveyId string, SurveyNum int")
        recent = spark.createDataFrame([(f"XX{plan.rereleased[1]}DHS",)], "SurveyId string")
        presence = [
            se.read_evolved(spark, res.tables[t]).select(
                F.col("surveyid").cast("int").alias("surveyid"))
            for t in ("RECH0", "WREC0")
        ]
        with self.ctx.tracer.span("pipeline.check_for_updates"):
            check = pipeline.check_for_updates(catalog, presence, recent_updates=recent)
            fetch = sorted(r["SurveyNum"] for r in check.survey_data_to_look_for.collect())
            rereleased = sorted(r["SurveyNum"] for r in check.potential_recent_updates.collect())
        return fetch, rereleased

    def _readback_queries(self, spark, res):
        """(name, callable) per read-back query; each ends in one action."""
        from dhs_to_database_spark.plans import schema_evolution as se

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def read(table):
            return lambda: noop(se.read_evolved(spark, res.tables[table]))

        def join():
            rel = [r for r in res.relations.collect() if r["RelName"] == "HH_MEMBERS"][0]
            a = se.read_evolved(spark, res.tables[rel["PrimaryTable"]])
            b = se.read_evolved(spark, res.tables[rel["SecondaryTable"]])
            noop(a.join(b, (a.surveyid == b.surveyid) & (a.CASEID == b.CASEID)
                        & (a[rel["PrimaryLink"]] == b[rel["SecondaryLink"]])))

        def unpack():
            noop(se.unpack_map_field(se.read_evolved(spark, res.tables[PACKED_TABLE]), PACKED_FIELD))

        def v2_nulls():
            v1 = [sid for layout, sid, _n in self.plan.bulk if layout == "hh"]
            rech1 = se.read_evolved(spark, res.tables["RECH1"])
            rech1.filter(F.col("surveyid").isin(v1)).agg(
                F.count(F.when(F.col(corpus.V2_COLUMN).isNull(), 1))).collect()

        return ([(f"read_evolved:{t}", read(t)) for t in RECORD_TABLES]
                + [("cross_level_join", join), ("unpack_map_field", unpack),
                   ("v2_null_count", v2_nulls)])

    def _readback(self, spark, res) -> float:
        t0 = time.perf_counter()
        for name, fn in self._readback_queries(spark, res):
            q0 = time.perf_counter()
            with self.ctx.tracer.span("readback"):
                self._op(name, fn)
            self.latencies.setdefault(name, []).append(time.perf_counter() - q0)
        return time.perf_counter() - t0

    # -- phases -------------------------------------------------------------
    def warm(self, spark) -> None:
        """No warm pass; see the module docstring."""

    def cycle(self, spark, k: int) -> None:
        d = os.path.join(self.work, f"cycle{k}")
        c = os.path.join(self.work, "corpus")
        t0 = time.perf_counter()
        out = self._op("bulk_load", lambda: self._load(spark, os.path.join(c, "bulk"), d, True))
        t_load = time.perf_counter() - t0
        if out is None:
            return
        self.res, self.bulk_unknown = out
        self.stored_bytes = _du(os.path.join(d, "warehouse")) + _du(os.path.join(d, "spec"))
        self.ctx.tracer.count("sinks.bytes_written", self.stored_bytes)
        t1 = time.perf_counter()
        self.updates = self._op("update_check", lambda: self._check_updates(spark, self.res, self.plan))
        out = self._op("refresh", lambda: self._load(spark, os.path.join(c, "refresh"), d, False))
        t_refresh = time.perf_counter() - t1
        if out is None:
            return
        self.res, self.refresh_unknown = out
        t_read = self._readback(spark, self.res)
        mb = self.bulk_exp.dat_bytes / 1e6
        self.phases.setdefault("load_mb_per_s", []).append(mb / t_load)
        self.phases.setdefault("refresh_s", []).append(t_refresh)
        self.phases.setdefault("crosssurvey_query_s", []).append(t_read)
        self.phases.setdefault("pass_s", []).append(t_load + t_refresh + t_read)

    def run(self, spark, seconds: float) -> None:
        start = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() - start < seconds:
            self.cycle(spark, k)
            k += 1
            if self.failed:
                break

    # -- output checks (not timed) -----------------------------------------
    def check(self, spark) -> None:
        from dhs_to_database_spark.plans import schema_evolution as se

        def fail(op: str, why: str) -> None:
            self.failed.setdefault(op, why)

        if not hasattr(self, "res") or "refresh" not in self.phases:
            return
        exp = self.after_exp
        got_rows = {}
        for t in RECORD_TABLES:
            for r in se.read_evolved(spark, self.res.tables[t]).groupBy("surveyid").count().collect():
                got_rows[(t, r["surveyid"])] = r["count"]
        if got_rows != exp.rows:
            fail("refresh", f"rows per (record, survey) differ: {sorted(set(got_rows.items()) ^ set(exp.rows.items()))[:4]}")
        if self.bulk_unknown != self.bulk_exp.unknown:
            fail("bulk_load", "unknown-tag counts differ")
        if self.refresh_unknown != exp.unknown:
            fail("refresh", "unknown-tag counts differ")
        if self.updates != ([int(self.plan.new[1])], [int(self.plan.rereleased[1])]):
            fail("update_check", f"fetch/re-release lists {self.updates}")
        packed = se.read_evolved(spark, self.res.tables[PACKED_TABLE])
        shape = packed.agg(F.count(F.lit(1)).alias("n"), F.min(F.size("data")).alias("lo"),
                           F.max(F.size("data")).alias("hi")).collect()[0]
        if (sorted(packed.columns) != ["CASEID", "data", "surveyid"]
                or tuple(shape) != (exp.packed_rows, corpus.W5_ITEMS, corpus.W5_ITEMS)):
            fail("unpack_map_field", f"packed shape {packed.columns} {tuple(shape)}")
        v1 = [sid for layout, sid, _n in self.plan.bulk if layout == "hh"]
        rech1 = se.read_evolved(spark, self.res.tables["RECH1"]).filter(F.col("surveyid").isin(v1))
        nulls = rech1.agg(F.count(F.when(F.col(corpus.V2_COLUMN).isNull(), 1)).alias("n"),
                          F.count(F.lit(1)).alias("all")).collect()[0]
        if (nulls["n"], nulls["all"]) != (exp.v1_rech1_rows, exp.v1_rech1_rows):
            fail("v2_null_count", f"v2 NULLs {tuple(nulls)} vs {exp.v1_rech1_rows}")
        a = se.read_evolved(spark, self.res.tables["RECH1"])
        b = se.read_evolved(spark, self.res.tables["RECH4A"])
        j = a.join(b, (a.surveyid == b.surveyid) & (a.CASEID == b.CASEID) & (a.HVIDX == b.IDXH4))
        got = j.select(F.crc32(F.concat_ws("|", a.surveyid, a.CASEID, a.HVIDX, a.HV105, b.SH110A)
                               .cast("binary")).alias("c")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("c").alias("crc")).collect()[0]
        if (got["n"], got["crc"]) != (exp.join_rows, exp.join_crc):
            fail("cross_level_join", f"join rows/checksum {tuple(got)} vs {(exp.join_rows, exp.join_crc)}")

    # -- metrics ------------------------------------------------------------
    def metrics(self) -> dict[str, float] | None:
        """Medians over completed cycles; None when no cycle completed."""
        if "pass_s" not in self.phases:
            return None
        med = {k: statistics.median(v) for k, v in self.phases.items()}
        return {
            "pass_s": med["pass_s"],
            "queries_per_min": 60.0 * sum(map(len, self.latencies.values()))
            / sum(self.phases["crosssurvey_query_s"]),
            "load_mb_per_s": med["load_mb_per_s"],
            "refresh_s": med["refresh_s"],
            "crosssurvey_query_s": med["crosssurvey_query_s"],
            "stored_bytes_per_input_byte": self.stored_bytes / self.bulk_exp.dat_bytes,
        }

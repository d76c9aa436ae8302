"""Stage-1 survey-catalog update check (pipeline.check_for_updates).

Fixture reproduction of 01_Check_For_Survey_Updates.ipynb: the three-table
UNION DISTINCT presence probe (raw :1243-1250), the "surveys we don't have"
anti-join (raw :1340), the known-issue exclusions (cells 21-23), and the
GPS branch's characteristic-contains filter + anti-joins (cells 25-34).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dhs_to_database_spark.pipeline import check_for_updates


def _catalog(spark):
    # (SurveyId, SurveyNum, SurveyCharacteristicIds) rows mirroring the
    # DHS API listing shape; characteristic '26' marks GPS availability.
    rows = [
        ("AF2015DHS", 471, "26, 11, 41"),
        ("AL2008DHS", 355, "22, 85, 39"),
        ("AL2017DHS", 525, "26, 10"),
        ("AO2015DHS", 478, "41, 70, 26"),
        ("BD2014DHS", 461, "11, 4"),
        ("BJ2018DHS", 530, "126, 260"),  # substring trap: NOT GPS ('26' not a token)
    ]
    return spark.createDataFrame(
        rows, "SurveyId string, SurveyNum int, SurveyCharacteristicIds string"
    )


def _presence(spark, ids):
    # A record table proves presence by holding >=1 row for the survey;
    # duplicate rows make sure the probe really is DISTINCT.
    return spark.createDataFrame(
        [(i, "x") for i in ids for _ in range(2)], "surveyid int, payload string"
    )


def test_three_way_presence_probe_and_fetch_list(spark):
    catalog = _catalog(spark)
    rech1 = _presence(spark, [471])
    rec01 = _presence(spark, [471, 355])
    mrec01 = _presence(spark, [355])
    known_issues = spark.createDataFrame([(478,)], "surveynum int")

    res = check_for_updates(
        catalog,
        [rech1, rec01, mrec01],
        known_issues=known_issues,
    )
    ours = {r["surveyid"] for r in res.our_surveys.collect()}
    assert ours == {471, 355}  # union-distinct across the three tables
    missing = {r["SurveyNum"] for r in res.surveys_we_dont_have.collect()}
    assert missing == {525, 478, 461, 530}
    fetch = {r["SurveyNum"] for r in res.survey_data_to_look_for.collect()}
    assert fetch == {525, 461, 530}  # 478 excluded as a known issue


def test_recent_updates_inner_join(spark):
    catalog = _catalog(spark)
    updates = spark.createDataFrame(
        [("AF2015DHS", "2020-01-01"), ("ZZ9999DHS", "2020-01-01")],
        "SurveyId string, UpdateDate string",
    )
    res = check_for_updates(
        catalog, [_presence(spark, [471])], recent_updates=updates
    )
    pot = res.potential_recent_updates.collect()
    # inner join: only catalog-known surveys survive (notebook cell 13)
    assert [r["SurveyNum"] for r in pot] == [471]


def test_gps_branch_characteristic_filter(spark):
    catalog = _catalog(spark)
    res = check_for_updates(
        catalog,
        [_presence(spark, [471, 355, 525, 478, 461, 530])],  # all loaded
        gps_presence=_presence(spark, [471]),
        gps_characteristic_col="SurveyCharacteristicIds",
        gps_characteristic="26",
        known_gps_issues=spark.createDataFrame([(478,)], "surveynum int"),
    )
    # GPS-advertised = {471, 525, 478}; we hold 471; 478 is a known issue.
    gps = {r["SurveyNum"] for r in res.gps_data_to_look_for.collect()}
    assert gps == {525}
    # survey branch is unaffected: everything is loaded
    assert res.survey_data_to_look_for.count() == 0


def test_grade_window_invariant():
    """queries() keeps one ordering rule: every oracle-backed query comes
    before every rows-only query, and it lists exactly the registry."""
    import __spark_entry__ as e

    from dhs_to_database_spark.operators import registry

    names = list(e.queries())
    ors = e.oracle_sql()
    backed = [n in ors for n in names]
    assert backed == sorted(backed, reverse=True), (
        "rows-only query precedes an oracle-backed one: "
        f"{names[backed.index(False)]}"
    )
    assert set(names) == set(registry.QUERIES)


def test_no_bare_whitespace_class_in_oracle_gated_patterns():
    """r7 whitespace sweep, made structural: Java's \\s includes \\x0b,
    RE2/DuckDB's does not, so every oracle-gated tokenizer pattern spells
    the class explicitly as [ \\t\\n\\x0b\\f\\r]. This source scan fails
    if any operator module reintroduces a bare \\s inside a
    split/regexp pattern line — the one-engine-edit drift that would
    silently reopen the divergence. (pipeline.py's GPS characteristic
    split is Spark-only — no cross-engine pair — and exempt.)"""
    import glob
    import os
    import re

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "dhs_to_database_spark",
    )
    offenders = []
    for path in glob.glob(os.path.join(root, "operators", "**", "*.py"), recursive=True):
        with open(path) as fh:
            for lineno, line in enumerate(fh, 1):
                # Exempt prose, surgically (ADVICE r7): remove inline
                # ``literal`` spans and the trailing # comment, then scan
                # what's left — a real pattern line with a ``-styled
                # trailing comment no longer evades the sweep. The
                # comment starts at the first '#' with BALANCED quotes
                # before it: a '#' inside a pattern string (e.g.
                # split on "#\\s+") is not a comment and must not hide
                # the rest of the line from the sweep.
                code = re.sub(r"``[^`]*``", "", line)
                parts = code.split("#")
                for i in range(1, len(parts)):
                    prefix = "#".join(parts[:i])
                    if prefix.count('"') % 2 == 0 and prefix.count("'") % 2 == 0:
                        code = prefix
                        break
                if "\\s" not in code:
                    continue
                if "split" in code or "regexp" in code or "rlike" in code:
                    offenders.append(
                        f"{os.path.basename(path)}:{lineno}: {line.strip()}"
                    )
    assert offenders == [], "\n".join(offenders)


def test_shuffle_baseline_covers_every_bench_query():
    """r13: the plan-regression guard (plan_audit.SHUFFLE_BASELINE) must
    name every bench query — a query missing from the budget table would
    turn the guard's add-it failure into a chain-time surprise instead
    of a test-time one, and a stale entry (removed query) rots silently."""
    import importlib.util
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    import bench

    spec = importlib.util.spec_from_file_location(
        "plan_audit_for_test", os.path.join(root, "tools", "plan_audit.py")
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)
    missing = [q for q in bench.BENCH_QUERIES if q not in pa.SHUFFLE_BASELINE]
    stale = [q for q in pa.SHUFFLE_BASELINE if q not in bench.BENCH_QUERIES]
    assert missing == [], f"bench queries without a shuffle budget: {missing}"
    assert stale == [], f"shuffle budgets for unregistered queries: {stale}"

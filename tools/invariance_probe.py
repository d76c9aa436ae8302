"""Invariance harness: one query loop, three bit-exact gates.

Usage: python tools/invariance_probe.py engine|layout|config [sf_dir] [names...]

Every mode runs each selected query on two sides and compares the results
with ``frame_key``: rows sorted, floats as struct-packed bytes, ints as
ints, strings/dates verbatim, arrays and maps element by element. No
normalization, so the comparison is stricter than any value hash.

  engine  Spark vs the DuckDB oracle, every oracle-backed query (default
          sf0.01). A difference that disappears under ``untag`` (int 2
          vs double 2.0) is NORMONLY, any other is BITFAIL; both fail.
  layout  Spark on the corpus vs Spark on a scrambled twin of it (7
          hash-partitioned files, hash-sorted rows), every registered
          query including the rows-only ones (default sf0.001). Physical
          layout is arbitrary on a cluster, so a layout-sensitive result
          is a nondeterministic one. A difference is LAYOUTDIFF.
  config  the tuned ``get_spark`` session vs a vanilla session (a bare
          local builder: default shuffle partitions, Arrow and broadcast
          settings, system timezone), every registered query (default
          sf0.001). Callers of ``__spark_entry__`` bring their own
          session, so a config-sensitive result differs on theirs. Each
          side runs in its own subprocess, since a rebuilt session in one
          JVM can leak SQL conf. A difference is CONFDIFF.

An equal pair prints BITEXACT / LAYOUTOK / CONFOK. A difference on an
allowlisted query prints ALLOWED. The exit code is 1 if any query has a
failing verdict, else 0.

The layout and config modes check invariance, not value correctness: the
engine mode and ``tools/check_oracle.py`` own that. Any session setting a
query needs (nanosAsLong for the events corpus, UTC timestamp semantics)
must be set at runtime inside the library; that contract is why the
vanilla session can demand bit-equality rather than mere execution.

``key_cell`` / ``frame_key`` / ``untag`` and the allowlists import without
side effects, so tests can pin their semantics.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import struct
import subprocess
import sys
import tempfile
from collections import Counter

import numpy as np

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

# Queries whose output legitimately depends on physical input layout.
# Every entry MUST name the semantic (not incidental) dependence and the
# gate that covers the query instead; tests pin the exact contents, so
# adding an entry is a conscious, reviewed act.
LAYOUT_DEPENDENT_OK: dict[str, str] = {
    # Spark's approx_percentile is a Greenwald-Khanna quantile sketch;
    # its estimate depends on partition merge order BY CONSTRUCTION
    # (the registry's rows_only_reason already documents the outputs as
    # engine-specific). Invariant at sf0.001 (sketch exact below the
    # compaction threshold), ±ulp-of-estimate at sf0.01+. Row COUNT is
    # per-group and layout-independent, so the rows-only grade cannot
    # flake; the exact-percentile semantics are hash-gated by the
    # layout-invariant approx_quantile_calibration twin.
    "approx_percentile_orders": (
        "GK sketch estimate depends on partition merge order by"
        " construction; count stable, exact twin"
        " approx_quantile_calibration is the value gate"
    ),
}

# Queries whose output may legitimately differ across session configs.
# Same contract as LAYOUT_DEPENDENT_OK; pinned empty by the tests.
CONFIG_DEPENDENT_OK: dict[str, str] = {}

SCRAMBLE_FILES = 7

_TESTDATA = "/root/testdata"
DEFAULT_SF = {
    "engine": f"{_TESTDATA}/sf0.01",
    "layout": f"{_TESTDATA}/sf0.001",
    "config": f"{_TESTDATA}/sf0.001",
}


def key_cell(v):
    if v is None:
        return ("null",)
    # pandas itertuples yields numpy scalars (np.int64 is NOT a Python int
    # subclass): coerce them to their Python equivalents before tagging so
    # they tag like the Python ints of a nullable object column.
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return ("nan",)
        return ("f", struct.pack("<d", v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    # Array/map cells recurse element-wise. A repr is representation-
    # sensitive (Arrow toPandas yields np.ndarray, "[0.1 0.2]" at numpy's
    # 8-sig-digit print precision, while the non-Arrow path yields a list),
    # so bit-identical arrays could compare unequal and different floats
    # could compare equal after repr rounding.
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(key_cell(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), key_cell(x)) for k, x in v.items())))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return ("s", str(v))


def frame_key(df):
    cols = sorted(df.columns)
    rows = [
        tuple(key_cell(v) for v in rec)
        for rec in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


# Does a frame difference survive the type tag (int-vs-float equivalence)?
# Floats keep their packed bytes (the sign of zero is preserved); an int
# maps to the SAME packed bytes only when it round-trips exactly through
# double, else it stays exact (past 2^53 it never equals a float).
def _untag_cell(c):
    if c[0] == "f":
        return ("n", c[1])
    if c[0] == "i":
        try:
            as_f = float(c[1])
        except OverflowError:
            return c
        if math.isfinite(as_f) and int(as_f) == c[1]:
            return ("n", struct.pack("<d", as_f))
        return c
    return c


def untag(rows):
    return sorted(tuple(_untag_cell(c) for c in r) for r in rows)


def _row_diff(a, b) -> int:
    # multiset difference, not positional zip: one early differing row
    # must not misalign (and overcount) every later row
    ca, cb = Counter(a), Counter(b)
    return sum(((ca - cb) + (cb - ca)).values())


def _gate(names, sides, ok: str, differ, allow: dict[str, str]) -> int:
    """The query loop every mode shares. ``sides(name)`` gives the two
    results to compare; ``differ(a, b)`` gives ``(verdict, detail)`` for
    an unequal pair, which an ``allow`` entry turns into ALLOWED. Prints
    one line per query and a summary; returns the exit code (1 if any
    verdict is neither ``ok`` nor ALLOWED)."""
    verdicts: dict[str, str] = {}
    for name in names:
        a, b = sides(name)
        if a == b:
            verdicts[name] = ok
            print(f"{ok} {name}")
            continue
        verdict, detail = differ(a, b)
        if name in allow:
            verdict, detail = "ALLOWED", f"{detail} ({allow[name]})"
        verdicts[name] = verdict
        print(f"{verdict} {name}: {detail}")
    fails = [n for n, v in verdicts.items() if v not in (ok, "ALLOWED")]
    print(
        f"\n{list(verdicts.values()).count(ok)}/{len(verdicts)} {ok};",
        "allowlisted:",
        [n for n, v in verdicts.items() if v == "ALLOWED"],
        "FAILURES:",
        fails,
    )
    return 1 if fails else 0


def scramble_corpus(spark, sf_dir: str, out_dir: str) -> None:
    """Write a scrambled twin of every corpus table under out_dir.

    Reads through load_table (the engine-canonical, value-preserving path:
    events' nanos/NTZ timestamps normalize identically on both sides),
    hash-partitions into SCRAMBLE_FILES files and hash-sorts within each,
    so no dimension of the original single-file layout survives.
    """
    from pyspark.sql import functions as F

    from dhs_to_database_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        df = load_table(spark, sf_dir, t)
        key = F.xxhash64(*[F.col(c) for c in df.columns])
        (
            df.repartition(SCRAMBLE_FILES, key)
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"{t}.parquet"))
        )


def _spark_key(spark, fn, sf: str):
    return frame_key(fn(spark, sf).toPandas())


def _engine(sf: str, names: list[str]) -> int:
    import duckdb

    import __spark_entry__ as em
    from dhs_to_database_spark.session import get_spark
    from dhs_to_database_spark.sources.tables import TABLE_NAMES

    spark = get_spark("invariance_probe")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    qs, ors = em.queries(), em.oracle_sql()

    def sides(name):
        return _spark_key(spark, qs[name], sf), frame_key(con.execute(ors[name]).fetchdf())

    def differ(a, b):
        if untag(a) == untag(b):
            return "NORMONLY", f"int-vs-float tag only ({_row_diff(a, b)} rows)"
        return "BITFAIL", f"{_row_diff(a, b)} differing rows"

    return _gate(names, sides, "BITEXACT", differ, allow={})


def _layout(sf: str, names: list[str]) -> int:
    import __spark_entry__ as em
    from dhs_to_database_spark.session import get_spark

    spark = get_spark("invariance_probe")
    qs = em.queries()
    with tempfile.TemporaryDirectory(prefix="layout_twin_") as twin:
        scramble_corpus(spark, sf, twin)
        return _gate(
            names,
            lambda name: (_spark_key(spark, qs[name], sf), _spark_key(spark, qs[name], twin)),
            "LAYOUTOK",
            lambda a, b: ("LAYOUTDIFF", f"{_row_diff(a, b)} differing rows"),
            allow=LAYOUT_DEPENDENT_OK,
        )


def _config_worker(session: str, sf: str, out_path: str, names: list[str]) -> None:
    """Write {name: sha256 of repr(frame_key)} for one session kind."""
    from pyspark.sql import SparkSession

    import __spark_entry__ as em
    from dhs_to_database_spark.session import get_spark

    if session == "tuned":
        spark = get_spark("invariance_probe_tuned")
    else:
        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    qs = em.queries()
    digests = {
        name: hashlib.sha256(repr(_spark_key(spark, qs[name], sf)).encode()).hexdigest()
        for name in names
    }
    with open(out_path, "w") as fh:
        json.dump(digests, fh)


def _config(sf: str, names: list[str]) -> int:
    maps: dict[str, dict[str, str]] = {}
    with tempfile.TemporaryDirectory(prefix="config_probe_") as tmp:
        for session in ("tuned", "vanilla"):
            out = os.path.join(tmp, f"{session}.json")
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", session, sf, out, *names],
                check=True,
                cwd=_REPO_ROOT,
            )
            with open(out) as fh:
                maps[session] = json.load(fh)
    return _gate(
        names,
        lambda name: (maps["tuned"][name], maps["vanilla"].get(name)),
        "CONFOK",
        lambda a, b: ("CONFDIFF", f"tuned {a[:12]} vs vanilla {str(b)[:12]}"),
        allow=CONFIG_DEPENDENT_OK,
    )


MODES = {"engine": _engine, "layout": _layout, "config": _config}


def main(argv: list[str]) -> int:
    if argv[:1] == ["--worker"]:
        session, sf, out, *names = argv[1:]
        _config_worker(session, sf, out, names)
        return 0
    if not argv or argv[0] not in MODES:
        print("usage: invariance_probe.py engine|layout|config [sf_dir] [names...]", file=sys.stderr)
        return 2
    mode, sf, *only = argv if len(argv) > 1 else [argv[0], DEFAULT_SF[argv[0]]]

    import __spark_entry__ as em

    qs, ors = em.queries(), em.oracle_sql()
    universe = [n for n in qs if mode != "engine" or n in ors]
    unknown = [n for n in only if n not in universe]
    if unknown:
        print(f"not {mode}-probeable: {unknown}", file=sys.stderr)
        return 2
    return MODES[mode](sf, only or universe)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

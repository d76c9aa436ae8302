"""Construction sweep (optimization-round instrument, r14/r15).

Times queries[name](spark, sf_dir) ALONE — the driver-side DataFrame
construction, including any eager checkpoint/collect jobs the construction
runs — for every bench query. Only the session is warmed (table loads and
one calibration query); there is no per-query warm-up construction. Each
query is constructed n times and the minimum is reported, which absorbs
first-construction noise (construction is dominated by py4j round-trips,
which do not JIT-warm). Ranks the chattiest constructions so the one-parse
expression consolidation pattern can be applied where it pays.

Usage: python tools/consweep.py [--sf SF_DIR] [-n N] [query ...]
       (no query args = the full bench list)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("-n", type=int, default=2, help="constructions per query; min is reported")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import bench as bench_mod
    import __spark_entry__ as em
    from dhs_to_database_spark.session import get_spark
    from dhs_to_database_spark.sources.tables import TABLE_NAMES, load_table

    spark = get_spark("consweep")
    qs = em.queries()
    for t in TABLE_NAMES:
        load_table(spark, args.sf, t).count()
    qs["sort_limit"](spark, args.sf).collect()

    names = args.queries or bench_mod.BENCH_QUERIES
    out = {}
    for name in names:
        runs = []
        for i in range(args.n):
            spark.sparkContext.setJobDescription(f"consweep:{name}#{i}")
            t0 = time.time()
            qs[name](spark, args.sf)
            runs.append(time.time() - t0)
        out[name] = round(min(runs), 3)
    spark.sparkContext.setJobDescription(None)
    total = round(sum(out.values()), 3)
    print(json.dumps({"construction_total_sec": total, "queries": out}))
    for k, v in sorted(out.items(), key=lambda x: -x[1])[:25]:
        print(f"{v:7.3f}  {k}", file=sys.stderr)


if __name__ == "__main__":
    main()

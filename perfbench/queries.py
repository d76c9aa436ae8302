"""``query_mix``: registered engine queries on generated star-schema,
events, documents and embeddings tables.

One cell per operator module, plus the cells the roadmap names. Each pass
runs every cell once, in an order drawn from the seed; a cell's latency is
its construction (the registered callable, including any jobs it fires
eagerly) plus its final action, a ``noop`` write.

Outputs are checked once per run, before timing: the Spark result of every
oracle-backed cell must hash equal to DuckDB running the cell's
``oracle_sql()`` on the same files (hash rules as the repository's oracle
gate). Every cell is oracle-backed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import time

import tables

#: cell -> layer, one cell per layer. Layers are the engine's operator
#: modules; bpe, ranking, multimodal and layout share ``operators_other``;
#: the ``events`` and ``stateful`` streaming modules are ``streaming``.
#: Where a layer has no roadmap-named cell it gets one of its cheapest
#: oracle-backed cells, so that three passes fit a run (see DESIGN.md).
CELLS = {
    "rowid_join": "relational",
    "latest_version_per_group": "metadata",
    "tumbling_window": "windows",
    "setsim_join_prefix": "dedup",
    "embedding_centroids": "similarity",
    "token_count": "text_analysis",
    "train_test_split": "sampling",
    "dedup_components": "clustering",
    "featurize_calibration": "classifier",
    "streaming_window_counts": "streaming",
    "bpe_merge_calibration": "operators_other",
}
#: untimed passes after the checking pass: the first pass after a single
#: cold one still ran 20-50% slower than the later ones (JIT and code
#: generation still settling), and a run has room for one timed pass only
WARM_PASSES = 1
LAYERS = ("relational", "metadata", "windows", "dedup", "similarity", "text_analysis",
          "sampling", "clustering", "classifier", "streaming", "operators_other")


def norm_cell(v) -> str:
    """Cell rendering for the order-insensitive value hash: NULL and NaN
    alike, integral floats as integers, IEEE -0.0 kept distinct."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        if v == int(v) and abs(v) < 1e15:
            if v == 0.0 and math.copysign(1.0, v) < 0.0:
                return "-0"
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def frame_hash(df) -> str:
    """Rows sorted, columns sorted by name, cells through ``norm_cell``."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(norm_cell(v) for v in rec)
                  for rec in df[cols].itertuples(index=False, name=None))
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def _data_key(oracles: dict[str, str]) -> str:
    """Identity of the built data: generator source, scale and the cells'
    oracle SQL. A change to any of them rebuilds."""
    with open(tables.__file__, "rb") as f:
        src = f.read()
    text = json.dumps([tables.SCALE, tables.SEED, {n: oracles[n] for n in CELLS}])
    return hashlib.sha256(src + text.encode()).hexdigest()[:16]


def build_data(data_dir: str, oracle_path: str, key: str, oracles: dict[str, str]) -> None:
    """Write the tables and each cell's DuckDB row count, columns and
    value hash. Runs once per checkout; the results are reused."""
    import duckdb

    tables.write(data_dir)
    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {"key": key}
    for name in CELLS:
        ddf = con.execute(oracles[name]).fetchdf()
        out[name] = {"rows": len(ddf), "columns": sorted(ddf.columns), "hash": frame_hash(ddf)}
    tmp = oracle_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    os.replace(tmp, oracle_path)


class QueryWorkload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "tables")
        self.oracle_path = os.path.join(ctx.work, "oracle.json")
        self.failed: dict[str, str] = {}  # cell -> first reason
        self.attempted = 0
        self.latencies: dict[str, list[float]] = {}  # cell -> seconds per pass
        self.passes: list[float] = []

    def generate(self) -> None:
        import __spark_entry__ as em

        oracles = em.oracle_sql()
        key = _data_key(oracles)
        if os.path.exists(self.oracle_path):
            with open(self.oracle_path) as f:
                self.oracle = json.load(f)
            if self.oracle.get("key") == key:
                return
        build_data(self.data, self.oracle_path, key, oracles)
        with open(self.oracle_path) as f:
            self.oracle = json.load(f)

    def describe(self) -> dict:
        return {"scale": tables.SCALE, "cells": len(CELLS), "layers": len(LAYERS)}

    def _run_cell(self, spark, fn, name: str, action):
        tr = self.ctx.tracer
        layer = CELLS[name]
        with tr.span(f"{layer}.construct"):
            df = fn(spark, self.data)
        with tr.span(f"{layer}.action"):
            return action(df)

    def _noop_pass(self, spark, qs, names) -> dict[str, float]:
        """Run the cells in ``names`` order, each to a ``noop`` write;
        return each cell's latency."""
        out = {}
        for name in names:
            q0 = time.perf_counter()
            try:
                self._run_cell(spark, qs[name], name,
                               lambda df: df.write.format("noop").mode("overwrite").save())
            except Exception as e:  # noqa: BLE001 - a failed cell is reported, not fatal
                self.failed.setdefault(name, f"{type(e).__name__}: {str(e)[:200]}")
            out[name] = time.perf_counter() - q0
        return out

    def warm(self, spark) -> None:
        """Run every cell once and check its output, then ``WARM_PASSES``
        passes as the timed region runs them. The check's hashing is
        excluded from the warm-up time."""
        import __spark_entry__ as em

        qs = em.queries()
        self.hash_s = 0.0
        for name in CELLS:
            try:
                pdf = self._run_cell(spark, qs[name], name, lambda df: df.toPandas())
            except Exception as e:  # noqa: BLE001 - a failed cell is reported, not fatal
                self.failed.setdefault(name, f"{type(e).__name__}: {str(e)[:200]}")
                continue
            h0 = time.perf_counter()
            got = {"rows": len(pdf), "columns": sorted(pdf.columns), "hash": frame_hash(pdf)}
            if got != self.oracle[name]:
                self.failed.setdefault(name, "output differs from the DuckDB oracle")
            self.hash_s += time.perf_counter() - h0
        for _ in range(WARM_PASSES):
            self._noop_pass(spark, qs, list(CELLS))

    def run(self, spark, seconds: float) -> None:
        import __spark_entry__ as em

        qs = em.queries()
        rng = random.Random(self.ctx.seed)
        names = list(CELLS)
        start = time.perf_counter()
        while not self.passes or time.perf_counter() - start < seconds:
            rng.shuffle(names)
            p0 = time.perf_counter()
            for name, s in self._noop_pass(spark, qs, names).items():
                self.latencies.setdefault(name, []).append(s)
            self.passes.append(time.perf_counter() - p0)
            self.attempted += len(names)

    def check(self, spark) -> None:
        """Outputs were checked in the warm pass."""

    def metrics(self) -> dict[str, float]:
        return {
            "pass_s": statistics.median(self.passes),
            "queries_per_min": 60.0 * sum(map(len, self.latencies.values())) / sum(self.passes),
        }

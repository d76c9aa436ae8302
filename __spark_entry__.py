"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``dhs_to_database_spark``; operator modules register
their judge-facing queries in ``dhs_to_database_spark.operators.registry``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def _registry():
    # Importing the operator modules populates the registry.
    from dhs_to_database_spark.operators import registry  # noqa: F401
    from dhs_to_database_spark.operators import (  # noqa: F401
        bpe,
        classifier,
        clustering,
        dedup,
        layout,
        metadata,
        multimodal,
        ranking,
        relational,
        sampling,
        similarity,
        text_analysis,
        windows,
    )
    from dhs_to_database_spark.streaming import events, stateful  # noqa: F401

    return registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §2.B B20) on /root/testdata/sf0.001."""
    reg = _registry()
    return reg.QUERIES["flagship_cross_level"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Every oracle-backed query comes first, in registry order, then every
    rows-only query (no DuckDB-expressible oracle).
    """
    reg = _registry()
    qs, ors = reg.QUERIES, reg.ORACLES
    names = [n for n in qs if n in ors] + [n for n in qs if n not in ors]
    return {n: qs[n] for n in names}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (same column aliases)."""
    return dict(_registry().ORACLES)

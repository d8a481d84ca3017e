"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship q8-shaped query (atTime + duration +
&&-join + aggregate) at sf0.001. `queries()` / `oracle_sql()` expose the
oracle-checkable registry in mobilityduck_spark.queries — one entry per
implemented operator family from SURVEY.md §2.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from mobilityduck_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return Q.queries()["attime_duration"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()


def release_caches() -> int:
    """Session teardown: release every pin mobilityduck_spark.cache
    holds, both the per-call operator pins and the session pins behind
    its memos (index fits, BerlinMOD intermediates, assembled temporal
    tables), and forget the memos. Call at shutdown of a long-lived
    driver session so storage memory is returned; results are never
    affected, only what stays cached. Returns the number of pins
    released."""
    return Q.release_operator_caches(session_scoped=True)

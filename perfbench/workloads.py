"""The benchmark's workloads: which registry queries one pass runs and the
set-up that builds their session-scoped caches.

Each pass runs every query of its workload once, in an order drawn from
the run's seed, and forces it with the noop sink. The engine receives only
the committed input tables.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable


def _setup_temporal(spark, data_dir: str, span) -> None:
    """Build the session-scoped temporal pins the temporal queries read."""
    from mobilityduck_spark import berlinmod
    from mobilityduck_spark import queries as Q
    from mobilityduck_spark.sources import tables

    with span("berlinmod.warm", "berlinmod"):
        berlinmod.warm_caches(spark, data_dir)
    with span("sources.temporal", "sources"):
        tables.user_tfloat(spark, data_dir).count()
        tables.user_tbool(spark, data_dir).count()
        Q._user_trajectories(spark, data_dir).count()


def _setup_none(spark, data_dir: str, span) -> None:
    """No session-scoped caches: the queries create and drop their own
    per-call pins, so set-up is the session start alone."""


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple
    setup: Callable
    # untimed passes after the oracle pass; the pipeline queries keep
    # speeding up for several passes while the JVM compiles their code
    warmup_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="temporal",
            queries=(
                "bm_q6", "bm_q10", "attime_duration", "tfloat_stats",
                "when_true_total", "traj_length",
            ),
            setup=_setup_temporal,
            warmup_passes=1,
        ),
        Workload(
            name="pipeline",
            queries=(
                "doc_minhash_recall", "embed_near_dups", "customer_snm_matches",
            ),
            setup=_setup_none,
            warmup_passes=2,
        ),
    )
}

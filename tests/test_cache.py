"""The one pin lifecycle (mobilityduck_spark.cache): scoping of pins made
inside and outside memo builds, release that survives a failing handle,
and the persistent-RDD count returning to its baseline after a query,
after a failed eager materialization and after session teardown."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

import __spark_entry__ as entry_mod
from mobilityduck_spark import berlinmod as BMQ
from mobilityduck_spark import cache
from mobilityduck_spark import queries as Q
from mobilityduck_spark.operators import graph as G
from mobilityduck_spark.operators import similarity as SIM
from mobilityduck_spark.sources import tables as SRC

SF = "/root/testdata/sf0.001"


class _FakeDF:
    """Records persist/unpersist calls; optionally fails to unpersist."""

    def __init__(self, fail=False):
        self.fail, self.level, self.released = fail, "unset", False

    def persist(self, level=None):
        self.level = level
        return self

    def unpersist(self):
        if self.fail:
            raise RuntimeError("unpersist failed")
        self.released = True


@pytest.fixture
def empty_cache():
    cache.release(session=True)
    yield
    cache.release(session=True)


def test_memo_build_pins_are_session_pins(empty_cache):
    call = cache.pin(_FakeDF())
    built = cache.memo(("k",), lambda: cache.pin(_FakeDF(), "LEVEL"))
    assert cache.memo(("k",), lambda: pytest.fail("memo rebuilt")) is built
    assert built.level == "LEVEL" and call.level is None
    assert cache.release() == 1
    assert call.released and not built.released
    assert cache.memo(("k",), lambda: pytest.fail("memo rebuilt")) is built
    assert cache.release(session=True) == 1
    assert built.released
    rebuilt = cache.memo(("k",), _FakeDF)
    assert rebuilt is not built


def test_unkeyed_memo_pins_belong_to_the_call(empty_cache):
    df = cache.memo(None, lambda: cache.pin(_FakeDF()))
    assert cache.release() == 1 and df.released


def test_failing_unpersist_does_not_strand_later_pins(empty_cache):
    ok = [cache.pin(_FakeDF()), cache.pin(_FakeDF(fail=True)),
          cache.pin(_FakeDF())]
    assert cache.release() == 2
    assert ok[0].released and ok[2].released
    assert not cache._CALL_PINS


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_semantic_dedup_pins_are_call_pins(spark):
    """semantic_dedup builds its cell assignment outside any memo, so
    the per-query release must drop it."""
    Q.release_operator_caches()
    base = _persistent(spark)
    Q.queries()["embed_semantic_dedup"](spark, SF).collect()
    assert _persistent(spark) > base
    Q.release_operator_caches()
    assert _persistent(spark) == base


@F.udf(LongType())
def _boom(x):
    raise ValueError("edge UDF failure")


def _bad_edges(spark):
    return spark.range(8).select(
        _boom(F.col("id")).alias("a"), (F.col("id") + 1).alias("b"),
        F.lit(1).cast("long").alias("w"),
    )


def _bad_embeddings(spark):
    return spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(*[_boom(F.col("id")).cast("float")] * 64).alias("embedding"),
    )


@pytest.mark.parametrize(
    "run",
    [
        lambda s: G.kcore(_bad_edges(s), k=2),
        lambda s: G.label_propagation(_bad_edges(s), src="a", dst="b"),
        lambda s: SIM.embedding_near_dup_pairs(_bad_embeddings(s)),
        lambda s: SIM.rademacher_near_dups(_bad_embeddings(s)),
    ],
    ids=["kcore", "label_propagation", "embedding_near_dup_pairs",
         "rademacher_near_dups"],
)
def test_failed_eager_count_leaves_no_pin(spark, run):
    """The pin is registered before its eager count, so a count that
    raises mid-materialization is still released."""
    Q.release_operator_caches()
    base = _persistent(spark)
    with pytest.raises(Exception, match="edge UDF failure"):
        run(spark)
    Q.release_operator_caches()
    assert _persistent(spark) == base


def test_teardown_releases_session_pins(spark):
    """__spark_entry__.release_caches() drops every session pin: the
    BerlinMOD intermediates, the assembled temporal tables and a
    memoized IVF fit."""
    entry_mod.release_caches()
    base = _persistent(spark)
    BMQ.warm_caches(spark, SF)
    SRC.user_tfloat(spark, SF).count()
    SRC.user_tbool(spark, SF).count()
    Q._user_trajectories(spark, SF).count()
    Q.queries()["embed_ivf_full_probe"](spark, SF).collect()
    Q.release_operator_caches()
    # trips, flat trips, point hits, segments, licence-1 segments,
    # vehicles, tfloat, tbool, trajectories and the IVF assignment
    assert _persistent(spark) >= base + 10
    entry_mod.release_caches()
    assert _persistent(spark) == base

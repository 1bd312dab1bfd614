"""distributed_row_number — parity with the ungrouped global row_number.

The lazy rank (operators/rank.py) must be BIT-identical to
``row_number() OVER (ORDER BY ...)`` for any total-order key, under any
physical config, while never planning a single-task global sort over the
data, never running a job when it is called and never leaving persisted
blocks behind.
"""

from __future__ import annotations

import contextlib
import random
import uuid

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.rank import (
    distributed_row_number,
)


@contextlib.contextmanager
def _conf(spark, settings: dict):
    old = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _partitions(n: int) -> dict:
    """Conf for an ``n``-way range exchange that AQE does not coalesce,
    so small inputs still spread over several partitions."""
    return {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }


def _global_ranked(df, order_by):
    w = Window.orderBy(*order_by)
    return df.withColumn("_rk", F.row_number().over(w).cast("long"))


def test_rank_parity_random(spark):
    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50), rng.random()) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, k long, v double")
    order = [F.col("k").desc(), F.col("id").asc()]
    with _conf(spark, _partitions(7)):
        got = distributed_row_number(df, order).select("id", "_rk")
        assert got.rdd.getNumPartitions() == 7
        want = _global_ranked(df, order).select("id", "_rk")
        assert got.join(want, "id").filter(
            got["_rk"] != want["_rk"]
        ).count() == 0  # noqa: E712 — full anti-parity check
        # ranks are a permutation of 1..n
        n = df.count()
        assert got.agg(F.min("_rk"), F.max("_rk"), F.count("*")).first() == (
            1,
            n,
            n,
        )


def test_rank_heavy_ties(spark):
    # 90% of rows share one key value — ties must resolve by the unique
    # tie-break column identically to the global window.
    rows = [(i, 0 if i % 10 else i) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, k long")
    order = [F.col("k").asc(), F.col("id").asc()]
    with _conf(spark, _partitions(5)):
        got = distributed_row_number(df, order)
        want = _global_ranked(df, order)
        mismatches = (
            got.select("id", F.col("_rk").alias("g"))
            .join(want.select("id", F.col("_rk").alias("w")), "id")
            .filter(F.col("g") != F.col("w"))
            .count()
        )
    assert mismatches == 0


def test_rank_empty_and_single(spark):
    empty = spark.createDataFrame([], "id long, k long")
    one = spark.createDataFrame([(1, 9)], "id long, k long")
    with _conf(spark, _partitions(4)):
        assert distributed_row_number(empty, [F.col("k")]).count() == 0
        assert distributed_row_number(one, [F.col("k")]).first()["_rk"] == 1


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_distributed_rank_plan(plan: str) -> None:
    # the rank is Spark's distributed sequence over a range-partitioned
    # sort: no Window at all, and no exchange into a single partition
    assert "AttachDistributedSequence" in plan, plan
    assert "rangepartitioning" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_rank_no_ungrouped_window(spark):
    # The physical plan must not contain the single-task shape this
    # operator removes.
    df = spark.range(10000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    ranked = distributed_row_number(df, [F.col("k").asc(), F.col("id").asc()])
    _assert_distributed_rank_plan(_executed_plan(ranked))


def _wait_for_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_rank_runs_no_job_when_called(spark):
    """The rank is a plan transformation: building it (and planning it)
    fires no Spark job; only an action on the result does."""
    sc = spark.sparkContext
    df = spark.range(5000).select(F.col("id"), (F.col("id") % 13).alias("k"))
    group = f"rank-lazy-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "distributed_row_number laziness")
    try:
        ranked = distributed_row_number(df, [F.col("k").desc(), F.col("id").asc()])
        _executed_plan(ranked)
        _wait_for_listeners(spark)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        ranked.agg(F.sum("_rk")).collect()
        _wait_for_listeners(spark)
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _persistent_rdd_ids(spark) -> set:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_rank_leaves_no_persisted_rdd(spark):
    """The sequence operator caches its sorted child for the count and
    index passes and unpersists it when the query ends; the returned
    DataFrame pins nothing."""
    before = _persistent_rdd_ids(spark)
    df = spark.range(20000).select(F.col("id"), (F.col("id") % 97).alias("k"))
    with _conf(spark, _partitions(5)):
        ranked = distributed_row_number(df, [F.col("k").asc(), F.col("id").asc()])
        assert ranked.agg(F.sum("_rk")).first()[0] == 20000 * 20001 // 2
        assert len(ranked.collect()) == 20000
    assert _persistent_rdd_ids(spark) - before == set()


#: ROADMAP's physical-config perturbations that apply to this operator
_PERTURBATIONS = {
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "shuffle_1": {"spark.sql.shuffle.partitions": "1"},
    "shuffle_37": {"spark.sql.shuffle.partitions": "37"},
    "shuffle_37_uncoalesced": _partitions(37),
    "no_exchange_reuse": {"spark.sql.exchange.reuse": "false"},
    "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
}


@pytest.mark.parametrize("perturb", sorted(_PERTURBATIONS))
def test_rank_parity_under_physical_configs(spark, perturb):
    """Bit-identical to the ungrouped row_number under each config, also
    when one plan consumes the rank twice (a self-join: the second branch
    is recomputed unless its exchange is reused)."""
    rng = random.Random(23)
    rows = [(i, rng.randint(0, 40)) for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, k long")
    order = [F.col("k").desc(), F.col("id").asc()]
    with _conf(spark, _PERTURBATIONS[perturb]):
        want = dict(_global_ranked(df, order).select("id", "_rk").collect())
        ranked = distributed_row_number(df, order)
        a, b = ranked.alias("a"), ranked.alias("b")
        twice = a.join(b, F.col("a.id") == F.col("b.id")).select(
            F.col("a.id"), F.col("a._rk"), F.col("b._rk")
        )
        got = twice.collect()
        assert len(got) == len(rows)
        assert {r[0]: r[1] for r in got} == want
        assert all(r[1] == r[2] for r in got)


def test_no_unpartitioned_window_in_plan(spark):
    """The structural point of the distributed rank: the physical plan
    must contain no ungrouped WindowExec (the 'No Partition Defined'
    shape that collapses data to one task) and no single-partition
    exchange."""
    # k is a permutation of id: a plain alias of spark.range's id would
    # let the optimizer drop the sort (Range output is already ordered)
    df = spark.range(100).select(
        (F.col("id") * 37 % 100).alias("k"), (F.col("id") % 7).alias("v")
    )
    _assert_distributed_rank_plan(
        _executed_plan(distributed_row_number(df, [F.col("k").asc()], "_rk"))
    )

"""Bucketed-join plan test: both sides bucketed on the join key ->
SortMergeJoin with no Exchange (the shuffle-free co-located join that
makes repeated fact-fact joins viable at 100 TB)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.bucketed import (
    read_table,
    write_bucketed,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.tables import (
    load_table,
)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    # spark.sql.warehouse.dir is static; tables land in ./spark-warehouse
    # (gitignored) and are dropped at the end
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt")
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    write_bucketed(ev.select("event_id", "user_id", "value"), "bkt.ev",
                   ["user_id"], num_buckets=8, sort_cols=["user_id"])
    write_bucketed(daily, "bkt.daily", ["user_id"], num_buckets=8,
                   sort_cols=["user_id"])
    joined = read_table(spark, "bkt.ev").join(
        read_table(spark, "bkt.daily").hint("merge"), "user_id"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join still shuffles"
    # and it computes the right thing
    assert joined.count() > 0
    spark.sql("DROP TABLE IF EXISTS bkt.ev")
    spark.sql("DROP TABLE IF EXISTS bkt.daily")


def _ensure_tables(spark):
    return {t.name for t in spark.catalog.listTables()}


def test_ensure_bucketed_reregistration_and_gc(spark, tmp_path):
    """Round-9 ADVICE (medium): the cross-session re-registration path
    must produce valid DDL for nested types and reserved column names —
    exercised here by dropping the catalog entry (what a new session
    sees) and re-registering against the on-disk files. A new bucket
    count must build a new layout, not re-register the old one. Also
    pins the stale-layout GC: rebuilding after a source regeneration
    prunes the old size+mtime sibling."""
    import os
    import time

    from pyspark.sql import Row

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.bucketed import (
        _ROOT,
        ensure_bucketed,
    )

    src = str(tmp_path / "nested_src.parquet")
    rows = [
        Row(k=i, select=f"s{i}", meta=Row(a=i * 2, b=f"b{i}"))
        for i in range(20)
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)

    before = _ensure_tables(spark)
    out1 = ensure_bucketed(spark, df, src, "k", n_buckets=4)
    name = next(iter(_ensure_tables(spark) - before))
    expect = sorted(
        (r.k, r.select, r.meta.a, r.meta.b) for r in df.collect()
    )
    got1 = sorted(
        (r.k, r.select, r.meta.a, r.meta.b) for r in out1.collect()
    )
    assert got1 == expect

    # simulate a fresh session: catalog entry gone, files + marker stay
    spark.sql(f"DROP TABLE `{name}`")
    out2 = ensure_bucketed(spark, df, src, "k", n_buckets=4)
    got2 = sorted(
        (r.k, r.select, r.meta.a, r.meta.b) for r in out2.collect()
    )
    assert got2 == expect, "metadata-only re-registration misread data"
    # and the re-registered table still carries the bucket spec
    plan = (
        out2.join(out2.hint("merge").alias("b"), "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan

    # a changed bucket spec is a different layout: a fresh session that
    # asks for 8 buckets must not re-register the 4-bucket files as 8
    # (bucket pruning would then read the wrong file for a point lookup)
    spark.sql(f"DROP TABLE `{name}`")
    out8 = ensure_bucketed(spark, df, src, "k", n_buckets=8)
    missed = [k for k in range(20) if out8.filter(F.col("k") == k).count() != 1]
    assert missed == [], f"{len(missed)} of 20 point lookups missed their row"
    name = next(iter(_ensure_tables(spark) - before))

    # GC: regenerate the source (new mtime -> new tag); the stale
    # layout directory must be pruned by the new build
    old_dir = os.path.join(_ROOT, name)
    assert os.path.exists(old_dir)
    time.sleep(1.1)  # mtime granularity
    spark.createDataFrame(rows[:10]).write.mode("overwrite").parquet(src)
    df2 = spark.read.parquet(src)
    out3 = ensure_bucketed(spark, df2, src, "k", n_buckets=4)
    assert out3.count() == 10
    assert not os.path.exists(old_dir), "stale bucketed layout not GC'd"

    # cleanup catalog entries this test created
    for t in _ensure_tables(spark) - before:
        spark.sql(f"DROP TABLE IF EXISTS `{t}`")

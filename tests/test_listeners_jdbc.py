"""Notification listener (S18/ST6) observed against a real streaming
query, and JDBC writer configuration (S15)."""

from __future__ import annotations

import time


def test_run_notification_listener(spark, tmp_path):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.listeners import (
        RunNotificationListener,
    )

    published = []
    listener = RunNotificationListener(lambda topic, p: published.append(topic))
    spark.streams.addListener(listener)
    try:
        df = spark.readStream.format("rate").option("rowsPerSecond", "10").load()
        q = (
            df.writeStream.format("memory")
            .queryName("listener_probe")
            .trigger(processingTime="1 second")
            .start()
        )
        time.sleep(4)
        q.stop()
        q.awaitTermination(30)
        # give the listener bus a moment to drain
        deadline = time.time() + 15
        while time.time() < deadline and "query_terminated" not in [
            e["topic"] for e in listener.events
        ]:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    topics = [e["topic"] for e in listener.events]
    assert "query_started" in topics
    assert "query_terminated" in topics
    term = [e for e in listener.events if e["topic"] == "query_terminated"][0]
    assert term["status"] == "completed"
    assert published  # the injected publisher actually fired


def test_listener_reports_batch_breakdown(spark, tmp_path):
    """Each query_progress payload carries the batch's phase durations
    and its state operators summed: commit time, rows, memory and the
    state-store width."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.listeners import (
        RunNotificationListener,
    )

    src = tmp_path / "src"
    spark.range(50).selectExpr("id % 5 AS k").write.json(str(src))
    listener = RunNotificationListener(lambda topic, p: None)
    spark.streams.addListener(listener)
    try:
        q = (
            spark.readStream.schema("k long")
            .json(str(src))
            .groupBy("k")
            .count()
            .writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        deadline = time.time() + 15
        while time.time() < deadline and "query_terminated" not in [
            e["topic"] for e in listener.events
        ]:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    [batch] = [
        e
        for e in listener.events
        if e["topic"] == "query_progress" and e["num_input_rows"] > 0
    ]
    assert {
        "queryPlanning", "addBatch", "walCommit", "commitOffsets",
        "triggerExecution",
    } <= set(batch["duration_ms"])
    assert batch["state_rows"] == 5
    assert batch["state_commit_ms"] >= 0
    assert batch["state_memory_bytes"] > 0
    assert batch["state_partitions"] == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_jdbc_writer_configured_not_executed(spark):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.jdbc import (
        jdbc_writer,
    )

    df = spark.createDataFrame([(1, "ok")], "run_id int, status string")
    w = jdbc_writer(
        df, "jdbc:postgresql://db:5432/meta", "public.ohlcv_metadata", "u", "p"
    )
    # construction succeeds without a database; execution (.save) needs one
    assert w is not None

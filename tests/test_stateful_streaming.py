"""Custom stateful streaming operator: running VWAP state must survive
micro-batch boundaries (maxFilesPerTrigger=1 forces one batch per file)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
    bronze_to_silver,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.schemas import (
    RAW_ENVELOPE_SCHEMA,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.stateful import (
    streaming_vwap,
)

# two files = two micro-batches; candles [ts, o, h, l, close, volume]
BATCH1 = [[1704099300.0, 10, 11, 9, 10.0, 100.0], [1704099600.0, 10, 11, 9, 20.0, 100.0]]
BATCH2 = [[1704099900.0, 10, 11, 9, 40.0, 200.0]]


def _envelope(candles):
    return {
        "data": {
            "NSE:X-EQ": {"symbol": "NSE:X-EQ", "resolution": "5", "candles": candles}
        }
    }


def test_vwap_state_survives_batches(spark, tmp_path):
    import os
    import time

    raw = tmp_path / "raw"
    raw.mkdir()
    f1, f2 = raw / "a_batch1.json", raw / "b_batch2.json"
    f1.write_text(json.dumps(_envelope(BATCH1)))
    f2.write_text(json.dumps(_envelope(BATCH2)))
    # the file source orders batches by modification time, not name
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    stream = (
        spark.readStream.schema(RAW_ENVELOPE_SCHEMA)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", 1)
        .json(str(raw))
    )
    vwap = streaming_vwap(bronze_to_silver(stream, dedup=None))
    q = (
        vwap.writeStream.format("memory")
        .queryName("vwap_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["timestamp_unix"]: r
        for r in spark.sql("SELECT * FROM vwap_out").collect()
    }
    assert len(rows) == 3
    assert rows[1704099300]["vwap"] == 10.0                      # 1000/100
    assert rows[1704099600]["vwap"] == 15.0                      # 3000/200
    # batch 2 continues from batch 1's state: (3000 + 8000) / 400
    assert rows[1704099900]["vwap"] == 27.5
    assert rows[1704099900]["cum_volume"] == 400


def test_cusum_closed_form_carries_state_across_batches():
    """Drive _cusum_fn directly with two frames and a carried state:
    the vectorized Lindley closed form with carry-in must equal the
    naive per-row clamped recurrence run over the concatenation."""
    import pandas as pd

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.stateful import (
        _cusum_fn,
    )

    mu6, k6, h6, sig6 = 10_000_000, 500_000, 4_000_000, 1_000_000
    vals = [9_800_000, 12_000_000, 13_000_000, 9_000_000, 9_100_000,
            14_000_000, 14_500_000, 8_000_000]

    def frame(chunk, start):
        return pd.DataFrame(
            {
                "user_id": [1] * len(chunk),
                "event_id": list(range(start, start + len(chunk))),
                "timestamp_unix": list(range(start, start + len(chunk))),
                "v6": chunk,
                "mu6": [mu6] * len(chunk),
                "k6": [k6] * len(chunk),
                "h6": [h6] * len(chunk),
                "sig6": [sig6] * len(chunk),
            }
        )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = FakeState()
    out1 = list(_cusum_fn((1,), iter([frame(vals[:3], 0)]), st))[0]
    out2 = list(_cusum_fn((1,), iter([frame(vals[3:], 3)]), st))[0]
    got = pd.concat([out1, out2]).reset_index(drop=True)

    sp = sn = 0
    for i, v6 in enumerate(vals):
        sp = max(0, sp + (v6 - mu6 - k6))
        sn = max(0, sn + (mu6 - v6 - k6))
        assert got.loc[i, "cusum_pos"] == sp / 1e6
        assert got.loc[i, "cusum_neg"] == sn / 1e6
        assert bool(got.loc[i, "alarm_pos"]) == (sp > h6)
        assert bool(got.loc[i, "alarm_neg"]) == (sn > h6)
    # the fixture must exercise BOTH a clamp-to-zero and an alarm
    assert any(got["alarm_pos"]) and any(got["cusum_pos"] == 0.0)


def test_stateful_fold_state_is_key_bounded(spark, tmp_path):
    """applyInPandasWithState state must be ONE row per key, flat across
    micro-batches — the grouped-fold mirror of
    test_stream_join_outer_state_is_watermark_bounded. Eight files
    stream one per batch for 5 symbols; the state-store row count must
    plateau at 5 (the key count) and never track the cumulative input
    (a fold that appended per-row state instead of folding would grow
    linearly)."""
    import os
    import time

    n_files, n_syms = 8, 5
    raw = tmp_path / "raw"
    raw.mkdir()
    base = 1704099300
    now = time.time()
    for b in range(n_files):
        data = {}
        for s in range(n_syms):
            sym = f"NSE:S{s}-EQ"
            candles = [
                [float(base + 300 * (b * 4 + i)), 10, 11, 9, 10.0 + b, 100.0]
                for i in range(4)
            ]
            data[sym] = {
                "symbol": sym,
                "resolution": "5",
                "candles": candles,
            }
        f = raw / f"b{b}.json"
        f.write_text(json.dumps({"data": data}))
        os.utime(f, (now - 600 + b * 60, now - 600 + b * 60))

    stream = (
        spark.readStream.schema(RAW_ENVELOPE_SCHEMA)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", 1)
        .json(str(raw))
    )
    vwap = streaming_vwap(bronze_to_silver(stream, dedup=None))
    q = (
        vwap.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    progresses = [p for p in q.recentProgress if p.get("stateOperators")]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progresses
        if p["numInputRows"] > 0
    ]
    total_input = sum(p["numInputRows"] for p in progresses)
    assert len(state_rows) >= n_files, (state_rows, total_input)
    # one raw envelope row per file at the source (candles explode later)
    assert total_input == n_files
    # one state row per key from the FIRST batch on, dead flat: the
    # fold compacts, it never accumulates rows
    assert state_rows[0] == n_syms, state_rows
    assert set(state_rows) == {n_syms}, state_rows


def _vwap_to_parquet(spark, raw, ckpt, out):
    """Run the running-VWAP fold over ``raw`` (availableNow, one file per
    batch) into a parquet file sink; return the finished query."""
    stream = (
        spark.readStream.schema(RAW_ENVELOPE_SCHEMA)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", 1)
        .json(str(raw))
    )
    q = (
        streaming_vwap(bronze_to_silver(stream, dedup=None))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _state_widths(q) -> set[int]:
    return {
        p["stateOperators"][0]["numShufflePartitions"]
        for p in q.recentProgress
        if p.get("stateOperators")
    }


def test_stateful_partitions_rule(spark, tmp_path):
    """Default width is min(task slots, 8), an explicit n wins, the
    previous value comes back on normal exit and on error, and a stateful
    query started inside the context fits in one task wave."""
    import os

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    slots = spark.sparkContext.defaultParallelism
    before = spark.conf.get(key)
    with stateful_partitions(spark):
        assert spark.conf.get(key) == str(min(slots, 8))
    assert spark.conf.get(key) == before
    with stateful_partitions(spark, 3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before
    with pytest.raises(RuntimeError), stateful_partitions(spark):
        raise RuntimeError("body failed")
    assert spark.conf.get(key) == before

    raw = tmp_path / "raw"
    raw.mkdir()
    f = raw / "a.json"
    f.write_text(json.dumps(_envelope(BATCH1)))
    os.utime(f, (1_600_000_000, 1_600_000_000))
    with stateful_partitions(spark):
        q = _vwap_to_parquet(spark, raw, tmp_path / "ckpt", tmp_path / "out")
    widths = _state_widths(q)
    assert widths and max(widths) <= slots, (widths, slots)


def test_durable_checkpoint_keeps_its_state_width(spark, tmp_path):
    """A checkpoint started at width 3 stays at 3 when the query restarts
    under the default rule (Spark reads the width from the offset-log
    metadata), and the restarted output equals a one-shot run over the
    same files, which does take the default width."""
    import os

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    raw = tmp_path / "raw"
    raw.mkdir()
    f1, f2 = raw / "a_batch1.json", raw / "b_batch2.json"
    f1.write_text(json.dumps(_envelope(BATCH1)))
    os.utime(f1, (1_600_000_000, 1_600_000_000))
    ckpt, out = tmp_path / "ckpt", tmp_path / "out"

    with stateful_partitions(spark, 3):
        first = _vwap_to_parquet(spark, raw, ckpt, out)
    assert _state_widths(first) == {3}

    f2.write_text(json.dumps(_envelope(BATCH2)))
    os.utime(f2, (1_600_000_060, 1_600_000_060))
    with stateful_partitions(spark):
        restarted = _vwap_to_parquet(spark, raw, ckpt, out)
        one_shot = _vwap_to_parquet(
            spark, raw, tmp_path / "ckpt_once", tmp_path / "out_once"
        )
    assert [p["numInputRows"] for p in restarted.recentProgress] == [1]
    assert _state_widths(restarted) == {3}
    default = min(spark.sparkContext.defaultParallelism, 8)
    assert _state_widths(one_shot) == {default}

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(str(path)).collect())

    got = rows(out)
    assert len(got) == 3
    assert got == rows(tmp_path / "out_once")

"""Grouped-map extension point: user pandas indicators per symbol."""

from __future__ import annotations

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.extension import (
    apply_per_symbol,
    bollinger_bands,
    bollinger_bands_exact,
)


def test_bollinger_via_extension_point(spark):
    rows = [
        ("A", i, 100.0 + (i % 5)) for i in range(1, 31)
    ] + [("B", i, 50.0) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "symbol_clean string, t long, close double")
    out = apply_per_symbol(
        df,
        bollinger_bands(window=5, num_std=2.0),
        "symbol_clean string, t long, close double, "
        "bb_mid double, bb_upper double, bb_lower double",
        ts_col="t",
    )
    got = {(r["symbol_clean"], r["t"]): r for r in out.collect()}
    assert len(got) == 40
    # constant series: zero std -> bands collapse onto the mid
    b = got[("B", 10)]
    assert b["bb_mid"] == b["bb_upper"] == b["bb_lower"] == 50.0
    # varying series: bands straddle the mid
    a = got[("A", 30)]
    assert a["bb_lower"] < a["bb_mid"] < a["bb_upper"]
    # chronological ordering inside the group was honored (rolling means
    # at t=1 see only the first row)
    assert got[("A", 1)]["bb_mid"] == got[("A", 1)]["close"]


def test_bollinger_exact_matches_pandas_rolling(spark):
    """The determinism-contract variant must agree with the plain pandas
    rolling implementation to float tolerance (its only difference is
    exact decimal-quantum summation)."""
    rows = [("A", i, 100.0 + ((i * 7) % 13) * 0.37) for i in range(1, 61)]
    df = spark.createDataFrame(rows, "symbol_clean string, t long, close double")
    schema = (
        "symbol_clean string, t long, close double, "
        "bb_mid double, bb_upper double, bb_lower double"
    )
    plain = {
        r["t"]: r
        for r in apply_per_symbol(
            df, bollinger_bands(window=20), schema, ts_col="t"
        ).collect()
    }
    exact = {
        r["t"]: r
        for r in apply_per_symbol(
            df, bollinger_bands_exact(window=20), schema, ts_col="t"
        ).collect()
    }
    assert set(plain) == set(exact)
    for t, p in plain.items():
        e = exact[t]
        for c in ("bb_mid", "bb_upper", "bb_lower"):
            assert abs(p[c] - e[c]) < 1e-6, (t, c, p[c], e[c])

def test_ema_macd_exact_tracks_float_recurrence():
    """The integer micro-unit EMA fold must track the plain float
    recurrence to ~1e-6 (one quantum per step) and be exactly
    reproducible: same input -> bit-identical output."""
    import numpy as np
    import pandas as pd

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.extension import (
        ema_macd_exact,
    )

    rng = np.random.default_rng(7)
    close = np.round(100 + rng.normal(0, 1, 500).cumsum(), 2)
    pdf = pd.DataFrame({"close": close})
    out = ema_macd_exact(fast=12, slow=26)(pdf)

    # float reference recurrence
    ref_f = np.empty(len(close))
    ref_s = np.empty(len(close))
    ef = es = close[0]
    for i, x in enumerate(close):
        if i:
            ef += 2.0 * (x - ef) / 13.0
            es += 2.0 * (x - es) / 27.0
        ref_f[i] = ef
        ref_s[i] = es
    assert np.max(np.abs(out["ema_fast"].to_numpy() - ref_f)) < 1e-3
    assert np.max(np.abs(out["ema_slow"].to_numpy() - ref_s)) < 1e-3
    assert np.allclose(
        out["macd"].to_numpy(),
        out["ema_fast"].to_numpy() - out["ema_slow"].to_numpy(),
        atol=2e-6,
    )

    again = ema_macd_exact(fast=12, slow=26)(pdf)
    assert (again["ema_fast"] == out["ema_fast"]).all()
    assert (again["macd"] == out["macd"]).all()


def test_grouped_fold_matches_grouped_map_across_batch_boundaries(spark):
    """grouped_fold (mapInPandas over key-contiguous partitions) must
    reproduce groupBy().applyInPandas() exactly — including groups that
    SPAN Arrow batch boundaries (forced with a tiny maxRecordsPerBatch),
    NULL keys, and single-row groups."""
    import pandas as pd
    from pyspark.sql import functions as F

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.extension import (
        grouped_fold,
    )

    rows = []
    # group sizes chosen to straddle the 7-row batches set below
    for g, n in [("a", 20), ("b", 1), ("c", 13), (None, 5), ("d", 8)]:
        for i in range(n):
            rows.append((g, i, float(i) * 1.5 + (hash(g) % 7 if g else 0)))
    df = spark.createDataFrame(rows, "k string, seq int, v double")
    schema = "k string, seq int, v double, csum double, n long"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["seq"])
        return pdf.assign(csum=pdf["v"].cumsum(), n=len(pdf))

    skey = lambda t: (t[0] is not None, t[0] or "", t[1])
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = sorted(
            (tuple(r) for r in grouped_fold(df, ["k"], fold, schema).collect()),
            key=skey,
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = sorted(
        (
            tuple(r)
            for r in df.groupBy("k").applyInPandas(fold, schema=schema).collect()
        ),
        key=skey,
    )
    assert got == want
    # every group fully folded exactly once: per-group n equals group size
    sizes = {g: n for g, n in [("a", 20), ("b", 1), ("c", 13), (None, 5), ("d", 8)]}
    for k, _seq, _v, _c, n in got:
        assert n == sizes[k]

    # order_by: the JVM sort hands each group over in (order_by, NULLs
    # last) order, so a fold that does NOT sort matches a sorting
    # grouped-map fold — on shuffled input with NULL order values
    import random

    rows_o = rows + [("a", None, 100.0), ("c", None, 7.5)]
    random.Random(3).shuffle(rows_o)
    df_o = spark.createDataFrame(rows_o, "k string, seq int, v double").repartition(3)

    def fold_unsorted(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(csum=pdf["v"].cumsum(), n=len(pdf))

    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got_o = sorted(
            (
                tuple(r)
                for r in grouped_fold(
                    df_o, ["k"], fold_unsorted, schema, order_by=["seq"]
                ).collect()
            ),
            key=lambda t: (*skey(t)[:2], t[1] is None, t[1] or 0),
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want_o = sorted(
        (
            tuple(r)
            for r in df_o.groupBy("k").applyInPandas(fold, schema=schema).collect()
        ),
        key=lambda t: (*skey(t)[:2], t[1] is None, t[1] or 0),
    )
    assert got_o == want_o
    # the NULL-order row folds last: its running sum is the group total
    last = {t[0]: t[3] for t in got_o if t[1] is None}
    assert last["a"] == sum(v for g, _s, v in rows_o if g == "a")


def test_grouped_fold_rejects_float_keys(spark):
    """A FLOAT/DOUBLE key would let a NULL-key group and a NaN-key group
    merge (both reach pandas as NaN), so grouped_fold refuses it."""
    import pytest

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.extension import (
        grouped_fold,
    )

    df = spark.createDataFrame(
        [(None, 1), (float("nan"), 2), (1.5, 3)], "k double, v int"
    )
    for key_df in (df, df.withColumn("k", df["k"].cast("float"))):
        with pytest.raises(ValueError, match="FLOAT/DOUBLE"):
            grouped_fold(key_df, ["v", "k"], lambda pdf: pdf, "k double, v int")
    # an integer key next to the float column is fine
    assert grouped_fold(df, ["v"], lambda pdf: pdf, "k double, v int").count() == 3

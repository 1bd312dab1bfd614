"""Round-11 additions: quantizer-drift recall report, streaming
freshness row, regime-conditional smoother (16th fold family)."""

from __future__ import annotations

import contextlib

import pytest

import __spark_entry__ as E


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


def test_emb_drift_recall_shifted_distribution(spark, sf_dir):
    """The drift report (round-10 VERDICT item 3): two scenarios, exact
    deterministic counts (seeded fit), and the simulated distribution
    shift (+0.25 per coordinate) LOWERS the cell-pruned screen's recall
    on this dataset — the rebuild-cadence signal the report exists
    for."""
    rows = {
        r["scenario"]: r
        for r in E.s_emb_drift_recall(spark, sf_dir).collect()
    }
    assert set(rows) == {"baseline", "shifted"}
    for r in rows.values():
        assert 0 <= r["caught_probe1"] <= r["caught_probe2"] <= r["n_true_pairs"]
        assert 0.0 <= r["recall_probe1"] <= r["recall_probe2"] <= 1.0
    # deterministic seeded k-means + quantized cosine on the explicit
    # 20% query sample: pin the sf0.001 ground truth exactly
    assert rows["baseline"]["n_true_pairs"] == 5
    assert rows["baseline"]["caught_probe1"] == 2
    assert rows["shifted"]["n_true_pairs"] == 10
    assert rows["shifted"]["caught_probe1"] == 3
    assert rows["shifted"]["caught_probe2"] == 5
    # the drift signal: the n_probe=1 screen loses recall under shift
    assert (
        rows["shifted"]["recall_probe1"] < rows["baseline"]["recall_probe1"]
    )
    # the knob: widening the probe buys recall back on shifted traffic
    assert (
        rows["shifted"]["recall_probe2"] > rows["shifted"]["recall_probe1"]
    )


def test_stream_freshness_pipeline(spark, sf_dir):
    """End-to-end freshness (round-10 VERDICT item 4): the streamed
    ingest→silver-upsert→rollup refresh must be lossless (rollup equals
    the direct batch computation) and the measurement half must report
    a positive wall + rows/sec consistent with the rollup."""
    from pyspark.sql import functions as F

    rollup, stats = E._run_freshness_pipeline(spark, sf_dir)
    got = {
        (r["symbol_clean"], str(r["trade_date"])): (
            r["first_value"], r["last_value"], r["max_value"],
            r["min_value"], r["num_candles"],
        )
        for r in rollup.collect()
    }
    # direct batch twin: per-(symbol, second) collapse then daily OHLC
    ev = E._t(spark, sf_dir, "events").filter(F.col("value") > 0)
    pc = ev.groupBy(
        (F.col("user_id") % 5).alias("sid"),
        F.unix_timestamp("ts").cast("long").alias("sec"),
    ).agg(
        F.min("value").alias("v"),
        F.min("event_id").alias("eid"),
        F.min(F.to_date("ts")).alias("d"),
    )
    want = {
        (f"U{r['sid']}", str(r["d"])): (
            r["fv"], r["lv"], r["mx"], r["mn"], r["n"]
        )
        for r in pc.groupBy("sid", "d")
        .agg(
            F.min_by("v", F.struct("sec", "eid")).alias("fv"),
            F.max_by("v", F.struct("sec", "eid")).alias("lv"),
            F.max("v").alias("mx"),
            F.min("v").alias("mn"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want and got
    assert stats["n_raw_files"] > 0
    assert stats["e2e_wall_sec"] > 0
    assert stats["rows_per_sec"] > 0
    assert stats["n_silver_rows"] == sum(v[4] for v in want.values())


def test_bnlj_allowlist_audit_logic():
    """The machine-readable BNLJ allowlist (round-10 VERDICT item 6):
    unlisted BNLJ -> violation, stale entry -> violation, allowlisted
    entry with sites -> clean."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    import importlib

    er = importlib.import_module("explain_report")
    assert er._audit({"e_period_lookback": 2}, strict_missing=False) == []
    errs = er._audit({"brand_new_query": 2}, strict_missing=False)
    assert any("UNLISTED" in e for e in errs)
    errs = er._audit({"e_period_lookback": 0}, strict_missing=False)
    assert any("STALE" in e for e in errs)
    # strict mode flags allowlist entries with no plan at all
    errs = er._audit({"e_period_lookback": 2}, strict_missing=True)
    assert any("MISSING PLAN" in e for e in errs)


def test_regime_conditional_holt_fold(spark):
    """16th family: the composite fold decodes regimes and switches
    Holt coefficients on them. Replay a small series independently and
    pin the fold's outputs; also check the bear segment actually uses
    the slow coefficients (differs from an all-bull run)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        holt_linear,
        regime_conditional_holt,
    )

    import math

    closes = [100.0, 104.0, 108.2, 112.5, 101.2, 91.0, 81.9, 78.0]
    rows = []
    prev = closes[0]
    for i, c in enumerate(closes[1:], start=2):
        # the query's exact quantization: floor(x*1e6+0.5)
        ret6 = math.floor((c / prev - 1.0) * 1e6 + 0.5)
        rows.append((1, i, float(c), ret6))
        prev = c
    df = spark.createDataFrame(
        rows, "user_id int, bar int, close double, ret6 long"
    )
    out = {
        r["bar"]: r
        for r in regime_conditional_holt(df, ["user_id"], "bar").collect()
    }
    # independent replay
    import math

    def sdiv(n):
        return n // 10**6 if n >= 0 else -((-n) // 10**6)

    s_up = s_dn = l = b = 0
    exp = {}
    for i, (_, bar, c, r6) in enumerate(rows):
        y = math.floor(c * 1e6 + 0.5)
        e_up, e_dn = -abs(r6 - 1000), -abs(r6 + 1000)
        if i == 0:
            s_up, s_dn, l, b = e_up, e_dn, y, 0
        else:
            s_up, s_dn = (
                max(s_up + 50_000, s_dn) + e_up,
                max(s_dn + 50_000, s_up) + e_dn,
            )
            if s_up >= s_dn:
                a6, g6 = 400_000, 150_000
            else:
                a6, g6 = 200_000, 50_000
            lp = l
            l = sdiv(a6 * y + (10**6 - a6) * (l + b))
            b = sdiv(g6 * (l - lp) + (10**6 - g6) * b)
        exp[bar] = (0 if s_up >= s_dn else 1, l / 1e6, b / 1e6)
    assert set(out) == set(exp)
    for bar, (reg, lv, tr) in exp.items():
        assert out[bar]["regime"] == reg, bar
        assert out[bar]["level"] == lv, bar
        assert out[bar]["trend"] == tr, bar
        assert out[bar]["forecast"] == (
            out[bar]["level"] + out[bar]["trend"]
        ) or abs(
            out[bar]["forecast"] - out[bar]["level"] - out[bar]["trend"]
        ) < 1e-9
    # the series flips to bear partway: both regimes must appear and the
    # switching fold must diverge from constant-coefficient Holt
    regs = {v["regime"] for v in out.values()}
    assert regs == {0, 1}
    plain = {
        r["bar"]: r["level"]
        for r in holt_linear(
            df, ["user_id"], "bar", alpha6=400_000, gamma6=150_000
        ).collect()
    }
    assert any(
        abs(plain[bar] - out[bar]["level"]) > 1e-9 for bar in out
    )


def test_forecast_backtest_has_regime_holt_contender(spark, sf_dir):
    """Backtest contender #5 (round-10 VERDICT item 8): the report
    carries mae_regime_holt and champions only come from the 5-label
    set with the simpler-first tie-break."""
    df = E.x_forecast_backtest(spark, sf_dir)
    assert "mae_regime_holt" in df.columns
    rows = df.collect()
    assert rows
    allowed = {"naive", "holt", "holt_winters", "hw_mul", "regime_holt"}
    assert {r["champion"] for r in rows} <= allowed
    for r in rows:
        maes = {
            "naive": r["mae_naive"],
            "holt": r["mae_holt"],
            "holt_winters": r["mae_holt_winters"],
            "hw_mul": r["mae_hw_mul"],
            "regime_holt": r["mae_regime_holt"],
        }
        assert abs(maes[r["champion"]] - min(maes.values())) < 1e-9


def test_kmv_sketch_merge_law_and_exact_smallset(spark, sf_dir):
    """KMV (5th mergeable sketch): merging two sketches equals the
    sketch of the union (bottom-k arrays identical), below-k sketches
    are exact sets, and the sf0.001 report's estimates equal the exact
    counts (every type has 15 users < k=64)."""
    from pyspark.sql import functions as F

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        kmv_group_sketch,
    )

    k = 8
    a = spark.createDataFrame([(i,) for i in range(0, 60)], "v long")
    b = spark.createDataFrame([(i,) for i in range(40, 120)], "v long")
    u = a.unionByName(b)
    one = lambda df: df.withColumn("g", F.lit(1))  # noqa: E731
    sa = kmv_group_sketch(one(a), ["g"], "v", k=k).collect()[0]["hs"]
    sb = kmv_group_sketch(one(b), ["g"], "v", k=k).collect()[0]["hs"]
    su = kmv_group_sketch(one(u), ["g"], "v", k=k).collect()[0]["hs"]
    merged = sorted(set(sa) | set(sb))[:k]
    assert merged == list(su)
    assert len(sa) == k and sorted(sa) == list(sa)
    # report at sf0.001: below-k regime -> estimates ARE the exact counts
    rows = E.e_kmv_type_overlap(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["est_common"] == float(r["exact_common"])
        assert r["est_users_a"] == 15.0 and r["est_users_b"] == 15.0
        assert 0.0 <= r["est_jaccard"] <= 1.0


def test_kmv_estimator_accuracy_synthetic(spark):
    """Above-k regime: the (k-1)*2^60/theta estimator lands within the
    theoretical error band on a 5000-distinct synthetic set (k=256 ->
    ~6.3% sigma; assert 4 sigma)."""
    from pyspark.sql import functions as F

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        kmv_estimate,
        kmv_group_sketch,
    )

    n, k = 5000, 256
    df = spark.createDataFrame([(i,) for i in range(n)], "v long").withColumn(
        "g", F.lit(1)
    )
    sk = kmv_group_sketch(df, ["g"], "v", k=k)
    est = sk.select(kmv_estimate(F.col("hs"), k).alias("e")).collect()[0]["e"]
    assert abs(est - n) / n < 4 / (k ** 0.5), est


def test_stream_kmv_batching_independence(spark, sf_dir):
    """The streaming KMV maintenance (13th streaming query) must be
    batching-independent: the merged final sketches equal the one-shot
    batch bottom-k exactly (the merge law as a checked property)."""
    from pyspark.sql import functions as F

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        kmv_group_sketch,
    )

    streamed = {
        (r["event_type"], r["rn"]): r["h"]
        for r in E.s_stream_kmv(spark, sf_dir).collect()
    }
    ev = E._t(spark, sf_dir, "events").select("event_type", "user_id")
    batch = {}
    for r in kmv_group_sketch(ev, ["event_type"], "user_id", k=64).collect():
        for i, h in enumerate(r["hs"], start=1):
            batch[(r["event_type"], i)] = h
    assert streamed == batch and streamed


#: ROADMAP's physical-config perturbations that apply to the cut path
_QB_CONFIGS = {
    "default": {},
    "shuffle_1": {"spark.sql.shuffle.partitions": "1"},
    "shuffle_37_uncoalesced": {
        "spark.sql.shuffle.partitions": "37",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    },
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
}


def _py_quantile_buckets(vals, k):
    """The cut rule straight from its definition: cut_b is the smallest
    value v whose cumulative count ccum(v) satisfies ccum·k >= N·b over
    the non-NULL values; bucket = 1 + #cuts below the value."""
    from collections import Counter

    hist = Counter(v for v in vals if v is not None)
    n = sum(hist.values())
    cuts = []
    for b in range(1, k):
        ccum = 0
        for v in sorted(hist):
            ccum += hist[v]
            if ccum * k >= n * b:
                cuts.append(v)
                break
    return [
        None if v is None else 1 + sum(v > c for c in cuts) for v in vals
    ]


@pytest.mark.parametrize("config", sorted(_QB_CONFIGS))
def test_quantile_bucket_matches_python_cut_rule(spark, config):
    """quantile_bucket equals the pure-Python cut rule on tie-heavy,
    negative, DECIMAL(38,0), all-NULL and empty columns, k in {2, 3, 5},
    in multi-column calls, under each physical config."""
    import random
    from decimal import Decimal

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.quantiles import (
        quantile_bucket,
    )

    rnd = random.Random(7)
    n = 250
    cols = {
        "ties": [rnd.choice([1, 2, 3, 5, 8, 13, 21]) for _ in range(200)]
        + [rnd.randrange(0, 10**6) for _ in range(50)],
        "neg": [
            None if i % 17 == 0 else rnd.randint(-50, 50) for i in range(n)
        ],
        "dec": [
            Decimal(rnd.choice([-1, 1]) * rnd.randrange(10**37))
            if i % 5
            else Decimal(-(10**37))
            for i in range(n)
        ],
        "nul": [None] * n,
    }
    rows = [(i, *(cols[c][i] for c in cols)) for i in range(n)]
    schema = "id int, ties long, neg long, dec decimal(38,0), nul long"
    df = spark.createDataFrame(rows, schema)
    empty = spark.createDataFrame([], schema)
    calls = [(df, list(cols), k) for k in (2, 3, 5)]
    calls.append((empty, ["ties", "dec"], 3))
    with _conf(spark, _QB_CONFIGS[config]):
        for frame, names, k in calls:
            out = quantile_bucket(frame, {c: f"b_{c}" for c in names}, k)
            assert out.columns == frame.columns + [f"b_{c}" for c in names]
            got = {r["id"]: r for r in out.collect()}
            if frame is empty:
                assert got == {}
                continue
            for c in names:
                want = _py_quantile_buckets(cols[c], k)
                assert [got[i][f"b_{c}"] for i in range(n)] == want, (
                    config, c, k
                )


def test_quantile_bucket_runs_no_job_when_called(spark):
    """The cut path is a plan transformation: calling quantile_bucket
    (and planning its result) fires no Spark job."""
    import uuid

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.quantiles import (
        quantile_bucket,
    )
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    df = spark.range(3000).select(
        "id", (F.col("id") % 13).alias("a"), (F.col("id") * 7 % 101).alias("b")
    )
    group = f"qb-lazy-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "quantile_bucket laziness")
    try:
        out = quantile_bucket(df, {"a": "qa", "b": "qb"}, 4)
        out._jdf.queryExecution().executedPlan()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert out.filter(F.col("qa").isNull()).count() == 0
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_quantile_bucket_rejects_fewer_than_two_buckets(spark):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.quantiles import (
        quantile_bucket,
    )

    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="n_buckets"):
        quantile_bucket(df, {"v": "b"}, 1)

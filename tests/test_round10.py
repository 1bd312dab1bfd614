"""Round-10 additions: multiplicative Holt-Winters (division-state
fold) and packed_running_sum (lazy bounded-table prefix sum)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_holt_winters_mul_hand_replay_and_constant_series(spark):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        holt_winters_multiplicative,
    )

    # multiplicative sawtooth: +-20% around a drifting level — the
    # factor profile must absorb the proportional swing
    vals = [100.0 * (1.0 + 0.04 * (i % 7)) + i for i in range(42)]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, rn long, close double")
    got = (
        holt_winters_multiplicative(df, ["user_id"], "rn", period=7)
        .orderBy("rn")
        .collect()
    )

    def sdiv(num, den=1_000_000):
        return num // den if num >= 0 else -((-num) // den)

    l = b = 0
    s = [1_000_000] * 7
    for i, v in enumerate(vals):
        y = math.floor(v * 1e6 + 0.5)
        slot = i % 7
        if i == 0:
            l, b = y, 0
        else:
            sold = min(max(s[slot], 100_000), 10_000_000)
            detr = sdiv(y * 1_000_000, sold)
            lp = l
            l = sdiv(300_000 * detr + 700_000 * (l + b))
            b = sdiv(100_000 * (l - lp) + 900_000 * b)
            ratio = min(
                max(sdiv(y * 1_000_000, max(l, 1)), 100_000), 10_000_000
            )
            s[slot] = sdiv(300_000 * ratio + 700_000 * sold)
        r = got[i]
        assert r["level"] == l / 1e6
        assert r["trend"] == b / 1e6
        assert r["season"] == s[slot] / 1e6
        assert r["forecast"] == sdiv((l + b) * s[(i + 1) % 7]) / 1e6

    # constant series: the multiplicative fixed point is exact —
    # level = const, trend = 0, every factor 1.0, forecast = const
    cdf = spark.createDataFrame(
        [(1, i, 250.0) for i in range(20)],
        "user_id long, rn long, close double",
    )
    for r in (
        holt_winters_multiplicative(cdf, ["user_id"], "rn", period=7)
        .orderBy("rn")
        .collect()
    ):
        assert r["level"] == 250.0
        assert r["trend"] == 0.0
        assert r["season"] == 1.0
        assert r["forecast"] == 250.0


def test_packed_running_sum_matches_python_and_is_lazy(spark):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.rank import (
        packed_running_sum,
    )

    rows = [(k, (k * 37) % 101) for k in range(50)]
    df = spark.createDataFrame(rows, "k long, v long")
    jobs_before = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    packed = packed_running_sum(df, "k", "v", "_c")
    # laziness: building the plan must not have run any Spark job
    jobs_after = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    assert jobs_after == jobs_before
    got = {r["k"]: r["_c"] for r in packed.collect()}
    assert len(got) == len(rows)
    acc = 0
    for k, v in rows:
        acc += v
        assert got[k] == acc

    # empty input -> empty output, schema intact
    empty = spark.createDataFrame([], "k long, v long")
    out = packed_running_sum(empty, "k", "v", "_c")
    assert out.columns == ["k", "v", "_c"]
    assert out.count() == 0


def test_emb_dedup_stream_batch_independence_and_index_growth(spark, sf_dir):
    """The streaming embedding dedup's survivor set must not depend on
    how the stream is chopped into micro-batches (the id-monotone
    contract), and the persisted index must grow by EXACTLY the stream
    rows — every batch vector indexed once, the corpus never
    re-assigned."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_corpus = emb.filter(F.col("vec_id") % 10 != 0).count()
    n_stream = emb.filter(F.col("vec_id") % 10 == 0).count()

    s1, idx1 = E._run_emb_dedup_stream(spark, sf_dir, n_batches=1)
    s4, idx4 = E._run_emb_dedup_stream(spark, sf_dir, n_batches=4)
    # sorted: the survivor SET is the batch-independence claim — the
    # runner no longer imposes a presentation orderBy, so collect order
    # follows parquet file layout, which legitimately differs by run
    rows1 = sorted((r["vec_id"], r["cell"]) for r in s1.collect())
    rows4 = sorted((r["vec_id"], r["cell"]) for r in s4.collect())
    assert rows1 == rows4, "survivors depend on batch boundaries"
    assert idx1 == n_corpus + n_stream
    assert idx4 == n_corpus + n_stream
    # dedup actually fires on this data, and survivors are stream-only
    assert 0 < len(rows4) < n_stream
    assert all(v % 10 == 0 for v, _ in rows4)


def _load_entry():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    return E


def test_amihud_python_replay_one_user(spark, sf_dir):
    E = _load_entry()
    out = {
        (r["user_id"], str(r["month"])): (r["n_days"], r["illiq"])
        for r in E.x_amihud_illiquidity(spark, sf_dir).collect()
    }
    assert out and all(v[1] >= 0.0 for v in out.values())
    # exact replay for the first user from its daily bars
    daily = sorted(
        (r["trade_date"], r["close"], r["volume"])
        for r in E._daily_ohlcv(spark, sf_dir)
        .filter("user_id = 1 AND close > 0")
        .collect()
    )
    import math
    from collections import defaultdict

    acc = defaultdict(lambda: [0, 0])
    for (d0, c0, _), (d1, c1, v1) in zip(daily, daily[1:]):
        ret = c1 / c0 - 1.0
        if abs(ret) > 10.0:
            continue
        r6 = math.floor(abs(ret) * 1e6 + 0.5)
        dv6 = math.floor(c1 * 1e6 + 0.5) * v1
        m = str(d1.replace(day=1))
        acc[m][0] += 1
        acc[m][1] += (r6 * 1_000_000_000) // dv6
    for m, (n, s) in acc.items():
        got_n, got_i = out[(1, m)]
        assert got_n == n
        assert got_i == s / n / 1e9


def test_vol_cone_order_stats(spark, sf_dir):
    E = _load_entry()
    rows = E.x_vol_cone(spark, sf_dir).collect()
    assert rows
    assert {r["horizon"] for r in rows} <= {5, 10, 21}
    for r in rows:
        assert (
            r["vol_min"]
            <= r["vol_q25"]
            <= r["vol_med"]
            <= r["vol_q75"]
            <= r["vol_max"]
        )
        assert r["n_obs"] > 0
        assert r["vol_min"] >= 0.0


def test_length_quantiles_python_replay(spark, sf_dir):
    E = _load_entry()
    got = {r["source"]: r for r in E.d_length_quantiles(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    from collections import defaultdict

    per = defaultdict(list)
    for r in docs:
        per[r["source"]].append(len(r["text"].split()))
    for src, lens in per.items():
        a = sorted(lens)
        n = len(a)
        g = got[src]
        assert g["n_docs"] == n
        assert g["tok_min"] == a[0] and g["tok_max"] == a[-1]
        assert g["tok_p10"] == a[(n * 1 + 9) // 10 - 1]
        assert g["tok_p25"] == a[(n * 1 + 3) // 4 - 1]
        assert g["tok_p50"] == a[(n * 1 + 1) // 2 - 1]
        assert g["tok_p75"] == a[(n * 3 + 3) // 4 - 1]
        assert g["tok_p90"] == a[(n * 9 + 9) // 10 - 1]


def test_zorder_skipping_beats_linear(spark):
    # sf0.01: the box predicate (custkey 400-700) is empty at sf0.001
    # (custkey <= 150), which would make the win assertion vacuous
    E = _load_entry()
    sf_dir = "/root/testdata/sf0.01"
    rows = {r["layout"]: r for r in E.o_zorder_skipping(spark, sf_dir).collect()}
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    for r in rows.values():
        assert r["n_rows"] == n_orders
        assert 0 <= r["n_rows_scanned"] <= r["n_rows"]
        assert r["n_skipped_buckets"] <= r["n_buckets"]
        assert abs(r["scan_frac"] - r["n_rows_scanned"] / r["n_rows"]) < 1e-12
    # the 2-D box prunes strictly better under the Morton layout
    assert rows["zorder"]["scan_frac"] < rows["linear"]["scan_frac"]


def test_rsi_divergence_replay_on_synthetic_series(spark, tmp_path):
    """Engineered oscillating up-trend: new 14-day price highs arrive
    while momentum wanes, so both divergence kinds fire; the flags must
    match an exact python replay of the quantized rule."""
    import math

    E = _load_entry()
    import datetime as dt

    rows = []
    closes = []
    for i in range(70):
        c = round(100 + 5 * math.sin(i / 3.0) + 0.1 * i, 2)
        closes.append(c)
        rows.append(
            (
                i,
                dt.datetime(2024, 1, 1) + dt.timedelta(days=i),
                7,
                "tick",
                c,
            )
        )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = [
        (str(r["trade_date"]), r["bearish_div"], r["bullish_div"])
        for r in E.x_rsi_divergence(spark, str(tmp_path)).collect()
    ]

    # python replay: simple-average RSI-14, micro-quantized comparisons
    deltas = [None] + [
        closes[i] - closes[i - 1] for i in range(1, len(closes))
    ]
    want = []
    for i, c in enumerate(closes):
        frame = deltas[max(0, i - 13) : i + 1]
        ds = [d for d in frame if d is not None]
        if len(ds) < 14:
            r6 = None
        else:
            ag = sum(d if d > 0 else 0.0 for d in ds) / len(ds)
            al = sum(-d if d < 0 else 0.0 for d in ds) / len(ds)
            rsi = 100.0 if al == 0 else 100.0 - 100.0 / (1.0 + ag / al)
            r6 = math.floor(rsi * 1e6 + 0.5)
        closes6 = math.floor(c * 1e6 + 0.5)
        if i >= 1:
            prev = list(range(max(0, i - 14), i))
        else:
            prev = []
        # stash
        if i == 0:
            hist = []
        hist.append((closes6, r6))
        if len(prev) < 14:
            continue
        pr = [hist[j] for j in prev]
        nh = sum(1 for _, rr in pr if rr is not None)
        if nh < 14 or r6 is None:
            continue
        cmax = max(cc for cc, _ in pr)
        cmin = min(cc for cc, _ in pr)
        rmax = max(rr for _, rr in pr if rr is not None)
        rmin = min(rr for _, rr in pr if rr is not None)
        bear = closes6 > cmax and r6 < rmax
        bull = closes6 < cmin and r6 > rmin
        if bear or bull:
            d = dt.date(2024, 1, 1) + dt.timedelta(days=i)
            want.append((str(d), bear, bull))
    assert want, "synthetic series produced no divergence — test vacuous"
    assert got == want


def test_regime_viterbi_hand_replay_and_segmentation(spark):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        regime_viterbi,
    )

    # 30 bars of +0.2%/day then 30 of -0.2%/day: after the sticky
    # transition is paid off, the regime must segment cleanly
    rets = [2000] * 30 + [-2000] * 30
    rows = [(1, i, r) for i, r in enumerate(rets)]
    df = spark.createDataFrame(rows, "user_id long, rn long, ret6 long")
    got = regime_viterbi(df, ["user_id"], "rn").orderBy("rn").collect()

    s_up = s_dn = 0
    for i, r in enumerate(rets):
        e_up, e_dn = -abs(r - 1000), -abs(r + 1000)
        if i == 0:
            s_up, s_dn = e_up, e_dn
        else:
            s_up, s_dn = (
                max(s_up + 50_000, s_dn) + e_up,
                max(s_dn + 50_000, s_up) + e_dn,
            )
        assert got[i]["regime"] == (0 if s_up >= s_dn else 1)
        assert got[i]["margin"] == (s_up - s_dn) / 1e6
    # segmentation: up regime through the first leg, down by the end
    assert got[10]["regime"] == 0 and got[29]["regime"] == 0
    assert got[59]["regime"] == 1
    # sticky: the flip happens AFTER the sign change, not before
    flip = next(i for i in range(30, 60) if got[i]["regime"] == 1)
    assert flip >= 30


def test_hdr_sketch_bounds_bracket_exact_and_merge_law(spark):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sketch import (
        hdr_bucket_bounds,
        hdr_sketch,
    )
    from pyspark.sql import functions as F

    vals = [((i * 7919) % 100000) + 1 for i in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = hdr_sketch(df, "v")
    rows = sk.collect()
    assert len(rows) <= 657
    assert sum(r["cnt"] for r in rows) == len(vals)
    # every value sits inside its bucket's [lo, hi]
    lo, hi = hdr_bucket_bounds(F.col("bucket"))
    bounds = {
        r["bucket"]: (r["lo"], r["hi"])
        for r in sk.select("bucket", lo.alias("lo"), hi.alias("hi")).collect()
    }
    import math

    for v in set(vals):
        e = v.bit_length() - 1
        b = e * 16 + (v * 16 >> e) - 16
        blo, bhi = bounds[b]
        assert blo <= v <= bhi
        # guaranteed relative resolution: bucket width <= lo/16 + 1
        assert bhi - blo <= blo / 16 + 1
    # merge law: sketch(A) + sketch(B) == sketch(A ∪ B), bucket-wise
    a = spark.createDataFrame([(v,) for v in vals[:2500]], "v long")
    b = spark.createDataFrame([(v,) for v in vals[2500:]], "v long")
    merged = (
        hdr_sketch(a, "v")
        .unionByName(hdr_sketch(b, "v"))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rows)
    )

"""Unit tests for the fourth indicator batch (operators/finance.py):
Chande Momentum, Ulcer Index, rolling Sortino, Hull MA, and return
autocorrelation. Each pins hand-checked math on a tiny series plus the
edge conventions the SQL oracles replay (NULL warm-ups, no-downside
Sortino, flat-window CMO, monotonic-up ulcer = 0)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
    chande_momentum,
    hull_ma,
    return_autocorr,
    sortino,
    ulcer_index,
)


def _closes(spark, rows):
    """rows: (sym, t, close)"""
    return spark.createDataFrame(
        [Row(sym=s, t=t, close=float(c)) for (s, t, c) in rows]
    )


def _rets(spark, rows):
    """rows: (sym, t, ret)"""
    return spark.createDataFrame(
        [Row(sym=s, t=t, ret=float(r)) for (s, t, r) in rows]
    )


class TestChandeMomentum:
    def test_all_up_is_100_all_down_minus_100(self, spark):
        df = _closes(
            spark,
            [("U", i, 100 + i) for i in range(1, 5)]
            + [("D", i, 100 - i) for i in range(1, 5)],
        )
        out = {
            (r.sym, r.t): r.cmo
            for r in chande_momentum(df, ["sym"], "t", n=14).collect()
        }
        assert out[("U", 1)] is None  # no previous bar: neither sum
        assert out[("U", 4)] == 100.0
        assert out[("D", 4)] == -100.0

    def test_balanced_moves_are_zero(self, spark):
        # +2 then -2: su = sd -> cmo 0
        df = _closes(spark, [("A", 1, 100), ("A", 2, 102), ("A", 3, 100)])
        out = {r.t: r.cmo for r in chande_momentum(df, ["sym"], "t").collect()}
        assert out[3] == 0.0

    def test_flat_series_null(self, spark):
        df = _closes(spark, [("A", 1, 5), ("A", 2, 5), ("A", 3, 5)])
        for r in chande_momentum(df, ["sym"], "t").collect():
            assert r.cmo is None

    def test_window_bound(self, spark):
        # one up-move followed by n flat bars: the move ages out
        rows = [("A", 1, 100), ("A", 2, 110)] + [
            ("A", t, 110) for t in range(3, 18)
        ]
        out = {r.t: r.cmo for r in chande_momentum(_closes(spark, rows), ["sym"], "t", n=14).collect()}
        assert out[15] == 100.0  # move at t=2 still inside 14-bar frame
        assert out[17] is None  # aged out -> su + sd == 0


class TestUlcerIndex:
    def test_monotonic_up_is_zero(self, spark):
        df = _closes(spark, [("A", i, 100 + i) for i in range(1, 6)])
        for r in ulcer_index(df, ["sym"], "t", n=14).collect():
            assert r.drawdown_pct == 0.0
            assert r.ulcer == 0.0

    def test_hand_checked_drawdown(self, spark):
        # peak 100, close 90 -> dd = -10%; ulcer over [0, -10] = sqrt(50)
        df = _closes(spark, [("A", 1, 100), ("A", 2, 90)])
        out = {r.t: r for r in ulcer_index(df, ["sym"], "t", n=14).collect()}
        assert out[2].drawdown_pct == -10.0
        assert out[2].ulcer == pytest.approx(math.sqrt(50.0), abs=1e-9)

    def test_recovery_resets(self, spark):
        # new high after a dip: drawdown back to 0 at the new peak
        df = _closes(
            spark, [("A", 1, 100), ("A", 2, 80), ("A", 3, 120)]
        )
        out = {r.t: r.drawdown_pct for r in ulcer_index(df, ["sym"], "t").collect()}
        assert out[2] == -20.0
        assert out[3] == 0.0


class TestSortino:
    def test_no_downside_is_null(self, spark):
        df = _rets(spark, [("A", i, 0.01) for i in range(1, 5)])
        for r in sortino(df, ["sym"], "t", n=20).collect():
            assert r.sortino is None

    def test_hand_checked_value(self, spark):
        # rets +1%, -2%: mean = -0.005, ddev = sqrt(0.02^2/2)
        df = _rets(spark, [("A", 1, 0.01), ("A", 2, -0.02)])
        out = {r.t: r.sortino for r in sortino(df, ["sym"], "t", n=20).collect()}
        assert out[1] is None  # min_obs=2
        mean = (10000 - 20000) / 2.0
        ddev = math.sqrt(20000.0**2 / 2.0)
        assert out[2] == pytest.approx(mean / ddev, abs=1e-12)

    def test_winsorizes_like_sharpe(self, spark):
        df = _rets(spark, [("A", 1, 50.0), ("A", 2, 0.01), ("A", 3, -0.01)])
        rows = sortino(df, ["sym"], "t", n=20).collect()
        assert {r.t for r in rows} == {2, 3}  # |ret|>cap dropped


class TestHullMA:
    def test_constant_series_is_constant(self, spark):
        # every WMA of a constant is the constant; NULL until n+sqrt(n)-1
        df = _closes(spark, [("A", i, 42.5) for i in range(1, 25)])
        out = {r.t: r.hma for r in hull_ma(df, ["sym"], "t", n=16).collect()}
        assert out[18] is None  # bar 18 < 16+4-1
        for t in range(19, 25):
            assert out[t] == pytest.approx(42.5, abs=1e-9)

    def test_linear_series_low_lag(self, spark):
        # closes = t: WMA_n lags (n-1)/3 behind t, so 2*WMA(8)-WMA(16)
        # LEADS at t + 1/3 and the final WMA(4) subtracts its own lag 1
        # -> hma == t - 2/3 exactly on a linear ramp (vs t - 5 for a
        # plain WMA(16): the "low lag" property, pinned exactly).
        df = _closes(spark, [("A", i, float(i)) for i in range(1, 30)])
        out = {r.t: r.hma for r in hull_ma(df, ["sym"], "t", n=16).collect()}
        for t in range(19, 30):
            assert out[t] == pytest.approx(t - 2.0 / 3.0, abs=1e-6)

    def test_rejects_bad_n(self, spark):
        df = _closes(spark, [("A", 1, 1.0)])
        with pytest.raises(ValueError):
            hull_ma(df, ["sym"], "t", n=10)


class TestReturnAutocorr:
    def test_alternating_series_is_minus_one(self, spark):
        df = _rets(
            spark,
            [("A", i, 0.01 if i % 2 else -0.01) for i in range(1, 9)],
        )
        [r] = return_autocorr(df, ["sym"], "t", min_pairs=3).collect()
        assert r.autocorr == pytest.approx(-1.0, abs=1e-12)
        assert r.n_pairs == 7

    def test_trending_series_is_plus_one(self, spark):
        # period-2 alternation sampled at lag 2: x_i == x_{i-2} always
        df = _rets(
            spark,
            [("A", i, 0.01 if i % 2 else -0.01) for i in range(1, 10)],
        )
        [r] = return_autocorr(df, ["sym"], "t", lag=2, min_pairs=3).collect()
        assert r.autocorr == pytest.approx(1.0, abs=1e-12)

    def test_constant_returns_dropped(self, spark):
        # zero variance -> key filtered out
        df = _rets(spark, [("A", i, 0.01) for i in range(1, 6)])
        assert return_autocorr(df, ["sym"], "t").count() == 0

    def test_min_pairs_gate(self, spark):
        df = _rets(spark, [("A", 1, 0.01), ("A", 2, -0.02), ("A", 3, 0.03)])
        assert return_autocorr(df, ["sym"], "t", min_pairs=3).count() == 0


def _ohlcv(spark, rows):
    """rows: (sym, t, high, low, close, volume)"""
    return spark.createDataFrame(
        [
            Row(sym=s, t=t, high=float(h), low=float(lo), close=float(c), volume=int(v))
            for (s, t, h, lo, c, v) in rows
        ]
    )


class TestEmaFold:
    def test_constant_series_holds_seed(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import ema_fold

        df = _closes(spark, [("A", i, 7.25) for i in range(1, 6)])
        out = ema_fold(df, ["sym"], "t", "close", n=13).collect()
        for r in out:
            assert r.ema_state == 7250000
            assert r.ema == 7.25

    def test_step_matches_hand_fold(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import ema_fold

        df = _closes(spark, [("A", 1, 10.0), ("A", 2, 24.0)])
        out = {r.t: r.ema_state for r in ema_fold(df, ["sym"], "t", "close", n=13).collect()}
        # e = 10e6 + floor(2*(24e6-10e6)/14) = 10e6 + 2_000_000
        assert out[1] == 10_000_000
        assert out[2] == 12_000_000


class TestForceIndex:
    def test_first_bar_dropped_and_seed(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import force_index

        df = _ohlcv(spark, [("A", 1, 10, 10, 10, 5), ("A", 2, 12, 12, 12, 7)])
        rows = force_index(df, ["sym"], "t", n=13).collect()
        assert [r.t for r in rows] == [2]
        # fi_raw = (12-10)*7 = 14 -> seed
        assert rows[0].fi_1 == 14.0
        assert rows[0].fi_n == 14.0

    def test_negative_move(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import force_index

        df = _ohlcv(
            spark,
            [("A", 1, 10, 10, 10, 5), ("A", 2, 8, 8, 8, 3), ("A", 3, 9, 9, 9, 2)],
        )
        out = {r.t: r for r in force_index(df, ["sym"], "t", n=1).collect()}
        assert out[2].fi_1 == -6.0  # (8-10)*3
        # n=1: e += floor(2*(v-e)/2) = v exactly -> tracks raw
        assert out[3].fi_n == 2.0  # (9-8)*2


class TestElderRay:
    def test_first_bar_powers(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import elder_ray

        df = _ohlcv(spark, [("A", 1, 12.5, 9.5, 10.0, 1)])
        [r] = elder_ray(df, ["sym"], "t", n=13).collect()
        assert r.ema == 10.0
        assert r.bull_power == 2.5
        assert r.bear_power == -0.5


class TestVolumeIndex:
    def test_gating_and_compounding(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import volume_index

        # bar2: vol falls, +10% -> NVI compounds, PVI holds
        # bar3: vol rises, -50% -> PVI compounds, NVI holds
        # bar4: vol equal -> neither moves
        df = _ohlcv(
            spark,
            [
                ("A", 1, 10, 10, 10.0, 100),
                ("A", 2, 11, 11, 11.0, 50),
                ("A", 3, 6, 6, 5.5, 80),
                ("A", 4, 9, 9, 9.0, 80),
            ],
        )
        out = {r.t: r for r in volume_index(df, ["sym"], "t").collect()}
        assert out[1].nvi == 1000.0 and out[1].pvi == 1000.0
        assert out[2].nvi == 1100.0 and out[2].pvi == 1000.0
        assert out[3].nvi == 1100.0 and out[3].pvi == 500.0
        assert out[4].nvi == 1100.0 and out[4].pvi == 500.0

    def test_independent_keys(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import volume_index

        df = _ohlcv(
            spark,
            [("A", 1, 10, 10, 10.0, 10), ("A", 2, 20, 20, 20.0, 5),
             ("B", 1, 10, 10, 10.0, 10), ("B", 2, 5, 5, 5.0, 20)],
        )
        out = {(r.sym, r.t): r for r in volume_index(df, ["sym"], "t").collect()}
        assert out[("A", 2)].nvi == 2000.0  # +100% on falling volume
        assert out[("B", 2)].pvi == 500.0  # -50% on rising volume
        assert out[("B", 2)].nvi == 1000.0

    def test_wild_ratio_series_saturates_instead_of_raising(self, spark):
        # The fold is TOTAL: a series whose compounded index leaves the
        # 2^53-micro-unit exactness domain (the crash that zeroed the
        # round-11 bench) saturates at ±(2^53−1) micro-units — the same
        # LEAST/GREATEST clamp the recursive-CTE oracle applies — and
        # keeps emitting rows instead of raising.
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import volume_index

        # prices 10^i: every falling-volume bar multiplies NVI by ~10,
        # so the state passes 2^53 micro-units (9.0e15) around bar 7
        # and must sit exactly at the cap from then on
        rows = []
        for i in range(13):
            p = 10.0**i
            rows.append(("A", i, p, p, p, 100 - i))  # volume strictly falls
        df = _ohlcv(spark, rows)
        out = {r.t: r for r in volume_index(df, ["sym"], "t").collect()}
        cap = (2**53 - 1) / 1e6
        assert out[12].nvi == cap  # saturated exactly at the clamp
        assert out[12].pvi == 1000.0  # never updated (volume never rose)
        # never beyond the cap at any bar
        assert all(out[i].nvi <= cap for i in range(13))


class TestDemaTema:
    def test_constant_series(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import dema_tema

        df = _closes(spark, [("A", i, 12.5) for i in range(1, 6)])
        for r in dema_tema(df, ["sym"], "t", n=10).collect():
            assert r.dema == 12.5  # 2e - e
            assert r.tema == 12.5  # 3e - 3e + e

    def test_lag_reduction_ordering(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import dema_tema

        # on a rising ramp: tema >= dema >= plain ema (less lag)
        df = _closes(spark, [("A", i, float(10 + i)) for i in range(1, 40)])
        rows = {r.t: r for r in dema_tema(df, ["sym"], "t", n=10).collect()}
        r = rows[39]
        assert r.tema > r.dema
        assert r.dema < 49.0  # still lags the last price a bit
        # TEMA's triple lag-compensation OVERSHOOTS on a steady ramp
        # (it extrapolates); on this ramp it sits just past the price
        assert 49.0 < r.tema < 49.5


class TestLinregSlope:
    def test_exact_on_linear_ramp(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import linreg_slope

        df = _closes(spark, [("A", i, float(2 * i + 5)) for i in range(1, 30)])
        out = {r.t: r for r in linreg_slope(df, ["sym"], "t", n=14).collect()}
        assert out[13].slope is None  # warm-up
        for t in range(14, 30):
            assert out[t].slope == pytest.approx(2.0, abs=1e-9)
            assert out[t].fit_end == pytest.approx(2 * t + 5, abs=1e-9)

    def test_flat_series_zero_slope(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import linreg_slope

        df = _closes(spark, [("A", i, 7.0) for i in range(1, 20)])
        out = {r.t: r for r in linreg_slope(df, ["sym"], "t", n=14).collect()}
        assert out[19].slope == 0.0
        assert out[19].fit_end == 7.0


class TestHistVar:
    def test_kth_smallest_selection(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import hist_var

        # 40 returns -> k = ceil(40/20) = 2: second-smallest
        rows = [("A", i, -0.10 if i == 1 else (-0.08 if i == 2 else 0.001 * i)) for i in range(1, 41)]
        [r] = hist_var(_rets(spark, rows), ["sym"], "t", min_obs=10).collect()
        assert r.n_obs == 40
        assert r.var_ret == pytest.approx(-0.08)
        assert r.var_loss == pytest.approx(0.08)

    def test_min_obs_gate(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import hist_var

        rows = [("A", i, 0.01 * i) for i in range(1, 6)]
        assert hist_var(_rets(spark, rows), ["sym"], "t", min_obs=10).count() == 0


class TestQuantileBucket:
    def test_uniform_quintiles(self, spark):
        from pyspark.sql import Row
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.quantiles import quantile_bucket

        df = spark.createDataFrame([Row(id=i, v=i) for i in range(1, 101)])
        out = quantile_bucket(df, {"v": "b"}, 5).collect()
        sizes = {}
        for r in out:
            sizes[r.b] = sizes.get(r.b, 0) + 1
            assert r.b == (r.v - 1) // 20 + 1
        assert sizes == {1: 20, 2: 20, 3: 20, 4: 20, 5: 20}

    def test_ties_share_bucket(self, spark):
        from pyspark.sql import Row
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.quantiles import quantile_bucket

        df = spark.createDataFrame(
            [Row(id=i, v=0) for i in range(60)] + [Row(id=100 + i, v=i + 1) for i in range(40)]
        )
        out = quantile_bucket(df, {"v": "b"}, 5).collect()
        zeros = {r.b for r in out if r.v == 0}
        assert zeros == {1}  # all ties in one bucket

    def test_partition_invariant(self, spark):
        from pyspark.sql import Row
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.quantiles import quantile_bucket

        df = spark.createDataFrame([Row(id=i, v=(i * 7919) % 97) for i in range(200)])
        a = sorted((r.id, r.b) for r in quantile_bucket(df.coalesce(1), {"v": "b"}, 4).collect())
        b = sorted((r.id, r.b) for r in quantile_bucket(df.repartition(16), {"v": "b"}, 4).collect())
        assert a == b


class TestKalman1D:
    def test_constant_series_locks_on(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import kalman_1d

        df = _closes(spark, [("A", i, 50.0) for i in range(1, 10)])
        rows = sorted(kalman_1d(df, ["sym"], "t").collect(), key=lambda r: r.t)
        for r in rows:
            assert r.kf_x == 50.0  # innovation is exactly 0
        # posterior variance strictly decreases toward steady state
        ps = [r.kf_p for r in rows]
        assert ps[0] == 1.0
        assert all(a > b for a, b in zip(ps, ps[1:]))

    def test_smooths_noise(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import kalman_1d

        # alternating +-1 around 100: filter output stays well inside
        rows = [("A", i, 100.0 + (1.0 if i % 2 else -1.0)) for i in range(1, 40)]
        out = sorted(kalman_1d(_closes(spark, rows), ["sym"], "t").collect(), key=lambda r: r.t)
        tail = out[10:]
        for r in tail:
            assert abs(r.kf_x - 100.0) < 0.5  # < half the raw amplitude

    def test_matches_pure_python_replay(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import kalman_1d

        zs = [10.0, 10.5, 9.8, 11.2, 10.1, 10.9]
        df = _closes(spark, [("A", i + 1, z) for i, z in enumerate(zs)])
        out = sorted(kalman_1d(df, ["sym"], "t").collect(), key=lambda r: r.t)
        x = p = 0.0
        for i, z in enumerate(zs):
            if i == 0:
                x, p = z, 1.0
            else:
                pp = p + 1e-5
                kg = pp / (pp + 1e-2)
                x = x + kg * (z - x)
                p = (1.0 - kg) * pp
            assert out[i].kf_x == x  # bit-identical, not approx
            assert out[i].kf_p == p


class TestCoppockKst:
    def test_coppock_flat_is_zero(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import coppock_curve

        df = _closes(spark, [("A", i, 100.0) for i in range(1, 30)])
        out = {r.t: r.coppock for r in coppock_curve(df, ["sym"], "t").collect()}
        assert out[23] is None  # needs roc_long + wma_n - 1 = 23 bars
        assert out[24] == 0.0
        assert out[29] == 0.0

    def test_coppock_positive_on_uptrend(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import coppock_curve

        df = _closes(spark, [("A", i, 100.0 * 1.01 ** i) for i in range(1, 40)])
        out = {r.t: r.coppock for r in coppock_curve(df, ["sym"], "t").collect()}
        for t in range(25, 40):
            assert out[t] > 0

    def test_kst_flat_is_zero_and_signal_tracks(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import kst

        df = _closes(spark, [("A", i, 50.0) for i in range(1, 45)])
        out = {r.t: r for r in kst(df, ["sym"], "t").collect()}
        assert out[30] is not None
        assert out[31].kst == 0.0  # longest roc = 30 bars warm-up
        assert out[44].kst == 0.0 and out[44].kst_signal == 0.0

    def test_kst_sign_on_trend(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import kst

        up = _closes(spark, [("U", i, 100.0 * 1.005 ** i) for i in range(1, 50)])
        out = {r.t: r for r in kst(up, ["sym"], "t").collect()}
        assert out[49].kst > 0 and out[49].kst_signal > 0


class TestMonteCarloVar:
    def test_deterministic_and_sane(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import monte_carlo_var

        rows = [("A", i, 0.002 * ((i * 7) % 11 - 5)) for i in range(1, 40)]
        df = _rets(spark, rows)
        a = {r.sym: r for r in monte_carlo_var(df.coalesce(1), ["sym"], n_paths=100).collect()}
        b = {r.sym: r for r in monte_carlo_var(df.repartition(8), ["sym"], n_paths=100).collect()}
        # partition-invariant, fully deterministic
        assert a["A"].var_sim == b["A"].var_sim
        r = a["A"]
        # 5% quantile of a centered distribution sits left of the mean
        assert r.var_sim < r.mu
        assert r.var_loss == -r.var_sim
        # VaR magnitude within a few sigma of the fitted vol
        assert abs(r.var_sim - r.mu) < 4 * r.sigma

    def test_drops_degenerate_keys(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import monte_carlo_var

        # constant returns -> zero variance -> dropped; short history -> dropped
        rows = [("C", i, 0.01) for i in range(1, 20)] + [("S", 1, 0.01), ("S", 2, -0.02)]
        assert monte_carlo_var(_rets(spark, rows), ["sym"]).count() == 0


class TestMassIndex:
    def test_constant_range_ratio_one(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import mass_index

        # constant high-low range: both EMAs equal the range, ratio = 1,
        # mass index = 25 once the window fills
        df = _ohlcv(spark, [("A", i, 105.0, 95.0, 100.0, 1) for i in range(1, 30)])
        out = {r.t: r for r in mass_index(df, ["sym"], "t").collect()}
        assert out[5].mass_ratio == 1.0
        assert out[24].mass_index is None  # 24 bars < 25
        assert out[25].mass_index == 25.0
        assert out[29].mass_index == 25.0

    def test_bulge_raises_index(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import mass_index

        # range doubles mid-series: EMA9 reacts faster than EMA9(EMA9)
        # -> ratio > 1 -> index > 25 after the bulge
        rows = [("A", i, 101.0, 99.0, 100.0, 1) for i in range(1, 30)]
        rows += [("A", i, 104.0, 96.0, 100.0, 1) for i in range(30, 60)]
        out = {r.t: r for r in mass_index(_ohlcv(spark, rows), ["sym"], "t").collect()}
        assert out[35].mass_index > 25.0


class TestStochRsi:
    def test_bounds_and_extremes(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.windows import stoch_rsi

        # long rising then falling series: stoch RSI hits 100 at the
        # momentum peak and 0 at the trough, always within [0, 100]
        rows = [("A", i, 100.0 + i) for i in range(1, 40)]
        rows += [("A", i, 178.0 - i) for i in range(40, 80)]
        df = _closes(spark, rows)
        out = [r for r in stoch_rsi(df, ["sym"], "t", "close").collect() if r.stoch_rsi is not None]
        assert out, "window never filled"
        vals = [r.stoch_rsi for r in out]
        assert all(0.0 <= v <= 100.0 for v in vals)
        assert min(vals) == 0.0  # falling leg pins the bottom

    def test_flat_rsi_window_null(self, spark):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.windows import stoch_rsi

        # constant series: RSI undefined-ish (avg_loss = 0 after warmup
        # -> rsi flat) -> max == min -> stoch NULL
        df = _closes(spark, [("A", i, 5.0) for i in range(1, 45)])
        for r in stoch_rsi(df, ["sym"], "t", "close").collect():
            assert r.stoch_rsi is None


class TestEventStudy:
    def test_offsets_and_exact_means(self, spark):
        from pyspark.sql import Row
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import event_study

        # one key, returns 1%..8% on days 1..8, single anchor at day 4
        rets = spark.createDataFrame(
            [Row(sym="A", trade_date=i, ret=0.01 * i) for i in range(1, 9)]
        )
        anchors = spark.createDataFrame([Row(sym="A", anchor_date=4)])
        out = {r.offset: r for r in event_study(
            rets, anchors, ["sym"], date_col="trade_date",
            anchor_date_col="anchor_date", pre=3, post=3).collect()}
        assert set(out) == set(range(-3, 4))
        for o in range(-3, 4):
            assert out[o].n_obs == 1
            assert out[o].avg_ret == pytest.approx(0.01 * (4 + o), abs=1e-12)
        # CAR at +3 = sum of day-1..7 returns
        assert out[3].car == pytest.approx(sum(0.01 * d for d in range(1, 8)), abs=1e-9)

    def test_edge_anchor_truncates(self, spark):
        from pyspark.sql import Row
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import event_study

        rets = spark.createDataFrame(
            [Row(sym="A", trade_date=i, ret=0.01) for i in range(1, 4)]
        )
        anchors = spark.createDataFrame([Row(sym="A", anchor_date=1)])
        out = {r.offset: r.n_obs for r in event_study(
            rets, anchors, ["sym"], date_col="trade_date",
            anchor_date_col="anchor_date").collect()}
        # nothing before the first return row
        assert set(out) == {0, 1, 2}

"""Portfolio-risk analytics beyond the reference's indicator list: max
drawdown and per-symbol beta/alpha/correlation against an equal-weight
market factor.

The reference's analytics surface (analytics/lambda_analytics.py:146-240,
examples/README.md:100-104) stops at per-symbol rollups and the declared
sma_20 / rsi_14 indicators; a trading user's next questions — "how deep
was the worst peak-to-trough loss?" and "how does this symbol co-move
with the market?" — are these two operators. Both follow the repo-wide
determinism contract: every unordered reduction routes through decimal
(see functions/exact.py), so results are partition-count invariant and
replay bit-identically in an ANSI-SQL oracle.

Scale notes (100 TB):
- ``max_drawdown`` is two window passes over the SAME partition key
  (one hash shuffle, two in-partition sorts) and a width-1 filter — no
  groupBy, no second shuffle. Per-symbol history fits a partition by
  construction (symbols × days, not ticks × ticks).
- ``beta_vs_market`` reduces ticks → symbol-days FIRST (map-side
  combinable aggregate), builds the market factor as a tiny per-day
  aggregate, and broadcast-joins it back — the only wide shuffle is the
  symbol-day rollup; the regression itself is a single map-side
  combinable aggregate over symbol.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import q6, u6
from .extension import ema_chain, grouped_fold

__all__ = [
    "max_drawdown",
    "max_drawdown_chunked",
    "daily_returns",
    "beta_vs_market",
    "true_range",
    "atr",
    "pairwise_corr",
    "anchored_vwap",
    "stochastic_oscillator",
    "on_balance_volume",
    "returns_ledger",
    "rolling_sharpe",
    "candle_patterns",
    "sma_crossover_backtest",
    "keltner_channels",
    "heikin_ashi",
    "supertrend",
    "williams_r",
    "money_flow_index",
    "rate_of_change",
    "pivot_points",
    "chaikin_ad",
    "aroon",
    "overnight_gaps",
    "adx",
    "parabolic_sar",
    "trix",
    "cci",
    "vortex",
    "kama",
    "chande_momentum",
    "ulcer_index",
    "sortino",
    "hull_ma",
    "return_autocorr",
    "ema_fold",
    "force_index",
    "elder_ray",
    "volume_index",
    "dema_tema",
    "linreg_slope",
    "hist_var",
    "kalman_1d",
    "coppock_curve",
    "kst",
    "monte_carlo_var",
    "mass_index",
    "event_study",
    "garch_vol",
    "holt_linear",
]

#: Exact accumulator for sums of double products. Scale 6 (not higher):
#: a double->decimal cast only rounds identically across engines while
#: |value| * 10^scale stays under 2^53, and beta_vs_market caps |ret| at
#: ret_cap (default 10) so every summand satisfies that bound. The sum
#: itself is exact at any row count (38-6 integer digits).
_DEC = "decimal(38,6)"


def max_drawdown(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    id_col: str,
    value_col: str,
    skew_safe: bool = True,
    chunk_width: int = 86_400_000_000,
) -> DataFrame:
    """Worst peak-to-trough drawdown per key.

    drawdown(t) = value(t) / running_max(value) - 1 over the (ts, id)
    order; the reported row is the trough with the most negative
    drawdown, tie-broken on (ts, id) so the answer is total-ordered and
    engine-independent. Rows with non-positive values are excluded
    (drawdown is defined on prices).

    ``skew_safe`` (default True) routes through
    :func:`max_drawdown_chunked` — bit-identical output (pinned by
    tests/property tests) with no stage that sorts a whole key's
    history in one task, so a 95%-hot key costs roughly what a uniform
    one does (SCALE_RESULTS.md). ``chunk_width`` is interpreted in the
    ts column's own unit for numeric ts (default: one day of
    epoch-micros) and in MICROSECONDS for timestamp/date ts. Pass
    ``skew_safe=False`` for the plain two-window form — same result,
    marginally cheaper on small, evenly-keyed inputs.

    Both the running max and the ranking (plain form) are windows over
    the SAME partition key, so Spark plans one exchange and two sorts —
    no extra shuffle for the final per-key row.
    """
    if skew_safe:
        return max_drawdown_chunked(
            df, keys, ts_col, id_col, value_col, chunk_width=chunk_width
        )
    pos = df.filter(F.col(value_col) > 0)
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run_max = F.max(F.col(value_col)).over(w_run)
    dd = (F.col(value_col) / run_max - F.lit(1.0)).alias("drawdown")
    with_dd = pos.select(
        *keys,
        F.col(ts_col),
        F.col(id_col),
        F.col(value_col),
        dd,
        F.count(F.lit(1)).over(Window.partitionBy(*keys)).alias("n_obs"),
    )
    w_rank = Window.partitionBy(*keys).orderBy(
        F.col("drawdown"), F.col(ts_col), F.col(id_col)
    )
    return (
        with_dd.withColumn("_rn", F.row_number().over(w_rank))
        .filter(F.col("_rn") == 1)
        .select(
            *keys,
            F.col("drawdown").alias("max_drawdown"),
            F.col(ts_col).alias("trough_ts"),
            F.col(id_col).alias("trough_id"),
            F.col(value_col).alias("trough_value"),
            "n_obs",
        )
    )


def max_drawdown_chunked(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    id_col: str,
    value_col: str,
    chunk_width: int = 86_400_000_000,
) -> DataFrame:
    """Skew-robust ``max_drawdown``: identical output, but no stage ever
    sorts a whole key's history in one task. ``ts_col`` is a numeric
    epoch (``chunk_width`` in its own unit; default one day of
    epoch-micros) or a timestamp/date column (chunked on its
    epoch-microsecond value; ordering still uses the column itself).

    A 95%-hot key serializes the plain two-window form (measured 53 s vs
    5 s uniform on 12M rows) because both windows partition on the key
    alone. Running max is a prefix scan, so it decomposes exactly like
    the sma day-chunk carry: (1) running max WITHIN (key, day) — the
    composite partition key spreads the hot key across days; (2) a
    per-(key, day) summary table (one row per chunk — tiny) carries the
    prefix max of all PRIOR days via an ordered window over chunks;
    (3) total running max = greatest(carry, within-chunk running max);
    (4) the trough row is picked with a map-side-combinable
    ``min(struct(drawdown, ts, id, value))`` aggregate — lexicographic
    struct ordering gives the same (drawdown, ts, id) tiebreak as the
    window form, and partial aggregation absorbs the hot key.
    """
    pos = df.filter(F.col(value_col) > 0)
    from pyspark.sql.types import DateType, TimestampType

    if isinstance(df.schema[ts_col].dataType, (TimestampType, DateType)):
        ts_num = f"unix_micros(cast({ts_col} as timestamp))"
    else:
        ts_num = ts_col
    chunk = F.expr(f"{ts_num} div {chunk_width}").alias("_chunk")
    src = pos.select(
        *keys, F.col(ts_col), F.col(id_col), F.col(value_col), chunk
    )
    w_in = (
        Window.partitionBy(*keys, "_chunk")
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = src.withColumn("_rm_in", F.max(F.col(value_col)).over(w_in))
    summary = src.groupBy(*keys, "_chunk").agg(
        F.max(F.col(value_col)).alias("_chunk_max")
    )
    w_carry = (
        Window.partitionBy(*keys)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summary.select(
        *keys, "_chunk", F.max("_chunk_max").over(w_carry).alias("_carry")
    )
    dd = (
        F.col(value_col) / F.greatest(F.coalesce(F.col("_carry"), F.lit(0.0)), F.col("_rm_in"))
        - F.lit(1.0)
    )
    scored = within.join(carry, [*keys, "_chunk"]).select(
        *keys,
        F.struct(
            dd.alias("drawdown"),
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("id"),
            F.col(value_col).alias("value"),
        ).alias("_t"),
    )
    return (
        scored.groupBy(*keys)
        .agg(F.min("_t").alias("_m"), F.count(F.lit(1)).alias("n_obs"))
        .select(
            *keys,
            F.col("_m.drawdown").alias("max_drawdown"),
            F.col("_m.ts").alias("trough_ts"),
            F.col("_m.id").alias("trough_id"),
            F.col("_m.value").alias("trough_value"),
            "n_obs",
        )
    )


def daily_returns(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key daily close-to-close simple returns.

    Day close is ``max_by(value, (ts, id))`` — the single-shuffle ordered
    "last" (same shape as rollup.daily_rollup); the return divides by the
    previous day's close via one lag window. Ticks collapse to
    symbol-days before any window runs, so the window input is tiny
    relative to the fact table.
    """
    key = F.struct(F.col(ts_col), F.col(id_col))
    daily = (
        df.filter(F.col(value_col) > 0)
        .groupBy(*keys, F.to_date(F.col(ts_col)).alias("trade_date"))
        .agg(F.max_by(F.col(value_col), key).alias("close"))
    )
    w = Window.partitionBy(*keys).orderBy("trade_date")
    prev = F.lag("close").over(w)
    return (
        daily.withColumn("prev_close", prev)
        .filter(F.col("prev_close").isNotNull())
        .withColumn("ret", F.col("close") / F.col("prev_close") - F.lit(1.0))
        .drop("prev_close")
    )


def beta_vs_market(
    returns: DataFrame,
    keys: Sequence[str],
    date_col: str = "trade_date",
    ret_col: str = "ret",
    min_days: int = 2,
    ret_cap: float = 10.0,
) -> DataFrame:
    """OLS beta / alpha / correlation of each key's daily returns against
    the equal-weight market factor (cross-sectional mean return per day).

    Returns with ``|ret| > ret_cap`` are winsorized out first (a >1000%
    daily move is a data error, and the cap also keeps every decimal
    summand inside the cross-engine-exact range — see ``_DEC``). The
    market factor is a per-day aggregate — thousands of rows at most,
    broadcast back to the per-key returns. The regression moments are ONE
    map-side-combinable aggregate per key with every sum routed through
    decimal, so beta is bit-identical across partitionings and replays
    exactly in SQL. Keys with fewer than ``min_days`` observations or
    zero market variance are dropped (undefined regression).
    """
    r = F.col(ret_col)
    # Both the market factor and the regression consume `returns`; cut
    # the lineage once or the whole tick->symbol-day rollup executes
    # twice (once per join side — visible as two identical subtrees in
    # the physical plan). The checkpointed table is symbol-days, tiny
    # relative to the fact input.
    #
    # Returns quantize to INTEGER MICRO-UNITS (floor(r*1e6 + 0.5)) and
    # every regression moment is an exact BIGINT sum of integer
    # products. The earlier decimal(38,6)-cast-of-products form
    # tie-rounded differently across engines exactly when a product sat
    # on a representable half-1e-6 (caught by the sf0.1 oracle sweep);
    # integer moments have no rounding anywhere until the final scalar
    # IEEE combination, which is fixed-order. ret_cap 10 bounds
    # |micro| <= 1e7, so each PRODUCT is <= 1e14 — but a BIGINT sum of
    # near-cap products would wrap silently past ~9.2e4 rows per key in
    # non-ANSI Spark (DuckDB promotes sum(BIGINT) to HUGEINT and would
    # NOT wrap, so overflow = cross-engine divergence, not just a wrong
    # number). The second-moment sums therefore route through
    # decimal(38,0): still exact integers, overflow-free to 1e38, and
    # identical bits on both engines. The linear sums (sx, sm) stay
    # BIGINT — their bound is 1e7 per row, ~9e11 rows per key.
    ru = F.floor(r * 1e6 + F.lit(0.5)).cast("long")
    returns = (
        returns.filter(F.abs(r) <= F.lit(ret_cap))
        .withColumn("_ru", ru)
        .localCheckpoint()
    )
    market = returns.groupBy(date_col).agg(
        F.floor(
            F.sum("_ru").cast("double") / F.count(F.lit(1)).cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("_mu")
    )
    joined = returns.join(F.broadcast(market), on=date_col)
    x = F.col("_ru")
    m = F.col("_mu")
    agg = joined.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(m).alias("sm"),
        F.sum((x * m).cast("decimal(38,0)")).alias("sxm"),
        F.sum((m * m).cast("decimal(38,0)")).alias("smm"),
        F.sum((x * x).cast("decimal(38,0)")).alias("sxx"),
    )
    n, sx, sm, sxm, smm, sxx = (
        F.col(c).cast("double") for c in ("n", "sx", "sm", "sxm", "smm", "sxx")
    )
    cov_n = n * sxm - sx * sm
    var_m_n = n * smm - sm * sm
    var_x_n = n * sxx - sx * sx
    beta = cov_n / var_m_n
    return (
        agg.filter((F.col("n") >= min_days) & (var_m_n > 0))
        .select(
            *keys,
            F.col("n").alias("n_days"),
            beta.alias("beta"),
            ((sx - beta * sm) / n / F.lit(1e6)).alias("alpha"),
            F.when(var_x_n > 0, cov_n / F.sqrt(var_x_n * var_m_n)).alias(
                "corr_mkt"
            ),
        )
    )


def true_range(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Append ``tr`` — Wilder's true range:
    max(high-low, |high-prev_close|, |low-prev_close|), where prev_close
    is the previous bar's close within the key (first bar: high-low).

    One lag window per key partition — no shuffle beyond the single
    per-key exchange the caller's ordering already implies."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    prev_close = F.lag(close).over(w)
    tr = F.when(
        prev_close.isNull(), F.col(high) - F.col(low)
    ).otherwise(
        F.greatest(
            F.col(high) - F.col(low),
            F.abs(F.col(high) - prev_close),
            F.abs(F.col(low) - prev_close),
        )
    )
    return df.withColumn("tr", tr)


def atr(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 14,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Average True Range (simple-mean variant): rolling mean of the true
    range over the last ``n`` bars per key — the volatility band the
    reference's indicator surface implies next to SMA/RSI/Bollinger.

    The rolling mean routes through exact decimal sums
    (functions/exact.py), so ATR is bit-identical on any partitioning
    and replays in plain window SQL; bars before the n-th average over
    the bars seen so far (the standard warm-up convention, matching the
    SQL twin's ROWS frame). Both windows share ONE per-key exchange.

    Output: input columns + (tr, atr).
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    frame = w.rowsBetween(-(n - 1), 0)
    out = true_range(df, keys, order_col, high, low, close)
    rolling_mean = (
        F.sum(F.col("tr").cast(_DEC)).over(frame).cast("double")
        / F.count(F.lit(1)).over(frame).cast("double")
    )
    # q6, not round(): sum/count of cent-quantum true ranges is a ratio
    # of integers and can land exactly on a .xxxxxx5 half-tie, where
    # Spark (HALF_UP) and SQL engines (half-even) disagree.
    return out.withColumn("atr", q6(rolling_mean))


def pairwise_corr(
    returns: DataFrame,
    key_col: str,
    date_col: str = "trade_date",
    ret_col: str = "ret",
    min_days: int = 2,
) -> DataFrame:
    """Pairwise Pearson correlation of daily-return series — the
    correlation matrix a portfolio/risk layer computes over the
    universe. Output: (key_a, key_b, n_days, corr) for key_a < key_b.

    Shape at scale: the self-join is an equi-join ON THE DATE (dates are
    few and dense, so this is k^2 pair rows per date, not a cartesian),
    and the moment reduction is one map-side-combinable aggregate per
    pair with every sum decimal-routed — partition-invariant, exact in
    SQL. For a large universe bound the pair count upstream (filter the
    key set) — the output itself is O(k^2); pairs with < ``min_days``
    common observations or a zero-variance side are dropped (undefined
    correlation).
    """
    # both self-join sides consume `returns`; cut the lineage once so the
    # upstream tick->daily-return reduction doesn't execute per side (the
    # checkpointed table is key-days — tiny next to the fact input; same
    # discipline as beta_vs_market)
    returns = returns.localCheckpoint()
    a = returns.select(
        F.col(key_col).alias("key_a"),
        F.col(date_col).alias("_d"),
        F.col(ret_col).alias("_ra"),
    )
    b = returns.select(
        F.col(key_col).alias("key_b"),
        F.col(date_col).alias("_d"),
        F.col(ret_col).alias("_rb"),
    )
    ra, rb = F.col("_ra"), F.col("_rb")
    agg = (
        a.join(b, "_d")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(ra.cast(_DEC)).cast("double").alias("sa"),
            F.sum(rb.cast(_DEC)).cast("double").alias("sb"),
            F.sum((ra * rb).cast(_DEC)).cast("double").alias("sab"),
            F.sum((ra * ra).cast(_DEC)).cast("double").alias("saa"),
            F.sum((rb * rb).cast(_DEC)).cast("double").alias("sbb"),
        )
    )
    n, sa, sb, sab, saa, sbb = (
        F.col(c) for c in ("n", "sa", "sb", "sab", "saa", "sbb")
    )
    cov_n = n * sab - sa * sb
    va_n = n * saa - sa * sa
    vb_n = n * sbb - sb * sb
    return (
        agg.filter((n >= float(min_days)) & (va_n > 0) & (vb_n > 0))
        .select(
            "key_a",
            "key_b",
            n.cast("long").alias("n_days"),
            q6(cov_n / F.sqrt(va_n * vb_n), "corr"),
        )
    )


def anchored_vwap(
    df: DataFrame,
    keys: Sequence[str],
    anchor_col: str,
    ts_col: str,
    id_col: str,
    price_col: str = "close",
    volume_col: str = "volume",
) -> DataFrame:
    """Anchored (intraday) VWAP: cumulative sum(price*volume)/sum(volume)
    within each (key, anchor) group ordered by (ts, id), resetting at the
    anchor boundary — the execution-quality benchmark every trading stack
    computes next to the close (the batch twin of
    streaming/stateful.streaming_vwap_exact, same integer-micro-unit
    fold, so batch and streamed VWAP agree bit-for-bit).

    One window over the composite (keys, anchor) partition — the anchor
    (typically the trading day) splits each symbol's history into bounded
    chunks, so no task ever sorts a symbol's full tick history; this is
    the same skew-robustness argument as max_drawdown_chunked, for free,
    because VWAP's reset IS a chunk boundary. Both cumulative sums share
    the ONE exchange+sort.

    Output: input columns + (vwap, cum_volume).
    """
    w = (
        Window.partitionBy(*keys, anchor_col)
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pv = (F.col(price_col) * F.col(volume_col)).cast(_DEC)
    # cum_volume keeps the input column's numeric family: integral
    # volumes (equities lots) stay exact BIGINT; fractional volumes
    # (crypto/odd-lot feeds with double volume) must NOT be truncated
    # to long — the truncation would also skew the vwap denominator.
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    vol_integral = isinstance(
        df.schema[volume_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    cum_vol = F.sum(F.col(volume_col)).over(w)
    cum_vol = cum_vol.cast("long") if vol_integral else cum_vol.cast("double")
    # guard cum_vol = 0 (legitimate no-trade bars before the first
    # traded volume in an anchor group): 0/0 would be NaN, which Spark
    # sorts above every real double — NULL is the defined-nowhere answer
    vwap = F.when(
        cum_vol > 0, F.sum(pv).over(w).cast("double") / cum_vol.cast("double")
    )
    return df.withColumn("vwap", vwap).withColumn("cum_volume", cum_vol)


def stochastic_oscillator(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 14,
    d: int = 3,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Stochastic oscillator %K / %D over per-key bars.

    %K = 100 * (close - min(low, n)) / (max(high, n) - min(low, n));
    %D = simple mean of the last ``d`` %K values. Flat windows
    (max == min) yield NULL %K, and %D averages only the non-NULL %K
    values in its frame (both engines' AVG-ignores-NULL convention, so
    the SQL twin replays exactly). Neither output is rounded: %K is
    per-row IEEE arithmetic (bit-identical across engines at identical
    operand order), and %D averages %K quantized to integer micro-units
    (floor(k*1e6+0.5) — IEEE ops, no decimal-cast tie-breaking, which
    engines disagree on exactly when %K is dyadic, e.g. a power-of-two
    cent range; see rolling_sharpe) — partition-invariant BIGINT sums,
    then one division and one 1e-6 rescale, both IEEE-exact-rounded.

    Both rolling frames and the %D pass share ONE per-key exchange+sort
    (same partition key, same ordering). Warm-up bars use the bars seen
    so far (ROWS frame semantics), the standard convention.

    Output: input columns + (pct_k, pct_d).
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    f_n = w.rowsBetween(-(n - 1), 0)
    f_d = w.rowsBetween(-(d - 1), 0)
    lo_n = F.min(F.col(low)).over(f_n)
    hi_n = F.max(F.col(high)).over(f_n)
    k_raw = F.when(
        hi_n > lo_n, (F.col(close) - lo_n) / (hi_n - lo_n) * F.lit(100.0)
    )
    out = df.withColumn("pct_k", k_raw)
    kq = F.floor(F.col("pct_k") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    pct_d = (
        F.sum(kq).over(f_d).cast("double")
        / F.count(F.col("pct_k")).over(f_d).cast("double")
        / F.lit(1000000.0)
    )
    return out.withColumn("pct_d", pct_d)


def on_balance_volume(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    close: str = "close",
    volume_col: str = "volume",
) -> DataFrame:
    """On-balance volume: cumulative sum of sign(close - prev_close) *
    volume per key — the classic volume-flow confirmation indicator.
    The first bar contributes 0 (no prior close), the standard
    convention. With integer volumes the whole ledger is exact BIGINT
    arithmetic — no floating point anywhere, bit-identical on any
    engine and any partitioning.

    The lag and the cumulative sum share ONE per-key exchange+sort.

    Output: input columns + (obv,).
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(F.col(close)).over(w)
    signed = (
        F.when(prev.isNull(), F.lit(0))
        .when(F.col(close) > prev, F.col(volume_col))
        .when(F.col(close) < prev, -F.col(volume_col))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return df.withColumn("obv", F.sum(signed).over(cum))


def returns_ledger(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    close: str = "close",
) -> DataFrame:
    """Per-key return ledger over an ordered close series: simple return,
    log return, and since-inception cumulative return.

    cum_ret is computed as close / first_close - 1 (one division against
    the window's first value) rather than exp(sum(log)) — division is
    IEEE-exact, so the cumulative ledger carries NO accumulated rounding
    and replays bit-identically in SQL. log_ret uses ln() (correct to
    <1 ulp in both engines) rounded to the repo's 1e-6 quantum.
    Non-positive closes are excluded (returns are defined on prices).

    All three windows share ONE per-key exchange+sort. First bar:
    ret/log_ret NULL, cum_ret 0.

    Output: keys, order_col, close, prev_close, ret, log_ret, cum_ret.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    first = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pos = df.filter(F.col(close) > 0)
    prev = F.lag(F.col(close)).over(w)
    first_close = F.first(F.col(close)).over(first)
    return pos.select(
        *keys,
        F.col(order_col),
        F.col(close),
        prev.alias("prev_close"),
        # q6, not round(): a return against a 2^k-cent close is a dyadic
        # rational whose 7th decimal is exactly 5 (NOTES.md recipe #10).
        q6(F.col(close) / prev - F.lit(1.0), "ret"),
        q6(F.log(F.col(close) / prev), "log_ret"),
        q6(F.col(close) / first_close - F.lit(1.0), "cum_ret"),
    )


def rolling_sharpe(
    returns: DataFrame,
    keys: Sequence[str],
    order_col: str,
    ret_col: str = "ret",
    n: int = 20,
    min_obs: int = 2,
    ret_cap: float = 10.0,
) -> DataFrame:
    """Rolling Sharpe ratio (risk-free rate 0): rolling mean / rolling
    sample stddev of the last ``n`` per-key returns. Windows with fewer
    than ``min_obs`` returns or zero variance yield NULL.

    Returns are quantized to integer MICRO-UNITS first
    (floor(ret*1e6 + 0.5) — multiply/add/floor are plain IEEE ops,
    bit-identical in every engine), and both frame moments are then
    exact BIGINT sums. This deliberately avoids the double->decimal
    cast used elsewhere: engines disagree on ties (Spark HALF_UP,
    DuckDB half-even), and returns HIT exact 7th-decimal .5 ties
    whenever the previous close is a power-of-two number of cents
    (ret = k/2^a — e.g. prev 1.28 -> ret 37.5078125). Integer
    micro-unit moments have no tie to break; the final mean/sqrt/divide
    are IEEE correctly-rounded, so the unrounded double replays
    bit-identically. (Micro-unit/micro²-unit scale factors cancel in
    mean/stddev, so no rescale is needed.) Returns with
    ``|ret| > ret_cap`` are winsorized out first — beta_vs_market's
    convention: a >1000% daily move is a data error, and the cap keeps
    q*q inside exact BIGINT/double range (q <= 1e7+ -> sum of n q² well
    under 2^53). One exchange+sort per key; the input here is per-key
    BARS, already reduced from ticks upstream.

    Output: input columns (winsorized) + (sharpe,).
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    frame = w.rowsBetween(-(n - 1), 0)
    r = F.col(ret_col)
    returns = returns.filter(F.abs(r) <= F.lit(ret_cap))
    q = F.floor(r * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    cnt = F.count(r).over(frame).cast("double")
    s1 = F.sum(q).over(frame).cast("double")
    s2 = F.sum(q * q).over(frame).cast("double")
    mean = s1 / cnt
    var_n = (s2 - s1 * s1 / cnt) / (cnt - F.lit(1.0))
    sharpe = F.when(
        (cnt >= float(min_obs)) & (var_n > 0), mean / F.sqrt(var_n)
    )
    return returns.withColumn("sharpe", sharpe)


def candle_patterns(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    open_col: str = "open",
    high: str = "high",
    low: str = "low",
    close: str = "close",
    doji_frac: float = 0.1,
    shadow_mult: float = 2.0,
) -> DataFrame:
    """Classic candlestick pattern flags per bar: doji, hammer,
    shooting star, bullish/bearish engulfing.

    - doji: |close-open| <= doji_frac * (high-low), range > 0
    - hammer: lower shadow >= shadow_mult * body, upper shadow <= body
    - shooting star: the mirror (upper shadow >= mult*body, lower <= body)
    - bullish engulfing: prev bar bearish, this bar bullish, and this
      body strictly contains the prev body (prev close/open inside
      [open, close])
    - bearish engulfing: the mirror

    Pure comparisons and one multiply on per-bar doubles — exact in any
    engine — plus two lags sharing the single per-key exchange+sort.
    Engulfing flags are false on the first bar (no prior candle).

    Output: input columns + 5 boolean flags.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    o, h, l, c = (F.col(x) for x in (open_col, high, low, close))
    body = F.abs(c - o)
    rng = h - l
    upper = h - F.greatest(o, c)
    lower = F.least(o, c) - l
    prev_o = F.lag(o).over(w)
    prev_c = F.lag(c).over(w)
    doji = (rng > 0) & (body <= F.lit(doji_frac) * rng)
    hammer = (body > 0) & (lower >= F.lit(shadow_mult) * body) & (
        upper <= body
    )
    shooting = (body > 0) & (upper >= F.lit(shadow_mult) * body) & (
        lower <= body
    )
    bull_engulf = (
        prev_c.isNotNull()
        & (prev_c < prev_o)
        & (c > o)
        & (o <= prev_c)
        & (c >= prev_o)
        & ((o < prev_c) | (c > prev_o))
    )
    bear_engulf = (
        prev_c.isNotNull()
        & (prev_c > prev_o)
        & (c < o)
        & (o >= prev_c)
        & (c <= prev_o)
        & ((o > prev_c) | (c < prev_o))
    )
    return (
        df.withColumn("is_doji", doji)
        .withColumn("is_hammer", hammer)
        .withColumn("is_shooting_star", shooting)
        .withColumn("is_bullish_engulfing", F.coalesce(bull_engulf, F.lit(False)))
        .withColumn("is_bearish_engulfing", F.coalesce(bear_engulf, F.lit(False)))
    )


def sma_crossover_backtest(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    close: str = "close",
    fast: int = 5,
    slow: int = 20,
    ret_cap_micro: int = 10_000_000,
) -> DataFrame:
    """Vectorized SMA-crossover backtest — the canonical algorithmic-
    trading strategy evaluated entirely in window functions (no
    per-symbol loop): long when sma_fast > sma_slow, enter on the NEXT
    bar (position = lag(signal) — no look-ahead), arithmetic (non-
    compounded) P&L.

    Per key, one ordered window partition carries everything: both SMAs
    (exact decimal rolling means, warm-up = bars seen so far), the lag'd
    position, the bar return quantized to integer micro-units
    (floor(r*1e6+0.5), clamped to ±ret_cap_micro so a data-error bar
    can't dominate — clamping keeps row alignment where winsorize-drop
    would shift the windows), and the position-transition flag. The
    final per-key reduction is all exact BIGINT sums — engine- and
    partition-invariant; only the last divisions are floating point.

    Output per key: n_days (bars with a defined return), n_trades
    (POSITION flips — a signal flip on the final bar never enters a
    position and is not a trade), n_positioned (bars held long), n_wins
    (held bars
    with positive return), total_return (sum of held arithmetic returns),
    hit_rate (wins / positioned, NULL when never positioned).
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    f_fast = w.rowsBetween(-(fast - 1), 0)
    f_slow = w.rowsBetween(-(slow - 1), 0)
    c = F.col(close)
    sma_f = (
        F.sum(c.cast(_DEC)).over(f_fast).cast("double")
        / F.count(c).over(f_fast).cast("double")
    )
    sma_s = (
        F.sum(c.cast(_DEC)).over(f_slow).cast("double")
        / F.count(c).over(f_slow).cast("double")
    )
    base = df.filter(c > 0).select(
        *keys, F.col(order_col), c,
        (sma_f > sma_s).cast("int").alias("_sig"),
        F.lag(c).over(w).alias("_prev"),
    )
    ret_q_raw = F.floor(
        (c / F.col("_prev") - F.lit(1.0)) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    ret_q = F.greatest(
        F.least(ret_q_raw, F.lit(ret_cap_micro)), F.lit(-ret_cap_micro)
    )
    w2 = Window.partitionBy(*keys).orderBy(order_col)
    scored = base.select(
        *keys,
        F.col(order_col),
        F.coalesce(F.lag("_sig").over(w2), F.lit(0)).alias("_pos"),
        F.when(F.col("_prev").isNotNull(), ret_q).alias("_rq"),
        # n_trades counts POSITION flips (pos_t = sig_{t-1}, so a flip is
        # sig_{t-1} != sig_{t-2}) — a signal flip on a key's final bar
        # never becomes a position and must not count as a trade
        (
            F.coalesce(F.lag("_sig").over(w2), F.lit(0))
            != F.coalesce(F.lag("_sig", 2).over(w2), F.lit(0))
        ).cast("long").alias("_flip"),
    )
    pos = F.col("_pos")
    rq = F.col("_rq")
    return scored.groupBy(*keys).agg(
        F.count(rq).alias("n_days"),
        F.sum("_flip").cast("long").alias("n_trades"),
        F.sum(F.when(rq.isNotNull(), pos).otherwise(0).cast("long"))
        .cast("long")
        .alias("n_positioned"),
        F.sum(F.when(rq.isNotNull() & (pos == 1) & (rq > 0), 1).otherwise(0))
        .cast("long")
        .alias("n_wins"),
        (
            F.sum(F.when(pos == 1, rq).otherwise(F.lit(0).cast("long")))
            .cast("double")
            / F.lit(1000000.0)
        ).alias("total_return"),
        F.when(
            F.sum(F.when(rq.isNotNull(), pos).otherwise(0)) > 0,
            F.sum(
                F.when(rq.isNotNull() & (pos == 1) & (rq > 0), 1).otherwise(0)
            ).cast("double")
            / F.sum(F.when(rq.isNotNull(), pos).otherwise(0)).cast("double"),
        ).alias("hit_rate"),
    )


def keltner_channels(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 20,
    m: int = 10,
    mult: float = 2.0,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Keltner channels (classic SMA form): midline = SMA of the typical
    price (h+l+c)/3 over ``n`` bars, band = ``mult`` x the SMA of the
    true range over ``m`` bars — the volatility envelope next to
    Bollinger on every charting stack (Bollinger widens with price
    DISPERSION, Keltner with RANGE; traders read the divergence).

    Same determinism scheme as :func:`atr`: both rolling means are exact
    decimal sums over one IEEE-per-row input expression, so the result
    is partition-invariant and replays in plain window SQL. The typical
    price, the TR lag, and both rolling frames all share ONE per-key
    exchange+sort (``.explain``: a single Exchange under three Window
    nodes), so the operator costs the same single shuffle as a lone SMA
    at any scale.

    Output: input columns + (tp, tr, kc_mid, kc_upper, kc_lower).
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    f_n = w.rowsBetween(-(n - 1), 0)
    f_m = w.rowsBetween(-(m - 1), 0)
    tp = (F.col(high) + F.col(low) + F.col(close)) / F.lit(3.0)
    out = true_range(df, keys, order_col, high, low, close).withColumn("tp", tp)
    mid = (
        F.sum(F.col("tp").cast(_DEC)).over(f_n).cast("double")
        / F.count(F.lit(1)).over(f_n).cast("double")
    )
    band = (
        F.sum(F.col("tr").cast(_DEC)).over(f_m).cast("double")
        / F.count(F.lit(1)).over(f_m).cast("double")
    ) * F.lit(mult)
    return (
        out.withColumn("kc_mid", mid)
        .withColumn("kc_upper", F.col("kc_mid") + band)
        .withColumn("kc_lower", F.col("kc_mid") - band)
    )


def heikin_ashi(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    open_col: str = "open",
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Heikin-Ashi candles — the recursively-smoothed OHLC transform
    (ha_open averages the PREVIOUS HA candle, so it is a true sequential
    fold, not a window):

    - ha_close_i = (o+h+l+c)/4
    - ha_open_0 = (o+c)/2 ; ha_open_i = (ha_open_{i-1}+ha_close_{i-1})/2
    - ha_high = max(h, ha_open, ha_close) ; ha_low = min(l, ...)

    Like ema_macd_exact (operators/extension.py), the fold runs in
    integer MICRO-UNITS with floor halving/quartering, so the per-group
    pandas fold and a DuckDB recursive CTE compute identical BIGINT
    states — an exact oracle for a recurrence no window expression can
    express. Grouped-map per key (Arrow both ways): each group is one
    instrument's bar history — bounded rows, embarrassingly parallel
    across instruments; the shuffle is the single groupBy(keys).

    Output: keys + order_col + o/h/l/c + ha_open/ha_high/ha_low/ha_close
    (doubles, micro-unit exact).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    in_cols = [*key_list, order_col, open_col, high, low, close]
    src = df.select(*in_cols)
    schema = (
        f"{src.schema.toDDL()}, ha_open double, ha_high double,"
        " ha_low double, ha_close double"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        o = np.floor(pdf[open_col].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        h = np.floor(pdf[high].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        lo = np.floor(pdf[low].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        c = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        ha_c = (o + h + lo + c) // 4
        # plain-list recurrence (numpy scalar indexing is ~5x slower in
        # sequential folds — see the hot-key smoke in SCALE_RESULTS.md)
        hacl = ha_c.tolist()
        haol = [0] * len(hacl)
        prev_o = (int(o[0]) + int(c[0])) // 2 if len(hacl) else 0
        for i, pc in enumerate(hacl):
            haol[i] = prev_o
            prev_o = (prev_o + pc) // 2
        ha_o = np.asarray(haol, dtype=np.int64)
        ha_h = np.maximum(h, np.maximum(ha_o, ha_c))
        ha_l = np.minimum(lo, np.minimum(ha_o, ha_c))
        return pdf.assign(
            ha_open=ha_o / 1e6,
            ha_high=ha_h / 1e6,
            ha_low=ha_l / 1e6,
            ha_close=ha_c / 1e6,
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def supertrend(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 10,
    mult: int = 3,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Supertrend indicator — the CONDITIONALLY-stateful recurrence class
    (state updates depend on comparisons against prior state, so unlike
    SMA/EMA it cannot even be expanded into a closed form):

    - Wilder ATR: atr_t = floor((atr_{t-1} * (n-1) + tr_t) / n), seeded
      with the plain mean of the first n true ranges;
    - basic bands: (high+low)/2 +/- mult * atr;
    - final bands ratchet: the upper band only moves DOWN while price
      stays below it (resets on a close above), the lower band only
      moves UP while price stays above;
    - trend: flips up when close crosses the final upper band, down when
      it crosses the final lower band; supertrend = the active band.

    The whole fold runs in integer MICRO-UNITS (floor division — exact
    BIGINT state), so the per-group pandas loop and a DuckDB recursive
    CTE with the same CASE logic compute identical states — the third
    recurrence family with an exact oracle after EMA and Heikin-Ashi.

    Output: keys + order_col + h/l/c + (atr, st_upper, st_lower, trend,
    supertrend); rows before the ATR seed window emit NULL indicator
    values (warm-up, the charting convention).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, high, low, close)
    schema = (
        f"{src.schema.toDDL()}, atr double, st_upper double, st_lower double,"
        " trend int, supertrend double"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        h = np.floor(pdf[high].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        lo = np.floor(pdf[low].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        c = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        m = len(h)
        atr = np.full(m, -1, dtype=np.int64)
        fub = np.zeros(m, dtype=np.int64)
        flb = np.zeros(m, dtype=np.int64)
        trend = np.zeros(m, dtype=np.int64)
        # true range (integer, vectorized): first bar = h-l
        cprev = np.concatenate((c[:1], c[:-1]))
        tr = np.maximum(
            h - lo, np.maximum(np.abs(h - cprev), np.abs(lo - cprev))
        )
        tr[0] = h[0] - lo[0]
        if m >= n:
            # plain-list state loop (numpy scalar indexing is ~5x slower
            # in sequential folds; measured on the 2M-row hot-key smoke)
            hl, ll, cl = h.tolist(), lo.tolist(), c.tolist()
            trl = tr.tolist()
            al = [0] * m
            a = int(np.sum(tr[:n])) // n  # seed: mean of first n TRs
            al[n - 1] = a
            atr[n - 1] = a
            for i in range(n, m):
                a = (a * (n - 1) + trl[i]) // n
                al[i] = a
            atr[n:] = al[n:]
            # bands + trend from the seed bar on
            ful, fll, tdl = [0] * m, [0] * m, [0] * m
            pu = pl = 0
            t = 1
            for i in range(n - 1, m):
                mid2 = hl[i] + ll[i]  # 2*mid in micro-units
                ub = (mid2 + 2 * mult * al[i]) // 2
                lb = (mid2 - 2 * mult * al[i]) // 2
                if i == n - 1:
                    fu, fl = ub, lb
                    t = 1 if cl[i] > fu else -1 if cl[i] < fl else 1
                else:
                    fu = ub if (ub < pu or cl[i - 1] > pu) else pu
                    fl = lb if (lb > pl or cl[i - 1] < pl) else pl
                    if t == 1 and cl[i] < fl:
                        t = -1
                    elif t == -1 and cl[i] > fu:
                        t = 1
                ful[i], fll[i], tdl[i] = fu, fl, t
                pu, pl = fu, fl
            fub[n - 1:] = ful[n - 1:]
            flb[n - 1:] = fll[n - 1:]
            trend[n - 1:] = tdl[n - 1:]
        valid = atr >= 0

        def masked(x):
            # direct masked-array constructor: ~6x cheaper than pd.array
            # + NA assignment at 2M-row groups; warm-up rows are NULL
            # (not NaN) like the SQL twin's LEFT JOIN misses
            return pd.arrays.FloatingArray(x / 1e6, ~valid)

        tarr = pd.arrays.IntegerArray(trend.astype(np.int32), ~valid)
        return pdf.assign(
            atr=masked(atr),
            st_upper=masked(fub),
            st_lower=masked(flb),
            trend=tarr,
            supertrend=masked(np.where(trend == 1, flb, fub)),
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def williams_r(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 14,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Williams %R over per-key bars: the stochastic oscillator's
    inverted twin, ``-100 * (HH - close) / (HH - LL)`` over the last
    ``n`` bars (0 at the high, -100 at the low of the range).

    Flat windows (HH == LL) yield NULL, and the quotient is left
    UNROUNDED: per-row IEEE division of identical operands is
    bit-identical across engines (see stochastic_oscillator), while any
    rounding would re-introduce the dyadic half-tie problem. Both
    extremes share one per-key exchange+sort; warm-up bars use the bars
    seen so far (ROWS frame).

    Output: keys, order_col, close, hh, ll, williams_r.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    f = w.rowsBetween(-(n - 1), 0)
    hh = F.max(F.col(high)).over(f)
    ll = F.min(F.col(low)).over(f)
    wr = F.when(hh > ll, (hh - F.col(close)) / (hh - ll) * F.lit(-100.0))
    return df.select(
        *keys,
        F.col(order_col),
        F.col(close),
        hh.alias("hh"),
        ll.alias("ll"),
        wr.alias("williams_r"),
    )


def money_flow_index(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 14,
    high: str = "high",
    low: str = "low",
    close: str = "close",
    volume: str = "volume",
) -> DataFrame:
    """Money Flow Index (volume-weighted RSI) over per-key bars.

    Typical price tp = (h+l+c)/3; raw flow tp*volume is quantized to
    integer micro-units (floor(x*1e6+0.5) — IEEE multiply/add/floor, no
    decimal-cast tie-break) and classified positive/negative by tp vs
    the previous tp, so the rolling sums are partition-invariant BIGINT
    reductions and MFI = 100 * pos / (pos + neg) is ONE exact-operand
    IEEE division — bit-identical cross-engine with no rounding step.
    First bar of a series (no previous tp) contributes to neither sum;
    MFI is NULL while pos + neg == 0 (all-flat warm-ups).

    Everything rides one per-key exchange+sort.
    Output: keys, order_col, close, volume, mfi.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    f = w.rowsBetween(-(n - 1), 0)
    tp = (F.col(high) + F.col(low) + F.col(close)) / F.lit(3.0)
    prev = F.lag(tp).over(w)
    imf = F.floor(tp * F.col(volume).cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    pos = F.when(prev.isNotNull() & (tp > prev), imf).otherwise(F.lit(0))
    neg = F.when(prev.isNotNull() & (tp < prev), imf).otherwise(F.lit(0))
    sp = F.sum(pos).over(f)
    sn = F.sum(neg).over(f)
    mfi = F.when(
        sp + sn > 0,
        F.lit(100.0) * sp.cast("double") / (sp + sn).cast("double"),
    )
    return df.select(
        *keys,
        F.col(order_col),
        F.col(close),
        F.col(volume),
        mfi.alias("mfi"),
    )


def rate_of_change(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 10,
    close: str = "close",
) -> DataFrame:
    """n-bar Rate of Change and Momentum per key.

    roc = (close / close_n_ago - 1) * 100, quantized via q6 (a return
    against a 2^k-cent prior close is dyadic — round() half-ties
    diverge cross-engine); momentum = close - close_n_ago is IEEE-exact
    subtraction and stays raw. NULL during the first ``n`` bars, and
    roc is NULL when the prior close is 0 (rate of change is undefined
    there; ANSI mode would otherwise raise, and SQL engines would emit
    inf).

    Output: keys, order_col, close, prior_close, roc, momentum.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    prior = F.lag(F.col(close), n).over(w)
    return df.select(
        *keys,
        F.col(order_col),
        F.col(close),
        prior.alias("prior_close"),
        F.when(
            prior != 0,
            q6((F.col(close) / prior - F.lit(1.0)) * F.lit(100.0)),
        ).alias("roc"),
        (F.col(close) - prior).alias("momentum"),
    )


def pivot_points(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Classic floor-trader pivot levels from the PREVIOUS bar:
    P = (prevH + prevL + prevC) / 3, R1/S1 = 2P - prevL / 2P - prevH,
    R2/S2 = P +/- (prevH - prevL).

    Every level is a fixed chain of IEEE +,-,*,/ on the previous bar's
    values — bit-identical across engines with NO rounding or decimal
    casts anywhere. One lag window, one exchange. First bar: all NULL.

    Output: keys, order_col, close, pivot, r1, s1, r2, s2.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    ph = F.lag(F.col(high)).over(w)
    pl = F.lag(F.col(low)).over(w)
    pc = F.lag(F.col(close)).over(w)
    p = (ph + pl + pc) / F.lit(3.0)
    return df.select(
        *keys,
        F.col(order_col),
        F.col(close),
        p.alias("pivot"),
        (F.lit(2.0) * p - pl).alias("r1"),
        (F.lit(2.0) * p - ph).alias("s1"),
        (p + (ph - pl)).alias("r2"),
        (p - (ph - pl)).alias("s2"),
    )


def chaikin_ad(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 20,
    high: str = "high",
    low: str = "low",
    close: str = "close",
    volume: str = "volume",
) -> DataFrame:
    """Chaikin Accumulation/Distribution line + Chaikin Money Flow.

    Money-flow multiplier mfm = ((c-l) - (h-c)) / (h-l) (0 on flat
    bars); money-flow volume mfm*volume is quantized to integer
    micro-units once, so the cumulative A/D line and the n-bar CMF
    numerator are partition-invariant BIGINT sums. ad = cum_sum/1e6 and
    cmf = mfv_sum / 1e6 / vol_sum are fixed IEEE division chains
    (mirrored op-for-op in the SQL twin) — no rounding, no decimal
    casts. CMF is NULL while the n-bar volume sum is 0.

    One per-key exchange+sort carries the lag-free cumulative frame and
    the n-bar frame. Output: keys, order_col, close, volume, ad, cmf.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    f = w.rowsBetween(-(n - 1), 0)
    h, l, c = F.col(high), F.col(low), F.col(close)
    mfm = F.when(h > l, ((c - l) - (h - c)) / (h - l)).otherwise(F.lit(0.0))
    imfv = F.floor(
        mfm * F.col(volume).cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    vol_n = F.sum(F.col(volume)).over(f)
    ad = F.sum(imfv).over(cum).cast("double") / F.lit(1e6)
    cmf = F.when(
        vol_n > 0,
        F.sum(imfv).over(f).cast("double") / F.lit(1e6) / vol_n.cast("double"),
    )
    return df.select(
        *keys,
        F.col(order_col),
        c,
        F.col(volume),
        ad.alias("ad"),
        cmf.alias("cmf"),
    )


#: aroon() packs (micro-unit price rank, row number) into one BIGINT so
#: the windowed max is a deterministic argmax: price dominates, row
#: number breaks ties toward the LATEST bar (the standard Aroon
#: convention). 2^21 rows per key is plenty for daily bars. The 2^40
#: offset keeps the packed value POSITIVE even for the negated low side
#: (and negative prices): Spark's and DuckDB's % both truncate toward
#: zero, so decoding `enc % bits` is only the mathematical row number
#: when enc >= 0. (2^40 + 1e12) * 2^21 stays under 2^62.
_AROON_RN_BITS = 2097152
_AROON_OFFSET = 1099511627776


def aroon(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 25,
    high: str = "high",
    low: str = "low",
) -> DataFrame:
    """Aroon up/down/oscillator over per-key bars.

    aroon_up = (n - bars_since_highest_high) / n * 100 over the last
    n+1 bars (0..n bars since); aroon_down likewise on the lowest low.
    "Bars since" is recovered from an integer argmax: prices are
    quantized to micro-units and packed with the row number
    (price * 2^21 + rn), so the rolling MAX is pure BIGINT arithmetic —
    deterministic in both engines, ties resolved toward the latest bar
    (Spark's max_by makes NO tie guarantee, so it is not used). With
    the default n=25 the output is exactly (n-d)*4.0 — an integer-
    valued double, no rounding involved.

    Packing precondition, ENFORCED at runtime (``assert_true`` folded
    into the packed value so it cannot be pruned): fewer than 2^21 bars
    per key and |price| < 2^40 micro-units (~1.1e6 in price units) —
    beyond either, the packed argmax would silently corrupt. A key that
    trips the guard fails the job with a clear message instead.

    Output: keys, order_col, aroon_up, aroon_down, aroon_osc.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    f = w.rowsBetween(-n, 0)
    rn = F.row_number().over(w)
    ih = F.floor(F.col(high) * F.lit(1e6) + F.lit(0.5)).cast("long")
    il = F.floor(F.col(low) * F.lit(1e6) + F.lit(0.5)).cast("long")
    bits = F.lit(_AROON_RN_BITS)
    off = F.lit(_AROON_OFFSET)
    guard = F.assert_true(
        (rn < bits) & (ih > -off) & (ih < off) & (il > -off) & (il < off),
        F.lit(
            "aroon packing overflow: needs rows-per-key < 2^21 and"
            " |price| < ~1.1e6 (2^40 micro-units)"
        ),
    )
    pad = F.coalesce(guard.cast("long"), F.lit(0))
    src = df.withColumn("_rn", rn + pad).withColumn(
        "_he", (off + ih) * bits + F.col("_rn")
    ).withColumn("_le", (off - il) * bits + F.col("_rn"))
    w2 = Window.partitionBy(*keys).orderBy(order_col)
    f2 = w2.rowsBetween(-n, 0)
    rn_hh = F.max(F.col("_he")).over(f2) % bits
    rn_ll = F.max(F.col("_le")).over(f2) % bits
    scale = F.lit(100.0 / n)
    up = (F.lit(n) - (F.col("_rn") - rn_hh)).cast("double") * scale
    down = (F.lit(n) - (F.col("_rn") - rn_ll)).cast("double") * scale
    return src.select(
        *keys,
        F.col(order_col),
        up.alias("aroon_up"),
        down.alias("aroon_down"),
        (up - down).alias("aroon_osc"),
    )


def overnight_gaps(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    open_col: str = "open",
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Overnight gap ledger: open vs the previous close.

    gap_pct = (open / prev_close - 1) * 100 via q6 (dyadic-return
    class); direction is the sign; filled flags whether the session
    traded back through the prior close (low <= prev_close <= high) —
    pure comparisons. One lag window. First bar: no gap, not emitted;
    like returns_ledger, gaps are defined on POSITIVE prior closes
    (prev_close <= 0 rows are excluded, not NULL-padded).

    Output: keys, order_col, prev_close, open, gap_pct, direction,
    filled.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    pc = F.lag(F.col(close)).over(w)
    src = df.select(
        *keys,
        F.col(order_col),
        pc.alias("prev_close"),
        F.col(open_col).alias("open"),
        F.col(high),
        F.col(low),
    ).filter(F.col("prev_close") > 0)
    gap = q6((F.col("open") / F.col("prev_close") - F.lit(1.0)) * F.lit(100.0))
    return (
        src.withColumn("gap_pct", gap)
        .select(
            *keys,
            F.col(order_col),
            "prev_close",
            "open",
            "gap_pct",
            F.signum(F.col("gap_pct")).cast("int").alias("direction"),
            (
                (F.col(low) <= F.col("prev_close"))
                & (F.col("prev_close") <= F.col(high))
            ).alias("filled"),
        )
    )


def adx(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 14,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Wilder's DMI/ADX — the TWO-LEVEL-seeded recurrence class: three
    chained Wilder-smoothed sums (+DM, -DM, TR), then the ADX itself is
    a second Wilder recurrence over the derived DX series, seeded by a
    running sum carried through the first recursion.

    Per bar (from the 2nd): up = h_t - h_{t-1}, dn = l_{t-1} - l_t;
    +DM = up if up > dn and up > 0 else 0 (and symmetrically -DM); TR
    as usual. Smoothed sums seed at bar n+1 with the plain sum of the
    first n values and then follow S' = S - S//n + X (integer floor —
    exact BIGINT state in micro-units). +DI/-DI = 100 * S_dm / S_tr is
    one IEEE division of exact BIGINTs; DX collapses to
    100 * |S+ - S-| / (S+ + S-) (the common S_tr cancels) and is
    carried as an integer scaled by 1e4 via floor division, so the ADX
    recurrence adx' = (adx*(n-1) + dx) // n is also exact BIGINT. ADX
    seeds at bar 2n with the mean of the first n DX values.

    The DuckDB twin replays the identical state machine as a recursive
    CTE (all quantities nonnegative, so `//` truncation IS floor).
    Magnitude precondition: |price| < ~1e6 keeps every intermediate
    under 2^62 (micro-unit sums ~n*1e12, times the 1e6 DX scale).

    Flat-market edges: +DI/-DI are NULL while S_tr == 0; DX is 0 while
    S+ + S- == 0 (Wilder's convention). Warm-up bars emit NULL.

    Output: keys + order_col + (pdi, mdi, adx).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, high, low, close)
    schema = f"{src.schema.toDDL()}, pdi double, mdi double, adx double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        h = np.floor(pdf[high].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        lo = np.floor(pdf[low].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        c = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        m = len(h)
        pdi = np.full(m, np.nan)
        mdi = np.full(m, np.nan)
        adxv = np.full(m, np.nan)
        if m >= n + 1:
            # directional movements / TR vectorize wholesale; only the
            # Wilder smoothing below is sequential (plain-list loop —
            # see the hot-key smoke in SCALE_RESULTS.md)
            up_v = np.diff(h)
            dn_v = -np.diff(lo)
            pdm = np.zeros(m, dtype=np.int64)
            ndm = np.zeros(m, dtype=np.int64)
            pdm[1:] = np.where((up_v > dn_v) & (up_v > 0), up_v, 0)
            ndm[1:] = np.where((dn_v > up_v) & (dn_v > 0), dn_v, 0)
            cprev = np.concatenate((c[:1], c[:-1]))
            tr = np.maximum(
                h - lo, np.maximum(np.abs(h - cprev), np.abs(lo - cprev))
            )
            tr[0] = 0
            # first-level seed at bar n+1 (index n): sums of bars 2..n+1
            sp = int(np.sum(pdm[1 : n + 1]))
            sn = int(np.sum(ndm[1 : n + 1]))
            st = int(np.sum(tr[1 : n + 1]))
            pdml, ndml, trl = pdm.tolist(), ndm.tolist(), tr.tolist()
            dxsum = 0
            au = -1  # scaled ADX state; -1 = not yet seeded
            for i in range(n, m):
                if i > n:
                    sp = sp - sp // n + pdml[i]
                    sn = sn - sn // n + ndml[i]
                    st = st - st // n + trl[i]
                if st > 0:
                    pdi[i] = 100.0 * sp / st
                    mdi[i] = 100.0 * sn / st
                dx = (1000000 * abs(sp - sn)) // (sp + sn) if sp + sn > 0 else 0
                if i < 2 * n - 1:
                    dxsum += dx
                elif i == 2 * n - 1:
                    dxsum += dx
                    au = dxsum // n
                    adxv[i] = au / 1e4
                else:
                    au = (au * (n - 1) + dx) // n
                    adxv[i] = au / 1e4
        def masked(x):
            return pd.arrays.FloatingArray(x, np.isnan(x))  # NaN -> NULL
        return pdf.assign(pdi=masked(pdi), mdi=masked(mdi), adx=masked(adxv))

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def parabolic_sar(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    af_step: int = 2,
    af_max: int = 20,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Wilder's Parabolic SAR — the fourth true-recurrence family after
    EMA, Heikin-Ashi and Supertrend, and the most state-heavy one: four
    mutually-dependent state variables (SAR, extreme point EP,
    acceleration factor AF, trend) where every update branches on
    comparisons against prior state. No closed form, no window
    expression; grouped-map fold per key with a recursive-CTE oracle.

    Recurrence (acceleration in integer HUNDREDTHS, af_step=2 ≡ 0.02):

    - seed at bar 2: trend = sign(close₂ − close₁) (ties up); long seeds
      SAR = min(low₁,low₂), EP = max(high₁,high₂); short mirrors.
    - each bar: SAR' = SAR + AF·(EP − SAR)/100 (floor), clamped to not
      enter the prior two bars' range (min of the two prior lows when
      long, max of the two prior highs when short);
    - reversal when price crosses SAR': SAR := prior EP, EP := the
      crossing extreme, AF := af_step;
    - otherwise a new extreme advances EP and steps AF by ``af_step``
      up to ``af_max``.

    All state is BIGINT micro-units. The invariant EP ≥ SAR (long) /
    SAR ≥ EP (short) holds by construction — SAR is clamped at or below
    prior lows while EP is a high — so both floor divisions operate on
    nonnegative operands and DuckDB's truncating ``//`` IS floor, the
    same trick supertrend's oracle leans on.

    Output: keys + order + h/l/c + (psar, trend, ep, af); bar 1 emits
    NULL indicator values (warm-up).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, high, low, close)
    schema = f"{src.schema.toDDL()}, psar double, trend int, ep double, af int"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        h = np.floor(pdf[high].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        lo = np.floor(pdf[low].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        c = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        m = len(h)
        sar_a = np.zeros(m, dtype=np.int64)
        ep_a = np.zeros(m, dtype=np.int64)
        af_a = np.zeros(m, dtype=np.int64)
        tr_a = np.zeros(m, dtype=np.int64)
        valid = np.zeros(m, dtype=bool)
        if m >= 2:
            # plain-list loop: numpy scalar indexing is ~5x slower than
            # list indexing in the sequential state machine (measured on
            # the 2M-row hot-key smoke)
            hl, ll, cl_ = h.tolist(), lo.tolist(), c.tolist()
            sl, el, al, tl = ([0] * m for _ in range(4))
            t = 1 if cl_[1] >= cl_[0] else -1
            if t == 1:
                sar, ep = min(ll[0], ll[1]), max(hl[0], hl[1])
            else:
                sar, ep = max(hl[0], hl[1]), min(ll[0], ll[1])
            af = af_step
            sl[1], el[1], al[1], tl[1], valid[1] = sar, ep, af, t, True
            for i in range(2, m):
                if t == 1:
                    cl = min(sar + (af * (ep - sar)) // 100,
                             ll[i - 1], ll[i - 2])
                    if ll[i] < cl:  # price pierced the SAR: flip short
                        t, sar, ep, af = -1, ep, ll[i], af_step
                    else:
                        if hl[i] > ep:
                            af = min(af + af_step, af_max)
                            ep = hl[i]
                        sar = cl
                else:
                    cl = max(sar - (af * (sar - ep)) // 100,
                             hl[i - 1], hl[i - 2])
                    if hl[i] > cl:  # flip long
                        t, sar, ep, af = 1, ep, hl[i], af_step
                    else:
                        if ll[i] < ep:
                            af = min(af + af_step, af_max)
                            ep = ll[i]
                        sar = cl
                sl[i], el[i], al[i], tl[i], valid[i] = sar, ep, af, t, True
            sar_a[1:] = sl[1:]
            ep_a[1:] = el[1:]
            af_a[1:] = al[1:]
            tr_a[1:] = tl[1:]

        def masked_px(x):
            return pd.arrays.FloatingArray(x / 1e6, ~valid)

        def masked_i(x):
            return pd.arrays.IntegerArray(x.astype(np.int32), ~valid)

        return pdf.assign(
            psar=masked_px(sar_a), trend=masked_i(tr_a),
            ep=masked_px(ep_a), af=masked_i(af_a),
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def trix(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 15,
    close: str = "close",
) -> DataFrame:
    """TRIX — 1-bar rate of change of a TRIPLE-smoothed EMA. Three
    chained EMA recurrences (e2 folds over e1's states, e3 over e2's) —
    the depth-3 :func:`~.extension.ema_chain` exact integer micro-unit
    fold: state += floor(2.0·(x − state)/(n+1.0))
    with the floor over the double quotient, all operands far below
    2^53, so pandas and a recursive CTE carrying (e1, e2, e3) compute
    identical BIGINT states. TRIX itself is an IEEE quotient of exact
    integers: 100·(e3_t − e3_{t−1})/e3_{t−1}.

    Output: keys + order + close + (trix_ema, trix); the first bar's
    trix is NULL (no prior e3).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = f"{src.schema.toDDL()}, trix_ema double, trix double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        e3 = ema_chain(v, [n] * 3)[2]
        p3 = e3[:-1]
        tx = np.full(len(v), np.nan)
        with np.errstate(divide="ignore", invalid="ignore"):
            tx[1:] = np.where(p3 != 0, 100.0 * (e3[1:] - p3) / p3, np.nan)
        txa = pd.arrays.FloatingArray(tx, np.isnan(tx))
        return pdf.assign(trix_ema=e3 / 1e6, trix=txa)

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def cci(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    n: int = 20,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Commodity Channel Index — a window aggregate Spark has no
    built-in for: the mean absolute deviation of typical price around
    the WINDOW's own mean. Native expression (no pandas): typical price
    stays in 3× micro-units (tp3 = hu+lu+cu, exact BIGINT — never
    divides by 3), the n-row window yields the exact integer sum s, and
    the MAD numerator folds collect_list(tp3) with a higher-order
    aggregate Σ|n·tp3ᵢ − s| — every term exact. The one interpreted
    lambda runs over n=20 elements per row, not per-corpus (the
    NOTES.md higher-order-function rule: fine off the hot path).

        cci = (tp − sma) / (0.015 · mad) = n·(n·tp3 − s) / (0.015 · madnum)

    — numerator exact in float64 (≤ ~1e12 micro-units·n²), denominator
    one IEEE product, quotient one IEEE division: bit-identical in any
    engine with the same integers. NULL until the window holds n bars
    and on flat windows (mad = 0).

    Scale: one hash shuffle on the key, one in-partition sort; the
    collect_list frame is n rows — bounded memory per row.
    """
    key_list = list(keys)
    order_list = list(order_cols)
    tp3 = u6(F.col(high)) + u6(F.col(low)) + u6(F.col(close))
    w = (
        Window.partitionBy(*key_list)
        .orderBy(*order_list)
        .rowsBetween(-(n - 1), 0)
    )
    out = (
        df.withColumn("_tp3", tp3)
        .withColumn("_cnt", F.count(F.lit(1)).over(w))
        .withColumn("_s", F.sum("_tp3").over(w))
        .withColumn("_lst", F.collect_list("_tp3").over(w))
    )
    madnum = F.aggregate(
        F.col("_lst"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.abs(F.lit(n) * x - F.col("_s")),
    )
    val = (
        (F.lit(float(n)) * (F.lit(n) * F.col("_tp3") - F.col("_s")).cast("double"))
        / (F.lit(0.015) * F.col("_madnum").cast("double"))
    )
    return (
        out.withColumn("_madnum", madnum)
        .withColumn(
            "cci",
            F.when(
                (F.col("_cnt") == n) & (F.col("_madnum") > 0), val
            ),
        )
        .drop("_tp3", "_cnt", "_s", "_lst", "_madnum")
    )


def vortex(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    n: int = 14,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Vortex indicator (VI+ / VI−): n-bar sums of the up/down vortex
    movements |high_t − low_{t−1}| and |low_t − high_{t−1}| over the
    n-bar sum of true range. Pure lag + window sums on exact BIGINT
    micro-units; the two VI values are IEEE quotients of exact
    integers. NULL until n lagged bars exist and when ΣTR = 0.

    Scale: one hash shuffle on the key, one in-partition sort, three
    bounded window sums sharing the frame — a single exchange.
    """
    key_list = list(keys)
    order_list = list(order_cols)
    wlag = Window.partitionBy(*key_list).orderBy(*order_list)
    w = (
        Window.partitionBy(*key_list)
        .orderBy(*order_list)
        .rowsBetween(-(n - 1), 0)
    )
    hu, lu, cu = (u6(F.col(c)) for c in (high, low, close))
    ph = F.lag(hu).over(wlag)
    pl = F.lag(lu).over(wlag)
    pc = F.lag(cu).over(wlag)
    vmp = F.abs(hu - pl)
    vmm = F.abs(lu - ph)
    tru = F.greatest(hu - lu, F.abs(hu - pc), F.abs(lu - pc))
    out = (
        df.withColumn("_vmp", vmp)
        .withColumn("_vmm", vmm)
        .withColumn("_tru", tru)
        .withColumn("_k", F.count("_vmp").over(w))
        .withColumn("_svp", F.sum("_vmp").over(w))
        .withColumn("_svm", F.sum("_vmm").over(w))
        .withColumn("_str", F.sum("_tru").over(w))
    )
    ok = (F.col("_k") == n) & (F.col("_str") > 0)
    return (
        out.withColumn(
            "vi_plus",
            F.when(ok, F.col("_svp").cast("double") / F.col("_str").cast("double")),
        )
        .withColumn(
            "vi_minus",
            F.when(ok, F.col("_svm").cast("double") / F.col("_str").cast("double")),
        )
        .drop("_vmp", "_vmm", "_tru", "_k", "_svp", "_svm", "_str")
    )


def kama(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 10,
    fast: int = 2,
    slow: int = 30,
    close: str = "close",
) -> DataFrame:
    """Kaufman's Adaptive Moving Average — the FIFTH recurrence family,
    distinct from the others: the smoothing coefficient itself is
    DATA-DEPENDENT per step (the efficiency ratio of an n-bar window),
    so the fold is ``e_t = e_{t-1} + sc_t · (p_t − e_{t-1})`` with a
    different sc every bar:

        er_t = |p_t − p_{t−n}| / Σ|p_i − p_{i−1}|   (n-bar window; 0 on
                                                     a flat window)
        sc_t = (er_t · (2/(fast+1) − 2/(slow+1)) + 2/(slow+1))²

    The key structural fact: er/sc are WINDOW-computable (no state), so
    the SQL oracle precomputes them as window columns and the recursive
    CTE carries only the single BIGINT state e — the cheap shape for a
    data-dependent-coefficient recurrence.

    All arithmetic is integer micro-units with nonnegative floor
    divisions (|Δp| ≤ Σ|Δp| keeps er6 ≤ 1e6; the state update branches
    on sign so DuckDB's truncating ``//`` is floor): er6 = (num·1e6)//den,
    sc6 = (er6·(cf6−cs6))//1e6 + cs6, sc2 = (sc6·sc6)//1e6,
    e ±= (sc2·|p−e|)//1e6.

    Seed: e = price at bar n (the first bar with a full ER window one
    step later); bars 1..n−1 emit NULL (warm-up).

    Output: keys + order + close + (er, kama).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    cf6 = 2_000_000 // (fast + 1)
    cs6 = 2_000_000 // (slow + 1)
    src = df.select(*key_list, order_col, close)
    schema = f"{src.schema.toDDL()}, er double, kama double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        p = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        m = len(p)
        er_a = np.full(m, np.nan)
        ka = np.full(m, np.nan)
        if m >= n:
            # er/sc are window functions of the inputs — vectorize them
            # wholesale in int64 (all magnitudes < 2^53: num*1e6 <= 1e15,
            # rolling-sum cumsum < 2^62); only the single-state e-update
            # stays a (plain-list) sequential loop
            d = np.abs(np.diff(p))  # d[i] = |p_{i+1} - p_i|
            cs = np.concatenate(([0], np.cumsum(d)))
            den_v = cs[n:] - cs[:-n]          # den for bars n..m-1
            num_v = np.abs(p[n:] - p[:-n])
            er_v = np.where(
                den_v == 0, 0, (num_v * 1_000_000) // np.maximum(den_v, 1)
            )
            sc6_v = (er_v * (cf6 - cs6)) // 1_000_000 + cs6
            sc2_v = (sc6_v * sc6_v) // 1_000_000
            e = int(p[n - 1])
            ka[n - 1] = e / 1e6
            pl, sc2l = p[n:].tolist(), sc2_v.tolist()
            ev = [0] * (m - n)
            for i, (pi, sc2) in enumerate(zip(pl, sc2l)):
                delta = pi - e
                if delta >= 0:
                    e += (sc2 * delta) // 1_000_000
                else:
                    e -= (sc2 * (-delta)) // 1_000_000
                ev[i] = e
            er_a[n:] = er_v / 1e6
            ka[n:] = np.asarray(ev, dtype=np.float64) / 1e6

        def masked(x):
            return pd.arrays.FloatingArray(x, np.isnan(x))

        return pdf.assign(er=masked(er_a), kama=masked(ka))

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def vidya(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 9,
    s: int = 12,
    close: str = "close",
) -> DataFrame:
    """Chande's Variable Index Dynamic Average — the KAMA-family
    adaptive EMA whose per-step coefficient is volatility-gated by the
    Chande Momentum Oscillator instead of the efficiency ratio:

        cmo_t = |su − sd| / (su + sd)    (n-bar up/down move sums; 0 on
                                          a flat window)
        v_t   = v_{t−1} + (2/(s+1)) · cmo_t · (p_t − v_{t−1})

    Same structural split as :func:`kama`: the coefficient is
    WINDOW-computable (su/sd are frame sums of the quantized moves), so
    only the single state v folds sequentially; the SQL oracle
    precomputes cmo as a window column and its recursive CTE carries
    one BIGINT state.

    Integer micro-unit arithmetic throughout (the KAMA recipe):
    cmo6 = (|su−sd|·1e6)//(su+sd), a6 = (cmo6·f6)//1e6 with
    f6 = 2e6//(s+1), v ±= (a6·|p−v|)//1e6 — every step exact BIGINT,
    bit-identical cross-engine. Seed: v = price at bar n; bars 1..n−1
    emit NULL (warm-up).

    Output: keys + order + close + (cmo, vidya).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    f6 = 2_000_000 // (s + 1)
    src = df.select(*key_list, order_col, close)
    schema = f"{src.schema.toDDL()}, cmo double, vidya double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        p = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        m = len(p)
        cmo_a = np.full(m, np.nan)
        va = np.full(m, np.nan)
        if m > n:
            d = np.diff(p)  # d[i] = p_{i+1} - p_i
            up = np.where(d > 0, d, 0)
            dn = np.where(d < 0, -d, 0)
            cu = np.concatenate(([0], np.cumsum(up)))
            cd = np.concatenate(([0], np.cumsum(dn)))
            su_v = cu[n:] - cu[:-n]  # n-move sums for bars n..m-1
            sd_v = cd[n:] - cd[:-n]
            tot = su_v + sd_v
            cmo6_v = np.where(
                tot == 0, 0,
                (np.abs(su_v - sd_v) * 1_000_000) // np.maximum(tot, 1),
            )
            a6_v = (cmo6_v * f6) // 1_000_000
            v = int(p[n - 1])
            va[n - 1] = v / 1e6
            pl, a6l = p[n:].tolist(), a6_v.tolist()
            vv = [0] * (m - n)
            for i, (pi, a6) in enumerate(zip(pl, a6l)):
                delta = pi - v
                if delta >= 0:
                    v += (a6 * delta) // 1_000_000
                else:
                    v -= (a6 * (-delta)) // 1_000_000
                vv[i] = v
            cmo_a[n:] = cmo6_v / 1e6
            va[n:] = np.asarray(vv, dtype=np.float64) / 1e6

        def masked(x):
            return pd.arrays.FloatingArray(x, np.isnan(x))

        return pdf.assign(cmo=masked(cmo_a), vidya=masked(va))

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def klinger(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    fast: int = 34,
    slow: int = 55,
    sig: int = 13,
    high: str = "high",
    low: str = "low",
    close: str = "close",
    volume: str = "volume",
) -> DataFrame:
    """Klinger Volume Oscillator: volume force smoothed by a fast/slow
    EMA pair, plus a signal EMA of the oscillator.

        trend_t = +1 if (h+l+c)_t > (h+l+c)_{t−1} else −1
        cm_t    = cm_{t−1} + dm_t  if trend unchanged
                  dm_{t−1} + dm_t  otherwise          (dm = high − low)
        vf_t    = volume · |2·dm_t/cm_t − 1| · trend_t · 100
        kvo     = ema_fast(vf) − ema_slow(vf);  signal = ema_sig(kvo)

    Exactness: trend/dm/cm are a pure-INTEGER state machine (the renko
    class — no IEEE argument needed); vf quantizes the ratio to
    micro-units BEFORE the volume product (cm ≥ dm always, so
    r6 = (2·dm·1e6)//cm ∈ [0, 2e6] and vf6 = trend·vol·|r6−1e6|·100
    stays < 2^60 for any BIGINT volume the daily rollup produces); each
    EMA is the branch-on-sign integer fold e ±= (2·|v−e|)//(n+1) (the
    KAMA recipe — DuckDB ``//`` truncates, so magnitudes stay
    nonnegative). All four states (cm, e_fast, e_slow, e_sig) fold in
    ONE grouped-map pass; trend/dm/lag(dm) are window-computable, so
    the recursive oracle carries only the four BIGINT states.

    Seeds: vf defined from bar 2 (trend needs a previous bar); both vf
    EMAs seed with the first vf, the signal EMA with the first kvo
    (= 0). Bar 1 emits NULLs. A zero cm (flat dm pair) defines vf = 0.

    Output: keys + order + (kvo, signal).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, high, low, close, volume)
    schema = f"{src.schema.toDDL()}, kvo double, signal double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        h = np.floor(pdf[high].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        l = np.floor(pdf[low].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        c = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        vol = pdf[volume].to_numpy(dtype=np.int64)
        m = len(h)
        kvo_a = np.full(m, np.nan)
        sig_a = np.full(m, np.nan)
        if m >= 2:
            hlc = (h + l + c).tolist()
            dm = (h - l).tolist()
            voll = vol.tolist()
            cm = e_f = e_s = e_g = 0
            prev_trend = 0

            def ema_step(e: int, v: int, n: int) -> int:
                d = v - e
                if d >= 0:
                    return e + (2 * d) // (n + 1)
                return e - (2 * (-d)) // (n + 1)

            for i in range(1, m):
                trend = 1 if hlc[i] > hlc[i - 1] else -1
                cm = (cm if trend == prev_trend else dm[i - 1]) + dm[i]
                if cm > 0:
                    r6 = (2 * dm[i] * 1_000_000) // cm
                    vf6 = trend * voll[i] * abs(r6 - 1_000_000) * 100
                else:
                    vf6 = 0
                if i == 1:
                    e_f = e_s = vf6
                    e_g = 0  # first kvo = e_f - e_s = 0
                else:
                    e_f = ema_step(e_f, vf6, fast)
                    e_s = ema_step(e_s, vf6, slow)
                    e_g = ema_step(e_g, e_f - e_s, sig)
                kvo_a[i] = (e_f - e_s) / 1e6
                sig_a[i] = e_g / 1e6
                prev_trend = trend

        def masked(x):
            return pd.arrays.FloatingArray(x, np.isnan(x))

        return pdf.assign(kvo=masked(kvo_a), signal=masked(sig_a))

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def chande_momentum(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 14,
    close: str = "close",
) -> DataFrame:
    """Chande Momentum Oscillator over per-key bars:
    ``100 * (su - sd) / (su + sd)`` where su/sd are the n-bar sums of
    up-moves and down-moves. Unlike RSI there is no Wilder smoothing —
    both sums are plain ROWS-frame reductions, so the whole indicator is
    one window pass, no recurrence.

    Price moves quantize to integer micro-units (u6 diff — exact BIGINT,
    no rounding anywhere), the frame sums are partition-invariant BIGINT
    reductions, and the final quotient is ONE exact-operand IEEE division
    — bit-identical cross-engine. The first bar of a series contributes
    to neither sum; CMO is NULL while su + sd == 0 (flat warm-ups).

    Output: keys, order_col, close, cmo.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    f = w.rowsBetween(-(n - 1), 0)
    d = u6(F.col(close)) - F.lag(u6(F.col(close))).over(w)
    up = F.when(d > 0, d).otherwise(F.lit(0))
    dn = F.when(d < 0, -d).otherwise(F.lit(0))
    su = F.sum(up).over(f)
    sd = F.sum(dn).over(f)
    cmo = F.when(
        su + sd > 0,
        F.lit(100.0) * (su - sd).cast("double") / (su + sd).cast("double"),
    )
    return df.select(
        *keys, F.col(order_col), F.col(close), cmo.alias("cmo")
    )


def ulcer_index(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 14,
    close: str = "close",
) -> DataFrame:
    """Ulcer Index (Martin 1987): RMS of the percent drawdown from the
    running all-time high over the last ``n`` bars — the downside-only
    volatility gauge that pairs with max_drawdown's single worst loss.

    Two window passes on ONE per-key exchange+sort: an unbounded-
    preceding running max of the micro-unit close (exact BIGINT), then
    the percent drawdown ``100 * (c - peak) / peak`` (exact-operand IEEE
    division), quantized to micro-units (floor(x*1e6+0.5) — the repo tie
    rule) so the n-bar sum of squares is a partition-invariant BIGINT
    reduction (|q| <= 1e8 -> q^2 <= 1e16, n-bar sums far under 2^63).
    ``ulcer = sqrt(sum(q^2)/cnt) / 1e6`` — sqrt is correctly rounded, so
    the double replays bit-identically. Non-positive peaks (bad data)
    yield NULL drawdown and are excluded from the RMS count.

    Output: keys, order_col, close, drawdown_pct, ulcer.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    f = w.rowsBetween(-(n - 1), 0)
    cu = u6(F.col(close))
    peak = F.max(cu).over(run)
    dd = F.when(
        peak > 0,
        F.lit(100.0) * (cu - peak).cast("double") / peak.cast("double"),
    )
    q = F.floor(dd * F.lit(1e6) + F.lit(0.5)).cast("long")
    cnt = F.count(q).over(f)
    sq = F.sum(q * q).over(f)
    ulcer = F.when(
        cnt > 0, F.sqrt(sq.cast("double") / cnt.cast("double")) / F.lit(1e6)
    )
    return df.select(
        *keys,
        F.col(order_col),
        F.col(close),
        dd.alias("drawdown_pct"),
        ulcer.alias("ulcer"),
    )


def sortino(
    returns: DataFrame,
    keys: Sequence[str],
    order_col: str,
    ret_col: str = "ret",
    n: int = 20,
    min_obs: int = 2,
    ret_cap: float = 10.0,
) -> DataFrame:
    """Rolling Sortino ratio (MAR 0): rolling mean return over rolling
    downside deviation ``sqrt(sum(min(ret,0)^2)/n)`` — rolling_sharpe's
    twin that only penalizes losses. Identical determinism contract:
    rows with ``|ret| > ret_cap`` are dropped (not clamped — window
    counts shrink accordingly), survivors quantized to integer
    micro-units, both frame moments exact BIGINT sums (the downside sum
    keeps only negative quantized returns), final mean/sqrt/divide
    correctly-rounded IEEE — bit-identical cross-engine, no rounding
    step. Windows with fewer than ``min_obs`` returns or no downside
    observations yield NULL. One exchange+sort per key.

    Output: input columns (capped rows dropped) + (sortino,).
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    frame = w.rowsBetween(-(n - 1), 0)
    r = F.col(ret_col)
    returns = returns.filter(F.abs(r) <= F.lit(ret_cap))
    q = F.floor(r * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    dq = F.when(q < 0, q * q).otherwise(F.lit(0))
    cnt = F.count(r).over(frame).cast("double")
    s1 = F.sum(q).over(frame).cast("double")
    s2d = F.sum(dq).over(frame).cast("double")
    sortino_c = F.when(
        (cnt >= float(min_obs)) & (s2d > 0),
        (s1 / cnt) / F.sqrt(s2d / cnt),
    )
    return returns.withColumn("sortino", sortino_c)


def _wma_num(col: "F.Column", k: int, w: Window) -> "F.Column":
    """Σ_{j=0}^{k-1} (k-j)·lag(col, j) — the weighted-MA numerator as a
    fixed lag chain over one window spec (k is a small constant, so the
    chain stays inside a single Window physical operator; NULL lags at
    the head of a series propagate, giving the conventional NULL
    warm-up until k bars exist)."""
    num = F.lit(k) * col
    for j in range(1, k):
        num = num + F.lit(k - j) * F.lag(col, j).over(w)
    return num


def hull_ma(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 16,
    close: str = "close",
) -> DataFrame:
    """Hull Moving Average: ``WMA(2·WMA(n/2) − WMA(n), sqrt(n))`` — the
    low-lag trend line built from three weighted moving averages.

    Entirely native window algebra, exact to the last bit: prices
    quantize to micro-units, each WMA numerator is a fixed lag chain of
    BIGINT products (one Window operator per level, both levels sharing
    ONE per-key exchange+sort — Catalyst reuses the sort for the second
    Window node), and the intermediate series ``2·WMA(n/2) − WMA(n)``
    is kept in scaled-integer form over the common denominator
    ``L = lcm(n/2·(n/2+1)/2, n·(n+1)/2)`` so no division happens until
    the single final IEEE divide. NULL until ``n + sqrt(n) − 1`` bars.

    ``n`` must be an even perfect square (4, 16, 36, 64...) so n/2 and
    sqrt(n) are integers. Overflow headroom: |price| < ~1e6 units keeps
    every scaled summand under 2^55 (documented bound, aroon-style).

    Output: keys, order_col, close, hma.
    """
    import math

    h = n // 2
    s = math.isqrt(n)
    if h * 2 != n or s * s != n:
        raise ValueError("hull_ma: n must be an even perfect square")
    dn = n * (n + 1) // 2
    dh = h * (h + 1) // 2
    ds = s * (s + 1) // 2
    lcm = math.lcm(dh, dn)
    w = Window.partitionBy(*keys).orderBy(order_col)
    cu = u6(F.col(close))
    num_h = _wma_num(cu, h, w)
    num_n = _wma_num(cu, n, w)
    # 2·WMA(h) − WMA(n) in L-scaled micro-units (still exact BIGINT)
    d_scaled = (
        F.lit(2 * lcm // dh) * num_h - F.lit(lcm // dn) * num_n
    ).alias("_ds")
    inner = df.select(*keys, F.col(order_col), F.col(close), d_scaled)
    hnum = _wma_num(F.col("_ds"), s, w)
    hma = hnum.cast("double") / F.lit(float(ds * lcm) * 1e6)
    return inner.select(
        *keys, F.col(order_col), F.col(close), hma.alias("hma")
    )


def return_autocorr(
    returns: DataFrame,
    keys: Sequence[str],
    order_col: str,
    ret_col: str = "ret",
    lag: int = 1,
    min_pairs: int = 3,
    ret_cap: float = 10.0,
) -> DataFrame:
    """Per-key lag-``lag`` autocorrelation of returns — the classic
    mean-reversion / momentum diagnostic (negative = reverting daily
    series, positive = trending).

    beta_vs_market's exact-moment contract, applied to (ret_t,
    ret_{t-lag}) pairs: rows with ``|ret| > ret_cap`` dropped, survivors
    quantized
    to integer micro-units, ONE map-side-combinable aggregate per key
    with linear sums as BIGINT and second moments routed through
    decimal(38,0) (exact integers, overflow-free to 1e38 — a BIGINT sum
    of near-cap 1e14 products would wrap silently in non-ANSI Spark
    while DuckDB's HUGEINT would not: a cross-engine divergence class,
    not just a wrong number). The final Pearson combination is
    fixed-order IEEE. Keys with fewer than ``min_pairs`` pairs or zero
    variance on either side are dropped.

    Scale: the lag pairing is one window pass on the per-key
    exchange+sort; the moment reduction is partial-aggregated map-side.
    Output: keys, n_pairs, autocorr.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    r = F.col(ret_col)
    returns = returns.filter(F.abs(r) <= F.lit(ret_cap))
    q = F.floor(r * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    paired = (
        returns.withColumn("_x", q)
        .withColumn("_y", F.lag(F.col("_x"), lag).over(w))
        .filter(F.col("_y").isNotNull())
    )
    x, y = F.col("_x"), F.col("_y")
    agg = paired.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,0)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,0)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,0)")).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c).cast("double")
        for c in ("n_pairs", "sx", "sy", "sxy", "sxx", "syy")
    )
    cov_n = n * sxy - sx * sy
    vx_n = n * sxx - sx * sx
    vy_n = n * syy - sy * sy
    return (
        agg.filter(
            (F.col("n_pairs") >= min_pairs) & (vx_n > 0) & (vy_n > 0)
        )
        .select(
            *keys,
            F.col("n_pairs"),
            (cov_n / F.sqrt(vx_n * vy_n)).alias("autocorr"),
        )
    )


def ema_fold(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    n: int = 13,
    scale: float = 1e6,
    state_col: str = "ema_state",
    out_col: str = "ema",
) -> DataFrame:
    """Generic exact EMA recurrence over ANY numeric series — the
    reusable core of ema_macd_exact/trix (operators/extension.py),
    exposed so derived-series indicators (force index, elder ray) fold
    the same determinism contract instead of re-implementing it:

    - quantize ``value*scale`` with the repo tie rule floor(x+0.5),
    - fold ``e += floor(2.0 * (v - e) / (n + 1.0))`` (floor over the
      double quotient; every operand must stay under 2^53 — pick
      ``scale`` so it does: 1e6 for prices, 1.0 for already-large
      derived series like price*volume),
    - emit BOTH the BIGINT state (``state_col`` — downstream exact
      integer algebra) and the rescaled double (``out_col``).

    A depth-1 :func:`~.extension.ema_chain` per key, in a grouped_fold
    ordered by ``order_col``; seeds at the first value. A recursive SQL
    CTE carrying one BIGINT state replays it bit-identically.

    Parallelism trap (measured, the r4 heikin_ashi lesson's second
    form): if ``df`` is ALREADY hash-partitioned on exactly ``keys``
    (e.g. it came out of a window over the same key), Catalyst removes
    grouped_fold's explicit repartition as redundant — and AQE then
    byte-coalesces the upstream ENSURE_REQUIREMENTS exchange to one
    partition, serializing every group's fold into a single task
    (8x measured at sf0.1). Callers deriving the input via a same-key
    window must cut the lineage first (localCheckpoint) so the
    repartition survives — see force_index.
    """
    import numpy as np
    import pandas as pd

    schema = f"{df.schema.toDDL()}, {state_col} bigint, {out_col} double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.floor(
            pdf[value_col].to_numpy(dtype=float) * scale + 0.5
        ).astype(np.int64)
        [e_a] = ema_chain(v, [n])
        return pdf.assign(**{state_col: e_a, out_col: e_a / scale})

    return grouped_fold(df, keys, fold, schema, order_by=[order_col])


def force_index(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 13,
    close: str = "close",
    volume: str = "volume",
) -> DataFrame:
    """Elder's Force Index: EMA(n) of ``(close − prev_close) · volume``
    — price change weighted by the volume that drove it.

    The raw series is one native lag window (first bar of each key has
    no previous close and is dropped, daily_returns-style); the
    smoothing is the shared exact EMA fold at scale 1.0 — force-index
    units are price·volume, so quantizing to whole units keeps the
    state far below 2^53 where micro-units would overflow the exact
    double range. fi_1 is the quantized raw value, fi_n the EMA state.

    Output: keys, order_col, close, volume, fi_raw, fi_1, fi_n.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    fi_raw = (F.col(close) - F.lag(F.col(close)).over(w)) * F.col(
        volume
    ).cast("double")
    src = (
        df.select(*keys, F.col(order_col), F.col(close), F.col(volume))
        .withColumn("fi_raw", fi_raw)
        .filter(F.col("fi_raw").isNotNull())
        # the lag window partitions on exactly `keys`, which would let
        # Catalyst drop ema_fold's repartition and AQE serialize every
        # fold into one task (ema_fold docstring) — cut the lineage so
        # the fold stage keeps its own parallelism; the materialized
        # table is per-key BARS, tiny relative to the fact input
        .localCheckpoint()
    )
    out = ema_fold(
        src, keys, order_col, "fi_raw", n=n, scale=1.0,
        state_col="_fi_state", out_col="fi_n",
    )
    # fi_1 = the quantized raw value (the "1-bar force index"); the fold
    # quantizes identically (floor(x*1.0 + 0.5)), so this native twin is
    # bit-equal to the fold's input series
    fi_1 = F.floor(F.col("fi_raw") + F.lit(0.5)).cast("long").cast("double")
    return out.withColumn("fi_1", fi_1).drop("_fi_state")


def elder_ray(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 13,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Elder Ray bull/bear power: ``high − EMA(n, close)`` and
    ``low − EMA(n, close)`` — how far the bulls/bears push price beyond
    consensus value.

    The EMA is the shared exact integer fold; both powers subtract the
    BIGINT state from the micro-unit extremes BEFORE the single rescale
    divide, so they are exact integer differences, not double-vs-double
    subtractions (which would need the oracle to mirror rounding
    order).

    Output: keys, order_col, close, ema, bull_power, bear_power.
    """
    src = df.select(
        *keys, F.col(order_col), F.col(high), F.col(low), F.col(close)
    )
    e = ema_fold(src, keys, order_col, close, n=n, scale=1e6)
    bull = (u6(F.col(high)) - F.col("ema_state")).cast("double") / F.lit(1e6)
    bear = (u6(F.col(low)) - F.col("ema_state")).cast("double") / F.lit(1e6)
    return e.select(
        *keys,
        F.col(order_col),
        F.col(close),
        F.col("ema"),
        bull.alias("bull_power"),
        bear.alias("bear_power"),
    )


def volume_index(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    close: str = "close",
    volume: str = "volume",
    base: float = 1000.0,
) -> DataFrame:
    """Negative / Positive Volume Index (Norgate/Dysart): cumulative
    indexes that compound the day's return ONLY on falling-volume days
    (NVI) or rising-volume days (PVI) — the classic "smart money vs
    crowd" split. A MULTIPLICATIVE recurrence (state *= 1 + ret,
    conditionally), unlike the additive EMA/Wilder families: the
    sixth oracle-checked recurrence family in this repo.

    Determinism contract: state is BIGINT micro-units seeded at
    ``base``; each update adds ``floor(double(state) * ret + 0.5)``
    where ``ret = double(cu − pcu) / double(pcu)`` over exact micro-unit
    closes — int→double conversion and the two IEEE ops are
    correctly-rounded in every engine, so a recursive CTE carrying
    (nvi, pvi) replays bit-identically. Equal-volume days and
    non-positive previous closes leave both states unchanged.
    Stability contract (the ``holt_winters_mul`` precedent): the state
    SATURATES at ±(2^53 − 1) micro-units — an index beyond ~9e9x, far
    past where float ret noise dominates — so the fold is total on any
    representable input instead of refusing wild-ratio series; the
    oracle applies the identical LEAST/GREATEST clamp, and within the
    unclamped domain the carried double is an exact integer, so
    exactness is preserved by construction.

    Output: keys, order_col, close, volume, nvi, pvi.
    """
    import math

    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(
        *key_list, F.col(order_col), F.col(close), F.col(volume)
    )
    schema = f"{src.schema.toDDL()}, nvi double, pvi double"
    seed = int(base * 1e6)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        cu = np.floor(
            pdf[close].to_numpy(dtype=float) * 1e6 + 0.5
        ).astype(np.int64)
        vol = pdf[volume].to_numpy(dtype=np.int64)
        m = len(cu)
        if m == 0:
            return pdf.assign(
                nvi=np.empty(0, dtype=float), pvi=np.empty(0, dtype=float)
            )

        # The state is IDENTITY between its (volume-gated) update bars,
        # so the recurrence runs SPARSELY: vectorized per-bar
        # precomputes (elementwise IEEE ops are the same
        # correctly-rounded ops the scalar loop would do), a python
        # loop over UPDATE bars only (each bar updates at most one of
        # the two states), then a vectorized step-fill of the outputs —
        # the hot-key discipline of the other folds, one level further.
        pcu = cu[:-1]
        with np.errstate(divide="ignore", invalid="ignore"):
            ret_v = (cu[1:] - pcu) / pcu.astype(np.float64)
        ok = pcu > 0

        cap = float(2**53 - 1)

        def folded(update_mask: np.ndarray) -> np.ndarray:
            pos = np.flatnonzero(update_mask) + 1  # bar index of update
            vals = np.empty(len(pos) + 1, dtype=np.int64)
            vals[0] = seed
            # State carried as an integral double (exact while inside
            # ±(2^53−1)), updated with the same correctly-rounded IEEE
            # multiply/floor/add the oracle's DOUBLE expressions perform,
            # then saturated at ±(2^53−1) with the oracle's identical
            # LEAST/GREATEST clamp — the fold is total, never raises.
            state = float(seed)
            for k, r in enumerate(ret_v[pos - 1].tolist()):
                state = state + math.floor(state * r + 0.5)
                if state > cap:
                    state = cap
                elif state < -cap:
                    state = -cap
                vals[k + 1] = int(state)
            # bar i holds the value after the last update at index <= i
            return vals[np.searchsorted(pos, np.arange(m), side="right")]

        nvi_a = folded(ok & (vol[1:] < vol[:-1]))
        pvi_a = folded(ok & (vol[1:] > vol[:-1]))
        return pdf.assign(nvi=nvi_a / 1e6, pvi=pvi_a / 1e6)

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def dema_tema(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 10,
    close: str = "close",
) -> DataFrame:
    """DEMA and TEMA (Mulloy 1994): lag-reduced EMAs built from the
    chained states ``e1 = EMA(x)``, ``e2 = EMA(e1)``, ``e3 = EMA(e2)``:

        dema = 2·e1 − e2          tema = 3·e1 − 3·e2 + e3

    Same triple-chain fold as trix (exact integer micro-unit states,
    floor(2.0·(x−e)/(n+1.0)) steps), but emitting the de-lagged
    combinations — both are exact BIGINT linear combinations of the
    states, divided once at the end. The recursive-CTE oracle carries
    (e1, e2, e3).

    Output: keys, order_col, close, dema, tema.
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = f"{src.schema.toDDL()}, dema double, tema double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        e1, e2, e3 = ema_chain(v, [n] * 3)
        dema_a = 2 * e1 - e2
        tema_a = 3 * e1 - 3 * e2 + e3
        return pdf.assign(dema=dema_a / 1e6, tema=tema_a / 1e6)

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def t3_ma(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 10,
    close: str = "close",
) -> DataFrame:
    """Tillson T3 moving average: three nested generalized-DEMA stages
    GD(x) = (1+v)·EMA(x) − v·EMA(EMA(x)) at v = 0.7 — algebraically a
    fixed linear combination of the SIX chained EMA states
    e1 = EMA(x), e_{k+1} = EMA(e_k):

        t3 = c1·e6 + c2·e5 + c3·e4 + c4·e3
        c1 = −v³   c2 = 3v² + 3v³   c3 = −6v² − 3v − 3v³
        c4 = 1 + 3v + v³ + 3v²      (Σc = 1)

    The deepest chained-EMA fold in the family (dema/tema carry three
    states; this is a depth-6 :func:`~.extension.ema_chain`).
    Exactness: the dema_tema integer recipe per state (micro-unit
    BIGINT, floor(2.0·(x−e)/(n+1.0)) steps); at
    v = 0.7 the coefficients ×1000 are exact integers (−343, 2499,
    −6069, 4913), so t3 is ONE BIGINT linear combination divided once
    at the end (states ≤ 1e9 micro-units × 6069 < 2^63 with room).
    Recursive-CTE oracle carries (e1..e6).

    Output: keys, order_col, close, t3.
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = f"{src.schema.toDDL()}, t3 double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        e = ema_chain(v, [n] * 6)
        t3_a = -343 * e[5] + 2499 * e[4] - 6069 * e[3] + 4913 * e[2]
        return pdf.assign(t3=t3_a / 1e9)

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def holt_winters(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    period: int = 7,
    alpha6: int = 300_000,
    gamma6: int = 100_000,
    delta6: int = 300_000,
    close: str = "close",
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (level + trend +
    ``period`` seasonal components) — the full forecasting triple on
    top of :func:`holt_linear`:

        l_t = α·(y_t − s_{t−p}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = γ·(l_t − l_{t−1}) + (1−γ)·b_{t−1}
        s_t = δ·(y_t − l_t) + (1−δ)·s_{t−p}
        ŷ_{t+1|t} = l_t + b_t + s_{t+1−p}

    Seeds: l_1 = y_1, b_1 = 0, every seasonal slot 0 (the flat-start
    convention — the seasonal profile learns over the first cycles;
    classic textbook seeding needs a whole first season buffered, which
    a streaming-shaped fold deliberately avoids).

    Exactness: the holt_linear recipe with ``period`` extra BIGINT
    states — every numerator can be negative, so every division
    branches on sign; the SQL oracle's recursive CTE carries
    (l, b, s0..s_{p−1}) and updates exactly one seasonal column per
    row (a CASE per column).

    Output: keys + order + close + (level, trend, season, forecast).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = (
        f"{src.schema.toDDL()}, level double, trend double, season double,"
        " forecast double"
    )
    ca6 = 1_000_000 - alpha6
    cg6 = 1_000_000 - gamma6
    cd6 = 1_000_000 - delta6

    def sdiv(num: int) -> int:
        if num >= 0:
            return num // 1_000_000
        return -((-num) // 1_000_000)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        p = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(
            np.int64
        )
        m = len(p)
        lv = np.empty(m, dtype=np.int64)
        tr = np.empty(m, dtype=np.int64)
        se = np.empty(m, dtype=np.int64)
        fc = np.empty(m, dtype=np.int64)
        l = b = 0
        s = [0] * period
        for i, y in enumerate(p.tolist()):
            slot = i % period
            if i == 0:
                l, b = y, 0
            else:
                sold = s[slot]
                l_prev = l
                l = sdiv(alpha6 * (y - sold) + ca6 * (l + b))
                b = sdiv(gamma6 * (l - l_prev) + cg6 * b)
                s[slot] = sdiv(delta6 * (y - l) + cd6 * sold)
            lv[i] = l
            tr[i] = b
            se[i] = s[slot]
            fc[i] = l + b + s[(i + 1) % period]
        return pdf.assign(
            level=lv / 1e6, trend=tr / 1e6, season=se / 1e6, forecast=fc / 1e6
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def holt_winters_multiplicative(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    period: int = 7,
    alpha6: int = 300_000,
    gamma6: int = 100_000,
    delta6: int = 300_000,
    close: str = "close",
) -> DataFrame:
    """Holt-Winters MULTIPLICATIVE seasonal smoothing — seasonality as
    a FACTOR on the level rather than an additive offset (the standard
    fourth forecasting contender; right when seasonal swing scales with
    the series level, e.g. volume):

        l_t = α·(y_t / s_{t−p}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = γ·(l_t − l_{t−1}) + (1−γ)·b_{t−1}
        s_t = δ·(y_t / l_t) + (1−δ)·s_{t−p}
        ŷ_{t+1|t} = (l_t + b_t) · s_{t+1−p}

    Seeds: l_1 = y_1, b_1 = 0, every seasonal factor 1.0 — the flat
    start, as in the additive form.

    Exactness — the DIVISION-STATE fold shape: unlike every prior
    family (state-affine EMAs, clamped sums, even McGinley's
    state-dependent divisor which stays in pure IEEE arithmetic), the
    multiplicative updates divide one evolving BIGINT state by another
    and then re-round. The integer recipe extends: prices are µ-units
    (1e6 = 1.0 price), seasonal factors are µ-ratios (1e6 = factor
    1.0); each ratio is one sign-branched BIGINT division
    (q = sign · (|num| // |den|) — floor and truncation agree on
    magnitudes, so Python and SQL replay identically), and each
    smoothing combination divides by 1e6 once.

    Stability contract: seasonal FACTORS are clamped to [0.1, 10]
    (µ-ratio [1e5, 1e7]) — both the stored state and the observed
    y_t/l_t ratio before smoothing. Multiplicative seasonality is
    famously divergent on series that touch ~0 or gap by orders of
    magnitude (a tiny level makes a huge ratio, which shrinks the next
    detrended level, which explodes the next ratio — the oscillation
    grows without bound); a factor outside [0.1, 10] means the
    multiplicative form is mis-specified for the series, and the clamp
    keeps the fold defined (and every BIGINT product under ~2e17 «
    2^63: detrended ≤ 10·y, δ·ratio ≤ 3e12, (l+b)·s ≤ 2e17) instead of
    diverging. The level divisor additionally floors at 1 µ-unit.

    Output: keys + order + close + (level, trend, season, forecast),
    with ``season`` the active seasonal FACTOR (≈1.0) and ``forecast``
    the one-step-ahead prediction.
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = (
        f"{src.schema.toDDL()}, level double, trend double, season double,"
        " forecast double"
    )
    ca6 = 1_000_000 - alpha6
    cg6 = 1_000_000 - gamma6
    cd6 = 1_000_000 - delta6

    def sdiv(num: int, den: int = 1_000_000) -> int:
        if num >= 0:
            return num // den
        return -((-num) // den)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        p = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(
            np.int64
        )
        m = len(p)
        lv = np.empty(m, dtype=np.int64)
        tr = np.empty(m, dtype=np.int64)
        se = np.empty(m, dtype=np.int64)
        fc = np.empty(m, dtype=np.int64)
        l = b = 0
        s = [1_000_000] * period
        for i, y in enumerate(p.tolist()):
            slot = i % period
            if i == 0:
                l, b = y, 0
            else:
                sold = min(max(s[slot], 100_000), 10_000_000)
                detr = sdiv(y * 1_000_000, sold)
                l_prev = l
                l = sdiv(alpha6 * detr + ca6 * (l + b))
                b = sdiv(gamma6 * (l - l_prev) + cg6 * b)
                ratio = min(
                    max(sdiv(y * 1_000_000, max(l, 1)), 100_000),
                    10_000_000,
                )
                s[slot] = sdiv(delta6 * ratio + cd6 * sold)
            lv[i] = l
            tr[i] = b
            se[i] = s[slot]
            fc[i] = sdiv((l + b) * s[(i + 1) % period])
        return pdf.assign(
            level=lv / 1e6, trend=tr / 1e6, season=se / 1e6, forecast=fc / 1e6
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def elder_impulse_states(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    close: str = "close",
) -> DataFrame:
    """Elder Impulse System states: EMA(13) of close plus the
    MACD(12,26,9) histogram — the two slopes Elder's bar coloring
    reads (both rising = green / both falling = red / mixed = blue;
    the caller derives the label with two lags over this output).

    One fold, FOUR integer micro-unit states (e13, e12, e26, sig9),
    each a depth-1 :func:`~.extension.ema_chain`: the trend EMA and the
    MACD pair fold the price; the signal line is an EMA OVER A DERIVED
    SERIES (e12 − e26) — a chained recurrence on an intermediate, not on
    price. First bar: macd = sig = hist = 0 by construction.

    Output: keys, order_col, close, ema13, macd, hist (all exact
    micro-unit multiples, divided once).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = f"{src.schema.toDDL()}, ema13 double, macd double, hist double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        [e13] = ema_chain(v, [13])
        [e12] = ema_chain(v, [12])
        [e26] = ema_chain(v, [26])
        macd_a = e12 - e26
        # the signal seeds at the first macd, which is 0 by construction
        [sig] = ema_chain(macd_a, [9])
        return pdf.assign(
            ema13=e13 / 1e6, macd=macd_a / 1e6, hist=(macd_a - sig) / 1e6
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def mcginley_dynamic(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 10,
    k: float = 0.6,
    close: str = "close",
) -> DataFrame:
    """McGinley Dynamic (McGinley 1990): a moving average whose
    smoothing speed adapts to how far price has run from it —

        md += (p − md) / (k·n · (p/md)⁴)

    The divisor is a function of the average's OWN state: falls behind
    (p/md grows) → the quartic shrinks the divisor → it accelerates;
    price reverts → it slows. A state-dependent NONLINEAR divisor is a
    recurrence shape none of the twelve existing fold families has
    (EMA chains, Wilder smoothers, clamped Lindley sums, GARCH products
    are all state-affine).

    Exactness WITHOUT integer states: the update uses only IEEE
    +,−,×,÷ in a fixed expression shape — no pow/exp/log (the quartic
    is two explicit multiplications), no rounding — so a DOUBLE-state
    recursive CTE replays it bit-identically (the integer micro-unit
    recipe exists to dodge engine-specific transcendentals and
    half-tie rounding; a recurrence with neither needs neither).
    p/md is clamped to [0.25, 4] and the divisor floors at 1: below 1
    the quartic doesn't just accelerate, it OVERSHOOTS (at q = 0.25 the
    raw step is ~43x the gap — one 75% bar would fling the state far
    past price and negative); the floor lets a step reach price but
    never pass it, so positive inputs keep a positive state. A
    non-positive state still resets to price as a belt for signed
    inputs.

    Output: keys, order_col, close, mcginley.
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = f"{src.schema.toDDL()}, mcginley double"
    kn = k * n

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[close].to_numpy(dtype=float)
        out = np.empty(len(v), dtype=float)
        md = 0.0
        for i, p in enumerate(v.tolist()):
            if i == 0 or md <= 0.0:
                md = p
            else:
                q = p / md
                q = 4.0 if q > 4.0 else (0.25 if q < 0.25 else q)
                q2 = q * q
                d = kn * (q2 * q2)
                md = md + (p - md) / (d if d > 1.0 else 1.0)
            out[i] = md
        return pdf.assign(mcginley=out)

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def linreg_slope(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 14,
    close: str = "close",
) -> DataFrame:
    """Rolling n-bar OLS regression of price on bar index (the "linear
    regression" indicator): slope per bar, plus the end-of-window fitted
    value (the regression line's current point, the basis of linear
    regression channels).

    Pure native window algebra, exact: with the regressor fixed at
    x = 0..n−1 inside every full window, Σx = n(n−1)/2 and
    Σx² = n(n−1)(2n−1)/6 are compile-time constants and the only
    data moment is Σxy — a fixed lag chain of BIGINT micro-unit
    products (weight n−1−j for lag j, newest bar weighted most). slope
    and the fitted value are fixed-order IEEE combinations of exact
    integers; NULL until the window holds n bars (any NULL lag
    propagates through the chain).

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²const)
        fit_end = ȳ + slope·(n−1 − x̄)

    Output: keys, order_col, close, slope, fit_end (price units).
    """
    sx = n * (n - 1) // 2
    sxx = n * (n - 1) * (2 * n - 1) // 6
    denom = float(n * sxx - sx * sx)
    w = Window.partitionBy(*keys).orderBy(order_col)
    cu = u6(F.col(close))
    # Σy and Σxy as one fused lag chain (newest bar: x = n-1)
    sy = cu
    sxy = F.lit(n - 1) * cu
    for j in range(1, n):
        lj = F.lag(cu, j).over(w)
        sy = sy + lj
        sxy = sxy + F.lit(n - 1 - j) * lj
    slope_u = (
        F.lit(float(n)) * sxy.cast("double")
        - F.lit(float(sx)) * sy.cast("double")
    ) / F.lit(denom)
    mean_u = sy.cast("double") / F.lit(float(n))
    fit_u = mean_u + slope_u * F.lit(float(n - 1) - sx / float(n))
    return df.select(
        *keys,
        F.col(order_col),
        F.col(close),
        (slope_u / F.lit(1e6)).alias("slope"),
        (fit_u / F.lit(1e6)).alias("fit_end"),
    )


def hist_var(
    returns: DataFrame,
    keys: Sequence[str],
    order_col: str,
    ret_col: str = "ret",
    alpha_num: int = 1,
    alpha_den: int = 20,
    min_obs: int = 10,
) -> DataFrame:
    """Historical Value-at-Risk: the empirical ``alpha_num/alpha_den``
    quantile of each key's return history — the k-th SMALLEST return
    with ``k = ceil(alpha·n)`` (lower-tail discrete quantile, the
    standard historical-simulation VaR estimator; VaR is reported as
    the loss, i.e. the negated return).

    alpha is a RATIONAL (default 1/20 = 5%), so k is pure integer
    arithmetic ``(n·alpha_num + alpha_den − 1) div alpha_den`` —
    ceil-division with no float, bit-identical in any engine. Selection
    is one rank window over the per-key returns (ties broken by
    order_col for a deterministic pick) plus a per-key count — both on
    ONE exchange; no global sort. Keys with fewer than ``min_obs``
    returns are dropped.

    Output: keys, n_obs, var_ret (the quantile return), var_loss
    (= −var_ret).
    """
    w = Window.partitionBy(*keys).orderBy(
        F.col(ret_col).asc(), F.col(order_col).asc()
    )
    cw = Window.partitionBy(*keys)
    ranked = (
        returns.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(cw))
    )
    # ceil-division on BIGINTs: floor of the (exact-operand) double
    # quotient — positive operands, so floor == integer ceil-div
    k = F.floor(
        (F.col("_n") * F.lit(alpha_num) + F.lit(alpha_den - 1))
        / F.lit(float(alpha_den))
    ).cast("long")
    return (
        ranked.filter((F.col("_rn") == k) & (F.col("_n") >= min_obs))
        .select(
            *keys,
            F.col("_n").alias("n_obs"),
            F.col(ret_col).alias("var_ret"),
            (-F.col(ret_col)).alias("var_loss"),
        )
    )


def kalman_1d(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    close: str = "close",
    q: float = 1e-5,
    r: float = 1e-2,
) -> DataFrame:
    """1-D Kalman filter over per-key prices (constant-position model —
    the classic adaptive smoother quant stacks run before crossover
    logic): per bar,

        p_pred = p + q
        K      = p_pred / (p_pred + r)
        x      = x + K·(z − x)
        p      = (1 − K)·p_pred

    seeded at (x = z₀, p = 1). The SEVENTH oracle-checked recurrence
    family here — and the first with PURE DOUBLE state: no micro-unit
    quantization anywhere. Determinism comes from IEEE-754 itself —
    every step is the same fixed tree of correctly-rounded +,·,/ on the
    same doubles, so the pandas fold and a recursive CTE carrying
    (x DOUBLE, p DOUBLE) produce bit-identical streams. (Contrast the
    integer families, which quantize because their SQL twins would
    otherwise need engine-specific rounding of AGGREGATED state; a pure
    per-row recurrence has no aggregation to protect.)

    Output: keys, order_col, close, kf_x (filtered price), kf_p
    (posterior variance).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = f"{src.schema.toDDL()}, kf_x double, kf_p double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        z = pdf[close].to_numpy(dtype=float)
        m = len(z)
        xs = np.empty(m)
        ps = np.empty(m)
        x = p = 0.0
        for i, zi in enumerate(z.tolist()):
            if i == 0:
                x, p = zi, 1.0
            else:
                pp = p + q
                kg = pp / (pp + r)
                x = x + kg * (zi - x)
                p = (1.0 - kg) * pp
            xs[i] = x
            ps[i] = p
        return pdf.assign(kf_x=xs, kf_p=ps)

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def coppock_curve(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    roc_long: int = 14,
    roc_short: int = 11,
    wma_n: int = 10,
    close: str = "close",
) -> DataFrame:
    """Coppock Curve (Coppock 1962): ``WMA(ROC(14) + ROC(11), 10)`` —
    the long-horizon momentum bottom-finder.

    Both ROCs are exact-operand IEEE quotients of micro-unit BIGINTs;
    the WMA is a fixed lag chain with INTEGER weights over the summed
    ROC series — a fixed-order double expression tree, identical in
    the SQL twin, so no quantization is needed between stages. NULL
    until ``roc_long + wma_n − 1`` bars (lag NULLs propagate through
    the chain). Two Window levels sharing ONE per-key exchange+sort
    (hull_ma's shape).

    Output: keys, order_col, close, coppock.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    cu = u6(F.col(close))

    def roc(n: int) -> "F.Column":
        prev = F.lag(cu, n).over(w)
        return F.when(
            prev > 0,
            F.lit(100.0) * (cu - prev).cast("double") / prev.cast("double"),
        )

    inner = df.select(
        *keys,
        F.col(order_col),
        F.col(close),
        (roc(roc_long) + roc(roc_short)).alias("_s"),
    )
    num = F.lit(wma_n) * F.col("_s")
    for j in range(1, wma_n):
        num = num + F.lit(wma_n - j) * F.lag(F.col("_s"), j).over(w)
    coppock = num / F.lit(float(wma_n * (wma_n + 1) // 2))
    return inner.select(
        *keys, F.col(order_col), F.col(close), coppock.alias("coppock")
    )


def kst(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    close: str = "close",
    rocs: Sequence[int] = (10, 15, 20, 30),
    smooths: Sequence[int] = (10, 10, 10, 15),
    signal_n: int = 9,
) -> DataFrame:
    """Know Sure Thing (Pring): four smoothed rate-of-change series
    combined with weights 1..4, plus the 9-bar signal line.

    Determinism contract: each ROC is an exact-operand IEEE quotient,
    QUANTIZED to micro-units before its SMA so the frame sums are
    partition-invariant BIGINT reductions (double frame sums would
    depend on accumulation order — the repo-wide rule); the weighted
    combination is a fixed-order double tree; and KST itself is
    re-quantized before the signal SMA for the same reason. Warm-up
    bars use the ROCs seen so far (avg skips NULLs, both engines).

    Three Window levels, ONE per-key exchange+sort.
    Output: keys, order_col, close, kst, kst_signal.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    cu = u6(F.col(close))

    def roc_q(n: int) -> "F.Column":
        prev = F.lag(cu, n).over(w)
        r = F.when(
            prev > 0,
            F.lit(100.0) * (cu - prev).cast("double") / prev.cast("double"),
        )
        return F.floor(r * F.lit(1e6) + F.lit(0.5)).cast("long")

    lvl1 = df.select(
        *keys,
        F.col(order_col),
        F.col(close),
        *[roc_q(n).alias(f"_rq{i}") for i, n in enumerate(rocs)],
    )
    sma_cols = []
    for i, m in enumerate(smooths):
        f = w.rowsBetween(-(m - 1), 0)
        c = F.col(f"_rq{i}")
        sma_cols.append(
            (F.sum(c).over(f).cast("double") / F.count(c).over(f).cast("double"))
            .alias(f"_s{i}")
        )
    lvl2 = lvl1.select(*keys, F.col(order_col), F.col(close), *sma_cols)
    kst_raw = sum(
        (F.lit(float(i + 1)) * F.col(f"_s{i}") for i in range(1, len(smooths))),
        F.lit(1.0) * F.col("_s0"),
    )
    kq = F.floor(kst_raw * F.lit(1e6) + F.lit(0.5)).cast("long")
    lvl3 = lvl2.select(
        *keys,
        F.col(order_col),
        F.col(close),
        (kq.cast("double") / F.lit(1e6)).alias("kst"),
        kq.alias("_kq"),
    )
    fs = w.rowsBetween(-(signal_n - 1), 0)
    sig = (
        F.sum("_kq").over(fs).cast("double")
        / F.count("_kq").over(fs).cast("double")
        / F.lit(1e6)
    )
    return lvl3.select(
        *keys,
        F.col(order_col),
        F.col(close),
        F.col("kst"),
        sig.alias("kst_signal"),
    )


def monte_carlo_var(
    returns: DataFrame,
    keys: Sequence[str],
    ret_col: str = "ret",
    n_paths: int = 200,
    alpha_num: int = 1,
    alpha_den: int = 20,
    min_obs: int = 10,
    ret_cap: float = 10.0,
    salt: str = "mc-v1",
) -> DataFrame:
    """Parametric Monte-Carlo Value-at-Risk — with a DETERMINISTIC,
    SQL-replayable simulation: per key, fit (μ, σ) to the return
    history with exact integer moments, draw ``n_paths`` standard
    normals via md5-seeded Box–Muller (the draw is a pure function of
    (salt, key, path) — no RNG state, identical on any engine or
    partitioning), and report the empirical ``alpha`` quantile of the
    simulated returns.

    Exactness ledger: the uniforms are exact rationals (md5 integer %
    1e9 + 1, over 1e9); ln/sqrt/cos are <1-ulp libm calls whose output
    is QUANTIZED to 1e-6 (floor(z·1e6+0.5)) — the transcendental-
    output rule (see unigram_xent's lp): a 1-ulp cross-engine
    difference only matters if a draw lands within 1 ulp of a quantum
    boundary (measure ~2e-10 per draw). μ, σ come from BIGINT /
    decimal(38,0) moments; the simulated return ``μ + σ·z_q`` is a
    fixed-order double tree; quantile selection is hist_var's integer
    rank rule (ties broken by path id).

    Shape at scale: one map-side-combinable moment aggregate, one
    n_paths-row explode per key (no shuffle — the generator is keyed),
    one per-key rank window. Rows with ``|ret| > ret_cap`` are dropped
    (not clamped) before fitting; keys with < ``min_obs`` surviving
    returns or zero variance are dropped.

    Output: keys, n_obs, mu, sigma, var_sim (the alpha-quantile
    simulated return), var_loss (= −var_sim).
    """
    import math

    r = F.col(ret_col)
    returns = returns.filter(F.abs(r) <= F.lit(ret_cap))
    q = F.floor(r * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    src = returns.withColumn("_q", q)
    agg = src.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("_q").alias("s1"),
        F.sum((F.col("_q") * F.col("_q")).cast("decimal(38,0)")).alias("s2"),
    )
    n, s1, s2 = (
        F.col("n_obs").cast("double"),
        F.col("s1").cast("double"),
        F.col("s2").cast("double"),
    )
    mu_u = s1 / n
    var_u = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    fitted = (
        agg.filter((F.col("n_obs") >= min_obs) & (var_u > 0))
        .withColumn("_mu", mu_u)
        .withColumn("_sd", F.sqrt(var_u))
    )
    paths = fitted.select(
        *keys,
        "n_obs",
        "_mu",
        "_sd",
        F.explode(F.sequence(F.lit(0), F.lit(n_paths - 1))).alias("_p"),
    )

    def unit(tag: str) -> "F.Column":
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(salt),
                        *[F.col(k).cast("string") for k in keys],
                        F.col("_p").cast("string"),
                        F.lit(tag),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return (h % F.lit(1000000000) + F.lit(1)).cast("double") / F.lit(1e9)
    z = F.sqrt(F.lit(-2.0) * F.log(unit("a"))) * F.cos(
        F.lit(2.0 * math.pi) * unit("b")
    )
    zq = F.floor(z * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    sim = (F.col("_mu") + F.col("_sd") * zq) / F.lit(1e6)
    simmed = paths.withColumn("_sim", sim)
    w = Window.partitionBy(*keys).orderBy(
        F.col("_sim").asc(), F.col("_p").asc()
    )
    k_target = (n_paths * alpha_num + alpha_den - 1) // alpha_den
    return (
        simmed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == k_target)
        .select(
            *keys,
            "n_obs",
            (F.col("_mu") / F.lit(1e6)).alias("mu"),
            (F.col("_sd") / F.lit(1e6)).alias("sigma"),
            F.col("_sim").alias("var_sim"),
            (-F.col("_sim")).alias("var_loss"),
        )
    )


def mass_index(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    ema_n: int = 9,
    sum_n: int = 25,
    high: str = "high",
    low: str = "low",
) -> DataFrame:
    """Mass Index (Dorsey): ``Σ_{25} EMA9(range) / EMA9(EMA9(range))``
    — the range-expansion "reversal bulge" detector.

    One grouped-map fold carries BOTH chained EMA states over the
    micro-unit bar range (trix's chain shape, over high−low instead of
    close); the per-bar ratio of exact integer states is one IEEE
    division, QUANTIZED to 1e-6 so the 25-bar sum is a
    partition-invariant BIGINT frame reduction (the repo-wide rule for
    summed doubles). The recursive-CTE oracle carries (e1, e2) and
    replays the same window sum.

    Output: keys, order_col, mass_ratio (per-bar EMA ratio), mass_index
    (NULL until the ratio window holds sum_n bars).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, high, low)
    schema = f"{src.schema.toDDL()}, e1 bigint, e2 bigint"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        rng = np.floor(
            (pdf[high].to_numpy(dtype=float) - pdf[low].to_numpy(dtype=float))
            * 1e6
            + 0.5
        ).astype(np.int64)
        e1, e2 = ema_chain(rng, [ema_n] * 2)
        return pdf.assign(e1=e1, e2=e2)

    folded = grouped_fold(src, key_list, fold, schema, order_by=[order_col])
    ratio = F.when(
        F.col("e2") > 0,
        F.col("e1").cast("double") / F.col("e2").cast("double"),
    )
    rq = F.floor(ratio * F.lit(1e6) + F.lit(0.5)).cast("long")
    w = Window.partitionBy(*keys).orderBy(order_col)
    f = w.rowsBetween(-(sum_n - 1), 0)
    mi = F.when(
        F.count("_rq").over(f) == sum_n,
        F.sum("_rq").over(f).cast("double") / F.lit(1e6),
    )
    return (
        folded.withColumn("_rq", rq)
        .withColumn("mass_ratio", F.col("_rq").cast("double") / F.lit(1e6))
        .withColumn("mass_index", mi)
        .select(*key_list, order_col, "mass_ratio", "mass_index")
    )


def event_study(
    returns: DataFrame,
    anchors: DataFrame,
    keys: Sequence[str],
    date_col: str = "trade_date",
    ret_col: str = "ret",
    anchor_date_col: str = "anchor_date",
    pre: int = 3,
    post: int = 3,
    ret_cap: float = 10.0,
) -> DataFrame:
    """Event study: the average-return curve around an anchor event, in
    TRADING-DAY offsets (the classic abnormal-return methodology — "what
    do returns do in the 3 bars before/after a purchase/error/signal?").

    Offsets are ROW offsets on each key's return series, not calendar
    days: returns get a per-key row_number, each anchor maps to its
    day's row_number, and the ±window join is anchor × (2·w+1) offset
    rows → ONE equi-join on (key, rn) — never a theta join, never
    quadratic. Anchors on days with no return row (e.g. the key's first
    trading day) contribute nothing at offset 0 but still anchor their
    neighbors.

    Exactness: rows with ``|ret| > ret_cap`` dropped, survivors
    quantized to micro-units, per-
    offset mean = exact BIGINT sum / count, CAR = running sum of the
    same integers over the (2·w+1)-row offset table — every reduction
    partition-invariant.

    Output: (offset, n_obs, avg_ret, car) ordered by offset.
    """
    w = Window.partitionBy(*keys).orderBy(date_col)
    r = F.col(ret_col)
    rets = (
        returns.filter(F.abs(r) <= F.lit(ret_cap))
        .withColumn(
            "_q", F.floor(r * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        )
        .withColumn("_rn", F.row_number().over(w))
        # consumed twice (anchor mapping + window join): cut once
        .localCheckpoint()
    )
    anchor_rn = (
        anchors.select(*keys, F.col(anchor_date_col).alias(date_col))
        .join(rets.select(*keys, date_col, "_rn"), on=[*keys, date_col])
        .select(*keys, F.col("_rn").alias("_arn"))
    )
    offsets = F.explode(
        F.sequence(F.lit(-pre), F.lit(post))
    ).alias("offset")
    probe = anchor_rn.select(*keys, "_arn", offsets).withColumn(
        "_rn", F.col("_arn") + F.col("offset")
    )
    joined = probe.join(
        rets.select(*keys, "_rn", "_q"), on=[*keys, "_rn"], how="inner"
    )
    agg = joined.groupBy("offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("_q").alias("_s"),
    )
    avg_ret = F.col("_s").cast("double") / F.col("n_obs").cast("double") / F.lit(
        1e6
    )
    # cumulative abnormal return = running BIGINT sum of the quantized
    # per-offset mean over the offset table — which has EXACTLY
    # 2·w+1 distinct-keyed rows, so the lazy packed prefix sum applies
    # (the eager two-pass machinery cost ~0.6 s of jobs here for a
    # 7-row fold — the round-9 x_event_study regression)
    from .rank import packed_running_sum

    staged = agg.withColumn(
        "_avg6",
        F.floor(
            F.col("_s").cast("double") / F.col("n_obs").cast("double")
            + F.lit(0.5)
        ).cast("long"),
    )
    cum = packed_running_sum(staged, "offset", "_avg6", "_car6")
    return (
        cum.select(
            "offset",
            "n_obs",
            avg_ret.alias("avg_ret"),
            (F.col("_car6").cast("double") / F.lit(1e6)).alias("car"),
        )
        .orderBy("offset")
    )


def chaikin_money_flow(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 20,
) -> DataFrame:
    """Chaikin Money Flow over per-key OHLCV bars: the n-bar ratio of
    accumulation/distribution-weighted volume to total volume,

        mfm = ((close−low) − (high−close)) / (high−low)
        cmf = Σₙ(mfm·volume) / Σₙ(volume)

    — the money-flow twin of the A/D line's running sum (reference
    indicator family, cf. chaikin_ad; x_chaikin_ad is the cumulative
    form, this is the bounded-window oscillator).

    Exactness ledger: mfm is a quotient of exact double differences
    (identical operand order both engines — bit-identical IEEE), then
    1e-6-quantized via the tie-safe floor rule so the money-flow VOLUME
    product and its n-bar frame sum are exact BIGINT (|q| ≤ 1e6 ×
    bounded daily volume — far under 2^63). Flat bars (high == low)
    contribute ZERO money flow but their volume still counts in the
    denominator (the standard convention). The final
    ``cmf = Σmfv / Σvol / 1e6`` is two fixed-order IEEE divisions of
    exact operands. One exchange+sort per key.

    Output: keys, order_col, close, cmf.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    f = w.rowsBetween(-(n - 1), 0)
    h, l, c = F.col("high"), F.col("low"), F.col("close")
    mfm = (c - l - (h - c)) / (h - l)
    q = F.when(h > l, u6(mfm)).otherwise(F.lit(0).cast("long"))
    mfv = q * F.col("volume")
    smfv = F.sum(mfv).over(f)
    svol = F.sum(F.col("volume")).over(f)
    cmf = F.when(
        svol > 0,
        smfv.cast("double") / svol.cast("double") / F.lit(1e6),
    )
    return df.select(*keys, F.col(order_col), c, cmf.alias("cmf"))


def awesome_oscillator(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    fast: int = 5,
    slow: int = 34,
) -> DataFrame:
    """Awesome Oscillator (Bill Williams): SMA(median price, fast) −
    SMA(median price, slow) — the momentum gauge on bar midpoints.

    Median price (high+low)/2 is one exact-operand IEEE op, then
    1e-6-quantized so both SMAs are exact BIGINT frame sums; the
    oscillator ``su_f/cnt_f − su_s/cnt_s`` (then /1e6) is fixed-order
    IEEE over exact operands — bit-identical cross-engine with no
    rounding step. NULL until the slow window is FULL (the standard
    warm-up; partial slow windows would just mirror the fast SMA).
    One exchange+sort per key, both frames on the same sort.

    Output: keys, order_col, close, ao.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    ff = w.rowsBetween(-(fast - 1), 0)
    fs = w.rowsBetween(-(slow - 1), 0)
    mp = u6((F.col("high") + F.col("low")) / F.lit(2.0))
    ao = F.when(
        F.count(F.lit(1)).over(fs) >= slow,
        (
            F.sum(mp).over(ff).cast("double")
            / F.count(F.lit(1)).over(ff).cast("double")
            - F.sum(mp).over(fs).cast("double")
            / F.count(F.lit(1)).over(fs).cast("double")
        )
        / F.lit(1e6),
    )
    return df.select(
        *keys, F.col(order_col), F.col("close"), ao.alias("ao")
    )


def detrended_price_osc(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 20,
) -> DataFrame:
    """Detrended Price Oscillator: price from (n/2 + 1) bars ago minus
    the current n-bar SMA — removes the long trend so cycle lengths
    stand out. ``dpo = close[t − (n/2+1)] − SMA_n[t]``.

    The lagged close and the SMA numerator are exact BIGINT micro-units
    (one lag + one frame sum on a single exchange+sort);
    ``(lag_u − su/cnt) / 1e6`` is fixed-order IEEE over exact operands.
    NULL until both the lag exists and the SMA window is full.

    Output: keys, order_col, close, dpo.
    """
    shift = n // 2 + 1
    w = Window.partitionBy(*keys).orderBy(order_col)
    f = w.rowsBetween(-(n - 1), 0)
    lagc = F.lag(u6(F.col("close")), shift).over(w)
    cnt = F.count(F.lit(1)).over(f)
    su = F.sum(u6(F.col("close"))).over(f)
    dpo = F.when(
        lagc.isNotNull() & (cnt >= n),
        (lagc.cast("double") - su.cast("double") / cnt.cast("double"))
        / F.lit(1e6),
    )
    return df.select(
        *keys, F.col(order_col), F.col("close"), dpo.alias("dpo")
    )


def vwma(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 20,
) -> DataFrame:
    """Volume-weighted moving average: Σₙ(close·volume) / Σₙ(volume) —
    the MA that weights heavy-volume bars (vwap_anchored's bounded-
    window sibling: anchored VWAP never forgets, VWMA slides).

    close quantizes to micro-units so the price×volume products and
    both frame sums are exact BIGINT (|q| ≤ 1e8 micro × bounded daily
    volume ≤ 1e5 → products ≤ 1e13, n-bar sums far under 2^63);
    ``Σpq / Σv / 1e6`` is fixed-order IEEE over exact operands. One
    exchange+sort per key.

    Output: keys, order_col, close, vwma.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    f = w.rowsBetween(-(n - 1), 0)
    pq = u6(F.col("close")) * F.col("volume")
    spq = F.sum(pq).over(f)
    sv = F.sum(F.col("volume")).over(f)
    out = F.when(
        sv > 0, spq.cast("double") / sv.cast("double") / F.lit(1e6)
    )
    return df.select(
        *keys, F.col(order_col), F.col("close"), out.alias("vwma")
    )


def calmar_ratio(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    id_col: str,
    value_col: str,
    periods: int = 252,
    min_days: int = 30,
    ret_cap: float = 10.0,
) -> DataFrame:
    """Calmar ratio per key: annualized mean daily return over the
    magnitude of the worst peak-to-trough drawdown — the "return per
    unit of worst pain" companion to sharpe (volatility) and sortino
    (downside deviation).

    One daily-close reduction (max_by — single shuffle), then ONE
    window pass computing both ingredients on the same sort: returns
    (rows with |ret| > ret_cap dropped, survivors 1e-6-quantized into
    an exact BIGINT sum) and the running-max drawdown (quotients of
    exact micro-unit closes — per-row IEEE, reduced by MIN which is
    order-free). ``ann_ret = (Σq/n)/1e6·periods``;
    ``calmar = ann_ret / −mdd`` — every reduction exact, every float op
    fixed-order, so the raw doubles replay bit-identically. Keys with
    < ``min_days`` returns or no drawdown (mdd == 0) yield NULL calmar.

    Output: keys, n_days, ann_ret, mdd, calmar.
    """
    key = F.struct(F.col(ts_col), F.col(id_col))
    daily = (
        df.filter(F.col(value_col) > 0)
        .groupBy(*keys, F.to_date(F.col(ts_col)).alias("trade_date"))
        .agg(F.max_by(F.col(value_col), key).alias("close"))
    )
    w = Window.partitionBy(*keys).orderBy("trade_date")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    cu = u6(F.col("close"))
    peak = F.max(cu).over(run)
    dd = cu.cast("double") / peak.cast("double") - F.lit(1.0)
    ret = F.col("close") / F.lag("close").over(w) - F.lit(1.0)
    bars = daily.select(
        *keys,
        F.col("trade_date"),
        dd.alias("_dd"),
        F.when(
            ret.isNotNull() & (F.abs(ret) <= F.lit(ret_cap)),
            F.floor(ret * F.lit(1e6) + F.lit(0.5)).cast("long"),
        ).alias("_q"),
    )
    agg = bars.groupBy(*keys).agg(
        F.count("_q").cast("long").alias("n_days"),
        F.sum("_q").alias("_sq"),
        F.min("_dd").alias("mdd"),
    )
    nd = F.col("n_days").cast("double")
    ann = F.col("_sq").cast("double") / nd / F.lit(1e6) * F.lit(float(periods))
    calmar = F.when(
        (F.col("n_days") >= min_days) & (F.col("mdd") < 0),
        ann / -F.col("mdd"),
    )
    return agg.select(
        *keys,
        "n_days",
        ann.alias("ann_ret"),
        "mdd",
        calmar.alias("calmar"),
    )


def renko_bricks(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    close: str = "close",
    brick_frac_bp: int = 50,
) -> DataFrame:
    """Renko brick ledger per key — the EIGHTH oracle-checked recurrence
    family in this repo, and the first PURE-INTEGER state machine: no
    float enters the state at all, so the recursive-CTE oracle replays
    it with exact integer arithmetic alone (no IEEE correctly-rounded-
    op argument needed).

    Classic close-based renko with brick size ``b`` = ``brick_frac_bp``
    basis points of the key's FIRST close (integer:
    ``greatest(1, c0_u · bp / 10000)`` micro-units, `//` floor). State
    is the last brick's (lo, hi = lo + b) band:

    - close >= hi + b: n = (close−hi)//b up-bricks; hi += n·b, lo = hi−b
    - close <= lo − b: n = (lo−close)//b down-bricks; lo −= n·b, hi = lo+b
    - otherwise: no brick, band unchanged

    Per-bar output is the SIGNED brick count (+n/−n) and the band — a
    1:1 row ledger (brick counts, not exploded brick rows), which keeps
    the recurrence SQL-replayable and the output partition-stable.
    Non-positive closes are dropped before folding (bricks are defined
    on prices). All quantities stay positive, so `//` floor division
    agrees between Python and DuckDB.

    Fold discipline: grouped_fold ordered by ``order_col``, O(1)
    integer work per bar (cf. volume_index/kalman_1d).

    Output: keys, order_col, close, n_bricks, dir, brick_lo, brick_hi.
    """
    import pandas as pd

    key_list = list(keys)
    src = df.filter(F.col(close) > 0).select(
        *key_list, F.col(order_col), F.col(close)
    )
    schema = (
        f"{src.schema.toDDL()}, n_bricks long, dir long,"
        " brick_lo double, brick_hi double"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        cu = np.floor(
            pdf[close].to_numpy(dtype=float) * 1e6 + 0.5
        ).astype(np.int64)
        m = len(cu)
        nb = np.zeros(m, dtype=np.int64)
        dr = np.zeros(m, dtype=np.int64)
        los = np.zeros(m, dtype=np.int64)
        his = np.zeros(m, dtype=np.int64)
        if m:
            b = max(1, int(cu[0]) * brick_frac_bp // 10000)
            lo = int(cu[0]) // b * b
            hi = lo + b
            d = 0
            los[0], his[0] = lo, hi
            for i in range(1, m):
                c = int(cu[i])
                if c >= hi + b:
                    n = (c - hi) // b
                    hi = hi + n * b
                    lo = hi - b
                    nb[i], d = n, 1
                elif c <= lo - b:
                    n = (lo - c) // b
                    lo = lo - n * b
                    hi = lo + b
                    nb[i], d = -n, -1
                dr[i] = d
                los[i], his[i] = lo, hi
        return pdf.assign(
            n_bricks=nb, dir=dr, brick_lo=los / 1e6, brick_hi=his / 1e6
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def chandelier_exit(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 22,
    mult: float = 3.0,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Chandelier Exit (Chuck LeBeau): ATR-anchored trailing stops —

        long_exit  = max(high, n) − mult·ATR(n)
        short_exit = min(low, n) + mult·ATR(n)

    — the volatility-scaled stop placement rule that trails the n-bar
    extreme by a multiple of the average true range.

    Builds on :func:`atr` (decimal-routed rolling-mean TR, q6-quantized)
    on the SAME per-key exchange+sort: the n-bar high/low extremes are
    order-free MIN/MAX over raw doubles, and each exit is two
    fixed-order IEEE ops (mult·atr, then subtract/add) over
    bit-identical operands — so the raw-double exits replay exactly.

    Output: input columns + (tr, atr, long_exit, short_exit).
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    f = w.rowsBetween(-(n - 1), 0)
    out = atr(df, keys, order_col, n=n, high=high, low=low, close=close)
    hh = F.max(F.col(high)).over(f)
    ll = F.min(F.col(low)).over(f)
    m = F.lit(float(mult))
    return out.withColumn(
        "long_exit", hh - m * F.col("atr")
    ).withColumn("short_exit", ll + m * F.col("atr"))


def choppiness_index(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int = 14,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Choppiness Index (Dreiss): 100·log10(ΣTR(n) / (maxHi(n) −
    minLo(n))) / log10(n) — near 100 in sideways chop (path length ≫
    net range), near 0 in a straight trend.

    One exchange+sort: the TR lag window, the decimal-routed TR frame
    sum (exact — atr's reduction), and the order-free extreme windows
    all share it. The ratio is a division of bit-identical doubles;
    log10 is the one transcendental, so the OUTPUT is 1e-6-quantized
    (the transcendental-output rule, cf. monte_carlo_var's ln/cos: a
    cross-engine 1-ulp log10 difference only matters within ~1e-15 of
    a quantum boundary). NULL until the window is full and whenever
    the range or TR sum is non-positive (flat/degenerate windows).

    Output: input columns + (chop,).
    """
    import math

    from ..functions.exact import _DEC

    w = Window.partitionBy(*keys).orderBy(order_col)
    f = w.rowsBetween(-(n - 1), 0)
    out = true_range(df, keys, order_col, high, low, close)
    str_ = F.sum(F.col("tr").cast(_DEC)).over(f).cast("double")
    rng = F.max(F.col(high)).over(f) - F.min(F.col(low)).over(f)
    cnt = F.count(F.lit(1)).over(f)
    chop = F.when(
        (cnt >= n) & (rng > 0) & (str_ > 0),
        q6(
            F.lit(100.0) * F.log10(str_ / rng) / F.lit(math.log10(float(n)))
        ),
    )
    return out.withColumn("chop", chop)


def tsi(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    slow: int = 25,
    fast: int = 13,
    close: str = "close",
) -> DataFrame:
    """True Strength Index (Blau): DOUBLE-smoothed momentum —

        tsi = 100 · EMA_fast(EMA_slow(Δp)) / EMA_fast(EMA_slow(|Δp|))

    A nested recurrence (four EMA states whose fast stages consume the
    OUTPUT of the slow stages): two ``[slow, fast]``
    :func:`~.extension.ema_chain` calls, over the momentum and over its
    absolute value, in ONE grouped-map pass on int64 micro-unit states,
    so one shuffle covers what four chained ema_fold calls would do in
    four.

    Exactness contract (the ema_fold family rule): close quantizes with
    floor(p·1e6+0.5); every state update is
    ``s += floor(2.0·(x − s)/(n + 1.0))`` over doubles of integers
    < 2^53 (IEEE-exact, engine-independent); the final
    ``100·em2/am2`` is fixed-order IEEE over exact integers. The DuckDB
    oracle precomputes the momentum as a lag window column and carries
    the four BIGINT states through a recursive CTE (x_tsi in
    __spark_entry__).

    Seed: both slow EMAs at the first momentum value (bar 2), both fast
    EMAs at those seeds. Bar 1 has no momentum and is dropped. The fast
    stage consumes the UPDATED slow state of the same bar.

    Output: keys + order + close + (mtm, tsi). Bars whose |momentum|
    EMA state is zero (flat series from the seed on) have no defined
    TSI and are dropped in BOTH engines (NaN/NULL cross-engine hashing
    is exactly the ambiguity the registry avoids).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = f"{src.schema.toDDL()}, mtm double, tsi double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        q = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(
            np.int64
        )
        mtm = np.diff(q)
        em2 = ema_chain(mtm, [slow, fast])[1]
        am2 = ema_chain(np.abs(mtm), [slow, fast])[1]
        mtm_a = np.full(len(q), np.nan)
        tsi_a = np.full(len(q), np.nan)
        mtm_a[1:] = mtm / 1e6
        with np.errstate(divide="ignore", invalid="ignore"):
            tsi_a[1:] = np.where(am2 != 0, 100.0 * em2 / am2, np.nan)
        out = pdf.assign(mtm=mtm_a, tsi=tsi_a)
        return out[~np.isnan(tsi_a)]

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def zigzag_pivots(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    pct_bp: int = 300,
    close: str = "close",
) -> DataFrame:
    """ZigZag swing pivots — the TENTH recurrence family: a pure-integer
    threshold-REVERSAL state machine (like renko, no IEEE argument
    needed anywhere). A pivot is confirmed when price retraces at least
    ``pct_bp`` basis points from the running extreme of the current
    leg; the pivot is the extreme itself (price AND its date), not the
    confirming bar.

    State (all BIGINT micro-units / order values): leg direction, the
    current leg's extreme + date, and — before the first confirmation,
    when direction is unknown — running min/max trackers + dates. The
    reversal predicate is pure-integer: ``(ext − c)·10000 ≥ ext·pct_bp``
    (closes are filtered positive, so both sides are nonnegative where
    they matter). In the direction-unknown phase the trackers update
    FIRST, then the up-reversal (low pivot) is checked before the
    down-reversal — mirrored verbatim in the recursive SQL oracle.

    Emits ONLY confirmed pivots: (keys, pivot_date, pivot_price,
    pivot_type 'H'/'L'). Pivot dates strictly increase per key (each
    new leg's extreme starts at the confirming bar, after the previous
    pivot), so (keys, pivot_date) is a total order.
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.filter(F.col(close) > 0).select(*key_list, order_col, close)
    date_t = dict(src.dtypes)[order_col]
    key_t = ", ".join(f"{k} {t}" for k, t in src.dtypes if k in key_list)
    schema = (
        key_t
        + f", pivot_date {date_t}, pivot_price double, pivot_type string"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        q = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(
            np.int64
        )
        dates = pdf[order_col].to_list()
        kv = [pdf[k].iloc[0] for k in key_list]
        out = []
        m = len(q)
        if m:
            dirn = 0
            mn = mx = ext = int(q[0])
            mnd = mxd = extd = dates[0]
            for i in range(1, m):
                c = int(q[i])
                d = dates[i]
                if dirn == 0:
                    if c > mx:
                        mx, mxd = c, d
                    if c < mn:
                        mn, mnd = c, d
                    if (c - mn) * 10000 >= mn * pct_bp:
                        out.append((*kv, mnd, mn / 1e6, "L"))
                        dirn, ext, extd = 1, c, d
                    elif (mx - c) * 10000 >= mx * pct_bp:
                        out.append((*kv, mxd, mx / 1e6, "H"))
                        dirn, ext, extd = -1, c, d
                elif dirn == 1:
                    if c > ext:
                        ext, extd = c, d
                    elif (ext - c) * 10000 >= ext * pct_bp:
                        out.append((*kv, extd, ext / 1e6, "H"))
                        dirn, ext, extd = -1, c, d
                else:
                    if c < ext:
                        ext, extd = c, d
                    elif (c - ext) * 10000 >= ext * pct_bp:
                        out.append((*kv, extd, ext / 1e6, "L"))
                        dirn, ext, extd = 1, c, d
        return pd.DataFrame(
            out,
            columns=[*key_list, "pivot_date", "pivot_price", "pivot_type"],
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def alligator(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    jaw: tuple[int, int] = (13, 8),
    teeth: tuple[int, int] = (8, 5),
    lips: tuple[int, int] = (5, 3),
    high: str = "high",
    low: str = "low",
) -> DataFrame:
    """Williams Alligator: three Wilder-smoothed moving averages (SMMA)
    of the bar midpoint, each displaced FORWARD by its offset — jaw
    13/8, teeth 8/5, lips 5/3. The SMMA recurrence
    ``s += floor((v − s)/n)`` (Wilder's smoothing, the ATR/ADX family
    coefficient) folds all three states in ONE grouped-map pass on
    int64 micro-units. The fold already holds the group in ``order_col``
    order, so the forward displacement (line shown at bar t = state
    computed ``offset`` bars earlier) is an in-fold array shift — the
    plan has NO post-fold Window at all (the lag formulation left three
    Window operators, one per distinct lag frame, over the fold output).

    Exactness: midpoint quantizes via one shared ``(h+l)·5e5``
    expression; each state update is floor over a double quotient of
    integers < 2^53 (IEEE-exact both engines); the division by 1e6 is
    the same int64/1e6 IEEE op the lag form applied. The recursive
    oracle carries the three BIGINT states and applies SQL lags — same
    values, NULL until the displacement has history (the shift emits
    pandas NA, which Arrow carries as null, not NaN).

    Output: keys + order + (mid, jaw, teeth, lips).
    """
    import math

    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, high, low)
    schema = (
        f"{src.schema.toDDL()}, mid double, jaw double,"
        " teeth double, lips double"
    )
    nj, nt, nl = jaw[0], teeth[0], lips[0]
    oj, ot, ol = jaw[1], teeth[1], lips[1]

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.floor(
            (pdf[high].to_numpy(dtype=float) + pdf[low].to_numpy(dtype=float))
            * 500000.0
            + 0.5
        ).astype(np.int64)
        n = len(m)
        ja = np.empty(n, dtype=np.int64)
        ta = np.empty(n, dtype=np.int64)
        la = np.empty(n, dtype=np.int64)
        j = t = l = 0
        for i, v in enumerate(m.tolist()):
            if i == 0:
                j = t = l = v
            else:
                j += math.floor((v - j) / float(nj))
                t += math.floor((v - t) / float(nt))
                l += math.floor((v - l) / float(nl))
            ja[i], ta[i], la[i] = j, t, l

        def disp(states: np.ndarray, off: int) -> pd.array:
            # displaced line = state `off` bars back, / 1e6 — masked
            # Float64 so the missing head is NULL (NaN would hash-split
            # from the SQL lag's NULL)
            vals = np.zeros(n, dtype=float)
            mask = np.zeros(n, dtype=bool)
            if off < n:
                vals[off:] = states[: n - off] / 1e6
            mask[: min(off, n)] = True
            return pd.arrays.FloatingArray(vals, mask)

        return pdf.assign(
            mid=m / 1e6,
            jaw=disp(ja, oj),
            teeth=disp(ta, ot),
            lips=disp(la, ol),
        )

    out = grouped_fold(src, key_list, fold, schema, order_by=[order_col])
    return out.select(*key_list, order_col, "mid", "jaw", "teeth", "lips")


def garch_vol(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    omega12: int = 5_000_000,
    alpha6: int = 100_000,
    beta6: int = 850_000,
    close: str = "close",
) -> DataFrame:
    """GARCH(1,1) conditional volatility with fixed (calibrated
    elsewhere) parameters — the volatility-forecast recurrence next to
    the indicator families:

        r_t        = (p_t − p_{t−1}) / p_{t−1}
        σ²_t       = ω + α·r²_{t−1} + β·σ²_{t−1}      (t ≥ 3)
        σ²_2       = r²_2                              (seed: first obs)

    Exactness (the KAMA/VIDYA integer recipe, one deeper scale): prices
    quantize to micro BIGINT; the return is a branch-on-sign integer
    ratio r6 = ±((|Δp|·1e6) // p_prev) so dividends stay nonnegative
    (DuckDB ``//`` truncates, Python floors — they agree only on
    nonnegative operands), capped at ±1000 % (the beta_vs_market
    ret_cap convention — synthetic ticks gap harder than any real
    instrument, and the cap also bounds every product below); the
    variance state lives at 1e12 scale (v = r6² is already
    pico-scaled) and each step is
    v = ω12 + α6·(r6²_{prev} // 1e6) + β6·(v // 1e6) — divide BEFORE
    multiply, so with r6 ≤ 1e7 every term stays under ~1e14 ≪ 2^63;
    every step exact BIGINT, bit-identical cross-engine. σ reports as
    floor(sqrt(v) + 0.5)/1e6: sqrt of an integer-valued double < 2^53
    is correctly rounded per IEEE-754 on both engines, so even the
    square root is deterministic.

    The return is window-computable (one lag), so the SQL oracle's
    recursive CTE carries one BIGINT state (plus the lagged r6).
    Bar 1 emits NULLs (no return); a non-positive previous price
    defines r = 0 (synthetic-data guard). Defaults: ω = 5e-6,
    α = 0.10, β = 0.85 (unconditional daily vol = 1 %).

    Output: keys + order + (ret, cond_var, sigma).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = f"{src.schema.toDDL()}, ret double, cond_var double, sigma double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        p = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(
            np.int64
        )
        m = len(p)
        ret_a = np.full(m, np.nan)
        var_a = np.full(m, np.nan)
        sig_a = np.full(m, np.nan)
        if m >= 2:
            pl = p.tolist()
            v = 0
            r_prev = 0
            for i in range(1, m):
                pp, pc = pl[i - 1], pl[i]
                if pp <= 0:
                    r6 = 0
                elif pc >= pp:
                    r6 = ((pc - pp) * 1_000_000) // pp
                else:
                    r6 = -(((pp - pc) * 1_000_000) // pp)
                r6 = max(-10_000_000, min(10_000_000, r6))
                if i == 1:
                    v = r6 * r6
                else:
                    v = (
                        omega12
                        + alpha6 * ((r_prev * r_prev) // 1_000_000)
                        + beta6 * (v // 1_000_000)
                    )
                ret_a[i] = r6 / 1e6
                var_a[i] = v / 1e12
                sig_a[i] = math.floor(math.sqrt(float(v)) + 0.5) / 1e6
                r_prev = r6

        def masked(x):
            return pd.arrays.FloatingArray(x, np.isnan(x))

        return pdf.assign(
            ret=masked(ret_a), cond_var=masked(var_a), sigma=masked(sig_a)
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def holt_linear(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    alpha6: int = 300_000,
    gamma6: int = 100_000,
    close: str = "close",
) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing — the
    level+trend forecasting recurrence next to the GARCH volatility
    forecast:

        l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = γ·(l_t − l_{t−1}) + (1−γ)·b_{t−1}
        ŷ_{t+1|t} = l_t + b_t                    (one-step forecast)

    Seeds: l_1 = y_1, b_1 = 0 (emitted from bar 1 — the flat-start
    convention; the trend learns from bar 2).

    Exactness: micro-unit BIGINT states. Unlike the EMA folds, the
    level/trend numerators can go NEGATIVE (a falling series drives
    b < 0, and l−l_prev has either sign), so each update divides with
    an explicit branch on the WHOLE numerator's sign —
    ±(|num| // 1e6) — keeping DuckDB's truncating ``//`` and Python's
    flooring ``//`` on the nonnegative domain where they agree. Both
    coefficient products stay ≤ 1e6·|state| ≪ 2^63 for any price the
    micro quantization admits. The SQL oracle's recursive CTE carries
    the two BIGINT states.

    Output: keys + order + close + (level, trend, forecast).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close)
    schema = (
        f"{src.schema.toDDL()}, level double, trend double,"
        " forecast double"
    )
    ca6 = 1_000_000 - alpha6
    cg6 = 1_000_000 - gamma6

    def sdiv(num: int) -> int:
        if num >= 0:
            return num // 1_000_000
        return -((-num) // 1_000_000)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        p = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(
            np.int64
        )
        m = len(p)
        lv = np.empty(m, dtype=np.int64)
        tr = np.empty(m, dtype=np.int64)
        pl = p.tolist()
        l = b = 0
        for i, y in enumerate(pl):
            if i == 0:
                l, b = y, 0
            else:
                l_prev = l
                l = sdiv(alpha6 * y + ca6 * (l + b))
                b = sdiv(gamma6 * (l - l_prev) + cg6 * b)
            lv[i] = l
            tr[i] = b
        return pdf.assign(
            level=lv / 1e6, trend=tr / 1e6, forecast=(lv + tr) / 1e6
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def regime_viterbi(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    mu_up6: int = 1_000,
    mu_down6: int = -1_000,
    stay6: int = 50_000,
    ret_col: str = "ret6",
) -> DataFrame:
    """Two-state bull/bear REGIME detection: the online Viterbi forward
    pass of a two-state HMM in MAX-PLUS (tropical) integer arithmetic —
    the FIFTEENTH recurrence family, and the first whose fold combines
    states with ``max`` instead of arithmetic (every prior family is a
    sum/product/division shape; max-plus is the dynamic-programming
    algebra, and this operator is the template for any per-key DP over
    an ordered series).

        score_s(t) = max_{s'}(score_{s'}(t−1) + trans(s', s)) + emit_s(t)
        regime(t)  = argmax_s score_s(t)        (tie → up)

    with two states (up: drift ``mu_up6``, down: ``mu_down6``, both in
    µ-return units), L1 emission score ``emit_s = −|r6 − mu_s|`` (no
    squares — bounded integers, no overflow for any series length that
    fits a cluster), and a sticky diagonal ``trans(s, s) = stay6``,
    ``trans(s, s') = 0`` — the log-odds bonus for staying put, which is
    what turns pointwise sign-reading into regime SEGMENTATION.
    ``regime(t)`` is the end state of the highest-scoring path through
    ``t`` — the standard online regime signal (full Viterbi smoothing
    would backtrack; the forward argmax is the causal, streamable
    variant).

    Exactness: scores are BIGINT sums of integer emissions — ``max`` and
    ``+`` replay bit-identically in any engine, so the oracle is a
    recursive CTE carrying the two path scores with ``greatest()``.
    Output: keys + order + ret6 + (regime int, margin double = the
    score gap in return units — a confidence readout).
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, ret_col)
    schema = f"{src.schema.toDDL()}, regime int, margin double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        r = pdf[ret_col].to_numpy(dtype=np.int64)
        m = len(r)
        regime = np.empty(m, dtype=np.int32)
        margin = np.empty(m, dtype=np.int64)
        s_up = s_dn = 0
        for i, ri in enumerate(r.tolist()):
            e_up = -abs(ri - mu_up6)
            e_dn = -abs(ri - mu_down6)
            if i == 0:
                s_up, s_dn = e_up, e_dn
            else:
                s_up, s_dn = (
                    max(s_up + stay6, s_dn) + e_up,
                    max(s_dn + stay6, s_up) + e_dn,
                )
            regime[i] = 0 if s_up >= s_dn else 1
            margin[i] = s_up - s_dn
        return pdf.assign(regime=regime, margin=margin / 1e6)

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])


def regime_conditional_holt(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    mu_up6: int = 1_000,
    mu_down6: int = -1_000,
    stay6: int = 50_000,
    alpha_up6: int = 400_000,
    gamma_up6: int = 150_000,
    alpha_dn6: int = 200_000,
    gamma_dn6: int = 50_000,
    close: str = "close",
    ret_col: str = "ret6",
) -> DataFrame:
    """Regime-CONDITIONAL Holt smoothing — the SIXTEENTH recurrence
    family, and the first COMPOSITE one: a state machine consuming a
    state machine. At every bar the fold first advances the two
    max-plus Viterbi path scores (:func:`regime_viterbi`'s recurrence,
    same parameters), decodes the causal regime, and then runs Holt's
    level/trend update with (α, γ) SELECTED BY that regime:

        (s_up, s_dn) ← max-plus step on r6          (family 15)
        regime       = argmax(s_up, s_dn)           (tie → up)
        (α, γ)       = (α_up, γ_up) if regime = up else (α_dn, γ_dn)
        l, b         ← Holt step on y with (α, γ)   (family 2's shape)

    Defaults: bull regimes track fast (α=0.4, γ=0.15 — trends are
    informative), bear regimes smooth hard (α=0.2, γ=0.05 — drawdown
    noise shouldn't whip the forecast), the standard regime-switching
    smoother configuration.

    What is NEW about the fold (none of families 1–15 exercise it):
    the Holt coefficients are not constants of the fold but functions
    of ANOTHER fold's current state, so the combined state
    (s_up, s_dn, l, b) is irreducible — the Holt half cannot be
    replayed without carrying the Viterbi half. Exactness carries over
    unchanged: the scores are BIGINT max-plus sums, the Holt states
    are micro-unit BIGINTs with branch-on-sign division
    (±(|num| // 1e6)), and the coefficient SELECTION is an integer
    comparison — so the oracle is a recursive CTE carrying all four
    states, with greatest() and a CASE on the score comparison.

    Input contract: one row per (keys, order) with ``close`` (price)
    and ``ret_col`` (µ-return BIGINT) — i.e. the return-bearing bars
    2..n; Holt seeds l = y, b = 0 on the first input row (same
    flat-start convention as :func:`holt_linear`).

    Output: keys + order + close + ret6 + (regime int, level, trend,
    forecast doubles). Cites the reference's single-indicator analytics
    (api/analytics.py) only as surface; the composite is ours.
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    src = df.select(*key_list, order_col, close, ret_col)
    schema = (
        f"{src.schema.toDDL()}, regime int, level double, trend double,"
        " forecast double"
    )
    ca_up6 = 1_000_000 - alpha_up6
    cg_up6 = 1_000_000 - gamma_up6
    ca_dn6 = 1_000_000 - alpha_dn6
    cg_dn6 = 1_000_000 - gamma_dn6

    def sdiv(num: int) -> int:
        if num >= 0:
            return num // 1_000_000
        return -((-num) // 1_000_000)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        r = pdf[ret_col].to_numpy(dtype=np.int64)
        p = np.floor(pdf[close].to_numpy(dtype=float) * 1e6 + 0.5).astype(
            np.int64
        )
        m = len(r)
        regime = np.empty(m, dtype=np.int32)
        lv = np.empty(m, dtype=np.int64)
        tr = np.empty(m, dtype=np.int64)
        s_up = s_dn = 0
        l = b = 0
        for i in range(m):
            ri = int(r[i])
            y = int(p[i])
            e_up = -abs(ri - mu_up6)
            e_dn = -abs(ri - mu_down6)
            if i == 0:
                s_up, s_dn = e_up, e_dn
                l, b = y, 0
            else:
                s_up, s_dn = (
                    max(s_up + stay6, s_dn) + e_up,
                    max(s_dn + stay6, s_up) + e_dn,
                )
                if s_up >= s_dn:
                    a6, g6, ca6, cg6 = alpha_up6, gamma_up6, ca_up6, cg_up6
                else:
                    a6, g6, ca6, cg6 = alpha_dn6, gamma_dn6, ca_dn6, cg_dn6
                l_prev = l
                l = sdiv(a6 * y + ca6 * (l + b))
                b = sdiv(g6 * (l - l_prev) + cg6 * b)
            regime[i] = 0 if s_up >= s_dn else 1
            lv[i] = l
            tr[i] = b
        return pdf.assign(
            regime=regime,
            level=lv / 1e6,
            trend=tr / 1e6,
            forecast=(lv + tr) / 1e6,
        )

    return grouped_fold(src, key_list, fold, schema, order_by=[order_col])

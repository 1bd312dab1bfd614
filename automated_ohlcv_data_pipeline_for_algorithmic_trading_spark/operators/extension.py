"""User extension point (SURVEY.md SS2.9 engine policy): custom
per-instrument computations as Arrow-batched grouped-map pandas
functions.

Everything the reference computes ships as native expressions; this is
the sanctioned escape hatch for user-defined indicators that genuinely
need pandas (exotic TA functions, model scoring). Grouped-map per symbol
is the natural shape: each instrument's history arrives as one ordered
pandas DataFrame, the user returns added columns, Spark parallelizes
across instruments — one shuffle on the group key, Arrow both ways.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType


def grouped_fold(
    src: DataFrame,
    keys: Sequence[str],
    fold: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    order_by: Sequence[str] = (),
) -> DataFrame:
    """Run a per-group pandas ``fold`` via ``mapInPandas`` over
    key-contiguous partitions — the amortized replacement for
    ``groupBy(keys).applyInPandas(fold)`` (guide §4: fewer, larger Arrow
    crossings; the JVM↔Python boundary is paid per partition batch, not
    per group).

    Same exchange as the grouped-map form (hash on ``keys``), plus a
    partition-local sort on ``keys`` so each group's rows are contiguous;
    ``fold`` receives one whole group at a time with a fresh RangeIndex —
    byte-identical input to what ``applyInPandas`` delivers. Groups that
    span Arrow batch boundaries are carried over, so the 10k-row default
    batch size never splits a group.

    Row order: with ``order_by`` the same JVM sort also orders each
    group by those columns, ascending with NULLs last (the
    ``na_position='last'`` default of the pandas sort it replaces), so a
    recurrence fold needs no ``sort_values`` of its own. Rows that tie on
    (keys, order_by) arrive in unspecified order, as under pandas'
    default quicksort; every in-repo caller orders by a per-key unique
    column. Without ``order_by`` within-group order is unspecified, as
    in the grouped-map form.

    Partitioning: the exchange is an explicit ``repartition(n, *keys)``
    with n = ``defaultParallelism``, not the planner-inserted one, so
    AQE cannot byte-coalesce the (small) pre-fold shuffle to ONE
    partition and serialize every group's Arrow round-trip into a single
    task (measured 7.4 s → sub-second for 150 groups at bench scale).
    Callers therefore never repartition first: Catalyst's
    CollapseRepartition would drop theirs anyway. (An input already
    hash-partitioned on ``keys`` can still lose this exchange — see the
    parallelism trap in ``finance.ema_fold``.)

    ``fold`` may return any shape matching ``schema`` (fewer/more rows,
    different columns). Keys must be scalar, comparable values (NULL keys
    are grouped together, as in grouped-map). FLOAT/DOUBLE keys raise
    ``ValueError``: NULL and NaN both arrive in pandas as NaN, so a
    NULL-key group and a NaN-key group would merge; quantize or cast
    such keys first.
    """
    key_list = list(keys)
    float_keys = [
        f.name
        for f in src.schema.fields
        if f.name in key_list and isinstance(f.dataType, (FloatType, DoubleType))
    ]
    if float_keys:
        raise ValueError(
            f"grouped_fold: key column(s) {float_keys} are FLOAT/DOUBLE; a "
            "NULL-key group and a NaN-key group would merge at the Arrow "
            "boundary. Quantize or cast the key first."
        )
    n = src.sparkSession.sparkContext.defaultParallelism
    part = src.repartition(n, *key_list).sortWithinPartitions(
        *key_list, *[F.col(c).asc_nulls_last() for c in order_by]
    )

    def _assemble(frames):
        out = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        return out.reset_index(drop=True)

    def _key_of(row):
        # NaN-normalized key tuple so a NULL-keyed group matches itself
        # across batches (NaN != NaN)
        return tuple(None if pd.isna(v) else v for v in row)

    def run(batches):
        # frames of the current (possibly batch-spanning) trailing group —
        # kept as a LIST and concatenated once per group, so a group far
        # larger than one Arrow batch costs O(group) assembly, not the
        # O(group^2 / batch) of re-concatenating the carry every batch
        carry: list = []
        carry_key = None
        for pdf in batches:
            if not len(pdf):
                continue
            k = pdf[key_list]
            ks = k.shift()
            # NULL-safe group-change marker (NaN != NaN is True in pandas)
            ne = (k.ne(ks) & ~(k.isna() & ks.isna())).any(axis=1).to_numpy()
            ne[0] = True
            starts = np.flatnonzero(ne)
            ends = np.append(starts[1:], len(pdf))
            outs = []
            n_seg = len(starts)
            for j, (s, e) in enumerate(zip(starts, ends)):
                seg = pdf.iloc[int(s):int(e)]
                seg_key = _key_of(k.iloc[int(s)])
                last = j == n_seg - 1
                if carry and seg_key == carry_key:
                    carry.append(seg)
                    if not last:
                        outs.append(fold(_assemble(carry)))
                        carry, carry_key = [], None
                    continue
                if carry:
                    outs.append(fold(_assemble(carry)))
                    carry, carry_key = [], None
                if last:
                    carry, carry_key = [seg], seg_key
                else:
                    outs.append(fold(seg.reset_index(drop=True)))
            if outs:
                yield pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]
        if carry:
            yield fold(_assemble(carry))

    return part.mapInPandas(run, schema=schema)


def ema_chain(values: np.ndarray, ns: Sequence[int]) -> list[np.ndarray]:
    """The exact integer EMA kernel shared by every chained-EMA indicator:
    stage k folds stage k−1's states (stage 1 folds ``values``) with

        e_0 = x_0 ;  e_i = e_{i−1} + floor(2.0·(x_i − e_{i−1}) / (n_k + 1.0))

    so every stage seeds at the first value of its own input. The floor
    is over the DOUBLE quotient; while all operands stay below 2^53 both
    this fold and a recursive SQL CTE compute the identical double and
    the identical integer state. Returns one int64 array of states per
    entry of ``ns``.
    """
    out = []
    xs = values.tolist()
    for n in ns:
        # plain-list recurrence (numpy scalar indexing is ~5x slower in
        # sequential folds — see the hot-key smoke in SCALE_RESULTS.md);
        # the step at x_0 is floor(0.0) = 0, which leaves the seed as is
        d = n + 1.0
        e = xs[0] if xs else 0
        states = []
        for x in xs:
            e += math.floor(2.0 * (x - e) / d)
            states.append(e)
        out.append(np.asarray(states, dtype=np.int64))
        xs = states
    return out


def apply_per_symbol(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: str,
    keys: Sequence[str] = ("symbol_clean",),
    ts_col: str | Sequence[str] | None = "timestamp_iso",
) -> DataFrame:
    """Run ``fn`` once per key group as a pandas DataFrame (sorted by
    ``ts_col`` when given, NULLs last — indicator code can assume
    chronological order; see :func:`grouped_fold`). ``output_schema`` is
    the full output schema DDL string.

    Scale: groups are single instruments; even a decade of 5-minute
    candles per symbol is ~750k rows — comfortably one Arrow batch. Skewed
    universes (one instrument dominating) are bounded by per-group size,
    not executor count.
    """
    order = [ts_col] if isinstance(ts_col, str) else ts_col or ()
    return grouped_fold(df, keys, fn, output_schema, order_by=order)


def bollinger_bands(
    window: int = 20, num_std: float = 2.0, price_col: str = "close"
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Example user indicator: Bollinger bands as a pandas rolling
    computation (what a user would plug in when they outgrow the native
    sma/rsi window expressions)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        roll = pdf[price_col].rolling(window, min_periods=1)
        mid = roll.mean()
        sd = roll.std().fillna(0.0)
        return pdf.assign(
            bb_mid=mid, bb_upper=mid + num_std * sd, bb_lower=mid - num_std * sd
        )

    return fn


def ema_macd_exact(
    fast: int = 12, slow: int = 26, price_col: str = "close"
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Determinism-contract EMA pair + MACD: the classic recurrence
    ``e_i = e_{i-1} + alpha * (x_i - e_{i-1})`` folded in integer
    micro-units so a sequential SQL replay (DuckDB recursive CTE) is
    bit-identical to this pandas fold:

    - quantize prices to 1e-6 with the repo-wide tie-free rule
      ``floor(x * 1e6 + 0.5)`` (plain IEEE ops, no tie-break — the SQL
      twin applies the literal same expression, see functions/exact.q6),
    - step ``e_i = e_{i-1} + floor(2.0 * (v_i - e_{i-1}) / (n + 1.0))``
      (:func:`ema_chain`, one depth-1 chain per EMA) with the floor over
      the DOUBLE quotient — all operands stay far below 2^53, so both
      engines compute the identical double and the identical integer
      state,
    - emit doubles only at the end (state / 1e6).

    MACD = ema_fast - ema_slow computed on the integer states, so even
    the difference is exact. EMA seeds at the first price (the common
    convention; a SMA warm-up seed would fold the same way)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.floor(pdf[price_col].to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)
        [e_fast] = ema_chain(v, [fast])
        [e_slow] = ema_chain(v, [slow])
        return pdf.assign(
            ema_fast=e_fast / 1e6,
            ema_slow=e_slow / 1e6,
            macd=(e_fast - e_slow) / 1e6,
        )

    return fn


def bollinger_bands_exact(
    window: int = 20, num_std: float = 2.0, price_col: str = "close"
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Determinism-contract Bollinger bands: rolling mean and SAMPLE std
    from exact integer micro-unit sums — the pandas twin of dsum/dstddev
    (functions/exact.py), so the grouped-map result is bit-identical to a
    windowed decimal(38,6) SQL replay on any engine/partitioning.

    Prices and their squares quantize to 1e-6 with the tie-free
    ``floor(x * 1e6 + 0.5)`` rule (identical IEEE ops in the SQL twin,
    see functions/exact.q6); rolling integer sums are
    exact in float64 while window sums stay below 2^53 micro-units
    (~9e9 in price units — far above any real OHLCV window). n < 2 emits
    sd = 0 like :func:`bollinger_bands`. Oracle-checked in
    __spark_entry__ as x_bollinger_bands."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[price_col].to_numpy(dtype=float)
        xu = np.floor(x * 1e6 + 0.5)
        xxu = np.floor(x * x * 1e6 + 0.5)
        s = pd.Series(xu).rolling(window, min_periods=1)
        ss = pd.Series(xxu).rolling(window, min_periods=1)
        n = s.count().to_numpy()
        sx = s.sum().to_numpy() / 1e6
        sxx = ss.sum().to_numpy() / 1e6
        mid = sx / n
        with np.errstate(divide="ignore", invalid="ignore"):
            var = (n * sxx - sx * sx) / (n * (n - 1))
        sd = np.sqrt(np.maximum(var, 0.0))
        sd[n < 2] = 0.0
        return pdf.assign(
            bb_mid=mid, bb_upper=mid + num_std * sd, bb_lower=mid - num_std * sd
        )

    return fn

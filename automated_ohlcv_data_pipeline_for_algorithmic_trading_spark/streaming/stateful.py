"""Custom stateful streaming operators via ``applyInPandasWithState``.

Where watermark+window covers the reference's declared streaming surface,
genuinely *cumulative* market-state (running VWAP, cumulative volume)
needs user state that survives micro-batches — the documented Spark shape
for that is ``groupBy(key).applyInPandasWithState`` (Arrow-batched, state
store-backed, exactly-once under checkpointing).

Scale notes: state is one tiny tuple per symbol (KB total for any
realistic universe); the state store shuffles on the group key once and
partitions persist across batches. At poll-set volume a batch's cost is
set by the state-store width, not by the Arrow transfer or the state
size: every partition runs a task and a versioned delta-file commit
whatever it holds, so ``session.stateful_partitions`` keeps the width to
one task wave.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

VWAP_OUTPUT_SCHEMA = (
    "symbol_clean string, timestamp_unix long, close double, volume long, "
    "vwap double, cum_volume long"
)
VWAP_STATE_SCHEMA = "pv double, v long"


def _vwap_fn(key, pdfs: Iterator, state: GroupState) -> Iterator:
    import pandas as pd

    (pv, v) = state.get if state.exists else (0.0, 0)
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["timestamp_unix"])
        for row in pdf.itertuples():
            pv += float(row.close) * int(row.volume)
            v += int(row.volume)
            out.append(
                (
                    key[0],
                    int(row.timestamp_unix),
                    float(row.close),
                    int(row.volume),
                    pv / v if v else None,
                    v,
                )
            )
    state.update((pv, v))
    yield pd.DataFrame(
        out,
        columns=[
            "symbol_clean", "timestamp_unix", "close", "volume",
            "vwap", "cum_volume",
        ],
    )


def streaming_vwap(silver_stream: DataFrame) -> DataFrame:
    """Running VWAP per symbol across micro-batches: for every candle,
    emit cumulative sum(close*volume)/sum(volume) so far. State is the
    running (price*volume, volume) pair per symbol."""
    return (
        silver_stream.select("symbol_clean", "timestamp_unix", "close", "volume")
        .groupBy("symbol_clean")
        .applyInPandasWithState(
            _vwap_fn,
            VWAP_OUTPUT_SCHEMA,
            VWAP_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# --- determinism-contract variant (oracle-checked in __spark_entry__) ------

VWAP_EXACT_OUTPUT_SCHEMA = (
    "symbol_clean string, event_id long, timestamp_unix long, close double, "
    "volume long, vwap double, cum_volume long"
)
VWAP_EXACT_STATE_SCHEMA = "pvu long, v long"


def _vwap_exact_fn(key, pdfs: Iterator, state: GroupState) -> Iterator:
    """Like _vwap_fn, but price*volume accumulates in integer micro-units
    (round-half-even to 1e-6, the decimal(38,6) quantum) so the running
    sum is EXACT and association-free — the stateful stream result is
    bit-identical to a windowed decimal SQL replay on any engine, per the
    repo determinism contract (functions/exact.py). Rows are folded in
    (timestamp_unix, event_id) order for a deterministic tiebreak."""
    import numpy as np
    import pandas as pd

    (pvu, v) = state.get if state.exists else (0, 0)
    frames = [f for f in pdfs if len(f)]
    if not frames:  # NoTimeout never calls with an empty group, but be safe
        state.update((int(pvu), int(v)))
        return
    pdf = (frames[0] if len(frames) == 1 else pd.concat(frames)).sort_values(
        ["timestamp_unix", "event_id"]
    )
    close = pdf["close"].to_numpy(np.float64)
    vol = pdf["volume"].to_numpy(np.int64)
    # (close * volume) * 1e6 quantized with the repo-wide tie-free rule
    # floor(x * 1e6 + 0.5) (same IEEE ops as the SQL twin — no rounding
    # tie-break): the same integer micro-units a per-row fold would
    # accumulate, but vectorized — cumsum over int64 is exact, order
    # fixed by the sort.
    dpvu = np.floor(close * vol.astype(np.float64) * 1e6 + 0.5).astype(np.int64)
    cum_pvu = pvu + np.cumsum(dpvu)
    cum_v = v + np.cumsum(vol)
    vwap = np.where(cum_v > 0, (cum_pvu / 1e6) / np.maximum(cum_v, 1), np.nan)
    n = len(pdf)
    state.update((int(cum_pvu[-1]) if n else int(pvu), int(cum_v[-1]) if n else int(v)))
    yield pd.DataFrame(
        {
            "symbol_clean": np.repeat(key[0], n),
            "event_id": pdf["event_id"].to_numpy(np.int64),
            "timestamp_unix": pdf["timestamp_unix"].to_numpy(np.int64),
            "close": close,
            "volume": vol,
            "vwap": vwap,
            "cum_volume": cum_v,
        }
    )


def streaming_vwap_exact(stream: DataFrame) -> DataFrame:
    """Oracle-checkable running VWAP: input needs (symbol_clean, event_id,
    timestamp_unix, close, volume); output adds exact (vwap, cum_volume)."""
    return (
        stream.select(
            "symbol_clean", "event_id", "timestamp_unix", "close", "volume"
        )
        .groupBy("symbol_clean")
        .applyInPandasWithState(
            _vwap_exact_fn,
            VWAP_EXACT_OUTPUT_SCHEMA,
            VWAP_EXACT_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# --- streaming CUSUM (batch-calibrated drift monitor) -----------------------

CUSUM_OUTPUT_SCHEMA = (
    "user_id long, event_id long, timestamp_unix long, "
    "cusum_pos double, cusum_neg double, alarm_pos boolean, "
    "alarm_neg boolean"
)
CUSUM_STATE_SCHEMA = "sp long, sn long"


def _cusum_fn(key, pdfs: Iterator, state: GroupState) -> Iterator:
    """Two-sided CUSUM fold with micro-BIGINT state carried across
    micro-batches. Within a batch the clamped recurrence
    s_t = max(0, s_{t-1} + d_t) is evaluated VECTORIZED via the Lindley
    closed form with carry-in:

        s_t = max(0, s0 + c_t, c_t − min_{1≤j≤t} c_j)

    (c = prefix sum of the increments) — exactly the recurrence, proved
    by unrolling max(0, ·) one step; pinned against the naive per-row
    fold in tests. Reference parameters (mu6/k6/h6/sig6) arrive as
    per-row columns from the batch-calibrated static join, constant per
    key."""
    import numpy as np
    import pandas as pd

    (sp0, sn0) = state.get if state.exists else (0, 0)
    frames = [f for f in pdfs if len(f)]
    if not frames:
        state.update((int(sp0), int(sn0)))
        return
    pdf = (frames[0] if len(frames) == 1 else pd.concat(frames)).sort_values(
        ["timestamp_unix", "event_id"]
    )
    v6 = pdf["v6"].to_numpy(np.int64)
    mu6 = pdf["mu6"].to_numpy(np.int64)
    k6 = pdf["k6"].to_numpy(np.int64)
    h6 = pdf["h6"].to_numpy(np.int64)
    sig6 = pdf["sig6"].to_numpy(np.int64)

    def clamped(d: "np.ndarray", s0: int) -> "np.ndarray":
        c = np.cumsum(d)
        return np.maximum(
            np.maximum(0, s0 + c), c - np.minimum.accumulate(c)
        )

    sp = clamped(v6 - mu6 - k6, sp0)
    sn = clamped(mu6 - v6 - k6, sn0)
    state.update((int(sp[-1]), int(sn[-1])))
    yield pd.DataFrame(
        {
            "user_id": np.repeat(np.int64(key[0]), len(pdf)),
            "event_id": pdf["event_id"].to_numpy(np.int64),
            "timestamp_unix": pdf["timestamp_unix"].to_numpy(np.int64),
            "cusum_pos": sp / 1e6,
            "cusum_neg": sn / 1e6,
            "alarm_pos": (sig6 > 0) & (sp > h6),
            "alarm_neg": (sig6 > 0) & (sn > h6),
        }
    )


def streaming_cusum(stream: DataFrame) -> DataFrame:
    """Streaming two-sided CUSUM drift monitor: input needs (user_id,
    event_id, timestamp_unix, v6, mu6, k6, h6, sig6) — the reference
    parameters come from a batch calibration joined onto the stream
    (the production monitoring shape: calibrate offline, alarm online).
    State is one (sp, sn) BIGINT pair per key."""
    return (
        stream.select(
            "user_id", "event_id", "timestamp_unix",
            "v6", "mu6", "k6", "h6", "sig6",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _cusum_fn,
            CUSUM_OUTPUT_SCHEMA,
            CUSUM_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )

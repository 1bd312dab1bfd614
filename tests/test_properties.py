"""Property-based tests (hypothesis) for semantics that must hold on any
input: dedup idempotence/direction, resample conservation, rollup bounds,
exact-agg partition invariance."""

from __future__ import annotations

from hypothesis import assume, given, settings, strategies as st

MAX_EXAMPLES = 12  # each example spins Spark jobs; keep the suite fast

candle_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # symbol idx
        st.integers(min_value=0, max_value=50),       # ts slot
        st.floats(min_value=0.01, max_value=1e4,
                  allow_nan=False, allow_infinity=False),
        st.integers(min_value=0, max_value=5),        # arrival seq
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(candle_lists)
def test_dedup_properties(rows):
    spark = _spark()
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup import (
        dedup_by_key,
    )

    df = spark.createDataFrame(
        [(f"S{s}", t, round(v, 2), q) for s, t, v, q in rows],
        "symbol string, t long, v double, seq long",
    )
    out = dedup_by_key(df, ["symbol", "t"], ["seq", "v"], keep="last")
    got = out.collect()
    # exactly one row per key, and idempotent
    keys = [(r["symbol"], r["t"]) for r in got]
    assert len(keys) == len(set(keys))
    assert len(keys) == df.select("symbol", "t").distinct().count()
    assert dedup_by_key(out, ["symbol", "t"], ["seq", "v"], keep="last").count() == len(keys)
    # last-wins picks the max (seq, v) per key
    expect = {}
    for s, t, v, q in rows:
        k = (f"S{s}", t)
        cand = (q, round(v, 2))
        if k not in expect or cand > expect[k]:
            expect[k] = cand
    assert {(r["symbol"], r["t"]): (r["seq"], r["v"]) for r in got} == expect


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(candle_lists)
def test_resample_conserves_count_and_extremes(rows):
    spark = _spark()
    from pyspark.sql import functions as F

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.resample import (
        resample_series,
    )

    df = spark.createDataFrame(
        [(f"S{s}", t * 60, round(v, 2), i) for i, (s, t, v, _) in enumerate(rows)],
        "symbol string, epoch long, v double, seq long",
    ).withColumn("ts", F.timestamp_seconds("epoch"))
    out = resample_series(df, 10, ["symbol"], "ts", "v", tiebreak="seq").collect()
    assert sum(r["num_records"] for r in out) == len(rows)
    assert max(r["high"] for r in out) == max(round(v, 2) for _, _, v, _ in rows)
    assert min(r["low"] for r in out) == min(round(v, 2) for _, _, v, _ in rows)
    for r in out:  # OHLC invariants per bucket
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]


doc_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c\t\n"), min_size=0, max_size=400
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(doc_texts, st.integers(min_value=2, max_value=8),
       st.integers(min_value=0, max_value=6))
def test_chunking_covers_every_token_in_order(texts, chunk_tokens, overlap):
    """Every document's token stream must be exactly reconstructible from
    its chunks (drop each chunk's leading `overlap` tokens after the
    first); empty docs chunk to nothing."""
    if overlap >= chunk_tokens:
        overlap = chunk_tokens - 1
    spark = _spark()
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = chunk_documents(
        docs, chunk_tokens=chunk_tokens, overlap=overlap
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    step = chunk_tokens - overlap
    for doc_id, text in enumerate(texts):
        toks = text.lower().strip().split()
        if not toks:
            assert doc_id not in by_doc
            continue
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        for i, c in enumerate(chunks):
            ctoks = c["chunk_text"].split()
            assert len(ctoks) == c["n_chunk_tokens"] <= chunk_tokens
            assert ctoks == toks[i * step : i * step + chunk_tokens]
        # the last chunk must reach the end of the token stream
        # (together with the per-chunk slice check => full coverage)
        last = chunks[-1]
        assert (len(chunks) - 1) * step + last["n_chunk_tokens"] == len(toks)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
                max_size=80, unique=True))
def test_stratified_sample_subset_and_idempotent(ids):
    """Sampling returns a subset, is idempotent (sampling the sample at
    the same rate changes nothing), and monotone in the rate."""
    spark = _spark()
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.createDataFrame([(i, "x") for i in ids], "rid long, cls string")
    lo = stratified_sample(df, "cls", {"x": 3000}, "rid")
    hi = stratified_sample(df, "cls", {"x": 8000}, "rid")
    lo_ids = {r["rid"] for r in lo.collect()}
    hi_ids = {r["rid"] for r in hi.collect()}
    assert lo_ids <= hi_ids <= set(ids)
    again = {r["rid"] for r in stratified_sample(lo, "cls", {"x": 3000}, "rid").collect()}
    assert again == lo_ids


def _spark():
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark

    return get_spark("tests", shuffle_partitions=8)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(candle_lists)
def test_max_drawdown_properties(rows):
    spark = _spark()
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        max_drawdown,
        max_drawdown_chunked,
    )

    df = spark.createDataFrame(
        [(f"S{s}", t, round(v, 2), i) for i, (s, t, v, _q) in enumerate(rows)],
        "symbol string, t long, v double, rid long",
    )
    got = max_drawdown(df, ["symbol"], "t", "rid", "v", skew_safe=False).collect()
    # drawdown is never positive and the trough never beats the running max
    for r in got:
        assert r.max_drawdown <= 0.0
        assert r.n_obs >= 1
    # chunked decomposition is bit-identical on any input
    chunked = max_drawdown_chunked(
        df, ["symbol"], "t", "rid", "v", chunk_width=7
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, chunked))


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(candle_lists)
def test_scd2_reconstructs_changelog_states(rows):
    spark = _spark()
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.scd import (
        scd2_history,
    )

    # attr: a small set of states derived from the value
    df = spark.createDataFrame(
        [
            (f"S{s}", t, i, f"state{int(v) % 3}")
            for i, (s, t, v, _q) in enumerate(rows)
        ],
        "symbol string, t long, rid long, attr string",
    )
    hist = scd2_history(df, ["symbol"], "t", "rid", ["attr"]).collect()
    src = df.collect()
    # every changelog event's attr equals the version covering its ts
    # (events ordered (t, rid); the covering version is the newest with
    # valid_from <= t, tie-broken by version number)
    by_key: dict[str, list] = {}
    for h in hist:
        by_key.setdefault(h.symbol, []).append(h)
    for row in src:
        versions = sorted(by_key[row.symbol], key=lambda h: h.version)
        covering = [
            h for h in versions
            if h.valid_from <= row.t
            and (h.valid_to is None or row.t < h.valid_to or (
                # boundary events: same-ts changes (ordered by rid) close
                # the old version AT the event's ts, so an event at a
                # change instant may belong to the version it closes
                row.t == h.valid_to))
        ]
        assert any(h.attr == row.attr for h in covering)
    # exactly one current version per key, intervals tile
    for versions in by_key.values():
        versions.sort(key=lambda h: h.version)
        assert sum(1 for h in versions if h.is_current) == 1
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to == b.valid_from


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(candle_lists)
def test_indicator_properties(rows):
    """Stochastic %K bounds + OBV telescoping + VWAP bounds on arbitrary
    bar series."""
    spark = _spark()
    from pyspark.sql import functions as F
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        anchored_vwap,
        on_balance_volume,
        stochastic_oscillator,
    )

    bars = spark.createDataFrame(
        [
            (f"S{s}", t, round(v, 2), round(v * 1.1, 2), round(v * 0.9, 2), q + 1)
            for s, t, v, q in rows
        ],
        "symbol string, t long, close double, high double, low double, volume long",
    ).dropDuplicates(["symbol", "t"])

    st_out = stochastic_oscillator(bars, ["symbol"], "t", n=5, d=3).collect()
    for r in st_out:
        if r["pct_k"] is not None:
            assert -1e-9 <= r["pct_k"] <= 100 + 1e-9
        if r["pct_d"] is not None:
            assert -1e-9 <= r["pct_d"] <= 100 + 1e-9

    obv_out = on_balance_volume(bars, ["symbol"], "t").collect()
    # |OBV| can never exceed the total traded volume per key
    tot = {}
    for r in obv_out:
        tot.setdefault(r["symbol"], 0)
        tot[r["symbol"]] += r["volume"]
    last = {}
    for r in sorted(obv_out, key=lambda r: (r["symbol"], r["t"])):
        assert abs(r["obv"]) <= tot[r["symbol"]]
        last[r["symbol"]] = r["obv"]

    vw = anchored_vwap(
        bars.withColumn("anchor", F.lit(1)), ["symbol"], "anchor", "t", "t",
        price_col="close", volume_col="volume",
    ).collect()
    # VWAP always lies within [min close, max close] seen so far per key
    seen: dict = {}
    for r in sorted(vw, key=lambda r: (r["symbol"], r["t"])):
        lo, hi = seen.get(r["symbol"], (r["close"], r["close"]))
        lo, hi = min(lo, r["close"]), max(hi, r["close"])
        seen[r["symbol"]] = (lo, hi)
        assert lo - 1e-6 <= r["vwap"] <= hi + 1e-6


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from([("a", "b"), ("a", "a"), ("b", "c"), ("c", "c")]),
)
def test_apply_bpe_merge_matches_python_greedy_fold(words, rule):
    """The island-parity window algebra must equal the per-word greedy
    left-to-right scan for ANY symbol sequence and any rule, including
    the a==b overlap chains."""
    spark = _spark()
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        _apply_bpe_merge,
    )

    a, b = rule

    def greedy(syms):
        # reference semantics: left-to-right, non-overlapping, merge-once
        res = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                res.append(a + b)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        return res

    rows = [(f"w{i}", 1, list(w)) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "w string, cnt long, syms array<string>")
    got = {
        r["w"]: list(r["syms"]) for r in _apply_bpe_merge(df, a, b).collect()
    }
    want = {f"w{i}": greedy(list(w)) for i, w in enumerate(words)}
    assert got == want


bar_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # symbol idx
        st.floats(min_value=0.01, max_value=1e3,    # close seed
                  allow_nan=False, allow_infinity=False),
        st.floats(min_value=0.0, max_value=5.0,     # high offset
                  allow_nan=False, allow_infinity=False),
        st.floats(min_value=0.0, max_value=5.0,     # low offset
                  allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=40,
)


def _psar_replay(bars, af_step=2, af_max=20):
    """Independent pure-python PSAR fold (ints only, no numpy) — the
    operator's pandas/numpy fold must agree exactly."""
    out = [None] * len(bars)
    if len(bars) < 2:
        return out
    h = [int(round(b[0] * 1e6)) for b in bars]  # pre-quantized inputs
    lo = [int(round(b[1] * 1e6)) for b in bars]
    c = [int(round(b[2] * 1e6)) for b in bars]
    t = 1 if c[1] >= c[0] else -1
    if t == 1:
        sar, ep = min(lo[0], lo[1]), max(h[0], h[1])
    else:
        sar, ep = max(h[0], h[1]), min(lo[0], lo[1])
    af = af_step
    out[1] = (sar, ep, af, t)
    for i in range(2, len(bars)):
        if t == 1:
            cl = min(sar + (af * (ep - sar)) // 100, lo[i - 1], lo[i - 2])
            if lo[i] < cl:
                t, sar, ep, af = -1, ep, lo[i], af_step
            else:
                if h[i] > ep:
                    af = min(af + af_step, af_max)
                    ep = h[i]
                sar = cl
        else:
            cl = max(sar - (af * (sar - ep)) // 100, h[i - 1], h[i - 2])
            if h[i] > cl:
                t, sar, ep, af = 1, ep, h[i], af_step
            else:
                if lo[i] < ep:
                    af = min(af + af_step, af_max)
                    ep = lo[i]
                sar = cl
        out[i] = (sar, ep, af, t)
    return out


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(bar_lists)
def test_parabolic_sar_matches_pure_python_replay(rows):
    spark = _spark()
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        parabolic_sar,
    )

    # build clean h >= c >= l bars, pre-quantized to 1e-6 so the replay
    # and the fold quantize identically
    data = []
    series: dict[int, list] = {}
    for i, (sym, close, dh, dl) in enumerate(rows):
        cq = round(close, 6)
        hq = round(cq + dh, 6)
        lq = round(max(cq - dl, 0.0), 6)
        data.append((f"s{sym}", i, hq, lq, cq))
        series.setdefault(sym, []).append((hq, lq, cq))
    df = spark.createDataFrame(
        data, "sym string, t long, high double, low double, close double"
    )
    got = {
        (r.sym, r.t): r
        for r in parabolic_sar(df, ["sym"], "t").collect()
    }
    idx: dict[int, int] = {}
    for i, (sym, *_rest) in enumerate(rows):
        expect = _psar_replay(series[sym])
        j = idx.get(sym, 0)
        idx[sym] = j + 1
        r = got[(f"s{sym}", i)]
        if expect[j] is None:
            assert r.psar is None
        else:
            sar, ep, af, t = expect[j]
            assert abs(r.psar - sar / 1e6) < 1e-9
            assert abs(r.ep - ep / 1e6) < 1e-9
            assert r.af == af and r.trend == t


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(bar_lists)
def test_kama_matches_pure_python_replay(rows):
    spark = _spark()
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        kama,
    )

    n, fast, slow = 5, 2, 30
    cf6, cs6 = 2_000_000 // (fast + 1), 2_000_000 // (slow + 1)
    data = []
    series: dict[int, list[int]] = {}
    for i, (sym, close, _dh, _dl) in enumerate(rows):
        cq = round(close, 6)
        data.append((f"s{sym}", i, cq))
        series.setdefault(sym, []).append(int(round(cq * 1e6)))
    df = spark.createDataFrame(data, "sym string, t long, close double")
    got = {(r.sym, r.t): r for r in kama(df, ["sym"], "t", n=n).collect()}

    def replay(p):
        out = [None] * len(p)
        if len(p) < n:
            return out
        e = p[n - 1]
        out[n - 1] = (None, e)
        for i in range(n, len(p)):
            num = abs(p[i] - p[i - n])
            den = sum(abs(p[j] - p[j - 1]) for j in range(i - n + 1, i + 1))
            er6 = 0 if den == 0 else (num * 1_000_000) // den
            sc6 = (er6 * (cf6 - cs6)) // 1_000_000 + cs6
            sc2 = (sc6 * sc6) // 1_000_000
            d = p[i] - e
            e += (sc2 * d) // 1_000_000 if d >= 0 else -((sc2 * (-d)) // 1_000_000)
            out[i] = (er6, e)
        return out

    idx: dict[int, int] = {}
    for i, (sym, *_rest) in enumerate(rows):
        expect = replay(series[sym])
        j = idx.get(sym, 0)
        idx[sym] = j + 1
        r = got[(f"s{sym}", i)]
        if expect[j] is None:
            assert r.kama is None
        else:
            er6, e = expect[j]
            assert abs(r.kama - e / 1e6) < 1e-9
            if er6 is None:
                assert r.er is None
            else:
                assert abs(r.er - er6 / 1e6) < 1e-9


vol_bar_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # symbol idx
        st.floats(min_value=0.01, max_value=1e3,
                  allow_nan=False, allow_infinity=False),
        st.integers(min_value=1, max_value=50),     # volume
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(vol_bar_lists)
def test_volume_index_matches_pure_python_replay(rows):
    import math

    spark = _spark()
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        volume_index,
    )

    data = []
    series: dict[int, list] = {}
    for i, (sym, close, vol) in enumerate(rows):
        cq = round(close, 6)
        data.append((f"s{sym}", i, cq, cq, cq, vol))
        series.setdefault(sym, []).append((cq, vol))
    df = spark.createDataFrame(
        data,
        "sym string, t long, high double, low double, close double,"
        " volume long",
    )

    # Mirrors the fold's saturation contract: integral-double state,
    # correctly-rounded multiply/floor/add, then a ±(2^53−1) clamp —
    # the fold is TOTAL, so the generator's 10^5x ratio jumps are fair
    # game (they used to be discarded via assume() when the fold raised
    # on leaving the 2^53 exactness domain).
    cap = float(2**53 - 1)

    def replay(bars):
        out = []
        nvi = pvi = float(1_000_000_000)
        prev = None
        for c, v in bars:
            cu = math.floor(c * 1e6 + 0.5)
            if prev is not None:
                pcu, pvol = prev
                if pcu > 0 and v != pvol:
                    ret = float(cu - pcu) / float(pcu)
                    if v < pvol:
                        nvi = min(max(nvi + math.floor(nvi * ret + 0.5),
                                      -cap), cap)
                    else:
                        pvi = min(max(pvi + math.floor(pvi * ret + 0.5),
                                      -cap), cap)
            prev = (cu, v)
            out.append((int(nvi), int(pvi)))
        return out

    got = {(r.sym, r.t): r for r in volume_index(df, ["sym"], "t").collect()}

    idx: dict[int, int] = {}
    for i, (sym, *_rest) in enumerate(rows):
        expect = replay(series[sym])
        j = idx.get(sym, 0)
        idx[sym] = j + 1
        r = got[(f"s{sym}", i)]
        nvi, pvi = expect[j]
        assert r.nvi == nvi / 1e6  # bit-identical, not approx
        assert r.pvi == pvi / 1e6


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(vol_bar_lists)
def test_ema_fold_matches_pure_python_replay(rows):
    import math

    spark = _spark()
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
        ema_fold,
    )

    n = 13
    data = []
    series: dict[int, list] = {}
    for i, (sym, close, _vol) in enumerate(rows):
        cq = round(close, 6)
        data.append((f"s{sym}", i, cq))
        series.setdefault(sym, []).append(cq)
    df = spark.createDataFrame(data, "sym string, t long, close double")
    got = {
        (r.sym, r.t): r
        for r in ema_fold(df, ["sym"], "t", "close", n=n).collect()
    }

    def replay(closes):
        out = []
        e = 0
        for i, c in enumerate(closes):
            v = math.floor(c * 1e6 + 0.5)
            e = v if i == 0 else e + math.floor(2.0 * (v - e) / (n + 1.0))
            out.append(e)
        return out

    idx: dict[int, int] = {}
    for i, (sym, *_rest) in enumerate(rows):
        expect = replay(series[sym])
        j = idx.get(sym, 0)
        idx[sym] = j + 1
        assert got[(f"s{sym}", i)].ema_state == expect[j]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**12), max_value=10**12), min_size=0, max_size=40
    ),
    st.one_of(
        st.integers(min_value=1, max_value=6).flatmap(
            lambda d: st.integers(min_value=1, max_value=60).map(lambda n: [n] * d)
        ),
        st.tuples(
            st.integers(min_value=1, max_value=60),
            st.integers(min_value=1, max_value=60),
        ).map(list),
    ),
)
def test_ema_chain_matches_nested_loop_replay(values, ns):
    """ema_chain (the shared integer-EMA kernel) equals the literal
    per-bar nested loop the chained indicators used to carry: all stages
    seed at the first value, stage k folds stage k-1's updated state."""
    import math

    import numpy as np

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.extension import (
        ema_chain,
    )

    got = ema_chain(np.asarray(values, dtype=np.int64), ns)
    expect = [[] for _ in ns]
    e = [0] * len(ns)
    for i, x in enumerate(values):
        if i == 0:
            e = [x] * len(ns)
        else:
            prev = x
            for k, n in enumerate(ns):
                e[k] += math.floor(2.0 * (prev - e[k]) / (n + 1.0))
                prev = e[k]
        for k in range(len(ns)):
            expect[k].append(e[k])
    assert len(got) == len(ns)
    for g, w in zip(got, expect):
        assert g.dtype == np.int64
        assert g.tolist() == w

"""Robustness: corrupt bronze files must degrade, not fail (PERMISSIVE +
_corrupt_record), and the ETL must be resilient to partial envelopes."""

from __future__ import annotations

from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
    bronze_to_silver,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.mock import (
    write_mock_envelope_files,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.raw_json import (
    read_raw_envelopes,
)


def test_corrupt_file_does_not_kill_the_batch(spark, tmp_path):
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    write_mock_envelope_files(spark, str(raw_dir), ["NSE:RELIANCE-EQ"], days=1, fetches=1)
    (raw_dir / "raw_file_garbage.json").write_text("{this is not json!!!")
    # Spark refuses to query only the corrupt-record column of an
    # un-materialized JSON scan; cache first (the documented pattern)
    raw = read_raw_envelopes(spark, str(raw_dir)).cache()
    corrupt = raw.filter(F.col("_corrupt_record").isNotNull())
    assert corrupt.count() == 1  # visible, quarantined
    good = raw.filter(F.col("_corrupt_record").isNull())
    assert bronze_to_silver(good, dedup="last").count() == 75


def test_partial_envelope_missing_fields(spark, tmp_path):
    """Envelopes with missing optional struct fields (no metadata, no
    fetch timestamp) still normalize; candles with too few elements
    produce nulls that the DQ filter drops."""
    import json

    raw_dir = tmp_path / "raw2"
    raw_dir.mkdir()
    env = {
        "data": {
            "NSE:X-EQ": {
                "symbol": "NSE:X-EQ",
                "candles": [
                    [1704099300.0, 10.0, 11.0, 9.0, 10.5, 100.0],  # good
                    [1704099600.0, 10.0],  # truncated -> nulls -> dropped
                ],
            }
        }
    }
    (raw_dir / "raw_file_1.json").write_text(json.dumps(env))
    raw = read_raw_envelopes(spark, str(raw_dir))
    out = bronze_to_silver(raw, dedup=None).collect()
    assert len(out) == 1
    assert out[0]["close"] == 10.5
    assert out[0]["resolution"] is None  # missing optional field flows as null


class TestNewOperatorEdges:
    def test_candle_patterns_flat_bar(self, spark):
        """Zero-range bar: no doji (range 0), no hammer/star (body 0)."""
        from pyspark.sql import Row
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.finance import (
            candle_patterns,
        )

        df = spark.createDataFrame(
            [Row(sym="A", t=1, open=5.0, high=5.0, low=5.0, close=5.0)]
        )
        r = candle_patterns(df, ["sym"], "t").collect()[0]
        assert not any(
            [r.is_doji, r.is_hammer, r.is_shooting_star,
             r.is_bullish_engulfing, r.is_bearish_engulfing]
        )

    def test_sq8_zero_vector(self, spark):
        from pyspark.sql import Row
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
            sq8_quantize,
        )

        df = spark.createDataFrame(
            [Row(vec_id=1, embedding=[0.0, 0.0, 0.0])]
        )
        r = sq8_quantize(df).collect()[0]
        assert r.q == [0, 0, 0] and r.qn == 0.0

    def test_zorder_negative_and_constant_columns(self, spark, tmp_path):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.layout import (
            write_zordered,
        )

        df = spark.range(100).selectExpr(
            "CAST(id - 50 AS DOUBLE) x", "CAST(7 AS DOUBLE) y", "id p"
        )
        path = str(tmp_path / "zneg")
        write_zordered(df, path, ["x", "y"], n_files=4)  # constant y: span=0
        back = spark.read.parquet(path)
        assert back.count() == 100

    def test_duplicated_spans_short_and_empty_docs(self, spark):
        from pyspark.sql import Row
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
            duplicated_spans,
        )

        df = spark.createDataFrame(
            [Row(doc_id=1, text=""), Row(doc_id=2, text="a b c"),
             Row(doc_id=3, text="a b c")]
        )
        # all docs under width=8 tokens: no rows, no crash
        assert duplicated_spans(df, width=8).count() == 0

    def test_volume_profile_single_price_user(self, spark):
        """span=0 (all closes equal): everything lands in bucket 0."""
        import __spark_entry__ as E
        # exercised via the registered query on a constant-price frame is
        # covered by the oracle; here pin the div-guard directly
        from pyspark.sql import Row, functions as F

        df = spark.createDataFrame(
            [Row(user_id=1, close=5.0, p_lo=5.0, p_hi=5.0, volume=3)]
        )
        micro = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")
        df = df.withColumn("_span", micro(F.col("p_hi") - F.col("p_lo")))
        assert df.collect()[0]["_span"] == 0


def test_schema_cache_invalidates_on_source_rewrite(spark, tmp_path):
    """load_table's metadata cache is keyed by the source's (size,
    mtime): a table rewritten with a DIFFERENT schema mid-process must
    re-infer instead of serving the stale schema (round-12 VERDICT
    hygiene item)."""
    import time

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources import (
        tables,
    )

    d = str(tmp_path)
    spark.range(3).selectExpr("id AS region_a").write.mode("overwrite").parquet(
        f"{d}/region.parquet"
    )
    s1 = tables.load_table(spark, d, "region").schema.simpleString()
    time.sleep(0.01)
    spark.range(3).selectExpr("id AS region_b", "id * 2 AS extra").write.mode(
        "overwrite"
    ).parquet(f"{d}/region.parquet")
    s2 = tables.load_table(spark, d, "region").schema.simpleString()
    assert s1 == "struct<region_a:bigint>"
    assert s2 == "struct<region_b:bigint,extra:bigint>"


def test_schema_cache_sees_part_file_rewritten_in_place(spark, tmp_path):
    """A directory source's own inode keeps its size and mtime when a part
    file inside it is rewritten in place; load_table must still re-infer
    the new schema instead of serving the cached one."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources import (
        tables,
    )

    src = tmp_path / "region.parquet"
    src.mkdir()
    part = src / "part-00000.parquet"
    pq.write_table(pa.table({"region_a": [1, 2, 3]}), part)
    s1 = tables.load_table(spark, str(tmp_path), "region").schema.simpleString()
    dir_st = os.stat(src)
    pq.write_table(pa.table({"region_b": [1, 2, 3], "extra": [2, 4, 6]}), part)
    # only the part file changed: pin the directory's own stamp
    os.utime(src, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    assert os.stat(src).st_size == dir_st.st_size
    s2 = tables.load_table(spark, str(tmp_path), "region").schema.simpleString()
    assert s1 == "struct<region_a:bigint>"
    assert s2 == "struct<region_b:bigint,extra:bigint>"


def test_verify_local_imports_its_own_checkout(tmp_path):
    """scripts/verify_local.py puts its OWN checkout first on sys.path, so
    a copy of the tree verifies the copy's code, not another checkout's."""
    import importlib.util
    import shutil
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    root = tmp_path.resolve()
    (root / "scripts").mkdir()
    script = root / "scripts" / "verify_local.py"
    shutil.copy(repo / "scripts" / "verify_local.py", script)
    spec = importlib.util.spec_from_file_location("verify_local_copy", script)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
        assert sys.path[0] == str(root)
    finally:
        sys.path[:] = saved
    assert mod.REPO == root


def test_verify_local_ledger_note():
    """A named verify_local run compares each result with its committed
    SWEEP_HASHES.json entry: equal, changed (a failure) or absent."""
    import importlib.util
    from pathlib import Path

    script = Path(__file__).resolve().parents[1] / "scripts" / "verify_local.py"
    spec = importlib.util.spec_from_file_location("verify_local_note", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    ledger = {"q": {"rows": 3, "spark_hash": "aaaa"}, "e": {"err": "spark: boom"}}
    assert mod._ledger_note("q", "aaaa", ledger) == ("ledger =", True)
    assert mod._ledger_note("q", "bbbb", ledger) == ("ledger bbbb!=aaaa", False)
    assert mod._ledger_note("new", "bbbb", ledger) == ("ledger none", True)
    assert mod._ledger_note("e", "bbbb", ledger) == ("ledger none", True)


_CWD_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark


def fold(pdf):
    # the worker imports the package, as every package-level fold does
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.functions import exact

    return pdf.assign(n=len(pdf))


spark = get_spark(
    "cwd-probe", master="local[1]", shuffle_partitions=1,
    extra={{"spark.driver.memory": "1g"}},
)
df = spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 3.0)], "k long, v double")
rows = df.groupBy("k").applyInPandas(fold, "k long, v double, n long").collect()
print("RESULT", sorted((r.k, r.n) for r in rows))
spark.stop()
"""


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A driver started from an unrelated cwd, with the repo on its
    sys.path only, must still run a pandas UDF whose worker imports the
    package: get_spark puts the package's parent on the workers'
    PYTHONPATH."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _CWD_PROBE.format(repo=str(repo))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT [(1, 2), (1, 2), (2, 1)]" in proc.stdout, proc.stdout


def test_gemm_ann_paths_drop_null_vectors(spark):
    """The Arrow-GEMM forms of hyperplane_buckets and sq8_knn must treat
    NULL embedding rows exactly like their expression-form predecessors:
    no bucket rows (posexplode of NULL was empty) and no shortlist
    candidates (NULL quantization failed the qn > 0 gate) — never a
    task-killing np.stack error."""
    from pyspark.sql import functions as F

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        hyperplane_buckets,
        sq8_knn,
    )

    rows = [
        (1, [float(i) for i in range(64)]),
        (2, None),
        (3, [float(64 - i) for i in range(64)]),
        (4, [float(i % 7) for i in range(64)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b = hyperplane_buckets(df, n_planes=4, dim=64, n_tables=2).collect()
    assert sorted({r["vec_id"] for r in b}) == [1, 3, 4]
    assert len(b) == 6  # 3 vectors x 2 tables
    knn = sq8_knn(df.filter(F.col("vec_id") == 1), df, k=2, rerank=3).collect()
    assert sorted((r["query_id"], r["neighbor_id"]) for r in knn) == [(1, 3), (1, 4)]


def test_sq8_knn_caps_the_query_collect(spark, monkeypatch):
    """sq8_knn collects the query codes to the driver; past
    BRUTE_KNN_MAX_QUERIES it must raise a clear ValueError instead of
    shipping an unbounded matrix."""
    import pytest

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators import (
        similarity,
    )

    rows = [(i, [float((i * 7 + j) % 11) + 1.0 for j in range(8)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "BRUTE_KNN_MAX_QUERIES", 3)
    with pytest.raises(ValueError, match="max_queries=3"):
        similarity.sq8_knn(df.filter("vec_id < 4"), df, k=2, rerank=3)
    # at the cap the operator still runs
    assert similarity.sq8_knn(df.filter("vec_id < 3"), df, k=2, rerank=3).count() == 6

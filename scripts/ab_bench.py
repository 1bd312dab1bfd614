"""A/B drift check (VERDICT r5 ask #3): time the queries that moved
>20% between BENCH_r04 and BENCH_r05 on the round-4 snapshot vs HEAD,
back-to-back on the same machine in one sitting, interleaved A/B so
slow machine drift cancels. Each variant runs in its own subprocess
with bench.py's protocol (sf0.1, warm-up pass at sf0.001, min over
passes, cache-clear + gc between queries).

Usage: python scripts/ab_bench.py /tmp/r4wt [query ...]
Prints one JSON line per (variant, round) and a final summary table.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

#: the checkout this script belongs to (the B side of the A/B)
REPO = Path(__file__).resolve().parents[1]

SUSPECTS = [
    "d_bpe_learn",
    "d_bpe_token_counts",
    "emb_semdedup",
    "x_heikin_ashi",
    "x_supertrend",
    "etl_bronze_silver_500sym",
]

RUNNER = r"""
import json, os, sys, time, gc
root = sys.argv[1]
names = sys.argv[2].split(",")
sys.path.insert(0, root)
os.chdir(root)
import __spark_entry__ as entry_mod
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark

spark = get_spark("ab-bench")
qs = entry_mod.queries()

_etl_input = None
def etl_prepare():
    # bench.py's ETL metric input: 500-symbol mock day, materialized and
    # cached OUTSIDE the timed region (cheap no-op when already cached).
    global _etl_input
    from pyspark.sql import functions as F
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.mock import (
        candles_to_envelopes, mock_candles,
    )
    if _etl_input is None:
        symbols = [f"NSE:SYM{i:03d}-EQ" for i in range(500)]
        flat = mock_candles(spark, symbols, days=1, duplicate_fraction=0.25)
        env = candles_to_envelopes(flat).withColumn(
            "_file_seq", F.col("fetch_seq").cast("string"))
        _etl_input = env.groupBy("_file_seq").agg(
            F.map_from_entries(F.collect_list(F.struct(
                "symbol",
                F.struct(F.col("symbol"), F.lit("5").alias("resolution"),
                         F.col("candles"), F.lit("t").alias("timestamp"),
                         F.create_map(F.lit("k"), F.lit("v")).alias("metadata")),
            ))).alias("data"))
    _etl_input.cache().count()

def run(name, sf_dir):
    if name == "etl_bronze_silver_500sym":
        import tempfile
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
            bronze_to_silver, write_silver,
        )
        with tempfile.TemporaryDirectory() as td:
            write_silver(bronze_to_silver(_etl_input, dedup="last"), td + "/silver")
    else:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

def release():
    spark.catalog.clearCache(); gc.collect()

out = {}
for name in names:
    is_etl = name == "etl_bronze_silver_500sym"
    try:
        if not is_etl:
            run(name, "/root/testdata/sf0.001")  # warm-up
            release()
        best = None
        for _ in range(2):
            if is_etl:
                etl_prepare()  # (re)materialize input OUTSIDE timed region
            t0 = time.perf_counter()
            run(name, "/root/testdata/sf0.1")
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            if not is_etl:
                release()
        if is_etl:
            _etl_input.unpersist(); release()
        out[name] = round(best, 3)
    except Exception as e:  # noqa: BLE001
        out[name] = f"ERR {e}"
print("ABRESULT " + json.dumps(out))
"""


def run_variant(root: str, names: list[str]) -> dict:
    p = subprocess.run(
        [sys.executable, "-c", RUNNER, root, ",".join(names)],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    print(p.stdout[-3000:])
    print(p.stderr[-3000:])
    raise RuntimeError(f"no result from {root}")


def main() -> None:
    r4_root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/r4wt"
    names = sys.argv[2:] or SUSPECTS
    rounds = []
    for i in range(2):  # interleave: A B A B
        a = run_variant(r4_root, names)
        print(f"pass{i} r4  : {json.dumps(a)}", flush=True)
        b = run_variant(str(REPO), names)
        print(f"pass{i} head: {json.dumps(b)}", flush=True)
        rounds.append((a, b))
    print(f"\n{'query':28s} {'r4-best':>8s} {'head-best':>9s} {'ratio':>6s}")
    for n in names:
        av = min(r[0].get(n, 9e9) for r in rounds if isinstance(r[0].get(n), float))
        bv = min(r[1].get(n, 9e9) for r in rounds if isinstance(r[1].get(n), float))
        print(f"{n:28s} {av:8.2f} {bv:9.2f} {bv / av:6.2f}")


if __name__ == "__main__":
    main()

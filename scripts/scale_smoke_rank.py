"""Scale smoke for operators/rank.distributed_row_number.

Ranks a synthetic (key, id) table a few times back to back in one
session. The rank holds no blocks between queries: Spark's sequence
operator caches its sorted input only while the query runs and
unpersists it when the query ends, so every pass starts from the same
storage state as the first.

Usage: python scripts/scale_smoke_rank.py [n_rows] [n_keys] [passes]
(defaults 100_000_000 / 10_000_000 / 2). Each pass is checksum-verified
(sum of ranks == n(n+1)/2).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.rank import (
        distributed_row_number,
    )

    spark = get_spark("rank-scale-smoke")
    # a fixed 64-way range exchange, as a large input would get
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    sc = spark.sparkContext
    par = sc.defaultParallelism * 2

    # deterministic synthetic (key, id): key is NOT unique (10 rows/key
    # on the defaults) so the rank's tie-break column does real work
    base = (
        spark.range(0, n_rows, 1, par)
        .select(
            (F.col("id") % n_keys).alias("k"),
            F.col("id"),
        )
        .localCheckpoint()
    )
    base.count()  # materialize the input outside the timed region
    expect = n_rows * (n_rows + 1) // 2

    for p in range(passes):
        t0 = time.time()
        ranked = distributed_row_number(
            base, [F.col("k").asc(), F.col("id").asc()], rank_col="_rk"
        )
        got = ranked.agg(F.sum("_rk")).collect()[0][0]
        wall = time.time() - t0
        ok = got == expect
        print(
            f"pass {p}: {wall:.1f} s, checksum {'OK' if ok else 'MISMATCH'} "
            f"({n_rows} rows, {n_keys} keys, {n_rows / wall / 1e6:.2f} M rows/s)"
        )
        assert ok

    spark.stop()


if __name__ == "__main__":
    main()

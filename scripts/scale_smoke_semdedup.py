"""Skew smoke for semdedup's max_cell_size guard.

The adversarial case for SemDeDup is ONE k-means cell swallowing the
corpus — the within-cell stage then degrades to a full quadratic GEMM
(memory AND flops: 200k vectors -> a 320 GB pair matrix in one task).
This script forces exactly that with ``n_lists=1`` (every vector in one
cell) over md5-deterministic noise vectors (mutually dissimilar, so the
OUTPUT stays tiny — the cost measured is the quadratic scan itself):

1. guard OFF at 20k vectors  — the largest size the single-task GEMM
   can still stomach locally (3.2 GB matrix);
2. guard ON  at 20k vectors  — same input, hyperplane-split sub-cells;
3. guard ON  at 200k vectors — 10x the corpus, bounded sub-cells; the
   unguarded equivalent would need a 320 GB buffer and does not run.

Appends a section to SCALE_RESULTS.md.

Residual honesty note: the hyperplane split bounds WORK, not output —
a cell of near-identical vectors still lists quadratically many dup
pairs because the answer itself is quadratic (every pair IS a dup);
exact-hash pre-dedup is the right tool for that input, not ANN.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402


def synth_vecs(spark, n: int):
    return (
        spark.range(n)
        .repartition(32)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 63), d -> "
                "cast(conv(substr(md5(concat(cast(id as string), '_', "
                "cast(d as string))), 1, 6), 16, 10) as double) / 16777215.0"
                " - 0.5)"
            ).alias("embedding"),
        )
        .persist()
    )


def main() -> None:
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        semdedup,
    )

    spark = get_spark("semdedup-skew-smoke")
    results: list[tuple[str, float]] = []

    for n, variants in (
        (20_000, (("guard OFF (single 20k cell, one-task GEMM)", None),
                  ("guard ON  (max_cell_size=2000)", 2000))),
        (200_000, (("guard ON  (max_cell_size=2000; OFF would need a"
                    " 320 GB one-task buffer)", 2000),)),
    ):
        vecs = synth_vecs(spark, n)
        vecs.count()
        for label, mcs in variants:
            t0 = time.perf_counter()
            semdedup(
                vecs, threshold=0.9, n_lists=1, n_iter=1,
                scorer="blas", max_cell_size=mcs,
            ).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            results.append((f"{n:,} vectors, {label}", dt))
            print(f"{n:,} {label}: {dt:.2f}s", flush=True)
        vecs.unpersist()

    lines = [
        "\n## semdedup hot-cell guard (deliberate mega-cell: n_lists=1)\n",
        "\nmd5-deterministic 64-dim noise vectors, local["
        f"{spark.sparkContext.defaultParallelism}]."
        " Generated by `scripts/scale_smoke_semdedup.py`.\n",
        "\n| scenario | wall s |\n|---|---|\n",
    ]
    for label, dt in results:
        lines.append(f"| {label} | {dt:.2f} |\n")
    with open(REPO / "SCALE_RESULTS.md", "a") as f:
        f.writelines(lines)
    print("appended to SCALE_RESULTS.md", flush=True)


if __name__ == "__main__":
    main()

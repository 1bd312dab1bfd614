"""Scale smoke for the two retrieval/selection operators added in
round 5 — DSIR importance weights and BM25 top-k — on the same ~1M-doc
synthetic corpus as scale_smoke_corpus.py, uniform AND hot (template-
heavy) variants. The hot variant is the stress for both: exact-dup
groups concentrate identical bigrams into few hashed buckets (DSIR's
bucket-model skew) and pile document frequency onto template terms
(BM25's posting-list skew).

The target slice for DSIR is a synthetic 70/30 'en'/'de' label keyed on
a doc-id hash (the real pipeline passes any predicate).

Usage: python scripts/scale_smoke_dsir_bm25.py [n_docs]
Appends a section to SCALE_RESULTS.md.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from scale_smoke_corpus import synth_corpus  # noqa: E402


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        bm25_topk,
        dsir_weights,
    )

    spark = get_spark("scale-smoke-dsir-bm25")
    results: list[tuple[str, float, int, int]] = []
    queries = [(i, [f"w{i * 37 % 2000}", f"w{i * 101 % 2000}", f"w{i * 7 % 2000}"]) for i in range(1, 6)]

    for variant in ("uniform", "hot"):
        docs = (
            synth_corpus(spark, n_docs, hot=(variant == "hot"))
            .withColumn(
                "lang",
                F.when(
                    F.pmod(F.crc32(F.concat(F.lit("l"), F.col("doc_id"))), F.lit(10)) < 7,
                    F.lit("en"),
                ).otherwise(F.lit("de")),
            )
            .persist()
        )
        docs.count()
        for label, df in (
            (
                f"dsir_weights B=4096 ({variant})",
                dsir_weights(docs, F.col("lang") == "en"),
            ),
            (
                f"bm25_topk 5 queries k=10 ({variant})",
                bm25_topk(docs, queries, k=10),
            ),
        ):
            t0 = time.perf_counter()
            out_rows = df.count()
            dt = time.perf_counter() - t0
            results.append((label, dt, n_docs, out_rows))
            print(f"{label}: {dt:.2f}s, {out_rows:,} out rows", flush=True)
        docs.unpersist()
    spark.stop()

    with open(REPO / "SCALE_RESULTS.md", "a") as f:
        f.write(
            f"\n## DSIR / BM25 at {n_docs:,} docs (scale_smoke_dsir_bm25.py)\n\n"
            "| operator (variant) | wall s | docs/s | out rows |\n|---|---|---|---|\n"
        )
        for label, dt, n, out_rows in results:
            f.write(f"| {label} | {dt:.2f} | {n / dt:,.0f} | {out_rows:,} |\n")
    print("appended to SCALE_RESULTS.md")


if __name__ == "__main__":
    main()

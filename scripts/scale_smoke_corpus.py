"""Corpus-scale smoke: the training-data dedup/curation operators on a
~1M-document synthetic corpus, UNIFORM vs HOT-SET (template-heavy)
variants — evidence that the LSH guards (distinct-token-set collapse,
in-band size pruning, 15-bit pigeonhole chunks) hold when duplicate
density concentrates, not just at sf0.1.

Corpus shapes (all text generated JVM-side with native expressions —
xxhash64-seeded words over a 2,000-word vocab, ~30 tokens/doc):

- uniform: every doc draws its own token sequence (near-zero true dups;
  measures the pipeline's fixed cost at 1M docs).
- hot: 60% unique docs + 25% EXACT duplicates (~50-copy groups — the
  distinct-set-collapse stress: per-doc LSH would put every copy's
  identical signature in every band bucket, going quadratic per group)
  + 15% NEAR duplicates (~15-doc templates, one perturbed token each —
  the band-join stress where banding cannot discriminate inside a
  template). Group SIZES are held constant as n_docs grows (group
  COUNTS scale), so output stays proportional and the wall-clock
  measures the guards, not an artificially quadratic pair listing.

Usage: python scripts/scale_smoke_corpus.py [n_docs]
Appends a section to SCALE_RESULTS.md.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

VOCAB = 2000
N_TOKENS = 30


def _word(*seed_cols):
    return F.concat(F.lit("w"), F.pmod(F.xxhash64(*seed_cols), F.lit(VOCAB)))


def synth_corpus(spark, n_docs: int, hot: bool):
    """(doc_id, text) via native expressions only — no Python loop rows."""
    ids = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    pos = F.sequence(F.lit(0), F.lit(N_TOKENS - 1))
    # class by doc hash: 0-59 unique, 60-84 exact-dup, 85-99 near-dup (hot)
    cls = F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(100))
    exact_grp = F.col("doc_id") % max(1, n_docs * 25 // 100 // 50)
    tmpl_grp = F.col("doc_id") % max(1, n_docs * 15 // 100 // 15)
    if hot:
        tok = lambda i: (  # noqa: E731
            F.when(cls < 60, _word(F.col("doc_id"), i, F.lit("u")))
            .when(cls < 85, _word(exact_grp, i, F.lit("e")))
            .otherwise(
                # near-dup template: position 0 personalizes, rest shared
                F.when(i == 0, _word(F.col("doc_id"), i, F.lit("p"))).otherwise(
                    _word(tmpl_grp, i, F.lit("t"))
                )
            )
        )
    else:
        tok = lambda i: _word(F.col("doc_id"), i, F.lit("u"))  # noqa: E731
    text = F.concat_ws(" ", F.transform(pos, tok))
    return ids.select("doc_id", text.alias("text"))


def timed(label, df, results, n):
    t0 = time.perf_counter()
    out_rows = df.count()
    dt = time.perf_counter() - t0
    results.append((label, dt, n, out_rows))
    print(f"{label}: {dt:.2f}s, {out_rows:,} out rows", flush=True)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        decontaminate,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        minhash_near_dup_pairs,
        near_dup_components,
        simhash_near_dup_pairs,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.sampling import (
        hash_split,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        quality_score,
    )

    spark = get_spark("scale-smoke-corpus")
    results: list[tuple[str, float, int, int]] = []

    for variant in ("uniform", "hot"):
        docs = synth_corpus(spark, n_docs, hot=(variant == "hot")).persist()
        docs.count()
        timed(
            f"minhash_near_dup_pairs t=0.9 ({variant})",
            minhash_near_dup_pairs(docs, threshold=0.9),
            results,
            n_docs,
        )
        timed(
            f"simhash_near_dup_pairs ham<=3 ({variant})",
            simhash_near_dup_pairs(docs),
            results,
            n_docs,
        )
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
            unigram_xent,
        )
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (  # noqa: E501
            duplicated_spans,
        )

        timed(
            f"unigram_xent ({variant})",
            unigram_xent(docs),
            results,
            n_docs,
        )
        # hot variant is the stress: every gram of a 50-copy exact-dup
        # group is corpus-duplicated, so flagged positions cover whole
        # documents and the islands merge does maximal work
        timed(
            f"duplicated_spans w=8 ({variant})",
            duplicated_spans(docs),
            results,
            n_docs,
        )
        # BPE fit: the fact-sized cost is the ONE word-frequency reduce
        # over ~30M tokens; the 6 merge rounds run on the tiny vocab.
        # Construction is eager (per-round collect), so wrap the clock.
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (  # noqa: E501
            bpe_learn,
        )

        t0 = time.perf_counter()
        n_merges = bpe_learn(docs, rounds=6).count()
        dt = time.perf_counter() - t0
        results.append((f"bpe_learn 6 rounds ({variant})", dt, n_docs, n_merges))
        print(f"bpe_learn: {dt:.2f}s, {n_merges} merges", flush=True)
        if variant == "hot":
            # the full curation composition on the duplicate-heavy corpus:
            # pairs -> components -> decontam vs a 2% bench split ->
            # quality floor -> hash split
            corpus = docs.filter(F.col("doc_id") % 50 != 0)
            bench = docs.filter(F.col("doc_id") % 50 == 0)

            def curation():
                comp = near_dup_components(
                    minhash_near_dup_pairs(docs, threshold=0.95)
                )
                q = quality_score(corpus).select("doc_id", "quality_score")
                cont = decontaminate(corpus, bench, ngram=3).select(
                    "doc_id", "is_contaminated"
                )
                split = hash_split(corpus.select("doc_id"), "doc_id").select(
                    "doc_id", "split"
                )
                joined = (
                    corpus.select("doc_id")
                    .join(comp, "doc_id", "left")
                    .join(cont, "doc_id")
                    .join(q, "doc_id")
                    .join(split, "doc_id")
                )
                reason = (
                    F.when(
                        F.col("keeper_id").isNotNull()
                        & (F.col("keeper_id") != F.col("doc_id")),
                        F.lit("duplicate"),
                    )
                    .when(F.col("is_contaminated"), F.lit("contaminated"))
                    .when(F.col("quality_score") < 0.15, F.lit("low_quality"))
                )
                return joined.select(
                    "doc_id",
                    reason.alias("drop_reason"),
                    F.when(reason.isNull(), F.col("split")).alias("split"),
                )

            # construction is EAGER (the component search checkpoints
            # per round), so time the whole call, not just the count
            t0 = time.perf_counter()
            cur_rows = curation().count()
            dt = time.perf_counter() - t0
            results.append(
                (f"curation_pipeline end-to-end ({variant})", dt, n_docs, cur_rows)
            )
            print(
                f"curation_pipeline end-to-end: {dt:.2f}s, {cur_rows:,} out rows",
                flush=True,
            )

            # incremental lifecycle at scale: index the corpus once
            # (persist), then probe a 1% landing batch against it —
            # the per-batch cost a continuous pipeline actually pays
            from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (  # noqa: E501
                dedup_against_index,
                minhash_index,
            )

            idx = minhash_index(docs, threshold=0.9)
            t0 = time.perf_counter()
            idx = idx.localCheckpoint()  # stands in for the parquet write
            n_idx = idx.count()
            dt = time.perf_counter() - t0
            results.append((f"minhash_index build ({variant})", dt, n_docs, n_idx))
            print(f"minhash_index build: {dt:.2f}s, {n_idx:,} rows", flush=True)
            batch = synth_corpus(spark, n_docs // 100, hot=True).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
            )
            timed(
                f"dedup_against_index 1% batch ({variant})",
                dedup_against_index(batch, idx, threshold=0.9),
                results,
                n_docs // 100,
            )
            # media perceptual-hash near-dup: exact-dup payloads collide
            # at hamming 0, so the 50-copy groups exercise the pigeonhole
            # join's hot buckets; output stays pair-proportional
            from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (  # noqa: E501
                hamming_near_dup_pairs,
            )
            from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.multimodal import (  # noqa: E501
                media_phash,
                text_as_media,
            )

            ph = media_phash(
                text_as_media(docs), fake=True
            ).localCheckpoint()
            timed(
                f"media_phash + hamming pairs ({variant})",
                hamming_near_dup_pairs(
                    ph, id_col="media_id", hash_col="phash", bits=60
                ),
                results,
                n_docs,
            )
        docs.unpersist()

    lines = [
        f"\n## Corpus scale smoke ({n_docs:,} synthetic docs, "
        f"local[{spark.sparkContext.defaultParallelism}])\n",
        "\nGenerated by `scripts/scale_smoke_corpus.py` — uniform vs a\n"
        "hot-set corpus (25% exact dups in ~50-copy groups, 15% near\n"
        "dups in ~15-doc one-token-perturbed templates).\n",
        "\n| operator | wall s | docs/s | output pairs/rows |\n|---|---|---|---|\n",
    ]
    for label, dt, n, out_rows in results:
        lines.append(f"| {label} | {dt:.2f} | {n / dt:,.0f} | {out_rows:,} |\n")
    with open(REPO / "SCALE_RESULTS.md", "a") as f:
        f.write("".join(lines))
    print("appended to SCALE_RESULTS.md", flush=True)


if __name__ == "__main__":
    main()

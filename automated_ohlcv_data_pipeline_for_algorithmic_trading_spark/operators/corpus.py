"""Corpus-level text operators for training-data pipelines
(beyond-reference surface, SURVEY.md §7 phase 5): corpus n-gram counts,
TF-IDF term ranking, and benchmark decontamination.

Unlike the per-row operators in :mod:`text`, these aggregate or join
ACROSS documents — the shapes that decide whether a pipeline survives
100 TB:

- ``top_ngrams``: explode → hash-aggregate count → top-k. Partial
  (map-side) aggregation absorbs the explosion; the shuffle carries only
  per-partition (gram, count) partials, and the top-k is a
  TakeOrderedAndProject, never a full sort.
- ``tf_idf_topk``: two hash aggregations sharing the (doc_id, term)
  grouping, a term-keyed shuffle join for document frequencies, and a
  bounded per-document window. Ranking uses INTEGER keys (tf desc, df
  asc, term asc) so it is bit-stable across engines; the float tf-idf
  score is a reported metric, not the sort key (ln() can differ in the
  last ulp between engines — never rank on it).
- ``decontaminate``: the n-gram-overlap test every training corpus runs
  against its eval benchmarks. Benchmark shingles are DISTINCT'd then
  broadcast (a benchmark is tiny next to the corpus), so the corpus side
  is a map-side hash-join probe — no corpus shuffle at all; only the
  matched shingles (rare) shuffle for the per-document count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .quantiles import quantile_bucket
from .text import token_ngrams, tokens


def top_ngrams(df: DataFrame, text_col: str = "text", n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-wide most frequent token n-grams (count desc, gram asc).

    Output: (gram, n_occurrences) — exactly ``k`` rows (fewer only if the
    corpus has fewer distinct grams).
    """
    # single-file corpora arrive as one input split — spread the
    # per-row-heavy tokenize/ngram map work (at real scale the scan
    # already has many splits and this repartition is a cheap no-op
    # relative to the explode it feeds)
    par = df.sparkSession.sparkContext.defaultParallelism
    grams = df.select(text_col).repartition(par).select(
        F.explode(token_ngrams(tokens(text_col), n)).alias("gram")
    )
    counts = grams.groupBy("gram").agg(F.count("*").cast("long").alias("n_occurrences"))
    return counts.orderBy(F.desc("n_occurrences"), F.asc("gram")).limit(k)


def tf_idf_topk(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF.

    tf = term count within the document (token multiset), df = number of
    documents containing the term, idf = ln((N + 1) / (df + 1)),
    score = tf * idf. Returned score is rounded to 1e-6.

    The RANKING key is (tf desc, df asc, term asc) — all integers/strings,
    so the selected rows are identical on any engine and any partitioning;
    the float score is reported but deliberately not the sort key.

    Output: (id_col, term, tf, df, tf_idf), k rows per document.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.select(id_col, text_col)
        .repartition(par, id_col)  # spread single-split inputs
        .select(id_col, F.explode(tokens(text_col)).alias("term"))
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").cast("long").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = df.select(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tf_idf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df", "tf_idf")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    tokens_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing token
    ``ngram``-grams with an evaluation benchmark (the overlap test
    described in public LM reports, e.g. GPT-3 appendix C / PaLM §6 —
    shingle both sides, intersect, drop or flag the hits).

    Both sides shingle to DISTINCT n-grams; the benchmark's shingle set
    is collapsed (distinct across all benchmark docs) and broadcast.
    Corpus documents with zero overlap — the overwhelming majority —
    never shuffle: the broadcast-join probe filters them map-side, and
    only matched shingles reach the per-document count aggregation. The
    final left join fills 0 for clean documents.

    Output: (id_col, n_shared_grams, is_contaminated) — one row per
    CORPUS document.

    ``tokens_col``: name of a pre-tokenized array<string> column present
    on BOTH inputs — skips the tokenize and the internal repartitions so
    a composite pipeline can share one tokenize exchange (ReuseExchange).
    """
    par = corpus.sparkSession.sparkContext.defaultParallelism

    def shingles(d: DataFrame) -> DataFrame:
        if tokens_col is not None:
            return d.select(
                id_col,
                F.explode(
                    F.array_distinct(token_ngrams(F.col(tokens_col), ngram))
                ).alias("gram"),
            )
        # repartition: spread the shingle construction over cores when
        # the input is a single parquet split (local corpora); harmless
        # rebalance at real scale
        return d.select(id_col, text_col).repartition(par, id_col).select(
            id_col,
            F.explode(
                F.array_distinct(token_ngrams(tokens(text_col), ngram))
            ).alias("gram"),
        )

    bench_grams = F.broadcast(shingles(benchmark).select("gram").distinct())
    hits = (
        shingles(corpus)
        .join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_shared_grams"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared_grams", F.lit(0).cast("long")).alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Greedy sequence packing — the step that turns curated documents
    into fixed-budget training sequences: documents are taken in
    ``id_col`` order and appended to the current sequence until the next
    one would overflow ``budget`` tokens, which opens a new sequence.
    Documents longer than the budget are capped at ``budget`` (they
    become one full sequence on their own).

    Packing is a prefix scan with a NON-associative reset (the fill
    counter restarts at each overflow), so it cannot be a window
    expression; it runs as an Arrow-batched ``applyInPandas`` integer
    loop per shard (the sanctioned extension shape, same as the exact
    EMA fold). Sharding by ``id % n_shards`` is what makes it scale:
    each shard packs independently and in parallel — at 100 TB you raise
    ``n_shards`` to the cluster width; determinism is unaffected because
    the shard assignment and the in-shard order are both pure functions
    of the id. Token counts are computed ONCE, Spark-side (native
    exprs), so only (id, n_tokens, shard) longs reach Python.

    Output: (id, shard, seq_idx, n_tokens) — sequence key is
    (shard, seq_idx).
    """
    import pandas as pd

    capped = F.least(F.size(tokens(text_col)), F.lit(budget))
    slim = df.select(
        F.col(id_col).alias("id"),
        capped.cast("long").alias("n_tokens"),
        (F.col(id_col) % n_shards).cast("long").alias("shard"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        seq_idx, fill = 0, 0
        out = []
        for t in pdf["n_tokens"]:
            t = int(t)
            if fill + t > budget and fill > 0:
                seq_idx += 1
                fill = 0
            fill += t
            out.append(seq_idx)
        pdf["seq_idx"] = out
        return pdf[["id", "shard", "seq_idx", "n_tokens"]]

    return slim.groupBy("shard").applyInPandas(
        pack, schema="id long, shard long, seq_idx long, n_tokens long"
    )


def unigram_xent(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document unigram cross-entropy under the corpus's OWN unigram
    LM — the classic perplexity-proxy quality filter (documents whose
    token distribution is far from the corpus read as noise/boilerplate;
    a cheap stand-in for the KenLM stage of production data pipelines).

    xent(d) = -(1/|d|) * sum over token occurrences of ln p(tok),
    p(tok) = corpus_count(tok) / corpus_total.

    Shape at scale: tokens collapse to per-(doc, token) COUNTS before
    anything wide (the explode never shuffles raw occurrences), corpus
    frequencies partial-aggregate from those counts, and the only wide
    join is (doc,token) x (token) — both sides hashed on the token key.
    The corpus total is a one-row broadcast.

    Exactness: ln is <1-ulp across engines; each per-token surprisal is
    rounded to the 1e-6 quantum BEFORE the weighted decimal sum (c * lp
    is then exact at scale 6), so the reduction is partition- and
    engine-invariant; the final divide is IEEE-exact. Zero-token
    documents are excluded (cross-entropy undefined).

    Output: (id_col, n_tokens, xent).

    ``tokens_col``: pre-tokenized array<string> column (whitespace
    ``tokens()`` semantics) — composite pipelines share one tokenize
    exchange/checkpoint across stages (the quality_score convention).
    """
    toks = F.col(tokens_col) if tokens_col is not None else tokens(text_col)
    dt = (
        df.select(F.col(id_col), F.explode(toks).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        # freq and the scoring join BOTH consume dt: cut the lineage so
        # the tokenize+count stage runs once (same discipline as
        # beta_vs_market)
        .localCheckpoint()
    )
    freq = dt.groupBy("tok").agg(F.sum("c").cast("long").alias("f"))
    total = freq.agg(F.sum("f").cast("long").alias("t"))
    lp = F.round(
        F.log(F.col("f").cast("double") / F.col("t").cast("double")), 6
    )
    scored = (
        dt.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), F.col("c"), lp.alias("lp"))
    )
    s = F.sum((F.col("c").cast("double") * F.col("lp")).cast("decimal(38,6)"))
    n = F.sum("c").cast("long")
    return scored.groupBy(id_col).agg(
        n.alias("n_tokens"),
        ((-s.cast("double")) / n.cast("double")).alias("xent"),
    )


def _apply_bpe_merge(seq: DataFrame, a: str, b: str) -> DataFrame:
    """Apply ONE BPE merge rule (a, b) -> a||b to every symbol sequence,
    with EXACT greedy left-to-right non-overlapping semantics — as one
    NARROW array fold, no explode/window/join/regroup.

    ``aggregate(syms, [], acc-step)`` walks each word's symbols left to
    right: when the accumulator's last element equals ``a`` and the
    current symbol equals ``b``, the last element is replaced by
    ``a || b``; otherwise the symbol is appended. This is exactly the
    greedy non-overlapping scan, including the a == b overlap islands:
    a merged token ``a||b`` can never equal ``a`` (``b`` is non-empty),
    so a freshly merged pair never re-matches as the left side — the
    1st, 3rd, ... match of each island merges, the rest pass through.
    The previous form expressed the same greedy rule as island-parity
    window algebra: posexplode + 2 windows + 2 self-joins + a regroup —
    one exchange and four extra operators PER MERGE ROUND, the 100 TB
    BPE round cost the round-12 verdict flagged. The DuckDB oracle keeps
    the island-parity replay (_bpe_sql); equivalence of the two forms is
    pinned by the driver-vs-distributed fixed-point test (which covers
    the a == b islands) and by the unchanged oracle hashes.
    ``seq``: (w, cnt, syms array<string>).
    """
    empty = F.array().cast("array<string>")
    merged = F.aggregate(
        F.col("syms"),
        empty,
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return seq.select("w", "cnt", merged.alias("syms"))


def bpe_learn(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 6,
) -> DataFrame:
    """Learn ``rounds`` BPE merge rules over the corpus — the iterative
    vocabulary-induction step of every modern tokenizer pipeline
    (Sennrich et al. 2016), DataFrame-only.

    The corpus reduces ONCE to the word-frequency table (the only
    fact-sized shuffle — everything after operates on the vocabulary,
    which is tiny relative to the corpus at any scale: ~10M words at
    100 TB vs billions of documents). Each round: adjacent-symbol pair
    counts weighted by word frequency (one partial-agg shuffle over the
    vocab), the argmax pair picked deterministically by
    (freq DESC, left, right), and the merge applied with exact greedy
    semantics (:func:`_apply_bpe_merge`); sequences localCheckpoint per
    round (standard iterative-algorithm discipline). The per-round
    argmax is a 1-row collect — a scalar probe, not a fact collect.

    Everything is integer counts and string symbols — no floats — so
    the unrolled per-round SQL replay (``_bpe_sql`` in __spark_entry__)
    hash-matches exactly.

    Output: (round, lhs, rhs, freq) — the ordered merge table a
    tokenizer would persist. Degenerate corpora that exhaust all pairs
    before ``rounds`` stop early. (:func:`bpe_token_counts` is the APPLY
    side: it reuses the fitted word table, so the corpus is never
    re-segmented per merge.)
    """
    merges, _ = _bpe_fit(df, text_col, rounds)
    return merges


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 6,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the learned BPE segmentation: per-document subword counts
    under the ``rounds``-merge vocabulary — the `how many tokens will
    this cost me` statistic every training-data pipeline computes before
    packing.

    The apply side never re-processes the corpus per merge: merges fold
    on the WORD table during the fit, and each document then just joins
    its words to the fitted per-word subword length (broadcast-sized
    vocabulary at any corpus scale) — one explode + one join + one
    partial-agg groupBy.

    Output: (id_col, n_words, n_bpe_tokens).
    """
    from .text import tokens

    _, seq = _bpe_fit(df, text_col, rounds)
    wlen = seq.select("w", F.size("syms").alias("_n_sub"))
    doc_words = df.select(id_col, F.explode(tokens(text_col)).alias("w"))
    return (
        doc_words.join(F.broadcast(wlen), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_n_sub").cast("long").alias("n_bpe_tokens"),
        )
    )


#: Driver-fit bound for :func:`_bpe_fit` — the fit input is the DISTINCT
#: word table (vocabulary), which grows sublinearly with corpus size
#: (Heaps' law; ~10M words at 100 TB). Below this bound the whole fit is
#: a bounded collect + pure-Python fold (the near_dup_components
#: union-find precedent: ~100 MB of driver memory worst case); above it
#: the distributed per-round loop runs unchanged.
BPE_DRIVER_MAX_WORDS = 200_000


def _bpe_fit_driver(
    rows: list, rounds: int
) -> tuple[list[tuple[int, str, str, int]], list[tuple[str, int, list[str]]]]:
    """Pure-Python BPE fit over a collected (word, cnt) table — the exact
    semantics of the distributed loop: per round, pair frequencies
    weighted by word count; argmax by (freq DESC, lhs, rhs) (Python str
    comparison is by code point; Spark/DuckDB binary UTF-8 order is
    identical because UTF-8 preserves code-point order); greedy
    left-to-right non-overlapping merge application (the island-parity
    window algebra collapses to this exact scan)."""
    seqs: list[list[str]] = [list(w) for w, _ in rows]
    cnts = [int(c) for _, c in rows]
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        freq: dict = {}
        for syms, cnt in zip(seqs, cnts):
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                freq[p] = freq.get(p, 0) + cnt
        if not freq:
            break
        (a, b), f = min(
            freq.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, a, b, f))
        ab = a + b
        for k, syms in enumerate(seqs):
            n = len(syms)
            if n < 2:
                continue
            out = []
            i = 0
            while i < n:
                if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[k] = out
    return merges, [
        (w, c, s) for (w, _), c, s in zip(rows, cnts, seqs)
    ]


def _bpe_fit(
    df: DataFrame, text_col: str, rounds: int
) -> tuple[DataFrame, DataFrame]:
    """Shared BPE fit: returns (merge table, final word-symbol table)."""
    from .text import tokens

    spark = df.sparkSession
    # the vocabulary is the ONLY fact-sized reduction; checkpoint it so
    # both the bounded driver probe and (on fallback) the distributed
    # loop read materialized rows instead of re-running the corpus scan
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    probe = words.limit(BPE_DRIVER_MAX_WORDS + 1).collect()
    if len(probe) <= BPE_DRIVER_MAX_WORDS:
        # bounded driver fast path: 6 rounds of window/groupBy/argmax/
        # checkpoint over a vocabulary-sized table cost ~12 Spark jobs
        # of pure scheduling; the same fold in-process is microseconds
        # per thousand words and bit-identical (test-pinned)
        merges, seq_rows = _bpe_fit_driver(
            [(r["w"], r["cnt"]) for r in probe], rounds
        )
        return (
            spark.createDataFrame(
                merges, "round int, lhs string, rhs string, freq long"
            ),
            spark.createDataFrame(
                seq_rows, "w string, cnt long, syms array<string>"
            ),
        )
    seq = words.select(
        "w",
        "cnt",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    ).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    # the iteration runs over the vocabulary — far below one shuffle
    # partition of work — so pin its shuffles to a handful of tasks
    # instead of paying rounds x spark.sql.shuffle.partitions task waves
    # (same discipline as near_dup_components)
    n_part = max(2, min(8, spark.sparkContext.defaultParallelism // 4))
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        for r in range(1, rounds + 1):
            # adjacent pairs as a NARROW zip of the syms array with its
            # own 1-shifted tail — no posexplode + per-word window lead
            # (the lead's per-word exchange+sort was most of each round's
            # pair-count job); groupBy partial-aggregates map-side.
            pairs = F.arrays_zip(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
            )
            pc = (
                seq.filter(F.size("syms") >= 2)
                .select("cnt", F.explode(pairs).alias("_p"))
                .groupBy(
                    F.col("_p").getField("0").alias("s"),
                    F.col("_p").getField("1").alias("nxt"),
                )
                .agg(F.sum("cnt").alias("freq"))
            )
            best = pc.orderBy(F.desc("freq"), "s", "nxt").limit(1).collect()
            if not best:
                break
            a, b, freq = best[0]["s"], best[0]["nxt"], int(best[0]["freq"])
            merges.append((r, a, b, freq))
            # the merge application is now a narrow array fold
            # (_apply_bpe_merge): no shuffle enters the lineage, so the
            # per-round localCheckpoint is gone — each round is ONE job
            # (the argmax) whose scan re-applies the previous narrow
            # merges on top of the single seq checkpoint (guide §2: two
            # jobs with a per-word window exchange each -> one job whose
            # only exchange is the partial-agged pair-count groupBy).
            seq = _apply_bpe_merge(seq, a, b)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    return (
        spark.createDataFrame(
            merges, "round int, lhs string, rhs string, freq long"
        ),
        seq,
    )


def dsir_weights(
    df: DataFrame,
    target_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
) -> DataFrame:
    """DSIR-style data selection: hashed-bigram importance weights
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling"). Each document is scored by how much more likely its
    hashed bigram bag is under the TARGET distribution (rows matching
    ``target_pred``, e.g. a trusted language/domain slice) than under
    the RAW corpus distribution:

        logw(d) = Σ_g c_g(d) · [ln p_t(g) − ln p_r(g)]

    with add-one-smoothed bucket unigram models over ``buckets`` hashed
    bigram buckets (p(g) = (count_g + 1) / (N + buckets)). High-logw
    documents are the ones importance resampling keeps.

    Shape at scale (the unigram_xent discipline): bigrams collapse to
    per-(doc, bucket) COUNTS before anything wide, both bucket models
    partial-aggregate from those counts in ONE pass (conditional sums —
    the target model is not a second scan), totals are a one-row
    broadcast, and the scoring join is (doc,bucket) × (bucket) hashed on
    the bucket key. The hash is the repo-wide md5-48bit (deterministic
    across engines, same idiom as MinHash); per-bucket log-ratios are
    quantized with the tie-free micro-unit rule BEFORE the decimal
    weighted sum, so the reduction is partition- and engine-invariant.

    Documents with no bigram (< 2 tokens) are excluded (no evidence).
    Output: (id_col, is_target, n_grams, logw, avg_logw).
    """
    from ..functions.exact import q6

    # hash each TOKEN once (md5-48) and combine the integer hashes per
    # bigram — 5x cheaper than md5 over every bigram string (measured
    # 10.3 s -> 2.0 s for the count stage at sf0.1): one md5 per token
    # occurrence instead of two, and no per-bigram string concat. The
    # combine (31*h1 + h2) mod buckets stays exact in BIGINT
    # (2^48 * 31 + 2^48 ≈ 2^53 << 2^63 — Spark longs, not doubles, so
    # the double-precision 2^53 bound is irrelevant here) and is
    # uniform for power-of-two bucket counts since gcd(31, 2^k) = 1.
    th = F.transform(
        tokens(text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long"),
    )
    bucket_arr = F.expr(
        f"transform(sequence(1, size(_th) - 1),"
        f" i -> (_th[i-1] * 31 + _th[i]) % {buckets})"
    )
    dt = (
        df.select(
            F.col(id_col),
            target_pred.alias("is_target"),
            th.alias("_th"),
        )
        .filter(F.size("_th") >= 2)
        .select(id_col, "is_target", F.explode(bucket_arr).alias("bucket"))
        .groupBy(id_col, "is_target", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # bucket models and the scoring join BOTH consume dt: cut the
        # lineage so tokenize+hash runs once (unigram_xent discipline)
        .localCheckpoint()
    )
    bs = dt.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("ct"),
        F.sum("c").cast("long").alias("cr"),
    )
    tot = bs.agg(
        F.sum("ct").cast("long").alias("nt"), F.sum("cr").cast("long").alias("nr")
    )
    lw = q6(
        F.log(
            (F.col("ct") + 1).cast("double") / (F.col("nt") + buckets).cast("double")
        )
        - F.log(
            (F.col("cr") + 1).cast("double") / (F.col("nr") + buckets).cast("double")
        )
    ).alias("lw")
    model = bs.crossJoin(F.broadcast(tot)).select("bucket", lw)
    s = F.sum((F.col("c").cast("double") * F.col("lw")).cast("decimal(38,6)"))
    n = F.sum("c").cast("long")
    return (
        dt.join(model, "bucket")
        .groupBy(id_col, "is_target")
        .agg(
            n.alias("n_grams"),
            s.cast("double").alias("logw"),
        )
        .withColumn(
            "avg_logw", F.col("logw") / F.col("n_grams").cast("double")
        )
    )


def bm25_topk(
    df: DataFrame,
    queries: Sequence[tuple[int, Sequence[str]]],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval over the corpus for a small fixed query set — the
    lexical-search primitive data pipelines use for decontamination
    lookups and retrieval-augmented curation.

        score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
        idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))

    ``queries`` is a list of (query_id, [terms]) — terms are matched
    against the repo-wide whitespace tokenization, each distinct query
    term scored once.

    Shape at scale: the corpus collapses to per-(doc, term) COUNTS
    (map-side combinable) plus a per-doc length table computed in the
    SAME pass (dl = Σ tf over the doc — no second scan); document
    frequencies partial-aggregate from the counts; N/avgdl are a
    one-row broadcast; the query-term table (a few dozen rows) is
    BROADCAST against the (doc, term) counts, so the only wide shuffle
    is the (doc, term) reduction. Top-k per query is a bounded window
    over candidates that matched ≥1 term, never the full corpus.

    Determinism: idf and each per-term contribution are quantized with
    the tie-free micro-unit rule BEFORE the decimal per-doc sum
    (partition/engine-invariant); ranking keys are (quantized score
    desc, doc_id asc) — never a raw float. Docs matching no query term
    are absent (score 0 by definition).

    Output: (query_id, rank, doc_id, score), rank 1..k.
    """
    from ..functions.exact import q6

    spark = df.sparkSession
    dt = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint()  # lengths, dfs and the probe all consume dt
    )
    dl = dt.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    dfreq = dt.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    stats = df.select(F.col(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).crossJoin(
        dl.agg(F.sum("dl").cast("long").alias("total_len"))
    )
    qterms = spark.createDataFrame(
        [(int(qid), t) for qid, terms in queries for t in dict.fromkeys(terms)],
        "query_id long, term string",
    )
    cand = (
        dt.join(F.broadcast(qterms), "term")
        .join(dl, id_col)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    idf = q6(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
            / (F.col("df").cast("double") + 0.5)
        )
    )
    frac = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl)
    )
    scored = cand.select(
        "query_id",
        F.col(id_col),
        q6(idf * frac).cast("decimal(38,6)").alias("contrib"),
    ).groupBy("query_id", id_col).agg(
        F.sum("contrib").cast("double").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score")
    )


def ccnet_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    facebookresearch/cc_net): split the corpus into head / middle /
    tail terciles by language-model cross-entropy — head (lowest
    perplexity) is the training-quality slice, tail the noise slice.
    The LM here is the corpus's own unigram model (unigram_xent); a
    production pipeline would swap in KenLM scores, the bucketing
    algebra is identical.

    Exact terciles with no single-partition sort: per-doc xent
    quantizes to micro-units (an exact BIGINT), and
    ``quantiles.quantile_bucket`` cuts it at the ⌈N/3⌉-th and
    ⌈2N/3⌉-th smallest value (quantile_disc semantics, ties share a
    bucket, integer rank arithmetic); buckets 1/2/3 are
    head/middle/tail. Bit-identical cross-engine.

    Output: (id_col, n_tokens, xent, bucket) — bucket in
    {'head','middle','tail'}.
    """
    x = unigram_xent(df, text_col, id_col).withColumn(
        "_xq", F.floor(F.col("xent") * F.lit(1e6) + F.lit(0.5)).cast("long")
    )
    # the cuts and the final classify both consume x: cut lineage once
    # (same discipline as unigram_xent's dt)
    x = x.localCheckpoint()
    labels = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), F.col("_b")
    )
    return quantile_bucket(x, {"_xq": "_b"}, 3).select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("xent"),
        labels.alias("bucket"),
    )


def span_corruption(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_permyriad: int = 1500,
    salt: str = "span-v1",
) -> DataFrame:
    """T5/UL2-style span corruption (Raffel et al. 2020): mask ~15% of
    token positions i.i.d., merge CONSECUTIVE masked positions into
    spans, replace each span with a ``<extra_id_k>`` sentinel in the
    input and emit ``<extra_id_k> tokens...`` as the target — the
    denoising-objective sampler of a pretraining data pipeline, done
    the reproducible way: the mask is a pure function of
    ``(salt, doc_id, position)`` (md5 permyriad draw, hash_split's
    convention), so the corruption survives re-runs, cluster resizes,
    and engine swaps — the DuckDB twin replays it bit-for-bit. No RNG
    state anywhere.

    Shape at scale: one explode to (doc, position) rows, two windows
    and two reassembly aggregates ALL keyed on the doc id — a single
    shuffle; per-doc work is bounded by document length. Span islands
    use the position−row_number trick (the BPE merge pattern); the
    ordered reassembly sorts (position, piece) structs — partition-
    invariant, no collect_list order assumption.

    Zero-token documents are excluded (nothing to corrupt — the oracle
    twin's unnest drops them identically).

    Output: (id_col, n_tokens, n_masked, n_spans, corrupted, targets).
    """
    pos = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("p", "tok"),
    ).withColumn(
        "m",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(salt),
                        F.col(id_col).cast("string"),
                        F.col("p").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10000
        < mask_permyriad,
    )
    # consume pos three times (counts, unmasked pieces, span rows):
    # cut the lineage once, unigram_xent's discipline
    pos = pos.localCheckpoint()
    wp = Window.partitionBy(id_col).orderBy("p")
    sp = (
        pos.filter("m")
        .withColumn("_rn", F.row_number().over(wp))
        .withColumn("_island", F.col("p") - F.col("_rn"))
        .withColumn(
            "k",
            (F.dense_rank().over(
                Window.partitionBy(id_col).orderBy("_island")
            ) - F.lit(1)).cast("long"),
        )
    )
    sentinel = F.concat(
        F.lit("<extra_id_"), F.col("k").cast("string"), F.lit(">")
    )
    unm = pos.filter(~F.col("m")).select(
        id_col, "p", F.col("tok").alias("piece")
    )
    sent = sp.groupBy(id_col, "k").agg(F.min("p").alias("p")).select(
        id_col, "p", sentinel.alias("piece")
    )

    def _joined(order_col, piece_col):
        pieces = F.array_sort(
            F.collect_list(F.struct(F.col(order_col), F.col(piece_col)))
        )
        return F.concat_ws(
            " ", F.transform(pieces, lambda x: x[piece_col])
        )

    corr = (
        unm.unionByName(sent)
        .groupBy(id_col)
        .agg(_joined("p", "piece").alias("corrupted"))
    )
    tgt_span = sp.groupBy(id_col, "k").agg(
        F.concat(
            sentinel, F.lit(" "), _joined("p", "tok")
        ).alias("tpiece")
    )
    tgt = tgt_span.groupBy(id_col).agg(
        _joined("k", "tpiece").alias("targets"),
        (F.max("k") + 1).alias("n_spans"),
    )
    cnt = pos.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.col("m").cast("int")).cast("long").alias("n_masked"),
    )
    return (
        cnt.join(corr, id_col, "left")
        .join(tgt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_masked",
            F.coalesce(F.col("n_spans"), F.lit(0).cast("long")).alias(
                "n_spans"
            ),
            F.coalesce(F.col("corrupted"), F.lit("")).alias("corrupted"),
            F.coalesce(F.col("targets"), F.lit("")).alias("targets"),
        )
    )


def bigram_xent(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
) -> DataFrame:
    """Per-document cross-entropy under an INTERPOLATED BIGRAM model of
    the corpus — the next step up from unigram_xent's perplexity proxy
    (Jelinek-Mercer smoothing: ``p(w₂|w₁) = λ·c(w₁w₂)/c(w₁•) +
    (1−λ)·p_uni(w₂)``), catching word-order anomalies the unigram
    cannot (shuffled text scores high here, identically under unigram).

    Shape at scale: bigrams collapse to per-(doc, bigram) COUNTS before
    anything wide (unigram_xent's discipline); the bigram model is one
    partial-agg over those counts; scoring is a bigram-keyed join plus
    a unigram-keyed join — all hash-keyed, no broadcast of
    vocabulary-sized tables. Docs with < 2 tokens are excluded (no
    bigram to score).

    Exactness: every probability is a fixed-order IEEE expression over
    exact integer counts; per-bigram surprisal rounds to the 1e-6
    quantum BEFORE the weighted decimal sum (the transcendental-output
    rule), so the reduction is partition- and engine-invariant.

    Output: (id_col, n_bigrams, xent2).
    """
    toks = tokens(text_col)
    pairs = df.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.concat_ws("\x1f", a, b),
            )
        ).alias("bg"),
    )
    dt = (
        pairs.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        # model fit and scoring both consume dt: cut the lineage once
        .localCheckpoint()
    )
    big = dt.groupBy("bg").agg(F.sum("c").cast("long").alias("c2"))
    first = big.withColumn(
        "w1", F.split_part(F.col("bg"), F.lit("\x1f"), F.lit(1))
    ).groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    uni = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    total = uni.agg(F.sum("f").cast("long").alias("tt"))
    scored = (
        dt.join(big, "bg")
        .withColumn("w1", F.split_part(F.col("bg"), F.lit("\x1f"), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bg"), F.lit("\x1f"), F.lit(2)))
        .join(first, "w1")
        .join(uni.withColumnRenamed("tok", "w2"), "w2")
        .crossJoin(F.broadcast(total))
    )
    p = F.lit(lam) * (
        F.col("c2").cast("double") / F.col("c1").cast("double")
    ) + F.lit(1.0 - lam) * (
        F.col("f").cast("double") / F.col("tt").cast("double")
    )
    lp = F.round(F.log(p), 6)
    s = F.sum((F.col("c").cast("double") * lp).cast("decimal(38,6)"))
    n = F.sum("c").cast("long")
    return scored.groupBy(id_col).agg(
        n.alias("n_bigrams"),
        ((-s.cast("double")) / n.cast("double")).alias("xent2"),
    )


def line_frequency_filter(
    df: DataFrame,
    max_docs: int = 2,
    line_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    splitter: str = "tokens",
) -> DataFrame:
    """C4-style line-frequency dedup (Raffel et al. 2020 §2.2: "we
    discarded ... any line that occurred more than [N times] in the
    dataset", here counted per distinct DOCUMENT): drop every line whose
    exact text appears in more than ``max_docs`` distinct documents —
    the standard boilerplate filter (nav bars, cookie banners, footers)
    that doc-level and span-level dedup both miss.

    ``splitter="newline"`` uses real ``\\n`` lines (the C4 original,
    trimmed, empties dropped); ``splitter="tokens"`` derives
    deterministic fixed-width pseudo-lines of ``line_tokens`` whitespace
    tokens for corpora without line structure (the synthetic documents
    table has none) — same downstream shape either way.

    Scale shape (the duplicated_spans recipe): explode lines once, ONE
    partial-aggregable count-distinct-docs per line text (the hot
    boilerplate line collapses map-side before the shuffle), join the
    verdict back, and reassemble kept lines per document with
    array_sort(struct) — no window, two shuffles total (line count +
    doc regroup). At 100 TB swap the join key for ``xxhash64(line)`` to
    shrink the shuffle; the string key keeps the DuckDB oracle exact
    here (collision-free by construction).

    Output: one row per input document — (id_col, n_lines, n_kept,
    n_dropped, clean_text) with kept lines rejoined by a single space
    (newline fidelity is not round-tripped; this operator feeds
    tokenizers, not renderers).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if splitter == "newline":
        # NB: pass a single-arg lambda — F.transform feeds (element,
        # index) to any two-arg callable, and F.trim(col, str) is the
        # deprecated trim-by-characters form
        lines_expr = F.filter(
            F.transform(F.split(F.col(text_col), r"\n"), lambda s: F.trim(s)),
            lambda s: F.length(s) > 0,
        )
        base = df.select(F.col(id_col), lines_expr.alias("_lines")).repartition(
            par
        )
    else:
        # Tokenize ONCE into a column with a repartition BETWEEN the
        # tokenize projection and the line projection: without the
        # exchange boundary, ProjectCollapse re-inlines the regex split
        # into the when-guard, the ceil, and EVERY per-line slice —
        # measured 7.0 s -> 0.76 s at sf0.1 for the exploded count.
        tcol = df.select(F.col(id_col), tokens(text_col).alias("_ts")).repartition(
            par
        )
        n_chunks = F.ceil(F.size("_ts") / F.lit(line_tokens)).cast("int")
        lines_expr = F.when(
            F.size("_ts") <= 0, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_chunks - F.lit(1)),
                lambda i: F.concat_ws(
                    " ",
                    F.slice(F.col("_ts"), i * F.lit(line_tokens) + 1, line_tokens),
                ),
            )
        )
        base = tcol.select(F.col(id_col), lines_expr.alias("_lines"))
    # Both the frequency count and the reassembly consume `exploded`,
    # but NO checkpoint: the repartition above is a shuffle exchange
    # that Spark's ReuseExchange rule shares between the two branches,
    # so the tokenize/explode physically runs once — a localCheckpoint
    # here measured ~2x SLOWER end-to-end (materialization cost with
    # nothing saved).
    exploded = base.select(
        F.col(id_col),
        F.posexplode(F.col("_lines")).alias("_ln", "_line"),
    )
    freq = (
        exploded.groupBy("_line")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .select("_line", (F.col("_df") <= max_docs).alias("_keep"))
    )
    flagged = exploded.join(freq, "_line")
    stats = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(F.col("_ln"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (
                F.coalesce("n_lines", F.lit(0)) - F.coalesce("n_kept", F.lit(0))
            ).alias("n_dropped"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def reciprocal_rank_fusion(
    rankings: Sequence[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    const: float = 60.0,
    top: int = 20,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009): merge N retrieval
    rankings of the same corpus into one list by

        rrf(d) = Σ_r 1 / (const + rank_r(d))

    — the standard hybrid-search combiner (BM25 lexical + embedding
    ANN) for retrieval-augmented curation: rank fusion needs no score
    calibration across heterogeneous retrievers, only ranks.

    Scale shape: each input is already a top-k (bounded); the fusion is
    one union + one hash aggregate over ≤ N·k rows + a TakeOrdered —
    nothing here ever touches the corpus.

    Determinism: each contribution is quantized to nano-units
    (``floor(1e9/(const+rank) + 0.5)`` BIGINT) so the per-doc sum is
    exact-integer (order-independent, any N) and the ranking key is
    (BIGINT sum desc, id asc) — never a raw float.

    Output: (rank, id_col, rrf_score, n_sources), rank 1..top.
    """
    contrib = F.floor(
        F.lit(1e9) / (F.lit(float(const)) + F.col(rank_col).cast("double"))
        + F.lit(0.5)
    ).cast("long")
    tagged = [
        r.select(F.col(id_col), contrib.alias("_c")) for r in rankings
    ]
    allc = tagged[0]
    for t in tagged[1:]:
        allc = allc.unionByName(t)
    fused = allc.groupBy(id_col).agg(
        F.sum("_c").alias("_rrf_q"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    # top-k via TakeOrdered, then number the <= top survivors from ONE
    # scalar aggregate: array_sort on struct(-score, id) is exactly the
    # (score desc, id asc) rank order (BIGINT negation is exact), and
    # posexplode's position is the rank — no ungrouped window, no
    # single-partition WindowExec on the hot path
    top_rows = (
        fused.orderBy(F.col("_rrf_q").desc(), F.col(id_col).asc())
        .limit(top)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("_rrf_q")).alias("_nq"),
                        F.col(id_col).alias("_id"),
                        F.col("n_sources").alias("_ns"),
                    )
                )
            ).alias("_a")
        )
    )
    return top_rows.select(F.posexplode("_a").alias("_i0", "_s")).select(
        (F.col("_i0") + 1).cast("long").alias("rank"),
        F.col("_s._id").alias(id_col),
        ((-F.col("_s._nq")).cast("double") / F.lit(1e9)).alias("rrf_score"),
        F.col("_s._ns").alias("n_sources"),
    )


def unimax_plan(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    epochs_max: int = 2,
    budget_tokens: int | None = None,
) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling"): distribute a total
    training-token budget across languages as uniformly as possible,
    capping every language at ``epochs_max`` epochs of its own corpus —
    the sampling plan that stops low-resource languages from being
    over-epoched and high-resource ones from dominating the mixture.

    Water-filling in CLOSED FORM instead of the paper's sequential
    loop: sort languages by cap ascending (cap_l = epochs_max ·
    tokens_l). A language ranked i caps out iff the budget left after
    granting every cap through i still funds cap_i for all n−i heavier
    languages — ``B − cumcap_i ≥ cap_i · (n−i)``. With ascending caps
    that predicate is monotone, so the last true rank k fixes the water
    level L = (B − cumcap_k)/(n−k) and alloc_l = min(cap_l, L). This is
    exactly the loop's fixed point, but it is two window passes + one
    scalar aggregate — no driver iteration, any number of languages.

    Exactness: token counts / caps / cumulative sums are BIGINT; the
    water level and the per-language epochs are single floor divisions
    in micro-units — bit-identical cross-engine. ``budget_tokens``
    defaults to the corpus total (average one epoch).

    Output: (lang, n_docs, n_tokens, cap_tokens, alloc_tokens, epochs),
    alloc summing to the budget (up to the n·1e-6 floor slack).
    """
    per_lang = (
        df.select(F.col(lang_col).alias("lang"), F.size(tokens(text_col)).alias("_nt"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
        .withColumn("cap_tokens", F.lit(epochs_max) * F.col("n_tokens"))
    )
    # the per-language table is tiny BY NATURE (one row per language),
    # so rank / prefix-sum / totals all come from ONE scalar aggregate:
    # pack the rows into a sorted array (array_sort on the struct is
    # exactly ORDER BY cap_tokens, lang — lang is unique, later fields
    # never compared), posexplode for the rank, and higher-order
    # F.aggregate over array prefixes for the cumulative cap (O(n²)
    # element ops on an n-languages array — trivial, JVM-side, and no
    # ungrouped window anywhere in the plan)
    packed = per_lang.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cap_tokens").alias("_ck"),
                    F.col("lang").alias("_lg"),
                    F.col("n_docs").alias("_nd"),
                    F.col("n_tokens").alias("_nt"),
                )
            )
        ).alias("_a")
    )
    ex = packed.select("_a", F.posexplode("_a").alias("_i0", "_s"))
    ranked = ex.select(
        F.col("_s._lg").alias("lang"),
        F.col("_s._nd").alias("n_docs"),
        F.col("_s._nt").alias("n_tokens"),
        F.col("_s._ck").alias("cap_tokens"),
        (F.col("_i0") + 1).alias("_i"),
        F.aggregate(
            F.slice("_a", F.lit(1), F.col("_i0") + 1),
            F.lit(0).cast("long"),
            lambda acc, s: acc + s["_ck"],
        ).alias("_cs"),
        F.size("_a").cast("long").alias("_n"),
        (
            F.lit(budget_tokens).cast("long")
            if budget_tokens is not None
            else F.aggregate(
                "_a", F.lit(0).cast("long"), lambda acc, s: acc + s["_nt"]
            )
        ).alias("_b"),
    )
    # the scalar (k, level) reduction broadcasts back
    capped = ranked.withColumn(
        "_capped", (F.col("_b") - F.col("_cs")) >= F.col("cap_tokens") * (F.col("_n") - F.col("_i"))
    )
    scal = capped.agg(
        F.max(F.when(F.col("_capped"), F.col("_i"))).alias("_k"),
        F.max(F.when(F.col("_capped"), F.col("_cs"))).alias("_csk"),
        F.max("_n").alias("_nn"),
        F.max("_b").alias("_bb"),
    ).select(
        F.coalesce("_k", F.lit(0)).alias("_k"),
        F.coalesce("_csk", F.lit(0)).alias("_csk"),
        "_nn",
        "_bb",
    )
    joined = capped.join(F.broadcast(scal))
    # every division is a BIGINT floor division (`div`) on nonnegative
    # operands — identical to DuckDB's `//`; a double divide + floor
    # can disagree in the last ulp at integer boundaries
    level6 = F.expr("((_bb - _csk) * 1000000L) div (_nn - _k)")
    alloc6 = F.when(
        F.col("_i") <= F.col("_k"), F.col("cap_tokens") * F.lit(1_000_000)
    ).otherwise(level6)
    staged = joined.select(
        "lang", "n_docs", "n_tokens", "cap_tokens", alloc6.alias("_alloc6")
    )
    return staged.select(
        "lang",
        "n_docs",
        "n_tokens",
        "cap_tokens",
        (F.col("_alloc6").cast("double") / 1e6).alias("alloc_tokens"),
        (
            F.when(
                F.col("n_tokens") > 0, F.expr("_alloc6 div n_tokens")
            ).otherwise(F.lit(0)).cast("double")
            / 1e6
        ).alias("epochs"),
    )


def packing_efficiency(
    packed: DataFrame, budget: int = 512, shard_col: str = "shard"
) -> DataFrame:
    """Packing-efficiency report over :func:`pack_sequences` output: per
    shard, how many sequences the budget produced, how full they are,
    and how much padding a trainer would burn. The go/no-go metric for
    a packing config — fill below ~0.9 means the budget or the doc-length
    distribution needs attention before a 100 TB tokenization run.

    fill_ratio = total_tokens / (n_sequences · budget), one exact
    integer division quantized to 1e-6 (both operands BIGINT).

    Output: (shard, n_docs, n_sequences, total_tokens, fill_ratio,
    pad_tokens), one row per shard.
    """
    agg = packed.groupBy(shard_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.max("seq_idx") + 1).cast("long").alias("n_sequences"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    cap = F.col("n_sequences") * F.lit(budget)
    fill6 = F.floor(
        F.col("total_tokens").cast("double") / cap.cast("double") * 1e6 + F.lit(0.5)
    )
    return agg.select(
        F.col(shard_col),
        "n_docs",
        "n_sequences",
        "total_tokens",
        (fill6 / 1e6).alias("fill_ratio"),
        (cap - F.col("total_tokens")).cast("long").alias("pad_tokens"),
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    top: int = 50,
) -> DataFrame:
    """Per-document contamination FRACTIONS — the triage view on top of
    the binary :func:`decontaminate` verdict: for every flagged corpus
    document, what share of its distinct ``ngram``-grams appears in the
    benchmark. Near-full overlap means a verbatim benchmark copy
    (drop); a few percent usually means a shared boilerplate phrase
    (review) — the distinction n-gram-overlap decontamination reports
    act on (GPT-3 appendix C's "dirtiness" measure).

    Same scale shape as decontaminate: benchmark shingles DISTINCT'd
    and broadcast, zero-overlap documents filtered map-side; only hit
    documents reach the final top-``top`` (TakeOrdered, never a full
    sort). overlap_frac is one BIGINT floor division in micro-units.

    Output: (id_col, n_grams, n_shared_grams, overlap_frac), top rows
    by (overlap_frac desc, id asc).
    """
    par = corpus.sparkSession.sparkContext.defaultParallelism
    grams = (
        corpus.select(id_col, text_col)
        .repartition(par, id_col)
        .select(
            id_col,
            F.explode(
                F.array_distinct(token_ngrams(tokens(text_col), ngram))
            ).alias("gram"),
        )
    )
    bench_grams = F.broadcast(
        benchmark.select(
            F.explode(
                F.array_distinct(token_ngrams(tokens(text_col), ngram))
            ).alias("gram")
        ).distinct()
    )
    per_doc = grams.join(bench_grams.withColumn("_hit", F.lit(1)), "gram", "left").groupBy(
        id_col
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_shared_grams"),
    )
    frac6 = F.expr("(n_shared_grams * 1000000L) div n_grams")
    return (
        per_doc.filter(F.col("n_shared_grams") > 0)
        .select(
            id_col,
            "n_grams",
            "n_shared_grams",
            (frac6.cast("double") / 1e6).alias("overlap_frac"),
        )
        .orderBy(F.desc("overlap_frac"), F.asc(id_col))
        .limit(top)
    )

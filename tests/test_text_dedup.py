"""Tests for text analysis, dedup family, and similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
    exact_dedup_groups,
    exact_jaccard_pairs,
    minhash_near_dup_pairs,
    simhash32,
    simhash_near_dup_pairs,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
    brute_force_knn,
    lsh_knn,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
    fingerprint,
    language_guess,
    quality_score,
    token_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different content about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "der hund und die katze und der vogel"),  # German function words
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_stats(docs):
    out = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert out[0]["n_tokens"] == 9
    assert out[0]["n_unique_tokens"] == 8  # 'the' twice
    assert out[5]["n_tokens"] == 0 and out[5]["mean_token_len"] == 0.0


def test_quality_and_language(docs):
    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert 0 < q[0]["quality_score"] < 1
    assert q[5]["quality_score"] == 0.0
    lang = {r["doc_id"]: r["lang_guess"] for r in language_guess(docs).collect()}
    assert lang[0] == "en"
    assert lang[4] == "de"
    assert lang[5] == "und"


def test_fingerprint_identity_vs_content(docs):
    fp = {r["doc_id"]: r for r in fingerprint(docs).collect()}
    assert fp[0]["exact_fingerprint"] == fp[3]["exact_fingerprint"]
    assert fp[0]["content_fingerprint"] == fp[3]["content_fingerprint"]
    assert fp[0]["exact_fingerprint"] != fp[1]["exact_fingerprint"]


def test_exact_dedup(docs):
    groups = exact_dedup_groups(docs).collect()
    dup = [g for g in groups if g["copies"] == 2]
    assert len(dup) == 1 and dup[0]["keeper_id"] == 0


def test_jaccard_and_minhash_agree(docs):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, threshold=0.7).collect()
    }
    assert (0, 3) in exact and exact[(0, 3)] == 1.0
    assert (0, 1) in exact  # 8/10 = 0.8
    # the LSH path must recover the same high-similarity pairs here
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(docs, threshold=0.7).collect()
    }
    assert (0, 3) in lsh and lsh[(0, 3)] == 1.0
    assert set(lsh) <= set(exact)  # LSH never invents pairs (exact-verified)


def test_quadratic_baseline_guards(docs, spark, sf_dir):
    # exact_jaccard_pairs is an O(n^2) baseline: it must refuse inputs
    # above max_rows instead of silently launching an all-pairs join
    with pytest.raises(ValueError, match="O\\(n\\^2\\) baseline"):
        exact_jaccard_pairs(docs, threshold=0.7, max_rows=3)
    # ... and still run when the bound is respected
    assert exact_jaccard_pairs(docs, threshold=0.7, max_rows=100).count() > 0

    # brute_force_knn guards the QUERY side (corpus scans are the
    # legitimate exact plan; corpus-sized query sets are O(n^2))
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="max_queries"):
        brute_force_knn(emb, emb, k=3, max_queries=10)
    q = emb.filter(F.col("vec_id") < 3)
    assert brute_force_knn(q, emb, k=3).count() == 9


def test_minhash_set_collapse_matches_naive_per_doc_path(spark):
    """The distinct-token-set collapse inside minhash_near_dup_pairs must
    reproduce EXACTLY the naive per-doc LSH pipeline's output — including
    reordered texts (same token set, different text), exact copies, empty
    docs, and cross-group near-dups."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        jaccard,
        lsh_bands,
        minhash_signatures,
        with_token_set,
    )

    rows = [
        (10, "alpha beta gamma delta epsilon"),
        (11, "epsilon delta gamma beta alpha"),  # same token set as 10
        (12, "alpha beta gamma delta epsilon"),  # exact copy of 10
        (13, "alpha beta gamma delta zeta"),  # near-dup, different set
        (14, "unrelated words entirely here now"),
        (15, ""),
        (16, "   "),
        (17, "zeta delta gamma beta alpha"),  # same set as 13
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # naive reference: per-doc signatures -> band join -> exact verify
    toks = with_token_set(docs.select("doc_id", "text"), "text")
    sigs = minhash_signatures(toks)
    banded = lsh_bands(sigs).select("doc_id", "band")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, F.col("a.band") == F.col("b.band"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("token_set").alias("set_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("token_set").alias("set_b"))
    for threshold in (0.7, 0.95):
        naive = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in cand.join(ta, "doc_a")
            .join(tb, "doc_b")
            .withColumn("jaccard", jaccard(F.col("set_a"), F.col("set_b")))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
            .collect()
        }
        collapsed = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in minhash_near_dup_pairs(docs, threshold=threshold).collect()
        }
        assert collapsed == naive
        assert (10, 11) in collapsed and collapsed[(10, 11)] == 1.0
        assert (13, 17) in collapsed and collapsed[(13, 17)] == 1.0


def test_empty_text_tokens_parity_with_oracle_fragment(spark):
    """Spark tokens() yields [] for blank text; the shared DuckDB fragment
    must agree (a bare regexp_split_to_array gives [''] -> count 1)."""
    import duckdb

    from __spark_entry__ import _SQL_TOKS
    from pyspark.sql import functions as F
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        tokens,
    )

    cases = [(0, ""), (1, "   "), (2, "a b a"), (3, "\n"), (4, "a\n"),
             (5, "\tb  c\n\n")]
    sdf = spark.createDataFrame(cases, "doc_id long, text string")
    s = {
        r["doc_id"]: r["n"]
        for r in sdf.select("doc_id", F.size(tokens("text")).alias("n")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", cases)
    d = dict(con.execute(f"SELECT doc_id, len({_SQL_TOKS}) FROM documents").fetchall())
    assert s == d == {0: 0, 1: 0, 2: 3, 3: 0, 4: 1, 5: 2}


def test_simhash_similar_docs_close(docs):
    sk = {r["doc_id"]: r["simhash"] for r in simhash32(docs).collect()}
    ham_near = bin(sk[0] ^ sk[1]).count("1")
    ham_far = bin(sk[0] ^ sk[2]).count("1")
    assert ham_near < ham_far
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in simhash_near_dup_pairs(docs, max_hamming=0).collect()}
    assert pairs[(0, 3)] == 0


def test_simhash_bucketed_join_equals_all_pairs(spark, sf_dir):
    """The 4-chunk pigeonhole equi-join is EXACT for hamming <= 3: it must
    return the identical pair set as the naive all-pairs theta join."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    bucketed = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    naive = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs, max_hamming=3, bucketed=False).collect()
    }
    assert bucketed == naive and bucketed
    # the 60-bit sketch (15-bit chunks) obeys the same pigeonhole
    b60 = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs, max_hamming=3, bits=60).collect()
    }
    n60 = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(
            docs, max_hamming=3, bits=60, bucketed=False
        ).collect()
    }
    assert b60 == n60


def test_redact_pii_masks_and_counts(spark):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.text import (
        redact_pii,
    )
    import hashlib

    docs = spark.createDataFrame(
        [
            (0, "contact a.b+c@ex-ample.co.uk or 123456789 now"),
            (1, "clean text, short num 12345678"),  # 8 digits: NOT masked
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert out[0]["n_emails"] == 1 and out[0]["n_long_numbers"] == 1
    assert out[1]["n_emails"] == 0 and out[1]["n_long_numbers"] == 0
    expect0 = hashlib.md5(b"contact <EMAIL> or <NUM> now").hexdigest()
    assert out[0]["redacted_md5"] == expect0
    expect1 = hashlib.md5(b"clean text, short num 12345678").hexdigest()
    assert out[1]["redacted_md5"] == expect1


def test_near_dup_components_keeper_selection(spark):
    """Every vertex's keeper is the minimum id of its connected
    component, however many hops away: a triangle and a 5-vertex chain
    both resolve fully."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        near_dup_components,
    )

    pairs = spark.createDataFrame(
        # component A: triangle {1,2,3}; component B: chain 10-11-12-13-14
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (13, 14)],
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: r["keeper_id"] for r in near_dup_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 14: 10}


def test_embedding_neardup_lsh_path_subset_of_exact(spark, sf_dir):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.3, lsh_planes=4, lsh_tables=8
        ).collect()
    }
    assert lsh <= exact  # candidates are exact-verified, never invented
    if exact:
        assert len(lsh) / len(exact) >= 0.5  # OR-amplified recall holds


def test_knn_brute_force_and_lsh_recall(spark, sf_dir):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_knn(queries, emb, k=5).collect()
    assert len(exact) == 25
    by_q: dict[int, list[int]] = {}
    for r in exact:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        assert -1.0 <= r["cosine"] <= 1.0
    # multi-table LSH: recall over the exact top-5 should be solid
    approx = lsh_knn(queries, emb, k=5, n_planes=4, n_tables=8).collect()
    approx_by_q: dict[int, set[int]] = {}
    for r in approx:
        approx_by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(
        len(set(by_q[q]) & approx_by_q.get(q, set())) for q in by_q
    )
    recall = hits / 25
    assert recall >= 0.5, f"LSH recall collapsed: {recall}"


def test_union_find_fast_path_matches_distributed_loop(spark):
    """The driver union-find fast path must reach the IDENTICAL fixed
    point as the distributed pointer-jumping loop
    (forced via small_graph_max_edges=0) on an awkward graph: long
    chain + clique + isolated edge, with edges in arbitrary order."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        near_dup_components,
    )

    edges = (
        [(i + 1, i) for i in range(20, 28)]          # descending chain
        + [(101, 105), (105, 103), (103, 101)]       # clique, shuffled
        + [(7, 3)]                                   # isolated edge
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {
        r["doc_id"]: r["keeper_id"]
        for r in near_dup_components(pairs).collect()
    }
    dist = {
        r["doc_id"]: r["keeper_id"]
        for r in near_dup_components(pairs, small_graph_max_edges=0).collect()
    }
    assert fast == dist
    assert fast[28] == 20 and fast[101] == 101 and fast[7] == 3


def test_minhash_index_probe_matches_batch_cross_pairs(spark, tmp_path):
    """Incremental dedup == batch dedup on the cross pairs: probing a new
    batch against the corpus index yields exactly the (new x corpus)
    subset of minhash_near_dup_pairs over the union — after a parquet
    round trip of the index artifact, and the index updates by pure
    row append."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        dedup_against_index,
        minhash_index,
        minhash_near_dup_pairs,
    )

    base_words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [
            (1, base_words),
            (2, base_words + " lambda"),            # near dup of 1
            (3, "one two three four five six"),
            (4, "totally different content here now"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (101, base_words),                       # exact dup of 1
            (102, base_words.replace("kappa", "mu")),  # near dup of 1
            (103, "unrelated fresh text payload"),
            (104, "one two three four five six"),    # exact dup of 3
            (105, "one two three four five six"),    # dup within the batch too
        ],
        "doc_id long, text string",
    )

    # persist + reload the index artifact
    idx_path = str(tmp_path / "minhash_index")
    minhash_index(corpus, threshold=0.8).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    got = {
        (r["new_id"], r["index_id"]): r["jaccard"]
        for r in dedup_against_index(new, index, threshold=0.8).collect()
    }

    full = minhash_near_dup_pairs(corpus.unionByName(new), threshold=0.8)
    want = {}
    for r in full.collect():
        a, b = r["doc_a"], r["doc_b"]
        if (a <= 100) != (b <= 100):  # cross pairs only
            new_id, idx_id = (b, a) if a <= 100 else (a, b)
            want[(new_id, idx_id)] = r["jaccard"]
    assert got == want
    assert got[(101, 1)] == 1.0 and got[(104, 3)] == 1.0
    assert (105, 3) in got          # batch dup of an indexed doc still maps
    assert (103, 4) not in got      # unrelated stays unrelated

    # incremental update is row append: index(corpus ∪ new) == union of
    # the two independently built indexes (pure per-doc functions)
    both = minhash_index(corpus.unionByName(new), threshold=0.8)
    unioned = index.unionByName(minhash_index(new, threshold=0.8))
    # gid may differ across builds (min id within identical-set group
    # spans batches in the combined build); compare the per-doc content
    cols = ["doc_id", "sz", "hset", "bands"]
    a = {tuple(map(str, (r[c] for c in cols))) for r in both.select(*cols).collect()}
    b = {tuple(map(str, (r[c] for c in cols))) for r in unioned.select(*cols).collect()}
    assert a == b


def test_dedup_against_index_shuffle_path_matches_broadcast(spark):
    """broadcast_new=False (the huge-batch shuffle path) produces the
    same pairs as the broadcast path."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        dedup_against_index,
        minhash_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"shared tokens {' '.join(str(j) for j in range(12))} tail{i % 3}")
         for i in range(30)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, f"shared tokens {' '.join(str(j) for j in range(12))} tail{i % 3}")
         for i in range(9)],
        "doc_id long, text string",
    )
    index = minhash_index(corpus, threshold=0.8).localCheckpoint()
    a = sorted(map(tuple, dedup_against_index(
        new, index, threshold=0.8, broadcast_new=True).collect()))
    b = sorted(map(tuple, dedup_against_index(
        new, index, threshold=0.8, broadcast_new=False).collect()))
    assert a == b and len(a) > 0


class TestDuplicatedSpans:
    def test_shared_run_and_island_merge(self, spark):
        from pyspark.sql import Row
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
            duplicated_spans,
        )

        shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"  # 10 tokens
        docs = spark.createDataFrame(
            [
                Row(doc_id=0, text=f"{shared} unique tail zero here now"),
                Row(doc_id=1, text=f"other head one {shared}"),
                Row(doc_id=2, text="totally different text with no dup "
                                   "tokens at all in this one honest"),
                Row(doc_id=3, text="short doc"),  # < width: excluded
            ]
        )
        out = {}
        for r in duplicated_spans(docs, width=8, min_count=2).collect():
            out.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end, r.n_dup_grams)
            )
        # doc 0: shared block = positions 1..10, grams at pos 1,2,3 -> span 1..10
        assert out[0] == [(1, 10, 3)]
        # doc 1: shared block starts at token 4 -> grams 4,5,6 -> span 4..13
        assert out[1] == [(4, 13, 3)]
        assert 2 not in out and 3 not in out


def test_bpe_learn_merges_and_overlap_chains(spark):
    """BPE merge learning: classic (lo, low) progression on the Sennrich
    toy corpus, plus the a==b overlap chain where greedy left-to-right
    keeps alternating matches (aaaa -> [aa, aa], not [aa, a, a])."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        bpe_learn,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "newer newest new low")],
        "doc_id long, text string",
    )
    out = [tuple(r) for r in bpe_learn(docs, rounds=5).collect()]
    assert out == [
        (1, "l", "o", 6),
        (2, "lo", "w", 6),
        (3, "e", "w", 3),
        (4, "n", "ew", 3),
        (5, "e", "r", 2),
    ]

    # overlap chain: 'aaaa' x3 + 'ab'. round 1 merges (a, a) with
    # greedy pairing: each 'aaaa' holds TWO non-overlapping 'aa' pairs
    # (island parity), so freq = 3 words * 3 adjacent pairs = 9 counted,
    # but the APPLIED result [aa, aa] drives round 2: (aa, aa) freq 3
    # beats (a, b) freq 1
    docs2 = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa ab")], "doc_id long, text string"
    )
    out2 = [tuple(r) for r in bpe_learn(docs2, rounds=2).collect()]
    assert out2[0] == (1, "a", "a", 9)
    assert out2[1] == (2, "aa", "aa", 3)


def test_bpe_token_counts_apply_side(spark):
    """Apply side: per-doc subword counts under the learned merges.
    'low' after (l,o),(lo,w) merges is ONE token; unseen structure stays
    at character granularity."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.corpus import (
        bpe_token_counts,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "newer newest new low")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bpe_token_counts(docs, rounds=5).collect()}
    assert out[1]["n_words"] == 5 and out[2]["n_words"] == 4
    # after 5 merges (lo, low, ew, new, er): low=1 token [low];
    # lower=[low,er]=2; lowest=[low,e,s,t]=4; newer=[new,er]=2;
    # newest=[new,e,s,t]=4; new=[new]=1
    assert out[1]["n_bpe_tokens"] == 1 + 2 + 4 + 1 + 1
    assert out[2]["n_bpe_tokens"] == 2 + 4 + 1 + 1


def test_near_dup_components_string_ids_fast_path(spark):
    """The union-find fast path must preserve the INPUT
    id type (string doc ids are first-class), not hardcode long."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        near_dup_components,
    )

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    out_df = near_dup_components(pairs)
    assert dict(out_df.dtypes) == {"doc_id": "string", "keeper_id": "string"}
    out = {r["doc_id"]: r["keeper_id"] for r in out_df.collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_near_dup_components_null_ids_skip_fast_path(spark):
    """NULL ids cannot be ordered by the driver union-find; the fast
    path must step aside (the distributed equi-join loop simply never
    connects a NULL endpoint) instead of raising inside find()."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        near_dup_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 9)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: r["keeper_id"]
        for r in near_dup_components(pairs).collect()
        if r["doc_id"] is not None
    }
    assert out[1] == 1 and out[2] == 1 and out[3] == 1
    # vertex 9's edge has a NULL peer: it stays its own keeper
    assert out[9] == 9


@pytest.mark.parametrize("n_parts,max_jobs", [(4, 3), (32, 5)])
def test_near_dup_components_fast_path_probes_once(spark, n_parts, max_jobs):
    """The fast path reads its checkpointed edges with ONE
    bounded ``limit(max + 1).collect()`` (Spark's incremental take: 1 +
    ~log4(partitions) jobs) instead of a count, a NULL-id probe and a
    collect. With the pair checkpoint, the call runs 3 jobs at 4 input
    partitions and 5 at 32; the three separate probes made it 6 at
    both."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        near_dup_components,
    )

    # chains of 4 ids: (4i, 4i+1), (4i+1, 4i+2), (4i+2, 4i+3); spark.range
    # gives the partition count without a shuffle
    a = F.expr("id + id div 3")
    pairs = spark.range(0, 300, 1, n_parts).select(
        a.alias("doc_a"), (a + 1).alias("doc_b")
    )
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.numTotalJobs()
    out = near_dup_components(pairs)
    assert sched.numTotalJobs() - before <= max_jobs
    got = {r["doc_id"]: r["keeper_id"] for r in out.collect()}
    assert got == {v: v - v % 4 for v in range(400)}


class TestMinhashRecall:
    def test_detected_is_subset_of_truth_and_recall_bounded(self, spark):
        """The recall report's invariant: the LSH path exact-verifies its
        candidates with the SAME jaccard as the ground truth, so every
        detected pair is a truth pair (n_hit == n_detected, recall <= 1);
        banding can only MISS pairs, never invent them."""
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
            exact_jaccard_pairs,
            minhash_near_dup_pairs,
        )

        base = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [
                (0, base),
                (1, base + " extra"),           # near-dup of 0
                (2, base.replace("quick", "slow")),  # near-dup of 0
                (3, "completely different text about spark shuffles"),
                (4, base),                      # exact dup of 0
            ],
            "doc_id long, text string",
        )
        truth = {
            (r["doc_a"], r["doc_b"])
            for r in exact_jaccard_pairs(docs, threshold=0.8).collect()
        }
        found = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_near_dup_pairs(docs, threshold=0.8).collect()
        }
        assert found <= truth
        assert (0, 4) in truth  # the exact dup is always ground truth
        assert (0, 4) in found  # identical signatures always collide
        assert len(truth) > 0

    def test_registry_report_math(self, spark, sf_dir):
        import __spark_entry__ as E

        row = E.d_minhash_recall(spark, sf_dir).collect()[0]
        assert row["n_hit"] == row["n_detected"]  # containment
        assert row["n_hit"] <= row["n_truth"]
        expected = (
            1.0 if row["n_truth"] == 0 else row["n_hit"] / row["n_truth"]
        )
        assert row["recall"] == expected
        assert 0.0 <= row["recall"] <= 1.0


class TestDupClusterStats:
    def test_histogram_accounts_for_every_clustered_doc(self, spark, sf_dir):
        """sum(n_docs) == component vertex count; sum(n_removable) ==
        docs minus clusters — the mass-balance a dedup report must
        satisfy before anyone deletes anything."""
        import __spark_entry__ as E

        rows = E.d_dup_cluster_stats(spark, sf_dir).collect()
        assert rows, "fixture corpus has near-dup clusters"
        n_docs = sum(r["n_docs"] for r in rows)
        n_clusters = sum(r["n_clusters"] for r in rows)
        n_removable = sum(r["n_removable"] for r in rows)
        assert n_removable == n_docs - n_clusters
        for r in rows:
            assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
            assert r["cluster_size"] >= 2  # singletons never enter the graph


class TestDupComponentsLifecycle:
    def test_probe_matches_one_shot_bit_identical(self, spark, sf_dir):
        """The persisted-decisions lifecycle contract (the emb_ivf_probe
        pattern applied to dedup): build-once parquet + probe row must
        return exactly the one-shot chain's rows, and the stats report
        must aggregate the SAME decision set."""
        import os

        import __spark_entry__ as E

        # sorted: the contract is the decision SET — the registry rows no
        # longer impose a presentation orderBy, so collect order follows
        # partitioning (probe reads parquet, one-shot a fresh chain)
        one_shot = sorted(E.d_dup_components(spark, sf_dir).collect())
        probe = sorted(E.d_dup_components_probe(spark, sf_dir).collect())
        assert probe == one_shot
        # the artifact exists and is keyed on the source file
        idx = E._dup_index_dir(sf_dir, 0.95)
        assert os.path.exists(os.path.join(idx, "_BUILT"))
        # the stats report reads the same stored decisions: its doc mass
        # equals the component vertex count
        stats = E.d_dup_cluster_stats(spark, sf_dir).collect()
        assert sum(r["n_docs"] for r in stats) == len(one_shot)

    def test_stale_index_is_rebuilt_on_source_change(self, spark, sf_dir, tmp_path):
        """A different source path (size/mtime key) must yield a
        DIFFERENT index dir — a regenerated corpus can never be probed
        through a stale decision set."""
        import __spark_entry__ as E

        a = E._dup_index_dir(sf_dir, 0.95)
        b = E._dup_index_dir(sf_dir, 0.80)
        assert a != b  # threshold is part of the key


#: ``minhash_dup_decisions`` edge bounds: the default takes the driver
#: union-find, 0 forces the rep graph through the distributed loop.
DECISION_BOUNDS = pytest.mark.parametrize(
    "bound", [{}, {"small_graph_max_edges": 0}], ids=["default", "distributed"]
)


@DECISION_BOUNDS
def test_minhash_dup_decisions_matches_member_level_fixed_point(
    spark, sf_dir, bound
):
    """The rep-level decision operator must reproduce the EXACT converged
    fixed point of the member-level path (expansion + components) — same
    vertex set, same keepers — on a corpus that exercises every vertex
    class: an exact-dup clique, cross-group near-dups, duplicated EMPTY
    docs (never vertices), and unique singletons (never vertices). Both
    components paths of the rep graph are checked."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        minhash_dup_decisions,
        minhash_near_dup_pairs,
        near_dup_components,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.tables import (
        load_table,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # group A: three exact copies (one set-group, m=3 clique)
        (1, base),
        (2, base),
        (7, base),
        # group B: near-dup of A (drops one of ten tokens -> J = 0.9)
        (3, base.rsplit(" ", 1)[0]),
        # empty docs: duplicated but never vertices
        (4, ""),
        (5, ""),
        # unique singleton: not a vertex
        (6, "totally unrelated content nothing shared here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    by_threshold = {}
    for threshold in (0.8, 0.95):
        got = sorted(
            tuple(r)
            for r in minhash_dup_decisions(
                docs, threshold=threshold, **bound
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in near_dup_components(
                minhash_near_dup_pairs(docs, threshold=threshold)
            ).collect()
        )
        assert got == want
        by_threshold[threshold] = dict(got)
    # at 0.8 the near-dup joins the clique's component; keeper is the min
    # (pin the cross-group keeper propagation at the threshold that
    # actually merges the groups — round-12 ADVICE: the old assertion
    # read the 0.95 result, where doc 3 is not even a vertex)
    by_id = by_threshold[0.8]
    assert by_id[3] == by_id[1] == 1
    for t, m in by_threshold.items():
        assert 4 not in m and 5 not in m and 6 not in m, t
    assert 3 not in by_threshold[0.95]
    # and on the real fixture corpus the two paths agree exactly
    corpus = load_table(spark, sf_dir, "documents")
    got = sorted(
        tuple(r)
        for r in minhash_dup_decisions(corpus, threshold=0.95, **bound).collect()
    )
    want = sorted(
        tuple(r)
        for r in near_dup_components(
            minhash_near_dup_pairs(corpus, threshold=0.95)
        ).collect()
    )
    assert got == want


def test_bpe_driver_fit_matches_distributed_loop(spark, monkeypatch):
    """The bounded driver fast path of _bpe_fit must reproduce the
    distributed per-round loop exactly — merge table AND final word
    segmentation — including the a==b overlap islands and the
    (freq DESC, lhs, rhs) tie-break."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators import (
        corpus,
    )

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low aaaa aaaa aaaa ab"),
            (2, "newer newest new low zz zz yy xy xy"),
        ],
        "doc_id long, text string",
    )
    m_fast, s_fast = corpus._bpe_fit(docs, "text", rounds=6)
    fast = (
        sorted(tuple(r) for r in m_fast.collect()),
        sorted((r["w"], r["cnt"], tuple(r["syms"])) for r in s_fast.collect()),
    )
    monkeypatch.setattr(corpus, "BPE_DRIVER_MAX_WORDS", 0)
    m_slow, s_slow = corpus._bpe_fit(docs, "text", rounds=6)
    slow = (
        sorted(tuple(r) for r in m_slow.collect()),
        sorted((r["w"], r["cnt"], tuple(r["syms"])) for r in s_slow.collect()),
    )
    assert fast == slow


@DECISION_BOUNDS
def test_minhash_dup_decisions_null_id_matches_member_level(spark, bound):
    """A NULL doc_id must follow the member-level NULL discipline on the
    rep-level path, under either components path: it never emits a
    decision row (doc_a < doc_b drops NULL pairs) and never counts as a
    pairing partner — a 2-member group whose second member has a NULL id
    behaves like a singleton."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup_similarity import (
        minhash_dup_decisions,
        minhash_near_dup_pairs,
        near_dup_components,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base),          # exact-dup clique with 1
        (None, base),       # NULL id inside the clique's set-group
        (3, base.rsplit(" ", 1)[0]),  # near-dup of the clique at 0.8
        (None, "solitary weird content"),  # NULL-id singleton
        (8, "pair text shared exactly"),
        (None, "pair text shared exactly"),  # 2-member group, one NULL
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for threshold in (0.8, 0.95):
        got = sorted(
            (r["doc_id"], r["keeper_id"])
            for r in minhash_dup_decisions(
                docs, threshold=threshold, **bound
            ).collect()
        )
        want = sorted(
            (r["doc_id"], r["keeper_id"])
            for r in near_dup_components(
                minhash_near_dup_pairs(docs, threshold=threshold)
            ).collect()
        )
        assert got == want
        assert all(d is not None for d, _ in got)
        # doc 8's only co-member has a NULL id -> no decision row
        assert 8 not in dict(got)

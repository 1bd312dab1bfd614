"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard (beyond-reference surface, SURVEY.md SS7 phase 5).

Scale design: exact dedup is one hash-groupBy; MinHash-LSH turns the
O(n^2) pair problem into (a) per-doc signatures (embarrassingly parallel),
(b) an equi-join on band keys (one shuffle), (c) exact verification only on
candidate pairs. SimHash gives 32-bit sketches joinable on bit-prefix
buckets. All hashes are md5-derived — deterministic across engines and
cluster runs, no seed state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .text import tokens

# MinHash configuration: 16 hashes in 4 bands of 4 rows. With band match
# probability 1-(1-s^4)^4 this catches s>=0.9 pairs with >0.98 probability.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4

#: Universal-hash modulus (2^31 - 1, prime). Token base hash is a 48-bit
#: md5 prefix reduced mod P; the i-th "permutation" is the affine map
#: (a_i * m + b_i) mod P. One md5 per token instead of k — the k mixes
#: are two integer ops each, and a_i*m < 2^62 never overflows a signed
#: 64-bit (no ANSI wrap). Both engines replay this exactly.
MINHASH_P = 2_147_483_647


def _uhash_coeffs(k: int = MINHASH_K) -> list[tuple[int, int]]:
    """Fixed (a_i, b_i) pairs, md5-derived so they are reproducible
    constants (not RNG state) and regenerable inside the SQL-oracle
    generator. a_i in [1, P-1], b_i in [0, P-1]."""
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return [
        (h32(f"minhash-a-{i}") % (MINHASH_P - 1) + 1, h32(f"minhash-b-{i}") % MINHASH_P)
        for i in range(k)
    ]


def _token_base_hash(t: Column) -> Column:
    """48-bit md5 prefix of the token, reduced mod P — the single
    per-token digest every permutation mixes from."""
    return F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long") % MINHASH_P


def _perm_hash_int(m: Column, i: int, coeffs: list[tuple[int, int]]) -> Column:
    a, b = coeffs[i]
    return (F.lit(a) * m + F.lit(b)) % MINHASH_P


def with_token_set(df: DataFrame, text_col: str = "text", out: str = "token_set") -> DataFrame:
    return df.withColumn(out, F.array_distinct(tokens(text_col)))


def minhash_signature(
    df: DataFrame, token_set_col: str = "token_set", k: int = MINHASH_K
) -> DataFrame:
    """Append sig0..sig{k-1}: min over the token set of the i-th affine
    mix of the token's base hash.

    Per-row array form (kept for composability on pre-aggregated rows);
    the hot pipeline uses :func:`minhash_signatures` instead — higher-order
    lambdas are interpreted, per-row is the slow path. Values match
    :func:`minhash_signatures` exactly.
    """
    coeffs = _uhash_coeffs(k)
    out = df.withColumn(
        "_mh", F.transform(F.col(token_set_col), lambda t: _token_base_hash(t))
    )
    for i in range(k):
        out = out.withColumn(
            f"sig{i}",
            F.array_min(
                F.transform(F.col("_mh"), lambda m, i=i: _perm_hash_int(m, i, coeffs))
            ),
        )
    return out.drop("_mh")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    token_set_col: str = "token_set",
    k: int = MINHASH_K,
) -> DataFrame:
    """(id, sig0..sig{k-1}) via explode -> one codegen'd md5 -> k affine
    mixes -> groupBy-min.

    Same values as :func:`minhash_signature`, restructured for
    throughput: ONE md5 per exploded token row (not k), the k
    "permutations" are two integer ops each inside the min aggregates,
    and the groupBy's map-side partial aggregation means the shuffle
    carries one row per (doc, partition) — not the exploded tokens
    (explode-vs-lambda measured ~3x on the sf0.1 corpus; the shared
    base hash cuts the md5 count 16x on top).
    """
    coeffs = _uhash_coeffs(k)
    exploded = df.select(id_col, F.explode(token_set_col).alias("_tok")).select(
        id_col, _token_base_hash(F.col("_tok")).alias("_m")
    )
    m = F.col("_m")
    return exploded.groupBy(id_col).agg(
        *[F.min(_perm_hash_int(m, i, coeffs)).alias(f"sig{i}") for i in range(k)]
    )


def lsh_bands(
    df: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """Explode each doc into one row per band; band key = md5(band index ++
    the band's signature rows). Docs sharing any band key are candidates."""
    band_keys = [
        F.md5(
            F.concat_ws(
                "|", F.lit(str(b)), *[F.col(f"sig{b * rows + r}") for r in range(rows)]
            )
        )
        for b in range(bands)
    ]
    return df.withColumn("band", F.explode(F.array(*band_keys)))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two token-set arrays: one integer division ->
    deterministic double."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group identical texts by md5, keep min id as keeper."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def lsh_banding_for(threshold: float) -> tuple[int, int, int]:
    """(k, bands, rows) matched to the verification threshold.

    Banding theory: a pair with Jaccard s collides in one band with
    probability s^rows and in any band with 1-(1-s^rows)^bands. ``rows``
    sets the sharpness of that S-curve: at rows=4 a 0.5-similar pair
    still collides ~25% of the time — fine when hunting s>=0.9 in a
    diverse corpus, but on template-heavy corpora (every doc ~half
    similar to every other) it makes the candidate set quadratic and
    verification the bottleneck. For high thresholds, longer bands keep
    recall >= 0.98 at s=threshold (0.95^8 per band, x4 bands -> 0.987)
    while cutting mid-similarity collisions ~16x (0.5^8 vs 0.5^4).
    Signatures are cheap (two integer ops per extra hash), so k doubles.
    """
    if threshold >= 0.93:
        return 32, 4, 8
    return MINHASH_K, LSH_BANDS, LSH_ROWS


def minhash_group_rep_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    k: int | None = None,
    bands: int | None = None,
    rows: int | None = None,
    tokens_col: str | None = None,
) -> "tuple[DataFrame, DataFrame]":
    """MinHash-LSH chain up to exact verification, at the DISTINCT-SET
    level: returns ``(withg, rep_pairs)`` where ``withg`` is one row per
    doc (``_id``, set-group ``_gid``, token-set size ``_sz``, ``hset``)
    and ``rep_pairs`` is the verified (``_ga``, ``_gb``, ``jaccard``)
    pair set between distinct-set REPRESENTATIVES. Aggregate-only
    consumers (the threshold curve) read these directly — counting
    member pairs combinatorially (m_a*m_b, C(m,2)) instead of
    materializing the member-level expansion, which is quadratic in
    replica count. :func:`minhash_near_dup_pairs` adds the expansion.

    MinHash-LSH near-duplicate pairs, exact-verified.

    Pipeline: token sets -> collapse docs with IDENTICAL token sets ->
    k minhash signatures per distinct set -> band keys -> self-join on
    band -> DISTINCT candidate pairs -> exact Jaccard filter -> expand
    decisions back over set members.

    The collapse step is the production-scale guard: real corpora are
    dominated by identical content (exact dups and reorderings with the
    same token set), and a thousand copies of one document put a
    thousand identical signatures in every one of their band buckets —
    the self-join goes quadratic in copy count. Identical token sets
    have identical signatures, band keys, and Jaccard to any third doc,
    so running LSH + verification once per DISTINCT set and expanding
    afterwards produces the EXACT same pair set (tests pin this against
    the naive per-doc path) while the expensive stages scale with
    distinct content only; the expansion is output-proportional. The
    SQL oracle keeps the straightforward per-doc form.

    ``tokens_col``: pass the name of a pre-tokenized array<string>
    column (whitespace ``tokens(text)`` semantics) to skip both the
    tokenize and the internal repartition — the composite-pipeline
    shape, where one tokenize exchange is shared across stages via
    ReuseExchange (the ``line_frequency_filter`` recipe). The caller
    owns partitioning in that case.
    """
    if k is None or bands is None or rows is None:
        auto_k, auto_b, auto_r = lsh_banding_for(threshold)
        k = auto_k if k is None else k
        bands = auto_b if bands is None else bands
        rows = auto_r if rows is None else rows
    # A small corpus often arrives as ONE parquet split; tokenization and
    # the per-token md5 are the per-row-heavy stages, so exchange the RAW
    # (id, text) rows first — the projection must sit above the
    # repartition or Catalyst evaluates it on the unsplit input. Hash-
    # partitioning by id also balances skewed doc sizes.
    par = df.sparkSession.sparkContext.defaultParallelism
    if tokens_col is None:
        toks = with_token_set(
            df.select(id_col, text_col).repartition(par, id_col), text_col
        )
    else:
        toks = df.select(
            id_col, F.array_distinct(F.col(tokens_col)).alias("token_set")
        )
    # One md5 per token, shared by grouping, signatures AND verification.
    # Jaccard only needs intersection/union SIZES, which are preserved
    # by any injective token mapping — hash each distinct token to a
    # 48-bit long (md5 prefix; within-doc collision odds ~n^2/2^49, nil
    # for real documents) and intersect longs instead: ~4x smaller
    # shuffle rows and long-vs-long equality in the intersect. Sorted,
    # the array IS the set identity (longs are comma-safe to join on,
    # unlike raw tokens which may contain any separator).
    hset = F.array_sort(
        F.transform(
            F.col("token_set"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long"),
        )
    )
    hashed = toks.select(F.col(id_col).alias("_id"), hset.alias("hset")).withColumn(
        "_sk", F.md5(F.array_join("hset", ","))
    )
    # (member id, its set-group id, set size) — one row per doc. The
    # set-group id is a window min over the set key: ONE exchange and no
    # join-back (the former groupBy+broadcast-join needed the pre-collapse
    # rows checkpointed to avoid a double tokenize; the window form makes
    # that checkpoint unnecessary — 5.8 -> 2.1 s cold for the index twin
    # at sf0.1). withg stays checkpointed: signatures, verification and
    # both expansions all re-consume it, and it cuts the raw-text lineage.
    withg = (
        hashed.select(
            "_id",
            F.min("_id").over(Window.partitionBy("_sk")).alias("_gid"),
            F.size("hset").alias("_sz"),
            "hset",
        )
        .localCheckpoint()
    )
    reps = withg.filter(F.col("_id") == F.col("_gid")).select("_gid", "hset")
    coeffs = _uhash_coeffs(k)
    m = F.col("_h") % MINHASH_P
    sigs = (
        reps.select("_gid", F.explode("hset").alias("_h"))
        .groupBy("_gid")
        .agg(*[F.min(_perm_hash_int(m, i, coeffs)).alias(f"sig{i}") for i in range(k)])
    )
    # Band rows carry the set SIZE so the size-compatibility bound can
    # prune INSIDE the band join, before the candidate dedup shuffle:
    # J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so J >= t implies
    # min >= t*max — pure pruning, provably output-preserving (no oracle
    # change needed). On template-heavy corpora where banding can't
    # discriminate (half the corpus shares band keys), this is the guard
    # that keeps the candidate set output-proportional (measured 946k ->
    # 404k candidates, verify 8.2 s -> 4.6 s on the sf0.1 corpus).
    banded = lsh_bands(
        sigs.join(reps.select("_gid", F.size("hset").alias("_sz")), "_gid"),
        bands=bands,
        rows=rows,
    ).select("_gid", "_sz", "band")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, F.col("a.band") == F.col("b.band"))
        .filter(
            (F.col("a._gid") < F.col("b._gid"))
            & (
                F.least(F.col("a._sz"), F.col("b._sz")).cast("double")
                >= F.lit(threshold) * F.greatest(F.col("a._sz"), F.col("b._sz"))
            )
        )
        .select(F.col("a._gid").alias("_ga"), F.col("b._gid").alias("_gb"))
        .distinct()
        # The candidate set is small in BYTES (two longs per row), so AQE
        # coalesces the post-distinct exchange to one partition — and then
        # ONE task runs verification + both expansion joins serially
        # (measured 3.8 s of a 13 s wall at sf0.1). Candidates are small
        # but verify is per-row-heavy (array intersect over token sets):
        # spread them explicitly; the exchange cost is trivial at this
        # width. 13.6 s -> 4.0 s end-to-end at sf0.1.
        .repartition(par)
    )
    # reps is small relative to the candidate set (one row per distinct
    # token set); broadcast it so candidate verification never shuffles
    # the token arrays.
    ra = reps.select(F.col("_gid").alias("_ga"), F.col("hset").alias("set_a"))
    rb = reps.select(F.col("_gid").alias("_gb"), F.col("hset").alias("set_b"))
    rep_pairs = (
        cand.join(F.broadcast(ra), "_ga")
        .join(F.broadcast(rb), "_gb")
        .withColumn("jaccard", jaccard(F.col("set_a"), F.col("set_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("_ga", "_gb", (F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard"))
    )
    return withg, rep_pairs


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    k: int | None = None,
    bands: int | None = None,
    rows: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Member-level near-dup pairs: :func:`minhash_group_rep_pairs`
    plus the expansion back over set members (the original public
    surface; see that function's docstring for the chain)."""
    withg, rep_pairs = minhash_group_rep_pairs(
        df, text_col, id_col, threshold, k, bands, rows, tokens_col
    )
    return _expand_member_pairs(withg, rep_pairs)


def _expand_member_pairs(withg: DataFrame, rep_pairs: DataFrame) -> DataFrame:
    """Member-level expansion of :func:`minhash_group_rep_pairs` output.

    Within a set-group every member pair has Jaccard exactly 1.0
    (nonempty sets; empty sets define Jaccard 0 and never emit, just as
    they never reach the band join — explode drops them). Across two
    groups every member pair inherits the verified rep-pair Jaccard."""
    ma = withg.select("_gid", F.col("_id").alias("doc_a"), "_sz")
    mb = withg.select("_gid", F.col("_id").alias("doc_b"))
    intra = (
        ma.filter(F.col("_sz") > 0)
        .join(mb, "_gid")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
    )
    ea = withg.select(F.col("_gid").alias("_ga"), F.col("_id").alias("_da"))
    eb = withg.select(F.col("_gid").alias("_gb"), F.col("_id").alias("_db"))
    cross = (
        rep_pairs.join(ea, "_ga")
        .join(eb, "_gb")
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


def _union_find_min(edges) -> dict:
    """Driver union-find over ``(a, b)`` edges: map every vertex to the
    minimum vertex of its connected component (union by MIN root, path
    compression). Vertices must be non-NULL and mutually orderable."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {v: find(v) for v in parent}


def minhash_dup_decisions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    k: int | None = None,
    bands: int | None = None,
    rows: int | None = None,
    tokens_col: str | None = None,
    small_graph_max_edges: int = 1_000_000,
) -> DataFrame:
    """Converged dedup decisions ``(doc_id, keeper_id)`` straight from the
    DISTINCT-SET level — the exact fixed point of
    ``near_dup_components(minhash_near_dup_pairs(df))`` without ever
    materializing the member-level pair expansion.

    Why this is the same answer: every set-group is a clique at the
    member level (identical token sets, Jaccard 1.0 between any two
    members), and a verified rep pair (ga, gb) connects EVERY member of
    ga with every member of gb — so the member-level connected components
    are exactly the group-level components expanded over membership. The
    group id ``_gid`` is already the MINIMUM member id of its group
    (``min(_id) over (partition by set-key)``), so the component-minimum
    doc id — the keeper — is the minimum ``_gid`` over the group-level
    component.

    Why it scales better: the member expansion materializes C(m, 2) rows
    per m-replica group (quadratic in replica count — the exact blow-up
    the rep-level machinery exists to avoid) only for the components step
    to collapse them back. Here :func:`near_dup_components` runs on the
    REP graph, whose size tracks distinct-content near-dup density, and
    membership is attached with one broadcast of the (group -> keeper)
    map. ``small_graph_max_edges`` is passed through: above it the rep
    graph takes the distributed components loop.

    Vertex contract (matches the member-level path exactly): a doc gets a
    decision row iff it appears in >= 1 member pair, i.e. its group has
    m >= 2 members with a nonempty token set (intra clique) OR its group
    touches a verified rep pair (cross edges; rep pairs imply nonempty
    sets). Everything else is absent from the output, exactly as before.
    """
    withg, rep_pairs = minhash_group_rep_pairs(
        df, text_col, id_col, threshold, k, bands, rows, tokens_col
    )
    # every keeper is its component's minimum group id (= minimum member id)
    rep_map = near_dup_components(
        rep_pairs,
        id_a="_ga",
        id_b="_gb",
        small_graph_max_edges=small_graph_max_edges,
    ).select(F.col("doc_id").alias("_gid"), F.col("keeper_id").alias("_rep_keeper"))
    # group size via one narrow (id, gid, sz) window — no driver
    # transfer, no array columns; withg is already checkpointed.
    # _m counts NON-NULL member ids and NULL-id members are filtered
    # out: a NULL id never survives the member-level path's
    # doc_a < doc_b pair predicate, so it must neither emit a decision
    # row nor count as a pairing partner here.
    m = F.count("_id").over(Window.partitionBy("_gid"))
    members = withg.select("_id", "_gid", "_sz").withColumn("_m", m)
    return (
        members.join(F.broadcast(rep_map), "_gid", "left")
        .filter(
            F.col("_id").isNotNull()
            & (
                ((F.col("_m") >= 2) & (F.col("_sz") > 0))
                | F.col("_rep_keeper").isNotNull()
            )
        )
        .select(
            F.col("_id").alias("doc_id"),
            F.coalesce(F.col("_rep_keeper"), F.col("_gid")).alias("keeper_id"),
        )
    )


#: exact_jaccard_pairs is an O(n^2) BASELINE (the oracle twin of the
#: banded-LSH scale path) — refuse corpora where all-pairs would melt
#: down instead of silently launching a quadratic join.
EXACT_PAIRS_MAX_ROWS = 20_000


def exact_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    max_rows: int = EXACT_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Brute-force all-pairs n-gram/token Jaccard (the small-data oracle
    twin of minhash_near_dup_pairs; O(n^2) BY DESIGN — use
    :func:`minhash_near_dup_pairs` at scale).

    Guarded: raises ``ValueError`` when the input exceeds ``max_rows``
    (default 20k docs = ~200M candidate pairs, the sane ceiling for an
    exact baseline) so this cannot be pointed at a real corpus by
    accident. The check is a bounded ``limit(max_rows+1).count()`` probe,
    not a full count. Pass a larger ``max_rows`` explicitly to override.
    """
    probe = df.select(id_col).limit(max_rows + 1).count()
    if probe > max_rows:
        raise ValueError(
            f"exact_jaccard_pairs is an O(n^2) baseline: input exceeds"
            f" max_rows={max_rows}; use minhash_near_dup_pairs (banded"
            f" LSH) at scale or pass max_rows explicitly"
        )
    toks = with_token_set(df.select(id_col, text_col), text_col)
    # the inequality join broadcasts one side; the STREAM side of a
    # bounded input is typically ONE parquet split — spread it so the
    # O(n^2) intersect work uses every core, not one (5k docs on one
    # task ran minutes; spread it's seconds)
    par = df.sparkSession.sparkContext.defaultParallelism
    a = toks.select(
        F.col(id_col).alias("doc_a"), F.col("token_set").alias("set_a")
    ).repartition(par)
    b = toks.select(F.col(id_col).alias("doc_b"), F.col("token_set").alias("set_b"))
    # hint the broadcast only inside the DEFAULT guard bound — a caller
    # who explicitly raised max_rows past it opted into a big input, and
    # force-broadcasting that side would hit the broadcast size limit
    # where the planner-chosen join still completes
    if probe <= EXACT_PAIRS_MAX_ROWS:
        b = F.broadcast(b)
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", jaccard(F.col("set_a"), F.col("set_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", (F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard"))
    )


def simhash_sketch(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """``bits``-wide SimHash over the distinct token set (bits % 4 == 0,
    bits <= 60 so the sketch stays a positive BIGINT on every engine).

    Per token: h = first bits/4 hex chars of md5 (deterministic across
    engines). Per doc, bit j of the sketch is 1 iff sum over tokens of
    (+1 if bit j of h else -1) is positive. Implemented as explode ->
    ``bits`` conditional sums -> bit recombination; one shuffle on doc id.
    """
    if bits % 4 or not 0 < bits <= 60:
        raise ValueError("bits must be a multiple of 4 in (0, 60]")
    # single small input file = one split; spread rows before the
    # token-explode + md5 map side so it doesn't run on one core
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = with_token_set(df.select(id_col, text_col).repartition(par), text_col)
    exploded = toks.select(
        id_col, F.explode("token_set").alias("t")
    ).withColumn(
        "h", F.conv(F.substring(F.md5(F.col("t")), 1, bits // 4), 16, 10).cast("long")
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    agg = exploded.groupBy(id_col).agg(*bit_sums)
    sketch = None
    for j in range(bits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        sketch = bit if sketch is None else sketch + bit
    return agg.select(id_col, sketch.alias("simhash"))


def simhash32(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash (the compact per-doc sketch column)."""
    return simhash_sketch(df, text_col, id_col, bits=32)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bucketed: bool = True,
    bits: int = 32,
) -> DataFrame:
    """SimHash near-dup pairs: hamming distance over ``bits``-wide
    sketches (bits % 4 == 0 so the four pigeonhole chunks stay equal
    width).

    Bucketed (default): split the sketch into 4 equal chunks; hamming <=
    3 means at least one chunk is EQUAL (pigeonhole), so candidates come
    from equi-joins on (chunk_index, chunk_value) — one shuffle over 4n
    rows instead of an all-pairs theta join, and the result is *exactly*
    the all-pairs answer, not an approximation. ``bucketed=False`` keeps
    the naive theta join as a small-data cross-check (tests compare the
    two). For max_hamming > 3 the pigeonhole guarantee needs more than 4
    chunks; this implementation fixes 4 and therefore max_hamming <= 3.

    Chunk width is the scale lever: 8-bit chunks (bits=32) have only 256
    values, and on template-heavy corpora one hot bucket can hold half
    the corpus — the equi-join degenerates quadratically (measured 19M
    intermediate rows for 15k output at sf0.1). 15-bit chunks (bits=60)
    give 32768 bucket values, collapsing hot buckets ~128x while keeping
    the exact-pigeonhole guarantee.
    """
    sk = simhash_sketch(df, text_col, id_col, bits=bits)
    if bucketed:
        # both sides of the self-join consume the sketch table; without
        # materialization lineage recomputes the token explode twice
        sk = sk.localCheckpoint()
    if not bucketed:
        a = sk.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sk_a"))
        b = sk.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sk_b"))
        ham = F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
        return (
            a.join(b, F.col("doc_a") < F.col("doc_b"))
            .withColumn("hamming", ham.cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming")
        )
    if max_hamming > 3:
        raise ValueError("bucketed simhash join supports max_hamming <= 3")
    return hamming_near_dup_pairs(
        sk, id_col=id_col, hash_col="simhash", bits=bits,
        max_hamming=max_hamming,
    )


def hamming_near_dup_pairs(
    sk: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bits: int = 60,
    max_hamming: int = 3,
) -> DataFrame:
    """Generic 4-chunk pigeonhole hamming pair join over any
    ``bits``-wide integer sketch column — the shared engine behind
    simhash text near-dup AND media perceptual-hash near-dup
    (multimodal.media_phash). hamming <= 3 means at least one of the 4
    equal-width chunks is EQUAL, so candidates come from equi-joins on
    (chunk_index, chunk_value): one shuffle over 4n rows, output exactly
    the all-pairs answer. Each colliding pair is emitted from its FIRST
    matching chunk via a codegen'd predicate (no distinct shuffle).

    Caller contract: ``sk`` should already be materialized
    (localCheckpoint) if its lineage is expensive — both self-join sides
    consume it. Output: (doc_a, doc_b, hamming), doc_a < doc_b.
    """
    if max_hamming > 3:
        raise ValueError("4-chunk pigeonhole join supports max_hamming <= 3")
    if bits % 4 != 0:
        raise ValueError("bits must be divisible by 4")
    cw = bits // 4
    cmask = (1 << cw) - 1
    chunk = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c")
    ch = sk.select(id_col, hash_col, chunk).withColumn(
        "ckey", F.expr(f"shiftrightunsigned({hash_col}, c * {cw}) & {cmask}")
    )
    a = ch.select(
        F.col(id_col).alias("doc_a"), F.col(hash_col).alias("sk_a"), "c", "ckey"
    )
    b = ch.select(
        F.col(id_col).alias("doc_b"), F.col(hash_col).alias("sk_b"), "c", "ckey"
    )
    # each pair may collide in up to 4 chunks; emit it only from the FIRST
    # matching chunk (a codegen'd predicate on the sketches already in the
    # row) instead of a distinct — saves a full shuffle of the candidate
    # set, which on near-dup-heavy corpora is the dominant cost
    def _chunk_diff(cc: int) -> str:
        return (
            f"(shiftrightunsigned(sk_a, {cc * cw}) & {cmask})"
            f" != (shiftrightunsigned(sk_b, {cc * cw}) & {cmask})"
        )

    # unrolled (codegen-friendly, no interpreted higher-order fn):
    # true iff every chunk before c differs
    pred = f"c = 2 OR ({_chunk_diff(2)})"
    pred = f"c = 1 OR ({_chunk_diff(1)} AND ({pred}))"
    pred = f"c = 0 OR ({_chunk_diff(0)} AND ({pred}))"
    first_match = F.expr(pred)
    ham = F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
    return (
        a.join(b, ["c", "ckey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham.cast("long"))
        .filter((F.col("hamming") <= max_hamming) & first_match)
        .select("doc_a", "doc_b", "hamming")
    )


#: Distributed components loop bounds: pointer jumping converges in
#: ~log2(diameter) rounds, and a label table of up to this many rows
#: (tens of MB) is broadcast to the edges each round instead of
#: shuffling the edge set.
COMPONENTS_MAX_ROUNDS = 20
COMPONENTS_BROADCAST_MAX_LABELS = 1_000_000


def near_dup_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    small_graph_max_edges: int = 1_000_000,
) -> DataFrame:
    """Canonical-keeper selection over the near-dup pair graph: every id
    appearing in ``pairs`` gets a ``keeper_id`` — the minimum id of its
    connected component, the exact converged fixed point for any
    component diameter. Output: (doc_id, keeper_id) in the input id type.

    This is the step that turns PAIRS into DEDUP DECISIONS: keep
    ``keeper_id``, drop the rest of the component. The oracle is the
    ``WITH RECURSIVE`` reachability query ``_components_sql`` in
    __spark_entry__ (min label over each vertex's reachable set).

    While the edge set fits ``small_graph_max_edges`` and carries no NULL
    id, one bounded collect feeds a driver union-find (near-dup edges
    scale with dup density, not corpus size — the bounded-collect
    class). Otherwise a distributed min-label propagation with pointer
    jumping runs until a round changes nothing (at most
    ``COMPONENTS_MAX_ROUNDS``); a NULL endpoint is never connected.
    """
    # The pair set is tiny (near-dup edges) but its lineage is the whole
    # LSH pipeline; verts/edges/rounds reference it 4+ times, so cut the
    # lineage ONCE here or the minhash job re-executes per reference
    # (measured: 123 s -> ~8 s on d_dup_components at sf0.1). The label
    # tables are a few rows per DISTINCT doc — far below one shuffle
    # partition of work — so pin the iteration to a handful of partitions
    # instead of inheriting spark.sql.shuffle.partitions: each round is
    # then a few tasks, not 32x(join+agg+checkpoint) task waves. At real
    # scale the edge set grows with dup density, not corpus size; raise
    # this only if a single partition of labels stops fitting in memory.
    spark = pairs.sparkSession
    pairs = pairs.localCheckpoint()
    # Small-graph fast path: the distributed loop pays ~0.5-1 s of
    # scheduling per round (2 joins + 2 checkpoints + a convergence
    # probe) even when the label table is a few thousand rows. Below the
    # bound, collect the edges once and run min-root union-find on the
    # driver — the SAME fixed point in one action instead of ~4 rounds x
    # 4 jobs. 1M edges = ~16 MB of longs on the driver, the same
    # bounded-collect class as the 1M-label broadcast below (the
    # 10x-replica sf1 graph is 691k edges and took the distributed loop
    # at the old 200k bound: 92 s vs ~15 s through the fast path).
    # The fast path must preserve the INPUT id type (string doc ids are
    # as legitimate as longs) and must not see NULL ids (the union-find
    # cannot order them; the distributed equi-join loop simply never
    # connects them). One bounded collect decides both (an incremental
    # limit: 1 + ~log4(partitions) jobs).
    edge_rows = pairs.select(id_a, id_b).limit(small_graph_max_edges + 1).collect()
    if len(edge_rows) <= small_graph_max_edges and not any(
        a is None or b is None for a, b in edge_rows
    ):
        id_type = pairs.schema[id_a].dataType
        out_schema = StructType(
            [
                StructField("doc_id", id_type, False),
                StructField("keeper_id", id_type, False),
            ]
        )
        return spark.createDataFrame(
            list(_union_find_min(edge_rows).items()), out_schema
        )
    n_part = max(2, min(8, spark.sparkContext.defaultParallelism // 4))
    pairs = pairs.repartition(n_part)
    va = pairs.select(F.col(id_a).alias("v"))
    vb = pairs.select(F.col(id_b).alias("v"))
    # checkpoint verts too: the broadcast-strategy count below and the
    # label init both consume it, and each would otherwise re-run the
    # union+distinct job against the pair checkpoint
    verts = va.union(vb).distinct().localCheckpoint()
    edges = pairs.select(F.col(id_a).alias("v"), F.col(id_b).alias("n")).union(
        pairs.select(F.col(id_b).alias("v"), F.col(id_a).alias("n"))
    ).localCheckpoint()
    labels = verts.withColumn("label", F.col("v"))
    # The label table is one row per distinct near-dup doc — usually FAR
    # smaller than the edge set (quasi-cliques). While it fits a
    # broadcast, ship labels to the edges instead of shuffling the edge
    # set every round: each iteration becomes broadcast-join +
    # map-side-combined min, no wide exchange (measured ~40% off the
    # propagation at sf0.1). Above the bound (two explicit broadcasts per
    # round must fit the driver comfortably) fall back to the shuffle
    # join, which scales to any vertex count.
    bcast = verts.count() <= COMPONENTS_BROADCAST_MAX_LABELS

    def _one_round(labels: DataFrame) -> DataFrame:
        lab_n = labels.select(F.col("v").alias("n"), F.col("label").alias("nl"))
        if bcast:
            lab_n = F.broadcast(lab_n)
        nbr_min = edges.join(lab_n, "n").groupBy("v").agg(F.min("nl").alias("nm"))
        if bcast:
            nbr_min = F.broadcast(nbr_min)
        stepped = labels.join(nbr_min, "v", "left").select(
            "v",
            F.least(
                F.col("label"), F.coalesce(F.col("nm"), F.col("label"))
            ).alias("label"),
            # did this round improve the label? (null nm -> no edge
            # row -> unchanged); drives the convergence check below
            F.coalesce(F.col("nm") < F.col("label"), F.lit(False)).alias(
                "_chg"
            ),
        )
        # pointer jumping: label <- label(label). Labels are always
        # vertex ids inside the component, so the hop stays within it
        # and only accelerates — plain neighbor-min converges in
        # DIAMETER rounds, with the shortcut in ~log2(diameter) (the
        # chains a 100x corpus grows are exactly what this bounds)
        lab_map = stepped.select(
            F.col("v").alias("_lv"), F.col("label").alias("_ll")
        )
        if bcast:
            lab_map = F.broadcast(lab_map)
        return (
            stepped.join(lab_map, stepped["label"] == lab_map["_lv"], "left")
            .select(
                "v",
                F.least(
                    F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))
                ).alias("label"),
                (
                    F.col("_chg")
                    | F.coalesce(F.col("_ll") < F.col("label"), F.lit(False))
                ).alias("_chg"),
            )
            .localCheckpoint()
        )

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        # a converged label table is a fixed point — further rounds are
        # no-ops — so check after EVERY round and stop at the first
        # unchanged one (quasi-clique graphs usually converge in 2)
        labels = _one_round(labels)
        done = 1
        while (
            done < COMPONENTS_MAX_ROUNDS
            and labels.filter(F.col("_chg")).limit(1).count() > 0
        ):
            labels = _one_round(labels)
            done += 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    return labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("keeper_id")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: a persistable LSH index + batch-vs-index probe
# ---------------------------------------------------------------------------

def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    k: int | None = None,
    bands: int | None = None,
    rows: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """The persistable MinHash-LSH index: ONE row per document —
    (doc_id, gid, sz, hset, bands) — written once and probed by every
    subsequent ingest batch via :func:`dedup_against_index`.

    This is the 100 TB shape for CONTINUOUS ingestion:
    ``minhash_near_dup_pairs`` re-hashes the whole corpus per run, which
    is right for a one-shot curation pass but quadratic-in-runs for a
    pipeline landing a daily batch. The index costs the same one pass,
    is plain parquet (or a versioned-table commit), and a new batch's
    index rows ARE its update — ``index.unionByName(minhash_index(new))``
    (append-mode ``commit_version`` for time travel), because every
    column is a pure per-document function of the text.

    Columns: ``gid`` = min doc id among docs with an IDENTICAL token set
    (the distinct-set collapse carried into the artifact — probes join at
    gid level so a thousand copies of one page cost one signature);
    ``sz`` = distinct-token count (drives the in-join size bound);
    ``hset`` = sorted 48-bit token hashes (verification set; ~4x smaller
    than the tokens); ``bands`` = the LSH band keys (array, exploded at
    probe time, so the stored row stays one-per-doc).

    (k, bands, rows) default from ``lsh_banding_for(threshold)`` and
    MUST match between index build and probe.

    Documents whose token set is EMPTY yield no index row (explode drops
    them before signatures) — correct for dedup, since Jaccard with an
    empty set is undefined/0 and such docs can never be near-duplicates;
    the same convention as minhash_near_dup_pairs."""
    if k is None or bands is None or rows is None:
        auto_k, auto_b, auto_r = lsh_banding_for(threshold)
        k = auto_k if k is None else k
        bands = auto_b if bands is None else bands
        rows = auto_r if rows is None else rows
    par = df.sparkSession.sparkContext.defaultParallelism
    if tokens_col is None:
        toks = with_token_set(
            df.select(id_col, text_col).repartition(par, id_col), text_col
        )
    else:
        toks = df.select(
            id_col, F.array_distinct(F.col(tokens_col)).alias("token_set")
        )
    hset = F.array_sort(
        F.transform(
            F.col("token_set"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long"),
        )
    )
    hashed = toks.select(F.col(id_col).alias("doc_id"), hset.alias("hset")).withColumn(
        "_sk", F.md5(F.array_join("hset", ","))
    )
    # gid via window min over the set key (one exchange, no groupBy+join
    # back, no pre-collapse checkpoint — 5.8 -> 2.1 s cold at sf0.1); the
    # signature branch and the membership branch both sit above the SAME
    # _sk exchange, so ReuseExchange runs the tokenize once.
    withg = hashed.select(
        "doc_id", F.min("doc_id").over(Window.partitionBy("_sk")).alias("gid"), "hset"
    )
    reps = withg.filter(F.col("doc_id") == F.col("gid")).select("gid", "hset")
    coeffs = _uhash_coeffs(k)
    m = F.col("_h") % MINHASH_P
    sigs = (
        reps.select("gid", F.explode("hset").alias("_h"))
        .groupBy("gid")
        .agg(*[F.min(_perm_hash_int(m, i, coeffs)).alias(f"sig{i}") for i in range(k)])
    )
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[F.col(f"sig{b * rows + r}") for r in range(rows)],
                )
            )
            for b in range(bands)
        ]
    )
    gid_bands = sigs.select("gid", band_keys.alias("bands"))
    return (
        withg.select("doc_id", "gid", F.size("hset").alias("sz"), "hset")
        .join(gid_bands, "gid")
        .select("doc_id", "gid", "sz", "hset", "bands")
    )


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    k: int | None = None,
    bands: int | None = None,
    rows: int | None = None,
    broadcast_new: bool = True,
) -> DataFrame:
    """Near-dup pairs between an ingest batch and an existing corpus
    index: (new_id, index_id, jaccard) with jaccard >= threshold —
    WITHOUT re-hashing the corpus.

    Probe plan: build the batch's own index rows (same pure functions),
    band-join at GID level (both sides' distinct-set representatives
    only), prune with the Jaccard size bound inside the join, verify
    exact Jaccard on the candidate gid pairs, then expand to doc pairs
    through both membership tables. The corpus side streams: one explode
    of stored band arrays + one equi-join, no shuffle of hsets (gid
    verification rows join by key). With ``broadcast_new`` (a daily
    batch vs a corpus: new << index) every corpus-side step is
    broadcast-joined, so the probe never shuffles the index at all.

    The SAME (threshold, k, bands, rows) as the index build is required;
    mismatched banding silently misses pairs, so pass explicitly when
    the index was built with explicit values."""
    nb = minhash_index(
        new_docs, text_col, id_col, threshold, k=k, bands=bands, rows=rows
    ).localCheckpoint()
    new_reps = nb.filter(F.col("doc_id") == F.col("gid")).select(
        F.col("gid").alias("_ng"),
        F.col("sz").alias("_nsz"),
        F.col("hset").alias("_nset"),
        "bands",
    )
    idx_reps = index.filter(F.col("doc_id") == F.col("gid")).select(
        F.col("gid").alias("_ig"),
        F.col("sz").alias("_isz"),
        F.col("hset").alias("_iset"),
        "bands",
    )
    nbands = new_reps.select(
        "_ng", "_nsz", F.explode("bands").alias("band")
    )
    if broadcast_new:
        nbands = F.broadcast(nbands)
    ibands = idx_reps.select("_ig", "_isz", F.explode("bands").alias("band"))
    par = new_docs.sparkSession.sparkContext.defaultParallelism
    cand = (
        ibands.join(nbands, "band")
        .filter(
            F.least(F.col("_nsz"), F.col("_isz")).cast("double")
            >= F.lit(threshold) * F.greatest(F.col("_nsz"), F.col("_isz"))
        )
        .select("_ng", "_ig")
        .distinct()
        # candidates are small in BYTES (two longs) so AQE coalesces the
        # post-distinct exchange to ~2 tasks, but verification is per-row
        # HEAVY (array_intersect over token hash sets) — spread it
        # explicitly, same lesson as minhash_near_dup_pairs.
        .repartition(par)
    )
    nv = new_reps.select("_ng", "_nset")
    pairs = (
        cand.join(F.broadcast(nv) if broadcast_new else nv, "_ng")
        .join(idx_reps.select("_ig", "_iset"), "_ig")
        .withColumn("jaccard", jaccard(F.col("_nset"), F.col("_iset")))
        .filter(F.col("jaccard") >= threshold)
        .select("_ng", "_ig", (F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard"))
    )
    nm = nb.select(F.col("gid").alias("_ng"), F.col("doc_id").alias("new_id"))
    im = index.select(F.col("gid").alias("_ig"), F.col("doc_id").alias("index_id"))
    return (
        pairs.join(F.broadcast(nm) if broadcast_new else nm, "_ng")
        .join(im, "_ig")
        .select("new_id", "index_id", "jaccard")
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Substring-duplication spans — the position-level dedup from
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022; reimplemented from the paper's description on DataFrame
    ops, not their suffix-array code): every token position covered by a
    token ``width``-gram occurring >= ``min_count`` times corpus-wide,
    merged into maximal NON-OVERLAPPING per-document spans (flagged
    grams whose starts are within ``width`` of each other overlap in
    coverage and merge). Downstream, a pipeline cuts these spans out of
    the training text (doc-level dedup misses boilerplate shared across
    otherwise-distinct pages).

    The suffix array of the paper is a single-machine construction; the
    distributed equivalent is gram-hash counting: posexplode the token
    ``width``-grams (60-bit md5 prefix — collision-flag probability
    negligible below ~1e9 corpus grams, see inline note), count per
    hash (ONE partial-aggregable shuffle — the hot "all docs share this
    header" gram collapses map-side), semi-join the duplicated hashes
    back to positions, and merge coverage-overlapping runs with a
    gap-count islands pass. Documents shorter than ``width`` tokens
    cannot carry a span and are filtered before the explode.

    Output: (id_col, span_start, span_end, n_dup_grams) — token
    positions, 1-based inclusive; span_end = last covered token.
    """
    from pyspark.sql import Window

    ts = tokens(text_col)
    n = F.size("ts")
    grams = F.transform(
        F.sequence(F.lit(1), n - (width - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("ts"), i, width)),
    )
    # 60-bit prefix (15 hex): at ~1e9 corpus grams the expected number of
    # colliding gram pairs is n^2/2^61 ~ 0.2 — false-positive flags stay
    # negligible at the repo's target scale (48 bits would yield
    # thousands there)
    gh = F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10).cast("long")
    # single small input file = ONE split: spread the per-row-heavy work
    # (tokenize + 8-gram concat + md5 per position) across the cluster
    # before the explode (performance playbook; 6.0 s -> 1.5 s at sf0.01)
    par = df.sparkSession.sparkContext.defaultParallelism
    pos = (
        df.select(F.col(id_col), ts.alias("ts"))
        .filter(n >= width)
        .repartition(par)
        .select(F.col(id_col), F.posexplode(grams).alias("_i", "gram"))
        .select(
            F.col(id_col),
            (F.col("_i") + 1).cast("long").alias("pos"),
            gh.alias("gh"),
        )
    )
    # counting and the probe both consume the explode; cut the lineage so
    # tokenization+hashing runs once
    pos = pos.localCheckpoint()
    dup = (
        pos.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("gh")
    )
    flagged = pos.join(dup, "gh").select(id_col, "pos")
    # islands over gram COVERAGE, not start adjacency: a gram at pos
    # covers tokens [pos, pos+width-1], so two flagged grams overlap (and
    # must merge into one maximal span) whenever their starts differ by
    # <= width — the island id is a running count of larger gaps
    w = Window.partitionBy(id_col).orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    with_flag = flagged.select(
        F.col(id_col),
        F.col("pos"),
        F.when(gap.isNull() | (gap > width), 1).otherwise(0).alias("_new"),
    )
    isl = F.sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ).alias("_isl")
    return (
        with_flag.select(F.col(id_col), F.col("pos"), isl)
        .drop("_new")
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(width - 1)).alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
        )
        .drop("_isl")
    )

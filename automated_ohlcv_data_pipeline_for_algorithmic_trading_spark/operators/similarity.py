"""Similarity search over embedding columns (beyond-reference surface):
brute-force cosine top-k as the exact baseline, and a deterministic
random-hyperplane LSH bucketing as the scale path.

Vectors are ``array<float>`` columns; all math is native Spark array
expressions (``zip_with`` products + sequential ``aggregate`` folds) in
double precision — JVM-side, no UDFs. The brute-force path is a broadcast
cross-join of the (small) query set against the corpus: at 100 TB the
corpus stays partitioned, queries broadcast, and each executor scans its
shard once — the classic exact-kNN plan. The LSH path cuts the scanned
fraction to matching buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import davg, q6


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential left-fold dot product (deterministic order).

    With a SMALL ``dim`` given, the fold is UNROLLED into the literal
    expression ``((0.0 + a[0]*b[0]) + a[1]*b[1]) + ...`` — the exact
    same IEEE op sequence the runtime fold executes (bit-identical
    results, including signed-zero and NULL propagation), but
    whole-stage-codegen'd instead of interpreted lambda steps per
    element. Pass it on per-candidate hot paths where the vector width
    is statically known (guide §4: higher-order functions are
    interpreted). Only dims <= 16 unroll: each element access carries
    its own null/bounds checks, so a 64-dim unroll produces a ~320-node
    expression that misses whole-stage codegen and evaluates SLOWER than
    the fold (measured 2.5x worse on the IVF assignment at dim=64,
    ~25% better on the 4-dim PQ subspaces)."""
    if dim is not None and dim <= 16:
        e: Column = F.lit(0.0)
        for i in range(dim):
            e = e + a[i] * b[i]
        return e
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    emb = _as_double(F.col(vec_col))
    return df.withColumn("_emb", emb).withColumn("_norm", l2_norm(F.col("_emb")))


#: brute_force_knn does |queries| x |corpus| exact work — linear in the
#: corpus (the legitimate exact-scan plan) but quadratic if the "query"
#: set is the corpus itself. Refuse oversized query sets.
BRUTE_KNN_MAX_QUERIES = 10_000


def brute_force_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    max_queries: int = BRUTE_KNN_MAX_QUERIES,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus, rank per query.

    Guarded: raises ``ValueError`` when the QUERY side exceeds
    ``max_queries`` (default 10k) — one corpus scan per query batch is
    the legitimate exact-kNN plan, but pointing the corpus at itself
    turns it into an all-pairs O(n^2) job; that path belongs to the
    bucketed indexes (LSH/IVF/SQ8/PQ). Bounded ``limit().count()``
    probe; pass ``max_queries`` explicitly to override.

    Output: (query_id, neighbor_id, cosine, rank) with rank 1..k by
    cosine desc (ties broken by neighbor id for determinism).
    """
    probe = queries.select(id_col).limit(max_queries + 1).count()
    if probe > max_queries:
        raise ValueError(
            f"brute_force_knn query set exceeds max_queries={max_queries}:"
            f" use an ANN index (ivf_probe/lsh/sq8/pq) for corpus-scale"
            f" query sets or pass max_queries explicitly"
        )
    q = with_norm(queries.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_emb").alias("q_emb"),
        F.col("_norm").alias("q_norm"),
    )
    c = with_norm(corpus.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_emb").alias("c_emb"),
        F.col("_norm").alias("c_norm"),
    )
    pairs = c.join(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            q6("_cos", "cosine"),
            "rank",
        )
    )


def _cell_dist2(x: Column, c: Column) -> Column:
    """Squared L2 distance via ``|x|^2 + |c|^2 - 2<x,c>`` with sequential
    fold dots — the exact expression the DuckDB oracle replays with
    ``list_dot_product``, so assignments are bit-identical cross-engine."""
    return dot(x, x) + dot(c, c) - F.lit(2.0) * dot(x, c)


def _assign_cells(
    base: DataFrame, cents: DataFrame, dim: int | None = None
) -> DataFrame:
    """Nearest-centroid assignment: (_vid, _x) x broadcast(cell, centroid)
    -> (_vid, _x, _cell), ties broken by lowest cell id.

    min_by over a (d2, cell) struct rather than a row_number window: an
    aggregation gets map-side partial combine and needs no per-key sort —
    at n x n_lists candidate rows the window's shuffle-and-sort is the
    fit's hot spot. |x|^2 and |c|^2 are folded ONCE per row/centroid
    before the join (identical bits, same fold) instead of per candidate
    pair — the pairwise work drops to the single cross dot."""
    j = base.withColumn("_xx", dot(F.col("_x"), F.col("_x"), dim=dim)).join(
        F.broadcast(
            cents.withColumn(
                "_cc", dot(F.col("centroid"), F.col("centroid"), dim=dim)
            )
        )
    )
    scored = j.withColumn(
        "_d2",
        F.col("_xx") + F.col("_cc")
        - F.lit(2.0) * dot(F.col("_x"), F.col("centroid"), dim=dim),
    )
    pick = F.min_by(
        F.struct(F.col("cell").alias("c"), F.col("_x").alias("x")),
        F.struct(F.col("_d2"), F.col("cell")),
    )
    return (
        scored.groupBy("_vid")
        .agg(pick.alias("_p"))
        .select("_vid", F.col("_p.x").alias("_x"), F.col("_p.c").alias("_cell"))
    )


def seeded_centroids(
    corpus: DataFrame,
    n_lists: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Deterministic Lloyd's k-means coarse quantizer, DataFrame-only.

    - init: the ``n_lists`` corpus vectors with smallest ``(md5(id), id)``
      — an order-independent pseudo-random sample any engine reproduces;
    - ``n_iter`` fixed Lloyd iterations; per-dim means via exact decimal
      sums (partition-count-invariant, see functions/exact.py);
    - assignment distance through :func:`_cell_dist2` sequential dots.

    Unlike ``pyspark.ml`` KMeans (whose k-means|| init and double
    accumulation depend on partitioning), the result is bit-identical on
    any cluster size AND replayable in plain SQL — ``_ivf_ann_sql`` in
    ``__spark_entry__`` regenerates the same centroids inside DuckDB, so
    even the *approximate* IVF query has an exact oracle. Cells that lose
    all members simply drop out on both engines. Returns
    ``(cell int, centroid array<double>)``.
    """
    base = _prepared_base(corpus, id_col, vec_col)
    return _seeded_fit(base, n_lists, n_iter, dim=dim)


def _prepared_base(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(_vid, _x double-array) spread across cores and MATERIALIZED
    (localCheckpoint): the k-means fit consumes it once per Lloyd
    iteration and the corpus assignment once more — without the
    checkpoint every consumer re-ran the scan + repartition + cast
    pipeline (guide §5: cut lineage that is re-read several times). At
    100 TB the fit input is a corpus SAMPLE (see callers), so the
    materialization is bounded by the sample where it matters."""
    # spread a single-file corpus across cores before the per-row-heavy
    # assignment folds (one parquet file = one input split otherwise)
    par = corpus.sparkSession.sparkContext.defaultParallelism
    return (
        corpus.select(
            F.col(id_col).alias("_vid"), _as_double(F.col(vec_col)).alias("_x")
        )
        .repartition(par, "_vid")
        .localCheckpoint()
    )


def _seeded_fit(
    base: DataFrame, n_lists: int, n_iter: int, dim: int | None = None
) -> DataFrame:
    """Deterministic Lloyd fit over a prepared (_vid, _x) base — the body
    of :func:`seeded_centroids`, shared so index builders can reuse ONE
    checkpointed base for fit + assignment."""
    seeded = base.withColumn(
        "_h", F.md5(F.col("_vid").cast("string").cast("binary"))
    )
    # bottom-k by hash (TakeOrdered — no full sort at scale), then number
    # the k seed rows from ONE scalar aggregate: array_sort on the
    # (_h, _vid, _x) struct is exactly ORDER BY _h, _vid (md5 is unique,
    # later fields never compared) and posexplode's position is the
    # 0-based cell id — no ungrouped window over the seeds.
    seeds = seeded.orderBy("_h", "_vid").limit(n_lists)
    cents = (
        seeds.agg(
            F.array_sort(
                F.collect_list(F.struct("_h", "_vid", "_x"))
            ).alias("_a")
        )
        .select(F.posexplode("_a").alias("cell", "_s"))
        .select("cell", F.col("_s._x").alias("centroid"))
    )
    for _ in range(n_iter):
        assigned = _assign_cells(base, cents, dim=dim)
        # explode + two cheap aggs beats 64 decimal agg columns in one
        # groupBy (measured: wide decimal buffers cost more than the
        # exploded shuffle, which partial-agg compresses to cells x dims)
        el = assigned.select("_cell", F.posexplode("_x").alias("_pos", "_val"))
        dims = el.groupBy("_cell", "_pos").agg(davg("_val", "_m"))
        cents = (
            dims.groupBy("_cell")
            .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_pm"))
            .select(
                F.col("_cell").alias("cell"),
                F.transform("_pm", lambda s: s["_m"]).alias("centroid"),
            )
        )
    # materialize the <= n_lists centroid rows (same driver-side footprint
    # as pyspark.ml's clusterCenters()): downstream corpus assignment and
    # query probing both consume the table, and without this each would
    # re-execute the whole iterative lineage.
    rows = [(r["cell"], list(r["centroid"])) for r in cents.collect()]
    return base.sparkSession.createDataFrame(
        rows, "cell int, centroid array<double>"
    )


def ivf_index(
    corpus: DataFrame,
    n_lists: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit: str = "seeded",
    seed: int = 42,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable IVF index: ``(centroids, assignments)``.

    ``centroids``: (cell int, centroid array<double>) — tiny, broadcast
    at probe time. ``assignments``: (vec_id, cell, vec, norm) — one row
    per corpus vector with its cell id and pre-folded L2 norm.

    This is the index LIFECYCLE split the at-scale deployment needs: the
    k-means fit + corpus assignment is the expensive one-off pass; every
    later query batch probes the stored tables via :func:`ivf_probe`
    without re-fitting or re-assigning anything. Write ``assignments``
    with ``partitionBy("cell")`` (or commit both as versioned tables):
    the probe's cell equi-join against a broadcast probe set then prunes
    unprobed cell partitions at the scan (dynamic partition pruning) —
    each query batch physically reads ~n_probe/n_lists of the corpus.
    """
    if fit == "ml":
        cdf = _ml_kmeans_centroids(corpus, n_lists, id_col, vec_col, seed)
        base = _prepared_base(corpus, id_col, vec_col)
    else:
        # ONE checkpointed base feeds the Lloyd fit AND the corpus
        # assignment — previously each re-ran the scan + repartition
        base = _prepared_base(corpus, id_col, vec_col)
        cdf = _seeded_fit(base, n_lists, n_iter, dim=dim)
    assignments = _assign_cells(base, cdf, dim=dim).select(
        F.col("_vid").alias("vec_id"),
        F.col("_cell").alias("cell"),
        F.col("_x").alias("vec"),
        l2_norm(F.col("_x")).alias("norm"),
    )
    return cdf, assignments


def ivf_probe(
    queries: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Probe a stored IVF index: each query ranks the ``n_probe``
    nearest cells' members by exact cosine. Consumes the tables
    :func:`ivf_index` builds (in memory or re-read from parquet —
    bit-identical either way)."""
    corpus_cells = assignments.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("_cvec"),
        F.col("cell").alias("_cell"),
        F.col("norm").alias("_cnorm"),
    )
    qbase = queries.select(
        F.col(id_col).alias("_vid"), _as_double(F.col(vec_col)).alias("_x")
    )
    jq = qbase.join(F.broadcast(centroids))
    wq = Window.partitionBy("_vid").orderBy(F.col("_d2").asc(), F.col("cell").asc())
    probes = (
        jq.withColumn("_d2", _cell_dist2(F.col("_x"), F.col("centroid")))
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select(F.col("_vid").alias("query_id"), F.col("_x").alias("_qvec"),
                F.col("cell").alias("_cell"),
                l2_norm(F.col("_x")).alias("_qnorm"))
    )
    pairs = corpus_cells.join(F.broadcast(probes), "_cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = dot(F.col("_qvec"), F.col("_cvec"), dim=dim) / (
        F.col("_qnorm") * F.col("_cnorm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", q6("_cos", "cosine"), "rank")
    )


def ivf_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit: str = "seeded",
    n_iter: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate kNN: a coarse quantizer over the
    corpus; each query scans only its ``n_probe`` nearest cells.

    ``fit="seeded"`` (default) uses :func:`seeded_centroids` — the
    deterministic, oracle-replayable quantizer. ``fit="ml"`` uses
    ``pyspark.ml`` KMeans (converged centroids, engine-dependent bits).
    One-shot composition of :func:`ivf_index` + :func:`ivf_probe` —
    persist the index parts for repeated query batches. Output matches
    brute_force_knn's shape; recall is validated against it in tests.
    """
    cdf, assignments = ivf_index(
        corpus, n_lists, n_iter, id_col, vec_col, fit=fit, seed=seed, dim=dim
    )
    return ivf_probe(
        queries, cdf, assignments, k, n_probe, id_col, vec_col, dim=dim
    )


def _ml_kmeans_centroids(
    corpus: DataFrame, n_lists: int, id_col: str, vec_col: str, seed: int
) -> DataFrame:
    """pyspark.ml KMeans fit -> (cell, centroid) table (converged but
    engine/partitioning-dependent — not oracle-replayable)."""
    from pyspark.ml.clustering import KMeans

    from pyspark.ml.functions import array_to_vector

    to_vec = array_to_vector(_as_double(F.col(vec_col)))
    # spread the corpus across cores before the iterative fit — a single
    # small input file would otherwise serialize every k-means pass
    par = corpus.sparkSession.sparkContext.defaultParallelism
    corpus_v = (
        corpus.select(id_col, vec_col).repartition(par).withColumn("_v", to_vec)
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="_v", predictionCol="_cell")
    model = km.fit(corpus_v)
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(
        centroids, "cell int, centroid array<double>"
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_planes: int | None = None,
    lsh_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cosine) with
    cosine >= threshold and a < b.

    ``lsh_planes=None`` does exact all-pairs (the validation baseline);
    with planes set, candidates come from multi-table hyperplane buckets
    first — the scale path: high-cosine pairs collide in some table with
    probability 1-(1-(1-theta/pi)^planes)^tables, and only candidates pay
    the exact cosine."""
    base = df.select(id_col, vec_col)
    n = with_norm(base, vec_col)
    a = n.select(
        F.col(id_col).alias("doc_a"),
        F.col("_emb").alias("emb_a"),
        F.col("_norm").alias("norm_a"),
    )
    b = n.select(
        F.col(id_col).alias("doc_b"),
        F.col("_emb").alias("emb_b"),
        F.col("_norm").alias("norm_b"),
    )
    if lsh_planes is None:
        pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    else:
        # materialize the (n rows) bucket table once — both sides of the
        # self-join consume it, and lineage would recompute the plane
        # dots per side otherwise
        buckets = hyperplane_buckets(
            base, lsh_planes, dim, vec_col, lsh_tables
        ).localCheckpoint()
        ba = buckets.select(F.col(id_col).alias("doc_a"), "bucket")
        bb = buckets.select(F.col(id_col).alias("doc_b"), "bucket")
        cand = (
            ba.join(bb, "bucket")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        pairs = cand.join(a, "doc_a").join(b, "doc_b")
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        pairs.withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select("doc_a", "doc_b", q6("_cos", "cosine"))
    )


# ---------------------------------------------------------------------------
# LSH (random hyperplane) bucketing — the approximate scale path
# ---------------------------------------------------------------------------

def _hyperplane_component(plane: int, dim: int) -> int:
    """Deterministic pseudo-random INTEGER weight in [-10000, 10000]
    derived from md5 of (plane, dim) — the numerator of a [-1, 1)
    component; the 1/10000 scale cancels in the bucket sign test.
    Reproducible on any engine/cluster without seed state. Kept as the
    Python reference; :func:`hyperplane_weights` computes the same
    formula JVM-side and the oracle SQL replays it in DuckDB."""
    import hashlib

    h = hashlib.md5(f"p{plane}d{dim}".encode()).hexdigest()[:8]
    return int(h, 16) % 20001 - 10000


def hyperplane_weights(spark, n_total_planes: int, dim: int) -> DataFrame:
    """(plane, pos, w) INTEGER weight table generated entirely JVM-side:
    w = md5int('p{plane}d{pos}') % 20001 - 10000, i.e. the plane
    component times 10000. The positive scale factor cancels in the
    sign test, so buckets are identical to the real-valued plane
    (md5int % 20001 - 10000)/10000 — but the dot reduction can run in
    exact BIGINT arithmetic (see hyperplane_buckets).

    Replaces a driver-built literal DataFrame (n_planes*dim Python rows
    serialized + re-broadcast per query) with a range cross-product the
    executors compute — no Python in the loop and a few ms of plan time."""
    planes = spark.range(n_total_planes).select(F.col("id").cast("int").alias("plane"))
    poss = spark.range(dim).select(F.col("id").cast("int").alias("pos"))
    key = F.concat(
        F.lit("p"), F.col("plane").cast("string"),
        F.lit("d"), F.col("pos").cast("string"),
    )
    w = (
        F.conv(F.substring(F.md5(key.cast("binary")), 1, 8), 16, 10).cast("long")
        % 20001 - 10000
    )
    return planes.crossJoin(poss).withColumn("w", w)


def hyperplane_buckets(
    df: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    n_tables: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """LSH bucket assignment -> (id_col, bucket) rows, one per table:
    bit p of table t's bucket = sign(dot(plane_{t,p}, vec)).

    Implemented as posexplode + broadcast join against a small plane-weight
    table + two hash aggregations — every step whole-stage-codegen'd. (A
    per-row higher-order-function fold over literal plane arrays is ~2000
    interpreted lambda steps per vector — measured ~4x slower even at
    bench scale, and it is the per-row cost that multiplies at 100 TB.
    A pivoted single-aggregate variant — (pos, ws array) weights, one
    groupBy(id) with n_total sum(ival * element_at(ws, p)) columns, no
    join blowup — was also measured ~1.6x SLOWER than this shape at
    sf0.1: 32 independent agg buffers with per-update array indexing cost
    more than the extra 32x-row map side of plain long sums, which
    partial aggregation collapses before the shuffle anyway.)

    The per-plane dot runs in EXACT INTEGER arithmetic: components
    quantize to micro-units (round(val * 1e6) as BIGINT — hoisted to the
    exploded projection so the quantization runs once per (row, dim), not
    once per joined plane row) and weights are the integer numerators
    from hyperplane_weights, so the sign test `dot > 0` is a BIGINT
    comparison — order-independent by construction, bit-identical on any
    engine/partitioning (max |term| ~1e6 * 1e4 * dim stays far under
    2^63).

    Similar vectors collide in one table with probability
    (1 - theta/pi)^planes; OR-amplification over ``n_tables`` tables
    lifts recall to 1 - (1 - p)^tables while keeping each table's
    candidate set ~n/2^planes.

    Implementation (guide §4.2): ONE Arrow ``mapInPandas`` pass whose
    body is a single integer GEMM per batch — vectors quantize to
    micro-unit int64 (``floor(val*1e6 + 0.5)``, the identical IEEE ops
    the JVM expression computed) and multiply against the full
    (n_tables*n_planes) x dim integer weight matrix, so all plane dots
    for a vector come out of one BLAS call. Exactness is unchanged:
    int64 products |ival|*1e4*dim stay far below 2^63, so the sign test
    is the same BIGINT comparison as the previous exploded-join form
    (which materialized rows x dim x planes join rows through two hash
    aggregates — measured 2-4x slower at sf0.1 and the per-row cost is
    what multiplies at 100 TB; see the r13 plan diffs). The weight
    matrix is the driver-side twin of :func:`hyperplane_weights` —
    n_total*dim ints, centroid-table-sized.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    n_total = n_tables * n_planes
    weights = np.array(
        [
            [_hyperplane_component(p, d) for d in range(dim)]
            for p in range(n_total)
        ],
        dtype=np.int64,
    )
    id_type = df.schema[id_col].dataType.simpleString()
    # a single small parquet file is one input split; spread the GEMM
    # batches across cores
    src = df.repartition(spark.sparkContext.defaultParallelism).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_x")
    )
    pow2 = 1 << n_planes
    bitvals = (1 << np.arange(n_planes, dtype=np.int64))

    def op(batches):
        for pdf in batches:
            # NULL vectors contribute no bucket rows (the exploded-join
            # form emitted nothing for them: posexplode of NULL is empty)
            pdf = pdf[pdf["_x"].notna()]
            if not len(pdf):
                continue
            x = np.stack(pdf["_x"].to_numpy())
            q = np.floor(x * 1e6 + 0.5).astype(np.int64)
            bits = (q @ weights.T) > 0  # n x n_total exact int64 dots
            frames = []
            for t in range(n_tables):
                seg = bits[:, t * n_planes : (t + 1) * n_planes]
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col],
                            "bucket": t * pow2 + seg @ bitvals,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    return src.mapInPandas(op, schema=f"{id_col} {id_type}, bucket long")


def lsh_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
) -> DataFrame:
    """Approximate top-k: candidates are the union over ``n_tables`` LSH
    tables of same-bucket vectors, exact cosine ranking within candidates.
    Recall vs brute_force_knn is validated in tests.

    ``query_filter``: when the query set IS a filtered subset of
    ``corpus`` (self-kNN — the common production shape: "nearest
    neighbors of these N docs within the corpus"), pass the predicate
    here (``queries`` is then ignored): both sides of the candidate join
    filter the SAME corpus bucket plan, so Spark's ReuseExchange computes
    the bucket shuffle once and the query side is a re-read of it — one
    bucket job instead of two, no materialization barrier, bit-identical
    buckets by construction."""
    if query_filter is not None:
        cb_all = hyperplane_buckets(
            corpus.select(id_col, vec_col), n_planes, dim, vec_col, n_tables, id_col
        )
        qb = cb_all.filter(query_filter).select(
            F.col(id_col).alias("query_id"), "bucket"
        )
        cb = cb_all.select(F.col(id_col).alias("neighbor_id"), "bucket")
        queries = corpus.filter(query_filter)
    else:
        qb = hyperplane_buckets(
            queries.select(id_col, vec_col), n_planes, dim, vec_col, n_tables, id_col
        ).select(F.col(id_col).alias("query_id"), "bucket")
        cb = hyperplane_buckets(
            corpus.select(id_col, vec_col), n_planes, dim, vec_col, n_tables, id_col
        ).select(F.col(id_col).alias("neighbor_id"), "bucket")
    # candidate ids via bucket equi-join (dedup across tables), then fetch
    # vectors once per candidate pair
    cand = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cvec = with_norm(corpus.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_emb").alias("c_emb"),
        F.col("_norm").alias("c_norm"),
    )
    qvec = with_norm(queries.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_emb").alias("q_emb"),
        F.col("_norm").alias("q_norm"),
    )
    pairs = cand.join(cvec, "neighbor_id").join(F.broadcast(qvec), "query_id")
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", q6("_cos", "cosine"), "rank")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector (class centroids) with exact per-dimension
    decimal sums — the vector-column aggregation a training pipeline runs
    for class prototypes, cluster seeding, and embedding-drift checks.

    Shape at scale: posexplode -> ONE hash aggregate on (label, dim)
    (map-side combine collapses each partition to labels x dims rows) ->
    per-label reassembly of the (dim, mean) pairs into an ordered array.
    The reassembly's collect_list is order-nondeterministic, so the array
    is rebuilt by SORTING the (dim, mean) structs — making the result,
    like every reduction here, partition-count invariant and exactly
    replayable in SQL (`list(x ORDER BY dim)` on the DuckDB side).

    Output: (label, n_vectors, centroid array<double>).
    """
    dims = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"),
    )
    per_dim = dims.groupBy("label", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.min("_n").alias("n_vectors"),
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("mean")))
            ).alias("_pairs"),
        )
        .select(
            "label",
            "n_vectors",
            F.transform(F.col("_pairs"), lambda p: p["mean"]).alias("centroid"),
        )
    )


def sq8_quantize(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 scalar quantization (the FAISS SQ8 idea, per-vector
    scale): q_i = floor(x_i / max|x| * 127 + 0.5), so every component
    lands in [-127, 127] and the whole codebook is 4x smaller than
    float32 (8x smaller than the double math it replaces at scan time).

    Determinism contract: multiply/divide/floor are plain IEEE ops —
    bit-identical in any engine — so the quantized codes, and therefore
    everything computed FROM them, replay exactly in the DuckDB oracle
    (no RNG, no train step). An all-zero vector quantizes to all zeros.

    Output: (id, q [array<long>], qn [double] — the L2 norm of q).

    100 TB shape: a pure per-row projection (no shuffle); the quantized
    table is what you persist and scan — int8 codes cut the scan bytes
    4x and the integer dot is SIMD-friendly on any columnar engine.
    """
    emb = _as_double(F.col(vec_col))
    s = F.array_max(F.transform(F.col("_emb"), lambda x: F.abs(x)))
    q = F.when(
        F.col("_s") > 0,
        F.transform(
            F.col("_emb"),
            lambda x: F.floor(x / F.col("_s") * 127.0 + 0.5).cast("long"),
        ),
    ).otherwise(F.transform(F.col("_emb"), lambda x: F.lit(0).cast("long")))
    qn = F.sqrt(
        F.aggregate(
            F.transform(F.col("q"), lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
    )
    return (
        df.select(F.col(id_col), F.col(vec_col))
        .withColumn("_emb", emb)
        .withColumn("_s", s)
        .withColumn("q", q)
        .withColumn("qn", qn)
        .select(id_col, "q", "qn")
    )


def sq8_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
) -> DataFrame:
    """Approximate top-k via int8-quantized scan + exact rescore — the
    scalar-quantization ANN every vector store ships next to IVF/LSH:

    1. scan: approximate cosine over the int8 codes
       (int64 dot(qa, qb) / (|qa| |qb|) — per-vector scales cancel in the
       cosine, so no dequantization is needed);
    2. shortlist: top ``rerank`` candidates per query by approx cosine
       (neighbor-id tie-break — total order);
    3. rescore: EXACT cosine on the original vectors for the shortlist
       only, re-ranked to the final top ``k``.

    Both stages are deterministic (integer sums + IEEE sqrt/divide), so
    even this approximate operator has an exact SQL oracle. Recall vs
    brute_force_knn is validated in tests.

    100 TB shape: the expensive stage scans int8 codes (4x fewer bytes)
    and multiplies each Arrow batch against the whole query-code matrix
    in one integer GEMM; the exact stage touches only queries x rerank
    full vectors. When the query set is a filtered subset of ``corpus``,
    pass ``query_filter`` — the corpus quantization plan is reused for
    the query side.

    **EAGER on the query side** (the ivf/pq-fit precedent): the query
    codes are collected at call time — the same broadcast-sized rows the
    previous broadcast-join form shipped to every executor — so the
    operator snapshots ``queries`` as of the call.
    Like :func:`brute_force_knn` it raises ``ValueError`` past
    ``BRUTE_KNN_MAX_QUERIES`` (non-zero) query vectors; that collect is
    bounded, so an oversized query set fails clearly, not as a driver OOM.
    """
    # zero vectors (qn = 0) have no defined cosine; excluding them BEFORE
    # ranking matters because 0/0 = NaN and Spark sorts NaN ABOVE every
    # real double — unguarded, zero-padding rows would flood the
    # shortlist as rank-1 "neighbors"
    if query_filter is not None:
        qq = (
            sq8_quantize(corpus.filter(query_filter), id_col, vec_col)
            .filter(F.col("qn") > 0)
            .select(
                F.col(id_col).alias("query_id"),
                F.col("q").alias("qa"),
                F.col("qn").alias("na"),
            )
        )
        queries = corpus.filter(query_filter)
    else:
        qq = (
            sq8_quantize(queries, id_col, vec_col)
            .filter(F.col("qn") > 0)
            .select(
                F.col(id_col).alias("query_id"),
                F.col("q").alias("qa"),
                F.col("qn").alias("na"),
            )
        )
    # Approximate scan: quantization AND all query dots fused into ONE
    # Arrow mapInPandas pass over the raw corpus vectors (guide §4.2) —
    # per batch: vectorized SQ8 quantization (the identical IEEE ops
    # sq8_quantize runs JVM-side: x / max|x| * 127.0 + 0.5, floored;
    # integer q², exact int->double, IEEE sqrt) followed by one integer
    # GEMM against the collected query-code matrix (the SAME
    # broadcast-sized rows the previous broadcast-join form shipped to
    # every executor — this operator's contract already requires the
    # query set to fit in a broadcast). int64 dots are exact
    # (|q| <= 127), so scores, shortlist and final ranks are
    # bit-identical to the previous per-pair interpreted aggregate()
    # fold — which, with the per-element interpreted quantize lambdas,
    # was the stage's whole cost.
    import numpy as np
    import pandas as pd

    # bounded like brute_force_knn: the query codes become one in-memory
    # matrix on the driver and in every scan task's closure
    qrows = qq.limit(BRUTE_KNN_MAX_QUERIES + 1).collect()
    if len(qrows) > BRUTE_KNN_MAX_QUERIES:
        raise ValueError(
            f"sq8_knn query set exceeds max_queries={BRUTE_KNN_MAX_QUERIES}:"
            f" use an ANN index (ivf_probe/lsh/pq) for corpus-scale"
            f" query sets"
        )
    id_type = corpus.schema[id_col].dataType.simpleString()
    par = corpus.sparkSession.sparkContext.defaultParallelism
    craw = corpus.repartition(par).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_x")
    )
    if qrows:
        qm = np.stack([np.asarray(r["qa"], dtype=np.int64) for r in qrows])
        na_v = np.array([r["na"] for r in qrows], dtype=np.float64)
        qid_v = np.array([r["query_id"] for r in qrows])

        def scan(batches):
            for pdf in batches:
                # NULL vectors never reach the shortlist (the expression
                # form quantized them to NULL and the qn > 0 gate dropped
                # them); mask before the stack
                pdf = pdf[pdf["_x"].notna()]
                if not len(pdf):
                    continue
                x = np.stack(pdf["_x"].to_numpy())
                s = np.abs(x).max(axis=1)
                keep = s > 0  # zero vectors: no defined cosine (see above)
                if not keep.any():
                    continue
                x, s = x[keep], s[keep]
                q = np.floor(x / s[:, None] * 127.0 + 0.5).astype(np.int64)
                qn = np.sqrt((q * q).sum(axis=1).astype(np.float64))
                dots = q @ qm.T  # nc x nq, exact int64
                acos = dots.astype(np.float64) / np.outer(qn, na_v)
                nc, nq = acos.shape
                yield pd.DataFrame(
                    {
                        "neighbor_id": np.repeat(
                            pdf["neighbor_id"].to_numpy()[keep], nq
                        ),
                        "query_id": np.tile(qid_v, nc),
                        "_acos": acos.ravel(),
                    }
                )

        approx = craw.mapInPandas(
            scan,
            schema=f"neighbor_id {id_type}, query_id {id_type}, _acos double",
        ).filter(F.col("neighbor_id") != F.col("query_id"))
    else:  # no valid queries -> empty result, same schema as below
        approx = craw.select(
            "neighbor_id",
            F.col("neighbor_id").alias("query_id"),
            F.lit(0.0).alias("_acos"),
        ).limit(0)
    w = Window.partitionBy("query_id").orderBy(
        F.col("_acos").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        approx.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    cvec = with_norm(corpus.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_emb").alias("c_emb"),
        F.col("_norm").alias("c_norm"),
    )
    qvec = with_norm(queries.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_emb").alias("q_emb"),
        F.col("_norm").alias("q_norm"),
    )
    pairs = shortlist.join(cvec, "neighbor_id").join(
        F.broadcast(qvec), "query_id"
    )
    cos = dot(F.col("q_emb"), F.col("c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", q6("_cos", "cosine"), "rank"
        )
    )


def _split_hot_cells(
    assignments: DataFrame, max_cell_size: int, dim: int = 64
) -> DataFrame:
    """Bound semdedup's within-cell pairwise work: any k-means cell with
    more than ``max_cell_size`` members is deterministically SPLIT into
    sub-cells by random-hyperplane sign bits of the member vectors
    (ceil(log2(n/max)) bits per hot cell, the md5-seeded integer planes
    from :func:`hyperplane_weights` — engine-independent, no RNG state).

    Hyperplane bits are similarity-preserving: a pair at cosine >= 0.9
    keeps the same bit with p ~ 0.86 per plane, so near-duplicate pairs
    mostly survive the split, vs 1/k survival for random salting. The
    residual misses are the SemDeDup cross-bucket contract the operator
    already accepts at cell boundaries. Cold cells pass through with the
    same re-keying (cell * 2^B) so keys stay disjoint.

    Driver-side state is one row per CELL (n_lists rows), never per
    vector; the hot-member bucket pass is the exact-integer
    hyperplane_buckets join — O(hot members * bits), one shuffle.

    Bit count per hot cell is PURE-INTEGER (smallest b in [1, 16] with
    ``max_cell_size · 2^b >= n`` — equivalent to ceil(log2(n/max)) but
    with no float log whose last-ulp could flip a ceil cross-engine),
    so the DuckDB oracle replays the split exactly (_semdedup_sql).
    """

    def _bits(n: int) -> int:
        b = 1
        while (max_cell_size << b) < n and b < 16:
            b += 1
        return b

    sizes = assignments.groupBy("cell").agg(F.count(F.lit(1)).alias("_n")).collect()
    masks = {
        int(r["cell"]): (1 << _bits(int(r["_n"]))) - 1
        for r in sizes
        if r["_n"] > max_cell_size
    }
    if not masks:
        return assignments
    bmax = max(m.bit_length() for m in masks.values())
    spark = assignments.sparkSession
    mask_df = spark.createDataFrame(
        list(masks.items()), "cell int, _mask long"
    )
    hot = assignments.join(F.broadcast(mask_df), "cell")
    cold = assignments.join(F.broadcast(mask_df), "cell", "left_anti")
    buckets = hyperplane_buckets(
        hot.select("vec_id", "vec"),
        n_planes=bmax,
        dim=dim,
        vec_col="vec",
        id_col="vec_id",
        n_tables=1,
    )
    scale = F.lit(1 << bmax).cast("long")
    hot2 = (
        hot.join(buckets, "vec_id")
        .withColumn(
            "cell",
            F.col("cell").cast("long") * scale
            + F.col("bucket").bitwiseAND(F.col("_mask")),
        )
        .select("vec_id", "cell", "vec", "norm")
    )
    cold2 = cold.select(
        "vec_id",
        (F.col("cell").cast("long") * scale).alias("cell"),
        "vec",
        "norm",
    )
    return cold2.unionByName(hot2)


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.5,
    n_lists: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str = "blas",
    max_cell_size: int | None = 4096,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    cluster the embedding space with the deterministic seeded k-means
    coarse quantizer, list cosine-near-duplicate pairs ONLY within each
    cluster, and resolve the pair graph to one keeper per duplicate
    group (component-minimum id, propagated to convergence).

    This is the embedding twin of the MinHash corpus dedup: the cluster
    bucketing bounds pairwise work to ``sum(|cell|^2)`` instead of
    ``n^2`` — at 100 TB with n_lists scaled ~ n/10k, each cell is a few
    thousand vectors and the within-cell join is embarrassingly
    parallel (write assignments ``partitionBy(cell)`` and each cell's
    pairs compute from one partition, no global shuffle). The
    approximation is the SemDeDup contract itself: duplicates split
    across clusters are missed, which the paper accepts in exchange for
    the bound (near-identical embeddings land in the same cell for any
    sane quantizer).

    Determinism: centroids/assignments replay in SQL
    (:func:`seeded_centroids`); the pair predicate is the cosine of the
    1e-6-QUANTIZED vectors — every element is an integer-valued double,
    so the dot and the squared norms are exact integers for ANY
    summation order while ``dim·max|q|² < 2^53`` (BLAS pairwise GEMM,
    Spark's sequential fold, and DuckDB's list_dot_product all produce
    the same bits), and the final ``dq/(√sa·√sb)`` is three correctly-
    rounded IEEE ops on identical operands. One scorer therefore serves
    both the scale path and the oracle (``_semdedup_sql`` in
    __spark_entry__); ``scorer="blas"`` (default) and ``scorer="fold"``
    pick identical pair sets by construction (asserted in tests). The
    keeper is the converged component minimum.

    ``max_cell_size`` bounds the quadratic within-cell stage: hot cells
    split into hyperplane-sign sub-cells (:func:`_split_hot_cells`) so
    one mega-cell cannot melt the job down. **ON by default (4096)** —
    the scale-killer it guards (one hot k-means cell going quadratic in
    the pair stage) is exactly the 100 TB failure mode — and the split
    is md5-deterministic with pure-integer bit counts, so the DuckDB
    oracle replays it exactly (``_semdedup_sql(max_cell_size=...)``);
    pass ``None`` only to reproduce the unguarded paper shape.

    Output: (vec_id, keeper_id, is_kept) for every vector that appears
    in at least one near-dup pair; vectors with no near-dup never leave
    their cell join and are implicitly kept.
    """
    from .dedup_similarity import near_dup_components

    _, assignments = ivf_index(
        corpus,
        n_lists=n_lists,
        n_iter=n_iter,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    )
    # materialize once: the hot-cell size probe (an eager collect), the
    # (hot, cold) split pair AND the quantized pair scorer all re-consume
    # assignments — without this each re-ran the assignment shuffle
    assignments = assignments.localCheckpoint()
    if max_cell_size is not None:
        assignments = _split_hot_cells(assignments, max_cell_size, dim=dim)
    # Shared exact scorer: quantize once (integer-valued doubles), carry
    # the exact squared norm. dq and sq are order-independent integers,
    # so the BLAS and fold paths decide IDENTICAL pair sets and the
    # DuckDB oracle replays either.
    quant = assignments.withColumn(
        "_qv",
        F.transform(
            F.col("vec"),
            lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("double"),
        ),
    ).withColumn("_sq", dot(F.col("_qv"), F.col("_qv")))
    id_type = assignments.schema["vec_id"].dataType.simpleString()
    if scorer == "blas":
        # scale path: one numpy GEMM per cell instead of 64-term fold
        # dots per pair (measured 83 s -> seconds at 200k x 64-dim,
        # SCALE_RESULTS.md). Exact despite BLAS pairwise summation:
        # integer-valued float64 inputs keep every partial sum an
        # integer below 2^53 (asserted), so summation order is moot.
        import numpy as np
        import pandas as pd

        thr = float(threshold)

        def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["vec_id"].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            m = np.stack(pdf["_qv"].to_numpy()[order]).astype(np.float64)
            mx = float(np.abs(m).max()) if m.size else 0.0
            assert m.shape[1] * mx * mx < 2.0 ** 53, (
                "quantized GEMM exactness ceiling exceeded "
                "(dim · max|q|² must stay below 2^53)"
            )
            sq = pdf["_sq"].to_numpy(dtype=np.float64)[order]
            nrm = np.sqrt(sq)
            g = (m @ m.T) / np.outer(nrm, nrm)
            ia, ib = np.triu_indices(len(ids), k=1)
            keep = (sq[ia] > 0) & (sq[ib] > 0) & (g[ia, ib] >= thr)
            return pd.DataFrame({"doc_a": ids[ia[keep]], "doc_b": ids[ib[keep]]})

        pairs = quant.select("vec_id", "cell", "_qv", "_sq").groupBy(
            "cell"
        ).applyInPandas(cell_pairs, schema=f"doc_a {id_type}, doc_b {id_type}")
    else:
        a = quant.select(
            F.col("vec_id").alias("_ida"),
            F.col("cell"),
            F.col("_qv").alias("_qa"),
            F.col("_sq").alias("_sa"),
        )
        b = quant.select(
            F.col("vec_id").alias("_idb"),
            F.col("cell"),
            F.col("_qv").alias("_qb"),
            F.col("_sq").alias("_sb"),
        )
        cos = dot(F.col("_qa"), F.col("_qb")) / (
            F.sqrt(F.col("_sa")) * F.sqrt(F.col("_sb"))
        )
        pairs = (
            a.join(b, "cell")
            .filter(F.col("_ida") < F.col("_idb"))
            .filter((F.col("_sa") > F.lit(0.0)) & (F.col("_sb") > F.lit(0.0)))
            .withColumn("_cos", cos)
            .filter(F.col("_cos") >= threshold)
            .select(F.col("_ida").alias("doc_a"), F.col("_idb").alias("doc_b"))
        )
    comp = near_dup_components(pairs)
    return comp.select(
        F.col("doc_id").alias("vec_id"),
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("is_kept"),
    )


def unit_normalize(vec: Column) -> Column:
    """L2-normalize an ``array<double>`` column (zero vectors pass
    through unchanged so no NaN/Inf enters the plan). With unit-norm
    inputs, squared-L2 order is exactly ``2 - 2*cos`` order — ADC
    shortlists built on normalized subvectors rank by the SAME order the
    exact cosine rescore uses, so PQ recall doesn't decay on
    unnormalized corpora."""
    n = l2_norm(vec)
    return F.when(n > F.lit(0.0), F.transform(vec, lambda x: x / n)).otherwise(vec)


def _pq_exploded(
    corpus: DataFrame, m: int, dim: int, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared PQ prep: ``base`` = (_vid, _raw raw-double vector,
    _x unit-normalized vector), spread across cores; ``el`` = the
    subspace-EXPLODED view (_vid, sub, _sx, _xx) — one row per vector
    per subspace, ALL m subspaces in a single DataFrame so every
    downstream pass (seeding, Lloyd updates, code assignment) is ONE
    job over (sub, ...) keys instead of m sequential per-subspace job
    chains (the round-4 shape, whose m*n_iter serial Lloyd fits were
    the slowest non-pipeline query in BENCH_r04)."""
    d = dim // m
    par = corpus.sparkSession.sparkContext.defaultParallelism
    base = (
        corpus.select(
            F.col(id_col).alias("_vid"), _as_double(F.col(vec_col)).alias("_raw")
        )
        .repartition(par, "_vid")
        .withColumn("_n", l2_norm(F.col("_raw")))
        .withColumn(
            "_x",
            F.when(
                F.col("_n") > F.lit(0.0),
                F.transform(F.col("_raw"), lambda x: x / F.col("_n")),
            ).otherwise(F.col("_raw")),
        )
        # materialized once: the fit (via el), the code assignment AND
        # the rescore vectors all re-derive from base — without the
        # checkpoint each re-ran the scan + repartition + normalize
        .localCheckpoint()
    )
    slices = F.array(*[F.slice(F.col("_x"), j * d + 1, d) for j in range(m)])
    el = base.select(
        "_vid", F.posexplode(slices).alias("sub", "_sx")
    ).withColumn("_xx", dot(F.col("_sx"), F.col("_sx"), dim=d))
    return base, el


def _pq_fit(
    base: DataFrame,
    el: DataFrame,
    k: int,
    n_iter: int,
    d: int,
    el_checkpointed: bool = False,
) -> DataFrame:
    """Fused seeded-Lloyd PQ fit: every subspace's k-means advances in
    the SAME job per round — assignment is one broadcast join against
    the full (sub, cell) codebook with map-side min_by partial agg, and
    the centroid update is ONE (sub, cell) aggregation with ``d``
    decimal-exact per-dim means (subspaces are short — 4-16 dims — so d
    agg columns beat the explode + second shuffle the full-width
    quantizer needs; see seeded_centroids for the 64-dim trade-off).
    The m*k tiny centroid rows are collected ONCE after the full lazy
    Lloyd chain (same driver-side footprint as ``pyspark.ml``
    ``clusterCenters()``); each round's centroid table is a broadcast
    subtree of the next, so the chain executes as one job. The fit
    input is localCheckpointed once — it is consumed n_iter+1 times,
    and at 100 TB the fit runs on a corpus SAMPLE, so the
    materialization is bounded by the sample, not the corpus.

    Seeds are the k corpus vectors with smallest ``(md5(id), id)`` — the
    SAME seed rows in every subspace (each contributes its slice), so
    the whole fit replays row-for-row in the DuckDB oracle.
    """
    spark = base.sparkSession
    if not el_checkpointed:
        el = el.localCheckpoint(eager=True)
    seeded = base.withColumn(
        "_h", F.md5(F.col("_vid").cast("string").cast("binary"))
    )
    seeds = seeded.orderBy("_h", "_vid").limit(k)
    # number the k seed rows via the sorted-array pack (see ivf_index) —
    # position = 0-based cell id, no ungrouped window
    seat = (
        seeds.agg(
            F.array_sort(F.collect_list(F.struct("_h", "_vid"))).alias("_a")
        )
        .select(F.posexplode("_a").alias("cell", "_s"))
        .select(F.col("_s._vid").alias("_vid"), "cell")
    )
    cents = (
        el.join(F.broadcast(seat), "_vid")
        .select("sub", "cell", F.col("_sx").alias("centroid"))
    )
    # the whole n_iter Lloyd chain stays LAZY over the checkpointed el —
    # each round's tiny centroid table is a broadcast subtree of the
    # next, so AQE sequences the rounds inside ONE job and the driver
    # pays one collect instead of n_iter+1 job round-trips (measured
    # ~12% off the fit; results bit-identical — the per-round collects
    # added no numeric pinning, el is already materialized)
    for _ in range(n_iter):
        cbb = cents.withColumn(
            "_cc", dot(F.col("centroid"), F.col("centroid"), dim=d)
        )
        assigned = (
            el.join(F.broadcast(cbb), "sub")
            .withColumn(
                "_d2",
                F.col("_xx") + F.col("_cc")
                - F.lit(2.0) * dot(F.col("_sx"), F.col("centroid"), dim=d),
            )
            .groupBy("_vid", "sub")
            .agg(
                F.min_by(
                    F.struct(F.col("cell").alias("c"), F.col("_sx").alias("x")),
                    F.struct(F.col("_d2"), F.col("cell")),
                ).alias("_p")
            )
            .select("sub", F.col("_p.c").alias("cell"), F.col("_p.x").alias("_sx"))
        )
        cents = assigned.groupBy("sub", "cell").agg(
            F.array(
                *[davg(F.col("_sx")[i]) for i in range(d)]
            ).alias("centroid")
        )
    # one driver materialization of the m*k tiny rows (the same
    # clusterCenters()-sized artifact as before) for the broadcast reuse
    # downstream
    rows = [(r["sub"], r["cell"], list(r["centroid"])) for r in cents.collect()]
    return spark.createDataFrame(rows, "sub int, cell int, centroid array<double>")


def pq_index(
    corpus: DataFrame,
    m: int = 16,
    k: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the persistable PQ index: (codebooks, codes, vectors).

    Vectors are unit-normalized BEFORE subspace slicing (fit, codes,
    and — in :func:`pq_probe` — the query LUT all see the same
    normalized space), so integer-ADC shortlist order tracks the exact
    cosine rescore order: on the unit sphere ``|q - x|^2 = 2 - 2*cos``.

    ``codes`` is long-form (vec_id, sub, cell) — one row per vector per
    subspace, the natural shape for the ADC equi-join at probe time
    (and for a ``partitionBy(sub, cell)`` layout at scale). ``vectors``
    keeps the RAW (vec_id, vec, norm) for the exact rescore of the
    shortlist — cosine is scale-invariant, so rescoring on raw vectors
    is exact and keeps the output identical for already-normalized
    corpora.

    100 TB shape: codes are m small ints per vector — a 64-dim float
    corpus compresses ~16-64x in the scan path; the fit is one fused
    Lloyd chain over a corpus SAMPLE in real deployments (here the full
    table — it IS the sample at test scale); assignment is one
    broadcast join with map-side min_by partial aggregation, no wide
    shuffle.
    """
    base, el = _pq_exploded(corpus, m, dim, id_col, vec_col)
    # checkpoint el HERE so the fit's n_iter+1 passes AND the code
    # assignment below all read the same materialized rows — previously
    # the fit checkpointed a local copy and the code assignment re-ran
    # the whole explode pipeline from scratch
    el = el.localCheckpoint(eager=True)
    cb = _pq_fit(base, el, k, n_iter, dim // m, el_checkpointed=True)
    cbb = cb.withColumn(
        "_cc", dot(F.col("centroid"), F.col("centroid"), dim=dim // m)
    )
    scored = el.join(F.broadcast(cbb), "sub").withColumn(
        "_d2",
        F.col("_xx") + F.col("_cc")
        - F.lit(2.0) * dot(F.col("_sx"), F.col("centroid"), dim=dim // m),
    )
    codes = (
        scored.groupBy("_vid", "sub")
        .agg(F.min_by(F.col("cell"), F.struct(F.col("_d2"), F.col("cell"))).alias("cell"))
        .select(F.col("_vid").alias("vec_id"), "sub", "cell")
    )
    vectors = base.select(
        F.col("_vid").alias("vec_id"),
        F.col("_raw").alias("vec"),
        F.col("_n").alias("norm"),
    )
    return cb, codes, vectors


def pq_probe(
    queries: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    shortlist_mult: int = 16,
    m: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a PQ index by asymmetric distance computation (ADC) with
    exact rescoring.

    The query is unit-NORMALIZED before subspace slicing — the same
    space the codebooks were fit in (:func:`pq_index`), so the ADC
    shortlist ranks by ``2 - 2*cos`` order and agrees with the exact
    cosine rescore. Each query builds an m*k lookup table of squared
    distances from its subvectors to every codebook entry, QUANTIZED to
    integer micro-units (floor(d2*1e6+0.5) — the LUT is the only float
    math in the scan, so the per-candidate ADC score is a
    partition-invariant BIGINT sum and shortlist ranking is
    total-ordered on (iadc, neighbor_id) in any engine). The top
    ``shortlist_mult*k`` candidates per query are rescored with exact
    cosine over the full raw vectors; final rank is
    (cosine desc, neighbor_id).

    Scan shape at 100 TB: the LUT is broadcast (queries x m x k rows);
    the ADC pass is one equi-join on (sub, cell) against the compressed
    codes table with map-side partial SUM — the full-precision vectors
    are touched only for shortlist_mult*k rows per query.

    Output: (query_id, neighbor_id, cosine, rank).
    """
    d = dim // m
    qnorm = unit_normalize(_as_double(F.col(vec_col)))
    qslices = F.array(*[
        F.slice(qnorm, j * d + 1, d) for j in range(m)
    ])
    qel = queries.select(
        F.col(id_col).alias("query_id"), F.posexplode(qslices).alias("sub", "_qx")
    ).withColumn("_qq", dot(F.col("_qx"), F.col("_qx"), dim=d))
    cbb = codebooks.withColumn(
        "_cc", dot(F.col("centroid"), F.col("centroid"), dim=d)
    )
    lut = qel.join(F.broadcast(cbb), "sub").select(
        "query_id",
        "sub",
        "cell",
        F.floor(
            (
                F.col("_qq") + F.col("_cc")
                - F.lit(2.0) * dot(F.col("_qx"), F.col("centroid"), dim=d)
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("id2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "cell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("id2").alias("iadc"))
    )
    w = Window.partitionBy("query_id").orderBy("iadc", "neighbor_id")
    short = adc.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= shortlist_mult * k
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("_qvec"),
    ).withColumn("_qn", l2_norm(F.col("_qvec")))
    res = (
        short.join(qv, "query_id")
        .join(
            vectors.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("vec").alias("_cvec"),
                F.col("norm").alias("_cn"),
            ),
            "neighbor_id",
        )
        .withColumn(
            "_cos",
            dot(F.col("_qvec"), F.col("_cvec"), dim=dim)
            / (F.col("_qn") * F.col("_cn")),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    return (
        res.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", q6("_cos", "cosine"), "rank")
    )


def silhouette(
    corpus: DataFrame,
    n_lists: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster — the
    clustering-quality metric for the seeded-k-means family (IVF cells,
    SemDeDup buckets): for each vector, a = distance to its OWN
    centroid, b = distance to the nearest OTHER centroid,
    s = (b − a) / max(a, b).

    Because every vector sees each of the k centroids exactly once, b
    is simply the SECOND-smallest centroid distance — so one broadcast
    cross join (n × k rows, map-side) and ONE partial-aggregable
    groupBy per vector computes (own cell, sorted distance pair), and a
    second tiny groupBy rolls up per-cell means. No n×n work anywhere:
    the full-silhouette's pairwise a/b is what this 'simplified'
    variant exists to avoid at scale.

    Determinism: distances are the repo's sequential-fold d2 (identical
    to DuckDB's list_dot_product), sqrt is correctly-rounded IEEE, each
    per-point s is micro-unit-quantized BEFORE the exact decimal mean.
    d2 is clamped at 0 (catastrophic-cancellation negatives would NaN
    the sqrt on both engines otherwise). Requires n_lists >= 2.

    Output: (cell, n, mean_sil) ordered by cell.
    """
    if n_lists < 2:
        raise ValueError("silhouette needs n_lists >= 2")
    # one checkpointed base for the fit AND the scoring pass
    base = _prepared_base(corpus, id_col, vec_col)
    cents = _seeded_fit(base, n_lists, n_iter, dim=dim)
    j = base.withColumn("_xx", dot(F.col("_x"), F.col("_x"), dim=dim)).join(
        F.broadcast(
            cents.withColumn(
                "_cc", dot(F.col("centroid"), F.col("centroid"), dim=dim)
            )
        )
    )
    scored = j.withColumn(
        "_d2",
        F.col("_xx") + F.col("_cc")
        - F.lit(2.0) * dot(F.col("_x"), F.col("centroid"), dim=dim),
    )
    per_vec = scored.groupBy("_vid").agg(
        F.min_by(F.col("cell"), F.struct(F.col("_d2"), F.col("cell"))).alias(
            "_own"
        ),
        F.array_sort(F.collect_list("_d2")).alias("_ds"),
    )
    a = F.sqrt(F.greatest(F.col("_ds").getItem(0), F.lit(0.0)))
    b = F.sqrt(F.greatest(F.col("_ds").getItem(1), F.lit(0.0)))
    sil = q6(
        F.when(F.greatest(a, b) > 0.0, (b - a) / F.greatest(a, b)).otherwise(
            F.lit(0.0)
        )
    )
    return (
        per_vec.select(F.col("_own").alias("cell"), sil.alias("_s"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.sum(F.col("_s").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_sil"),
        )
        .orderBy("cell")
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed d×d covariance matrix of an embedding column — the
    one-pass Gram reduction behind PCA whitening, embedding-drift
    monitoring, and Mahalanobis outlier scoring.

    Shape at scale: ONE Arrow mapInPandas pass emits a d(d+1)/2-row
    upper-triangular integer Gram partial per batch (numpy ``q.T @ q``
    — BLAS, no per-vector explosion; the shuffle carries d² rows per
    partition, never rows-×-d²), plus per-dimension linear sums from a
    posexplode partial aggregate (d rows per partition map-side). The
    final combine is a tiny (i, j)-keyed aggregate joined against the
    broadcast d-row sums table.

    Exactness: vectors quantize to integer micro-units; per-batch Gram
    partials are int64 (|x|≤1e6 micro → products ≤1e12; Arrow batches
    ≤~10k rows keep partials ≤1e16, 500× under 2^63) and the cross-
    partition sums route through decimal(38,0) (exact to 1e38 — BIGINT
    would wrap silently at ~9e6 near-cap rows while DuckDB's HUGEINT
    would not). The final covariance
    ``(n·Σxy − Σx·Σy) / (n·(n−1)) / 1e12`` is fixed-order IEEE over
    exact integer operands — bit-identical cross-engine.

    Output: (i, j, n, cov) for 0-indexed i ≤ j.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    src = df.select(_as_double(F.col(vec_col)).alias("_v"))

    gram_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("sxy", LongType()),
        ]
    )

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["_v"].to_numpy())
            q = np.floor(x * 1e6 + 0.5).astype(np.int64)
            g = q.T @ q
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu.astype(np.int32), "j": ju.astype(np.int32),
                 "sxy": g[iu, ju]}
            )

    gram = (
        src.mapInPandas(gram_partials, schema=gram_schema)
        .groupBy("i", "j")
        .agg(F.sum(F.col("sxy").cast("decimal(38,0)")).alias("sxy"))
    )
    sums = (
        df.select(F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"))
        .select(
            "dim",
            F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("q"),
        )
        .groupBy("dim")
        .agg(
            F.sum(F.col("q").cast("decimal(38,0)")).alias("sv"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    si = sums.select(
        F.col("dim").alias("i"),
        F.col("sv").alias("sx"),
        F.col("n").alias("n"),
    )
    sj = sums.select(F.col("dim").alias("j"), F.col("sv").alias("sy"))
    nd = F.col("n").cast("double")
    cov = (
        (
            nd * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / (nd * (nd - F.lit(1.0)))
        / F.lit(1e12)
    )
    return (
        gram.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select("i", "j", "n", cov.alias("cov"))
        .orderBy("i", "j")
    )


def hard_negatives(
    df: DataFrame,
    k: int = 5,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cross-label hard-negative mining: for each class prototype (the
    label centroid), the k nearest vectors belonging to a DIFFERENT
    label — the contrastive-training sampler that picks the most
    confusable negatives instead of random ones.

    Shape at scale: centroids are a labels-row aggregate
    (label_centroids — exact decimal per-dimension means) broadcast
    against the partitioned corpus; each executor scans its shard once
    scoring |labels| centroids per vector (labels is small by
    construction). Per-label top-k via TakeOrdered-style window rank.

    Exactness: the centroid means are exact-decimal-derived doubles;
    cosine is the sequential-fold dot over them (deterministic order,
    replayed by list_dot_product in the oracle), ranked with id
    tie-break, then 1e-6-quantized only for display.

    Output: (label, rank, neighbor_id, neighbor_label, cosine).
    """
    cents = label_centroids(df, label_col, vec_col).select(
        F.col("label").alias("c_label"),
        F.col("centroid").alias("c_vec"),
    )
    corpus = with_norm(df.select(id_col, label_col, vec_col), vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col("_emb").alias("v_vec"),
        F.col("_norm").alias("v_norm"),
    )
    pairs = corpus.join(
        F.broadcast(cents),
        F.col("neighbor_label") != F.col("c_label"),
    )
    cos = dot(F.col("c_vec"), F.col("v_vec")) / (
        l2_norm(F.col("c_vec")) * F.col("v_norm")
    )
    w = Window.partitionBy("c_label").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("c_label").alias("label"),
            "rank",
            "neighbor_id",
            "neighbor_label",
            q6("_cos", "cosine"),
        )
    )


def pca_project(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PCA projection of the embedding corpus onto its top-``k``
    principal components — the dimensionality-reduction step ahead of
    clustering/visualization/whitening in an embedding pipeline.

    Distributed where it matters, driver-side where it's O(d²): the
    covariance comes from :func:`embedding_covariance` (one
    mapInPandas Gram pass — the ONLY corpus-scale stage), the d×d
    eigendecomposition runs on the driver (numpy ``eigh`` on 64×64 —
    microseconds, constant in corpus size; collecting d(d+1)/2 + d
    rows is the bounded-collect class, like IVF centroids), and the
    projection is a broadcast of k component vectors folded per row
    with the deterministic sequential dot.

    Sign convention: each component is flipped so its largest-|x|
    coordinate is positive (eigh's sign is arbitrary), making the
    output stable across LAPACK builds in practice. The fit is
    bit-replayable: the covariance/means are exact integer reductions,
    so :func:`pca_fit_local` reproduces the SAME eigh input from a
    local pyarrow read and the DuckDB oracle twin replays the
    projection with pinned component literals (see
    :func:`pca_project_scalar`, the driver-gated shape).

    Output: (id_col, projection array<double>[k], explained — the
    fraction of total variance captured, same scalar on every row).
    """
    mu, comps, _evals, explained = _pca_fit(df, k, vec_col)
    mu_lit = F.array(*[F.lit(float(x)) for x in mu])
    comp_lits = [
        F.array(*[F.lit(float(x)) for x in comp]) for comp in comps
    ]
    centered = F.zip_with(
        _as_double(F.col(vec_col)), mu_lit, lambda a, b: a - b
    )
    projection = F.array(
        *[dot(centered, c) for c in comp_lits]
    )
    return df.select(
        F.col(id_col),
        projection.alias("projection"),
        F.lit(explained).alias("explained"),
    )


def _pca_eig(cov, k: int):
    """Shared eigh + sign-flip + explained-variance step: identical
    input bits -> identical output bits for the distributed and local
    fits (same numpy/LAPACK in the same driver process)."""
    import numpy as np

    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T  # (k, dim)
    for row in comps:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1.0
    evals = w[order]
    explained = float(np.sum(w[order]) / np.sum(np.maximum(w, 0.0)))
    return comps, evals, explained


def usable_eigenpairs(comps, evals, rel_eps: float = 1e-9):
    """Drop eigenpairs that are numerically zero (or negative) relative
    to the leading eigenvalue.  When ``k`` exceeds the effective rank of
    the covariance, ``eigh`` returns tiny/slightly-negative trailing
    eigenvalues; dividing projections by them floods a Mahalanobis-style
    score with inf/NaN garbage (and both Spark and DuckDB sort NaN above
    every real, so the garbage WINS the top-k).  Keep only
    ``lam > rel_eps * evals[0]``.  Must be applied identically to the
    Spark scorer and the literal-pinning oracle builder so both engines
    score with the same truncated basis.  Raises on a degenerate
    (non-positive leading eigenvalue) covariance — no direction carries
    variance, the score is undefined."""
    import numpy as np

    evals = np.asarray(evals, dtype=np.float64)
    if evals.size == 0:
        return comps, evals
    lead = float(evals[0])
    if lead <= 0.0:
        raise ValueError(
            "degenerate covariance: leading eigenvalue is non-positive"
        )
    keep = evals > rel_eps * lead
    return comps[keep], evals[keep]


def _pca_fit(df: DataFrame, k: int, vec_col: str):
    """Distributed PCA fit: exact-integer covariance + means collected
    (bounded: d(d+1)/2 + d rows), then the shared eigh step. Returns
    (mu ndarray[d], comps ndarray[k,d], evals ndarray[k],
    explained float)."""
    import numpy as np

    d_rows = embedding_covariance(df, vec_col).collect()
    dim = max(r["j"] for r in d_rows) + 1
    cov = np.zeros((dim, dim))
    for r in d_rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov"]
    means = (
        df.select(F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"))
        .select(
            "dim",
            F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("q"),
        )
        .groupBy("dim")
        .agg(
            F.sum(F.col("q").cast("decimal(38,0)")).alias("sq"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .collect()
    )
    mu = np.zeros(dim)
    for r in means:
        mu[r["dim"]] = float(r["sq"]) / float(r["n"]) / 1e6
    comps, evals, explained = _pca_eig(cov, k)
    return mu, comps, evals, explained


def pca_fit_local(
    parquet_path: str, k: int = 8, vec_col: str = "embedding"
):
    """Exact LOCAL replica of :func:`_pca_fit` from a pyarrow read —
    replays embedding_covariance's integer ledger bit-for-bit
    (``q = floor(x·1e6 + 0.5)`` int64; Gram/linear sums exact in int64
    while n·1e12 < 2^63 — asserted; the final
    ``(n·Σxy − Σx·Σy) / (n·(n−1)) / 1e12`` and ``(Σx/n)/1e6`` in the
    SAME fixed IEEE order), then the shared :func:`_pca_eig` step.
    Identical cov/mu bits -> identical components, so the DuckDB
    oracle for emb_pca can pin (mu, comps, evals, explained) as
    literals and replay the projection in pure SQL. Returns
    (mu, comps, evals, explained).
    """
    import numpy as np
    import pyarrow.parquet as pq

    col = pq.read_table(parquet_path, columns=[vec_col])[vec_col]
    x = np.stack(col.to_pandas().to_numpy()).astype(np.float64)
    q = np.floor(x * 1e6 + 0.5).astype(np.int64)
    n = q.shape[0]
    # Guard the ACTUAL data magnitude, not an implicit |x| <= 1
    # assumption: each Gram entry is a sum of n products bounded by
    # max|q|², so int64 holds iff n·m² stays under 2^62.  (The
    # distributed fit keeps per-batch int64 partials + decimal(38,0)
    # combine and has no such ceiling — this local replica must FAIL
    # LOUDLY rather than silently break the bit-parity contract.)
    m = float(np.abs(q).max()) if n else 0.0
    assert n * m * m < 2 ** 62, "int64 Gram headroom exceeded"
    g = q.T @ q
    sv = q.sum(axis=0)
    nd = float(n)
    sx = sv.astype(np.float64)
    cov = (
        (nd * g.astype(np.float64) - sx[:, None] * sx[None, :])
        / (nd * (nd - 1.0))
        / 1e12
    )
    mu = sx / nd / 1e6
    comps, evals, explained = _pca_eig(cov, k)
    return mu, comps, evals, explained


def pca_project_scalar(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`pca_project` with a driver-canonicalizable SCALAR layout:
    one ``p0..p{k-1}`` double column per component (1e-6-quantized via
    the tie-safe floor rule) plus the quantized explained-variance
    scalar — no array column, so the correctness gate's pandas
    sort/hash canonicalizer can process it, and the DuckDB twin
    replays the whole projection with literals from
    :func:`pca_fit_local` (eigh itself stays outside SQL; everything
    downstream of the pinned components is SQL arithmetic).

    Output: (id_col, p0..p{k-1}, explained) — one row per vector.
    """
    import math

    from ..functions.exact import q6

    mu, comps, _evals, explained = _pca_fit(df, k, vec_col)
    mu_lit = F.array(*[F.lit(float(x)) for x in mu])
    centered = F.zip_with(
        _as_double(F.col(vec_col)), mu_lit, lambda a, b: a - b
    )
    cols = [
        q6(
            dot(centered, F.array(*[F.lit(float(x)) for x in comp])),
            f"p{i}",
        )
        for i, comp in enumerate(comps)
    ]
    exq = math.floor(explained * 1e6 + 0.5) / 1e6
    return df.select(
        F.col(id_col), *cols, F.lit(exq).alias("explained")
    )


def embedding_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension embedding-distribution drift between two corpus
    slices (old vs new crawl, train vs eval, before vs after a filter):
    standardized mean difference per dimension —

        smd_d = (μ_b − μ_a) / sqrt((σ²_a + σ²_b) / 2)

    — the monitoring signal that catches an embedding-space shift
    before a downstream model does.

    One posexplode + (slice, dim) aggregate per side (map-side
    combinable, d rows out per partition); moments are exact integer
    micro-unit sums (BIGINT linear, decimal(38,0) squares); the final
    combination is fixed-order IEEE. Zero-variance dimensions yield
    NULL smd.

    Output: (dim, n_a, n_b, mean_a, mean_b, smd) ordered by dim.
    """

    def moments(df: DataFrame, tag: str) -> DataFrame:
        q = F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)).cast("long")
        return (
            df.select(
                F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x")
            )
            .select("dim", q.alias("q"))
            .groupBy("dim")
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
                F.sum("q").alias(f"s1_{tag}"),
                F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias(
                    f"s2_{tag}"
                ),
            )
        )

    j = moments(df_a, "a").join(moments(df_b, "b"), "dim")
    na, nb = (F.col(c).cast("double") for c in ("n_a", "n_b"))
    s1a, s1b = (F.col(c).cast("double") for c in ("s1_a", "s1_b"))
    s2a, s2b = (F.col(c).cast("double") for c in ("s2_a", "s2_b"))
    mean_a = s1a / na / F.lit(1e6)
    mean_b = s1b / nb / F.lit(1e6)
    var_a = (s2a - s1a * s1a / na) / (na - F.lit(1.0))
    var_b = (s2b - s1b * s1b / nb) / (nb - F.lit(1.0))
    pooled = (var_a + var_b) / F.lit(2.0)
    smd = F.when(
        pooled > 0, (s1b / nb - s1a / na) / F.sqrt(pooled)
    )
    return j.select(
        "dim",
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        smd.alias("smd"),
    ).orderBy("dim")


def pca_outlier_scores(
    df: DataFrame,
    k: int = 8,
    top: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space outlier scoring: truncated Mahalanobis distance
    in the PCA eigenbasis —

        score = Σ_{j<k} proj_j² / λ_j

    — the standard "whitened" anomaly signal for an embedding corpus
    (broken encoders, mislabeled modalities, injected junk): distance
    from the corpus mean, where each principal direction counts in
    units of ITS OWN variance. Diagonal in the eigenbasis, so no d×d
    inverse is needed — the one extra ingredient over pca_project is
    the top-k eigenvalues the fit already produced.

    Shape at scale: the same bounded fit as pca_project (one Gram
    pass + driver eigh), then a broadcast-literal projection per row
    and a TakeOrdered top-``top`` — no global sort, no extra shuffle.

    Exactness: projections are the sequential-fold dot over pinned
    literals (bit-identical, see pca_fit_local); each proj²/λ term and
    the k-term left-to-right sum are fixed-order IEEE; the score is
    1e-6-quantized and ranked with vec_id tie-break, so the DuckDB twin
    replays the whole query from the same literals.

    Output: (rank, id_col, score) — the ``top`` highest-score vectors.

    Rank-deficiency guard: eigenpairs below ``1e-9 × λ₀`` are dropped
    (:func:`usable_eigenpairs`) — when ``k`` exceeds the covariance's
    effective rank, the trailing eigenvalues are numerical noise and a
    ``proj²/λ`` term would be inf/NaN, which both engines sort above
    every real score. The oracle builder applies the identical filter.
    """
    mu, comps, evals, _explained = _pca_fit(df, k, vec_col)
    comps, evals = usable_eigenpairs(comps, evals)
    mu_lit = F.array(*[F.lit(float(x)) for x in mu])
    centered = F.zip_with(
        _as_double(F.col(vec_col)), mu_lit, lambda a, b: a - b
    )
    score = F.lit(0.0)
    for comp, lam in zip(comps, evals):
        p = dot(centered, F.array(*[F.lit(float(x)) for x in comp]))
        score = score + (p * p) / F.lit(float(lam))
    from ..functions.exact import q6

    top_rows = (
        df.select(F.col(id_col), score.alias("_s"))
        .orderBy(F.col("_s").desc(), F.col(id_col).asc())
        .limit(top)
    )
    # rank the <= top survivors from one scalar aggregate: struct sorts
    # ascending by (-score, id) — IEEE negation is exact and the score
    # is a nonnegative quadratic form, so this is exactly (score desc,
    # id asc); posexplode position + 1 = rank. No ungrouped window.
    return (
        top_rows.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("_s")).alias("_ns"),
                        F.col(id_col).alias("_id"),
                    )
                )
            ).alias("_a")
        )
        .select(F.posexplode("_a").alias("_i0", "_t"))
        .select(
            (F.col("_i0") + 1).cast("long").alias("rank"),
            F.col("_t._id").alias(id_col),
            q6(-F.col("_t._ns"), "score"),
        )
    )

"""Exact distributed quantile bucketing without a single-partition sort.

The scale problem with ``ntile(k)`` is that it ranks every row in one
ungrouped window: Spark sorts the whole input in ONE task, which dies
at 100 TB. Bucketing needs only the k−1 cut values, and with
``quantile_disc`` semantics each cut is an order statistic: cut b is
the smallest value whose cumulative count covers N·b/k, i.e. the r-th
smallest non-NULL value with r = ⌈N·b/k⌉. The lazy distributed rank
(operators/rank.py: a range-partitioned sort, no single partition
anywhere) numbers the values, a broadcast equi-join picks the k−1
target ranks, and every row classifies by comparison against those
broadcast scalars. No prefix sum, no value histogram in one buffer.

Ties (equal values) always share a bucket, so buckets can be uneven on
heavily tied data — the price of exactness, and what CCNet/pandas
``qcut(duplicates='drop')`` do too. The target ranks are integer
arithmetic (``(N·b + k − 1) div k``, no float ``b/k``), so the result
is bit-identical in any engine. This is the one cut implementation:
RFM scoring (``e_rfm_segments``) and the CCNet terciles
(``corpus.ccnet_buckets``) both call it.

Spark's ``percentile_disc`` is not used: it derives its position from
a float ``N·p`` and holds the whole value→count map in one aggregation
buffer.
"""

from __future__ import annotations

from collections.abc import Mapping
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rank import distributed_row_number

__all__ = ["quantile_bucket"]


def quantile_bucket(
    df: DataFrame, buckets: Mapping[str, str], n_buckets: int = 5
) -> DataFrame:
    """Append an exact discrete-quantile bucket (1..n_buckets, 1 =
    smallest values) for each INTEGER or DECIMAL value column: ``buckets``
    maps each value column to its output column.

    Per value column, the non-NULL values ``_v`` are numbered by
    :func:`~.rank.distributed_row_number` over ``_v`` ascending, a
    one-row count gives N, and the k−1 target ranks
    ``r_b = (N·b + k − 1) div k`` join the numbered values on the rank
    (a broadcast hash join). ``distributed_row_number`` asks for a total
    order and ``_v`` alone is not one; that is harmless here because
    only the VALUE at a rank is read, and it is the same under any tie
    order. ``max(when(_b == b, _v))`` then turns the picked rows into
    the cut scalars, and ``bucket = 1 + Σ_b (value > cut_b)``. NULL
    values get NULL buckets; an all-NULL or empty column has no target
    rank and NULL cuts.

    All columns' cuts come from the same ``df`` and land in one row,
    attached by ONE broadcast cross join, so a call for several columns
    never nests one column's cut plan inside another's.

    Lazy: calling it runs no job. Every column's cut plan (count, rank
    sampling, rank) and the attach each read ``df``; checkpoint an
    expensive input first.
    """
    if n_buckets < 2:
        raise ValueError("quantile_bucket: n_buckets must be >= 2")
    k = n_buckets
    picks = []
    for i, value_col in enumerate(buckets):
        vals = df.select(F.col(value_col).alias("_v")).filter(
            F.col("_v").isNotNull()
        )
        ranks = vals.agg(F.count(F.lit(1)).alias("_n")).select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("_b"),
                            F.expr(f"(_n * {b} + {k - 1}) div {k}").alias("_rk"),
                        )
                        for b in range(1, k)
                    ]
                )
            )
        )
        picked = distributed_row_number(vals, [F.col("_v").asc()]).join(
            F.broadcast(ranks), "_rk"
        )
        picks.append(
            picked.select(
                *[
                    F.when(F.col("_b") == b, F.col("_v")).alias(f"__qb{i}_{b}")
                    for b in range(1, k)
                ]
            )
        )
    cuts = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), picks
    )
    cut_cols = cuts.columns
    cuts = cuts.agg(*[F.max(c).alias(c) for c in cut_cols])
    classified = {}
    for i, (value_col, out_col) in enumerate(buckets.items()):
        v = F.col(value_col)
        bucket: Column = F.lit(1)
        for b in range(1, k):
            bucket = bucket + (v > F.col(f"__qb{i}_{b}")).cast("int")
        classified[out_col] = F.when(v.isNotNull(), bucket)
    return (
        df.crossJoin(F.broadcast(cuts))
        .withColumns(classified)
        .drop(*cut_cols)
    )

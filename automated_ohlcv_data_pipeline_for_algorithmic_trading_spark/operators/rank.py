"""Distributed global rank without a single-partition sort, and a lazy
running sum for bounded tables.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY collapses the
whole input into ONE task (Spark plans a global Sort into a single
partition for an ungrouped window).  That is fine for a handful of rows
and a scale bug for anything sizeable.

* :func:`distributed_row_number` is a LAZY plan transformation.  It
  sorts globally (a range exchange plus per-partition sorts, no single
  partition anywhere) and attaches Spark's own distributed sequence id,
  the operator behind pandas-on-Spark's default index.  The physical
  ``AttachDistributedSequenceExec`` caches its sorted child, counts the
  rows per partition, then numbers every row in partition order
  (``zipWithIndex``) from the same cached rows, and unpersists them when
  the query finishes.  Over a globally sorted child that index is the
  global ``row_number``.  No job runs when the function is called.
* :func:`packed_running_sum` is the lazy running sum for tables bounded
  by construction.  Quantile cuts need no running sum at all: they are
  order statistics read off the rank (operators/quantiles.py).

The rank is bit-identical to the global ``row_number`` whenever the full
sort key is a total order (every caller that reports the rank itself
appends a unique tie-break column).

Reference parity: the reference engine's ranked exports
(`analytics/queries.py` top-N / ledger endpoints) use single-node sorts —
trivially total-ordered there; this is the distributed re-expression.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction

__all__ = ["distributed_row_number", "packed_running_sum"]


def distributed_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_col: str = "_rk",
) -> DataFrame:
    """Append ``rank_col`` = global row_number over ``order_by``, distributed.

    ``order_by`` must be a TOTAL order (include a unique tie-break column)
    — with a total order the rank is exactly the ungrouped
    ``row_number() OVER (ORDER BY ...)``, but no stage ever sorts more
    than one range partition in one task.  A caller that reads only the
    sort-key values at given ranks (``quantile_bucket``'s cut pick) may
    pass a partial order: tied rows then take their ranks in some order,
    and the key value at every rank is the same under any such order.

    Lazy: calling it runs no job.  The plan is a global sort (a range
    exchange over ``spark.sql.shuffle.partitions``, which AQE may
    coalesce) under an ``AttachDistributedSequence`` node.  Under a total
    order the sorted sequence does not depend on where the range bounds
    fall, so a branch that recomputes the rank (a self-join, an unreused
    exchange) gets the same ranks.
    """
    seq = InternalFunction.distributed_sequence_id() + F.lit(1)
    return df.orderBy(*order_by).select("*", seq.cast("long").alias(rank_col))


def packed_running_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "_csum",
) -> DataFrame:
    """LAZY running BIGINT sum for PROVABLY BOUNDED tables: pack the
    whole table into one sorted array, compute each prefix with an
    in-array fold, re-expand with ``explode``.

    Use it only when the input is bounded by construction — an offset
    grid, a per-bucket summary — i.e. at most ~10^4 rows at ANY data
    scale (its one caller is the event-study CAR over a 7-row offset
    grid). The whole table passes through one aggregation buffer and the
    prefix fold is O(n^2) in-memory work, so the bound is a hard
    contract, not a hint.

    ``order_col`` leads the packed struct, so ``sort_array`` orders by
    it first (remaining columns tie-break; pass distinct keys for a
    total order). Fully lazy: no job runs until the result is consumed.
    """
    cols = df.columns
    rest = [c for c in cols if c != order_col]
    packed = df.select(
        F.struct(
            F.col(order_col).alias(order_col),
            *[F.col(c).alias(c) for c in rest],
        ).alias("_e")
    ).agg(F.sort_array(F.collect_list("_e")).alias("_a"))
    stepped = packed.select(
        F.transform(
            "_a",
            lambda x, i: x.withField(
                out_col,
                F.aggregate(
                    F.slice(F.col("_a"), F.lit(1), i + F.lit(1)),
                    F.lit(0).cast("long"),
                    lambda a, e: a + e[value_col].cast("long"),
                ),
            ),
        ).alias("_a")
    )
    ex = stepped.select(F.explode("_a").alias("_e"))
    return ex.select(
        *[F.col("_e")[c].alias(c) for c in cols],
        F.col("_e")[out_col].alias(out_col),
    )

"""Distributed global rank and running sum without a single-task sort.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY collapses the
whole input into ONE task (Spark plans a global Sort into a single
partition for an ungrouped window).  That is fine for a handful of rows
and a scale bug for anything sizeable.  This module has the distributed
replacements.

* :func:`distributed_row_number` is a LAZY plan transformation.  It
  sorts globally (a range exchange plus per-partition sorts, no single
  partition anywhere) and attaches Spark's own distributed sequence id,
  the operator behind pandas-on-Spark's default index.  The physical
  ``AttachDistributedSequenceExec`` caches its sorted child, counts the
  rows per partition, then numbers every row in partition order
  (``zipWithIndex``) from the same cached rows, and unpersists them when
  the query finishes.  Over a globally sorted child that index is the
  global ``row_number``.  No job runs when the function is called.
* :func:`distributed_running_sum` is the classic eager two-pass prefix
  sum: range partition, pin the assignment, collect one total per
  partition, inline the offsets.  Spark has no lazy primitive for a
  cross-partition prefix sum, so this one stays an action.
* :func:`packed_running_sum` is the lazy running sum for tables bounded
  by construction.

The rank is bit-identical to the global ``row_number`` whenever the full
sort key is a total order (callers append a unique tie-break column, as
all in-repo callers do).

Reference parity: the reference engine's ranked exports
(`analytics/queries.py` top-N / ledger endpoints) use single-node sorts —
trivially total-ordered there; this is the distributed re-expression.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction

__all__ = [
    "distributed_row_number",
    "distributed_running_sum",
    "packed_running_sum",
]

_PID = "__dr_pid"


def distributed_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_col: str = "_rk",
) -> DataFrame:
    """Append ``rank_col`` = global row_number over ``order_by``, distributed.

    ``order_by`` must be a TOTAL order (include a unique tie-break column)
    — with a total order the rank is exactly the ungrouped
    ``row_number() OVER (ORDER BY ...)``, but no stage ever sorts more
    than one range partition in one task.

    Lazy: calling it runs no job.  The plan is a global sort (a range
    exchange over ``spark.sql.shuffle.partitions``, which AQE may
    coalesce) under an ``AttachDistributedSequence`` node.  Under a total
    order the sorted sequence does not depend on where the range bounds
    fall, so a branch that recomputes the rank (a self-join, an unreused
    exchange) gets the same ranks.
    """
    seq = InternalFunction.distributed_sequence_id() + F.lit(1)
    return df.orderBy(*order_by).select("*", seq.cast("long").alias(rank_col))


def distributed_running_sum(
    df: DataFrame,
    order_by: Sequence[Column],
    value_col: str,
    out_col: str = "_csum",
    num_partitions: Optional[int] = None,
    total_col: Optional[str] = None,
) -> DataFrame:
    """Append ``out_col`` = running BIGINT sum of ``value_col`` over the
    total order ``order_by``, distributed.

    ``sum(v) OVER (ORDER BY ...)`` with no PARTITION BY is the same
    single-task scale bug as the ungrouped row_number (and fires the
    same WindowExec warning): Spark sorts the whole input in one
    partition.  Here: range-partition on the key, pin the assignment
    (localCheckpoint), per-partition value totals collected driver-side
    (bounded at ``num_partitions`` rows), inlined as a literal
    pid->offset map, then a per-partition keyed cumulative window.
    Bit-identical to the global running sum for BIGINT values under a
    total order (integer addition is associative; callers pass distinct
    keys or append a tie-break).

    **EAGER, not lazy**: calling this function runs Spark jobs
    immediately (the two localCheckpoints, the range sampling and the
    P-row totals collect) and snapshots the input as of the call —
    treat it as an action, not a plan transformation.  Unlike the rank,
    which rides on Spark's ``AttachDistributedSequence`` operator, Spark
    has no lazy primitive for a cross-partition prefix sum."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    order_by = list(order_by)

    # Materialize the INPUT before the range exchange: the
    # RangePartitioner's bounds-sampling job executes the child once and
    # the shuffle map pass executes it again, so an expensive upstream
    # pipeline ran TWICE per rank. Checkpointing first makes both passes
    # read the materialized rows; the transient storage is the same
    # narrow (keys, order-cols) table the checkpoint below already pins.
    stamped = (
        df.localCheckpoint()
        .repartitionByRange(num_partitions, *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint()
    )
    totals = (
        stamped.groupBy(_PID)
        .agg(F.sum(value_col).cast("long").alias("_s"))
        .collect()
    )
    acc = 0
    off_pairs: list[Column] = []
    for row in sorted(totals, key=lambda r: r[_PID]):
        off_pairs += [F.lit(row[_PID]), F.lit(acc)]
        acc += row["_s"] or 0
    # empty input -> no partitions -> every offset is 0 (an argless
    # create_map() is map<void,void> and cannot be indexed)
    off_map = (
        F.create_map(*off_pairs)[F.col(_PID)]
        if off_pairs
        else F.lit(0)
    )

    local_w = (
        Window.partitionBy(_PID)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = stamped.withColumn(
        out_col,
        (
            F.coalesce(off_map, F.lit(0)).cast("long")
            + F.sum(value_col).over(local_w).cast("long")
        ).cast("long"),
    ).drop(_PID)
    if total_col is not None:
        # the grand total fell out of the offset fold — a driver-known
        # constant, so it inlines as a literal (no second pass, no
        # one-row cross join)
        out = out.withColumn(total_col, F.lit(acc).cast("long"))
    return out


def packed_running_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "_csum",
) -> DataFrame:
    """LAZY running BIGINT sum for PROVABLY BOUNDED tables: pack the
    whole table into one sorted array, compute each prefix with an
    in-array fold, re-expand with ``explode``.

    The bounded-table counterpart of :func:`distributed_running_sum`
    (which stays fully distributed but runs eager jobs at call time). Use THIS variant when the input is bounded
    by construction — an offset grid, a per-bucket summary, a
    distinct-value histogram of a range-bounded metric — i.e. at most
    ~10^4 rows at ANY data scale. The whole table passes through one
    aggregation buffer and the prefix fold is O(n^2) in-memory work,
    so the bound is a hard contract, not a hint; for anything
    row-count-shaped, use :func:`distributed_running_sum`.

    ``order_col`` leads the packed struct, so ``sort_array`` orders by
    it first (remaining columns tie-break; pass distinct keys for a
    total order, as with the distributed variant). Fully lazy: no job
    runs until the result is consumed.
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

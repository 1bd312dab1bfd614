"""Bucketed table layout — the co-located fact-join lever.

A shuffle on the join key is THE dominant cost of a large fact-fact
join: at 100 TB, `lineitem ⋈ orders` moves both tables across the
cluster every time anyone runs it. Writing both sides bucketed (and
sorted) by the key moves that shuffle to WRITE TIME, once: every
subsequent join of the two tables is planned with zero Exchange under
the SortMergeJoin — Spark matches bucket files pairwise on each
executor (`.explain` shows `Bucketed: true` on both scans and no
Exchange below the join).

Build-once mechanics under Spark's default in-memory catalog: the
bucketed FILES survive on disk (bucket ids are encoded in file names),
but catalog entries do not survive a session — so `ensure_bucketed`
re-registers existing files with a metadata-only
`CREATE TABLE ... CLUSTERED BY ... LOCATION` when it finds the built
layout, and only pays the bucketed write when the source or the bucket
spec changed (`sources/persisted.artifact_dir`: source size+mtime plus
a digest of key, bucket count and schema). On a real
deployment a persistent metastore (Hive/Glue/Unity) makes the
re-registration unnecessary; the write-once layout contract is
identical.

Reference parity: the reference keeps RDS tables keyed for its joins
(sql/rds_schema.sql); bucketing is the Spark-native equivalent of that
physical-layout decision, applied to the lake itself.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from .persisted import WAREHOUSE, artifact_dir, build_once

__all__ = ["ensure_bucketed", "write_bucketed", "read_table"]


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a catalog table bucketed (and optionally sorted) by key.

    Sorting within buckets additionally removes the Sort from
    SortMergeJoin and makes per-key window scans sequential I/O.
    The low-level primitive; :func:`ensure_bucketed` wraps it with the
    build-once staleness key and cross-session re-registration."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


#: the warehouse area that holds every ``ensure_bucketed`` layout
_ROOT = os.path.join(WAREHOUSE, "bucketed")


def _register(
    spark: SparkSession,
    name: str,
    path: str,
    schema_ddl: str,
    key: str,
    n_buckets: int,
) -> None:
    """Metadata-only CREATE TABLE over already-bucketed files.

    The column list comes from ``StructType.toDDL()`` (Catalyst's own
    DDL printer: backquoted names, correct nested-type syntax) — a
    hand-rolled ``simpleString`` rewrite silently mangles struct inner
    colons and reserved column names (round-9 ADVICE)."""
    spark.sql(
        f"CREATE TABLE {name} ({schema_ddl}) USING PARQUET"
        f" CLUSTERED BY (`{key}`) SORTED BY (`{key}`)"
        f" INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )


def ensure_bucketed(
    spark: SparkSession,
    df: DataFrame,
    source_path: str,
    key: str,
    n_buckets: int = 8,
) -> DataFrame:
    """Return ``df``'s rows as a bucketed-by-``key`` table, building the
    layout once per source version and bucket spec.

    ``source_path`` is the file whose (size, mtime) keys the layout —
    a regenerated source can never be read through stale buckets — and
    ``key``, ``n_buckets`` and ``df``'s schema are its build parameters,
    so another spec is another layout, never the old files re-registered
    under a wrong bucket count. The layout directory's name is also the
    table name. The bucketed write itself is the one-time shuffle; every
    later call (same or new session) is metadata-only. The write goes
    through ``persisted.build_once``: concurrent readers see the
    complete layout or none of it, and building a new version prunes
    the superseded layouts of the same source.
    """
    from pyspark.sql import functions as F

    schema_ddl = df.schema.toDDL()
    path = artifact_dir(
        "bucketed",
        "bkt_" + os.path.basename(source_path).split(".")[0],
        source_path,
        {"key": key, "n_buckets": n_buckets, "schema": schema_ddl},
    )
    name = os.path.basename(path)
    if not spark.catalog.tableExists(name):

        def write(tmp: str) -> None:
            # one shuffle to align writer partitions with bucket ids
            # (same Murmur3 hash) -> exactly ONE file per bucket, which
            # is the layout Spark's SMJ planner can trust for BOTH
            # exchange AND sort elimination
            tmp_name = f"{name}__build{os.getpid()}"
            (
                df.repartition(n_buckets, F.col(key))
                .write.mode("overwrite")
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .option("path", tmp)
                .saveAsTable(tmp_name)
            )
            spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")

        build_once(path, write)
        _register(spark, name, path, schema_ddl, key, n_buckets)
    return spark.table(name)

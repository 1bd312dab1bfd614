"""JDBC metadata sink (SURVEY.md S15): the reference appends the ETL run
ledger to Postgres ``public.ohlcv_metadata`` via the Spark JDBC writer
(etl/glue_job.py:227-281). Identical here; the writer is constructed
lazily so environments without a database (or driver jar) can still
import and plan — execution is what needs the endpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "org.postgresql.Driver",
    mode: str = "append",
    batchsize: int = 1000,
):
    """Return the configured DataFrameWriter (call ``.save()`` to run).

    Separated construction from execution so tests can assert the
    configuration without a live database."""
    return (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("driver", driver)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )

"""Fixture-table catalog: load and register the test star schema.

The reference points pandas at ad-hoc file paths; the Spark engine instead
registers every table as a temp view so the delegated-SQL surface
(reference ``core/utils/db_core.py:119-135`` → ``spark.sql``) works over a
real catalog. At 100 TB these would be external catalog tables partitioned
by date; locally they are the driver-generated parquet fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neulix_datahub_spark.sources.io import (
    parquet_schema,
    read_parquet,
    _set_parquet_read_conf,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
# Only the CONSTANT-size dimensions qualify: region (5 rows) and nation (25)
# never grow with scale factor. Supplier does (TPC-H: SF x 10k — ~10^9 rows
# at the 100 TB design point), so it must never carry a forced broadcast
# hint; AQE picks broadcast at runtime when the side is actually small.
BROADCAST_TABLES = frozenset({"region", "nation"})


# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as
# epoch-nanos longs (spark.sql.legacy.parquet.nanosAsLong); we surface them
# as microsecond timestamps — the same truncation DuckDB applies.
_NANOS_TS_COLUMNS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table through ``io.read_parquet``: the footer
    schema is inferred (one Spark job, about 80 ms) on the first load of
    each file in a session and reused while the file is unchanged, so a
    repeated load launches no job.

    Sets ``spark.sql.legacy.parquet.nanosAsLong`` here, not only in the
    session factory: callers (the correctness driver among them) may hand us
    a plain session, and without the flag any TIMESTAMP(NANOS) column aborts
    the read with PARQUET_TYPE_ILLEGAL. The conf is runtime-settable; it
    is set through ``io._set_parquet_read_conf``, which keeps the schema
    cache's key in step and skips the JVM call once it is set.
    """
    _set_parquet_read_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = read_parquet(spark, path)
    schema = parquet_schema(spark, path)  # cached by the read: no job
    for c in _NANOS_TS_COLUMNS.get(name, ()):
        if c in schema.names and isinstance(schema[c].dataType, T.LongType):
            # Integer DIV, not `/`: epoch-nanos exceed double-precision range.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each fixture as a temp view named after the table.

    This is the engine's analogue of the reference's BigQuery datasets
    (``raw_ego_datalake.entities`` etc., ``db_core.py:137-185``): after
    registration, arbitrary SQL runs via ``spark.sql`` with Catalyst doing
    pushdown/pruning against the parquet scans.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

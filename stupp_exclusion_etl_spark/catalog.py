"""Testdata catalog: parquet table loading and view registration.

The driver's tables (TESTDATA.md) are one parquet file per table under
``{sf_dir}/{name}.parquet``. At 100 TB scale the same call reads a
partitioned parquet/Delta directory — ``spark.read.parquet`` is already
the scan operator with Catalyst predicate pushdown, column pruning and
partition pruning (SURVEY.md A1-A5).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Inferred schema per (session, local file, size, mtime): Spark infers
#: a parquet schema with a Spark job of its own (a task reads the
#: footer) on every ``spark.read.parquet``, and a plan reads its tables
#: again on every build.
_SCHEMAS: dict = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``; a local file read before in this
    session, unchanged since, gets its inferred schema passed in, so
    the read starts no inference job."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (spark, path, st.st_size, st.st_mtime_ns)
    if key not in _SCHEMAS:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(_SCHEMAS[key]).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Filters/projections applied on the result are
    pushed into the parquet reader by Catalyst (check PushedFilters /
    ReadSchema in .explain("formatted")).

    ``events.ts`` is parquet TIMESTAMP(NANOS). Spark ≥ 4.1 reads it
    natively as TIMESTAMP_NTZ (ns truncated to µs, matching DuckDB) —
    pass it through untouched, no session-timezone involvement. Older
    readers reject NANOS unless ``nanosAsLong`` is set, which yields a
    BIGINT ns column; convert ns → µs with integer division (ns epochs
    exceed 2^53, so float division would lose precision) and build the
    NTZ value arithmetically (epoch + day-time interval) rather than via
    ``cast(... as timestamp_ntz)``, which routes through
    ``spark.sql.session.timeZone`` — the driver runs a vanilla session
    with the host TZ, and correctness must not depend on the host being
    UTC. ``decimal(20,0)/1000000`` keeps all 6 fractional digits exactly
    (double would round µs). Both paths are value-identical to DuckDB's
    truncating ns→µs read of the same file.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if not isinstance(df.schema["ts"].dataType, LongType):
            return df
        return df.withColumn(
            "ts",
            F.expr(
                "timestamp_ntz'1970-01-01 00:00:00' + make_dt_interval(0, 0, 0, "
                "cast(ts div 1000 as decimal(20,0)) / 1000000)"
            ),
        )
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so plans can use spark.sql."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)

"""Table loading for the driver's testdata layout.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under an sf dir.

At 100 TB the same call works unchanged: ``spark.read.parquet`` on a
directory of many files gives splittable, column-pruned, filter-pushed
scans; partition-pruning applies when tables are laid out with
``partitionBy`` (see plans/medallion.py for the write side).
"""

from __future__ import annotations

import os

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

# Schema catalog: every spark.read.parquet(path) WITHOUT an explicit
# schema launches a 1-task schema-inference job (~0.1-0.3 s of job +
# scheduler latency per call — measured round 13, guide §1/§6). The
# testdata tables are immutable inputs, so infer each table's schema
# once per process and pass it explicitly afterwards — exactly what a
# catalog/metastore provides a production deployment. Only the SCHEMA
# (metadata) is cached; every query still scans the parquet data.
_SCHEMA_CACHE: dict[str, "object"] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    # Pin UTC on whatever session calls us (driver sessions included):
    # naive parquet timestamps must render identically to the DuckDB
    # oracle regardless of host timezone. Runtime-settable conf.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Naive parquet stamps (isAdjustedToUTC=false) must become session-tz
    # TIMESTAMP, not TIMESTAMP_NTZ — epoch casts / unix_timestamp reject
    # NTZ and the oracle reads the same wall-clock values. Runtime conf.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        # Some generator versions write events.ts as parquet
        # TIMESTAMP(NANOS), which Spark's vectorized reader rejects; read
        # nanos as long (runtime-settable legacy conf) and convert to
        # microsecond TimestampType. Integer `div` truncates exactly like
        # DuckDB's ns→us cast, so oracle parity holds.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_cached_schema(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _tz_normalize(df)
    return _tz_normalize(_read_cached_schema(spark, path))


def _read_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    st = _SCHEMA_CACHE.get(path)
    if st is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    return spark.read.schema(st).parquet(path)


def _tz_normalize(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-tz TIMESTAMP (UTC session
    → value-preserving). Belt-and-braces for sessions where the read conf
    above was set after a footer/schema cache was already populated."""
    from pyspark.sql import functions as F

    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz:
        return df
    return df.select(
        *[
            F.col(c).cast("timestamp").alias(c) if c in ntz else F.col(c)
            for c in df.columns
        ]
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame keyed by name."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so spark.sql can reference it."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-local ``rows`` as a JVM-local relation (``LocalTableScan``).

    ``spark.createDataFrame(list)`` plans a ``parallelize`` plus an
    identity ``map`` in Python, so every action on the frame runs
    Python-worker tasks. An Arrow table crosses py4j once and plans to a
    ``LocalTableScan``. ``schema`` is a DDL string of atomic types; pass
    instants as epoch micros and convert them in the engine
    (``F.timestamp_micros``), which keeps the host's timezone out of
    the values."""
    import pyarrow as pa
    from pyspark.sql.types import DataType

    names = [f.name for f in DataType.fromDDL(schema).fields]
    cols = list(zip(*rows)) or [()] * len(names)
    return spark.createDataFrame(
        pa.table({n: list(c) for n, c in zip(names, cols)}), schema
    )

"""Schema-drift detection — the ``elementary.schema_changes`` twin.

The reference attaches ``elementary.schema_changes`` to its staging
model (reference ``dbt/models/stg/schema.yml:9``): every run, the
monitor snapshots the model's (column, type) schema and reports columns
that were added, removed, or retyped against the previous snapshot.
This module re-expresses that as first-class operators over snapshot
TABLES:

- :func:`snapshot_schema` — one row per column (name, canonical type,
  ordinal) of a DataFrame. Schema introspection is driver metadata (as
  it is for dbt/elementary, which read information_schema); the
  snapshot then lives as ordinary data.
- :func:`record_schema_snapshot` — persist a run's snapshot beside the
  Q6 profile metrics, partitioned by ``run_id`` (partition-pruned
  reads; the snapshot store grows by |columns| per run, never rescanned).
- :func:`schema_drift_report` — full-outer join of two snapshots on
  column name → one row per drifted column with ``change_type`` in
  (``added`` | ``removed`` | ``type_changed``). Column-grain frames:
  trivially broadcastable at any data scale.
- :func:`detect_drift` — the scheduled-maintenance form: diff the two
  most recent run_ids in a snapshot store.

Types are canonicalized to Spark ``simpleString`` vocabulary so
engines and evolving writers agree on the comparison key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metar_pipeline_spark.io import local_frame


def snapshot_schema(df: DataFrame) -> DataFrame:
    """(column_name, data_type, ordinal) — one row per top-level column.

    ``data_type`` is the Spark ``simpleString`` (``bigint``,
    ``double``, ``string``, ``timestamp``, ``array<float>``, ...): the
    canonical vocabulary drift comparisons key on. The rows are a
    JVM-local relation (``io.local_frame``): no Python worker runs."""
    rows = [
        (f.name, f.dataType.simpleString(), i)
        for i, f in enumerate(df.schema.fields)
    ]
    return local_frame(
        df.sparkSession, rows,
        "column_name string, data_type string, ordinal int",
    )


def record_schema_snapshot(
    df: DataFrame, store_path: str, run_id: int
) -> None:
    """Append ``df``'s snapshot to the store under ``_run=run_id``
    (dynamic partition overwrite — re-recording a run is idempotent,
    the same exactly-once contract as the streaming sinks)."""
    (
        snapshot_schema(df)
        .withColumn("_run", F.lit(int(run_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_run")
        .parquet(store_path)
    )


def schema_drift_report(prev: DataFrame, curr: DataFrame) -> DataFrame:
    """Drifted columns between two snapshots: full-outer join on
    column_name; emits only changes (unchanged columns are dropped).

    Output: (column_name, change_type, from_type, to_type) with
    change_type ∈ added | removed | type_changed — the exact verdict
    set ``elementary.schema_changes`` reports."""
    p = prev.select(
        F.col("column_name"), F.col("data_type").alias("from_type")
    )
    c = curr.select(
        F.col("column_name"), F.col("data_type").alias("to_type")
    )
    j = p.join(c, "column_name", "full_outer")
    change = (
        F.when(F.col("from_type").isNull(), F.lit("added"))
        .when(F.col("to_type").isNull(), F.lit("removed"))
        .when(F.col("from_type") != F.col("to_type"), F.lit("type_changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select("column_name", "change_type", "from_type", "to_type")
    )


def detect_drift(spark: SparkSession, store_path: str) -> DataFrame:
    """Diff the two most recent snapshots in a store written by
    :func:`record_schema_snapshot`. Returns an empty report when fewer
    than two runs exist. The store read is partition-pruned to the two
    newest ``_run`` partitions."""
    store = spark.read.parquet(store_path)
    # scalar reads off aggregated partition-column-only scans (the
    # package's permitted driver-side access pattern): newest run, then
    # newest strictly-older run
    curr_run = store.agg(F.max("_run").alias("m")).first().m
    prev_run = (
        store.filter(F.col("_run") < curr_run)
        .agg(F.max("_run").alias("m"))
        .first()
        .m
        if curr_run is not None
        else None
    )
    if prev_run is None:
        return spark.createDataFrame(
            [],
            "column_name string, change_type string, "
            "from_type string, to_type string",
        )
    return schema_drift_report(
        store.filter(F.col("_run") == prev_run),
        store.filter(F.col("_run") == curr_run),
    )

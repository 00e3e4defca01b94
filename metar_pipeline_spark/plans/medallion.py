"""The METAR medallion pipeline as persisted, composable batch stages.

Reproduces the reference's four dbt models with their exact incremental
contracts (SURVEY.md §2.7):

| layer | reference model | watermark | materialization |
|-------|-----------------|-----------|-----------------|
| stg   | stg_metar_observations (stg/stg_metar_observations.sql) | strict ``>`` (L1) | merge by id (L4) |
| ods   | ods_metar_latest (ods/ods_metar_latest.sql)             | inclusive ``>=`` (L2) | append (L5) |
| int   | int_metar_latest (int/int_metar_latest.sql)             | strict ``>`` (L1) | merge by icao (L4) |
| dwh   | dw_daily_airport_metrics (dwh/dw_daily_airport_metrics.sql) | inclusive ``>=`` on date (L2) | overwrite of the days ≥ watermark (≡ merge by icao_date) |

Dependency order stg → {ods, int} → dwh mirrors the dbt ref() DAG
(SURVEY.md §3.3); unlike dbt+Postgres each stage is one distributed
plan, and the whole chain shares a session.

Layout: every layer is parquet under ``base_dir/<layer>`` beside its
``_layer.json`` (``sources.merge``): the layer's schema and high
watermark, written with its data. Each stage reads its input with the
stored schema and filters on its own stored watermark, so a warm cycle
runs no schema-inference job and no max scan over a target.

- stg and int merge through ``upsert_parquet``'s staging swap, which
  rewrites the whole (small) table and its metadata together.
- ods appends only the fresh rows.
- dwh is partitioned by ``observed_date``: downstream reads
  partition-prune, and each cycle overwrites only the days at or after
  its watermark, recomputed from ods; it never reads dwh. That equals
  the reference's merge by icao_date: ods only grows, so a recomputed
  day's ``n_observations`` is never below the stored one and the
  recomputed row would win the merge anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metar_pipeline_spark.io import local_frame
from metar_pipeline_spark.operators.windows import latest_per_key_maxby
from metar_pipeline_spark.sources.merge import (
    append_layer,
    layer_meta,
    overwrite_layer_partitions,
    read_layer,
    upsert_parquet,
    watermark_filter,
)


def _read_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return spark.read.parquet(path) if fs.exists(hpath) else None


def _watermark(spark: SparkSession, path: str) -> int | None:
    """The stored high watermark of the layer at ``path``; None before
    its first run."""
    meta = layer_meta(spark, path)
    return meta.watermark if meta else None


def stg_stage(
    spark: SparkSession,
    normalized: DataFrame,
    base_dir: str,
    run_id: int | None = None,
    anomaly_guard: "dict | None" = None,
) -> "dict":
    """stg: typed observations, strict watermark, merge by id.

    Batch profile metrics (row count, null rates, observed bounds) ride
    the merge's own scan via ``DataFrame.observe`` — zero extra passes,
    which is what makes per-batch monitoring affordable at 100 TB —
    and append to ``base_dir/_metrics``. This approximates the
    reference's elementary column_anomalies/schema_changes monitors
    (/root/reference/dbt/models/stg/schema.yml:9,17) as engine-native
    observability (SURVEY.md Q6).

    ``anomaly_guard`` (optional) is the CIRCUIT BREAKER — the engine
    analogue of elementary tests at ``severity: error`` blocking the
    dbt build: BEFORE merging, the batch's profile is judged against
    the run history (``quality.anomalies.metrics_store_anomalies``
    semantics, keys: ``rule`` 'sigma'|'iqr', ``k``, ``min_history``);
    an anomalous batch is written to ``_quarantine_stg/_run=<hw>``
    (idempotent partition overwrite) and the merge, metrics append and
    schema snapshot are all SKIPPED — the lake keeps serving the last
    good state, and the store's history is never polluted by the batch
    it just rejected. Cost: one extra aggregate over the BATCH (never
    the store). Insufficient history never blocks.

    Returns ``{"status": "merged"|"quarantined"|"empty", "flags": df}``
    (``flags`` only when the guard evaluated).
    """
    from pyspark.sql import Observation

    path = os.path.join(base_dir, "stg")
    fresh = watermark_filter(
        normalized, "observed", _watermark(spark, path), inclusive=False
    )
    if anomaly_guard is not None:
        g = dict(anomaly_guard)
        probe = fresh.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("observed").isNull().cast("long")).alias(
                "null_observed"
            ),
            F.sum(F.col("icao").isNull().cast("long")).alias("null_icao"),
            F.unix_timestamp(F.max("observed")).alias("hw"),
        ).first()
        hist = _read_if_exists(spark, os.path.join(base_dir, "_metrics"))
        if probe["n_rows"] and hist is not None:
            from metar_pipeline_spark.quality.anomalies import (
                metrics_store_anomalies,
            )

            cand = spark.range(1).select(
                F.lit("stg").alias("layer"),
                F.lit(probe["hw"]).cast("long").alias(
                    "max_observed_epoch"
                ),
                F.lit(probe["n_rows"]).cast("long").alias("n_rows"),
                F.lit(probe["null_observed"] or 0)
                .cast("long")
                .alias("null_observed"),
                F.lit(probe["null_icao"] or 0).cast("long").alias(
                    "null_icao"
                ),
            )
            flags = metrics_store_anomalies(
                hist.select(
                    "layer",
                    "max_observed_epoch",
                    "n_rows",
                    "null_observed",
                    "null_icao",
                ).unionByName(cand),
                layer="stg",
                rule=g.get("rule", "sigma"),
                k=g.get("k", 3),
                min_history=g.get("min_history", 3),
            ).localCheckpoint(eager=True)  # metadata grain; count + caller
            if flags.filter(F.col("is_anomaly")).count() > 0:
                # Quarantine CONTRACT (round-13 ADVICE): a quarantined
                # batch never advances the watermark, so the pipeline
                # stays BLOCKED on this source until an operator
                # intervenes (fix upstream and let a clean batch
                # through, or raise the guard's k). On a retry the
                # same poisoned rows re-present under a NEW _run=<hw>
                # partition (hw grows with fresh arrivals) — so rows
                # already quarantined are anti-joined out by id first:
                # partitions then tile (each row appears in exactly
                # one _run partition) instead of overlapping, and the
                # quarantine store reads as one deduplicated frame.
                # Rerunning the SAME batch still idempotently
                # overwrites its own partition (dynamic overwrite).
                qpath = os.path.join(base_dir, "_quarantine_stg")
                prior = _read_if_exists(spark, qpath)
                q = fresh
                if prior is not None:
                    q = fresh.join(
                        prior.select("id").distinct(), "id", "left_anti"
                    )
                (
                    q.withColumn("_run", F.lit(int(probe["hw"])))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_run")
                    .parquet(qpath)
                )
                return {"status": "quarantined", "flags": flags}
        else:
            flags = None
    else:
        flags = None
    obs = Observation("stg_batch")
    fresh = fresh.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("observed").isNull().cast("int")).alias("null_observed"),
        F.sum(F.col("icao").isNull().cast("int")).alias("null_icao"),
        # instants as epoch micros: a collected TimestampType goes
        # through the host's local timezone
        F.unix_micros(F.min("observed")).alias("min_observed_us"),
        F.unix_micros(F.max("observed")).alias("max_observed_us"),
        # Engine-derived watermark epoch (round-9 ADVICE): the run id
        # must not depend on the driver's timezone, and a collected
        # TimestampType converts through PySpark's LOCAL-tz
        # fromInternal — so the epoch is computed inside the engine
        # (session tz is pinned UTC by load_table) where it is a pure
        # function of the data.
        F.unix_timestamp(F.max("observed")).alias("max_observed_epoch"),
    )
    upsert_parquet(
        spark, fresh, path, keys=["id"], order_col="inserted_at",
        watermark_col="observed",
    )
    _append_batch_metrics(spark, base_dir, "stg", obs.get)
    # elementary.schema_changes twin: snapshot this batch's (column,
    # type) schema beside the profile metrics; schema_drift.detect_drift
    # diffs the two newest runs (added/removed/retyped columns)
    from metar_pipeline_spark.quality.schema_drift import (
        record_schema_snapshot,
    )

    snap_store = os.path.join(base_dir, "_schema_snapshots")
    metrics = obs.get
    if run_id is None:
        # Batch-identity run id (NOT a directory count): the batch's
        # own high-watermark boundary in epoch seconds, read off the
        # observe metrics the merge scan already computed. Re-running
        # the same stg batch reproduces the same run_id, so the
        # dynamic-partition overwrite in record_schema_snapshot
        # idempotently replaces its OWN snapshot (a dir-count id
        # allocated a fresh partition per retry, making detect_drift
        # diff a rerun against its first attempt — and assumed a local
        # fs). Monotone across watermark-advancing batches, so
        # detect_drift's newest-two ordering stays chronological.
        hw = metrics.get("max_observed_epoch")
        if hw is None:
            # Empty batch (everything behind the watermark): no fresh
            # data, nothing to snapshot — and no stable identity to
            # key an overwrite on.
            return {"status": "empty", "flags": flags}
        # The epoch comes straight from the observe metrics (round-9
        # ADVICE): a driver-side hw.timestamp() interpreted the naive
        # collected datetime in the HOST'S local timezone, so a tz
        # change between a run and its replay yielded a different
        # run_id — defeating exactly the rerun idempotency this id
        # exists for (and could make ids non-monotone across the
        # change). unix_timestamp(max(observed)) is engine-derived: a
        # pure function of the data under the UTC session tz.
        run_id = int(hw)
    record_schema_snapshot(normalized, snap_store, run_id)
    return {"status": "merged", "flags": flags}


def _append_batch_metrics(
    spark: SparkSession, base_dir: str, layer: str, metrics: dict
) -> None:
    """Append one profile row per (layer, batch) to the metrics table."""
    _batch_metrics_row(spark, layer, metrics).write.mode("append").parquet(
        os.path.join(base_dir, "_metrics")
    )


def _batch_metrics_row(spark: SparkSession, layer: str, metrics: dict) -> DataFrame:
    """The ``_metrics`` row of one batch, from its observe metrics."""
    row = local_frame(
        spark,
        [(layer, metrics["max_observed_us"], metrics["max_observed_epoch"],
          metrics["min_observed_us"], metrics["n_rows"],
          metrics["null_icao"], metrics["null_observed"])],
        "layer string, max_observed_us long, max_observed_epoch long, "
        "min_observed_us long, n_rows long, null_icao long, "
        "null_observed long",
    )
    return row.select(
        "layer",
        F.timestamp_micros("max_observed_us").alias("max_observed"),
        "max_observed_epoch",
        F.timestamp_micros("min_observed_us").alias("min_observed"),
        "n_rows",
        "null_icao",
        "null_observed",
        F.current_timestamp().alias("batch_ts"),
    )


def ods_stage(spark: SparkSession, base_dir: str) -> None:
    """ods: digits-only id sanitization (ods_metar_latest.sql:13-23),
    star-except-id projection, inclusive watermark, append."""
    stg = read_layer(spark, os.path.join(base_dir, "stg"))
    path = os.path.join(base_dir, "ods")
    wm = _watermark(spark, path)
    is_num = F.col("id").rlike("^[0-9]+$")
    sanitized = (
        stg.filter(is_num)
        .withColumn("id_int", F.col("id").cast("int"))
        .drop("id")
    )
    fresh = watermark_filter(sanitized, "observed", wm, inclusive=True)
    append_layer(spark, fresh, path, "observed", wm)


def int_stage(spark: SparkSession, base_dir: str) -> None:
    """int: latest observation per icao (int_metar_latest.sql:9-17),
    strict watermark, merge by icao."""
    stg = read_layer(spark, os.path.join(base_dir, "stg"))
    path = os.path.join(base_dir, "int")
    fresh = watermark_filter(
        stg, "observed", _watermark(spark, path), inclusive=False
    )
    latest = latest_per_key_maxby(fresh, ["icao"], "observed", tiebreak="id")
    upsert_parquet(
        spark, latest, path, keys=["icao"], order_col="observed",
        watermark_col="observed",
    )


def dwh_stage(spark: SparkSession, base_dir: str) -> None:
    """dwh: daily per-airport mart with surrogate key
    (dw_daily_airport_metrics.sql:7-29), inclusive date watermark;
    the days at or after it are recomputed from ods and overwrite their
    ``observed_date`` partitions (≡ merge by icao_date, module
    docstring)."""
    ods = read_layer(spark, os.path.join(base_dir, "ods"))
    path = os.path.join(base_dir, "dwh")
    wm = _watermark(spark, path)
    with_date = ods.withColumn(
        "observed_date", F.to_date(F.date_trunc("day", F.col("observed")))
    )
    with_date = watermark_filter(with_date, "observed_date", wm, inclusive=True)
    mart = (
        with_date.groupBy("icao", "observed_date")
        .agg(
            F.round(
                F.sum(F.col("temperature_c").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_temperature_c"),
            F.max("wind_speed_kt").alias("max_wind_speed_kt"),
            F.min("visibility_m").alias("min_visibility_m"),
            F.count(F.lit(1)).alias("n_observations"),
        )
        .withColumn(
            "icao_date",
            F.concat_ws(
                "_", F.col("icao"), F.date_format("observed_date", "yyyyMMdd")
            ),
        )
    )
    overwrite_layer_partitions(
        spark, mart, path, ["observed_date"], "observed_date", wm
    )


def run_medallion(
    spark: SparkSession,
    normalized: DataFrame,
    base_dir: str,
    run_id: int | None = None,
) -> dict[str, DataFrame]:
    """One pipeline run (≡ one dbt build): stg → {ods, int} → dwh.
    Call repeatedly with new batches for incremental behavior; first
    call is the L3 full refresh. ``run_id`` (optional) keys the schema
    snapshot; when omitted it derives from the batch's own watermark
    boundary so reruns are idempotent."""
    stg_stage(spark, normalized, base_dir, run_id=run_id)
    ods_stage(spark, base_dir)
    int_stage(spark, base_dir)
    dwh_stage(spark, base_dir)
    return {
        layer: read_layer(spark, os.path.join(base_dir, layer))
        for layer in ("stg", "ods", "int", "dwh")
    }

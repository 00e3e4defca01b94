"""Persisted medallion pipeline tests (plans/medallion.py): two
incremental runs over collector-shaped data, layer-by-layer assertions
mirroring the reference's dbt contracts (SURVEY.md §2.7).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from metar_pipeline_spark.plans.medallion import run_medallion
from metar_pipeline_spark.sources.collector import collect_once, fake_fetcher


def _docs(icaos, day, temp):
    return [
        {
            "icao": icao,
            "observed": f"2024-02-{day:02d}T{6 + i}:00:00",
            "raw_text": f"{icao} RAW",
            "temperature": {"celsius": temp + i},
            "wind": {"speed_kts": 10.0 + i},
            "visibility": {"meters_float": 8000.0},
            "station": {
                "name": icao,
                "geometry": {"type": "Point", "coordinates": [30.0, 60.0]},
            },
        }
        for i, icao in enumerate(icaos)
    ]


def _normalized(spark, docs):
    flat = collect_once(spark, fake_fetcher(docs), [d["icao"] for d in docs])
    # md5 ids are hex; the ods digits-only sanitizer
    # (ods_metar_latest.sql:13-23) would drop them — give the pipeline
    # numeric ids like the reference's stringified sequence ids.
    return flat.withColumn(
        "id", F.conv(F.substring("id", 1, 7), 16, 10)
    )


def test_medallion_two_runs(spark, tmp_path):
    base = str(tmp_path / "lake")
    icaos = ["UUEE", "ULLI", "URSS"]

    run1 = run_medallion(spark, _normalized(spark, _docs(icaos, 1, -5.0)), base)
    assert run1["stg"].count() == 3
    assert run1["int"].count() == 3  # one per airport
    assert run1["dwh"].count() == 3  # one per (airport, day)
    d = {r.icao: r for r in run1["dwh"].collect()}
    assert d["UUEE"].n_observations == 1
    assert d["UUEE"].icao_date == "UUEE_20240201"

    # run 2: a newer day for two airports; strict stg watermark must keep
    # run-1 rows intact, int must roll to the newest observation
    run2 = run_medallion(
        spark, _normalized(spark, _docs(icaos[:2], 2, 3.0)), base
    )
    assert run2["stg"].count() == 5
    ints = {r.icao: r for r in run2["int"].collect()}
    assert ints["UUEE"].observed.day == 2  # advanced
    assert ints["URSS"].observed.day == 1  # untouched
    days = {
        (r.icao, r.icao_date[-8:]) for r in run2["dwh"].collect()
    }
    assert ("UUEE", "20240202") in days and ("URSS", "20240201") in days

    # dwh is physically partitioned by observed_date (partition pruning)
    import os

    parts = {
        p for p in os.listdir(os.path.join(base, "dwh"))
        if p.startswith("observed_date=")
    }
    assert {"observed_date=2024-02-01", "observed_date=2024-02-02"} <= parts

    # re-running the same batch is a no-op for stg/int (strict watermark
    # drops everything already seen — L1 idempotence)
    run3 = run_medallion(
        spark, _normalized(spark, _docs(icaos[:2], 2, 3.0)), base
    )
    assert run3["stg"].count() == 5
    assert run3["int"].count() == 3


def test_medallion_batch_metrics_observe(spark, tmp_path):
    """stg writes one profile row per run to base/_metrics via
    DataFrame.observe — metrics ride the merge scan, no extra pass."""
    import os

    base = str(tmp_path / "lake_m")
    icaos = ["UUEE", "ULLI"]
    run_medallion(spark, _normalized(spark, _docs(icaos, 1, -5.0)), base)
    run_medallion(spark, _normalized(spark, _docs(icaos, 2, 3.0)), base)

    m = spark.read.parquet(os.path.join(base, "_metrics")).orderBy("batch_ts")
    rows = m.collect()
    assert len(rows) == 2
    assert all(r["layer"] == "stg" for r in rows)
    assert [r["n_rows"] for r in rows] == [2, 2]
    assert all(r["null_observed"] == 0 and r["null_icao"] == 0 for r in rows)
    assert rows[0]["min_observed"].day == 1
    assert rows[1]["max_observed"].day == 2


def test_medallion_schema_snapshots_and_drift(spark, tmp_path):
    """Each stg run snapshots the batch schema (elementary.schema_changes
    twin); identical runs report no drift, an evolved batch reports the
    exact added/removed/retyped rows."""
    import os

    from metar_pipeline_spark.quality.schema_drift import detect_drift

    base = str(tmp_path / "lake_s")
    icaos = ["UUEE", "ULLI"]
    run_medallion(spark, _normalized(spark, _docs(icaos, 1, -5.0)), base)
    run_medallion(spark, _normalized(spark, _docs(icaos, 2, 3.0)), base)

    store = os.path.join(base, "_schema_snapshots")

    def _runs():
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(store)
            if d.startswith("_run=")
        )

    # run_id = the batch's own watermark boundary (epoch seconds):
    # batch identity, not a directory count — two batches, two runs,
    # chronologically ordered
    runs = _runs()
    assert len(runs) == 2 and runs[0] < runs[1]
    # same normalization schema both runs → empty report
    assert detect_drift(spark, store).count() == 0

    # replaying batch 2 (all rows now behind the stg watermark → empty
    # fresh set) must NOT allocate a new snapshot run: the rerun has no
    # fresh data and no batch identity of its own
    run_medallion(spark, _normalized(spark, _docs(icaos, 2, 3.0)), base)
    assert _runs() == runs
    assert detect_drift(spark, store).count() == 0

    # an evolved third batch: drop wind_speed_kt, retype temperature_c,
    # add a new column — drift must name each change
    n3 = _normalized(spark, _docs(icaos, 3, 1.0))
    evolved = n3.drop("wind_speed_kt").withColumn(
        "temperature_c", F.col("temperature_c").cast("string")
    ).withColumn("station_kind", F.lit("intl"))
    from metar_pipeline_spark.quality.schema_drift import (
        record_schema_snapshot,
    )

    # a caller-passed run id newer than the epoch-derived ones: the
    # evolved batch's snapshot must become the detect_drift "current"
    evolved_run = _runs()[-1] + 60
    record_schema_snapshot(evolved, store, evolved_run)
    got = {
        (r.column_name, r.change_type, r.from_type, r.to_type)
        for r in detect_drift(spark, store).collect()
    }
    assert ("wind_speed_kt", "removed", "double", None) in got
    assert ("station_kind", "added", None, "string") in got
    assert ("temperature_c", "type_changed", "double", "string") in got
    assert len(got) == 3

    # idempotent re-record of the same run (replay) does not duplicate
    record_schema_snapshot(evolved, store, evolved_run)
    assert detect_drift(spark, store).count() == 3


def test_schema_snapshot_run_id_is_engine_utc_epoch(spark, tmp_path):
    """Round-9 ADVICE fix: the snapshot run_id comes from
    unix_timestamp(max(observed)) INSIDE the observe metrics — a pure
    function of the data under the pinned UTC session tz — never from
    a driver-side .timestamp() of a naive datetime, which interprets
    the wall time in the host's local timezone and would change across
    a tz switch between a run and its replay."""
    import calendar
    import os

    base = str(tmp_path / "lake_tz")
    run_medallion(spark, _normalized(spark, _docs(["UUEE", "ULLI"], 1, -5.0)), base)
    store = os.path.join(base, "_schema_snapshots")
    runs = [
        int(d.split("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("_run=")
    ]
    # batch max observed = 2024-02-01T07:00:00 (second icao, i=1)
    want = calendar.timegm((2024, 2, 1, 7, 0, 0))
    assert runs == [want]


def test_metrics_store_anomaly_rule(spark, tmp_path):
    """Q6 completion (round-11 VERDICT #1): the persisted batch-metrics
    store drives the elementary.column_anomalies flagging rule — a
    poisoned batch (nulled icaos) flags its null stats against the run
    history, and a clean follow-up run clears."""
    from metar_pipeline_spark.plans.medallion import stg_stage
    from metar_pipeline_spark.quality.anomalies import (
        metrics_store_anomalies,
    )

    base = str(tmp_path / "lake")
    icaos = ["UUEE", "ULLI", "URSS"]
    for day in (1, 2, 3, 4):
        stg_stage(spark, _normalized(spark, _docs(icaos, day, -5.0)), base)
    bad = _normalized(spark, _docs(icaos, 5, -5.0)).withColumn(
        "icao",
        F.when(F.col("icao") == "UUEE", F.col("icao")).otherwise(
            F.lit(None).cast("string")
        ),
    )
    stg_stage(spark, bad, base)
    metrics = spark.read.parquet(base + "/_metrics")
    rep = {
        (r.column_name, r.stat): r
        for r in metrics_store_anomalies(metrics).collect()
    }
    assert rep[("icao", "null_count")].is_anomaly
    assert rep[("icao", "null_ppm")].is_anomaly
    assert rep[("icao", "null_ppm")].value == 666667  # half-up 2/3 ppm
    assert not rep[("_table", "count")].is_anomaly  # volume unchanged
    assert not rep[("observed", "null_count")].is_anomaly
    assert rep[("icao", "null_count")].hist_n == 4

    # robust-rule dispatch over the same store: constant-zero history
    # quartiles give [0,0] fences — the poisoned run flags there too
    iqr = {
        (r.column_name, r.stat): r
        for r in metrics_store_anomalies(
            metrics, rule="iqr", min_history=4
        ).collect()
    }
    assert iqr[("icao", "null_count")].is_anomaly
    assert not iqr[("_table", "count")].is_anomaly

    # a clean run on top: latest is healthy again, nothing flags (the
    # poisoned run is now merely one history point)
    stg_stage(spark, _normalized(spark, _docs(icaos, 6, -5.0)), base)
    rep2 = metrics_store_anomalies(
        spark.read.parquet(base + "/_metrics")
    ).collect()
    assert rep2 and not any(r.is_anomaly for r in rep2)


def test_stg_anomaly_circuit_breaker(spark, tmp_path):
    """The elementary severity:error analogue: a poisoned batch is
    QUARANTINED before the merge — stg, the metrics history, and the
    schema snapshots all keep their last good state — and a clean
    follow-up batch merges normally (history never polluted by the
    rejected batch). Insufficient history never blocks."""
    import os as _os

    from metar_pipeline_spark.plans.medallion import stg_stage

    base = str(tmp_path / "lake")
    icaos = ["UUEE", "ULLI", "URSS"]
    guard = {"rule": "sigma", "k": 3, "min_history": 3}
    # first batches: guard active but history insufficient → merges
    for day in (1, 2, 3, 4):
        r = stg_stage(
            spark,
            _normalized(spark, _docs(icaos, day, -5.0)),
            base,
            anomaly_guard=guard,
        )
        assert r["status"] == "merged"
    n_before = spark.read.parquet(base + "/stg").count()
    n_metrics = spark.read.parquet(base + "/_metrics").count()

    bad = _normalized(spark, _docs(icaos, 5, -5.0)).withColumn(
        "icao",
        F.when(F.col("icao") == "UUEE", F.col("icao")).otherwise(
            F.lit(None).cast("string")
        ),
    )
    r = stg_stage(spark, bad, base, anomaly_guard=guard)
    assert r["status"] == "quarantined"
    flagged = {
        (x.column_name, x.stat)
        for x in r["flags"].filter("is_anomaly").collect()
    }
    assert ("icao", "null_count") in flagged
    # nothing merged, history unpolluted, batch preserved for triage
    assert spark.read.parquet(base + "/stg").count() == n_before
    assert spark.read.parquet(base + "/_metrics").count() == n_metrics
    q = spark.read.parquet(base + "/_quarantine_stg")
    assert q.count() == 3 and q.select("_run").distinct().count() == 1
    # re-running the same poisoned batch is idempotent (same _run dir)
    r2 = stg_stage(spark, bad, base, anomaly_guard=guard)
    assert r2["status"] == "quarantined"
    assert spark.read.parquet(base + "/_quarantine_stg").count() == 3

    # a clean later batch sails through — the breaker resets itself
    r3 = stg_stage(
        spark,
        _normalized(spark, _docs(icaos, 6, -5.0)),
        base,
        anomaly_guard=guard,
    )
    assert r3["status"] == "merged"
    assert spark.read.parquet(base + "/stg").count() == n_before + 3
    assert _os.path.isdir(base + "/_quarantine_stg")


# -- layer metadata: explicit schemas, stored watermarks, no Python workers


LAYERS = ("stg", "ods", "int", "dwh")


def _stored_watermarks(spark, base):
    from metar_pipeline_spark.sources.merge import layer_meta

    return {
        layer: layer_meta(spark, f"{base}/{layer}").watermark
        for layer in LAYERS
    }


def _table_watermarks(spark, base):
    """Each layer's max(observed) in epoch micros; dwh's max(observed_date)
    in days — what the reference's models read off their own target."""
    out = {}
    for layer in ("stg", "ods", "int"):
        out[layer] = (
            spark.read.parquet(f"{base}/{layer}")
            .agg(F.unix_micros(F.max("observed")))
            .first()[0]
        )
    out["dwh"] = (
        spark.read.parquet(f"{base}/dwh")
        .agg(F.unix_date(F.max("observed_date")))
        .first()[0]
    )
    return out


def test_warm_cycle_runs_at_most_12_jobs(spark, tmp_path):
    """The four stage calls of a warm (third) cycle: no schema-inference
    job, no watermark scan, no full rewrite of ods or dwh."""
    import uuid

    from metar_pipeline_spark.plans import medallion

    base = str(tmp_path / "lake")
    icaos = ["UUEE", "ULLI", "URSS"]
    for day in (1, 2):
        run_medallion(spark, _normalized(spark, _docs(icaos, day, -5.0)), base)
    batch = _normalized(spark, _docs(icaos, 3, 1.0)).localCheckpoint()
    sc = spark.sparkContext
    group = f"warm-cycle-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm medallion cycle")
    try:
        medallion.stg_stage(spark, batch, base)
        medallion.ods_stage(spark, base)
        medallion.int_stage(spark, base)
        medallion.dwh_stage(spark, base)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 12, len(jobs)


def test_driver_local_frames_start_no_python_worker(spark):
    """The bronze frame, the _metrics row and the schema snapshot are
    JVM-local relations: their lineage holds no PythonRDD."""
    from metar_pipeline_spark.plans.medallion import _batch_metrics_row
    from metar_pipeline_spark.quality.schema_drift import snapshot_schema
    from metar_pipeline_spark.sources.collector import raw_to_bronze

    docs = [json.dumps(d) for d in _docs(["UUEE", "ULLI"], 1, -5.0)]
    bronze = raw_to_bronze(spark, docs)
    metrics = {
        "max_observed_us": 1_706_770_800_000_000,
        "max_observed_epoch": 1_706_770_800,
        "min_observed_us": 1_706_767_200_000_000,
        "n_rows": 2,
        "null_icao": 0,
        "null_observed": 0,
    }
    row = _batch_metrics_row(spark, "stg", metrics)
    snap = snapshot_schema(bronze)
    for df in (bronze, row, snap):
        lineage = df._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
    assert bronze.count() == 2
    assert snap.count() == len(bronze.columns)
    r = row.first()
    assert (r.n_rows, r.max_observed_epoch) == (2, 1_706_770_800)


def test_stored_watermarks_track_the_tables(spark, tmp_path):
    """After three cycles each layer's _layer.json watermark equals the
    table's own max; a batch wholly behind the watermark leaves every
    watermark where it was."""
    base = str(tmp_path / "lake")
    icaos = ["UUEE", "ULLI", "URSS"]
    run_medallion(spark, _normalized(spark, _docs(icaos, 1, -5.0)), base)
    run_medallion(spark, _normalized(spark, _docs(icaos, 2, 3.0)), base)
    after_two = _stored_watermarks(spark, base)
    assert after_two == _table_watermarks(spark, base)
    # a replay of day 1: every row lies behind the stg watermark
    run_medallion(spark, _normalized(spark, _docs(icaos, 1, -5.0)), base)
    assert _stored_watermarks(spark, base) == after_two
    assert _table_watermarks(spark, base) == after_two


def test_missing_layer_metadata_raises(spark, tmp_path):
    """A layer directory without its _layer.json is never taken for a
    first run: the stage that reads it raises."""
    import os

    from metar_pipeline_spark.plans import medallion

    base = str(tmp_path / "lake")
    batch = _normalized(spark, _docs(["UUEE", "ULLI"], 1, -5.0))
    run_medallion(spark, batch, base)
    stages = {
        "stg": lambda: medallion.stg_stage(spark, batch, base),
        "ods": lambda: medallion.ods_stage(spark, base),
        "int": lambda: medallion.int_stage(spark, base),
        "dwh": lambda: medallion.dwh_stage(spark, base),
    }
    for layer, stage in stages.items():
        meta = os.path.join(base, layer, "_layer.json")
        os.rename(meta, meta + ".aside")
        with pytest.raises(FileNotFoundError, match="_layer.json"):
            stage()
        os.rename(meta + ".aside", meta)


def test_metrics_instants_under_new_york_timezone(spark, tmp_path):
    """_metrics keeps the batch's true instants when both the session and
    the host run America/New_York: min/max_observed are the batch's
    min/max(observed) and max_observed_epoch its unix_timestamp."""
    import os
    import time

    from metar_pipeline_spark.plans.medallion import stg_stage

    base = str(tmp_path / "lake")
    prev_tz = os.environ.get("TZ")
    prev_session = spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        batch = _normalized(
            spark, _docs(["UUEE", "ULLI", "URSS"], 1, -5.0)
        ).localCheckpoint()
        stg_stage(spark, batch, base)
        want = batch.agg(
            F.unix_micros(F.min("observed")),
            F.unix_micros(F.max("observed")),
            F.unix_timestamp(F.max("observed")),
        ).first()
        got = (
            spark.read.parquet(base + "/_metrics")
            .agg(
                F.unix_micros(F.first("min_observed")),
                F.unix_micros(F.first("max_observed")),
                F.first("max_observed_epoch"),
            )
            .first()
        )
        assert tuple(got) == tuple(want)
        # docs observe 06:00-08:00 New York wall time on 2024-02-01 (EST)
        assert want[2] == 1_706_785_200 + 2 * 3600
    finally:
        if prev_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", prev_session)


def _layer_rows(spark, base, layer):
    df = spark.read.parquet(f"{base}/{layer}")
    df = df.drop("inserted_at")  # the collector's load time
    return sorted(
        (tuple(r) for r in df.select(sorted(df.columns)).collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def test_crashed_swap_recovers_from_staging(spark, tmp_path, monkeypatch):
    """The table swap deletes the target, then renames staging into
    place. A crash between the two leaves only the staging directory;
    the retried cycle renames it into place and ends with the same
    tables as a cycle that never crashed."""
    import os
    import shutil

    from metar_pipeline_spark.sources import merge

    icaos = ["UUEE", "ULLI", "URSS"]
    batches = [(icaos, 1, -5.0), (icaos, 2, 3.0), (icaos[:2], 3, 1.0)]
    clean = str(tmp_path / "clean")
    for b in batches:
        run_medallion(spark, _normalized(spark, _docs(*b)), clean)

    crashed = str(tmp_path / "crashed")
    for b in batches[:2]:
        run_medallion(spark, _normalized(spark, _docs(*b)), crashed)
    real_rename = merge._rename
    calls = []

    def rename_fails_once(fs, src, dst):
        calls.append(str(dst))
        if len(calls) == 1:
            raise OSError("injected crash between delete and rename")
        real_rename(fs, src, dst)

    monkeypatch.setattr(merge, "_rename", rename_fails_once)
    with pytest.raises(OSError, match="injected"):
        run_medallion(spark, _normalized(spark, _docs(*batches[2])), crashed)
    assert not os.path.exists(f"{crashed}/stg")
    assert os.path.isdir(f"{crashed}/stg.__staging__")

    # the retried cycle
    run_medallion(spark, _normalized(spark, _docs(*batches[2])), crashed)
    assert not os.path.exists(f"{crashed}/stg.__staging__")
    for layer in LAYERS:
        assert _layer_rows(spark, crashed, layer) == _layer_rows(
            spark, clean, layer
        ), layer
    assert _stored_watermarks(spark, crashed) == _stored_watermarks(
        spark, clean
    )

    # a staging leftover without _SUCCESS and _layer.json is no table
    shutil.copytree(f"{crashed}/int", f"{crashed}/int.__staging__")
    shutil.rmtree(f"{crashed}/int")
    os.remove(f"{crashed}/int.__staging__/_SUCCESS")
    with pytest.raises(RuntimeError, match="incomplete"):
        run_medallion(spark, _normalized(spark, _docs(*batches[2])), crashed)

"""Orphan-file GC (sources/vacuum.py) — plant every orphan kind the
engine's writers can leave behind a crash, plus live data and an
in-flight write, and check vacuum removes exactly the dead ones."""

from __future__ import annotations

import os

from metar_pipeline_spark.sources.txn import VersionedStore
from metar_pipeline_spark.sources.vacuum import vacuum_store


def _write(spark, path, ids):
    spark.createDataFrame(
        [(i, f"v{i}") for i in ids], "id long, p string"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_vacuum_removes_orphans_never_live_data(spark, tmp_path):
    lake = str(tmp_path / "lake")
    # live table + crashed merge staging beside it
    _write(spark, f"{lake}/events", [1, 2, 3])
    _write(spark, f"{lake}/events.__staging__", [9])
    # crashed partition-compaction staging inside a table
    _write(spark, f"{lake}/store/day=1", [1])
    _write(spark, f"{lake}/store/.day=1.__compact__", [1])
    # dead aside (live exists) vs stranded aside (live absent)
    _write(spark, f"{lake}/store/.day=2.__old__", [2])
    _write(spark, f"{lake}/store/day=2", [2, 2])
    _write(spark, f"{lake}/m2/.manifest.__old__", [5])  # live m2/manifest absent

    # versioned store: two committed snapshots + one abandoned one
    vs = VersionedStore(spark, f"{lake}/versioned")
    vs.commit(
        spark.createDataFrame([(1,)], "id long"), "init", read_version=-1
    )
    vs.commit(
        spark.createDataFrame([(1,), (2,)], "id long"),
        "merge",
        read_version=0,
    )
    vs.stage(spark.createDataFrame([(7,)], "id long"))  # crash: unclaimed
    with open(f"{lake}/versioned/_commits/.tmp-dead.json", "w") as f:
        f.write("{}")

    report = vacuum_store(spark, lake, older_than_seconds=0)
    actions = {(r["kind"], r["action"]) for r in report}
    assert ("staging", "deleted") in actions
    assert ("aside", "deleted") in actions
    assert ("aside", "restored") in actions
    assert ("orphan_snapshot", "deleted") in actions
    assert ("claim_tmp", "deleted") in actions

    # everything dead is gone
    assert not os.path.exists(f"{lake}/events.__staging__")
    assert not os.path.exists(f"{lake}/store/.day=1.__compact__")
    assert not os.path.exists(f"{lake}/store/.day=2.__old__")
    # the stranded aside was RESTORED, not deleted
    assert os.path.isdir(f"{lake}/m2/manifest")
    assert spark.read.parquet(f"{lake}/m2/manifest").count() == 1
    # live data and both committed snapshots intact
    assert spark.read.parquet(f"{lake}/events").count() == 3
    assert spark.read.parquet(f"{lake}/store/day=1").count() == 1
    assert vs.read(as_of=0).count() == 1
    assert vs.read().count() == 2
    assert len(os.listdir(f"{lake}/versioned/_data")) == 2
    # idempotent: a second sweep finds nothing destructive left
    again = vacuum_store(spark, lake, older_than_seconds=0)
    assert not [r for r in again if r["action"] != "kept_young"]


def test_vacuum_restores_a_stranded_merge_swap(spark, tmp_path):
    """A merge swap that crashed after deleting its table leaves the
    staging dir as the only copy: vacuum renames it into place."""
    from metar_pipeline_spark.sources.merge import upsert_parquet

    lake = str(tmp_path / "lake")
    # a complete staged write (data, _SUCCESS, _layer.json) and no t
    upsert_parquet(
        spark, spark.range(3).withColumnRenamed("id", "k"),
        f"{lake}/t.__staging__", keys=["k"], order_col="k",
    )
    report = vacuum_store(spark, lake, older_than_seconds=0)
    assert [(r["kind"], r["action"]) for r in report] == [
        ("staging", "restored")
    ]
    assert spark.read.parquet(f"{lake}/t").count() == 3


def test_vacuum_horizon_protects_inflight_writers(spark, tmp_path):
    """A staging dir younger than the horizon is an in-flight write —
    vacuum must report it and leave it alone."""
    lake = str(tmp_path / "lake")
    _write(spark, f"{lake}/t", [1])
    _write(spark, f"{lake}/t.__staging__", [2])  # just written: young
    vs = VersionedStore(spark, f"{lake}/v")
    vs.commit(spark.createDataFrame([(1,)], "id long"), "init", -1)
    vs.stage(spark.createDataFrame([(9,)], "id long"))  # between stage+claim

    report = vacuum_store(spark, lake, older_than_seconds=3600)
    assert {r["action"] for r in report} == {"kept_young"}
    assert os.path.isdir(f"{lake}/t.__staging__")
    assert len(os.listdir(f"{lake}/v/_data")) == 2


def test_vacuum_as_maintenance_task(spark, tmp_path):
    from metar_pipeline_spark.plans.maintenance import run_maintenance

    lake = str(tmp_path / "lake")
    _write(spark, f"{lake}/t", [1])
    _write(spark, f"{lake}/t.__staging__", [2])
    rep = run_maintenance(
        spark,
        [{"task": "vacuum", "path": lake, "older_than_seconds": 0}],
    ).collect()
    assert len(rep) == 1 and rep[0].ok
    assert "deleted=1" in rep[0].detail
    assert not os.path.exists(f"{lake}/t.__staging__")


def test_versioned_maintenance_tasks(spark, tmp_path):
    """compact_versioned + expire_versions through the runner — the
    maintenance path exercises the SAME commit protocol as ingest."""
    from metar_pipeline_spark.plans.maintenance import run_maintenance

    root = str(tmp_path / "v")
    vs = VersionedStore(spark, root)
    frag = spark.createDataFrame(
        [(i,) for i in range(40)], "id long"
    ).repartition(8)
    vs.commit(frag, "init", -1)
    rep = run_maintenance(
        spark,
        [
            {
                "task": "compact_versioned",
                "path": root,
                "target_file_bytes": 1 << 30,
            },
            {"task": "expire_versions", "path": root, "keep_last": 1},
        ],
    ).collect()
    assert all(r.ok for r in rep)
    assert rep[0].detail == "version=1"
    assert rep[1].detail == "dropped=1"
    vs2 = VersionedStore(spark, root)
    assert vs2.latest_version() == 1
    assert vs2.read().count() == 40

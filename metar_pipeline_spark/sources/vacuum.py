"""Lake-wide orphan-file GC — the ``vacuum`` maintenance op.

Every writer in this engine is crash-safe in the sense that a crash
never loses committed data: staging dirs are invisible until renamed
into place, asides are restored on the next run of the SAME op. But
the leftovers themselves were immortal — a crashed
``merge.upsert_parquet`` staging dir, an abandoned ``.__compact__``,
a commit-protocol loser's ``_data/<token>`` snapshot — and nothing
swept a store generally. At 100 TB that is a lake slowly filling with
dead bytes (and object-store listings slowly degrading). Lakehouse
twins: Delta ``VACUUM`` / Iceberg ``remove_orphan_files`` — both of
which also use a modification-time safety horizon, because the one
thing GC must never do is delete the staging dir of a writer that is
merely still running.

Rules per artifact kind (matched by the naming conventions of this
engine's own writers — merge, compaction, layout-manifest refresh,
txn):

- ``*.__old__`` asides: if the live path they shadow EXISTS the aside
  is a dead duplicate → delete (horizon-gated); if the live path is
  ABSENT the aside is the only copy (crash between the two swap
  renames) → RESTORE it immediately, regardless of age — vacuum
  repairs, it never widens a crash.
- ``*.__staging__`` / ``*.__compact__`` staging dirs: dead iff older
  than the horizon (a younger one may belong to an in-flight writer),
  except a complete merge staging dir whose live table is absent (a
  swap that crashed between delete and rename): it is the only copy,
  and is RESTORED, as ``merge.layer_meta`` does on the next write.
- ``_data/<token>`` snapshot dirs in a versioned store (a ``_commits``
  sibling exists): dead iff referenced by NO commit file and older
  than the horizon (a younger unreferenced dir is a writer between
  stage and claim).
- ``_commits/.tmp-*.json``: claim temp files, dead past the horizon.

Everything here is directory-listing + rename/delete surgery —
metadata grain, no data read — which is what makes scheduling it
nightly over thousands of stores viable.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from metar_pipeline_spark.sources.merge import _hadoop_fs, is_complete_write

_ASIDE = ".__old__"
_STAGING_SUFFIXES = (".__staging__", ".__compact__")


def _live_for_aside(parent: str, name: str) -> str:
    """The live path an ``*.__old__`` aside shadows: strip the suffix,
    and the hidden dot-prefix if present (compaction/layout use
    ``.{name}.__old__``; a bare ``{name}.__old__`` maps to {name})."""
    stem = name[: -len(_ASIDE)]
    if stem.startswith("."):
        stem = stem[1:]
    return f"{parent}/{stem}"


def vacuum_store(
    spark: SparkSession,
    root: str,
    older_than_seconds: float = 7 * 24 * 3600,
) -> "list[dict]":
    """Sweep ``root`` (recursively) for the orphan kinds above.

    Returns one report row per action:
    ``{"kind", "path", "action": "deleted"|"restored"|"kept_young"}``
    (``kept_young`` rows surface what the horizon protected, so an
    operator can see in-flight writers in the report). Committed data
    — live dirs, referenced snapshots, the commit log itself — is
    never touched. Single-maintenance-writer contract, like every
    destructive op here; the horizon is the guard against concurrent
    INGEST writers, which vacuum must always survive.
    """
    import time

    fs, root_h, jvm = _hadoop_fs(spark, root)
    if not fs.exists(root_h):
        return []
    now_ms = time.time() * 1000.0
    horizon_ms = float(older_than_seconds) * 1000.0
    report: "list[dict]" = []

    def is_old(status) -> bool:
        return (now_ms - status.getModificationTime()) >= horizon_ms

    def act(kind: str, st, action: str) -> None:
        report.append(
            {"kind": kind, "path": st.getPath().toString(), "action": action}
        )

    def sweep(dir_path: str) -> None:
        _, d_h, _ = _hadoop_fs(spark, dir_path)
        entries = list(fs.listStatus(d_h))
        names = {st.getPath().getName() for st in entries}
        # versioned-store detection at THIS level (both layouts:
        # txn full-snapshot commits reference one "data" dir;
        # filelog commits/checkpoints reference file lists)
        referenced: "set[str] | None" = None
        if "_commits" in names and "_data" in names:
            referenced = set()
            _, c_h, _ = _hadoop_fs(spark, f"{dir_path}/_commits")
            for st in fs.listStatus(c_h):
                n = st.getPath().getName()
                is_commit = (
                    n.endswith(".json") and n[: -len(".json")].isdigit()
                )
                is_ckpt = n.startswith("_checkpoint.") and n.endswith(
                    ".json"
                )
                if is_commit or is_ckpt:
                    meta = _read_commit(fs, st.getPath(), jvm)
                    if "data" in meta:  # txn snapshot commit
                        referenced.add(meta["data"].rsplit("/", 1)[-1])
                    for f in (
                        meta.get("add", [])
                        + meta.get("live", [])
                        + meta.get("dv_add", [])
                        + meta.get("dvs", [])
                    ):
                        parts = f.split("/")
                        if len(parts) >= 2 and parts[0] in (
                            "_data",
                            "_dv",
                        ):
                            referenced.add(parts[1])
                elif n.startswith(".tmp-"):
                    if is_old(st):
                        fs.delete(st.getPath(), False)
                        act("claim_tmp", st, "deleted")
                    else:
                        act("claim_tmp", st, "kept_young")
            # branch commit chains reference the SAME _data/_dv
            # namespace — every branch's commits and checkpoints count,
            # or vacuum would eat a live dev branch's tokens
            _, b_h, _ = _hadoop_fs(spark, f"{dir_path}/_branches")
            if fs.exists(b_h):
                for bst in fs.listStatus(b_h):
                    bc = f"{dir_path}/_branches/{bst.getPath().getName()}/_commits"
                    _, bc_h, _ = _hadoop_fs(spark, bc)
                    if not fs.exists(bc_h):
                        continue
                    for st in fs.listStatus(bc_h):
                        n = st.getPath().getName()
                        ok = (
                            n.endswith(".json")
                            and (
                                n[: -len(".json")].isdigit()
                                or n.startswith("_checkpoint.")
                            )
                        )
                        if not ok:
                            continue
                        meta = _read_commit(fs, st.getPath(), jvm)
                        for f in (
                            meta.get("add", [])
                            + meta.get("live", [])
                            + meta.get("dv_add", [])
                            + meta.get("dvs", [])
                        ):
                            parts = f.split("/")
                            if len(parts) >= 2 and parts[0] in (
                                "_data",
                                "_dv",
                            ):
                                referenced.add(parts[1])
            # tagged snapshots pin their tokens past log retention —
            # a tag's file list counts as referenced until delete_tag
            _, t_h, _ = _hadoop_fs(spark, f"{dir_path}/_tags")
            if fs.exists(t_h):
                for st in fs.listStatus(t_h):
                    n = st.getPath().getName()
                    if n.startswith(".tmp-"):  # crashed create_tag
                        if is_old(st):
                            fs.delete(st.getPath(), False)
                            act("tag_tmp", st, "deleted")
                        else:
                            act("tag_tmp", st, "kept_young")
                        continue
                    if not n.endswith(".json") or n.startswith("."):
                        continue
                    meta = _read_commit(fs, st.getPath(), jvm)
                    for f in meta.get("live", []) + meta.get("dvs", []):
                        parts = f.split("/")
                        if len(parts) >= 2 and parts[0] in (
                            "_data",
                            "_dv",
                        ):
                            referenced.add(parts[1])
        for st in entries:
            name = st.getPath().getName()
            if not st.isDirectory():
                continue
            if name.endswith(_ASIDE):
                _, live_h, _ = _hadoop_fs(
                    spark, _live_for_aside(dir_path, name)
                )
                if fs.exists(live_h):
                    if is_old(st):
                        fs.delete(st.getPath(), True)
                        act("aside", st, "deleted")
                    else:
                        act("aside", st, "kept_young")
                else:
                    fs.rename(st.getPath(), live_h)
                    act("aside", st, "restored")
            elif name.endswith(_STAGING_SUFFIXES):
                # a merge swap that crashed between its delete and its
                # rename: the staging dir is the table's only copy
                _, live_h, _ = _hadoop_fs(
                    spark, f"{dir_path}/{name.rsplit('.__', 1)[0]}"
                )
                if (
                    name.endswith(".__staging__")
                    and not fs.exists(live_h)
                    and is_complete_write(spark, fs, st.getPath().toString())
                ):
                    fs.rename(st.getPath(), live_h)
                    act("staging", st, "restored")
                elif is_old(st):
                    fs.delete(st.getPath(), True)
                    act("staging", st, "deleted")
                else:
                    act("staging", st, "kept_young")
            elif name in ("_data", "_dv") and referenced is not None:
                for snap in fs.listStatus(st.getPath()):
                    token = snap.getPath().getName()
                    if token in referenced:
                        continue
                    if is_old(snap):
                        fs.delete(snap.getPath(), True)
                        act("orphan_snapshot", snap, "deleted")
                    else:
                        act("orphan_snapshot", snap, "kept_young")
            elif name == "_commits":
                continue  # the log is never vacuum's to touch
            else:
                sweep(st.getPath().toString())

    sweep(root.rstrip("/"))
    return report


def _read_commit(fs, path_obj, jvm) -> dict:
    stream = fs.open(path_obj)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        return json.loads(bytes(baos.toByteArray()).decode("utf-8"))
    finally:
        stream.close()

"""Small-file compaction for parquet tables.

The reference never meets this (≤960 rows/day into Postgres), but every
streaming parquet sink in this engine produces one file per micro-batch
per partition — after a month of 30-minute triggers (L6 cadence,
/root/reference/infra/airflow/dags/metar_pipeline_dag.py:18) a table
holds thousands of KB-sized files, and at 100 TB the scan's task-setup
overhead and the NameNode/object-store listing dominate. Compaction is
the standard maintenance op (Delta OPTIMIZE / Iceberg rewrite_data_files
are the lakehouse-format twins; this is the plain-parquet form).

Sizing: target ≈ the scan split size (`spark.sql.files.maxPartitionBytes`,
128 MB in session.py) so one file ≈ one task. Rewrite is
staging + atomic rename, same single-writer contract as
sources/merge.upsert_parquet.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import SparkSession

from metar_pipeline_spark.sources.merge import (
    LAYER_META,
    _hadoop_fs,
    _read_small_file,
    _write_small_file,
)

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet dir (recursive)."""
    fs, hpath, jvm = _hadoop_fs(spark, path)
    n, total = 0, 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            n += 1
            total += st.getLen()
    return n, total


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    min_files_to_compact: int = 2,
    manifest_cols: "list[str] | None" = None,
    manifest_path: "str | None" = None,
) -> int:
    """Rewrite ``path`` into ``ceil(total_bytes / target_file_bytes)``
    files. Returns the new file count (or the old one if no-op).

    Uses repartition (full shuffle) rather than coalesce: coalesce(n)
    caps the READ parallelism of the rewrite itself at n tasks and can
    produce skewed outputs when input files are uneven; one extra
    shuffle of data that is being fully rewritten anyway is the right
    trade at scale.

    ``manifest_cols``/``manifest_path``: compaction replaces the whole
    file set — the canonical way a data-skipping manifest goes stale.
    Passing both refreshes it in the write path (see
    ``merge.upsert_parquet``), so ``layout.skipping_scan`` stays green
    across maintenance with no caller discipline required.
    """
    n_files, total = dir_stats(spark, path)
    n_target = max(1, math.ceil(total / target_file_bytes))
    if n_files < min_files_to_compact or n_target >= n_files:
        return n_files

    df = spark.read.parquet(path)
    staging = path.rstrip("/") + ".__compact__"
    df.repartition(n_target).write.mode("overwrite").parquet(staging)

    fs, tpath, jvm = _hadoop_fs(spark, path)
    _, spath, _ = _hadoop_fs(spark, staging)
    # the table's metadata (merge.LAYER_META) moves with the rows:
    # compaction changes neither its schema nor its watermark
    _, meta, _ = _hadoop_fs(spark, f"{path.rstrip('/')}/{LAYER_META}")
    if fs.exists(meta):
        _, smeta, _ = _hadoop_fs(spark, f"{staging}/{LAYER_META}")
        _write_small_file(fs, smeta, _read_small_file(fs, meta, jvm))
    fs.delete(tpath, True)
    fs.rename(spath, tpath)
    new_n, _ = dir_stats(spark, path)
    if manifest_path is not None:
        from metar_pipeline_spark.sources.layout import (
            refresh_skipping_manifest,
        )

        refresh_skipping_manifest(
            spark, path, list(manifest_cols or []), manifest_path
        )
    return new_n


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    min_files_to_compact: int = 4,
    *,
    dry_run: bool = False,
) -> dict[str, tuple[int, int]]:
    """Per-partition small-file compaction for a Hive-layout table —
    the maintenance op the append-only stores here need (the IVF
    serving store and the ingest-dedup signature store gain one file
    per partition per upsert batch).

    ``compact_parquet_dir`` must NOT be used on those stores: it reads
    the table whole and rewrites it UNPARTITIONED, destroying the
    ``{partition_col}=`` layout that partition pruning (and the
    store-probe plan pins) depend on. This form keeps the layout and
    touches only partitions whose file count reached
    ``min_files_to_compact`` — maintenance cost is proportional to the
    HOT partitions of the table, never its total size, which is what
    makes scheduled compaction viable at 100 TB. Lakehouse twins:
    Delta ``OPTIMIZE WHERE``, Iceberg rewrite_data_files with a
    partition filter.

    Each selected partition directory is read on its own (its files do
    not carry ``partition_col`` — the value lives in the dir name, so
    the rewrite round-trips without touching it), repartitioned to
    ``ceil(bytes / target_file_bytes)`` files, staged under a
    dot-prefixed sibling (invisible to Spark's listing), then swapped
    by renaming the live dir aside → staging into place → dropping the
    aside: old data is never destroyed before the new data is in
    place. A crash in the narrow window between the two renames leaves
    the live path briefly absent — the next ``compact_partitions`` run
    repairs it first thing (see the recovery sweep below), restoring
    the aside copy, so no data is ever lost and the gap never outlives
    one maintenance cycle. Same single-writer contract as
    ``compact_parquet_dir`` / ``sources/merge.upsert_parquet``.

    Returns ``{decoded_partition_value: (files_before, files_after)}``
    for every partition that was (or with ``dry_run=True``, would be)
    compacted; ``files_after`` is the planned count under dry_run.
    Under ``dry_run`` a partition whose data is stranded in a crashed
    ``.{name}.__old__`` aside (live dir absent — currently INVISIBLE to
    readers of the table) is reported as
    ``(files_in_aside, -1)``: the sentinel ``-1`` (impossible as a real
    planned count) marks NEEDS-RECOVERY — the next non-dry run restores
    it first thing. A plan-only call stays mutation-free but never
    hides the one state an operator most needs to see.
    """
    import math
    from urllib.parse import unquote

    fs, hpath, _ = _hadoop_fs(spark, path)
    prefix = f"{partition_col}="
    out: dict[str, tuple[int, int]] = {}
    # Recovery sweep: a crash between rename(live→aside) and
    # rename(staging→live) leaves the partition's data stranded in a
    # `.{name}.__old__` dir with no live dir (and the live-dir listing
    # below would silently skip it). Restore any such aside whose live
    # path is absent; drop asides whose live path exists (crash after
    # the second rename — the new data already won). Under dry_run the
    # sweep is mutation-free: stranded asides are SURFACED in the
    # report with the needs-recovery sentinel instead of repaired.
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not (
            st.isDirectory()
            and name.startswith(f".{prefix}")
            and name.endswith(".__old__")
        ):
            continue
        live_name = name[1:-len(".__old__")]
        _, live, _ = _hadoop_fs(spark, f"{path.rstrip('/')}/{live_name}")
        if dry_run:
            if not fs.exists(live):
                value = unquote(live_name[len(prefix):])
                n_files, _total = dir_stats(
                    spark, st.getPath().toString()
                )
                out[value] = (n_files, -1)
            continue
        if fs.exists(live):
            fs.delete(st.getPath(), True)
        else:
            fs.rename(st.getPath(), live)
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        part_path = st.getPath().toString()
        n_files, total = dir_stats(spark, part_path)
        n_target = max(1, math.ceil(total / target_file_bytes))
        if n_files < min_files_to_compact or n_target >= n_files:
            continue
        value = unquote(name[len(prefix):])
        if dry_run:
            out[value] = (n_files, n_target)
            continue
        df = spark.read.parquet(part_path)
        staging = f"{path.rstrip('/')}/.{name}.__compact__"
        df.repartition(n_target).write.mode("overwrite").parquet(staging)
        _, ppath, _ = _hadoop_fs(spark, part_path)
        _, spath, _ = _hadoop_fs(spark, staging)
        # crash-safe swap for a LIVE serving partition: rename the old
        # dir ASIDE (dot-prefixed → invisible to listings), rename
        # staging into place, THEN drop the aside. A crash between any
        # two steps leaves either the old or the new files visible —
        # the partition is never absent from the table (the old
        # delete-then-rename order had a window where a reader saw the
        # partition vanish and the data stranded in the staging dir).
        _, aside, _ = _hadoop_fs(spark, f"{path.rstrip('/')}/.{name}.__old__")
        fs.delete(aside, True)  # clear any prior crashed attempt
        fs.rename(ppath, aside)
        fs.rename(spath, ppath)
        fs.delete(aside, True)
        out[value] = (n_files, dir_stats(spark, part_path)[0])
    return out


_ISO_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def expire_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    keep_from: str,
    *,
    dry_run: bool = False,
) -> list[str]:
    """Retention for a date-partitioned table: drop every
    ``{partition_col}=<value>`` directory with value < ``keep_from``.

    This is partition-level metadata surgery — directory deletes, no
    data read or rewritten — which is what makes retention viable on a
    100 TB table (a filter-and-rewrite would scan everything).
    Lakehouse twins: Delta `DELETE WHERE` + VACUUM, Iceberg
    expire_snapshots + drop-partition.

    Destructive-op guards (directory names are Hive-ESCAPED, so raw
    lexicographic comparison is unsafe): values are URL-decoded first;
    ``__HIVE_DEFAULT_PARTITION__`` (the null partition) is always kept;
    any value that does not parse as an ISO yyyy-MM-dd date is kept and
    reported — retention never deletes a directory it cannot prove is
    an expired date. ``keep_from`` itself must be ISO. ``dry_run=True``
    returns what WOULD be dropped without deleting.

    Returns the dropped (or would-drop) partition values, decoded.
    """
    from urllib.parse import unquote

    if not _ISO_DATE_RE.match(keep_from):
        raise ValueError(
            f"keep_from must be an ISO yyyy-MM-dd date, got {keep_from!r}"
        )
    fs, hpath, jvm = _hadoop_fs(spark, path)
    prefix = f"{partition_col}="
    dropped: list[str] = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        value = unquote(name[len(prefix):])
        if value == "__HIVE_DEFAULT_PARTITION__":
            continue
        if not _ISO_DATE_RE.match(value):
            continue
        if value < keep_from:
            if not dry_run:
                fs.delete(st.getPath(), True)
            dropped.append(value)
    return sorted(dropped)


def expire_integer_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    keep_last: int,
    *,
    dry_run: bool = False,
) -> "list[int]":
    """Retention for an INTEGER-partitioned store: keep the newest
    ``keep_last`` ``{partition_col}=<n>`` directories, drop the rest —
    the ``_run=``/``_batch=`` counterpart of :func:`expire_partitions`
    (the medallion schema-snapshot and quarantine stores grow one
    partition per run forever; their history is only consulted a few
    runs deep). Directory surgery only, newest-N semantics (ids are
    compared numerically, never lexically); non-integer values are
    always kept and ``keep_last`` must be ≥ 1 (the store must never be
    emptied by retention). Returns the dropped ids, ascending."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs, hpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    prefix = f"{partition_col}="
    parts = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            v = name[len(prefix):]
            if re.match(r"^-?\d+$", v):
                parts.append((int(v), st.getPath()))
    parts.sort()
    doomed = parts[:-keep_last] if len(parts) > keep_last else []
    dropped = []
    for v, p in doomed:
        if not dry_run:
            fs.delete(p, True)
        dropped.append(v)
    return dropped

"""Optimistic-concurrency commit log + versioned parquet tables.

The reference gets writer isolation for free from Postgres — the EL
job wraps its upsert in one transaction and commits at
/root/reference/src/etl/mongo_to_postgres.py:89-112, and Airflow's
retry policy (infra/airflow/dags/metar_pipeline_dag.py:10-11) can in
principle overlap a retried writer with a stuck predecessor, which
Postgres serializes transparently. A plain-parquet lake has no such
referee: this engine's stores were single-writer-by-contract
(sources/merge.upsert_parquet, sources/compaction), and once the
scheduled maintenance runner (plans/maintenance) began writing the
same stores the ingest path writes, that contract became load-bearing
and unenforced — two writers racing a rename-swap corrupt silently.

This module is the minimal Delta-Lake-style optimistic commit
protocol (public design: the Delta transaction-log paper, VLDB 2020)
re-expressed for plain parquet:

Layout of a versioned store root::

    root/_commits/00000000000000000000.json    one file per version
    root/_data/<token>/                        immutable snapshot dirs

- **Claim by atomic rename.** A writer stages its commit metadata in a
  hidden temp file, then renames it onto the next version number.
  HDFS-compatible ``FileSystem.rename`` FAILS when the destination
  exists, so exactly one writer wins each version — the same
  primitive Delta uses on HDFS (on S3 you swap in a conditional-put /
  coordinator; the protocol shape is unchanged).
- **Data before metadata.** A version's rows are written to a fresh
  token-named snapshot dir FIRST and only then referenced by the
  commit file; a crash or a lost race leaves an orphan snapshot that
  readers can never see (vacuum sweeps it later) — never a torn table.
- **Snapshot isolation, full-snapshot conflicts.** Every commit
  replaces the table wholesale (the engine's merge/compaction shape),
  so any commit that lands between a writer's read and its claim is a
  conflict: the loser re-reads the new latest, recomputes, retries
  (``commit_with_retry``). Readers always resolve one committed
  version — they never block writers and are never torn.
- **Time travel for free.** ``read(as_of=n)`` resolves commit *n*'s
  snapshot; ``history()`` is the commit log as a DataFrame. This
  unifies what the `_batch` logs hand-built (streaming/lifecycle's
  ``read_snapshot(as_of=...)``) into one table-level protocol.

Everything driver-side here is COMMIT-LOG grain (one tiny json per
version — KBs at any data scale); the data path stays fully
distributed parquet I/O.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from metar_pipeline_spark.sources.merge import (  # noqa: F401 — re-exported
    _hadoop_fs,
    _read_small_file,
    _write_small_file,
    merge_last_writer_wins,
)

_COMMITS = "_commits"
_DATA = "_data"
_PAD = 20


class CommitConflict(Exception):
    """Another writer claimed the version this writer read against."""

    def __init__(self, attempted_version: int):
        super().__init__(
            f"version {attempted_version} was claimed by another writer"
        )
        self.attempted_version = attempted_version


@dataclass
class Commit:
    version: int
    parent: int
    action: str
    data: str  # snapshot dir, relative to the store root
    writer: str
    app_id: "str | None" = None  # idempotent-writer identity (optional)
    app_batch: "int | None" = None


class VersionedStore:
    """A versioned parquet table under ``root`` (layout above).

    One instance per (session, root); instances hold no state beyond
    the paths — every operation re-resolves the log, so concurrent
    writers with separate instances (or separate drivers) coordinate
    purely through the filesystem.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._fs, self._root_h, self._jvm = _hadoop_fs(spark, self.root)

    # -- log resolution (commit-log grain) --------------------------------
    def _path(self, rel: str):
        return self._jvm.org.apache.hadoop.fs.Path(f"{self.root}/{rel}")

    def _commit_versions(self) -> "list[int]":
        cdir = self._path(_COMMITS)
        if not self._fs.exists(cdir):
            return []
        out = []
        for st in self._fs.listStatus(cdir):
            name = st.getPath().getName()
            if name.endswith(".json") and not name.startswith((".", "_")):
                stem = name[: -len(".json")]
                if stem.isdigit():
                    out.append(int(stem))
        return sorted(out)

    def latest_version(self) -> int:
        """Newest committed version, or -1 for an empty store."""
        vs = self._commit_versions()
        return vs[-1] if vs else -1

    def get_commit(self, version: int) -> Commit:
        p = self._path(f"{_COMMITS}/{version:0{_PAD}d}.json")
        if not self._fs.exists(p):
            raise ValueError(
                f"version {version} does not exist in {self.root}"
            )
        meta = json.loads(_read_small_file(self._fs, p, self._jvm))
        ab = meta.get("app_batch")
        return Commit(
            version=int(meta["version"]),
            parent=int(meta["parent"]),
            action=str(meta["action"]),
            data=str(meta["data"]),
            writer=str(meta["writer"]),
            app_id=meta.get("app_id"),
            app_batch=int(ab) if ab is not None else None,
        )

    def history(self) -> DataFrame:
        """The commit log as a DataFrame (version, parent, action,
        data, writer) — commit-log grain, newest last."""
        rows = [
            tuple(vars(self.get_commit(v)).values())
            for v in self._commit_versions()
        ]
        return self.spark.createDataFrame(
            rows,
            "version long, parent long, action string, data string,"
            " writer string, app_id string, app_batch long",
        )

    def committed_app_batch(
        self, app_id: str, app_batch: int
    ) -> "int | None":
        """The version that already carries (app_id, app_batch), or
        None — the Delta txnAppId/txnVersion idempotent-writer check.
        Commit-log-grain scan (retention keeps it bounded)."""
        for v in reversed(self._commit_versions()):
            c = self.get_commit(v)
            if c.app_id == app_id and c.app_batch == int(app_batch):
                return v
        return None

    # -- reads ------------------------------------------------------------
    def read(self, as_of: "int | None" = None) -> DataFrame:
        """The table at ``as_of`` (default: latest). Reads exactly one
        committed snapshot dir — never torn, never blocked by writers."""
        v = self.latest_version() if as_of is None else int(as_of)
        if v < 0:
            raise ValueError(f"empty versioned store at {self.root}")
        c = self.get_commit(v)
        return self.spark.read.parquet(f"{self.root}/{c.data}")

    def snapshot_path(self, version: int) -> str:
        return f"{self.root}/{self.get_commit(version).data}"

    # -- writes -----------------------------------------------------------
    def stage(
        self, df: DataFrame, partition_cols: "list[str] | None" = None
    ) -> str:
        """Write ``df`` to a fresh token snapshot dir (NOT yet visible
        to any reader); returns the root-relative snapshot path. The
        write-audit-publish seam: audit the staged files, then claim."""
        token = uuid.uuid4().hex
        rel = f"{_DATA}/{token}"
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(f"{self.root}/{rel}")
        return rel

    def claim(
        self,
        staged_rel: str,
        action: str,
        read_version: int,
        app_id: "str | None" = None,
        app_batch: "int | None" = None,
    ) -> int:
        """Atomically claim version ``read_version + 1`` for the staged
        snapshot. Raises :class:`CommitConflict` if another writer got
        there first (the staged dir is left in place for the caller to
        retry with; vacuum sweeps abandoned ones). ``app_id`` /
        ``app_batch`` record an idempotent-writer identity in the
        commit (see :meth:`committed_app_batch`)."""
        n = int(read_version) + 1
        token = staged_rel.rsplit("/", 1)[-1]
        final = self._path(f"{_COMMITS}/{n:0{_PAD}d}.json")
        cdir = self._path(_COMMITS)
        self._fs.mkdirs(cdir)
        if self._fs.exists(final):
            raise CommitConflict(n)
        tmp = self._path(f"{_COMMITS}/.tmp-{token}.json")
        meta = {
            "version": n,
            "parent": int(read_version),
            "action": action,
            "data": staged_rel,
            "writer": token,
        }
        if app_id is not None:
            meta["app_id"] = app_id
            meta["app_batch"] = int(app_batch or 0)
        _write_small_file(self._fs, tmp, json.dumps(meta))
        # the one atomic step: rename fails iff the destination exists
        if not self._fs.rename(tmp, final):
            self._fs.delete(tmp, False)
            raise CommitConflict(n)
        return n

    def commit(
        self,
        df: DataFrame,
        action: str,
        read_version: int,
        partition_cols: "list[str] | None" = None,
        app_id: "str | None" = None,
        app_batch: "int | None" = None,
    ) -> int:
        """stage + claim in one call (full-snapshot commit). On
        conflict the orphan snapshot is deleted before re-raising —
        the caller must recompute against the new latest anyway."""
        rel = self.stage(df, partition_cols)
        try:
            return self.claim(rel, action, read_version, app_id, app_batch)
        except CommitConflict:
            self._fs.delete(self._path(rel), True)
            raise

    def commit_with_retry(
        self,
        compute_fn,
        action: str,
        partition_cols: "list[str] | None" = None,
        max_retries: int = 5,
        app_id: "str | None" = None,
        app_batch: "int | None" = None,
    ) -> int:
        """Optimistic-retry loop: read latest → ``compute_fn(current)``
        → claim; on conflict, recompute against the NEW latest and try
        again. ``compute_fn`` receives the current table DataFrame (or
        None for an empty store) and returns the full next snapshot —
        it must be a pure function of its input for retries to be
        correct (exactly Delta's recommendation for merge/compact).

        With ``app_id``/``app_batch`` the commit is IDEMPOTENT per
        writer identity (Delta's txnAppId/txnVersion): if that batch
        already committed — e.g. a foreachBatch retry after a sink
        success but driver crash — the existing version is returned
        and nothing is written, upgrading at-least-once streaming
        delivery to exactly-once commits."""
        for _ in range(int(max_retries) + 1):
            if app_id is not None:
                seen = self.committed_app_batch(app_id, app_batch or 0)
                if seen is not None:
                    return seen
            v = self.latest_version()
            current = self.read() if v >= 0 else None
            try:
                return self.commit(
                    compute_fn(current),
                    action,
                    v,
                    partition_cols,
                    app_id,
                    app_batch,
                )
            except CommitConflict:
                continue
        raise CommitConflict(self.latest_version() + 1)


# ---------------------------------------------------------------------------
# The engine's store writers, routed through the protocol
# ---------------------------------------------------------------------------
def upsert_versioned(
    store: VersionedStore,
    batch: DataFrame,
    keys: "list[str]",
    order_col: str,
    partition_cols: "list[str] | None" = None,
    app_id: "str | None" = None,
    app_batch: "int | None" = None,
) -> int:
    """MERGE ``batch`` into a versioned store — the multi-writer-safe
    twin of :func:`sources.merge.upsert_parquet`: same last-writer-wins
    semantics (merge_last_writer_wins), but the rewrite lands as an
    optimistic commit, so a racing compaction or second merge loses
    cleanly and retries instead of corrupting. Returns the version.
    ``app_id``/``app_batch`` make the merge idempotent per writer
    identity (streaming foreachBatch retries commit exactly once)."""
    return store.commit_with_retry(
        lambda cur: merge_last_writer_wins(cur, batch, keys, order_col),
        action="merge",
        partition_cols=partition_cols,
        app_id=app_id,
        app_batch=app_batch,
    )


def compact_versioned(
    store: VersionedStore,
    target_file_bytes: int = 128 << 20,
    min_files_to_compact: int = 2,
) -> "int | None":
    """Small-file compaction as an optimistic commit (content
    UNCHANGED, fewer files): reads the latest snapshot, rewrites it at
    ``ceil(bytes/target)`` files, claims the next version. A merge
    landing mid-compaction conflicts; the retry recompacts the NEW
    snapshot — never clobbers it (the exact race
    sources/compaction.compact_parquet_dir documents as fatal).
    Returns the new version, or None when a no-op."""
    import math

    from metar_pipeline_spark.sources.compaction import dir_stats

    for _ in range(6):
        v = store.latest_version()
        if v < 0:
            return None
        snap = store.snapshot_path(v)
        n_files, total = dir_stats(store.spark, snap)
        n_target = max(1, math.ceil(total / target_file_bytes))
        if n_files < min_files_to_compact or n_target >= n_files:
            return None
        df = store.spark.read.parquet(snap).repartition(n_target)
        try:
            return store.commit(df, "compact", v)
        except CommitConflict:
            continue
    raise CommitConflict(store.latest_version() + 1)


def table_changes(
    store: VersionedStore,
    from_version: int,
    to_version: int,
    key_col: str,
    compare_cols: "list[str]",
) -> DataFrame:
    """Per-key change feed between two committed versions — the Delta
    Change-Data-Feed idea derived ON READ from immutable snapshots
    (no write-path bookkeeping): full-outer fingerprint join of the
    two versions via :func:`operators.diffops.snapshot_diff`, yielding
    (key, change_type ∈ inserted/deleted/updated/unchanged). Because
    versions are immutable dirs, the feed is reproducible forever
    (until retention expires a side). Downstream consumers: CDC apply
    (sources/cdc.apply_changelog), incremental-view deltas, audits."""
    from metar_pipeline_spark.operators.diffops import snapshot_diff

    return snapshot_diff(
        store.read(as_of=from_version),
        store.read(as_of=to_version),
        key_col,
        compare_cols,
    )


def write_audit_publish(
    store: VersionedStore,
    df: DataFrame,
    audit_fns,
    action: str = "wap_publish",
    partition_cols: "list[str] | None" = None,
) -> "dict":
    """Write-Audit-Publish over the commit protocol (the lakehouse WAP
    pattern — Netflix/Iceberg's staging-branch idea in its minimal
    form): stage the snapshot, audit the STAGED FILES (exactly the
    bytes that would serve, not the logical plan that produced them),
    and claim a version only when every error-severity audit passes.

    ``audit_fns``: callables ``staged_df -> quality.assertions
    .Assertion`` (the dbt-style Q1–Q5 suite). On failure the staged
    dir is LEFT IN PLACE for triage (inspectable via the returned
    ``staged_path``; vacuum's horizon sweeps it eventually), the
    published table is untouched, and no version is claimed — the
    elementary severity:error contract, but enforced on the serving
    store itself rather than the stg merge.

    Returns ``{"status": "published"|"rejected", "version": int|None,
    "staged_path": str, "audits": [run_assertions rows]}``. Publish
    conflicts behave like any commit: compare-and-swap on the version
    read BEFORE staging, so a concurrent writer forces a clean retry
    (CommitConflict) rather than an interleaved publish.
    """
    from metar_pipeline_spark.quality.assertions import run_assertions

    read_v = store.latest_version()
    rel = store.stage(df, partition_cols)
    staged = store.spark.read.parquet(f"{store.root}/{rel}")
    audits = run_assertions([fn(staged) for fn in audit_fns])
    failed = [
        a for a in audits if not a["passed"] and a["severity"] == "error"
    ]
    if failed:
        return {
            "status": "rejected",
            "version": None,
            "staged_path": f"{store.root}/{rel}",
            "audits": audits,
        }
    v = store.claim(rel, action, read_v)
    return {
        "status": "published",
        "version": v,
        "staged_path": f"{store.root}/{rel}",
        "audits": audits,
    }


def restore_version(
    store: VersionedStore, version: int, max_retries: int = 5
) -> int:
    """ZERO-COPY RESTORE for the full-snapshot store (the payoff of
    the snapshot layout — rollback is pure metadata): a new commit
    that REFERENCES version ``version``'s existing immutable snapshot
    dir. No byte of data moves; the damaged commits stay
    time-travelable for audit; reference-aware retention
    (:func:`expire_versions`) keeps a snapshot alive while any
    retained commit — including a restore — still points at it.
    Contrast :meth:`filelog.FileCommitLog.restore`, which must
    MATERIALIZE O(|table|) because its layout is file-action deltas."""
    target = store.get_commit(int(version))  # loud if expired
    for _ in range(int(max_retries) + 1):
        v = store.latest_version()
        if v == int(version):
            return v  # already at the target; nothing to claim
        try:
            return store.claim(
                target.data, f"restore:{int(version)}", v
            )
        except CommitConflict:
            continue
    raise CommitConflict(store.latest_version() + 1)


def expire_versions(store: VersionedStore, keep_last: int) -> "list[int]":
    """Retention for the commit log: drop all but the newest
    ``keep_last`` versions — commit file AND snapshot dir (oldest
    first, so a crash mid-expiry leaves a contiguous suffix of the
    log) — EXCEPT a snapshot dir some retained commit still
    references (zero-copy restores alias old snapshots; deleting the
    dir under a live reference would corrupt the head). ``as_of``
    reads of expired versions then fail loudly. Metadata surgery
    only; keep_last must be ≥ 1."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = store._commit_versions()
    doomed = vs[:-keep_last] if len(vs) > keep_last else []
    kept_refs = {
        store.get_commit(v).data for v in vs[len(doomed):]
    }
    for v in doomed:
        c = store.get_commit(v)
        if c.data not in kept_refs:
            store._fs.delete(store._path(c.data), True)
        store._fs.delete(
            store._path(f"{_COMMITS}/{v:0{_PAD}d}.json"), False
        )
    return doomed

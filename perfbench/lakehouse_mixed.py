"""Workload ``lakehouse_mixed``: writes and reads through the commit log.

A ``FileCommitLog`` table with per-file ``o_orderkey`` stats is seeded
from the generated ``orders``. Each cycle runs, in this fixed order: an
``append`` of new orders, a key-unique ``merge_by_key``, a
deletion-vector ``delete_where``, ``compact`` clustered by key,
``write_checkpoint``, a snapshot ``read``, ``read(as_of=…)``,
``read_pruned`` on a key range, ``read_changes`` over the last three
commits, and last an availableNow ``filelog_changes`` stream that folds
the change feed into a per-band aggregate through
``streaming.pipeline.idempotent_batch_append``. The seed picks the keys,
values and ranges. Reads execute to the noop sink.

A plain-Python model applies the same operations to a dict; the output
check compares the final ``read()``, every ``as_of`` version the loop
read and the change-feed aggregate with it.
"""

from __future__ import annotations

import os
import time

import numpy as np

from datagen import make_tables

SF = 0.01
BATCH = 200  # rows per append and per merge
DELETE_WIDTH = 40  # keys per delete_where range
BANDS = 8


class LakehouseMixed:
    name = "lakehouse_mixed"
    warmup_cycles = 1

    def __init__(self, work_dir: str, seed: int, sf: float = SF):
        self.spark = self.tracer = None
        self.root = os.path.join(work_dir, "table")
        self.store = os.path.join(work_dir, "cdf_agg")
        self.ckpt = os.path.join(work_dir, "cdf_ckpt")
        self.rng = np.random.default_rng(seed)
        t = time.thread_time()
        orders = make_tables(seed, sf)["orders"]
        self.base = {
            int(k): (int(c), int(round(p * 100)))
            for k, c, p in zip(
                orders["o_orderkey"].to_pylist(),
                orders["o_custkey"].to_pylist(),
                orders["o_totalprice"].to_pylist(),
            )
        }
        self.bench_cpu_s = time.thread_time() - t  # making inputs
        self.n_cust = max(c for c, _ in self.base.values()) + 1
        self.next_key = max(self.base) + 1
        self.versions: dict[int, dict] = {}
        self.as_of_read: set[int] = set()
        self.pos = 0
        self.pending_acks: list[float] = []
        self.cdf_lags: list[float] = []
        self.cdf_rows_pending = 0
        self.log = None

    # -- helpers ---------------------------------------------------------
    @property
    def current(self) -> dict:
        return self.versions[max(self.versions)]

    def _frame(self, rows: dict):
        import pandas as pd

        keys = sorted(rows)
        return self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "o_orderkey": np.array(keys, dtype="int64"),
                    "o_custkey": np.array([rows[k][0] for k in keys], dtype="int64"),
                    "cents": np.array([rows[k][1] for k in keys], dtype="int64"),
                }
            )
        )

    def _commit(self, v, state: dict, change_rows: int) -> None:
        if v is None:
            return
        self.versions[int(v)] = state
        self.pending_acks.append(time.perf_counter())
        self.cdf_rows_pending += change_rows

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _new_rows(self, keys) -> dict:
        return {
            int(k): (int(self.rng.integers(0, self.n_cust)),
                     int(self.rng.integers(100_000, 50_000_000)))
            for k in keys
        }

    # -- ops -------------------------------------------------------------
    def op_append(self):
        rows = self._new_rows(range(self.next_key, self.next_key + BATCH))
        self.next_key += BATCH
        with self.tracer.span("sources.filelog.append", jobs=True):
            v = self.log.append(self._frame(rows))
        self._commit(v, {**self.current, **rows}, len(rows))
        self._count_files()

    def op_merge(self):
        live = np.array(sorted(self.current))
        keys = self.rng.choice(live, BATCH - 10, replace=False).tolist()
        keys += list(range(self.next_key, self.next_key + 10))
        self.next_key += 10
        rows = self._new_rows(keys)
        updated = sum(1 for k in rows if k in self.current)
        with self.tracer.span("sources.filelog.merge_by_key", jobs=True):
            v = self.log.merge_by_key(self._frame(rows), ["o_orderkey"])
        self._commit(v, {**self.current, **rows}, len(rows) + updated)
        self._count_files()

    def op_delete(self):
        from pyspark.sql import functions as F

        lo = int(self.rng.integers(0, self.next_key - DELETE_WIDTH))
        hi = lo + DELETE_WIDTH
        k = F.col("o_orderkey")
        with self.tracer.span("sources.filelog.delete_where", jobs=True):
            v = self.log.delete_where((k >= lo) & (k < hi))
        state = {q: r for q, r in self.current.items() if not lo <= q < hi}
        self._commit(v, state, len(self.current) - len(state))
        self._count_files()

    def op_compact(self):
        with self.tracer.span("sources.filelog.compact", jobs=True):
            v = self.log.compact(cluster_by=["o_orderkey"])
        if v is not None:
            self.versions[int(v)] = self.current
        self._count_files()

    def op_checkpoint(self):
        with self.tracer.span("sources.filelog.write_checkpoint", jobs=True):
            self.log.write_checkpoint()

    def op_read(self):
        with self.tracer.span("sources.filelog.read", jobs=True):
            self._noop(self.log.read())

    def op_read_as_of(self):
        v = int(self.rng.choice(sorted(self.versions)[:-1] or [0]))
        self.as_of_read.add(v)
        with self.tracer.span("sources.filelog.read_as_of", jobs=True):
            self._noop(self.log.read(as_of=v))

    def op_read_pruned(self):
        lo = int(self.rng.integers(0, self.next_key))
        hi = lo + self.next_key // 20
        with self.tracer.span("sources.filelog.read_pruned", jobs=True):
            df = self.log.read_pruned("o_orderkey", lo, hi)
            self._noop(df)
        if self.tracer.enabled:
            self.tracer.count("sources.filelog.pruned_files_ratio",
                              len(df.inputFiles()) / len(self.log.live_files()))

    def op_read_changes(self):
        hi = max(self.versions)
        with self.tracer.span("sources.filelog.read_changes", jobs=True):
            self._noop(self.log.read_changes(max(hi - 3, -1), hi))

    def op_cdf_consume(self):
        from pyspark.sql import functions as F

        from metar_pipeline_spark.streaming.pipeline import idempotent_batch_append

        tr = self.tracer

        def fold(bdf, batch_id):
            t = time.perf_counter()
            sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            delta = bdf.groupBy(
                (F.col("o_orderkey") % BANDS).alias("band")
            ).agg(
                F.sum(sign).cast("long").alias("n_rows"),
                F.sum(sign * F.col("cents")).cast("long").alias("sum_cents"),
            )
            idempotent_batch_append(delta, self.store, batch_id)
            tr.count("sources.filelog_stream.cdf_batch_s", time.perf_counter() - t)

        t0 = time.perf_counter()
        with tr.span("streaming.cdf_consume"):
            q = (
                self.spark.readStream.format("filelog_changes")
                .option("path", self.root)
                .load()
                .writeStream.foreachBatch(fold)
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"cdf stream failed: {q.exception()}")
        end = time.perf_counter()
        self.cdf_lags.extend(end - a for a in self.pending_acks)
        tr.count("streaming.cdf_rows_per_s", self.cdf_rows_pending / (end - t0))
        self.pending_acks = []
        self.cdf_rows_pending = 0

    def _count_files(self) -> None:
        if not self.tracer.enabled:
            return
        live = self.log.live_files()
        self.tracer.count("sources.filelog.live_files", len(live))
        live_bytes = sum(os.path.getsize(os.path.join(self.root, f)) for f in live)
        disk = 0
        for sub in ("_data", "_dv"):
            for d, _, files in os.walk(os.path.join(self.root, sub)):
                disk += sum(os.path.getsize(os.path.join(d, f))
                            for f in files if not f.startswith("."))
        self.tracer.count("sources.filelog.bytes_on_disk_per_live_byte",
                          disk / live_bytes)

    # -- workload protocol ----------------------------------------------
    CYCLE = ("append", "merge", "delete", "compact", "checkpoint", "read",
             "read_as_of", "read_pruned", "read_changes", "cdf_consume")
    COMMITS = {"append", "merge", "delete"}
    READS = {"read", "read_as_of", "read_pruned", "read_changes"}

    def setup(self, spark, tracer) -> None:
        """Seed the table from ``orders`` and run the stream once, which
        folds that first version into the downstream aggregate."""
        from metar_pipeline_spark.sources.filelog import FileCommitLog
        from metar_pipeline_spark.sources.filelog_stream import (
            FileLogChangeDataSource,
        )

        self.spark, self.tracer = spark, tracer
        self.spark.dataSource.register(FileLogChangeDataSource)
        self.log = FileCommitLog(self.spark, self.root, stats_cols=["o_orderkey"])
        self.log.append(self._frame(self.base))
        self.versions[0] = dict(self.base)
        self.cdf_rows_pending = len(self.base)
        self.op_cdf_consume()

    def next_op(self):
        kind = self.CYCLE[self.pos]
        self.pos = (self.pos + 1) % len(self.CYCLE)
        return kind, getattr(self, f"op_{kind}")

    def at_boundary(self) -> bool:
        return self.pos == 0

    # -- reporting -------------------------------------------------------
    def extra_metrics(self, loop) -> dict:
        from harness import latencies, median, metric, tail

        out = {}
        for label, kinds in (("commit", self.COMMITS), ("read", self.READS)):
            lat, with_failed = latencies(loop.ops, kinds)
            t, pct = tail(with_failed)
            out[f"{label}_p50_s"] = metric(median(lat), "s", len(lat))
            out[f"{label}_tail_s"] = metric(t, "s", len(lat))
            out[f"{label}_tail_percentile"] = metric(pct, "%", len(lat))
        out["cdf_lag_p50_s"] = metric(median(self.cdf_lags), "s", len(self.cdf_lags))
        return out

    def layer_metrics(self) -> dict:
        from harness import median, metric

        tr = self.tracer
        out = {}
        for op in ("append", "merge_by_key", "delete_where", "compact",
                   "write_checkpoint", "read", "read_as_of", "read_pruned",
                   "read_changes"):
            d = tr.durations(f"sources.filelog.{op}")
            out[f"sources.filelog.{op}_s"] = metric(median(d), "s", len(d))
        for name, unit in (("sources.filelog.live_files", "count"),
                           ("sources.filelog.bytes_on_disk_per_live_byte", "ratio"),
                           ("sources.filelog.pruned_files_ratio", "ratio"),
                           ("sources.filelog_stream.cdf_batch_s", "s"),
                           ("streaming.cdf_rows_per_s", "rows/s")):
            xs = tr.counts.get(name, [])
            out[name] = metric(median(xs), unit, len(xs))
        for label, names in (("commit", ("append", "merge_by_key", "delete_where")),
                             ("read", ("read", "read_as_of", "read_pruned",
                                       "read_changes"))):
            jobs = [j for n in names
                    for j in tr.span_field(f"sources.filelog.{n}", "jobs")]
            out[f"sources.filelog.jobs_per_{label}"] = metric(
                median(jobs), "count", len(jobs))
        return out

    # -- output check ----------------------------------------------------
    def expected(self) -> dict:
        return {
            "latest": self.current,
            "as_of": {v: self.versions[v] for v in sorted(self.as_of_read)},
        }

    def check(self, expected: dict | None = None) -> list[str]:
        exp = expected or self.expected()
        problems = []

        def rows(df) -> dict | None:
            got = df.collect()
            by_key = {r.o_orderkey: (r.o_custkey, r.cents) for r in got}
            return by_key if len(by_key) == len(got) else None  # None: dup keys

        if rows(self.log.read()) != exp["latest"]:
            problems.append("read(): table differs from the model")
        for v, state in exp["as_of"].items():
            if rows(self.log.read(as_of=v)) != state:
                problems.append(f"read(as_of={v}): differs from the model")
        want: dict[int, list[int]] = {}
        for k, (_, cents) in exp["latest"].items():
            b = want.setdefault(k % BANDS, [0, 0])
            b[0] += 1
            b[1] += cents
        from pyspark.sql import functions as F

        got = {
            r.band: [r.n_rows, r.sum_cents]
            for r in self.spark.read.parquet(self.store)
            .groupBy("band")
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("sum_cents").alias("sum_cents"))
            .collect()
        }
        got = {b: v for b, v in got.items() if v[0] != 0}
        if got != want:
            problems.append("change-feed aggregate differs from the model")
        return problems

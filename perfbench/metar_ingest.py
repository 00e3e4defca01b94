"""Workload ``metar_ingest``: the reference's own micro-batch job.

Each op is one 30-minute collection cycle: ``collect_once`` over a fake
fetcher serving that poll's generated documents, then the medallion
stages stg → ods → int → dwh on a lake that grows batch by batch. The
collector's frame is materialized once inside its span
(``localCheckpoint``), as the reference's collector stores its documents
before the ETL reads them, so the stages read it without recomputing the
JSON normalization. Set-up runs the first cycle, the L3 full refresh on
an empty lake, which is also the cold one; the timed cycles follow.

The output check rebuilds stg, ods, int and dwh from the generated
documents with a plain-Python model of the watermark and merge contracts
(strict ``>`` L1 for stg/int, inclusive ``>=`` L2 for ods/dwh, merge by
key L4), then compares them with the tables the engine wrote.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from decimal import ROUND_HALF_UP, Decimal

from datagen import MetarPolls, MetarShape, payload_md5, source_id

SHAPE = MetarShape()
LAYERS = ("stg", "ods", "int", "dwh")


def _with_source_ids(flat):
    """Give each fetched row the id ``datagen.source_id`` assigns."""
    from pyspark.sql import functions as F

    hexid = F.col("id")
    return flat.withColumn(
        "id",
        F.when(F.substring(hexid, 1, 1).isin("0", "1"), hexid).otherwise(
            F.conv(F.substring(hexid, 2, 7), 16, 10)
        ),
    )


def _layer_files(base: str) -> dict[str, tuple[int, int]]:
    """Parquet files of the four medallion layers: path -> (size, mtime)."""
    out = {}
    for layer in LAYERS:
        for d, _, files in os.walk(os.path.join(base, layer)):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
    return out


class MetarIngest:
    name = "metar_ingest"
    warmup_cycles = 1  # after it, one cycle costs within a few % of the next

    def __init__(self, work_dir: str, seed: int, shape=SHAPE):
        self.spark = self.tracer = None
        self.base = os.path.join(work_dir, "lake")
        self.shape = shape
        self.polls = MetarPolls(seed, shape)
        self.batches: list[list[dict]] = []  # every poll made so far
        self.done = 0
        self.bench_cpu_s = 0.0  # CPU this thread spent making documents
        self._files: dict[str, tuple[int, int]] = {}

    def _next_docs(self) -> None:
        """Make the next poll's documents, outside the timed op."""
        t = time.thread_time()
        self.batches.append(self.polls.next_batch())
        self.bench_cpu_s += time.thread_time() - t

    # -- ops -------------------------------------------------------------
    def _run_batch(self) -> None:
        from metar_pipeline_spark.plans import medallion
        from metar_pipeline_spark.sources import collector

        docs = self.batches[self.done]
        tr = self.tracer
        with tr.span("sources.collector.collect_once"):
            flat = _with_source_ids(collector.collect_once(
                self.spark, collector.fake_fetcher(docs),
                sorted({d["icao"] for d in docs}),
            )).localCheckpoint()
        with tr.span("plans.medallion", jobs=True):
            with tr.span("plans.medallion.stg_stage"):
                medallion.stg_stage(self.spark, flat, self.base)
            with tr.span("plans.medallion.ods_stage"):
                medallion.ods_stage(self.spark, self.base)
            with tr.span("plans.medallion.int_stage"):
                medallion.int_stage(self.spark, self.base)
            with tr.span("plans.medallion.dwh_stage"):
                medallion.dwh_stage(self.spark, self.base)
        self.done += 1
        if tr.enabled:
            files = _layer_files(self.base)
            written = sum(size for p, (size, mtime) in files.items()
                          if self._files.get(p) != (size, mtime))
            self._files = files
            in_bytes = sum(len(json.dumps(d)) for d in docs)
            tr.count("plans.medallion.bytes_written_per_input_byte",
                     written / in_bytes)

    def setup(self, spark, tracer) -> None:
        """The first cycle: the L3 full refresh of an empty lake."""
        self.spark, self.tracer = spark, tracer
        self._next_docs()
        self._run_batch()

    def next_op(self):
        self._next_docs()
        return "ingest_batch", self._run_batch

    def at_boundary(self) -> bool:
        return True

    # -- reporting -------------------------------------------------------
    def extra_metrics(self, loop) -> dict:
        from harness import latencies, median, metric, tail

        lat, with_failed = latencies(loop.ops)
        t, pct = tail(with_failed)
        rows = sum(len(b) for b in self.batches[1:self.done])  # timed, ingested
        return {
            "ingest_batch_p50_s": metric(median(lat), "s", len(lat)),
            "ingest_batch_tail_s": metric(t, "s", len(lat)),
            "ingest_batch_tail_percentile": metric(pct, "%", len(lat)),
            "ingest_rows_per_s": metric(rows / loop.elapsed_s, "rows/s", len(lat)),
        }

    def layer_metrics(self) -> dict:
        from harness import median, metric

        tr = self.tracer
        out = {}
        for name in ("sources.collector.collect_once",
                     "plans.medallion.stg_stage", "plans.medallion.ods_stage",
                     "plans.medallion.int_stage", "plans.medallion.dwh_stage"):
            d = tr.durations(name)
            out[f"{name}_s"] = metric(median(d), "s", len(d))
        jobs = tr.span_field("plans.medallion", "jobs")
        tasks = tr.span_field("plans.medallion", "tasks")
        out["plans.medallion.jobs_per_batch"] = metric(median(jobs), "count", len(jobs))
        out["plans.medallion.tasks_per_batch"] = metric(median(tasks), "count", len(tasks))
        b = tr.counts.get("plans.medallion.bytes_written_per_input_byte", [])
        out["plans.medallion.bytes_written_per_input_byte"] = metric(
            median(b), "ratio", len(b))
        fetched, dropped = self.watermark_drops()
        out["plans.medallion.watermark_dropped_ratio"] = metric(
            dropped / max(fetched, 1), "ratio", self.done)
        return out

    # -- model and output check -----------------------------------------
    def model(self, n_batches: int) -> dict:
        """Expected layer contents after ``n_batches`` cycles."""
        stg: dict[str, dict] = {}
        ods: list[tuple] = []
        int_: dict[str, tuple] = {}
        dwh: dict[str, tuple] = {}
        fetched = dropped = 0
        for docs in self.batches[:n_batches]:
            rows = [_row(d) for d in docs]
            fetched += len(rows)
            wm = max((r["observed"] for r in stg.values()), default=None)
            fresh = [r for r in rows if wm is None or r["observed"] > wm]
            dropped += len(rows) - len(fresh)
            for r in fresh:
                stg[r["id"]] = r
            # ods: digits-only ids, inclusive watermark, append
            ods_wm = max((o[1] for o in ods), default=None)
            ods.extend(
                (int(r["id"]), r["observed"], r["icao"], r["temperature_c"],
                 r["wind_speed_kt"], r["visibility_m"])
                for r in stg.values()
                if r["id"].isdigit() and (ods_wm is None or r["observed"] >= ods_wm)
            )
            # int: strict watermark, latest per icao, merge by icao
            int_wm = max((v[1] for v in int_.values()), default=None)
            latest: dict[str, tuple] = {}
            for r in stg.values():
                if int_wm is not None and r["observed"] <= int_wm:
                    continue
                cand = (r["id"], r["observed"])
                cur = latest.get(r["icao"])
                if cur is None or (cand[1], cand[0]) > (cur[1], cur[0]):
                    latest[r["icao"]] = cand
            for icao, cand in latest.items():
                cur = int_.get(icao)
                if cur is None or cand[1] >= cur[1]:
                    int_[icao] = cand
            # dwh: inclusive date watermark, daily rollup, merge by icao_date
            dwh_wm = max((v[1] for v in dwh.values()), default=None)
            groups: dict[tuple, list] = {}
            for o in ods:
                day = o[1].date()
                if dwh_wm is None or day >= dwh_wm:
                    groups.setdefault((o[2], day), []).append(o)
            for (icao, day), obs in groups.items():
                n = len(obs)
                avg = float(sum(Decimal(repr(o[3])) for o in obs)) / n
                avg = float(Decimal(repr(avg)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP))
                key = f"{icao}_{day:%Y%m%d}"
                row = (icao, day, avg, max(o[4] for o in obs),
                       min(o[5] for o in obs), n)
                cur = dwh.get(key)
                if cur is None or n >= cur[5]:
                    dwh[key] = row
        return {"stg": stg, "ods": ods, "int": int_, "dwh": dwh,
                "fetched": fetched, "dropped": dropped}

    def watermark_drops(self) -> tuple[int, int]:
        m = self.model(self.done)
        return m["fetched"], m["dropped"]

    def _keyed(self, layer: str, key: str, cols: list[str]) -> dict | None:
        """Rows of a merged layer by key; None when a key repeats."""
        rows = self.spark.read.parquet(os.path.join(self.base, layer)).select(
            key, *cols).collect()
        by_key = {r[0]: tuple(r[1:]) for r in rows}
        return by_key if len(by_key) == len(rows) else None

    def check(self, model: dict | None = None) -> list[str]:
        """Compare the lake with the model; returns the mismatches."""
        m = model or self.model(self.done)
        problems = []
        want_stg = {k: (r["icao"], r["observed"], r["temperature_c"])
                    for k, r in m["stg"].items()}
        if self._keyed("stg", "id", ["icao", "observed", "temperature_c"]) != want_stg:
            problems.append(f"stg differs from the model ({len(want_stg)} ids)")
        got_ods = sorted(
            (r.id_int, r.observed)
            for r in self.spark.read.parquet(os.path.join(self.base, "ods"))
            .select("id_int", "observed").collect()
        )
        if got_ods != sorted((o[0], o[1]) for o in m["ods"]):
            problems.append(f"ods: {len(got_ods)} rows, model {len(m['ods'])}")
        if self._keyed("int", "icao", ["id", "observed"]) != m["int"]:
            problems.append(f"int differs from the model ({len(m['int'])} stations)")
        got_dwh = self._keyed("dwh", "icao_date", [
            "icao", "observed_date", "avg_temperature_c", "max_wind_speed_kt",
            "min_visibility_m", "n_observations"])
        if got_dwh is None or set(got_dwh) != set(m["dwh"]):
            problems.append(f"dwh keys differ from the model ({len(m['dwh'])} keys)")
        else:
            for k, want in m["dwh"].items():
                got = got_dwh[k]
                if got[:2] != want[:2] or got[3:] != want[3:] or abs(
                    got[2] - want[2]
                ) > 1e-9:
                    problems.append(f"dwh {k}: {got} != model {want}")
                    break
        return problems


def _row(doc: dict) -> dict:
    return {
        "id": source_id(payload_md5(doc)),
        "icao": doc["icao"],
        "observed": dt.datetime.strptime(doc["observed"], "%Y-%m-%dT%H:%M:%S"),
        "temperature_c": doc["temperature"]["celsius"],
        "wind_speed_kt": doc["wind"]["speed_kts"],
        "visibility_m": doc["visibility"]["meters_float"],
    }

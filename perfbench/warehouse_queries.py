"""Workload ``warehouse_queries``: the analyst read path.

A fixed, named set of read-only registry queries runs against the
generated warehouse tables, one at a time, each fully executed to the
noop sink. A cycle is one lap: the whole set once, in an order shuffled by
the seed.

Set-up runs one lap that collects every query's rows. After timing, the collected rows are compared with
each query's registered DuckDB oracle over the same parquet files (row
count, column names and an order-insensitive value hash).
"""

from __future__ import annotations

import os
import re
import time

import numpy as np

from datagen import make_tables, write_tables

SF = 0.01

# family -> queries; no query here writes a table or runs a stream
FAMILIES = {
    "marts": ["dwh_daily_metrics", "int_latest_per_key", "ods_sanitized_ids",
              "medallion_end_to_end"],
    "tpch": ["tpch_q3_shipping_priority"],
    "windows": ["sessionize_events"],
    "sketches": ["freq_tokens_sketch_topk"],
    "udf": ["pandas_token_count", "text_quality_scores", "udtf_token_chunks"],
    "graph_dedup": ["ann_bruteforce_topk"],
}
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}


class WarehouseQueries:
    name = "warehouse_queries"
    # after one warm-up lap, a lap still cost 10-25% less than the one before
    warmup_cycles = 2

    def __init__(self, work_dir: str, seed: int, sf: float = SF):
        """Write the tables (no Spark)."""
        from metar_pipeline_spark.queries import all_queries

        self.spark = self.tracer = None
        self.sf_dir = os.path.join(work_dir, "warehouse")
        self.names = list(FAMILY_OF)
        self.rng = np.random.default_rng(seed)
        self.lap: list[str] = []
        self.results: dict[str, tuple] = {}
        t = time.thread_time()
        write_tables(make_tables(seed, sf), self.sf_dir)
        self.bench_cpu_s = time.thread_time() - t  # making inputs
        registry = all_queries()
        self.specs = {q: registry[q] for q in self.names}

    def setup(self, spark, tracer) -> None:
        """The check lap: it collects each query's rows for the output
        check, a few queries at a time (no wider than the core count),
        which overlaps their one-off plan compilation."""
        from concurrent.futures import ThreadPoolExecutor

        self.spark, self.tracer = spark, tracer

        def collect(q):
            df = self.specs[q].spark_fn(self.spark, self.sf_dir)
            return q, (df.columns, [tuple(r) for r in df.collect()])

        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            self.results = dict(pool.map(collect, self.rng.permutation(self.names)))

    def _run(self, q: str) -> None:
        tr = self.tracer
        with tr.span("queries.build"):
            df = self.specs[q].spark_fn(self.spark, self.sf_dir)
        with tr.span("queries.exec"), tr.span(f"queries.{FAMILY_OF[q]}.exec"):
            df.write.format("noop").mode("overwrite").save()

    def probe(self) -> None:
        """Traced runs only, after the timed loop: time a plain
        ``io.load_table`` scan of each table each query's oracle reads."""
        from metar_pipeline_spark.io import TABLES, load_table

        for q in self.names:
            for t in TABLES:
                if re.search(rf"\b{t}\b", self.specs[q].oracle or ""):
                    with self.tracer.span("io.load_table_scan"):
                        load_table(self.spark, self.sf_dir, t).write.format(
                            "noop").mode("overwrite").save()

    def next_op(self):
        if not self.lap:
            self.lap = list(self.rng.permutation(self.names))
        q = self.lap.pop(0)
        return "query", lambda: self._run(q)

    def at_boundary(self) -> bool:
        return not self.lap

    # -- reporting -------------------------------------------------------
    def extra_metrics(self, loop) -> dict:
        from harness import latencies, median, metric, tail

        lat, with_failed = latencies(loop.ops)
        t, pct = tail(with_failed)
        return {
            "query_p50_s": metric(median(lat), "s", len(lat)),
            "query_tail_s": metric(t, "s", len(lat)),
            "query_tail_percentile": metric(pct, "%", len(lat)),
            "queries_per_min": metric(60.0 * len(lat) / loop.elapsed_s,
                                      "1/min", len(lat)),
        }

    def layer_metrics(self) -> dict:
        from harness import median, metric

        tr = self.tracer
        out = {}
        names = ["io.load_table_scan", "queries.build", "queries.exec"]
        names += [f"queries.{f}.exec" for f in FAMILIES]
        for name in names:
            d = tr.durations(name)
            out[f"{name}_s"] = metric(median(d), "s", len(d))
        jobs = tr.span_field("op.query", "jobs")
        tasks = tr.span_field("op.query", "tasks")
        out["queries.jobs_per_query"] = metric(median(jobs), "count", len(jobs))
        out["queries.tasks_per_query"] = metric(median(tasks), "count", len(tasks))
        return out

    # -- output check ----------------------------------------------------
    def expected(self) -> dict:
        """Every query's DuckDB oracle result over the same parquet files."""
        import duckdb
        from metar_pipeline_spark.io import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            out = {}
            for q in self.names:
                cur = con.execute(self.specs[q].oracle)
                out[q] = ([d[0] for d in cur.description], cur.fetchall())
            return out
        finally:
            con.close()

    def check(self, expected: dict | None = None) -> list[str]:
        from tools.check_oracle import canon  # the oracle gate's comparison

        exp = expected or self.expected()
        problems = []
        for q in self.names:
            scols, srows = self.results[q]
            ocols, orows = exp[q]
            if sorted(scols) != sorted(ocols):
                problems.append(f"{q}: columns {sorted(scols)} != {sorted(ocols)}")
            elif len(srows) != len(orows):
                problems.append(f"{q}: {len(srows)} rows, oracle {len(orows)}")
            elif canon(srows, scols) != canon(orows, ocols):
                problems.append(f"{q}: values differ from the oracle")
        return problems

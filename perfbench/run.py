"""Engine benchmark: one named workload, one seed, one measured window.

    python3 perfbench/run.py --workload metar_ingest --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Starts a Spark session on
``local[<cores available>]`` through the engine's ``session.get_spark``,
builds the workload's inputs from ``--seed``, runs its set-up and one
warm-up cycle, then a closed loop of ops (one client thread) for
``--seconds`` (finishing the cycle in flight), then checks the engine's
outputs.

Standard output ends with two JSON lines. The first carries every metric
with its unit and sample count, the workload's own breakdown and the
failed ops by exception type. The last is the result object
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics named in BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``, which also writes every span to ``.bench_out/``).

Exit status: 0 when every output check passed, 1 when one failed, 2 when
the engine package is missing from the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _workloads() -> dict:
    from lakehouse_mixed import LakehouseMixed
    from metar_ingest import MetarIngest
    from warehouse_queries import WarehouseQueries

    return {w.name: w for w in (MetarIngest, WarehouseQueries, LakehouseMixed)}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: Path, name: str):
    """The engine's own session factory, on every core this process may use."""
    from metar_pipeline_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    return get_spark(
        f"perfbench-{name}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": str(tmp),
            # JIT compiler threads that never exit, so that their CPU can
            # be told apart (harness.tree_cpu_s)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python worker
    the JVM started) has exited. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def summarize(wl, loop, tracer, setup_wall_s: float, setup_cpu_s: float) -> dict:
    """Every metric this run can report, keyed by name.

    The bounded end-to-end metrics are CPU seconds of the whole process
    tree, JIT compilation left out (``setup_s``, ``cycle_cpu_s``): the
    machine's CPUs are shared, and waiting for a CPU moves wall times but
    not CPU times. The wall times are reported beside them
    (``setup_wall_s``, ``cycle_s``), and so is the share of the machine's
    CPU time the hypervisor gave to other guests during the loop
    (``host_steal_share``). ``setup_s`` leaves out the CPU the benchmark
    spent making inputs."""
    from harness import median, metric, peak_rss_mb

    ok = [o.latency_s for o in loop.ops if o.ok]
    out = {
        "setup_s": metric(setup_cpu_s, "s", 1),
        "setup_wall_s": metric(setup_wall_s, "s", 1),
        "cycle_s": metric(median(loop.cycles), "s", len(loop.cycles)),
        "cycle_cpu_s": metric(median(loop.cycles_cpu), "s", len(loop.cycles_cpu)),
        "op_p50_s": metric(median(ok), "s", len(ok)),
        "ops_per_min": metric(60.0 * len(ok) / loop.elapsed_s, "1/min", len(ok)),
        "peak_rss_mb": metric(peak_rss_mb(), "MB", 1),
        "bench_input_cpu_s": metric(wl.bench_cpu_s, "s", 1),
        "host_steal_share": metric(loop.steal_share, "ratio", 1),
        "failed_op_ratio": metric(sum(not o.ok for o in loop.ops) / len(loop.ops),
                                  "ratio", len(loop.ops)),
    }
    out.update(wl.extra_metrics(loop))
    if tracer.enabled:
        out.update(wl.layer_metrics())
        kinds = {o.kind for o in loop.ops}
        jobs = [j for k in kinds for j in tracer.span_field(f"op.{k}", "jobs")]
        tasks = [t for k in kinds for t in tracer.span_field(f"op.{k}", "tasks")]
        out["bench.jobs_per_op"] = metric(median(jobs), "count", len(jobs))
        out["bench.tasks_per_op"] = metric(median(tasks), "count", len(tasks))
        out["bench.traced_cycle_s"] = out["cycle_s"]
        out["bench.traced_cycle_cpu_s"] = out["cycle_cpu_s"]
        out["bench.trace_bookkeeping_s_per_cycle"] = metric(
            tracer.bookkeeping_s / max(len(loop.cycles), 1), "s", len(loop.cycles))
        out["bench.peak_rss_mb"] = out["peak_rss_mb"]
    return out


def measure(spark, wl, tracer, seconds: float, t_start: float) -> dict:
    """Set up and warm up, run the closed loop, then, outside all timing,
    the traced-only probes and the output check; returns the report.

    Warm-up is ``wl.warmup_cycles`` whole cycles of the op mix after the
    workload's set-up, counted in set-up time: the first cycles after a
    cold start each cost markedly less than the one before, as the JVM's
    compiled code replaces its interpreted code, and a cycle measured
    there depends on where in that slope it falls."""
    from harness import closed_loop, tree_cpu_s

    wl.setup(spark, tracer)
    warm = [op for _ in range(wl.warmup_cycles)
            for op in closed_loop(wl, tracer, 0.0).ops]
    setup_wall_s = time.perf_counter() - t_start
    setup_cpu_s = tree_cpu_s() - wl.bench_cpu_s
    tracer.reset()
    loop = closed_loop(wl, tracer, seconds)
    if tracer.enabled and hasattr(wl, "probe"):
        wl.probe()
    problems = wl.check()
    failures: dict[str, dict[str, int]] = {}
    for o in warm + loop.ops:
        if not o.ok:
            by_type = failures.setdefault(o.kind, {})
            by_type[o.error] = by_type.get(o.error, 0) + 1
    return {
        "workload": wl.name,
        "problems": problems,
        "attempted": len(warm) + len(loop.ops),
        "failed": sum(not o.ok for o in warm + loop.ops),
        "failures": failures,
        "cycles_s": loop.cycles,
        "cycles_cpu_s": loop.cycles_cpu,
        "metrics": summarize(wl, loop, tracer, setup_wall_s, setup_cpu_s),
    }


def result_line(report: dict, wanted: list[dict]) -> dict:
    """The result object: exactly the metrics named in ``wanted``. A layer
    the workload never calls reads 0."""
    metrics = {}
    for m in wanted:
        got = report["metrics"].get(m["name"])
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    return {
        "correct": not report["problems"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "metar_pipeline_spark" / "__init__.py").is_file():
        print(f"engine package metar_pipeline_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    from harness import Tracer

    # Inputs are generated while the JVM starts. The workload keeps the CPU
    # this costs in ``bench_cpu_s``, which set-up time leaves out.
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(workloads[args.workload], str(work), args.seed)
        spark = start_spark(work, args.workload)
        wl = inputs.result()
    try:
        tracer = Tracer(spark, bool(args.trace))
        report = measure(spark, wl, tracer, args.seconds, T_START)
        if tracer.enabled:
            tracer.write(str(ROOT / ".bench_out" /
                             f"trace-{args.workload}-{args.seed}.json"))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    report.update(seed=args.seed, trace=args.trace)
    print(json.dumps(report))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(json.dumps(result_line(report, wanted)))
    return 0 if not report["problems"] else 1


def prepare_env(work: Path) -> None:
    """Keep every file Spark and Python write inside ``work``; UTC clock."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, str(ROOT))


if __name__ == "__main__":
    sys.exit(main())

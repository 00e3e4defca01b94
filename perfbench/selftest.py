"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Runs a warm-up cycle and one traced cycle of each workload on tiny inputs
(sf 0.001, and 40 METAR stations with replays, late reports and
non-numeric ids) in one Spark session and asserts that:

- the output checks pass on the real outputs;
- every metric named in BENCHMARK.json is reported with its unit and a
  sample count, and every result line carries all of them;
- a deliberately wrong expected result makes each output check fail;
- in a directory holding only BENCHMARK.json and this package, run.py
  exits non-zero without printing a result.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402

SEED = 7


def _wrong_metar(wl) -> dict:
    m = wl.model(wl.done)
    m["dwh"].pop(next(iter(m["dwh"])))
    return m


def _wrong_warehouse(wl) -> dict:
    exp = dict(wl.expected())
    q = next(iter(exp))
    cols, rows = exp[q]
    exp[q] = (cols, rows[1:] if rows else [tuple(None for _ in cols)])
    return exp


def _wrong_lakehouse(wl) -> dict:
    exp = wl.expected()
    latest = dict(exp["latest"])
    latest.pop(next(iter(latest)))
    return {**exp, "latest": latest}


def _cases():
    from datagen import MetarShape
    from lakehouse_mixed import LakehouseMixed
    from metar_ingest import MetarIngest
    from warehouse_queries import WarehouseQueries

    # every control on, so the model's drop and replay paths are checked
    tiny = MetarShape(stations=40, hourly_share=0.3, late_share=0.2,
                      non_numeric_share=0.2)
    return [
        (lambda w: MetarIngest(w, SEED, shape=tiny), _wrong_metar),
        (lambda w: WarehouseQueries(w, SEED, sf=0.001), _wrong_warehouse),
        (lambda w: LakehouseMixed(w, SEED, sf=0.001), _wrong_lakehouse),
    ]


def check_bare_dir(work: Path) -> list[str]:
    """run.py in a directory with only BENCHMARK.json and perfbench/."""
    bare = work / "bare"
    shutil.copytree(run.HERE, bare / run.HERE.name,
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(run.ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, f"{run.HERE.name}/run.py", "--workload", "metar_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    if p.returncode == 0 or '"correct"' in p.stdout:
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}"]
    return []


def main() -> int:
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    work = run.ROOT / ".bench_work" / f"selftest-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    errors = check_bare_dir(work)
    run.prepare_env(work)
    from harness import Tracer

    spark = run.start_spark(work, "selftest")
    seen: dict[str, dict] = {}
    try:
        for i, (make, wrong) in enumerate(_cases()):
            wl = make(str(work / str(i)))
            report = run.measure(spark, wl, Tracer(spark, True), 0.0,
                                 time.perf_counter())
            name = report["workload"]
            errors += [f"{name}: {p}" for p in report["problems"]]
            for m in spec["end_to_end"]:
                got = report["metrics"].get(m["name"])
                if not got or got["unit"] != m["unit"] or got["samples"] < 1:
                    errors.append(f"{name}: end-to-end {m['name']} missing: {got}")
            for mode in ("end_to_end", "per_layer"):
                line = run.result_line(report, spec[mode])
                missing = {m["name"] for m in spec[mode]} - set(line["metrics"])
                if missing:
                    errors.append(f"{name}: result line lacks {sorted(missing)}")
            for k, v in report["metrics"].items():
                if "unit" not in v or "samples" not in v:
                    errors.append(f"{name}: {k} lacks unit or sample count")
                seen.setdefault(k, v)
            if not wl.check(wrong(wl)):
                errors.append(f"{name}: a wrong expected result passed the check")
            print(f"{name}: {len(report['metrics'])} metrics, "
                  f"{report['attempted']} ops, problems {report['problems']}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for m in spec["per_layer"]:
        got = seen.get(m["name"])
        if not got or got["unit"] != m["unit"]:
            errors.append(f"per-layer {m['name']} not reported by any workload: {got}")
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

"""Query registry — the driver contract surface.

Each named query is a pair (spark_fn, oracle_sql):
- spark_fn(spark, sf_dir) -> DataFrame, built from the engine's operators;
- oracle_sql: equivalent SQL DuckDB runs on the same parquet views.

Determinism rules (so the driver's order-insensitive value-hash matches):
- float SUM/AVG go through exact DECIMAL accumulation, then ONE double
  division/round — accumulation order can then never change the result;
- every window/top-k has a total order (explicit tiebreak columns);
- no raw unrounded float arithmetic chains in outputs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → non-SQL-expressible (rows-only check)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        # Fail loudly at import time on a duplicate name (round-9
        # ADVICE): a silent REGISTRY overwrite would make which spec
        # the driver verifies depend on module import order.
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


# The driver's correctness gate verifies the FIRST 50 registry entries
# per round. Order therefore encodes verification priority:
#   0. VERIFY_FIRST — this round's manually-flagged changed/red queries;
#   1. queries with no driver-green CORRECTNESS row yet;
#   2. driver-green queries whose implementing source or oracle changed
#      since their green hash was recorded (auto-boost — see
#      _query_hash / green_hashes.json below);
#   3. long-green unchanged queries (their rows stand as evidence).
# Rotation protocol per round: (a) at round START, before any edit,
# regenerate green_hashes.json (tools/update_green_hashes.py) so it
# snapshots the source the driver just verified; (b) add any query
# whose semantics you change to VERIFY_FIRST anyway (belt and braces —
# the auto-boost catches direct query/oracle edits and one-hop operator
# module edits, but not deeper transitive changes).
VERIFY_FIRST: list[str] = [
    # Round 14 (final OPTIMIZATION round): clear the round-13
    # verification debt first (VERDICT r13 "Next round #1"). These are
    # the queries whose spark-side implementation was restructured in
    # round 13 but that did NOT sit in the round-13 driver window —
    # their only correctness evidence so far is local sf0.001 + sf0.01
    # oracle runs. Risk-ordered: the one that also got SLOWER first,
    # then the deep restructures (PCA power iteration, graph hints,
    # fan_out-reshaped twins), then the one-hop ann/graph collateral.
    # Queries restructured in ROUND 14 are appended as they are edited.
    "dedup_incremental_batch",
    "pca_top2_projection",
    "dedup_canonical_keep",
    "dedup_minhash_lsh_pairs",
    "embedding_gram_matrix",
    "pagerank_supply_graph",
    "lpa_incremental_delta",
    "triangle_incremental_delta",
    "neardup_triangle_census",
    "neardup_ktruss_edges",
    "kmeans_refined_cells",
    "split_leakage_audit_report",
    "corpus_span_removal_audit",
    "source_centroid_affinity",
    "ann_maxsim_ivf_rerank",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ann_pq_adc_topk",
    "ann_ivf_quantized_probe",
    "ann_ivf_store_upsert",
    "ann_ivfpq_store_probe",
    "supply_bfs_hops",
    "lpa_communities",
    # Round 14 edits (appended as made): thread-wrap fix routed through
    # streaming.pipeline.parallel_batch_drops (ADVICE r13) — results
    # unchanged (wrapping only affects JVM-local property inheritance),
    # re-verified at both SFs and rotated in for a driver verdict.
    "stream_ingest_dedup",
    "stream_profile_anomaly_store",
    # sessionizer invariant guard (ADVICE r13): loud failure if a
    # non-zero watermark lateness ever breaks the sorted-batch
    # segmentation assumption — no behavior change under the pinned
    # '0 seconds' watermark.
    "stream_sessionize_stateful",
    # r14: warm-graph prep overlapped with the old-chain evaluation
    # via pagerank_prep + a 2-thread pool (guide §2.6) — same frames,
    # same math, re-verified both SFs.
    "pagerank_warm_start_delta",
    # r14: FileCommitLog write-once commit-json cache + per-read
    # listing snapshot (guide §1.2 — py4j FS fixed costs; commit 3-step
    # exhibit warm 4.7 → 2.2 s). The deepest consumers of the changed
    # read paths rotate in; the rest of the filelog family re-verified
    # both SFs + full filelog/txn/vacuum/lifecycle suites.
    "stream_filelog_cdf_tail",
    "filelog_cdc_replication",
    "maintenance_filelog_lifecycle",
    "filelog_change_feed",
    "filelog_cdf_downstream_agg",
    "filelog_cdf_ivm_view",
    "filelog_branch_publish",
    "filelog_restore_rollback",
    # tpch_q3 rounds its revenue in DECIMAL before the cast to double
    # (core._dsum_round, both sides): rounding the double put exact
    # half-cents on different sides in Spark and DuckDB.
    "tpch_q3_shipping_priority",
    # (ann_maxsim_recall_at_10 was named by the r13 verdict but its
    # verified-surface hash is UNCHANGED since its green verdict — the
    # stale-boost lint correctly excludes it from manual boosting.)
    # The rest of the 51-name r13 drift set is one-hop collateral
    # (module edited, helpers the query uses unchanged); it fills the
    # remaining window slots via the priority-2 auto-boost, and every
    # name is re-verified locally at sf0.001 + sf0.01 this round.
]


def _driver_green() -> set[str]:
    """Query names whose LATEST driver verdict is fully green.

    Verdicts come from the CORRECTNESS_r*.json files the external gate
    writes at repo root; a later round's row overrides an earlier one,
    so a query that regressed (green r1, red r2) counts as NON-green
    and re-enters the verification window. A query absent from later
    files keeps its older verdict (it was rotated out while green)."""
    import json
    from pathlib import Path

    verdict: dict[str, bool] = {}
    root = Path(__file__).resolve().parents[2]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            data = json.loads(p.read_text())
        except Exception:  # noqa: BLE001 — unreadable file: ignore
            continue
        for name, row in data.items():
            if isinstance(row, dict):
                verdict[name] = (
                    row.get("rows_match") is True
                    and row.get("hash_match") is True
                )
    return {n for n, ok in verdict.items() if ok}


#: Universal shared-path modules EXCLUDED from the one-hop hash.
#: Round-13 lesson: io.py (load_table) is referenced by essentially
#: every query, so one edit there marked 300/319 queries "drifted" and
#: the priority-2 tier degenerated to registration order — drift
#: stopped meaning "this query's logic changed". Edits to these
#: modules are covered by the full-registry sf0.001/sf0.01 oracle
#: suites (tests/test_queries_oracle.py), not by per-query drift.
_UNIVERSAL_DEPS = frozenset({"metar_pipeline_spark.io"})


def _query_hash(spec: QuerySpec) -> str:
    """Content hash of a query's verified surface: its spark_fn source,
    its oracle SQL, and — one hop out — the source of every
    metar_pipeline_spark function/module the spark_fn references by name
    (co_names), so an edit to e.g. operators/dedup.py re-boosts the
    dedup queries that call it. Deliberately one hop, not transitive:
    deep engine changes are covered by the full sf0.001 pytest oracle
    suite; the hash exists to re-open the EXTERNAL gate for the common
    regression class (direct query/oracle/operator-module edits).
    Universal shared-path modules are excluded (_UNIVERSAL_DEPS)."""
    import ast
    import hashlib
    import inspect
    import textwrap
    import types
    from pathlib import Path

    import importlib

    h = hashlib.sha256()
    try:
        src = inspect.getsource(spec.spark_fn)
    except OSError:
        src = repr(spec.spark_fn.__code__.co_code)
    h.update(src.encode())
    h.update((spec.oracle or "").encode())
    g = spec.spark_fn.__globals__
    for name in sorted(set(spec.spark_fn.__code__.co_names)):
        v = g.get(name)
        if isinstance(v, types.ModuleType):
            mn = v.__name__ or ""
            if mn.startswith("metar_pipeline_spark") and mn not in _UNIVERSAL_DEPS:
                try:
                    h.update(Path(v.__file__).read_bytes())
                except (OSError, TypeError):
                    pass
        elif callable(v):
            mn = getattr(v, "__module__", "") or ""
            if mn.startswith("metar_pipeline_spark") and mn not in _UNIVERSAL_DEPS:
                try:
                    h.update(inspect.getsource(v).encode())
                except (OSError, TypeError):
                    pass
    # Function-LOCAL imports (`from metar_pipeline_spark.x import y`
    # inside the body) never appear as module-level globals, so the
    # co_names walk above misses them — hash those modules too, or an
    # edit there silently fails to re-open the gate (the round-5
    # udtf_fns revert escaped the auto-boost exactly this way).
    # Parsed with ast, not a regex: parenthesized multi-line, aliased,
    # and plain `import pkg.mod` forms all count (round-5 review found
    # the regex skipped paren-form imports — scd/lm edits escaped).
    # IMPORTANT: `from pkg.operators import textops` resolves the
    # import target to the PACKAGE, whose __init__.py bytes never
    # change — each imported NAME must be probed as a submodule and
    # hashed when it is one.
    targets: set[str] = set()
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        tree = None
    for node in ast.walk(tree) if tree else ():
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("metar_pipeline_spark"):
                    targets.add(alias.name)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level == 0 and base.startswith("metar_pipeline_spark"):
                targets.add(base)
                for alias in node.names:
                    targets.add(f"{base}.{alias.name}")
    for mod_name in sorted(targets - _UNIVERSAL_DEPS):
        try:
            m = importlib.import_module(mod_name)
        except Exception:  # noqa: BLE001 — name isn't a module: skip
            continue
        try:
            h.update(Path(m.__file__).read_bytes())
        except (OSError, TypeError):
            pass
    return h.hexdigest()


def _green_hashes() -> dict[str, str]:
    """green_hashes.json: query name → _query_hash at the moment the
    source was last snapshotted as driver-verified (regenerated at each
    round start by tools/update_green_hashes.py). A green query whose
    current hash differs was edited after verification and auto-boosts
    back into the window."""
    import json
    from pathlib import Path

    p = Path(__file__).resolve().parent / "green_hashes.json"
    try:
        return json.loads(p.read_text())
    except Exception:  # noqa: BLE001 — missing/corrupt manifest: boost all
        return {}


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect: populate REGISTRY.
    from metar_pipeline_spark.queries import (  # noqa: F401
        analytics_q,
        core,
        corpus_q,
        curation_q,
        extended,
        geo_q,
        multimodal_q,
        pca_q,
        pipeline_q,
        scale_q,
        sql_api,
        staged,
        text_ml,
        timeseries_q,
        tpch_more,
        vocab_q,
    )

    # Automatic rotation: VERIFY_FIRST names lead unconditionally (the
    # manual boost beats a green verdict — that is the whole point of
    # boosting a query whose code changed after it went green), then
    # queries whose latest driver verdict is not green, then green ones
    # whose source hash drifted from the verified snapshot (auto-boost),
    # then unchanged green ones (their rows stand as evidence). Ties
    # keep registration order (sorted() is stable).
    green = _driver_green()
    manifest = _green_hashes()
    pri = {n: i for i, n in enumerate(VERIFY_FIRST)}

    def key(n: str) -> tuple:
        if n in pri:
            return (0, pri[n])
        if n not in green:
            return (1, 0)
        if manifest.get(n) != _query_hash(REGISTRY[n]):
            return (2, 0)
        return (3, 0)

    names = sorted(REGISTRY, key=key)
    return {n: REGISTRY[n] for n in names}

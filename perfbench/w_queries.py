"""Workload ``query_suite``: one cold pass over fixed registry rows on
the committed sf0.001 fixtures. Each row is built by its ``queries()``
function and materialized through the ``noop`` sink, with bench.py's
cache/persisted-RDD cleanup between rows.

``driver_bound`` rows spend most of their wall before the final action
(iterative loops, eager checkpoints, py4j-heavy plan construction);
``scan_bound`` rows spend almost none there. A change that cuts
driver-side work should move the first group and leave the second
flat. The seed is recorded but changes nothing: the fixtures are fixed.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from statistics import median

from perfbench.common import release, sha256_files
from perfbench.trace import planning_ms

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

GROUPS = {
    "driver_bound": (
        "pagerank_convergence_eps",
        "bfs_khop_distances",
        "dedup_cluster_resolution",
        "suffix_window_rank",
        "streaming_ingest_accept",
        "sinapi_cost_lookup_q1",
    ),
    "scan_bound": (
        "pricing_summary",
        "cube_revenue",
        "rollup_revenue",
        "monthly_order_revenue",
        "nation_market_share",
        "product_profit_by_nation",
        "top_supplier_revenue",
        "hourly_event_stats",
        "doc_token_count",
        "tfidf_top_terms",
        "embedding_covariance",
        "latest_event_per_user",
    ),
}


def generate(work: str, seed: int):
    files = [os.path.join(FIXTURES, f"{t}.parquet") for t in TABLES]
    return {"digest": sha256_files(files), "input_bytes": sum(os.path.getsize(f) for f in files)}


def setup_extra():
    """Registry import, counted in set-up time for this workload."""
    import __spark_entry__

    return __spark_entry__.queries(), __spark_entry__.oracle_sql()


def wrap_layers(tracer) -> None:
    from autosinapi_spark import catalog

    tracer.wrap(catalog, "load")


def run(spark, inputs: dict, work: str, seed: int, seconds: float, tracer, extra) -> dict:
    queries, oracles = extra
    failures: list[str] = []
    attempted = 0
    walls: dict[str, list[float]] = {g: [] for g in GROUPS}
    results = {}
    for group, names in GROUPS.items():
        for name in names:
            attempted += 1
            op_id = f"q.{name}"
            t0 = time.perf_counter()
            try:
                with tracer.op(op_id, "op.row"):
                    with tracer.span(f"plans.{group}.build"):
                        df = queries[name](spark, FIXTURES)
                    if tracer.enabled:
                        tracer.add(f"plans.{group}.inner_jobs", len(tracer.jobs(op_id)))
                    with tracer.span(f"plans.{group}.action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed row counts as a miss
                df = None
                failures.append(f"{name}: {type(exc).__name__}: {exc}")
            walls[group].append(time.perf_counter() - t0)
            # outside the timed region: re-run the final plan for the
            # output check, then drop this row's cached/persisted blocks
            if df is not None:
                results[name] = _collect(df, name, failures)
                if tracer.enabled:
                    st = tracer.stage_totals(op_id)
                    tracer.add(f"plans.{group}.jobs", len(tracer.jobs(op_id)))
                    tracer.add(f"plans.{group}.planning_ms", planning_ms(df))
                    for k in ("executor_run_s", "shuffle_bytes", "spill_bytes"):
                        tracer.add(f"plans.{group}.{k}", st[k])
            release(spark)

    checks = check(results, oracles, inputs["digest"], os.path.join(os.path.dirname(work), "history"))
    failures += checks["failures"]
    group_s = {g: sum(w) for g, w in walls.items()}
    all_walls = [w for ws in walls.values() for w in ws]
    report = {
        "driver_bound_s": (group_s["driver_bound"], "s"),
        "scan_bound_s": (group_s["scan_bound"], "s"),
        "row_p50_ms": (median(all_walls) * 1000.0, "ms"),
        "rows": (len(all_walls), "count"),
        "row_s": ({n: round(w, 4) for g, ns in GROUPS.items() for n, w in zip(ns, walls[g])}, "s"),
    }
    return {
        "bulk_items_per_s": len(walls["driver_bound"]) / group_s["driver_bound"],
        "incremental_items_per_s": len(walls["scan_bound"]) / group_s["scan_bound"],
        "op_p50_ms": median(all_walls) * 1000.0,
        "timed_wall_s": sum(all_walls),
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "correct": checks["correct"],
        "report": report,
        "checks": checks["summary"],
    }


def _collect(df, name, failures):
    try:
        return list(df.columns), list(df.dtypes), [tuple(r) for r in df.collect()]
    except Exception as exc:
        failures.append(f"{name} collect: {type(exc).__name__}: {exc}")
        return None


def check(results: dict, oracles: dict, fixtures_digest: str, cache_dir: str) -> dict:
    """Each row against its DuckDB oracle, compared the way
    ``tools/driver_sim.py`` compares: column names and order, row
    count, oracle type lint, and the float-bit canonical multiset.

    Oracle results are cached under ``cache_dir`` keyed by the SQL
    text, the fixtures and the DuckDB version, so only the first run
    in a checkout pays for the slow oracles."""
    import duckdb

    from tools.driver_sim import canon, type_lint

    os.makedirs(cache_dir, exist_ok=True)
    cache_path = os.path.join(cache_dir, "oracles.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path, encoding="utf-8") as fh:
            cache = json.load(fh)
    failures, mismatched = [], []
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(FIXTURES, t)}.parquet')"
            )
        for name, res in results.items():
            if res is None:
                mismatched.append(name)
                continue
            scols, sdtypes, srows = res
            key = hashlib.sha256(
                f"{oracles[name]}|{fixtures_digest}|{duckdb.__version__}".encode()
            ).hexdigest()
            if key not in cache:
                rel = con.sql(oracles[name])
                ocols = list(rel.columns)
                orows = [tuple(r) for r in rel.fetchall()]
                cache[key] = {
                    "cols": ocols,
                    "types": [str(t) for t in rel.types],
                    "rows": len(orows),
                    "sha": _digest(canon(ocols, orows)),
                }
            want = cache[key]
            problems, _ = type_lint(sdtypes, want["types"])
            ok = (
                scols == want["cols"]
                and len(srows) == want["rows"]
                and not problems
                and _digest(canon(scols, srows)) == want["sha"]
            )
            if not ok:
                mismatched.append(name)
                failures.append(f"{name}: oracle mismatch ({len(srows)}/{want['rows']} rows)")
    finally:
        con.close()
    with open(cache_path, "w", encoding="utf-8") as fh:
        json.dump(cache, fh)
    return {
        "correct": not mismatched,
        "failures": failures,
        "summary": {"rows_checked": len(results), "mismatched": mismatched},
    }


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()

"""Benchmark entry point.

    python3 perfbench/run.py --workload {sinapi_monthly,corpus_curation,query_suite}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (fixtures for query_suite are committed);
the engine only ever sees those files. One client in one process
drives one ``session.get_spark()`` session at ``local[$(nproc)]``.

The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a report with the workload's own metric names, the run
conditions and the output checks. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.trace import Tracer, dump, layer_table  # noqa: E402

WORKLOADS = ("sinapi_monthly", "corpus_curation", "query_suite")
E2E_UNITS = {
    "setup_s": "s",
    "bulk_items_per_s": "1/s",
    "incremental_items_per_s": "1/s",
    "op_p50_ms": "ms",
}


def _module(workload: str):
    from perfbench import w_corpus, w_queries, w_sinapi

    return {"sinapi_monthly": w_sinapi, "corpus_curation": w_corpus,
            "query_suite": w_queries}[workload]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("autosinapi_spark") is None:
        print("perfbench: the engine package autosinapi_spark is not importable "
              f"from {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    wl = _module(args.workload)
    work_root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(work_root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    # not set-up: the machine probe and the benchmark's own input generation
    t_pre = time.perf_counter()
    canary_before = common.canary_ms()
    t_gen = time.perf_counter()
    inputs = wl.generate(work, args.seed)
    gen_s = time.perf_counter() - t_gen
    pre_s = time.perf_counter() - t_pre

    # set-up: engine import, session, one trivial job (+ registry import)
    t_session = time.perf_counter()
    from autosinapi_spark.session import get_spark

    t_get = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{args.workload}")
    session_start_s = time.perf_counter() - t_get
    spark.range(1000).selectExpr("sum(id)").collect()
    extra = wl.setup_extra()
    setup_s = common.since_process_start() - pre_s
    engine_import_s = t_get - t_session

    tracer = Tracer(enabled=bool(args.trace))
    tracer.attach(spark)
    wl.wrap_layers(tracer)
    gc_before = tracer.gc_seconds() if tracer.enabled else 0.0
    try:
        out = wl.run(spark, inputs, work, args.seed, args.seconds, tracer, extra)
        cond = common.conditions(spark)
        if tracer.enabled:
            layers = per_layer(tracer, out, session_start_s, gc_before)
            dump(tracer.spans, os.path.join(work, "spans.jsonl"))
    finally:
        common.stop_spark(spark)
    cond.update(
        canary_before_ms=canary_before,
        canary_after_ms=common.canary_ms(),
        input_sha256=inputs["digest"],
        input_bytes=inputs["input_bytes"],
        seed=args.seed,
        trace=args.trace,
    )

    report = {
        "workload": args.workload,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["report"].items()},
        "setup": {"setup_s": setup_s, "engine_import_s": engine_import_s,
                  "session_start_s": session_start_s, "input_generation_s": gen_s},
        "timed_wall_s": out["timed_wall_s"],
        "conditions": cond,
        "checks": out["checks"],
        "failures": out["failures"],
    }
    with open(os.path.join(work, "report.json"), "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1, default=str)
    for f in out["failures"]:
        print(f"perfbench: {f}", file=sys.stderr)
    print(json.dumps(report, default=str))

    if tracer.enabled:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        values = {"setup_s": setup_s, **{k: out[k] for k in E2E_UNITS if k != "setup_s"}}
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": bool(out["correct"]) and out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0


# -- per-layer metrics --------------------------------------------------------

def _metric_catalog() -> dict[str, str]:
    """name -> unit for every per-layer metric, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def per_layer(tracer, out: dict, session_start_s: float, gc_before: float) -> dict:
    """Every per-layer metric; a layer the workload does not reach
    reads 0."""
    table = layer_table(tracer.spans)
    c = tracer.counts

    def span(name, key):
        return table.get(name, {}).get(key, 0.0)

    roots = [s for s in tracer.spans if s.parent is None]
    root_self = sum(span(n, "self_s") for n in {s.name for s in roots})
    timed = out["timed_wall_s"]
    n_reads = c.get("sinapi_read.ops", 0.0)
    values = {
        "session.start_s": session_start_s,
        "jvm.gc_s": tracer.gc_seconds() - gc_before,
        "jvm.peak_rss_mb": tracer.jvm_peak_rss_mb(),
        "py4j.calls": float(sum(s.py4j for s in roots)),
        "trace.timed_wall_s": timed,
        "trace.unattributed_share": root_self / timed if timed else 0.0,
        "sources.read_discovered_csv.calls": span("sources.csv_source.read_discovered_csv", "calls"),
        "sources.read_discovered_csv.self_s": span("sources.csv_source.read_discovered_csv", "self_s"),
        "sources.read_discovered_csv.jobs": c.get("sources.csv_source.read_discovered_csv.jobs", 0.0),
        "operators.sinks.build_s": sum(
            span(f"operators.sinks.{f}", "s")
            for f in ("upsert", "append_ignore_conflicts", "write_overwrite")),
        "operators.bom.explode_bom.levels": c.get("operators.bom.explode_bom.levels", 0.0),
        "operators.bom.explode_bom.jobs": (
            c.get("operators.bom.explode_bom.jobs", 0.0) / span("operators.bom.explode_bom", "calls")
            if span("operators.bom.explode_bom", "calls") else 0.0),
        "operators.bom.explode_bom.self_s": span("operators.bom.explode_bom", "self_s"),
        "operators.bom.rollup_cost.self_s": span("operators.bom.rollup_cost", "self_s"),
        "sinapi_read.py4j_calls_per_op": (
            sum(s.py4j for s in roots if s.name.startswith("op.read.")) / n_reads
            if n_reads else 0.0),
        "sinapi_read.jobs_per_op": c.get("sinapi_read.jobs", 0.0) / n_reads if n_reads else 0.0,
        "sinapi_read.planning_ms": c.get("sinapi_read.planning_ms", 0.0) / n_reads if n_reads else 0.0,
        "catalog.load.calls": span("catalog.load", "calls"),
        "catalog.load.py4j_calls": span("catalog.load", "py4j"),
        "catalog.load.self_s": span("catalog.load", "self_s"),
        "curation.run.s": c.get("curation.run.s", 0.0),
        "curation.jobs": c.get("curation.jobs", 0.0),
        "graph.resolve_clusters.self_s": span("operators.graph.resolve_clusters", "self_s"),
        "graph.resolve_clusters.jobs": c.get("operators.graph.resolve_clusters.jobs", 0.0),
        "near_dedup.removed_docs": c.get("near_dedup.removed_docs", 0.0),
        "streaming.ingest.batch_p50_ms": c.get("streaming.ingest.batch_p50_ms", 0.0),
        "streaming.ingest.jobs_per_batch": (
            c.get("streaming.ingest.jobs", 0.0) / c["streaming.ingest.batches"]
            if c.get("streaming.ingest.batches") else 0.0),
        "streaming.ingest.bytes_appended": c.get("streaming.ingest.bytes_appended", 0.0),
        "streaming.ingest.accepted_docs": c.get("streaming.ingest.accepted_docs", 0.0),
        "warehouse_bytes_per_input_byte": c.get("warehouse_bytes_per_input_byte", 0.0),
        "pipeline.write_amplification": c.get("pipeline.write_amplification", 0.0),
    }
    for m in ("cold", "warm"):
        for k in ("s", "jobs", "executor_run_s", "bytes_written"):
            values[f"pipeline.run_etl.{m}.{k}"] = c.get(f"pipeline.run_etl.{m}.{k}", 0.0)
    for stage in ("input", "length", "repetition", "exact_dedup", "near_dedup",
                  "decontaminate", "output"):
        values[f"curation.survivors.{stage}"] = c.get(f"curation.survivors.{stage}", 0.0)
    for g in ("driver_bound", "scan_bound"):
        values[f"plans.{g}.build_s"] = span(f"plans.{g}.build", "s")
        values[f"plans.{g}.action_s"] = span(f"plans.{g}.action", "s")
        values[f"plans.{g}.py4j_calls"] = (
            span(f"plans.{g}.build", "py4j") + span(f"plans.{g}.action", "py4j"))
        for k in ("inner_jobs", "jobs", "planning_ms", "executor_run_s",
                  "shuffle_bytes", "spill_bytes"):
            values[f"plans.{g}.{k}"] = c.get(f"plans.{g}.{k}", 0.0)
    units = _metric_catalog()
    missing = set(units) ^ set(values)
    if missing:
        raise RuntimeError(f"per-layer metrics and BENCHMARK.json differ: {sorted(missing)}")
    return {k: (float(values[k]), units[k]) for k in units}


if __name__ == "__main__":
    sys.exit(main())

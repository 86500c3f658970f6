"""Workload ``corpus_curation``: the curation funnel over a seeded
corpus, persisted to Parquet, then seeded micro-batches landed one
file at a time, each drained by ``ingest_dedup_available_now``.

MinHash/LSH and connected-components compute dominate here and driver
overhead is a small share; every drain reads back the signature store
that earlier drains appended to.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import time
from statistics import median

from perfbench import gen_corpus
from perfbench.common import parquet_bytes, sha256_files


def generate(work: str, seed: int):
    corpus, batches, texts = gen_corpus.generate(os.path.join(work, "inputs"), seed)
    files = [corpus, *batches]
    return {
        "corpus": corpus,
        "batches": batches,
        "texts": texts,
        "digest": sha256_files(files),
        "input_bytes": sum(os.path.getsize(f) for f in files),
    }


def wrap_layers(tracer) -> None:
    from autosinapi_spark import curation
    from autosinapi_spark.operators import graph, near_dedup
    from autosinapi_spark.streaming import ingest

    tracer.wrap(curation.CurationPipeline, "run", "curation.run")
    tracer.wrap(near_dedup, "minhash_near_dup_pairs")
    tracer.wrap(graph, "resolve_clusters", jobs=True)
    tracer.wrap(ingest, "ingest_dedup_available_now", "streaming.ingest")


def setup_extra():
    return None


def run(spark, inputs: dict, work: str, seed: int, seconds: float, tracer, _extra) -> dict:
    from autosinapi_spark import curation
    from autosinapi_spark.streaming import ingest

    failures: list[str] = []
    curated_path = os.path.join(work, "curated")
    attempted = 1
    t0 = time.perf_counter()
    with tracer.op("curate", "op.curate"):
        docs = spark.read.parquet(inputs["corpus"])
        final, counts = curation.CurationPipeline().run(docs)
        with tracer.span("curation.persist"):
            final.write.mode("overwrite").parquet(curated_path)
    curate_s = time.perf_counter() - t0
    if tracer.enabled:
        tracer.add("curation.run.s", curate_s)
        tracer.add("curation.jobs", len(tracer.jobs("curate")))
        for stage, n in counts.items():
            tracer.add(f"curation.survivors.{stage}", n)
        tracer.add("near_dedup.removed_docs", counts["exact_dedup"] - counts["near_dedup"])

    landing = os.path.join(work, "landing")
    corpus_out = os.path.join(work, "corpus")
    store = os.path.join(work, "signatures")
    ckpt = os.path.join(work, "checkpoint")
    os.makedirs(landing)
    drain_walls = []
    landed = 0
    for b, path in enumerate(inputs["batches"]):
        attempted += 1
        shutil.copy(path, os.path.join(landing, os.path.basename(path)))
        landed += _rows(path)
        op_id = f"ingest.{b}"
        # the stream runs its jobs under its own job group, so they are
        # counted by job id instead
        first_job = tracer.latest_job_id() if tracer.enabled else 0
        t0 = time.perf_counter()
        try:
            with tracer.op(op_id, "op.drain"):
                ingest.ingest_dedup_available_now(spark, landing, corpus_out, store, ckpt)
        except Exception as exc:  # a failed drain counts as a miss
            failures.append(f"drain {b}: {type(exc).__name__}: {exc}")
        drain_walls.append(time.perf_counter() - t0)
        if tracer.enabled:
            tracer.add("streaming.ingest.jobs", tracer.latest_job_id() - first_job)

    checks = check(spark, inputs, counts, curated_path, corpus_out, work, seed)
    failures += checks["failures"]
    wh_bytes = parquet_bytes(curated_path) + parquet_bytes(corpus_out) \
        + parquet_bytes(store)
    n_docs = counts["input"]
    ingest_s = sum(drain_walls)
    if tracer.enabled:
        tracer.add("warehouse_bytes_per_input_byte", wh_bytes / inputs["input_bytes"])
        tracer.add("streaming.ingest.batch_p50_ms", median(drain_walls) * 1000.0)
        tracer.add("streaming.ingest.bytes_appended",
                   parquet_bytes(corpus_out) + parquet_bytes(store))
        tracer.add("streaming.ingest.accepted_docs", checks["accepted"])
        tracer.add("streaming.ingest.batches", len(drain_walls))
    report = {
        "curate_docs_per_s": (n_docs / curate_s, "1/s"),
        "ingest_docs_per_s": (landed / ingest_s, "1/s"),
        "warehouse_bytes_per_input_byte": (wh_bytes / inputs["input_bytes"], "ratio"),
        "curate_s": (curate_s, "s"),
        "drain_s": ([round(w, 4) for w in drain_walls], "s"),
        "stage_counts": (counts, "count"),
        "accepted_docs": (checks["accepted"], "count"),
    }
    return {
        "bulk_items_per_s": n_docs / curate_s,
        "incremental_items_per_s": landed / ingest_s,
        "op_p50_ms": median(drain_walls) * 1000.0,
        "timed_wall_s": curate_s + ingest_s,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "correct": checks["correct"],
        "report": report,
        "checks": checks["summary"],
    }


def gate_counts(texts: list[str]) -> dict[str, int]:
    """Survivors of the length, repetition and exact-dedup gates under
    the default ``CurationConfig``, computed without Spark from
    single-spaced texts."""
    from autosinapi_spark.curation import CurationConfig

    cfg = CurationConfig()
    kept = [t for t in texts if len(t.split(" ")) >= cfg.min_tokens]
    n_length = len(kept)
    kept = [t for t in kept
            if 1.0 - len(set(t.split(" "))) / len(t.split(" ")) <= cfg.max_dup_token_frac]
    return {"input": len(texts), "length": n_length,
            "repetition": len(kept), "exact_dedup": len(set(kept))}


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


# -- output checks (outside every timed region) ----------------------------

def check(spark, inputs, counts, curated_path, corpus_out, work, seed) -> dict:
    from autosinapi_spark.streaming import ingest

    texts = inputs["texts"]
    failures, summary = [], {}
    curated = [tuple(r) for r in spark.read.parquet(curated_path).select("doc_id", "text").collect()]
    accepted = (  # absent when every drain failed
        [tuple(r) for r in spark.read.parquet(corpus_out).select("doc_id", "text").collect()]
        if os.path.exists(corpus_out) else []
    )

    # survivors are input documents, unchanged (the generator writes
    # single-spaced text, so normalization is the identity)
    foreign = [d for d, t in curated if texts.get(d) != t]
    foreign += [d for d, t in accepted if texts.get(d) != t]
    if foreign:
        failures.append(f"{len(foreign)} survivors not in the input, e.g. {foreign[:3]}")
    # Known engine defect, reported on every run rather than failed: the
    # streaming near-dedup shingles word n-grams, so a document shorter
    # than n tokens has no signature and its exact copies are admitted.
    ngram = inspect.signature(ingest.ingest_dedup_available_now).parameters["ngram"].default
    for name, rows in (("curated", curated), ("accepted", accepted)):
        seen, dups = set(), []
        for _, t in rows:
            if t in seen:
                dups.append(t)
            seen.add(t)
        short = [t for t in dups if len(t.split(" ")) < ngram]
        if len(dups) > len(short):
            failures.append(f"{name} output holds {len(dups) - len(short)} exact-duplicate texts")
        summary[f"{name}_short_doc_duplicates"] = len(short)
    if len(curated) != counts["output"]:
        failures.append(f"curated rows {len(curated)} != reported output {counts['output']}")
    # the gates ahead of near-dedup are recomputed here from the input
    expected = gate_counts([t for d, t in texts.items() if d < gen_corpus.BATCH_ID_BASE])
    got = {k: counts[k] for k in expected}
    if got != expected:
        failures.append(f"stage counts {got} != recomputed {expected}")

    # stage counts and accepted docs must repeat for one seed's inputs:
    # compared against the record any earlier run in this checkout left
    record = {"stage_counts": counts, "accepted": len(accepted)}
    hist_dir = os.path.join(os.path.dirname(work), "history")
    os.makedirs(hist_dir, exist_ok=True)
    hist = os.path.join(hist_dir, f"corpus_{seed}_{inputs['digest'][:16]}.json")
    if os.path.exists(hist):
        with open(hist, encoding="utf-8") as fh:
            before = json.load(fh)
        if before != record:
            failures.append(f"seed {seed} counts changed: {before} -> {record}")
        summary["repeat_of_earlier_run"] = before == record
    else:
        with open(hist, "w", encoding="utf-8") as fh:
            json.dump(record, fh)
    summary["curated"] = len(curated)
    summary["accepted"] = len(accepted)
    return {"correct": not failures, "failures": failures, "summary": summary,
            "accepted": len(accepted)}

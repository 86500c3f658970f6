"""Self-tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import csv
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common, gen_corpus, gen_sinapi, run, w_corpus  # noqa: E402
from perfbench.trace import Span, Tracer, self_times  # noqa: E402

TINY = gen_sinapi.SinapiScale(insumos=25, composicoes=30, events=20)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_tail_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert common.tail_percentile(xs) == (90, 90.0)
    assert sum(1 for x in xs if x > 90.0) == 10
    # 21 samples: only the median has 10 beyond it
    assert common.tail_percentile(xs[:21]) == (50, 11.0)
    assert common.tail_percentile(xs[:19]) is None


def test_percentile_is_nearest_rank():
    assert common.percentile([5.0, 1.0, 3.0], 50) == 3.0
    assert common.percentile([1.0, 2.0, 3.0, 4.0], 75) == 3.0
    assert common.percentile([7.0], 99) == 7.0


def test_span_self_time_subtracts_children():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 5.0, 6.0, parent=0),
        Span("a.child", 2.0, 3.5, parent=1),
    ]
    assert self_times(spans) == [6.0, 1.5, 1.0, 1.5]


def test_tracer_disabled_records_nothing():
    tr = Tracer(enabled=False)
    with tr.op("x", "op"), tr.span("inner"):
        tr.add("n", 3)
    assert tr.spans == [] and dict(tr.counts) == {}


def test_sinapi_generator_is_deterministic(tmp_path):
    a = gen_sinapi.generate(str(tmp_path / "a"), 7, TINY)
    b = gen_sinapi.generate(str(tmp_path / "b"), 7, TINY)
    c = gen_sinapi.generate(str(tmp_path / "c"), 8, TINY)
    da = common.sha256_files(gen_sinapi.input_files(a))
    assert da == common.sha256_files(gen_sinapi.input_files(b))
    assert da != common.sha256_files(gen_sinapi.input_files(c))
    assert [m.expected_inserted for m in a] == [m.expected_inserted for m in b]


def test_sinapi_rows_are_padded_to_header_width(tmp_path):
    months = gen_sinapi.generate(str(tmp_path), 3, TINY)
    for path in gen_sinapi.input_files(months):
        with open(path, encoding="utf-8", newline="") as fh:
            widths = {len(row) for row in csv.reader(fh, delimiter=";")}
        assert len(widths) == 1, (path, widths)


def test_sinapi_expected_counts_match_cells(tmp_path):
    months = gen_sinapi.generate(str(tmp_path), 5, TINY)
    for mo in months:
        n = 0
        for path in mo.inputs["precos"].values():
            with open(path, encoding="utf-8") as fh:
                rows = list(csv.reader(fh, delimiter=";"))
            n += sum(1 for r in rows[4:] for cell in r[3:] if cell)
        assert n == mo.expected_inserted["precos_insumos_mensal"]
        assert gen_sinapi.br_number(1234.5) == "1.234,50"


def test_corpus_generator_is_deterministic(tmp_path):
    scale = gen_corpus.CorpusScale(docs=200, batches=2, batch_docs=50)
    a = gen_corpus.generate(str(tmp_path / "a"), 4, scale)
    b = gen_corpus.generate(str(tmp_path / "b"), 4, scale)
    assert a[2] == b[2]
    assert common.sha256_files([a[0], *a[1]]) == common.sha256_files([b[0], *b[1]])
    gates = w_corpus.gate_counts([t for d, t in a[2].items() if d < gen_corpus.BATCH_ID_BASE])
    # every gate ahead of near-dedup removes rows
    assert gates["input"] > gates["length"] > gates["repetition"] > gates["exact_dedup"]


class _FakeTracer(Tracer):
    def gc_seconds(self):
        return 0.0

    def jvm_peak_rss_mb(self):
        return 1.0


def test_printed_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    layers = run.per_layer(_FakeTracer(enabled=True), {"timed_wall_s": 1.0}, 1.0, 0.0)
    assert {k: u for k, (_, u) in layers.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]
    }
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_benchmark_json_follows_its_limits():
    spec = _spec()
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [m["name"] for k in ("end_to_end", "per_layer", "workloads") for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(name_re.match(n) for n in names)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    assert 1 <= spec["run_seconds"] <= 60

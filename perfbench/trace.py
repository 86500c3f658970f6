"""Outside-in tracing for the benchmark's traced pass.

Spans are recorded from the benchmark's own code, around calls into
the engine's public functions; the engine itself is not modified.
Counts come from four places:

- a wrapper on the py4j gateway client's ``send_command`` (driver to
  JVM round trips);
- the JVM status store, keyed by the job group the benchmark sets per
  operation (jobs, per-stage executor run time, shuffle, spill and
  output bytes);
- ``queryExecution().tracker().phases()`` of a DataFrame (Catalyst
  analysis, optimization and planning time);
- the JVM's garbage-collector MXBeans and the JVM process's peak RSS.

With tracing off every hook is a no-op, so the timed runs pay nothing.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    py4j_start: int = 0
    py4j_end: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def py4j(self) -> int:
        return self.py4j_end - self.py4j_start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children run on the same thread as their parent, so they do not
    overlap one another; clipping to the parent guards against a child
    recorded past its parent's end.
    """
    covered = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            covered[s.parent] += max(0.0, min(s.end, p.end) - max(s.start, p.start))
    return [s.duration - c for s, c in zip(spans, covered)]


@dataclass
class Tracer:
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    py4j_calls: int = 0
    _stack: list[int] = field(default_factory=list)
    _op: str | None = None
    _spark: object = None
    _probing: bool = False

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Record a span; with ``jobs`` also count the Spark jobs the
        current op's job group gained inside it (as ``<name>.jobs``)."""
        if not self.enabled:
            yield
            return
        jobs = jobs and self._op is not None
        jobs_before = len(self.jobs(self._op)) if jobs else 0
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, op=self._op,
                 py4j_start=self.py4j_calls)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            s.py4j_end = self.py4j_calls
            self._stack.pop()
            if jobs:
                self.add(f"{name}.jobs", len(self.jobs(self._op)) - jobs_before)

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one benchmark operation; tags its Spark jobs
        with the job group ``op_id``."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        with self._probe():
            self._spark.sparkContext.setJobGroup(op_id, name)
        try:
            with self.span(name):
                yield
        finally:
            with self._probe():
                self._spark.sparkContext._jsc.clearJobGroup()
            self._op = None

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    # -- hooks ------------------------------------------------------------
    def attach(self, spark) -> None:
        """Count py4j round trips from now on."""
        self._spark = spark
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(command, *args, **kwargs):
            # "m" commands release Python-collected JVM references; they
            # come from py4j's finalizer thread whenever Python's GC runs,
            # so counting them would make the counts non-repeatable
            if not self._probing and not command.startswith("m\n"):
                self.py4j_calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counting_send

    def wrap(self, owner, attr: str, name: str | None = None, jobs: bool = False) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a spanned wrapper, and every engine module's alias of it
        too, since engine modules import functions by name."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        label = name or f"{owner.__name__.replace('autosinapi_spark.', '')}.{attr}"

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(label, jobs=jobs):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("autosinapi_spark"):
                for k, v in list(vars(mod).items()):
                    if v is fn:
                        setattr(mod, k, spanned)

    # -- JVM probes -------------------------------------------------------
    @contextmanager
    def _probe(self):
        """Round trips made by the tracer itself are not counted."""
        was, self._probing = self._probing, True
        try:
            yield
        finally:
            self._probing = was

    def _settle(self) -> None:
        """Let the listener bus deliver pending job events, so the status
        store has seen every job already submitted."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, op_id: str) -> list[int]:
        with self._probe():
            self._settle()
            return list(self._spark.sparkContext.statusTracker().getJobIdsForGroup(op_id))

    def latest_job_id(self) -> int:
        """Id of the newest job the status store holds (-1 if none)."""
        with self._probe():
            self._settle()
            jobs = self._spark.sparkContext._jsc.sc().statusStore().jobsList(None)
            return jobs.apply(0).jobId() if jobs.size() else -1

    def stage_totals(self, op_id: str) -> dict[str, float]:
        """Sum of per-stage metrics over the jobs of one op."""
        sc = self._spark.sparkContext
        tot = defaultdict(float)
        stage_ids = set()
        job_ids = self.jobs(op_id)
        with self._probe():
            store = sc._jsc.sc().statusStore()
            quantiles = sc._gateway.new_array(sc._jvm.double, 0)
            for jid in job_ids:
                info = sc.statusTracker().getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                attempts = store.stageData(sid, False, None, False, quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    tot["executor_run_s"] += sd.executorRunTime() / 1000.0
                    tot["shuffle_bytes"] += sd.shuffleWriteBytes()
                    tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    tot["output_bytes"] += sd.outputBytes()
        tot["stages"] = len(stage_ids)
        return tot

    def gc_seconds(self) -> float:
        jvm = self._spark.sparkContext._jvm
        with self._probe():
            beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
            return sum(b.getCollectionTime() for b in beans) / 1000.0

    def jvm_peak_rss_mb(self) -> float:
        with self._probe():
            pid = self._spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def planning_ms(df) -> float:
    """Catalyst phase time recorded on a DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def layer_table(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: calls, inclusive seconds, self seconds, py4j calls."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s, st in zip(spans, selfs):
        row = out[s.name]
        row["calls"] += 1
        row["s"] += s.duration
        row["self_s"] += st
        row["py4j"] += s.py4j
    return {k: dict(v) for k, v in out.items()}


def dump(spans: list[Span], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for i, s in enumerate(spans):
            fh.write(json.dumps({
                "id": i, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "op": s.op, "py4j": s.py4j,
            }) + "\n")

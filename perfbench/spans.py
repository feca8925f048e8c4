"""Outside-in tracer: spans around the engine's public functions, recorded
from the benchmark's own code with no edit to the package.

``Tracer.wrap`` rebinds a module attribute to a timing wrapper, and also
every alias of the same function object held by already-imported modules
of the package (``pipeline`` binds ``write_warehouse`` at import time;
``run_nightly`` imports its legs inside the function body, which reads the
rebound module attribute). Each span sets a Spark job group naming it, so
the jobs it fires are attributed from the status store afterwards. Spans
stay in memory; ``dump`` writes them out at the end.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PACKAGE = "gcp_serverless_etl_pipeline_lab_spark"
GROUP_PREFIX = "perfbench-span-"
COUNTERS = (
    "self_ms", "driver_ms", "jobs", "stages", "executor_cpu_ms",
    "shuffle_write_bytes", "input_bytes", "output_bytes", "spill_bytes",
)


@dataclass
class Job:
    job_id: int
    start_ms: float
    end_ms: float
    stages: int = 0
    executor_cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start_ms: float  # wall clock, epoch ms, comparable with job times
    end_ms: float = 0.0
    jobs: list[Job] = field(default_factory=list)


def _covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def span_counters(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Per span: its self time (duration minus what its children cover),
    the part of that self time no Spark job of its own covers, and the
    job/stage counters of the jobs it fired directly."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        kids = [(c.start_ms, c.end_ms) for c in children.get(s.span_id, [])]
        child_ms = _covered(s.start_ms, s.end_ms, kids)
        busy = kids + [(j.start_ms, j.end_ms) for j in s.jobs]
        out[s.span_id] = {
            "self_ms": s.end_ms - s.start_ms - child_ms,
            "driver_ms": s.end_ms - s.start_ms - _covered(s.start_ms, s.end_ms, busy),
            "jobs": len(s.jobs),
            "stages": sum(j.stages for j in s.jobs),
            "executor_cpu_ms": sum(j.executor_cpu_ms for j in s.jobs),
            "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in s.jobs),
            "input_bytes": sum(j.input_bytes for j in s.jobs),
            "output_bytes": sum(j.output_bytes for j in s.jobs),
            "spill_bytes": sum(j.spill_bytes for j in s.jobs),
        }
    return out


class Tracer:
    """Span recorder bound to one SparkContext (single-threaded caller)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._seen_jobs: set[int] = set()

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.span_id}", span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, parent.span_id if parent else None, name,
                 time.time() * 1000.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        """Rebind ``module.attr`` and every package-module alias of it."""
        original = getattr(module, attr)
        span_name = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, key, original))
                    setattr(mod, key, traced)

    def restore(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()

    def attribute_jobs(self) -> None:
        """Read finished jobs from the status store and hang each on the
        span whose job group it ran under. Call outside timed regions,
        after each op, so the store's retention limit never drops a job."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        by_id = {s.span_id: s for s in self.spans}
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        jobs = store.jobsList(None)  # a Scala Seq
        for n in range(jobs.size()):
            jd = jobs.apply(n)
            job_id = jd.jobId()
            if job_id in self._seen_jobs or not jd.completionTime().isDefined():
                continue
            self._seen_jobs.add(job_id)
            group = jd.jobGroup()
            if not group.isDefined() or not group.get().startswith(GROUP_PREFIX):
                continue
            span = by_id.get(int(group.get()[len(GROUP_PREFIX):]))
            if span is None:
                continue
            start = jd.submissionTime()
            job = Job(
                job_id,
                float(start.get().getTime()) if start.isDefined() else span.start_ms,
                float(jd.completionTime().get().getTime()),
            )
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(stage_ids.apply(i), False, no_status, False, no_quantiles)
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    job.stages += 1
                    job.executor_cpu_ms += sd.executorCpuTime() / 1e6
                    job.shuffle_write_bytes += sd.shuffleWriteBytes()
                    job.input_bytes += sd.inputBytes()
                    job.output_bytes += sd.outputBytes()
                    job.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            span.jobs.append(job)

    def totals(self) -> dict[str, dict[str, float]]:
        """Counters summed per span name."""
        out: dict[str, dict[str, float]] = {}
        counters = span_counters(self.spans)
        for s in self.spans:
            acc = out.setdefault(s.name, dict.fromkeys(COUNTERS, 0.0))
            for k, v in counters[s.span_id].items():
                acc[k] += v
        return out

    def dump(self) -> list[dict]:
        counters = span_counters(self.spans)
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["jobs"] = [j.job_id for j in s.jobs]
            row.update({k: round(v, 3) for k, v in counters[s.span_id].items() if k != "jobs"})
            row["n_jobs"] = len(s.jobs)
            rows.append(row)
        return rows

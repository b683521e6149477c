"""Layer spans and Spark counters for the traced run.

A :class:`Tracer` records one span per call into an engine layer: name,
layer, start, end, parent span and op id. Each span runs its calls under a
job group of its own, so every Spark job is attributed to the innermost
span that launched it, including jobs that run while a plan is being
built. After each op the jobs are read back from Spark's status store
(the store ``rentals_data_pipeline_spark.metrics`` reads) and become child
spans of layer ``exec``; Catalyst phase times become child spans of layer
``catalyst``. A span's self time is its duration minus the part of it its
children cover, so the self times of one op add up to the op's wall time.

Spans stay in memory; :meth:`Tracer.dump` writes them as JSONL at the end.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: int
    op: int
    layer: str
    name: str
    start: float  # epoch seconds, the clock Spark stamps its jobs with
    end: float = 0.0
    parent: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children, clipped to it."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = max(0.0, s.duration - union_length(covered))
    return out


# Layers whose spans wrap one call into an engine function; their ``s``
# metric is the calls' inclusive wall time, as a caller of the function
# sees it.
CALL_LAYERS = ("sources.tables", "sources.csv", "sources.sink", "operators.quality")
_STAGE_SUMS = (
    "tasks", "run_s", "cpu_s", "gc_s", "fetch_wait_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_records",
)


def op_counters(spans: list[Span]) -> dict[str, float]:
    """Per-layer sums over the spans of one op.

    ``<layer>.jobs`` counts the jobs launched directly under that layer's
    spans, so ``plans.build_jobs`` counts only the jobs plan code runs
    itself (eager materialization), not the footer reads of the tables it
    loads. Stages shared by several jobs of the op are counted once.
    ``self_s`` is the sum of every span's self time, which equals the
    op's traced wall time.
    """
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    stages: dict[int, dict] = {}
    for s in spans:
        if s.layer == "exec":
            owner = by_id[s.parent].layer
            job_stages = s.counters["stages"]
            out["exec.jobs"] += 1
            out["exec.skipped_stages"] += s.counters["skipped_stages"]
            out[f"{owner}.jobs"] += 1
            out[f"{owner}.tasks"] += sum(st["tasks"] for st in job_stages.values())
            out[f"{owner}.input_records"] += sum(
                st["input_records"] for st in job_stages.values()
            )
            stages.update(job_stages)
        elif s.layer == "catalyst":
            out[f"catalyst.{s.name}_s"] += s.duration
        elif s.layer in CALL_LAYERS:
            out[f"{s.layer}.s"] += s.duration
            out[f"{s.layer}.calls"] += 1
        elif s.layer in ("plans", "collect"):
            out[f"{s.layer}.self_s"] += selfs[s.id]
    out["exec.stages"] = len(stages)
    for key in _STAGE_SUMS:
        out[f"exec.{key}"] = sum(st[key] for st in stages.values())
    out["self_s"] = sum(selfs.values())
    return dict(out)


class Tracer:
    """Span recorder bound to one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self.op = 0

    def _group(self, span_id: int) -> str:
        return f"perfbench-{id(self)}-{span_id}"

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=self._next_id,
            op=self.op,
            layer=layer,
            name=name,
            start=0.0,
            parent=parent.id if parent else None,
        )
        self._next_id += 1
        prev = (
            self._sc.getLocalProperty(_GROUP_KEY),
            self._sc.getLocalProperty(_DESC_KEY),
        )
        self._sc.setJobGroup(self._group(s.id), f"{layer}:{name}", False)
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(_GROUP_KEY, prev[0])
            self._sc.setLocalProperty(_DESC_KEY, prev[1])
            self.spans.append(s)

    def add_child(self, parent: Span, layer: str, name: str, start: float,
                  end: float, counters: dict | None = None) -> Span:
        s = Span(
            id=self._next_id,
            op=parent.op,
            layer=layer,
            name=name,
            start=start,
            end=end,
            parent=parent.id,
            counters=counters or {},
        )
        self._next_id += 1
        self.spans.append(s)
        return s

    def add_catalyst_phases(self, df, where: list[Span]) -> None:
        """Phase times of ``df``'s query execution as ``catalyst`` spans,
        each under the span in ``where`` whose interval holds its start."""
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            start = summary.startTimeMs() / 1000.0
            end = summary.endTimeMs() / 1000.0
            owner = next(
                (w for w in where if w.start <= start <= w.end), where[-1]
            )
            self.add_child(owner, "catalyst", kv._1(), start, max(start, end))

    def collect_jobs(self, op_spans: list[Span]) -> None:
        """Read every job launched under ``op_spans`` from the status store
        and record it as an ``exec`` child span carrying its stage counters.

        Call after the op has returned. The store keeps the last 1000
        stages, so this runs after every op, not once per run.
        """
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for owner in op_spans:
            for job_id in tracker.getJobIdsForGroup(self._group(owner.id)):
                job = self._store.job(job_id)
                if not (job.submissionTime().isDefined()
                        and job.completionTime().isDefined()):
                    continue
                counters = {"skipped_stages": job.numSkippedStages(),
                            "stages": {}}
                ids = job.stageIds()
                for k in range(ids.size()):
                    sid = ids.apply(k)
                    try:
                        st = self._store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a stage that was never submitted
                        continue
                    if st.status().toString() != "COMPLETE":
                        continue
                    counters["stages"][sid] = {
                        "tasks": st.numCompleteTasks(),
                        "run_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "gc_s": st.jvmGcTime() / 1e3,
                        "fetch_wait_s": st.shuffleFetchWaitTime() / 1e3,
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "shuffle_read_bytes": st.shuffleReadBytes(),
                        "spill_bytes": st.diskBytesSpilled(),
                        "input_records": st.inputRecords(),
                    }
                self.add_child(
                    owner,
                    "exec",
                    f"job{job_id}",
                    job.submissionTime().get().getTime() / 1000.0,
                    job.completionTime().get().getTime() / 1000.0,
                    counters,
                )

    def new_rdds(self, min_rdd_id: int) -> tuple[int, int]:
        """(count, bytes) of stored RDDs with id >= ``min_rdd_id``."""
        n = size = 0
        for info in self._jsc.getRDDStorageInfo():
            if info.id() >= min_rdd_id:
                n += 1
                size += info.memSize() + info.diskSize()
        return n, size

    def next_rdd_id(self) -> int:
        return self._sc.emptyRDD().id() + 1

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

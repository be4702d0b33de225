"""Pure-Python arithmetic of the benchmark: tail percentiles, span self
times, status-store record parsing and ALS iteration boundaries.

Nothing here touches Spark; ``worker.py`` turns the live status store into
the plain dicts these functions take, so the same code runs on a recorded
fixture in ``perfbench/tests``.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

#: the fields read from each status-store StageData (v1 API names)
STAGE_FIELDS = (
    "stageId",
    "status",
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(samples: list[float], min_beyond: int = 10) -> tuple[int, float]:
    """The highest whole percentile with at least ``min_beyond`` samples
    strictly beyond it, and its value (nearest rank).

    Below ``2 * min_beyond`` samples that percentile would sit under the
    median, so the maximum is returned as percentile 100 instead: the
    metric still exists and still tracks the slowest operation.
    """
    n = len(samples)
    ordered = sorted(samples)
    if n < 2 * min_beyond:
        return 100, (ordered[-1] if ordered else 0.0)
    pct = math.floor(100 * (n - min_beyond) / n)
    while n - math.ceil(pct * n / 100) < min_beyond:
        pct -= 1
    return pct, ordered[math.ceil(pct * n / 100) - 1]


@dataclass
class Span:
    name: str
    start: float
    end: float
    kind: str = ""
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return max(0.0, self.end - self.start)


class SpanRecorder:
    """In-memory span tree; ``open``/``close`` nest, ``add`` attaches a
    finished span (e.g. a Spark job read back from the status store)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, kind: str, start: float, **attrs) -> int:
        self.spans.append(Span(name, start, start, kind, self.current(), attrs))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int, end: float, **attrs) -> None:
        assert self._stack and self._stack[-1] == idx, "spans close in LIFO order"
        self._stack.pop()
        self.spans[idx].end = end
        self.spans[idx].attrs.update(attrs)

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, kind: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(Span(name, start, end, kind, parent, attrs))
        return len(self.spans) - 1

    def to_json(self) -> list[dict]:
        return [
            {
                "id": i, "name": s.name, "kind": s.kind, "parent": s.parent,
                "start": round(s.start, 6), "end": round(s.end, 6), "attrs": s.attrs,
            }
            for i, s in enumerate(self.spans)
        ]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the durations of its direct children,
    floored at 0 (children may overlap their parent's edges by clock skew
    between the driver and the JVM)."""
    child_sum = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_sum[s.parent] += s.seconds
    return [max(0.0, s.seconds - c) for s, c in zip(spans, child_sum)]


def self_time_by_kind(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.kind] = out.get(s.kind, 0.0) + t
    return out


def summarize_stages(stages: list[dict]) -> dict[str, float]:
    """Sum stage records into layer figures.  Skipped stages (shuffle
    output reused) ran no tasks and are not counted as stages."""
    ran = [s for s in stages if s.get("status") != "SKIPPED"]
    return {
        "stages": len(ran),
        "tasks": sum(int(s.get("numTasks", 0)) for s in ran),
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in ran) / 1e3,
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in ran) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in ran) / 1e3,
        "input_bytes": sum(s.get("inputBytes", 0) for s in ran),
        "shuffle_bytes": sum(s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0) for s in ran),
        "spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in ran),
    }


def jobs_in_group(jobs: list[dict], group: str) -> list[dict]:
    return sorted((j for j in jobs if j.get("jobGroup") == group), key=lambda j: j["jobId"])


def stages_of(jobs: list[dict], stages: dict[int, dict]) -> list[dict]:
    """Distinct stages of ``jobs`` (a stage shared by two jobs counts once)."""
    seen: dict[int, dict] = {}
    for j in jobs:
        for sid in j.get("stageIds", []):
            if sid in stages:
                seen[sid] = stages[sid]
    return list(seen.values())


def iteration_blocks(jobs: list[dict], n_iter: int) -> list[list[dict]]:
    """Split a fit's jobs into its ``n_iter`` ALS iterations.

    Every iteration issues the same sequence of jobs (same call sites), so
    the loop is the longest tail-anchored run of ``n_iter`` equal blocks
    once any trailing epilogue jobs are dropped.  Returns [] when no such
    period exists, so a loop whose shape changes is reported, not guessed.
    """
    names = [j.get("name", "") for j in jobs]
    best: list[list[dict]] = []
    for tail in range(0, len(jobs)):
        body = names[: len(names) - tail]
        for period in range(1, len(body) // n_iter + 1):
            start = len(body) - period * n_iter
            block = body[start : start + period]
            if all(body[start + k * period : start + (k + 1) * period] == block for k in range(n_iter)):
                cand = [jobs[start + k * period : start + (k + 1) * period] for k in range(n_iter)]
                if not best or period > len(best[0]):
                    best = cand
        if best:
            return best
    return best


def iteration_seconds(blocks: list[list[dict]], fit_end_ms: float) -> list[float]:
    """Seconds per iteration: from the submission of an iteration's first
    job to the submission of the next one's (the last iteration ends at the
    completion of its last job), so driver solve and broadcast time between
    jobs belongs to the iteration that paid it."""
    starts = [b[0]["submissionTime"] for b in blocks]
    ends = starts[1:] + [max(b["completionTime"] for b in blocks[-1])] if blocks else []
    if blocks and fit_end_ms and fit_end_ms < ends[-1]:
        ends[-1] = fit_end_ms
    return [(e - s) / 1e3 for s, e in zip(starts, ends)]


def job_seconds(jobs: list[dict]) -> float:
    return sum(max(0, j["completionTime"] - j["submissionTime"]) for j in jobs) / 1e3

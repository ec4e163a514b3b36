"""Per-op layer ledger for traced runs.

Each op runs under its own Spark job group. After the op, the ledger walks
Spark's status store from outside the program
(``sc._jsc.sc().statusStore()``: ``jobsList`` then ``lastStageAttempt``
per stage id; ``stageList`` raises with the UI disabled, so it is not used)
and reads each job's submit and finish time and each stage's executor CPU
time, shuffle write and spill.

Times: ``build_s`` is the construction call (eager driver work, including
any jobs it runs), ``exec_s`` the action. ``job_gap_s`` is the part of the
op's wall time that no job of the op covers, over build and action both
(an eager build such as ``q_pagerank``'s loop runs its jobs while it
builds). The ledger closes: ``build_s + exec_s`` (process clock) and
``in_job_s + job_gap_s`` (wall clock, job times from the JVM) each equal the
op's wall time.

Spans (name, start, end, parent) are kept in memory and written once, at
the end of the run.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass, field
from pathlib import Path

MB = 1e6


@dataclass
class Op:
    """One timed unit: ``build()`` then ``action(result)``."""

    name: str
    layer: str
    build: Callable[[], object]
    action: Callable[[object], None]


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def nothing(_) -> None:
    """The action of an op whose build is eager and returns no DataFrame."""


@dataclass
class OpRecord:
    name: str
    layer: str
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    # filled by a traced run only
    jobs: int = 0
    in_job_s: float = 0.0
    job_gap_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    window: tuple[float, float] = (0.0, 0.0)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def run_op(name: str, layer: str, build: Callable[[], object],
           action: Callable[[object], None]) -> OpRecord:
    """Time one op untraced: ``build()`` then ``action(result)``."""
    rec = OpRecord(name, layer)
    t0 = time.perf_counter()
    try:
        built = build()
        t1 = time.perf_counter()
        rec.build_s = t1 - t0
        action(built)
        rec.exec_s = time.perf_counter() - t1
    except Exception as e:  # an op that raises is counted, not fatal
        rec.error = f"{type(e).__name__}: {e}"
        rec.build_s = rec.build_s or time.perf_counter() - t0
    return rec


class Tracer:
    """Job-group tagging, status-store walks and in-memory spans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.spans: list[dict] = []
        self._seq = 0
        self._last_job = -1
        self.walk_s = 0.0

    def span(self, name: str, start: float, end: float, parent: int | None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent}
        )
        return len(self.spans) - 1

    def run_op(self, name: str, layer: str, build: Callable[[], object],
               action: Callable[[object], None], parent: int | None) -> OpRecord:
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        self.sc.setJobGroup(group, name, False)
        w0 = time.time()
        rec = run_op(name, layer, build, action)
        w1 = time.time()
        rec.window = (w0, w1)
        op_span = self.span(name, w0, w1, parent)
        self.span("build", w0, w0 + rec.build_s, op_span)
        self.span("exec", w0 + rec.build_s, w1, op_span)
        t = time.perf_counter()
        self._collect(group, rec, op_span)
        self.walk_s += time.perf_counter() - t
        return rec

    def _collect(self, group: str, rec: OpRecord, op_span: int) -> None:
        newest = self._last_job
        stage_ids: set[int] = set()
        # jobsList is newest-first: stop at the first job an earlier walk saw
        for job in self.conv.asJava(self.store.jobsList(None)):
            job_id = job.jobId()
            if job_id <= self._last_job:
                break
            newest = max(newest, job_id)
            grp = job.jobGroup()
            if not grp.isDefined() or grp.get() != group:
                continue
            start = job.submissionTime().get().getTime() / 1000.0
            done = job.completionTime()
            end = done.get().getTime() / 1000.0 if done.isDefined() else rec.window[1]
            rec.jobs += 1
            rec.job_intervals.append((start, end))
            self.span(f"job {job_id}", start, end, op_span)
            stage_ids.update(self.conv.asJava(job.stageIds()))
        self._last_job = newest
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            rec.executor_cpu_s += st.executorCpuTime() / 1e9
            rec.shuffle_write_mb += st.shuffleWriteBytes() / MB
            rec.spill_mb += st.diskBytesSpilled() / MB
        lo, hi = rec.window
        rec.in_job_s = covered(rec.job_intervals, lo, hi)
        rec.job_gap_s = max(0.0, hi - lo - rec.in_job_s)

    def write(self, path: Path, records: list[OpRecord]) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        ops = [
            {k: v for k, v in asdict(r).items() if k != "job_intervals"}
            for r in records
        ]
        path.write_text(json.dumps({"spans": self.spans, "ops": ops}, indent=1))

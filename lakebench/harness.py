"""Measurement machinery shared by the workloads.

- :class:`Tracer` keeps spans (name, start, end, parent, operation id)
  in memory; a disabled tracer records nothing.
- :func:`run_loop` is the closed-loop client: one caller issues an
  operation, waits for it, checks its answer outside the timed region and
  moves on, until ``seconds`` of operation time have been measured.
- :func:`rows_digest` is the sorted-rows hash every answer is checked by.
- :class:`SparkProbe` reads job, stage and task counts from Spark's
  status tracker (one job group per operation) and shuffle, spill and
  input bytes plus job intervals from Spark's event log.

Only the standard library, so the self-tests need no Spark.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime as dt
import decimal
import glob
import hashlib
import itertools
import json
import math
import os
import statistics
import time
import traceback
from collections.abc import Callable, Iterable, Iterator

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclasses.dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float
    parent: int | None
    op: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written once, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.time(), parent, self.op))

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span measured elsewhere (a Spark job's interval)."""
        self.spans.append(Span(next(self._ids), name, start, end, parent, self.op))


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> dict[str, list[float]]:
    """Per span name, each span's duration minus the part of its
    interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, list[float]] = {}
    for s in spans:
        busy = covered(children.get(s.id, []), s.start, s.end)
        out.setdefault(s.name, []).append(max(0.0, s.duration - busy))
    return out


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, n) for the highest percentile that leaves at
    least ``beyond`` samples above it (nearest rank). With n <= beyond
    samples no such percentile exists and the median stands in."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    xs = sorted(samples)
    if n <= beyond:
        return statistics.median(xs), 50.0, n
    rank = n - beyond  # 1-based: exactly `beyond` samples sit above it
    return xs[rank - 1], 100.0 * rank / n, n


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# answers
# ---------------------------------------------------------------------------


def _canon(v):
    t = type(v)
    if t is str or v is None:
        return v
    if t is float:
        return None if v != v else round(v, 9) + 0.0
    if t is int:
        return float(v)
    if t is bool:
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return _canon(float(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def rows_digest(columns: list[str], rows: Iterable[Iterable]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, values
    canonicalized (numbers to 9 decimals, times to ISO text), rows
    sorted. Equal digests mean equal answers."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    h.update("\n".join(lines).encode())
    return h.hexdigest()


def duck_digest(con, sql: str) -> str:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return rows_digest(cols, cur.fetchall())


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


@dataclasses.dataclass
class Op:
    kind: str  # operation type, e.g. "sql:q1_pricing_summary"
    run: Callable[[], object]  # the timed call; must materialize its output
    check: Callable[[object], None] | None = None  # untimed; raises on a wrong answer
    before: Callable[[], None] | None = None  # untimed preparation


@dataclasses.dataclass
class Sample:
    position: int
    kind: str
    latency: float
    ok: bool


@dataclasses.dataclass
class LoopResult:
    samples: list[Sample]
    failures: list[str]
    timed_s: float
    checks: int = 0
    check_failures: int = 0

    @property
    def attempted(self) -> int:
        return len(self.samples) + self.checks

    @property
    def failed(self) -> int:
        return sum(not s.ok for s in self.samples) + self.check_failures

    @property
    def completed(self) -> int:
        return sum(s.ok for s in self.samples)

    def add_check(self, name: str, error: str | None) -> None:
        """Count an end-of-run verification as one more attempt."""
        self.checks += 1
        if error:
            self.check_failures += 1
            self.failures.append(f"{name}: {error}")

    def latencies(self) -> list[float]:
        return [s.latency for s in self.samples if s.ok]


def execute(op: Op, tracer: Tracer, probe: "SparkProbe | None", op_id: int):
    """Run one operation inside its job group and root span; returns
    (latency, ok, error text). A raising call or a wrong answer is a
    failure; both are reported, neither stops the run."""
    if op.before is not None:
        op.before()
    tracer.op = op_id
    if probe is not None:
        probe.begin(op_id, op.kind)
    t0 = time.perf_counter()
    try:
        with tracer.span("op:" + op.kind):
            out = op.run()
    except Exception:  # a failing operation is a result, not a crash
        return time.perf_counter() - t0, False, traceback.format_exc(limit=3)
    finally:
        latency = time.perf_counter() - t0
        tracer.op = None
        if probe is not None:
            probe.end(op_id)
    if op.check is not None:
        try:
            op.check(out)
        except Exception as e:  # wrong answer: counted, reported, run goes on
            return latency, False, f"wrong answer: {e}"
    return latency, True, ""


def run_loop(
    rounds: Iterator[list[Op]],
    seconds: float,
    tracer: Tracer,
    probe: "SparkProbe | None" = None,
) -> LoopResult:
    """One client, closed loop: issue, wait, check, repeat. ``rounds``
    yields lists of operations; the loop runs whole rounds until at least
    ``seconds`` of operation time has been measured, so every run issues
    the same mix."""
    samples: list[Sample] = []
    failures: list[str] = []
    timed = 0.0
    for round_ in rounds:
        for op in round_:
            pos = len(samples)
            latency, ok, err = execute(op, tracer, probe, pos)
            timed += latency
            samples.append(Sample(pos, op.kind, latency, ok))
            if not ok:
                failures.append(f"#{pos} {op.kind}: {err.strip().splitlines()[-1]}")
        if timed >= seconds:
            break
    return LoopResult(samples, failures, timed)


def drift(samples: list[Sample], buckets: int = 4) -> dict[str, list[float]]:
    """Per operation type, median latency in each quarter of the run by
    loop position, so growth within a run shows."""
    by_kind: dict[str, list[Sample]] = {}
    for s in samples:
        by_kind.setdefault(s.kind, []).append(s)
    out = {}
    last = max((s.position for s in samples), default=0) + 1
    for kind, ss in sorted(by_kind.items()):
        parts = [[] for _ in range(buckets)]
        for s in ss:
            parts[min(buckets - 1, s.position * buckets // last)].append(s.latency)
        out[kind] = [round(median(p), 4) if p else None for p in parts]
    return out


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# Spark jobs: status tracker + event log
# ---------------------------------------------------------------------------


class SparkProbe:
    """Per-operation Spark counters for the traced run.

    ``begin``/``end`` bracket an operation in its own job group; ``end``
    reads the group's jobs, stages and tasks from the status tracker.
    Bytes and job intervals come from the event log, parsed once after
    the session stops (:meth:`read_event_log`)."""

    def __init__(self, spark, event_dir: str):
        self.sc = spark.sparkContext
        self.event_dir = event_dir
        self.counts: dict[int, dict[str, int]] = {}

    def begin(self, op_id: int, kind: str) -> None:
        self.sc.setJobGroup(f"op-{op_id}", kind)

    def end(self, op_id: int) -> None:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"op-{op_id}")
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                si = st.getStageInfo(sid)
                if si is not None and si.numTasks:
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        self.counts[op_id] = {
            "jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed,
        }
        self.sc.setJobGroup("", "")

    def read_event_log(self) -> dict[int, dict]:
        """{op id: {"jobs": [(start s, end s)], bytes counters}} from the
        event log the session wrote (call after ``spark.stop()``)."""
        logs = sorted(glob.glob(os.path.join(self.event_dir, "*")))
        if not logs:
            raise RuntimeError(f"no event log under {self.event_dir}")
        job_group: dict[int, int] = {}
        job_time: dict[int, list[float]] = {}
        stage_job: dict[int, int] = {}
        stage_bytes: dict[int, dict[str, int]] = {}
        with open(logs[-1]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if not group.startswith("op-"):
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = int(group[3:])
                    job_time[jid] = [ev["Submission Time"] / 1e3, math.inf]
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_time:
                    job_time[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    b = stage_bytes.setdefault(ev["Stage ID"], {
                        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                        "spill_bytes": 0, "input_bytes": 0,
                    })
                    sr = m.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    b["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        per_op: dict[int, dict] = {}
        for jid, op in job_group.items():
            per_op.setdefault(op, {
                "jobs": [], "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "spill_bytes": 0, "input_bytes": 0,
            })["jobs"].append(tuple(job_time[jid]))
        for sid, b in stage_bytes.items():
            jid = stage_job.get(sid)
            if jid in job_group:
                rec = per_op[job_group[jid]]
                for k, v in b.items():
                    rec[k] += v
        return per_op

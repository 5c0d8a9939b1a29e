"""Per-run state shared by the workloads: the Spark session, the tracer,
set-up timing, the closed loop, and the metrics computed from them."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import datagen
from harness import (
    LoopResult,
    SparkProbe,
    Tracer,
    covered,
    dir_bytes,
    drift,
    execute,
    mean,
    median,
    run_loop,
    self_times,
    tail,
    vm_hwm_kb,
)

# (name, unit) of every per-layer metric, in BENCHMARK.json's order.
# Time metrics ending in "_s" whose stem names a span are the median
# duration of that span; the rest are filled by the workloads or below.
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("tables.load_s", "s"),
    ("catalog.load_table_s", "s"),
    ("catalog.create_table_s", "s"),
    ("sql.plan_s", "s"),
    ("sql.dml_s", "s"),
    ("workload.build_s", "s"),
    ("lakehouse.append_s", "s"),
    ("lakehouse.delete_s", "s"),
    ("lakehouse.update_s", "s"),
    ("lakehouse.merge_s", "s"),
    ("lakehouse.read_pruned_s", "s"),
    ("lakehouse.scan_plan_s", "s"),
    ("lakehouse.commit_driver_s", "s"),
    ("lakehouse.snapshots", "count"),
    ("lakehouse.data_files", "count"),
    ("lakehouse.metadata_files", "count"),
    ("lakehouse.metadata_bytes", "bytes"),
    ("lakehouse.files_pruned_ratio", "ratio"),
    ("lakehouse.write_amp", "x"),
    ("rollup.refresh_s", "s"),
    ("rollup.refresh_jobs", "count"),
    ("maintenance.sweep_s", "s"),
    ("maintenance.files_rewritten", "count"),
    ("maintenance.bytes_rewritten", "bytes"),
    ("maintenance.files_removed", "count"),
    ("llm.exact_s", "s"),
    ("llm.minhash_s", "s"),
    ("llm.jaccard_s", "s"),
    ("llm.quality_s", "s"),
    ("llm.decontam_s", "s"),
    ("llm.lsh_candidate_pairs", "count"),
    ("llm.lsh_precision", "ratio"),
    ("spark.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("spark.driver_gap_s", "s"),
    ("trace.ops_per_s", "1/s"),
]

# spans whose wall time minus the Spark jobs inside them is driver-side
# commit work
COMMIT_SPANS = (
    "lakehouse.append", "lakehouse.delete", "lakehouse.update",
    "lakehouse.merge", "sql.dml",
)


class TimedCatalog:
    """Catalog handed to the engine in the traced run: the same catalog,
    with a span around each table load and create the engine makes."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def load_table(self, namespace, name):
        with self._tracer.span("catalog.load_table"):
            return self._inner.load_table(namespace, name)

    def create_table(self, *args, **kwargs):
        with self._tracer.span("catalog.create_table"):
            return self._inner.create_table(*args, **kwargs)

    def create_table_as(self, *args, **kwargs):
        with self._tracer.span("catalog.create_table"):
            return self._inner.create_table_as(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 scratch: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scratch = scratch
        self.tracer = Tracer(trace)
        self.spark = None
        self.probe: SparkProbe | None = None
        self.setup_parts: dict[str, float] = {}
        self.layer: dict[str, float] = {}  # per-layer values set by a workload
        self.loop_result: LoopResult | None = None
        self.peak_rss_mb = 0.0
        self.rep_times: list[float] = []
        self.rows: dict[str, int] = {}
        self.event_ops: dict[int, dict] = {}
        self._jvm = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    # --- session -------------------------------------------------------

    def generate(self, sf: float, only: list[str]) -> list[str]:
        """Generate the inputs twice from the seed (timed into set-up),
        check the two copies are byte-identical, return both dirs."""
        t0 = time.perf_counter()
        dirs = [self.path("data", f"gen{i}") for i in range(2)]
        for d in dirs:
            self.rows = datagen.generate(d, self.seed, sf, only)
        if datagen.digest(dirs[0]) != datagen.digest(dirs[1]):
            raise RuntimeError("two generations from one seed differ")
        self.setup_parts["generate"] = time.perf_counter() - t0
        return dirs

    def start_session(self, input_dir: str):
        """Start the engine's session (timed into set-up), with shuffle
        partitions sized by the engine's own rule for the input; the
        traced run turns Spark's event log on through the session
        factory."""
        from pg_lakehouse_spark import get_spark
        from pg_lakehouse_spark.session import shuffle_partitions_for

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temporary files (native libraries it unpacks,
            # perf data) inside the run's scratch root
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                f"lakebench-{self.workload}",
                shuffle_partitions=shuffle_partitions_for(dir_bytes(input_dir)),
                extra_conf=conf,
            )
        self.setup_parts["session"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm = self.spark.sparkContext._gateway.proc
        if self.trace:
            self.probe = SparkProbe(self.spark, self.path("events"))
        return self.spark

    def catalog(self, warehouse: str):
        from pg_lakehouse_spark.lakehouse import LakeCatalog

        cat = LakeCatalog(self.spark, warehouse)
        return TimedCatalog(cat, self.tracer) if self.trace else cat

    def close(self) -> None:
        """Read peak memory, stop Spark, wait for the JVM to exit, then
        read the event log of the traced run."""
        if self.spark is None:
            return
        t0 = time.perf_counter()
        self.peak_rss_mb = vm_hwm_kb("self") / 1024.0
        if self._jvm is not None and self._jvm.poll() is None:
            self.peak_rss_mb += vm_hwm_kb(self._jvm.pid) / 1024.0
        self.spark.stop()
        if self._jvm is not None:
            # the gateway JVM exits when its stdin closes
            self._jvm.stdin.close()
            try:
                self._jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._jvm.kill()
                self._jvm.wait()
        self.spark = None
        print(f"close {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        if self.probe is not None:
            self.event_ops = self.probe.read_event_log()

    # --- set-up --------------------------------------------------------

    def repeat_setup(self, fn, reps: int):
        """Run the repeatable part of set-up ``reps`` times (fresh dirs
        each time); return every state and count the median time."""
        times, states = [], []
        for i in range(reps):
            t0 = time.perf_counter()
            states.append(fn(i))
            times.append(time.perf_counter() - t0)
        self.setup_parts["data"] = median(times)
        self.rep_times = times
        return states

    def warm_up(self, ops) -> None:
        """Run each operation once, untraced and outside the loop, so
        first-execution costs (codegen, plan caches) land in set-up."""
        t0 = time.perf_counter()
        self.tracer.enabled, traced = False, self.tracer.enabled
        try:
            for op in ops:
                latency, ok, err = execute(op, self.tracer, None, -1)
                print(f"warm-up {op.kind} {latency:.2f} s" + ("" if ok else f" FAILED {err}"),
                      file=sys.stderr)
        finally:
            self.tracer.enabled = traced
        self.setup_parts["warmup"] = time.perf_counter() - t0

    def setup_s(self) -> float:
        return sum(self.setup_parts.values())

    # --- the timed loop ------------------------------------------------

    def loop(self, rounds) -> LoopResult:
        t0 = time.perf_counter()
        self.loop_result = run_loop(rounds, self.seconds, self.tracer, self.probe)
        print(f"loop wall {time.perf_counter() - t0:.2f} s, in operations "
              f"{self.loop_result.timed_s:.2f} s", file=sys.stderr)
        return self.loop_result

    def result(self, space_amp: float, inputs: str) -> dict:
        lr = self.loop_result
        lat = lr.latencies()
        tail_v, tail_pct, n = tail(lat) if lat else (0.0, 0.0, 0)
        return {
            "inputs": inputs,
            "attempted": lr.attempted,
            "failed": lr.failed,
            "failures": lr.failures,
            "tail_pct": tail_pct,
            "n": n,
            "drift": drift(lr.samples),
            "metrics": {
                "setup_s": self.setup_s(),
                "ops_per_s": lr.completed / lr.timed_s if lr.timed_s else 0.0,
                "latency_p50_s": median(lat),
                "latency_tail_s": tail_v,
                "peak_rss_mb": None,  # filled once the JVM is read, at close
                "space_amp": space_amp,
            },
            "setup_parts": dict(self.setup_parts),
            "setup_reps": list(self.rep_times),
        }

    # --- per-layer metrics (traced run) ---------------------------------

    def attach_jobs(self) -> None:
        """Add each Spark job as a span under the innermost span of its
        operation that was open when the job was submitted, so self times
        exclude Spark execution."""
        spans = list(self.tracer.spans)
        for op, ev in self.event_ops.items():
            mine = [s for s in spans if s.op == op]
            for start, end in ev.get("jobs", []):
                holders = [s for s in mine if s.start <= start <= s.end]
                parent = min(holders, key=lambda s: s.duration) if holders else None
                self.tracer.op = op
                self.tracer.add("spark.job", start, min(end, parent.end if parent else end),
                                parent.id if parent else None)
        self.tracer.op = None

    def per_layer(self, res: dict) -> dict[str, tuple[float, str]]:
        self.attach_jobs()
        spans = self.tracer.spans
        by_name: dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)
        loop_ops = {s.op for s in spans if s.name.startswith("op:")}
        jobs = {op: self.event_ops.get(op, {}).get("jobs", []) for op in loop_ops}

        def jobs_in(span) -> float:
            return covered(jobs.get(span.op, []), span.start, span.end)

        counts = self.probe.counts if self.probe else {}
        op_spans = [s for s in spans if s.name.startswith("op:")]
        refresh = [s.op for s in op_spans if s.name == "op:refresh_rollup"]
        values: dict[str, float] = {}
        for name, _unit in PER_LAYER:
            stem = name[:-2] if name.endswith("_s") else None
            if stem in by_name:
                values[name] = median([s.duration for s in by_name[stem]])
        values["lakehouse.commit_driver_s"] = median([
            s.duration - jobs_in(s) for n in COMMIT_SPANS for s in by_name.get(n, [])
        ])
        values["spark.driver_gap_s"] = median([s.duration - jobs_in(s) for s in op_spans])
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            values[f"spark.{k}"] = mean([counts.get(op, {}).get(k, 0) for op in loop_ops])
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes"):
            values[f"spark.{k}"] = mean(
                [self.event_ops.get(op, {}).get(k, 0) for op in loop_ops]
            )
        values["rollup.refresh_jobs"] = mean(
            [counts.get(op, {}).get("jobs", 0) for op in refresh]
        )
        lr = self.loop_result
        values["trace.ops_per_s"] = lr.completed / lr.timed_s
        values.update(self.layer)
        return {name: (float(values.get(name, 0.0)), unit) for name, unit in PER_LAYER}

    def write_trace(self, out_dir: str, res: dict) -> str:
        os.makedirs(out_dir, exist_ok=True)
        selfs = self_times(self.tracer.spans)
        doc = {
            "workload": self.workload,
            "seed": self.seed,
            "spans": [vars(s) for s in self.tracer.spans],
            "self_time_s": {
                name: {"calls": len(v), "total": sum(v), "median": median(v)}
                for name, v in sorted(selfs.items())
            },
            "spark_by_op": {
                str(op): {**self.probe.counts.get(op, {}),
                          **{k: v for k, v in ev.items() if k != "jobs"}}
                for op, ev in sorted(self.event_ops.items())
            } if self.probe else {},
            "per_layer": {k: v for k, (v, _u) in res["per_layer"].items()},
            "setup_parts": res["setup_parts"],
        }
        path = os.path.join(out_dir, f"{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
        return path

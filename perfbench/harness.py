"""The closed-loop harness: one client, ops run one after another on
``local[nproc]``.

A run starts the Spark session, warms it, then runs whole passes of the
workload until ``seconds`` of timed work have passed (at least one).
Only the ops themselves are timed; output checks and per-op cleanup run
outside the clock. End-to-end metrics come from an untraced run. A
traced run (``trace=True``) also turns on the Spark event log, registers
a ``StreamingQueryListener``, samples JVM GC time, and derives the
per-layer metrics from the spans the harness records around each layer
call, with Spark jobs attributed to spans by submission time.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import sys
import time
import traceback

from perfbench import tracing
from perfbench.tracing import MB, Tracer

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("records_per_s", "1/s"),
    ("cpu_s", "s"),
)
OP_METRICS = (("s", "s"), ("jobs", "count"), ("task_s", "s"), ("shuffle_mb", "MB"),
              ("driver_s", "s"))
LAYER_METRICS = (
    ("session.start_s", "s"), ("session.warm_s", "s"),
    ("sources.load_s", "s"), ("sources.scan_tasks", "count"), ("sources.input_mb", "MB"),
    ("plans.build_s", "s"), ("plans.fallback_nodes", "count"),
    ("write.analyzed_json_s", "s"), ("write.txt_s", "s"), ("write.wide_csv_s", "s"),
    ("write.output_mb", "MB"), ("report.executions", "count"),
    ("stream.batches", "count"), ("stream.addBatch_ms", "ms"), ("stream.walCommit_ms", "ms"),
    ("stream.commit_ms", "ms"), ("stream.queryPlanning_ms", "ms"),
    ("stream.state_rows", "count"), ("stream.state_mb", "MB"),
    ("python.cpu_s", "s"), ("jvm.gc_s", "s"), ("jvm.peak_rss_mb", "MB"),
    ("driver.overhead_s", "s"),
    ("trace.pass_s", "s"),
)
STREAM_PHASES = {"addBatch": "addBatch_ms", "walCommit": "walCommit_ms",
                 "commitOffsets": "commit_ms", "queryPlanning": "queryPlanning_ms"}


def per_layer_units(catalog_ops) -> dict[str, str]:
    """Every per-layer metric name and its unit, for the given catalog ops."""
    units = dict(LAYER_METRICS)
    for op in catalog_ops:
        units.update({f"op.{op}.{m}": u for m, u in OP_METRICS})
    return units


class Harness:
    def __init__(self, root: str, work_dir: str, workload, seed: int, seconds: float,
                 trace: bool, catalog_ops, start: float):
        self.root = root
        self.start = start  # setup_s counts from here
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.catalog_ops = tuple(catalog_ops)
        self.out_dir = os.path.join(root, "perfbench", "out")
        self.work_dir = work_dir  # scratch, removed by the caller
        self.tracer = Tracer()
        self.spark = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.output_bytes = 0
        self.timed_s = 0.0
        self.pass_timed: list[float] = []
        self.pass_cpu: list[float] = []
        self._cpu = 0.0
        self.python_cpu = 0.0
        self.gc_s = 0.0
        self.progress: list[dict] = []  # streaming progress events (traced)
        self.op_report: dict[str, dict] = {}  # per-op trace summary (traced)

    # ---- spans the workloads open -------------------------------------

    def layer(self, name: str):
        return self.tracer.span(name, "layer")

    def op(self, name: str, fn, check=None, cleanup=None) -> None:
        """Run one op: ``fn`` timed, ``check(result)`` (a list of error
        strings) untimed, ``cleanup`` in ``finally`` either way."""
        self.attempted += 1
        errors: list[str] = []
        try:
            before = self._counters()
            with self.tracer.span(name, "op") as span:
                try:
                    result = fn()
                except Exception as e:  # noqa: BLE001 — a raising op is a failed op
                    traceback.print_exc(file=sys.stderr)
                    errors.append(f"{name} raised {type(e).__name__}: {e}")
            after = self._counters()
            self.timed_s += span.duration
            self._cpu += after[0] - before[0]
            self.python_cpu += after[1] - before[1]
            self.gc_s += after[2] - before[2]
            if not errors and check is not None:
                with self.tracer.span(name, "check"):
                    try:
                        errors += check(result)
                    except Exception as e:  # noqa: BLE001 — a check that cannot run fails the op
                        traceback.print_exc(file=sys.stderr)
                        errors.append(f"{name} check raised {type(e).__name__}: {e}")
        finally:
            if cleanup is not None:
                with self.tracer.span(name, "cleanup"):
                    cleanup()
        if errors:
            self.failed += 1
            for e in errors:
                print(f"FAILED {e}", file=sys.stderr)

    def _counters(self) -> tuple[float, float, float]:
        cpu, py_cpu = tracing.tree_cpu_s(self.jvm_pid)
        gc = 0.0
        if self.trace:
            beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
            gc = sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0
        return cpu, py_cpu, gc

    # ---- the run ------------------------------------------------------

    def run(self) -> dict:
        try:
            with self.tracer.span(self.workload.name, "workload"):
                t = time.time()
                self.workload.prepare(self)
                gen_s = time.time() - t
                self._start_session()
                setup_s = time.time() - self.start - gen_s
                k = 0
                while k == 0 or self.timed_s < self.seconds:
                    timed0, cpu0 = self.timed_s, self._cpu
                    with self.tracer.span(f"pass{k}", "pass"):
                        self.workload.run_pass(self, k)
                    self.pass_timed.append(self.timed_s - timed0)
                    self.pass_cpu.append(self._cpu - cpu0)
                    k += 1
            peak_rss = tracing.vm_hwm_mb(self.jvm_pid) + tracing.vm_hwm_mb(os.getpid())
            if self.trace:
                # every progress event reaches the listener before the bus drains
                self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        finally:
            self._stop_session()
        pass_s = statistics.median(self.pass_timed)
        if self.trace:
            metrics = dict(self._per_layer(), **{"jvm.peak_rss_mb": peak_rss})
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "records_per_s": self.workload.records / pass_s,
                "cpu_s": statistics.median(self.pass_cpu),
            }
        units = dict(END_TO_END) if not self.trace else per_layer_units(self.catalog_ops)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def _start_session(self) -> None:
        from ig_etl_with_user_reports_2024_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            self.event_dir = os.path.join(self.work_dir, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"file://{self.event_dir}",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        with self.tracer.span("session.start", "phase"):
            self.spark = get_spark("perfbench", extra_conf=conf)
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
            if self.trace:
                self.spark.streams.addListener(_progress_listener(self.progress))
        with self.tracer.span("session.warm", "phase"):
            # the Python worker pool (pandas UDFs, foreachPartition) and
            # the JIT of the basic scan/aggregate path
            self.spark.range(1000).mapInPandas(lambda it: it, "id long").write.format(
                "noop").mode("overwrite").save()
            self.spark.range(1 << 20).selectExpr("sum(id)").collect()

    def _stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:  # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait()

    # ---- traced metrics -------------------------------------------------

    def _per_layer(self) -> dict:
        spans = self.tracer.spans
        logs = glob.glob(os.path.join(self.event_dir, "*"))
        with open(logs[0]) as fh:
            jobs, execs = tracing.parse_event_log(fh)
        owned = tracing.attribute_jobs(jobs, spans)
        n = len(self.pass_timed)
        ops = self.tracer.of_kind("op")
        layers = self.tracer.of_kind("layer")
        phases = {s.name: s.duration for s in self.tracer.of_kind("phase")}

        def under(span):
            return tracing.jobs_under(span, spans, owned)

        def layer_s(prefix):
            return sum(s.duration for s in layers if s.name.startswith(prefix)) / n

        op_jobs = {s.id: under(s) for s in ops}
        all_op_jobs = [j for s in ops for j in op_jobs[s.id]]
        stages = [st for j in all_op_jobs for st in j.stages]
        plan_layers = [s for s in layers if s.name.startswith("plans.")]
        writers = [s for s in layers if s.name.startswith("write.")]
        m = {
            "session.start_s": phases["session.start"],
            "session.warm_s": phases["session.warm"],
            "sources.load_s": layer_s("sources."),
            "sources.scan_tasks": sum(st.scan_tasks for st in stages) / n,
            "sources.input_mb": sum(st.input_bytes for st in stages) / MB / n,
            "plans.build_s": sum(tracing.first_job_delay(s, jobs) for s in plan_layers) / n,
            "write.analyzed_json_s": layer_s("write.analyzed_json"),
            "write.txt_s": layer_s("write.txt"),
            "write.wide_csv_s": layer_s("write.wide_csv"),
            "write.output_mb": self.output_bytes / MB / n,
            "report.executions": sum(
                any(j.shuffle_write_bytes > 0 for j in under(s)) for s in writers) / n,
            "python.cpu_s": self.python_cpu / n,
            "jvm.gc_s": self.gc_s / n,
            "driver.overhead_s": sum(tracing.driver_time(s, op_jobs[s.id]) for s in ops) / n,
            "trace.pass_s": statistics.median(self.pass_timed),
        }
        m.update(self._stream_metrics(ops, n))
        fallback_total = 0
        for name in dict.fromkeys(s.name for s in ops):
            mine = [s for s in ops if s.name == name]
            js = [j for s in mine for j in op_jobs[s.id]]
            plans = [e for e in execs if any(s.start <= e.start < s.end for s in mine)]
            distinct = {tracing.normalize_plan(e.plan): e for e in plans}
            fallbacks = sum(tracing.fallback_nodes(e.final_plan) for e in distinct.values())
            fallback_total += fallbacks
            row = {
                "s": sum(s.duration for s in mine) / n,
                "jobs": len(js) / n,
                "task_s": sum(j.task_s for j in js) / n,
                "shuffle_mb": sum(j.shuffle_mb for j in js) / n,
                "driver_s": sum(tracing.driver_time(s, op_jobs[s.id]) for s in mine) / n,
            }
            self.op_report[name] = dict(
                row, fallback_nodes=fallbacks,
                plan_hash=tracing.plan_hash(e.plan for e in plans) if plans else None)
            if name in self.catalog_ops:
                m.update({f"op.{name}.{k}": v for k, v in row.items()})
        m["plans.fallback_nodes"] = fallback_total / n
        for op in self.catalog_ops:
            for k, _ in OP_METRICS:
                m.setdefault(f"op.{op}.{k}", 0.0)
        self._write_trace(jobs, owned)
        return m

    def _stream_metrics(self, ops, n: int) -> dict:
        m = {f"stream.{v}": 0.0 for v in STREAM_PHASES.values()}
        inside = []
        for p in self.progress:
            ts = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            if any(s.start <= ts < s.end for s in ops):
                inside.append(p)
        m["stream.batches"] = len(inside) / n
        for p in inside:
            for phase, key in STREAM_PHASES.items():
                m[f"stream.{key}"] += p.get("durationMs", {}).get(phase, 0) / n
        last = {}
        for p in inside:  # the final state of every streaming query run
            last[p["runId"]] = p
        state = [op for p in last.values() for op in p.get("stateOperators", [])]
        m["stream.state_rows"] = sum(s.get("numRowsTotal", 0) for s in state) / n
        m["stream.state_mb"] = sum(s.get("memoryUsedBytes", 0) for s in state) / MB / n
        return m

    def _write_trace(self, jobs, owned) -> None:
        job_span = {j.id: sid for sid, js in owned.items() for j in js}
        path = os.path.join(self.out_dir, f"trace-{self.workload.name}-seed{self.seed}.json")
        doc = {
            "workload": self.workload.name,
            "seed": self.seed,
            "spans": [dict(vars(s), self_s=tracing.self_time(s, self.tracer.spans))
                      for s in self.tracer.spans],
            "jobs": [{"id": j.id, "span": job_span.get(j.id), "submit": j.submit, "end": j.end,
                      "task_s": j.task_s, "shuffle_mb": j.shuffle_mb} for j in jobs],
            "ops": self.op_report,
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
        for name, row in self.op_report.items():
            print(f"op {name}: " + " ".join(f"{k}={v}" for k, v in row.items()))
        print(f"trace written to {os.path.relpath(path, self.root)}")


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()

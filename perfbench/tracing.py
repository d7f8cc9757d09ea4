"""Tracing for the per-layer run, all from the benchmark's own files.

Spans are kept in memory (name, start, end, parent, operation id) and
written as JSON lines when the run ends.  Layer counters come from
outside the program: public functions wrapped in the traced process,
the Spark event log, a `QueryExecutionListener` for Catalyst's phase
times, a `StreamingQueryListener` for trigger durations, the JVM's GC
beans and the session's cache manager.  The untraced run uses
:class:`NullTracer`, which does none of this.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

# physical operators that cross into Python workers
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "PythonMapInArrow", "ArrowEvalPythonUDTF",
                "BatchEvalPythonUDTF", "PythonUDTF")

# the public functions `pipeline_run` calls, wrapped in the traced run
PIPELINE_CALLS = ("probe", "http_json_source", "expect_nonempty",
                  "expect_no_nulls", "write_single_csv")


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def begin_op(self, timed: bool) -> None:
        pass

    def before_release(self, spark) -> None:
        pass

    def after_release(self, spark) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = -1
        self.timed = False
        self.timed_ops: list[int] = []
        self.cache_persisted = 0
        self.cache_left = 0
        self.spark = None
        self._lock = threading.Lock()
        self.catalyst: list[tuple[int, dict]] = []
        self.final_analysis_ms = 0.0
        self.stream_progress: list[tuple[int, dict]] = []

    # ---------------------------------------------------------- spans

    def begin_op(self, timed: bool) -> None:
        self.op += 1
        self.timed = timed
        if timed:
            self.timed_ops.append(self.op)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "op": self.op, "timed": self.timed, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "t0": time.perf_counter(), "t1": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sid) -> None:
        """Label the jobs the current thread starts with the open span,
        so the event log attributes them."""
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                "perfbench.span", None if sid is None else str(sid))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # ----------------------------------------------- engine attachment

    def attach(self, spark) -> None:
        """Register the listeners; call once the session exists."""
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        tracer = self

        class PhaseListener:
            def onSuccess(self, func, qe, duration_ns):
                phases, it = {}, qe.tracker().phases().iterator()
                while it.hasNext():
                    kv = it.next()
                    phases[kv._1()] = kv._2().durationMs()
                with tracer._lock:
                    tracer.catalyst.append((tracer.op, phases))

            def onFailure(self, func, qe, exc):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer._lock:
                    tracer.stream_progress.append(
                        (tracer.op, dict(event.progress.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._phase_listener = PhaseListener()
        spark._jsparkSession.listenerManager().register(self._phase_listener)
        spark.streams.addListener(ProgressListener())

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def note_final_plan(self, df) -> None:
        """Add the result DataFrame's own (eager) analysis time, which
        the action's query execution does not repeat."""
        if self.timed:
            ph = df._jdf.queryExecution().tracker().phases()
            it = ph.iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "analysis":
                    self.final_analysis_ms += kv._2().durationMs()

    def before_release(self, spark) -> None:
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (  # noqa: E501
            cached_plan_count,
        )
        if self.timed:
            self.cache_persisted += cached_plan_count(spark)

    def after_release(self, spark) -> None:
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.operators.cache import (  # noqa: E501
            cached_plan_count,
        )
        if self.timed:
            self.cache_left += cached_plan_count(spark)

    def wrap_pipeline(self) -> None:
        """Put a span around every public function `pipeline_run` calls,
        in this process only; no program file changes."""
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark.plans import (  # noqa: E501
            pipeline_run,
        )
        for name in PIPELINE_CALLS:
            setattr(pipeline_run, name,
                    self._wrapped(getattr(pipeline_run, name), name))
        wh = pipeline_run.warehouse
        wh.merge_append = self._wrapped(wh.merge_append,
                                        "warehouse.merge_append")

    def _wrapped(self, fn, name: str):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return inner

    # --------------------------------------------------------- results

    def span_seconds(self, names: tuple[str, ...]) -> float:
        """Seconds per timed operation spent in spans named ``names``."""
        tot = sum(s["t1"] - s["t0"] for s in self.spans
                  if s["timed"] and s["name"] in names)
        return tot / max(len(self.timed_ops), 1)

    def span_seconds_by_query(self) -> dict[str, float]:
        """Median over timed passes of each query's span (build, action
        and release included)."""
        per: dict[str, list[float]] = {}
        for s in self.spans:
            if s["timed"] and s["name"].startswith("query."):
                per.setdefault(s["name"][6:], []).append(s["t1"] - s["t0"])
        return {k: statistics.median(v) for k, v in per.items()}


def read_event_log(log_dir: str) -> list[dict]:
    """Events of a (rolling, uncompressed) Spark event log, in order."""
    def part(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                       key=part):
        with open(path) as f:
            for line in f:
                events.append(json.loads(line))
    return events


def _plan_nodes(info: dict):
    yield info.get("nodeName", "")
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def event_log_metrics(events: list[dict], tracer: Tracer) -> dict[str, float]:
    """Scheduler, operator-node and Python-boundary counters of the
    timed operations, per operation, from the Spark event log."""
    spans = tracer.spans
    n_ops = max(len(tracer.timed_ops), 1)

    def span_of(props: dict):
        sid = props.get("perfbench.span")
        return spans[int(sid)] if sid is not None else None

    job_stages: dict[int, list[int]] = {}
    timed_stages: set[int] = set()
    timed_execs: set[str] = set()
    jobs = build_jobs = 0
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        s = span_of(e.get("Properties") or {})
        if s is None or not s["timed"]:
            continue
        jobs += 1
        if s["name"] == "build":
            build_jobs += 1
        job_stages[e["Job ID"]] = e["Stage IDs"]
        timed_stages.update(e["Stage IDs"])
        exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
        if exec_id is not None:
            timed_execs.add(str(exec_id))

    task_times: dict[int, list[float]] = {}
    shuffle = spill = scan = 0
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in timed_stages:
            continue
        m = e.get("Task Metrics") or {}
        task_times.setdefault(e["Stage ID"], []).append(
            m.get("Executor Run Time", 0) / 1000.0)
        shuffle += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        scan += (m.get("Input Metrics") or {}).get("Bytes Read", 0)

    final_plan: dict[str, dict] = {}
    for e in events:
        ev = e["Event"]
        if ev.endswith("SparkListenerSQLExecutionStart") or \
                ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            final_plan[str(e["executionId"])] = e["sparkPlanInfo"]
    py_nodes = sum(
        1 for x in timed_execs if x in final_plan
        for node in _plan_nodes(final_plan[x])
        if node.split(" ")[0] in PYTHON_NODES)

    skew = 1.0
    worst = max(task_times.values(), key=sum, default=None)
    if worst:
        med = statistics.median(worst)
        skew = max(worst) / med if med > 0 else 1.0
    return {
        "spark.jobs": jobs / n_ops,
        "spark.stages": len([s for s in timed_stages if s in task_times]) / n_ops,
        "spark.tasks": sum(len(v) for v in task_times.values()) / n_ops,
        "spark.task_s": sum(sum(v) for v in task_times.values()) / n_ops,
        "spark.task_skew": skew,
        "exec.shuffle_write_bytes": shuffle / n_ops,
        "exec.spill_bytes": spill / n_ops,
        "exec.scan_bytes": scan / n_ops,
        "python.eval_nodes": py_nodes / n_ops,
        "plans.build_jobs": build_jobs / n_ops,
    }

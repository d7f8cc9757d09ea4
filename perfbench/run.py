#!/usr/bin/env python3
"""cw-spark benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  One process drives the engine through
`get_spark` at `local[nproc]`.  A run:

1. generates its inputs from the seed (the lake is generated once per
   checkout and cached under `.perfbench/`);
2. sets up: session start, input registration and the first, cold
   operation;
3. times whole operations until ``--seconds`` have passed, and at
   least ``MIN_TIMED_OPS`` of them;
4. checks what the operations leave behind (the warehouse of
   etl_daily).

Every operation collects its outputs, and they are checked after its
clock stops, so no operation goes unchecked and no check is timed.

With ``--trace 0`` the last stdout line holds the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run (see
README.md).  Geometry and steal are printed on the lines before it.
"""

from __future__ import annotations

import argparse
import itertools
import json
import logging
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402
from etl import FLEET  # noqa: E402
from lakeq import LAKE_SQL, LLM_CORPUS  # noqa: E402

PKG = "city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark"
# the engine's sf0.01 test lake (README.md, "The lake")
LAKE_SCALE = 0.01
WORKLOADS = ("etl_daily", "lake")
# with --seconds 1 (BENCHMARK.json) every run times exactly one
# operation, whatever the host's speed (README.md, "Run length")
MIN_TIMED_OPS = 1
ALL_QUERIES = LAKE_SQL + LLM_CORPUS

END_TO_END = (("setup_s", "s"), ("op_p50_s", "s"), ("cpu_s_per_op", "s"))
PER_LAYER = (
    ("session.start_s", "s"), ("plans.build_s", "s"),
    ("plans.build_jobs", "count"), ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.task_skew", "ratio"), ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"), ("exec.scan_bytes", "B"), ("jvm.gc_s", "s"),
    ("jvm.peak_rss_gb", "GB"),
    ("cache.persisted", "count"), ("cache.left_after_release", "count"),
    ("python.worker_cpu_s", "s"), ("python.eval_nodes", "count"),
    ("http.fetches_per_doc", "count"), ("quality.check_s", "s"),
    ("files.csv_write_s", "s"), ("warehouse.merge_append_s", "s"),
    ("warehouse.rows_written", "count"), ("warehouse.files", "count"),
    ("warehouse.bytes_per_row", "B"), ("streaming.trigger_ms", "ms"),
    ("streaming.planning_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("trace.op_p50_s", "s"),
) + tuple((f"query.{q}_s", "s") for q in ALL_QUERIES)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the self-test runs the same code on tiny inputs
    ap.set_defaults(scale=LAKE_SCALE, fleet=FLEET)
    return ap.parse_args(argv)


class Run:
    """One benchmark process: its scratch directories, its session and
    its workload."""

    def __init__(self, args, work: str, traced: bool) -> None:
        self.args = args
        self.work = work
        self.traced = traced
        for d in ("local", "tmp", "ckpt", "warehouse", "events"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(probes.nproc())
        # every JVM of the run, spark-submit's launcher included, keeps
        # its temp files in the run and writes no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
        from tracing import NullTracer, Tracer
        self.tracer = Tracer() if traced else NullTracer()
        self.workload = self._make_workload()

    def _make_workload(self):
        a = self.args
        if a.workload == "etl_daily":
            import etl
            counts = os.path.join(self.work, "fetches") if self.traced else None
            if counts:
                os.makedirs(counts, exist_ok=True)
            return etl.EtlWorkload(a.seed, self.work, self.tracer, counts,
                                   fleet=a.fleet)
        from lake import ensure_lake
        from lakeq import LakeWorkload
        lake = ensure_lake(os.path.join(os.getcwd(), ".perfbench", "cache"),
                           a.scale)
        return LakeWorkload(ALL_QUERIES, lake, a.seed, self.tracer)

    def confs(self) -> dict[str, str]:
        w = self.work
        c = {
            "spark.local.dir": os.path.join(w, "local"),
            "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(w, "ckpt"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            c.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + os.path.join(w, "events"),
                      "spark.eventLog.compress": "false"})
        return c

    def setup(self):
        """Session start, input registration and the first, cold
        operation; returns (setup seconds, session seconds, outputs)."""
        t0 = time.perf_counter()
        from city_weather_and_s3file_rds_s3_bigquery_etl_by_airflow_on_ec2_spark import (  # noqa: E501
            get_spark,
        )
        self.spark = get_spark("perfbench", extra_confs=self.confs())
        t_session = time.perf_counter() - t0
        if self.traced:
            self.tracer.attach(self.spark)
        self.workload.register(self.spark)
        self.tracer.begin_op(timed=False)
        out = self.workload.run_op()
        return time.perf_counter() - t0, t_session, out

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until it has ended."""
        from pyspark import SparkContext
        gw = SparkContext._gateway
        self.spark.stop()
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes; py4j's own
            # shutdown can block on the callback server's sockets
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def check(workload, out, threads: int) -> None:
    if hasattr(workload, "check_op"):
        workload.check_op(out)
    else:
        workload.check(out, threads)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"error: run from a checkout holding {PKG}/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", "runs",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load0 = probes.loadavg()
    traced = bool(args.trace)
    threads = probes.nproc()

    run = Run(args, work, traced)
    tree = probes.ProcessTree()
    setup_s, session_s, cold_out = run.setup()
    rss = probes.RssSampler(tree).start()
    wl, tr = run.workload, run.tracer
    correct, failed, attempted = True, 0, 1
    try:
        check(wl, cold_out, threads)
    except AssertionError as e:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
        correct = False

    def timed_op():
        """Run one timed operation, then check its outputs after its
        clock has stopped.  Returns its seconds, the CPU seconds of the
        driving process and JVM, and those of the Python workers; None
        if it failed."""
        nonlocal failed, attempted, correct
        tr.begin_op(timed=True)
        attempted += 1
        c0 = tree.cpu()
        t0 = time.perf_counter()
        try:
            out = wl.run_op()
        except Exception:  # noqa: BLE001 - count it and go on
            traceback.print_exc()
            failed += 1
            return None
        t1 = time.perf_counter()
        c1 = tree.cpu()
        try:
            check(wl, out, threads)
        except AssertionError as e:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
            correct = False
        return t1 - t0, c1[0] - c0[0], c1[1] - c0[1]

    op_s, op_cpu, worker_cpu = [], [], []
    gc0 = tr.gc_seconds() if traced else 0.0
    j0 = probes.cpu_jiffies()
    t_m = time.perf_counter()
    for k in itertools.count(1):
        res = timed_op()
        if res is not None:
            op_s.append(res[0])
            op_cpu.append(res[1])
            worker_cpu.append(res[2])
        if time.perf_counter() - t_m >= args.seconds and k >= MIN_TIMED_OPS:
            break
    steal = probes.steal_pct(j0, probes.cpu_jiffies())
    gc_s = (tr.gc_seconds() - gc0) if traced else 0.0
    if hasattr(wl, "check_end"):
        try:
            wl.check_end()
        except AssertionError as e:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
            correct = False
    max_heap_gb = run.spark._jvm.java.lang.Runtime.getRuntime() \
        .maxMemory() / 2**30
    run.stop()
    peak_rss = rss.stop()
    # py4j objects finalized after the JVM has gone log connection errors
    logging.disable(logging.CRITICAL)

    n_timed = len(op_s)
    if not n_timed:
        print("error: no timed operation succeeded", file=sys.stderr)
        return 1
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(op_s),
        "cpu_s_per_op": statistics.median(op_cpu),
    }
    annotation = {
        "workload": args.workload, "seed": args.seed, "traced": traced,
        "nproc": threads, "mem_total_gb": round(probes.mem_total_gb(), 2),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "jvm_max_heap_gb": max_heap_gb, "peak_rss_gb": peak_rss,
        "steal_pct": steal,
        "loadavg_start": load0,
        "session_start_s": session_s, "timed_ops": n_timed,
        "op_samples_s": op_s, "op_cpu_s": op_cpu,
        "attempted": attempted, "failed": failed,
        "wall_s": time.perf_counter() - T_START,
    }
    print("# run " + json.dumps(annotation))
    with open(os.path.join(work, "run.json"), "w") as f:
        json.dump({"annotation": annotation, "end_to_end": e2e}, f)

    if traced:
        from per_layer import per_layer_metrics
        metrics = per_layer_metrics(run, e2e, session_s, worker_cpu, gc_s)
        metrics["jvm.peak_rss_gb"] = peak_rss
        tr.write(os.path.join(work, "spans.jsonl"))
        units = dict(PER_LAYER)
    else:
        metrics, units = e2e, dict(END_TO_END)
    for d in ("local", "tmp", "ckpt", "warehouse", "events", "etl_out",
              "fetches"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({
        "correct": correct and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

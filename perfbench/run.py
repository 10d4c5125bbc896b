#!/usr/bin/env python3
"""The repo's benchmark: one client process, a closed loop, three workloads.

    python3 perfbench/run.py --workload filter_scrub --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py`` and ``BENCHMARK.json``): ``filter_scrub``,
``query_catalog``, ``readiness_gate``; a traced ``filter_scrub`` run also
measures the chunked commit/resume path.  The seed drives
the generated corpora and the order of the catalog.  The session runs on
``local[nproc]``; each operation starts only after the previous one ended,
and operations repeat until ``--seconds`` have passed and at least the
workload's ``min_ops`` have run (so a run's median always covers the same
number of operations).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, taken from
spans around each call into a layer and from Spark's event log, together
with the tracing overhead: the traced run alternates operations with spans
off and on, in one session.  The line before it names every figure of the
run, end-to-end and workload-specific, with its unit.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import spans as TR  # noqa: E402
from workloads import WORKLOADS, median  # noqa: E402

DRIVER_MEM = "2g"
# bench.py's scan settings: one scan partition per corpus part file
SCAN_CONF = {
    "spark.sql.files.maxPartitionBytes": str(6 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": "0",
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def launch_hygiene() -> None:
    """Environment the session needs when started from any directory:
    Python workers must import the package, the driver heap must fit the
    machine, and the scratch files of Spark, the JVM and the Python workers
    stay inside the checkout."""
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    # the JVMs spark-submit starts (launcher, driver): no perf-data files in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for d in (os.environ["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, REPO)


# ---------------------------------------------------------------------------
# memory: the driver JVM plus its Python workers, from /proc
# ---------------------------------------------------------------------------


def _tree(root: int) -> list[int]:
    kids = collections.defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    def __init__(self, root: int, every: float = 0.5):
        super().__init__(daemon=True)
        self.root, self.every, self.peak = root, every, 0
        self._stop_evt = threading.Event()

    def run(self):
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop_evt.wait(self.every):
                return

    def stop(self):
        self._stop_evt.set()
        self.join()


# ---------------------------------------------------------------------------


class Ctx:
    def __init__(self, spark, tracer, seed, work_dir):
        self.spark, self.tracer, self.seed, self.work_dir = spark, tracer, seed, work_dir
        self.rng = random.Random(seed)

    def bare_scan(self, df) -> float:
        """Seconds to scan ``df`` into the noop sink."""
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it and its Python workers
    have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _tree(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree[1:]):
        time.sleep(0.1)


def closed_loop(wl, seconds: float, tracer, alternate: bool) -> tuple[int, list[float]]:
    """Run operations back to back until ``seconds`` have passed and at
    least ``wl.min_ops`` have run; returns the number that failed.  With
    ``alternate``, half the operations run with their spans off, at least
    ``wl.min_ops`` of each kind, in the order off, on, on, off, so that a
    steady warm-up drift cancels out of the difference; their times are
    returned, not kept in ``wl.lat``."""
    failed, n, untraced = 0, 0, []
    t_start = time.perf_counter()
    while n < wl.min_ops * (1 + alternate) or time.perf_counter() - t_start < seconds:
        if alternate:
            tracer.enabled = n % 4 in (1, 2)
        before = wl.attempted
        t0 = time.perf_counter()
        try:
            wl.op(n)
            (untraced if alternate and not tracer.enabled else wl.lat).append(time.perf_counter() - t0)
        except Exception:  # counted, not fatal
            traceback.print_exc()
            wl.attempted = max(wl.attempted, before + 1)
            failed += wl.attempted - before
        n += 1
    if alternate:
        tracer.enabled = True  # for the probes that follow
    return failed, untraced


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)

    launch_hygiene()
    traced = bool(args.trace)

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    log_dir = os.path.join(work_dir, "eventlog")

    t_setup = time.perf_counter()
    from data_quality_analyzer_spark.session import get_spark

    tracer = TR.Tracer(traced, run_id)
    conf = {**SCAN_CONF, "spark.ui.showConsoleProgress": "false"}
    if traced:
        conf.update(TR.event_log_conf(log_dir))
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus(), extra_conf=conf)
    tracer.spark = spark
    from pyspark import SparkContext

    sampler = RssSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    try:
        wl = WORKLOADS[args.workload](Ctx(spark, tracer, args.seed, work_dir))
        wl.setup()
        setup_s = time.perf_counter() - t_setup

        # a traced run alternates untraced and traced operations: the tracing overhead
        failed, untraced = closed_loop(wl, args.seconds, tracer, alternate=traced)
        failed += wl.check()
        extra = wl.report()
        probes = wl.probe() if traced else {}
        failed = min(failed + wl.probe_failed, wl.attempted)
    finally:
        sampler.stop()
        stop_session(spark)

    wall = median(wl.lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (wl.rows / wall if wall else 0.0, "1/s"),
    }
    detail = {
        **e2e, **extra,
        "peak_rss_mb": (sampler.peak / 2**20, "MB"),
        "error_rate": (failed / wl.attempted, "ratio"),
        "op_s": (wl.lat, "s"),
        "inputs_cached": (int(wl.gen_hit), "bool"),
    }
    metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]}
    correct = failed == 0
    if traced:
        counters = TR.span_counters(log_dir)
        layer = {
            "session.start_s": median(tracer.durations("session.start")),
            "sources.generate_s": median(tracer.durations("sources.generate")),
            "trace.overhead_pct": (wall / median(untraced) - 1.0) * 100.0 if untraced else 0.0,
            **probes,
            **wl.layers(counters),
        }
        detail["untraced_wall_s"] = (median(untraced), "s")
        tracer.dump(os.path.join(WORK, "traces", f"{run_id}.json"), counters)
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    shutil.rmtree(work_dir, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "detail": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()}}))
    print(json.dumps({"correct": correct, "attempted": wl.attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

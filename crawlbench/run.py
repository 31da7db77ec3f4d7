#!/usr/bin/env python3
"""Crawl-engine benchmark: one command per (workload, seed) run.

    python3 crawlbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It starts Spark on ``local[<cores>]``,
generates the workload's inputs from ``--seed``, warms up, measures for
``--seconds``, checks the outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` runs with spans and the Spark event
log and prints the per-layer metrics instead. Scratch files live under
``.bench_work/`` and are removed at exit; a traced run leaves its spans
and job counts in ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "louis_crawler_legacy_spark"


def unit_of(name: str) -> str:
    if name.endswith("ms_per_page"):
        return "ms"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith("_s_p50"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("ratio", "fill", "cpu_util")):
        return "1"
    return "count"


def process_tree(root_pid: int) -> dict[int, int]:
    """pid → resident bytes of ``root_pid`` and all its descendants."""
    parent, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(fields[1])
            rss[int(d)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    out, todo = {}, [root_pid]
    while todo:
        p = todo.pop()
        out[p] = rss.get(p, 0)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the driver JVM (it exits when its stdin
    closes) and wait until no child process (JVM, Python workers) is left."""
    from pyspark import SparkContext

    children = set(process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    # Python workers outlive the JVM by a moment, reparented away from us
    deadline = time.monotonic() + timeout
    while any(map(_running, children)) and time.monotonic() < deadline:
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class PeakRss:
    """Peak resident memory summed over this process and its descendants
    (the driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(process_tree(os.getpid()).values()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def start_spark(work: str, cores: int, event_dir: str | None):
    from louis_crawler_legacy_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "sql-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        from crawlbench.trace import event_log_conf

        conf.update(event_log_conf(event_dir))
    spark = get_spark(app_name="crawlbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from crawlbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # every scratch file of Spark, Python workers and tempfile stays inside
    # the checkout; workers import the package from it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ.pop("CRAWL_PROFILE", None)
    cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(work, "events") if args.trace else None

    from crawlbench.trace import Tracer

    spark = None
    try:
        with PeakRss() as rss:
            spark = start_spark(work, cores, event_dir)
            print(f"[{time.perf_counter() - T_START:7.2f}s] spark started",
                  file=sys.stderr, flush=True)
            tracer = Tracer(args.workload, f"{args.workload}-{args.seed}",
                            spark)
            if args.trace:
                tracer.install()
            ctx = workloads.Ctx(spark=spark, seed=args.seed,
                                seconds=args.seconds, trace=bool(args.trace),
                                work=work, cores=cores, t_start=T_START,
                                tracer=tracer, event_dir=event_dir)
            res = workloads.WORKLOADS[args.workload](ctx)
        stop_spark(spark)
        spark = None
        metrics = dict(res["metrics"])
        if args.trace and "layers" in res:
            t0, t1, wall = res["window"]
            spark_layer, js = workloads._spark_layer(ctx, t0, t1, wall)
            lay = dict(res["layers"])
            lay.update(spark_layer)
            lay["peak_rss_mb"] = rss.peak / 2**20
            lay["crawl.jobs_per_round"] = (
                js["jobs"] / res["rounds"] if args.workload == "crawl" else 0)
            lay["crawl.tasks_per_round"] = (
                js["tasks"] / res["rounds"] if args.workload == "crawl" else 0)
            metrics = {n: lay.get(n, 0) for n in workloads.per_layer_names()}
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json"))
            with open(os.path.join(
                    out_dir, f"jobs-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(js, f)
        elif args.trace:
            metrics = {}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = min(res["attempted"], len(ctx.failures))
    if not metrics:
        failed = res["attempted"]
    result = {
        "correct": not ctx.failures and bool(metrics),
        "attempted": max(1, res["attempted"]),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": unit_of(n)}
                    for n, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

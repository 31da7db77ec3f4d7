"""Spans around the engine's public calls, and Spark job counts from the
session's event log. Used only by traced runs (``--trace 1``).

A span records name, start, end, parent (the innermost open span on the
same thread), thread, workload, run id and the benchmark phase it started
in. Spans are kept in memory and written as JSON when the run ends.

The wrappers are installed on the classes by this module, never by the
package. Calls that block on Spark (``run_round``, ``select_batch``, the
``SnapshotTable`` writes, ``checkpoint(wait=True)``) show their wall time;
lazy builders are attributed through the event log instead.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

# (dotted class path, method, span name)
CRAWL_CALLS = (
    ("louis_crawler_legacy_spark.plans.crawl.CrawlEngine", "bootstrap",
     "crawl.bootstrap"),
    ("louis_crawler_legacy_spark.plans.crawl.CrawlEngine", "run_round",
     "crawl.run_round"),
    ("louis_crawler_legacy_spark.plans.crawl.CrawlEngine", "checkpoint",
     "crawl.checkpoint"),
    ("louis_crawler_legacy_spark.plans.crawl.CrawlEngine", "expire_urls",
     "crawl.expire_urls"),
    ("louis_crawler_legacy_spark.plans.crawl.CrawlEngine", "select_batch",
     "select.select_batch"),
    ("louis_crawler_legacy_spark.sources.tables.SnapshotTable", "append",
     "tables.append"),
    ("louis_crawler_legacy_spark.sources.tables.SnapshotTable", "overwrite",
     "tables.overwrite"),
    ("louis_crawler_legacy_spark.sources.tables.SnapshotTable", "upsert",
     "tables.upsert"),
)


def _resolve(path: str):
    import importlib

    mod, cls = path.rsplit(".", 1)
    return getattr(importlib.import_module(mod), cls)


class Tracer:
    """In-memory span recorder. ``enabled`` switches recording on and off
    without removing the wrappers, so set-up and the output checks stay
    out of the spans."""

    def __init__(self, workload: str, run_id: str, spark=None):
        self.workload = workload
        self.run_id = run_id
        self.spark = spark
        self.enabled = False
        self.phase = "setup"
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = {
            "name": name, "start": time.time(), "end": None,
            "parent": stack[-1] if stack else None,
            "thread": threading.current_thread().name,
            "workload": self.workload, "run": self.run_id,
            "phase": self.phase,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        sc = self.spark.sparkContext if (job_group and self.spark) else None
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setLocalProperty("spark.jobGroup.id", name)
        try:
            yield
        finally:
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            stack.pop()
            rec["end"] = time.time()

    def install(self) -> None:
        for path, meth, name in CRAWL_CALLS:
            cls = _resolve(path)
            orig = getattr(cls, meth)

            def wrapped(*a, __orig=orig, __name=name, **kw):
                with self.span(__name, job_group=True):
                    return __orig(*a, **kw)

            functools.update_wrapper(wrapped, orig)
            setattr(cls, meth, wrapped)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- span arithmetic ----------------------------------------------------
    def closed(self, name: str | None = None, phase: str | None = None):
        return [s for s in self.spans if s["end"] is not None
                and (name is None or s["name"] == name)
                and (phase is None or s["phase"] == phase)]

    def total(self, name: str, phase: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.closed(name, phase))

    def self_times(self, name: str, phase: str | None = None) -> list[float]:
        """Duration minus the part covered by same-thread direct children."""
        out = []
        for s in self.closed(name, phase):
            kids = [c for c in self.spans if c["parent"] == s["id"]
                    and c["end"] is not None]
            out.append((s["end"] - s["start"])
                       - sum(c["end"] - c["start"] for c in kids))
        return out


# -- Spark event log ------------------------------------------------------------

POOLS = ("default", "state", "background")


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir`` (plain or rolling ``eventlog_v2_*``
    layout)."""
    events = []
    for d, _, files in os.walk(log_dir):
        for name in files:
            if name.startswith((".", "appstatus")):  # markers, checksums
                continue
            with open(os.path.join(d, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def job_stats(events: list[dict], start: float, end: float) -> dict:
    """Executor task counts for the jobs submitted in [start, end] (epoch
    seconds), grouped by scheduler pool and by job group."""
    jobs = {}
    stage_job: dict[int, int] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            if not (start <= t <= end):
                continue
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "pool": props.get("spark.scheduler.pool") or "default",
                "group": props.get("spark.jobGroup.id") or "",
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
    out = {
        "jobs": len(jobs), "tasks": 0, "task_s": 0.0, "failed_tasks": 0,
        "shuffle_bytes": 0, "spill_bytes": 0,
        "pool_task_s": {p: 0.0 for p in POOLS}, "group_task_s": {},
    }
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(e.get("Stage ID"))
        if jid is None:
            continue
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1000.0
        out["tasks"] += 1
        out["task_s"] += run_s
        if info.get("Failed") or (e.get("Task End Reason") or {}).get(
                "Reason", "Success") != "Success":
            out["failed_tasks"] += 1
        out["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
        pool = jobs[jid]["pool"]
        out["pool_task_s"][pool] = out["pool_task_s"].get(pool, 0.0) + run_s
        g = jobs[jid]["group"]
        out["group_task_s"][g] = out["group_task_s"].get(g, 0.0) + run_s
    return out

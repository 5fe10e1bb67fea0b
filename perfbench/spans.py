"""Spans around the benchmark's calls into lagespark, the Spark counters
attributed to them, and a /proc memory sampler.

Spans are recorded only by an enabled Tracer and kept in memory. After each
traced iteration the Spark status REST API (jobs, stages, SQL executions) is
read once; a job belongs to every span during which it was submitted. That
attribution is by time, not by job group, because overlay_join and
intersects_join_ri submit jobs from worker threads that do not inherit job
groups.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request
from datetime import datetime, timezone

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Records {id, name, kind, start, end, parent, iteration} spans.

    `kind` is "build" (the call until it returns, with the eager jobs it
    fires) or "exec" (the action that materializes its result). Disabled,
    span() yields a scratch dict and records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.iteration = -1
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "build"):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": self._stack[-1] if self._stack else None,
            "iteration": self.iteration,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def wrap_write_stage(tracer: Tracer) -> None:
    """Route every pipeline.manifest.write_stage call — the benchmark's own
    and those inside pipeline.corpus.run — through a span that also keeps
    the bytes the stage committed."""
    from lagespark.pipeline import manifest

    inner = manifest.write_stage

    def write_stage(*args, **kwargs):
        with tracer.span("pipeline.manifest.write_stage", "exec") as rec:
            man = inner(*args, **kwargs)
            rec["bytes"] = sum(p["bytes"] for p in man["partitions"].values())
        return man

    manifest.write_stage = write_stage


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_total(value: str) -> float:
    """'total (min, med, max ...)\\n782.9 KiB (...)' or '1,024' -> number."""
    line = value.split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


def rest_snapshot(spark) -> dict:
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(ep: str):
        with urllib.request.urlopen(f"{base}/{ep}", timeout=30) as r:
            return json.load(r)

    jobs = get("jobs")
    stages = {s["stageId"]: s for s in get("stages?status=complete")}
    sql = get("sql?details=true&planDescription=false&length=100000")
    owner: dict[int, int] = {}  # stage -> first job that lists it
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    out_jobs = []
    for j in jobs:
        own = [stages[s] for s in j["stageIds"] if owner[s] == j["jobId"] and s in stages]
        out_jobs.append(
            {
                "submit": _ts(j.get("submissionTime")),
                "done": _ts(j.get("completionTime")),
                "cpu_s": sum(s["executorCpuTime"] for s in own) / 1e9,
                "gc_s": sum(s["jvmGcTime"] for s in own) / 1e3,
                "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in own),
            }
        )
    out_sql = []
    for e in sql:
        py = {"data sent to Python workers": 0.0, "data returned from Python workers": 0.0}
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] in py:
                    py[m["name"]] += _metric_total(m["value"])
        out_sql.append(
            {
                "submit": _ts(e.get("submissionTime")),
                "py_out": py["data sent to Python workers"],
                "py_in": py["data returned from Python workers"],
            }
        )
    return {"jobs": out_jobs, "sql": out_sql}


def _within(t: float | None, span: dict) -> bool:
    # REST times are truncated to the millisecond
    return t is not None and span["start"] - 1e-3 <= t < span["end"]


def attribute(spans: list[dict], snap: dict) -> None:
    """Attach job, CPU, GC, shuffle and Python-transfer counters to spans."""
    for sp in spans:
        if "jobs" in sp:
            continue
        jobs = [j for j in snap["jobs"] if _within(j["submit"], sp)]
        sqls = [e for e in snap["sql"] if _within(e["submit"], sp)]
        sp["jobs"] = len(jobs)
        sp["task_cpu_s"] = sum(j["cpu_s"] for j in jobs)
        sp["gc_s"] = sum(j["gc_s"] for j in jobs)
        sp["shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs)
        sp["py_bytes_out"] = sum(e["py_out"] for e in sqls)
        sp["py_bytes_in"] = sum(e["py_in"] for e in sqls)
        # self time: the span minus the wall time its Spark jobs cover
        ivals = sorted(
            (max(j["submit"], sp["start"]), min(j["done"] or sp["end"], sp["end"]))
            for j in jobs
        )
        covered, cur = 0.0, sp["start"]
        for a, b in ivals:
            a = max(a, cur)
            if b > a:
                covered += b - a
                cur = b
        sp["self_s"] = (sp["end"] - sp["start"]) - covered


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """Resident bytes of `root` (the JVM) and of all its descendants (the
    Python daemon and workers it forks), from /proc — psutil is not
    available."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")

    def rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            return 0  # exited between the listing and the read

    workers, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        workers += rss(pid)
        todo.extend(kids.get(pid, []))
    return rss(root), workers


class RssSampler:
    """Background thread tracking, since the last reset(), the peak resident
    memory of the JVM plus its workers, and of each part on its own."""

    def __init__(self, root_pid: int, period: float = 0.2) -> None:
        self.root, self.period = root_pid, period
        self._lock = threading.Lock()
        self._peak = {"total": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        jvm, workers = tree_rss_bytes(self.root)
        with self._lock:
            for k, v in (("total", jvm + workers), ("jvm", jvm), ("workers", workers)):
                self._peak[k] = max(self._peak[k], v)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def reset(self) -> None:
        with self._lock:
            self._peak = dict.fromkeys(self._peak, 0)
        self._sample()

    def take_mb(self) -> dict:
        self._sample()
        with self._lock:
            return {k: v / 2**20 for k, v in self._peak.items()}

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

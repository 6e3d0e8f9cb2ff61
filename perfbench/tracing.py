"""The traced run (``--trace 1``): spans from the benchmark side, counters
from Spark's own event log.

Spans are timed around calls into the program's public functions. Each
span also sets the Spark job group *in its calling thread*, so every job is
attributed to the span that issued it, including jobs the crawl engine
submits from its checkpoint and seen-filter writer threads (a job group is
a thread-local property; it does not follow work into new threads).

The session writes an uncompressed event log (run.py sets the conf); after
``spark.stop()`` flushes it, ``layer_metrics`` reads it with stdlib
``json`` and sums task counters over the jobs of traced groups. All traced
groups start with ``pb:``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager

from result import PER_LAYER, emit, median

PY_RUN = "time to run Python workers"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, cores: int, log_dir: str):
        self.sc = spark.sparkContext
        self.cores = cores
        self.log_dir = log_dir
        self.spans: list[tuple[str, float, float]] = []
        # written from the engine's writer threads too
        self.timers: dict[str, float] = defaultdict(float)
        self._timers_lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording

    def group(self, name: str) -> None:
        """Tag the calling thread's next jobs with ``pb:<name>``."""
        self.sc.setJobGroup("pb:" + name, name)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        """A top-level traced unit: its wall time is the denominator of the
        utilisation and driver-only figures."""
        self.group(name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            self.clear_group()

    def patch(self, owner, attr: str, make_wrapper) -> None:
        """Replace ``owner.attr`` by ``make_wrapper(original)`` until
        ``unpatch``."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make_wrapper(orig))

    def timed(self, timer: str, group: Callable[[], str] | None = None):
        """Wrapper factory: time every call into ``timer``; set the job
        group first when ``group`` (a callable giving the name) is given."""

        def make(orig):
            def wrapper(*a, **kw):
                if group is not None:
                    self.group(group())
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    dt = time.perf_counter() - t0
                    with self._timers_lock:
                        self.timers[timer] += dt

            return wrapper

        return make

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ event log

    def _event_files(self) -> list[str]:
        """Plain log files, or the numbered parts of a rolling log dir."""
        out = []
        for p in sorted(glob.glob(os.path.join(self.log_dir, "*"))):
            if os.path.isdir(p):
                parts = glob.glob(os.path.join(p, "events_*"))
                out += sorted(
                    parts, key=lambda f: int(re.match(r"events_(\d+)", os.path.basename(f)).group(1))
                )
            elif not p.endswith(".inprogress"):
                out.append(p)
        return out

    def job_stats(self) -> dict[int, dict]:
        """Per traced job: group, [start, end] ms, and summed task counters."""
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        stage_tasks: dict[int, int] = {}
        for path in self._event_files():
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        grp = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        if not grp.startswith("pb:"):
                            continue
                        jobs[e["Job ID"]] = {
                            "group": grp[3:],
                            "start": e["Submission Time"],
                            "end": e["Submission Time"],
                            "run_ms": 0.0,
                            "gc_ms": 0.0,
                            "shuffle_b": 0.0,
                            "spill_b": 0.0,
                            "py_ms": 0.0,
                            "py_b": 0.0,
                            "stages_below": 0,
                        }
                        for s in e["Stage IDs"]:
                            stage_job[s] = e["Job ID"]
                    elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"]
                    elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
                        j = jobs[stage_job[e["Stage ID"]]]
                        m = e.get("Task Metrics") or {}
                        j["run_ms"] += m.get("Executor Run Time", 0)
                        j["gc_ms"] += m.get("JVM GC Time", 0)
                        j["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        j["spill_b"] += m.get("Disk Bytes Spilled", 0)
                        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                            name = acc.get("Name")
                            if name == PY_RUN:
                                j["py_ms"] += float(acc.get("Update") or 0)
                            elif name in PY_BYTES:
                                j["py_b"] += float(acc.get("Update") or 0)
                    elif kind == "SparkListenerStageCompleted":
                        info = e["Stage Info"]
                        sid = info["Stage ID"]
                        if sid in stage_job and sid not in stage_tasks:
                            stage_tasks[sid] = info["Number of Tasks"]
                            if info["Number of Tasks"] < self.cores:
                                jobs[stage_job[sid]]["stages_below"] += 1
        return jobs

    def layer_metrics(self, res) -> dict:
        """Every per-layer metric: the workload's own (``res.layers``) plus
        the event-log counters over all traced jobs."""
        jobs = self.job_stats()
        wall_ms = sum((t1 - t0) * 1000.0 for _, t0, t1 in self.spans)
        busy_ms = 0.0
        for _, t0, t1 in self.spans:
            busy_ms += _covered_ms(
                [(j["start"], j["end"]) for j in jobs.values()], t0 * 1000.0, t1 * 1000.0
            )
        tot = defaultdict(float)
        for j in jobs.values():
            for k in ("run_ms", "gc_ms", "shuffle_b", "spill_b", "py_ms", "py_b", "stages_below"):
                tot[k] += j[k]
        values = {
            "spark.jobs": len(jobs),
            "spark.stages_below_cores": tot["stages_below"],
            "spark.driver_only_s": (wall_ms - busy_ms) / 1000.0,
            "spark.core_util": tot["run_ms"] / (self.cores * wall_ms) if wall_ms else 0.0,
            "spark.python_s": tot["py_ms"] / 1000.0,
            "spark.python_mb": tot["py_b"] / MB,
            "spark.shuffle_mb": tot["shuffle_b"] / MB,
            "spark.spill_mb": tot["spill_b"] / MB,
            "spark.gc_s": tot["gc_ms"] / 1000.0,
            "operators.multimodal.python_s": sum(
                j["py_ms"] for j in jobs.values() if _is_multimodal(j["group"])
            )
            / 1000.0,
        }
        per_query = _count_by(jobs, r"q:([^:]+)$")
        if per_query:
            values["operators.jobs_per_query"] = median(list(per_query.values()))
        per_round = _count_by(jobs, r"crawl:(r\d+):")
        if per_round:
            values["streaming.frontier.jobs_per_round"] = median(list(per_round.values()))
        values.update(res.layers)
        res.details["jobs_per_query"] = per_query
        res.details["jobs_per_round"] = per_round
        res.details["not_exercised"] = sorted(set(PER_LAYER) - set(values))
        for k in PER_LAYER:
            values.setdefault(k, 0.0)
        return emit(values, PER_LAYER)


def _is_multimodal(group: str) -> bool:
    """Jobs that run operators.multimodal code: the mm_* registry queries
    and the crawl's fetch write (payload verify UDF)."""
    return group.startswith("q:mm_") or group.endswith(":fetch")


def _count_by(jobs: dict[int, dict], pattern: str) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for j in jobs.values():
        m = re.match(pattern, j["group"])
        if m:
            out[m.group(1)] += 1
    return dict(out)


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered

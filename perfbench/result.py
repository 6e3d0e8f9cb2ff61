"""Metric names, units and the per-run result record shared by workloads.

The two tables below are the benchmark's metric contract: they must list
exactly the ``end_to_end`` and ``per_layer`` entries of BENCHMARK.json.
Every run prints every metric of its table; a layer a workload does not
exercise reads 0 (the trace saw no work there).
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

END_TO_END = {
    "cpu_s": "s",
    "items_per_cpu_s": "1/s",
    "setup_s": "s",
}

QUERY_FAMILIES = ("sample", "filter", "score", "dedup", "text", "mm")

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.partitions": "count",
    **{f"operators.{f}.wall_s": "s" for f in QUERY_FAMILIES},
    "plans.pipeline.wall_s": "s",
    "operators.jobs_per_query": "count",
    "operators.multimodal.python_s": "s",
    "spark.jobs": "count",
    "spark.stages_below_cores": "count",
    "spark.driver_only_s": "s",
    "spark.core_util": "ratio",
    "spark.python_s": "s",
    "spark.python_mb": "MB",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "streaming.frontier.round_s": "s",
    "streaming.frontier.jobs_per_round": "count",
    "streaming.frontier.dedup_s": "s",
    "streaming.frontier.schedule_s": "s",
    "streaming.frontier.fetch_s": "s",
    "streaming.frontier.links_s": "s",
    "streaming.frontier.checkpoint_s": "s",
    "streaming.bloom.update_s": "s",
    "streaming.bloom.build_s": "s",
    "streaming.checkpoint.read_s": "s",
    "streaming.checkpoint.write_fetched_s": "s",
    "streaming.checkpoint.write_s": "s",
    "streaming.checkpoint.files": "count",
    "streaming.checkpoint.bytes_written_mb": "MB",
    "streaming.resume_s": "s",
    "trace.traced_cpu_s": "s",
    "trace.overhead_cpu_s": "s",
}


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between samples (needs two or more)."""
    return statistics.quantiles(values, n=10, method="inclusive")[8]


median = statistics.median


def another_fits(started: float, done: int, seconds: float) -> bool:
    """Whether one more measured unit, taking the mean time of the ``done``
    units so far, would end within ``seconds`` of ``started``. A run
    measures whole units, at least one; deciding by the end of the next
    unit keeps their number from flipping with small shifts in speed
    (a second pass is cheaper than the first, so a varying count would
    move the median)."""
    elapsed = time.perf_counter() - started
    return elapsed + elapsed / done <= seconds


@dataclass
class Result:
    """What one workload run hands back to run.py.

    ``e2e`` holds the workload's end-to-end values except ``setup_s``;
    ``layers`` holds what the traced leg measured from the benchmark side;
    the tracer adds the event-log counters."""

    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    details: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """Count one operation; record what failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.details.setdefault("failures", []).append(what)

    def end_to_end(self) -> dict:
        return emit({**self.e2e, "setup_s": self.setup_s}, END_TO_END)


def emit(values: dict[str, float], table: dict[str, str]) -> dict:
    missing = sorted(set(table) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in table.items()}

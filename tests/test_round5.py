"""Round-5 tests: engine-through-store routing, jobs/round metric, crash
consistency at every storage write, and the benchmark's probe surface."""

from __future__ import annotations

import os
import sys
import threading
import zlib
from pathlib import Path

import pytest
from pyspark.sql import functions as F


class Crash(Exception):
    pass


WRITES = ("write_table", "publish", "put_manifest")


class CountingStore:
    """ParquetStateStore wrapper that counts every routed call — proves the
    engine touches physical storage ONLY through the store seam. With
    ``crash_at=k`` it raises ``Crash`` before its k-th write_table,
    publish or put_manifest call: a crash at that storage write."""

    def __init__(self, crash_at: int | None = None):
        from hypercane_spark.streaming.storage import ParquetStateStore

        self.inner = ParquetStateStore()
        self.calls: dict[str, int] = {}
        self.crash_at = crash_at
        self.lock = threading.Lock()  # the engine writes from two threads

    @property
    def writes(self) -> int:
        return sum(self.calls.get(n, 0) for n in WRITES)

    def __getattr__(self, name):
        fn = getattr(self.inner, name)
        if not callable(fn):
            return fn

        def wrapped(*a, **k):
            with self.lock:
                self.calls[name] = self.calls.get(name, 0) + 1
                if name in WRITES and self.writes == self.crash_at:
                    raise Crash(f"crash at storage write {self.crash_at}")
            return fn(*a, **k)

        return wrapped


WEB_COLS = [
    "urim", "urir", "host", "memento_datetime", "damage", "priority",
    "image_id", "outlinks",
]
WEB_SCHEMA = (
    "urim string, urir string, host string, memento_datetime timestamp, "
    "damage double, priority double, image_id string, outlinks array<string>"
)
# the 400-URL web's crawl: two rounds, depth 2, no robots table
CFG = dict(per_host_budget=20, max_depth=2, max_rounds=2)


@pytest.fixture(scope="module")
def web400(spark):
    """→ (web rows, web DataFrame, seed urims, seeds DataFrame)."""
    from hypercane_spark.synth import gen_link_graph

    rows = gen_link_graph(n_urls=400, max_outlinks=3, n_images=5, n_hosts=8)
    web = spark.createDataFrame(
        [tuple(r[c] for c in WEB_COLS) for r in rows], WEB_SCHEMA
    )
    seed_urims = sorted(
        r["urim"] for r in rows if zlib.crc32(r["urim"].encode()) % 10 == 0
    )
    seeds = web.select("urim").where(F.crc32(F.col("urim")) % 10 == 0)
    return rows, web, seed_urims, seeds


def test_engine_runs_through_custom_store(spark, web400, tmp_path):
    from hypercane_spark.streaming.checkpoint import RoundCheckpoint
    from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine

    _, web, _, seeds = web400
    store = CountingStore()
    ckpt = RoundCheckpoint(str(tmp_path / "ck"), store=store)
    eng = CrawlEngine(
        spark,
        web,
        checkpoint_dir=None,
        config=CrawlConfig(
            per_host_budget=20, max_depth=2, max_rounds=2,
            verify_payload=False, collect_metrics=False,
        ),
    )
    eng.ckpt = ckpt
    fetched = eng.run(eng.seed_frontier(seeds))
    assert fetched.count() > 0
    # the engine wrote seeds + per-round deltas + fetched and read them
    # back — all through the store
    assert store.calls.get("write_table", 0) >= 5
    assert store.calls.get("read_table", 0) >= 2
    assert store.calls.get("put_manifest", 0) == 2
    # jobs/round metric populated
    assert all(m.jobs > 0 for m in eng.metrics)


def test_round_jobs_survive_trimmed_job_history(spark, web400):
    """RoundMetrics.jobs must not depend on Spark's bounded job history:
    once the history is full, every new job trims the oldest ones, so a
    length delta of the retained id list under-counts (even goes
    negative). Saturate the history, then every round of several crawls
    must report the same job count as the crawl before saturation."""
    from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine

    _, web, _, seeds = web400
    cfg = CrawlConfig(**CFG, collect_metrics=False)

    def jobs_per_round() -> list[int]:
        eng = CrawlEngine(spark, web, config=cfg)
        eng.run(seeds)
        return [m.jobs for m in eng.metrics]

    want = jobs_per_round()
    assert len(want) == CFG["max_rounds"] and all(n > 0 for n in want)
    sc = spark.sparkContext
    retained = int(sc.getConf().get("spark.ui.retainedJobs", "1000"))
    one = sc._jvm.java.util.ArrayList([0])
    for _ in range(retained):  # JVM-only jobs: no Python worker round trip
        sc._jsc.parallelize(one, 1).count()
    # four crawls issue well over retained/10 jobs, so the history is
    # trimmed at least once while a round is running. The status store
    # registers jobs asynchronously, so a job at a round boundary (the
    # seed snapshot write) can land on either side: allow one job of
    # slack, far below the hundred a trim removes.
    for _ in range(4):
        got = jobs_per_round()
        assert len(got) == len(want), (got, want)
        assert all(abs(g - w) <= 1 for g, w in zip(got, want)), (got, want)


def test_crash_at_every_storage_write_resumes_to_oracle(spark, web400, tmp_path):
    """A crawl killed at any storage write — the seed snapshot, a fetched
    table, a delta, a manifest, a compaction snapshot or its publish —
    resumes to exactly the uninterrupted crawl: the cut's committed pop
    order plus the resumed pop order, and the seen set, equal the
    sequential oracle's."""
    from hypercane_spark.oracle.crawl import crawl_oracle
    from hypercane_spark.streaming.checkpoint import RoundCheckpoint
    from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine

    rows, web, seed_urims, seeds = web400
    want_order, want_seen = crawl_oracle(rows, seed_urims, **CFG)
    # compaction after the last round puts snapshot writes and publishes
    # in the sweep
    cfg = CrawlConfig(**CFG, compact_every=2, collect_metrics=False)

    def engine(base: str, store) -> CrawlEngine:
        eng = CrawlEngine(spark, web, checkpoint_dir=base, config=cfg)
        eng.ckpt = RoundCheckpoint(base, store=store)
        return eng

    counter = CountingStore()
    engine(str(tmp_path / "full"), counter).run(seeds)
    # seeds; per round fetched, two deltas, manifest; compaction 2 + 2
    assert counter.writes == 1 + 4 * CFG["max_rounds"] + 4

    for k in range(1, counter.writes + 1):
        base = str(tmp_path / f"k{k}")
        with pytest.raises(Crash):
            engine(base, CountingStore(crash_at=k)).run(seeds)
        resumed = CrawlEngine(spark, web, checkpoint_dir=base, config=cfg)
        ckpt = resumed.ckpt
        order = [
            u
            for r in ckpt.rounds()
            for u in resumed.pop_order(ckpt.read_fetched(spark, r))
        ]
        order += resumed.pop_order(resumed.run(seeds, resume=True))
        seen = {
            r["surt"]
            for r in ckpt.read_seen(spark, CFG["max_rounds"] - 1).collect()
        }
        assert (order, seen) == (want_order, want_seen), f"crash at write {k}"


def test_perfbench_probes_install_on_engine(spark, web400, tmp_path):
    """The crawl benchmark's traced run patches engine, checkpoint, store
    and seen-filter names; a rename or deletion of any of them must fail
    here, not only under ``perfbench/run.py --trace 1``."""
    import hypercane_spark.streaming.frontier as frontier
    from hypercane_spark.streaming.checkpoint import RoundCheckpoint

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
    from bench_crawl import _install_probes
    from tracing import Tracer

    _, web, _, seeds = web400
    originals = (RoundCheckpoint.read_frontier_log, frontier.build_bloom)
    tracer = Tracer(spark, 1, str(tmp_path / "evlog"))
    try:
        _install_probes(tracer, {"leg": "crawl", "round": None})
        eng = frontier.CrawlEngine(
            spark, web, config=frontier.CrawlConfig(**CFG)
        )
        assert eng.pop_order(eng.run(seeds))
    finally:
        tracer.unpatch()
        tracer.clear_group()
    assert (RoundCheckpoint.read_frontier_log, frontier.build_bloom) == originals
    for timer in (
        "streaming.checkpoint.read_s",
        "streaming.checkpoint.write_fetched_s",
        "streaming.checkpoint.write_s",
        "streaming.bloom.update_s",
    ):
        assert tracer.timers[timer] > 0, timer


def test_sharded_bloom_through_custom_store(spark, tmp_path):
    from hypercane_spark.streaming.bloom import (
        build_sharded_bloom,
        sharded_bloom_might_contain,
        sharded_bloom_or_update,
    )

    store = CountingStore()
    keys = spark.createDataFrame(
        [(f"k{i}",) for i in range(200)], "surt string"
    )
    sb = build_sharded_bloom(
        keys, "surt", num_shards=4, bits_per_shard=1 << 12,
        root=str(tmp_path / "f"), store=store,
    )
    sb = sharded_bloom_or_update(
        sb, spark.createDataFrame([("x1",), ("x2",)], "surt string"), "surt"
    )
    probe = spark.createDataFrame(
        [("k5",), ("x1",), ("nope",)], "surt string"
    )
    got = {
        r["surt"]: r["hit"]
        for r in sharded_bloom_might_contain(
            probe, "surt", sb, out="hit"
        ).collect()
    }
    assert got["k5"] and got["x1"]  # no false negatives
    assert store.calls.get("write_table", 0) >= 2
    sb.unpersist()
    assert store.calls.get("remove_table", 0) >= 1
    assert not os.path.isdir(str(tmp_path / "f"))

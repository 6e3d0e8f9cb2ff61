"""DataFrame-driven crawl frontier — the north_rule centerpiece.

Replaces Hypercane's sequential Scrapy TimeMap walk
(``identify/archivecrawl.py``: a single-process BFS with an O(n) list
seen-set) with an iterative-batch scheduler where every round is one
declarative DataFrame job:

    frontier ──anti-join seen (bloom prefilter + exact backstop)
            ──robots gate (broadcast dim join)
            ──politeness: row_number over (host[, salt]) ordered by
              (priority desc, urim asc) ≤ per-host budget
            ──fetch: broadcast/shuffle join against the web/payload table,
              lineage columns stamped (round, fetch_ts, partition_id)
            ──link extraction: explode(outlinks) → canonicalize (SURT)
            ──dedup vs seen ∪ selected → this round's LINK DELTA, appended
              to the frontier log; the next round's frontier is
              merge-on-read over the log (seed snapshot ∪ deltas)

``CrawlEngine.run`` is a loop over four round phases — start (resume or
seed), plan (dedup + schedule), fetch, commit (links, checkpoint, filter
update, compaction) — and the round state always lives in a
``RoundCheckpoint``: the given ``checkpoint_dir``, or a temp dir that is
removed at interpreter exit.

Determinism contract (BASELINE crawl-order fidelity): the global pop order
is (round asc, priority desc, urim asc) under per-host budget B and depth
limit D — reproduced exactly by the pure-Python oracle
(hypercane_spark/oracle/crawl.py). Politeness salting (for hosts hotter
than one partition) splits a host's queue into ``salt`` sub-queues for
*fetch parallelism* while the budget window stays per-host, so parity is
unaffected.

Scale notes (10^10-URL design):
- frontier and seen never touch the driver, and neither is EVER
  materialized whole: durable state is an append-only delta log (one-time
  seed snapshot + per-round link/seen deltas, O(new rows) written per
  round), and every round's frontier is a constant-depth merge-on-read
  plan over that log — no per-round lineage truncation, no O(|frontier|)
  store. Periodic compaction (CrawlConfig.compact_every) bounds the log's
  file count.
- seen-membership is a sharded bloom prefilter (bit positions computed
  JVM-side) + LEFT ANTI JOIN exact backstop; the anti-join shuffles only
  bloom-positive candidates — at steady state a tiny fraction of the round.
- per-host windows shuffle on host (salted when skewed); AQE handles
  residual skew.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from hypercane_spark.functions.urls import surt_key
from hypercane_spark.streaming.bloom import (
    CuckooFilter,
    bloom_might_contain,
    bloom_or,
    build_bloom,
    build_cuckoo,
    build_sharded_bloom,
    cuckoo_add_df,
    cuckoo_might_contain,
    sharded_bloom_might_contain,
    sharded_bloom_or_update,
)
from hypercane_spark.streaming.checkpoint import RoundCheckpoint, merge_discoveries
from hypercane_spark.streaming.robots import robots_gate

FRONTIER_SCHEMA = (
    "urim string, urir string, host string, priority double, depth int, "
    "discovered_from string"
)

# bloom_shards=None auto-select boundary: a 2 MiB (2^24-bit) bitmap is the
# point where shipping the whole filter as a fresh broadcast every round
# stops being obviously cheap; beyond it the sharded delta-log filter wins
# (and at the 10^10-URL design scale, ~12.5 GB, it is the only shape that
# works at all).
SHARD_AUTO_MIN_BITS = 1 << 24


@dataclass
class CrawlConfig:
    per_host_budget: int = 4
    max_depth: int = 3
    max_rounds: int = 50
    # round_seconds: when set (and a robots table provides crawl_delay),
    # the per-host budget is additionally capped at
    # max(1, floor(round_seconds / crawl_delay)) — a host asking for a 30 s
    # delay gets at most round_seconds/30 fetches per round instead of the
    # full budget. None = budget-only politeness (the reference has neither;
    # robots handling is north_rule-new behavior).
    round_seconds: float | None = None
    salt_hot_hosts: int = 1  # >1 splits hot-host queues for fetch parallelism
    bloom_bits: int = 1 << 20
    bloom_hashes: int = 5
    use_bloom: bool = True
    seen_filter: str = "bloom"  # "bloom" | "cuckoo" (use_bloom=False → exact)
    # >0: the seen-filter is the SHARDED distributed (shard, bits) delta
    # log — shard = pmod(xxhash64(surt), S), bits_per_shard = bloom_bits/S,
    # each shard built/appended/tested by the task owning it; the driver
    # never holds a bitmap and no broadcast is shipped per round. This is
    # the design-scale shape (10^10 URLs → ~12.5 GB of filter → must
    # shard); S also floors the membership stage's parallelism, keep ≥ the
    # executor-core count. 0: monolithic driver array + per-round
    # broadcast — measured 15-20 % faster while the filter is small (no
    # candidate shuffle, no per-round filter IO), a hard driver-memory/
    # broadcast wall once it isn't. None (default): auto — monolith while
    # bloom_bits < SHARD_AUTO_MIN_BITS, sharded at or beyond it (the same
    # size-based engine auto-select as kmeans in plans/dsa.py).
    bloom_shards: int | None = None
    cuckoo_capacity: int = 1 << 18
    # every K rounds, fold the delta chain into full frontier/seen
    # snapshots and prune the subsumed delta dirs
    # (RoundCheckpoint.compact): bounds resume-scan file count on long
    # crawls while keeping per-round writes O(new state). None = never.
    compact_every: int | None = None
    verify_payload: bool = False  # phash/PSNR fidelity check at fetch time
    psnr_sample_mod: int = 1  # >1: deep PSNR audit on 1/mod of image ids
    collect_metrics: bool = True  # False drops optional per-round counts


@dataclass
class RoundMetrics:
    round: int = 0
    candidates: int = 0
    fetched: int = 0
    seen_size: int = 0
    # Spark jobs triggered this round in the default job group — the
    # per-round driver fixed cost is jobs × (scheduling + commit latency),
    # so this is the number to drive DOWN; see BENCH.md round-5 jobs/round
    # table.
    jobs: int = 0
    timings: dict = field(default_factory=dict)


def _temp_checkpoint_dir() -> str:
    """A checkpoint dir for an engine built without one. It outlives the
    engine — the DataFrame ``run()`` returns reads its parquet — so it is
    removed at interpreter exit, not when the engine is collected."""
    d = tempfile.mkdtemp(prefix="crawl-ckpt-")
    atexit.register(shutil.rmtree, d, True)
    return d


def _last_job_id(tracker) -> int:
    """Largest job id in the default group. Job ids grow monotonically and
    Spark trims its bounded job history oldest-first, so the jobs issued
    after this point are exactly the retained ids above it."""
    return max(tracker.getJobIdsForGroup(None), default=-1)


class CrawlEngine:
    """Iterative-batch crawl over a web table
    ``(urim, urir, host, memento_datetime, damage, priority, image_id,
    outlinks array<string>)`` with an image+caption payload table joined in
    at fetch time (input_hint shape)."""

    def __init__(
        self,
        spark: SparkSession,
        web: DataFrame,
        robots: DataFrame | None = None,
        images: DataFrame | None = None,
        checkpoint_dir: str | None = None,
        config: CrawlConfig | None = None,
        errors_dir: str | None = None,
    ):
        self.spark = spark
        self.web = web
        self.robots = robots
        self.images = images
        self.cfg = config or CrawlConfig()
        self.ckpt = RoundCheckpoint(checkpoint_dir or _temp_checkpoint_dir())
        # errors_dir switches the fetch stage to the reference's skip-not-
        # abort contract (errors.py:5-38): a payload that fails to decode/
        # verify is recorded (uri, stage, traceback) and dropped; the crawl
        # continues. Requires verify_payload (that's where decode happens).
        if errors_dir:
            from hypercane_spark.errors import ErrorStore

            self.errors: "ErrorStore | None" = ErrorStore(errors_dir)
        else:
            self.errors = None
        self.metrics: list[RoundMetrics] = []
        # incremental seen-filter: OR-updated with each round's newly seen
        # keys (blooms compose under OR), so the per-round build cost is
        # O(new keys), not O(entire seen set); rebuilt from the seen table
        # on resume. seen_filter="cuckoo" swaps in the deletable
        # fingerprint-table filter (same prefilter + exact-backstop shape).
        self._bloom: bytes | None = None
        self._cuckoo = None
        # sharded-filter handle (cfg.bloom_shards > 0): a distributed
        # (shard, bits) table; or_update unpersists the stale one per round
        self._sharded = None
        # monolithic-path broadcast handles created this round; destroyed
        # at round end so filter broadcasts never accumulate across a long
        # crawl
        self._stale_broadcasts: list = []

    # -------------------------------------------------------------- seeds

    def seed_frontier(self, seeds: DataFrame) -> DataFrame:
        """seeds: any DataFrame with a urim column; joined against the web
        table for (urir, host, priority), depth 0."""
        return (
            seeds.select("urim")
            .join(self.web.select("urim", "urir", "host", "priority"), "urim")
            .withColumn("depth", F.lit(0))
            .withColumn("discovered_from", F.lit(None).cast("string"))
        )

    def empty_seen(self) -> DataFrame:
        return self.spark.createDataFrame([], "surt string")

    def _shards(self) -> int:
        """Effective shard count: explicit config wins; None = auto-select
        by filter size (monolith below SHARD_AUTO_MIN_BITS, 64 shards at or
        beyond — see CrawlConfig.bloom_shards)."""
        if self.cfg.bloom_shards is not None:
            return self.cfg.bloom_shards
        return 64 if self.cfg.bloom_bits >= SHARD_AUTO_MIN_BITS else 0

    def _bits_per_shard(self) -> int:
        """bloom_bits is the TOTAL filter size; each shard owns its slice."""
        return max(64, self.cfg.bloom_bits // self._shards())

    def _filter_root(self) -> str:
        """Where the sharded filter's versioned parquet lives: next to the
        checkpoint (shared storage on a cluster)."""
        return os.path.join(self.ckpt.base, "seen_filter")

    def _drop_stale_broadcasts(self) -> None:
        """Destroy the monolithic-path filter broadcasts created this
        round. By round end every consumer plan has been evaluated and all
        round state is on disk, so no recompute can need the handles."""
        for b in self._stale_broadcasts:
            try:
                b.destroy()
            except Exception:
                pass
        self._stale_broadcasts.clear()

    # -------------------------------------------------------------- round

    def _not_seen(self, frontier: DataFrame, seen: DataFrame) -> DataFrame:
        cand = frontier.withColumn("__surt", surt_key(F.col("urim")))
        # A full cuckoo can have FALSE NEGATIVES (failed/evicted inserts) —
        # a seen URL would test "sure new" and skip the exact backstop, so
        # once full the prefilter is permanently distrusted and every
        # candidate takes the exact anti-join path.
        use_cuckoo = (
            self.cfg.use_bloom
            and self.cfg.seen_filter == "cuckoo"
            and self._cuckoo is not None
            and self._cuckoo.count > 0
            and not self._cuckoo.full
        )
        if use_cuckoo:
            flagged = cuckoo_might_contain(
                cand, "__surt", self._cuckoo, out="__in_bloom"
            )
        elif (
            self.cfg.use_bloom
            and self._shards() > 0
            and self._sharded is not None
        ):
            flagged = sharded_bloom_might_contain(
                cand, "__surt", self._sharded, out="__in_bloom"
            )
        elif (
            self.cfg.use_bloom
            and self._shards() == 0
            and self._bloom is not None
        ):
            flagged = bloom_might_contain(
                cand,
                "__surt",
                self._bloom,
                self.cfg.bloom_bits,
                self.cfg.bloom_hashes,
                broadcast_registry=self._stale_broadcasts,
            )
        else:
            return cand.join(seen, cand["__surt"] == seen["surt"], "left_anti")
        sure_new = flagged.where(~F.col("__in_bloom")).drop("__in_bloom")
        maybe = flagged.where(F.col("__in_bloom")).drop("__in_bloom")
        checked = maybe.join(
            seen, maybe["__surt"] == seen["surt"], "left_anti"
        )
        return sure_new.unionByName(checked)

    def _politeness_select(self, allowed: DataFrame) -> DataFrame:
        """→ selected. Per-host budget window; the SQL-oracle-checkable core
        of the scheduler (see entry_queries politeness query). Rows beyond
        the budget need no explicit carry: they stay in the delta log and
        re-surface from the next round's merge-on-read scan.

        Skew: a Zipf-hot host can hold a large share of the frontier, and a
        single ``partitionBy(host)`` window serializes that whole host into
        one task (measured: the hottest synthetic host carries ~28% of rows
        → the window stage's wall time is flat in the core count). With
        ``salt_hot_hosts > 1`` selection runs as an exact two-phase top-k:
        phase 1 ranks within (host, salt=hash(urim)%S) partitions and keeps
        only ``budget`` rows per salted queue — parallel across salts —
        so phase 2's authoritative per-host window sees ≤ budget·S rows per
        host instead of the full queue. Same selected set, same order:
        any row in the true per-host top-budget is in its salt's top-budget.

        With ``cfg.round_seconds`` set and a ``crawl_delay`` column present
        (robots_gate carries it), the per-host cap becomes
        ``min(budget, max(1, floor(round_seconds / crawl_delay)))`` — the
        crawl-delay directive translated into this engine's round-batched
        schedule (delay ≤ 0 / absent → plain budget; the max(1,…) floor
        guarantees progress). crawl_delay is constant per host, so the cap
        is still a single window filter."""
        budget = F.lit(self.cfg.per_host_budget)
        if self.cfg.round_seconds and "crawl_delay" in allowed.columns:
            by_delay = F.floor(
                F.lit(float(self.cfg.round_seconds)) / F.col("crawl_delay")
            ).cast("int")
            budget = F.when(
                F.col("crawl_delay") > 0,
                F.least(budget, F.greatest(F.lit(1), by_delay)),
            ).otherwise(budget)
        w = Window.partitionBy("host").orderBy(
            F.col("priority").desc(), F.col("urim").asc()
        )
        if self.cfg.salt_hot_hosts > 1:
            salt = F.pmod(F.xxhash64(F.col("urim")), F.lit(self.cfg.salt_hot_hosts))
            w1 = Window.partitionBy("host", "__salt").orderBy(
                F.col("priority").desc(), F.col("urim").asc()
            )
            allowed = (
                allowed.withColumn("__salt", salt)
                .withColumn("__rn1", F.row_number().over(w1))
                .where(F.col("__rn1") <= budget)
                .drop("__rn1", "__salt")
            )
        return (
            allowed.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= budget)
            .drop("__rn")
        )

    def _fetch(self, selected: DataFrame, rnd: int) -> DataFrame:
        fetched = selected.join(
            self.web.select(
                "urim", "memento_datetime", "damage", "image_id", "outlinks"
            ),
            "urim",
        )
        if self.images is not None:
            # NOT broadcast: the payload dim carries image bytes (tens of MB
            # per 1k images at sandbox scale, unbounded at 10^10), and a
            # broadcast would be rebuilt from the driver EVERY round. A
            # shuffle join touches only this round's selected rows; callers
            # that persist images pre-partitioned by image_id (bench does)
            # pay no images-side shuffle at all.
            #
            # The explicit fixed-width repartition matters: AQE coalesces
            # post-shuffle partitions by the MAP-side bytes of the selected
            # rows (a few MB of keys), but the join ATTACHES the payload —
            # 20 KB/row — so without it the decode/verify UDF runs on ~5
            # tasks no matter how many cores exist (measured: local[8] ==
            # local[32] wall time). A user-specified partition count is
            # exempt from AQE coalescing and co-locates with the persisted
            # images partitioning.
            par = self.spark.sparkContext.defaultParallelism
            fetched = fetched.repartition(par, "image_id").join(
                self.images.hint("shuffle_hash"), "image_id", "left"
            )
            if self.cfg.verify_payload:
                # input_hint per-row fidelity, computed in the fetch stage
                # itself (Arrow-batched, rides the fetched rows in place)
                from hypercane_spark.operators.multimodal import (
                    payload_verify_udf,
                )

                capture = self.errors is not None
                v = payload_verify_udf(
                    psnr_sample_mod=self.cfg.psnr_sample_mod,
                    capture_errors=capture,
                )(
                    F.col("image_id"), F.col("bytes"), F.col("phash")
                )
                fields = ["__v.phash_ok", "__v.psnr_db"] + (
                    ["__v.err"] if capture else []
                )
                fetched = fetched.withColumn("__v", v).select(
                    "*", *fields
                ).drop("__v")
                if capture:
                    fetched = fetched.withColumnRenamed("err", "fetch_err")
        return (
            fetched.withColumn("round", F.lit(rnd))
            .withColumn("fetch_ts", F.current_timestamp())
            .withColumn("http_status", F.lit(200))
            .withColumn("partition_id", F.spark_partition_id())
        )

    def _extract_links(self, fetched: DataFrame, seen: DataFrame) -> DataFrame:
        """This round's link delta: outlinks within the depth limit, in the
        frontier column order of ``seed_frontier``, duplicate discoveries
        folded by ``merge_discoveries``, already-seen urims dropped."""
        links = (
            fetched.select(
                F.col("urim").alias("discovered_from"),
                F.col("depth").alias("__pd"),
                F.explode("outlinks").alias("urim"),
            )
            .where(F.col("__pd") + 1 <= self.cfg.max_depth)
            .join(self.web.select("urim", "urir", "host", "priority"), "urim")
            .select(
                "urim", "urir", "host", "priority",
                (F.col("__pd") + 1).cast("int").alias("depth"),
                "discovered_from",
                surt_key(F.col("urim")).alias("__surt"),
            )
        )
        links = merge_discoveries(links)
        links = links.join(seen, links["__surt"] == seen["surt"], "left_anti")
        return links.drop("__surt")

    def _start_phase(self, seeds: DataFrame, resume: bool) -> tuple[int, DataFrame]:
        """→ (first round, seen). Resume continues after the latest complete
        checkpointed round and rebuilds the seen-filter from its seen set;
        otherwise the seed frontier is snapshotted and filters reset."""
        rounds = self.ckpt.rounds() if resume else []
        if rounds:
            seen = self.ckpt.read_seen(self.spark, rounds[-1])
            if self.cfg.use_bloom and not seen.isEmpty():
                self._rebuild_filter(seen)
            return rounds[-1] + 1, seen
        # one-time seed snapshot — the 'round -1' frontier delta; every
        # round's merge-on-read scan starts from it
        self.ckpt.write_seeds(self.seed_frontier(seeds))
        # fresh run: no filter may carry over from a previous run() on this
        # engine — a stale prefilter covering old keys is harmless for
        # bloom (false positives only) but the sharded handle would leak
        # its files and a stale cuckoo could give false negatives on a
        # reseeded crawl
        self._bloom = None
        if self._sharded is not None:
            self._sharded.unpersist()
            self._sharded = None
        self._cuckoo = None
        return 0, self.empty_seen()

    def _rebuild_filter(self, seen: DataFrame) -> None:
        """The prefilter must cover the ENTIRE checkpointed seen set — a
        fresh filter holding only post-resume keys would test pre-resume
        URLs "sure new" and re-fetch them (skipping the exact backstop)."""
        if self.cfg.seen_filter == "cuckoo":
            self._cuckoo = build_cuckoo(
                seen, "surt", capacity=self.cfg.cuckoo_capacity
            )
        elif self._shards() > 0:
            self._sharded = build_sharded_bloom(
                seen,
                "surt",
                self._shards(),
                self._bits_per_shard(),
                self.cfg.bloom_hashes,
                root=self._filter_root(),
            )
        else:
            self._bloom = build_bloom(
                seen, "surt", self.cfg.bloom_bits, self.cfg.bloom_hashes
            )

    def _plan_phase(self, rnd: int, seen: DataFrame, m: RoundMetrics) -> DataFrame:
        """Dedup + schedule → this round's selected rows (persisted).

        MERGE-ON-READ: the frontier is never materialized as a table. Each
        round reconstructs it lazily from the append-only delta log — seed
        snapshot ∪ per-round link deltas — seen-filtered row-wise (bloom/
        cuckoo prefilter + exact anti-join backstop), then folded by
        ``merge_discoveries``. Filtering first is a manual pushdown of the
        seen anti-join through the aggregate (legal because seen is keyed
        on surt(urim): a urim's copies are all-seen or all-new), so rows
        already fetched never enter the merge shuffle — at steady state
        most log rows ARE seen. The plan is constant-depth whatever the
        round count (a multi-path file scan + one shuffle).

        The seen-dedup is left lazy: its work folds into the fetch job.
        An empty selection subsumes the candidates == 0 stop (selected ⊆
        candidates, and a nonzero robots-allowed set always selects ≥ 1
        under budget ≥ 1), so no separate count action is needed."""
        t0 = time.time()
        log = self.ckpt.read_frontier_log(self.spark, rnd - 1)
        cand = merge_discoveries(self._not_seen(log, seen))
        if self.cfg.collect_metrics:
            m.candidates = cand.count()
        m.timings["dedup"] = time.time() - t0

        t = time.time()
        # crawl_delay must survive until AFTER _politeness_select — the
        # round_seconds cap reads it there (dropping it here made the
        # per-host crawl-delay budget a silent no-op)
        allowed = (
            robots_gate(cand, self.robots, url="urir", host="host")
            if self.robots is not None
            else cand
        )
        selected = self._politeness_select(allowed)
        if "crawl_delay" in selected.columns:
            selected = selected.drop("crawl_delay")
        selected = selected.persist()
        m.timings["schedule"] = time.time() - t
        return selected

    def _fetch_phase(
        self, rnd: int, selected: DataFrame, m: RoundMetrics
    ) -> DataFrame:
        """Fetch + verify runs ONCE, its payload rows land directly in the
        round's ``fetched.parquet``, and the returned in-flight view is the
        disk-backed read — downstream link extraction prunes the `bytes`
        column at the scan, so ~20 KB/row of pixels never sits in executor
        memory (persisting them as JVM objects caused round-0 GC storms).

        The fetched count rides the write job as an observe() metric — no
        separate count job. selected ⊆ web, so |fetched| == |selected|
        (inner join on urim; payload join is left)."""
        t = time.time()
        fetched_full = self._fetch(selected.drop("__surt"), rnd)
        obs = Observation()
        obs_metrics = [F.count(F.lit(1)).alias("n")]
        if "fetch_err" in fetched_full.columns:
            obs_metrics.append(
                F.sum(F.col("fetch_err").isNotNull().cast("long")).alias("n_err")
            )
        self.ckpt.write_fetched(rnd, fetched_full.observe(obs, *obs_metrics))
        fetched = self.ckpt.read_fetched(self.spark, rnd)
        if self.errors is not None and "fetch_err" in fetched.columns:
            # skip-not-abort: poisoned payloads land in the errors table
            # and drop out of the crawl output; their surts are still
            # marked seen (via selected) so they are never retried — the
            # reference's record-and-skip contract.
            bad = fetched.where(F.col("fetch_err").isNotNull())
            self.errors.record(
                bad.select(
                    F.col("urim").alias("uri"),
                    F.lit("fetch").alias("stage"),
                    F.col("fetch_err").alias("traceback"),
                )
            )
            fetched = fetched.where(F.col("fetch_err").isNull()).drop(
                "fetch_err"
            )
        row = obs.get  # dict of observed metrics
        n_err = int(row.get("n_err") or 0) if self.errors else 0
        m.fetched = int(row["n"]) - n_err
        m.timings["fetch"] = time.time() - t
        return fetched

    def _update_filter(self, selected: DataFrame) -> None:
        """O(selected) incremental seen-filter update."""
        if not self.cfg.use_bloom:
            return
        keys = selected.select(F.col("__surt").alias("surt"))
        if self.cfg.seen_filter == "cuckoo":
            # (fp, bucket) pairs computed partition-wise (JVM hash +
            # vectorized derive), one batch insert on the driver — no
            # per-row Python (mirrors the bloom's per-partition build)
            if self._cuckoo is None:
                self._cuckoo = CuckooFilter(capacity=self.cfg.cuckoo_capacity)
            if not self._cuckoo.full and not cuckoo_add_df(
                self._cuckoo, keys, "surt"
            ):
                warnings.warn(
                    "cuckoo seen-filter is full; disabling the prefilter "
                    "(exact anti-join only) for the rest of the crawl — "
                    "raise cuckoo_capacity",
                    stacklevel=2,
                )
        elif self._shards() > 0:
            # incremental OR into the distributed (shard, bits) table; the
            # stale table is unpersisted inside or_update so executor
            # storage holds exactly one filter
            if self._sharded is None:
                self._sharded = build_sharded_bloom(
                    keys,
                    "surt",
                    self._shards(),
                    self._bits_per_shard(),
                    self.cfg.bloom_hashes,
                    root=self._filter_root(),
                )
            else:
                self._sharded = sharded_bloom_or_update(
                    self._sharded, keys, "surt"
                )
        else:
            # OR-composed into the running filter
            self._bloom = bloom_or(
                self._bloom,
                build_bloom(
                    keys, "surt", self.cfg.bloom_bits, self.cfg.bloom_hashes
                ),
            )

    def _commit_phase(
        self,
        rnd: int,
        selected: DataFrame,
        fetched: DataFrame,
        seen: DataFrame,
        m: RoundMetrics,
    ) -> DataFrame:
        """Links + checkpoint → the seen set after round ``rnd``.

        Durable state is APPEND-ONLY on both axes: this round's newly-seen
        surts AND its newly-discovered links (the frontier delta). The
        merged frontier is never written (or cached) anywhere; the next
        round's merge-on-read scan consumes these files directly."""
        t = time.time()
        # this round's seen delta is the selected surts (distinct within
        # the round; disjoint from `seen` by construction — every candidate
        # passed the seen anti-join, and the bloom/cuckoo prefilters have
        # no false negatives on the paths that skip it)
        delta = selected.select(F.col("__surt").alias("surt")).distinct()
        links = self._extract_links(fetched, seen.unionByName(delta))
        m.timings["links"] = time.time() - t

        t = time.time()
        # The filter update reads only `selected` (persisted) and is
        # consumed no earlier than next round's _not_seen, while the writes
        # read fetched/seen — independent inputs, so they run concurrently
        # and their job latencies overlap.
        with ThreadPoolExecutor(max_workers=2) as ex:
            fut_f = ex.submit(self._update_filter, selected)
            fut_w = ex.submit(
                self.ckpt.write,
                rnd,
                links,
                delta,
                {"candidates": m.candidates, "fetched": m.fetched, "timings": m.timings},
            )
            fut_f.result()
            fut_w.result()
        if self.cfg.compact_every and (rnd + 1) % self.cfg.compact_every == 0:
            # fold the delta chain ≤ rnd into full snapshots and prune the
            # subsumed delta dirs. Safe in-loop: every state DataFrame is
            # rebuilt from _axis_paths at its next use, which sees the
            # snapshot.
            self.ckpt.compact(self.spark, rnd, prune=True)
        # constant-depth file-backed seen view (no union lineage)
        seen = self.ckpt.read_seen(self.spark, rnd)
        m.timings["checkpoint"] = time.time() - t
        return seen

    def run(
        self,
        seeds: DataFrame,
        resume: bool = False,
    ) -> DataFrame:
        """Run the crawl; returns the fetched-mementos table (all rounds).
        Each round persists its frontier/seen deltas and fetched rows to the
        checkpoint; ``resume=True`` continues from the latest complete
        round."""
        start_round, seen = self._start_phase(seeds, resume)
        fetched_parts: list[DataFrame] = []
        tracker = self.spark.sparkContext.statusTracker()
        for rnd in range(start_round, self.cfg.max_rounds):
            m = RoundMetrics(round=rnd)
            # jobs/round: the engine sets no job group, so every job (main
            # thread AND writer threads) lands in the default group
            last_job = _last_job_id(tracker)
            selected = self._plan_phase(rnd, seen, m)
            fetched = self._fetch_phase(rnd, selected, m)
            # fetched == 0 with selected > 0 happens when user-supplied
            # seeds miss the web table (or every payload errored): those
            # rows must still be marked seen and the rest keep crawling,
            # so only a genuinely empty selection stops the engine
            if m.fetched == 0 and selected.isEmpty():
                selected.unpersist(blocking=False)
                break
            seen = self._commit_phase(rnd, selected, fetched, seen, m)
            if self.cfg.collect_metrics:
                m.seen_size = seen.count()
            m.jobs = sum(
                j > last_job for j in tracker.getJobIdsForGroup(None)
            )
            if m.fetched:
                fetched_parts.append(fetched)
            self.metrics.append(m)
            # round state now lives in the checkpoint; dropping the
            # per-round selected cache keeps storage memory flat
            selected.unpersist(blocking=False)
            self._drop_stale_broadcasts()

        self._drop_stale_broadcasts()  # covers the break-on-empty path
        if not fetched_parts:
            return self.spark.createDataFrame([], FRONTIER_SCHEMA + ", round int")
        out = fetched_parts[0]
        for p in fetched_parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # ------------------------------------------------------------ contract

    def pop_order(self, fetched: DataFrame) -> list[str]:
        """The crawl-order fidelity contract: global pop order =
        (round asc, priority desc, urim asc)."""
        return [
            r["urim"]
            for r in fetched.select("round", "priority", "urim")
            .orderBy(F.col("round").asc(), F.col("priority").desc(), F.col("urim").asc())
            .collect()
        ]

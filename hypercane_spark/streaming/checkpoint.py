"""Round-level checkpoint/resume for the crawl engine.

Layout:

    <base>/seeds.parquet                  (one-time seed frontier snapshot)
    <base>/round=N/frontier_delta.parquet (ONLY links discovered round N)
    <base>/round=N/seen_delta.parquet     (ONLY surts first seen round N)
    <base>/round=N/fetched.parquet        (per-round fetch output + lineage;
                                           fetch_err = traceback of a payload
                                           that failed, else null)
    <base>/round=N/manifest.json          (counts + per-stage timings;
                                           written last = commit marker)
    <base>/round=N/frontier.parquet ┐ full snapshots, written by compact()
    <base>/round=N/seen.parquet     ┘

Both state axes are APPEND-ONLY: each round persists only its delta (seen:
the surts selected that round, disjoint from all earlier rounds by the
frontier's anti-join; frontier: the links discovered that round), and the
reader reconstructs from the newest full snapshot forward — one multi-path
parquet scan per axis — so the per-round write is O(new state), not
O(state). ``compact()`` (or ``CrawlConfig.compact_every``) periodically
folds the delta chain into full snapshots so the scan's file count stays
bounded on long crawls.

Resume reads the highest complete round (or any explicit round) and
reconstructs frontier + seen exactly — the BASELINE.md resume criterion.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hypercane_spark.errors import ERRORS_SCHEMA
from hypercane_spark.streaming.storage import DEFAULT_STORE, ParquetStateStore

# the merge aggregate per column; every other column takes first()
_MERGE_AGG = {"priority": F.max, "depth": F.min, "discovered_from": F.min}


def merge_discoveries(df: DataFrame) -> DataFrame:
    """Fold duplicate discoveries of a urim into one frontier row: max
    priority, min depth, min discovered_from, first of every other column
    (urir/host are functions of urim). Associative and order-free, so the
    frontier log can be folded in any grouping. Keeps ``df``'s column
    order."""
    return (
        df.groupBy("urim")
        .agg(
            *[
                _MERGE_AGG.get(c, F.first)(c).alias(c)
                for c in df.columns
                if c != "urim"
            ]
        )
        .select(*df.columns)
    )


class RoundCheckpoint:
    def __init__(self, base: str, store: ParquetStateStore | None = None):
        # every read/write/list/publish below routes through ``store``
        # (streaming/storage.py), so storage can be wrapped — for call
        # counting or fault injection — without touching engine code
        self.base = base
        self.store = store or DEFAULT_STORE
        self.store.ensure_base(base)

    def _dir(self, rnd: int) -> str:
        return os.path.join(self.base, f"round={rnd}")

    def write_seeds(self, seed_frontier: DataFrame) -> None:
        """One-time snapshot of the seed frontier (the 'round -1 delta').
        Reconstruction = merge(seeds ∪ all frontier deltas) − seen."""
        self.store.write_table(
            seed_frontier, os.path.join(self.base, "seeds.parquet")
        )

    def write(
        self,
        rnd: int,
        frontier_delta: DataFrame,
        seen_delta: DataFrame,
        metrics: dict,
    ) -> None:
        """Commit round ``rnd``: its two APPEND-ONLY deltas, then the
        manifest.

        - ``seen_delta``: only surts first seen THIS round (the reader
          unions deltas across rounds).
        - ``frontier_delta``: only the links DISCOVERED this round (plus
          the one-time ``seeds.parquet``). The reader rebuilds the frontier
          with one multi-path scan + ``merge_discoveries``, then drops
          seen rows. Rows a static robots table would block are re-dropped
          by robots_gate at the first resumed round, exactly as in-loop.

        The round's fetched rows are written earlier, by ``write_fetched``."""
        d = self._dir(rnd)
        # independent tables → concurrent jobs (Spark's scheduler interleaves
        # them across the same executors; the driver threads just overlap
        # the per-job fixed latency)
        jobs = [
            (frontier_delta, os.path.join(d, "frontier_delta.parquet")),
            (seen_delta, os.path.join(d, "seen_delta.parquet")),
        ]
        with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
            futs = [
                ex.submit(self.store.write_table, df, p) for df, p in jobs
            ]
            for f in futs:
                f.result()
        # manifest written last = commit marker (atomic rename)
        self.store.put_manifest(
            os.path.join(d, "manifest.json"), {"round": rnd, **metrics}
        )

    def write_fetched(self, rnd: int, fetched: DataFrame) -> None:
        """Write the round's full fetched-mementos rows (incl. payload
        bytes) at fetch time; the engine then re-reads a column-pruned view
        so pixels never sit in executor memory."""
        self.store.write_table(
            fetched, os.path.join(self._dir(rnd), "fetched.parquet")
        )

    def read_fetched(self, spark: SparkSession, rnd: int) -> DataFrame:
        """The round's fetched rows, as ``run()`` emitted them: a row whose
        payload failed (``fetch_err`` set) is left to ``read_errors``."""
        return (
            self.store.read_table(
                spark, os.path.join(self._dir(rnd), "fetched.parquet")
            )
            .where(F.col("fetch_err").isNull())
            .drop("fetch_err")
        )

    def read_errors(self, spark: SparkSession) -> DataFrame:
        """Payloads the crawl recorded and skipped in committed rounds, as
        ``errors.ERRORS_SCHEMA`` rows. They live only in ``fetched.parquet``
        (kept by ``compact``): a resumed crawl records each once."""
        paths = [
            os.path.join(self._dir(r), "fetched.parquet") for r in self.rounds()
        ]
        if not paths:
            return spark.createDataFrame([], ERRORS_SCHEMA)
        return (
            self.store.read_table(spark, *paths)
            .where(F.col("fetch_err").isNotNull())
            .select(
                F.col("urim").alias("uri"),
                F.lit("fetch").alias("stage"),
                F.col("fetch_err").alias("traceback"),
                F.col("fetch_ts").alias("ts"),
            )
        )

    def rounds(self) -> list[int]:
        out = []
        for name in self.store.list_children(self.base):
            if name.startswith("round=") and self.store.manifest_exists(
                os.path.join(self.base, name, "manifest.json")
            ):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def compact(
        self, spark: SparkSession, rnd: int | None = None, prune: bool = False
    ) -> int:
        """Fold the delta chain ≤ ``rnd`` into full snapshots at ``rnd``.

        Append-only deltas keep the per-round write O(new state), but a
        long crawl accumulates one delta directory per round per axis, so
        the scan's file-listing and small-file overhead grows linearly with
        crawl length. Compaction rewrites the reconstruction
        (``frontier.parquet`` = merge − seen, ``seen.parquet`` = delta
        union) at round ``rnd``; the reader's newest-full-snapshot-forward
        rule then starts from the snapshot and touches only later deltas.

        Crash-safe: snapshots land via temp-dir + atomic rename, deltas
        stay authoritative until both renames complete. ``prune=True``
        removes the subsumed delta dirs and the seed snapshot — after
        pruning, ``read()`` at rounds < ``rnd`` is no longer possible
        (manifest history is kept). Returns the compacted round."""
        rounds = self.rounds()
        if not rounds:
            raise FileNotFoundError(f"no complete rounds under {self.base}")
        rnd = rounds[-1] if rnd is None else rnd
        _, frontier, seen = self.read(spark, rnd)
        d = self._dir(rnd)
        staged = []
        for df, name in ((frontier, "frontier.parquet"), (seen, "seen.parquet")):
            tmp = os.path.join(d, f".{name}.compact.tmp")
            self.store.write_table(df, tmp)
            staged.append((tmp, os.path.join(d, name)))
        for tmp, final in staged:  # both written → flip (publish per axis)
            self.store.publish(tmp, final)
        if prune:
            for r in rounds:
                if r > rnd:
                    continue
                for name in ("frontier_delta.parquet", "seen_delta.parquet"):
                    self.store.remove_table(os.path.join(self._dir(r), name))
                if r < rnd:
                    for name in ("frontier.parquet", "seen.parquet"):
                        self.store.remove_table(
                            os.path.join(self._dir(r), name)
                        )
            self.store.remove_table(os.path.join(self.base, "seeds.parquet"))
        return rnd

    def read(
        self, spark: SparkSession, rnd: int | None = None
    ) -> tuple[int, DataFrame, DataFrame]:
        """→ (round, frontier, seen). rnd=None → latest complete round.

        Both state axes read as **newest full snapshot ≤ rnd, then deltas
        after it** (one multi-path scan each): seen = snapshot ∪ later
        ``seen_delta`` dirs; frontier = ``merge_discoveries``(snapshot — or
        seeds when no snapshot exists — ∪ later ``frontier_delta`` dirs),
        minus seen (surt anti-join).

        This reconstruction is not a resume-only path: every round's
        frontier in the engine IS this formula over the delta log (see
        frontier.py), so resume and the in-loop state are the same
        computation by construction."""
        rounds = self.rounds()
        if not rounds:
            raise FileNotFoundError(f"no complete rounds under {self.base}")
        rnd = rounds[-1] if rnd is None else rnd
        seen = self.read_seen(spark, rnd)
        frontier = self._drop_seen(
            merge_discoveries(self.read_frontier_log(spark, rnd)), seen
        )
        return rnd, frontier, seen

    def _axis_paths(
        self, full_name: str, delta_name: str, upto: int
    ) -> list[str]:
        """Newest full snapshot ≤ upto, then that axis's delta dirs after
        it — the multi-path scan list for one state axis."""
        rounds = self.rounds()
        fulls = [
            r
            for r in rounds
            if r <= upto
            and self.store.table_exists(os.path.join(self._dir(r), full_name))
        ]
        base_r = max(fulls) if fulls else None
        paths: list[str] = []
        if base_r is not None:
            paths.append(os.path.join(self._dir(base_r), full_name))
        paths += [
            p
            for r in rounds
            if r <= upto and (base_r is None or r > base_r)
            for p in [os.path.join(self._dir(r), delta_name)]
            if self.store.table_exists(p)
        ]
        return paths

    def read_seen(self, spark: SparkSession, upto: int) -> DataFrame:
        """seen surts after round ``upto`` = newest full snapshot ∪ later
        deltas. Empty DataFrame when nothing is checkpointed yet."""
        paths = self._axis_paths("seen.parquet", "seen_delta.parquet", upto)
        if not paths:
            return spark.createDataFrame([], "surt string")
        return self.store.read_table(spark, *paths)

    def read_frontier_log(self, spark: SparkSession, upto: int) -> DataFrame:
        """RAW frontier log through round ``upto``: newest full snapshot
        (or the seed snapshot) ∪ later per-round link deltas — one
        multi-path file scan, duplicates across rounds NOT yet folded.
        Constant-depth plan whatever the round count. The engine filters
        this row-wise against seen BEFORE ``merge_discoveries`` (seen is
        keyed on surt(urim), so a urim's copies are all-seen or all-new —
        the pushdown cannot change the merged result, it only keeps
        already-fetched rows out of the merge shuffle)."""
        paths = self._axis_paths(
            "frontier.parquet", "frontier_delta.parquet", upto
        )
        if not any(p.endswith("frontier.parquet") for p in paths) and (
            self.store.table_exists(os.path.join(self.base, "seeds.parquet"))
        ):
            paths.insert(0, os.path.join(self.base, "seeds.parquet"))
        return self.store.read_table(spark, *paths)

    @staticmethod
    def _drop_seen(merged: DataFrame, seen: DataFrame) -> DataFrame:
        from hypercane_spark.functions.urls import surt_key

        return (
            merged.withColumn("__surt", surt_key(F.col("urim")))
            .join(seen, F.col("__surt") == seen["surt"], "left_anti")
            .drop("__surt")
        )

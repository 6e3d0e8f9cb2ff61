"""Sharded Bloom + Cuckoo membership filters for the URL-seen set.

Replaces the reference's O(n) list-membership dedup
(/root/reference/hypercane/identify/archivecrawl.py:13-24 — ``if item not
in storage`` over a Python list) with scale-free structures:

- **Bloom**: k bit positions per key are computed *JVM-side*
  (xxhash64(surt ':' i) % bits — pure column expressions). Two builds:
  the design-scale **ShardedBloom** (shard = pmod(xxhash64(surt), S); the
  filter is a distributed (shard, bits) table, built/merged/tested by the
  tasks owning each shard — at 10^10 URLs a 10-bits/key filter is
  ~12.5 GB, sharded 64 ways each task holds ~200 MB, and the driver never
  holds a bitmap), and the small-scale monolithic ``build_bloom`` (one
  driver array + broadcast — kept for tests and small crawls; its
  broadcast handles must be destroyed by the caller each round).
- **Cuckoo**: bucketed 16-bit fingerprints with 2-choice + eviction;
  supports deletion (bloom cannot), used for the in-flight frontier
  window where URLs leave the set after fetch.

Both are probabilistic prefilters; the exactness backstop is a LEFT ANTI
JOIN against the persisted ``seen`` table (frontier.py) so false positives
never drop a URL silently — they only cost one extra join row.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bloom_positions(key: Column, num_bits: int, num_hashes: int) -> Column:
    """array<long>[num_hashes] of bit positions for a key — JVM-side."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.concat(key, F.lit(f":{i}"))), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


def build_bloom(
    df: DataFrame, key: str | Column, num_bits: int = 1 << 20, num_hashes: int = 5
) -> bytes:
    """Build a Bloom filter over a key column.

    Bit positions are computed by Catalyst; bit-setting is one vectorized
    numpy scatter per Arrow batch (mapInPandas — never row-at-a-time
    Python), emitting ONE bitmap row per partition, OR-reduced on the
    driver. Bloom filters are OR-composable: callers maintaining an
    incremental seen-filter build over only the NEW keys per round and
    ``bloom_or`` the result into their running filter."""
    key_col = F.col(key) if isinstance(key, str) else key
    pos_df = df.select(bloom_positions(key_col, num_bits, num_hashes).alias("p"))

    nbytes = (num_bits + 7) // 8

    def to_bits(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        arr = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for pdf in it:
            if not len(pdf):
                continue
            any_rows = True
            pos = np.concatenate(
                [np.asarray(p, dtype=np.int64) for p in pdf["p"]]
            )
            # ufunc.at: unbuffered, so duplicate byte indices OR correctly
            # (fancy-indexed |= keeps only one write per duplicate index)
            np.bitwise_or.at(
                arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8)
            )
        if any_rows:
            yield pd.DataFrame({"b": [arr.tobytes()]})

    parts = pos_df.mapInPandas(to_bits, schema="b binary").collect()
    out = np.zeros(nbytes, dtype=np.uint8)
    for row in parts:
        out |= np.frombuffer(row["b"], dtype=np.uint8)
    return out.tobytes()


def bloom_or(a: bytes | None, b: bytes | None) -> bytes | None:
    """OR-compose two bloom filters of the same geometry."""
    if a is None:
        return b
    if b is None:
        return a
    return (
        np.frombuffer(a, dtype=np.uint8) | np.frombuffer(b, dtype=np.uint8)
    ).tobytes()


def bloom_might_contain(
    df: DataFrame,
    key: str | Column,
    bloom: bytes,
    num_bits: int,
    num_hashes: int,
    out: str = "__in_bloom",
    broadcast_registry: "list | None" = None,
) -> DataFrame:
    """Add a boolean column: True when the key *might* be in the filter.

    Positions computed JVM-side; the broadcast bit-array test is one
    vectorized numpy gather per Arrow batch.

    Each call ships ONE fresh broadcast of the whole filter — callers in a
    loop must pass ``broadcast_registry`` (the handle is appended) and
    destroy stale handles once the returned plan has been evaluated, or
    broadcasts accumulate for the life of the app (CrawlEngine does this
    per round; the ShardedBloom path has no broadcast at all)."""
    key_col = F.col(key) if isinstance(key, str) else key
    work = df.withColumn("__pos", bloom_positions(key_col, num_bits, num_hashes))
    spark = df.sparkSession
    b_bloom = spark.sparkContext.broadcast(np.frombuffer(bloom, dtype=np.uint8))
    if broadcast_registry is not None:
        broadcast_registry.append(b_bloom)

    from pyspark.sql.types import BooleanType, StructField, StructType

    schema = StructType(list(work.schema.fields) + [StructField(out, BooleanType())])

    def check(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        arr = b_bloom.value
        for pdf in it:
            pos = np.stack(pdf["__pos"].to_numpy())  # (n, k)
            bits = (arr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            pdf[out] = bits.all(axis=1)
            yield pdf

    return work.mapInPandas(check, schema=schema).drop("__pos")


# ----------------------------------------------------------- sharded bloom
#
# The design-scale shape the module header promises (and the monolithic
# build_bloom above cannot deliver): at 10^10 URLs a 10-bits/key filter is
# ~12.5 GB — too big for one driver array, far too big to re-broadcast
# every round. Sharded, the filter is a DISTRIBUTED table
# ``(shard int, bits binary)`` with ``num_shards`` rows:
#
# - shard ownership:  shard = pmod(xxhash64(surt), S) — computed JVM-side
# - build:            groupBy(shard).applyInPandas — each shard's bitmap is
#                     scattered by the one task that owns the shard and
#                     written as parquet; the DRIVER NEVER HOLDS A BITMAP
# - incremental OR:   APPEND-ONLY — each update writes only the new keys'
#                     per-shard delta bitmaps (one O(new keys) job); the
#                     logical filter is the OR over all delta files, folded
#                     lazily inside the membership check. Periodic
#                     compaction (every ``compact_after`` deltas) rewrites
#                     one full snapshot and prunes the deltas — the same
#                     merge-on-read + compact design as the frontier log.
# - membership:       candidates cogrouped with the filter table on shard;
#                     each task ORs/gathers ONLY the shard bitmaps it owns
#                     (memory per task = shards/task × shard bytes ×
#                     ≤compact_after deltas, never total bits), vectorized
#                     numpy per group
#
# No broadcast exists anywhere on this path, so there is nothing to leak
# or re-ship per round. False-negative-freedom is per-shard (same bloom
# property), so the exact anti-join backstop contract is unchanged.


def shard_of(key: Column, num_shards: int) -> Column:
    """Shard ownership: pmod(xxhash64(key), S) — pure Catalyst."""
    return F.pmod(F.xxhash64(key), F.lit(num_shards)).cast("int")


def _shard_positions(key: Column, bits_per_shard: int, num_hashes: int) -> Column:
    """Within-shard bit positions (independent hash family from shard_of:
    position hashes fold in a per-index salt, the shard hash does not)."""
    return bloom_positions(key, bits_per_shard, num_hashes)


class ShardedBloom:
    """Handle for a sharded bloom filter: the geometry + the distributed
    ``(shard, bits)`` table.

    The state is an APPEND-ONLY parquet delta log under ``root``
    (``v000000`` snapshot + ``d000001``… deltas): each or_update writes
    only the new keys' shard bitmaps, the logical filter is the OR over
    all files (folded inside the membership check), and every
    ``compact_after`` deltas the log is rewritten as one snapshot.
    Lineage is a constant-depth multi-path file scan whatever the round
    count, and nothing lives in driver memory, executor cache, or a
    broadcast. (A localCheckpoint would also truncate lineage, but its
    persisted RDDs bypass the CacheManager — ``DataFrame.unpersist``
    can't free them, so stale copies accumulate across rounds; files are
    trivially deletable. On a real cluster ``root`` must be shared
    storage — the Iceberg analog is an append table with periodic
    rewrite_data_files.)"""

    def __init__(
        self,
        table: DataFrame,
        num_shards: int,
        bits_per_shard: int,
        num_hashes: int,
        root: str,
        paths: "list[str]",
        version: int = 0,
        compact_after: int = 8,
        store=None,
    ):
        from hypercane_spark.streaming.storage import DEFAULT_STORE

        self.table = table
        self.num_shards = num_shards
        self.bits_per_shard = bits_per_shard
        self.num_hashes = num_hashes
        self.root = root
        self.paths = paths
        self.version = version
        self.compact_after = compact_after
        # physical binding (streaming/storage.py; parquet delta log by
        # default) — all filter IO routes through it
        self.store = store or DEFAULT_STORE

    def unpersist(self) -> None:
        """Delete the filter's files entirely (end-of-crawl cleanup)."""
        for pth in {self.root, *self.paths}:
            self.store.remove_table(pth)


def _version_path(root: str, version: int, kind: str = "v") -> str:
    import os

    return os.path.join(root, f"{kind}{version:06d}")


def _build_shard_table(
    df: DataFrame, key: str | Column, num_shards: int,
    bits_per_shard: int, num_hashes: int,
) -> DataFrame:
    """(shard, bits) rows for the keys present in df — at most one row per
    shard, built by the task owning the shard (groupBy shuffle on shard)."""
    key_col = F.col(key) if isinstance(key, str) else key
    pos_df = df.select(
        shard_of(key_col, num_shards).alias("shard"),
        _shard_positions(key_col, bits_per_shard, num_hashes).alias("p"),
    )
    nbytes = (bits_per_shard + 7) // 8

    def scatter(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros(nbytes, dtype=np.uint8)
        pos = np.concatenate([np.asarray(p, dtype=np.int64) for p in pdf["p"]])
        np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bits": [arr.tobytes()]}
        )

    return pos_df.groupBy("shard").applyInPandas(
        scatter, schema="shard int, bits binary"
    )


def build_sharded_bloom(
    df: DataFrame,
    key: str | Column,
    num_shards: int = 64,
    bits_per_shard: int = 1 << 16,
    num_hashes: int = 5,
    root: str | None = None,
    compact_after: int = 8,
    store=None,
) -> ShardedBloom:
    """Build a sharded bloom filter over a key column, materialized as ≤S
    small parquet rows under ``root`` (a fresh temp dir when omitted —
    pass a shared-storage path on a real cluster). Constant-depth lineage,
    nothing on the driver. ``store`` selects the physical binding
    (streaming/storage.py; parquet delta log by default)."""
    from hypercane_spark.streaming.storage import DEFAULT_STORE

    store = store or DEFAULT_STORE
    if root is None:
        import tempfile

        root = tempfile.mkdtemp(prefix="sharded_bloom_")
    # the dir is dedicated to this filter: clear stale versions left
    # by a previous run before (re)building v0
    store.remove_table(root)
    path = _version_path(root, 0)
    store.write_table(
        _build_shard_table(df, key, num_shards, bits_per_shard, num_hashes),
        path,
    )
    table = store.read_table(df.sparkSession, path)
    return ShardedBloom(
        table, num_shards, bits_per_shard, num_hashes, root, [path], 0,
        compact_after, store,
    )


def sharded_bloom_or_update(
    sb: ShardedBloom, new_keys: DataFrame, key: str | Column
) -> ShardedBloom:
    """OR the new keys into the filter — the per-round incremental path.

    APPEND-ONLY: one O(new keys) job writes the new keys' per-shard delta
    bitmaps; no read-merge-rewrite of the existing filter happens on the
    hot path (the membership check ORs the ≤compact_after delta rows per
    shard lazily). Every ``compact_after`` deltas the log is folded into
    one snapshot and the subsumed files deleted, so storage stays bounded
    at snapshot + compact_after deltas — the same merge-on-read + compact
    shape as the frontier log, and the replacement for the monolithic
    path's per-round full-filter broadcast (the 10^10-scale leak)."""
    spark = new_keys.sparkSession
    nxt = sb.version + 1
    dpath = _version_path(sb.root, nxt, kind="d")
    sb.store.write_table(
        _build_shard_table(
            new_keys, key, sb.num_shards, sb.bits_per_shard, sb.num_hashes
        ),
        dpath,
    )
    paths = [*sb.paths, dpath]

    if len(paths) > sb.compact_after:

        def merge(pdf: pd.DataFrame) -> pd.DataFrame:
            arr = np.frombuffer(pdf["bits"].iloc[0], dtype=np.uint8).copy()
            for b in pdf["bits"].iloc[1:]:
                arr |= np.frombuffer(b, dtype=np.uint8)
            return pd.DataFrame(
                {"shard": [int(pdf["shard"].iloc[0])], "bits": [arr.tobytes()]}
            )

        vpath = _version_path(sb.root, nxt)
        sb.store.write_table(
            sb.store.read_table(spark, *paths)
            .groupBy("shard")
            .applyInPandas(merge, schema="shard int, bits binary"),
            vpath,
        )
        for p in paths:
            sb.store.remove_table(p)
        paths = [vpath]

    table = sb.store.read_table(spark, *paths)
    return ShardedBloom(
        table, sb.num_shards, sb.bits_per_shard, sb.num_hashes, sb.root,
        paths, nxt, sb.compact_after, sb.store,
    )


def sharded_bloom_might_contain(
    df: DataFrame,
    key: str | Column,
    sb: ShardedBloom,
    out: str = "__in_bloom",
) -> DataFrame:
    """Membership prefilter against the distributed filter table.

    Candidates and filter rows are COGROUPED on shard: each task receives
    (its candidate rows, its ≤1+compact_after bitmap rows) per shard —
    delta rows are OR-folded in place, per-task memory is bounded by shard
    bytes × shards-per-task × log depth, never by total filter bits, and
    no bitmap ever transits the driver or a broadcast. The bit test is one
    vectorized numpy gather per group. A shard with no bitmap row holds no
    keys → all its candidates are sure-new (False)."""
    key_col = F.col(key) if isinstance(key, str) else key
    work = df.withColumn("__shard", shard_of(key_col, sb.num_shards)).withColumn(
        "__pos", _shard_positions(key_col, sb.bits_per_shard, sb.num_hashes)
    )

    from pyspark.sql.types import BooleanType, StructField, StructType

    out_fields = [
        f for f in work.schema.fields if f.name not in ("__shard", "__pos")
    ]
    schema = StructType(out_fields + [StructField(out, BooleanType())])
    keep = [f.name for f in out_fields]

    def check(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return pd.DataFrame(columns=[*keep, out])
        if not len(right):
            res = left[keep].copy()
            res[out] = False
            return res
        arr = np.frombuffer(right["bits"].iloc[0], dtype=np.uint8)
        if len(right) > 1:  # OR the shard's delta bitmaps in place
            arr = arr.copy()
            for b in right["bits"].iloc[1:]:
                arr |= np.frombuffer(b, dtype=np.uint8)
        pos = np.stack(left["__pos"].to_numpy())  # (n, k)
        bits = (arr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        res = left[keep].copy()
        res[out] = bits.all(axis=1)
        return res

    return (
        work.groupBy("__shard")
        .cogroup(sb.table.groupBy("shard"))
        .applyInPandas(check, schema=schema)
    )


# ------------------------------------------------------------ cuckoo filter
#
# Partial-key cuckoo filter (Fan et al., CoNEXT'14 — public algorithm):
# 16-bit fingerprints, 4-way buckets, alternate bucket i2 = i1 XOR
# H(fp) over a power-of-two bucket count, so the pair is recoverable from
# (bucket, fp) alone — which is what makes distributed builds mergeable
# and batch insertion vectorizable. The key hash is Spark's xxhash64
# (bit-exact Python replica in oracle/simhash.py), so fingerprint/bucket
# derivation happens JVM-side as a column and numpy-side as array ops —
# never per-row Python on either side.

_CUCKOO_MIX = np.uint64(0x5BD1E995)  # fp → alt-bucket offset multiplier


def _cuckoo_derive(h: np.ndarray, nbuckets: int) -> tuple[np.ndarray, np.ndarray]:
    """(fingerprint, primary bucket) from signed-int64 xxhash64 values."""
    hu = np.ascontiguousarray(h, dtype=np.int64).view(np.uint64)
    fp = (hu & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    i1 = ((hu >> np.uint64(16)) & np.uint64(nbuckets - 1)).astype(np.int64)
    return fp, i1


def _cuckoo_alt(i: np.ndarray, fp: np.ndarray, nbuckets: int) -> np.ndarray:
    """Alternate bucket — XOR form over power-of-two buckets (involutive:
    alt(alt(i)) == i, so it works from EITHER bucket of the pair)."""
    return (
        (i.astype(np.uint64) ^ (fp.astype(np.uint64) * _CUCKOO_MIX))
        & np.uint64(nbuckets - 1)
    ).astype(np.int64)


def _cuckoo_hash_col(key_col: Column, seed: int) -> Column:
    """JVM-side key hash; a non-default seed is folded into the bytes
    (Spark's xxhash64 seed is fixed at 42)."""
    if seed == 42:
        return F.xxhash64(key_col)
    return F.xxhash64(F.concat(key_col, F.lit(f"\x00{seed}")))


def _cuckoo_hash_py(key: str, seed: int) -> int:
    from hypercane_spark.oracle.simhash import xxh64

    data = key.encode() if seed == 42 else (key + f"\x00{seed}").encode()
    h = xxh64(data, 42)
    return h - (1 << 64) if h >= (1 << 63) else h


class CuckooFilter:
    """Compact cuckoo filter: 16-bit fingerprints, 4-way buckets, 2-choice
    insertion with bounded eviction. Supports delete (for in-flight
    windows). ``insert_many`` is the engine path: vectorized group-rank
    placement of whole (fp, bucket) batches; the per-key ``insert`` exists
    for tests/oracle use. A failed insert (table full, or an eviction chain
    that displaced a resident fingerprint) sets ``self.full`` — unlike a
    bloom, an overfull cuckoo yields FALSE NEGATIVES, so callers must stop
    trusting it as a prefilter once full (frontier.py falls back to the
    exact anti-join)."""

    def __init__(self, capacity: int, seed: int = 42):
        self.nbuckets = max(2, 1 << (capacity.bit_length()))
        self.table = np.zeros((self.nbuckets, 4), dtype=np.uint16)
        self.occ = np.zeros(self.nbuckets, dtype=np.int64)  # slots used/bucket
        self.seed = seed
        self.count = 0
        self.full = False

    # ------------------------------------------------------------- derive

    def _derive_key(self, key: str) -> tuple[int, int, int]:
        h = np.array([_cuckoo_hash_py(key, self.seed)], dtype=np.int64)
        fp, i1 = _cuckoo_derive(h, self.nbuckets)
        i2 = _cuckoo_alt(i1, fp, self.nbuckets)
        return int(fp[0]), int(i1[0]), int(i2[0])

    # ------------------------------------------------------------- insert

    def _place_batch(self, fp: np.ndarray, buckets: np.ndarray) -> np.ndarray:
        """Vectorized placement of (fp, bucket) pairs into free slots.
        Returns a placed-mask. Buckets keep fingerprints left-compacted
        (delete() compacts), so the next free slot index == occupancy."""
        order = np.lexsort((fp, buckets))
        fb, bb = fp[order], buckets[order]
        uniq, start, cnt = np.unique(bb, return_index=True, return_counts=True)
        rank = np.arange(len(bb)) - np.repeat(start, cnt)
        occ_b = self.occ[bb]
        ok = rank < (4 - occ_b)
        self.table[bb[ok], (occ_b + rank)[ok]] = fb[ok]
        free_u = 4 - self.occ[uniq]
        self.occ[uniq] += np.minimum(cnt, free_u)
        placed = np.zeros(len(fp), dtype=bool)
        placed[order] = ok
        self.count += int(ok.sum())
        return placed

    def _insert_one_evict(self, fp: int, i1: int) -> bool:
        """Bounded-eviction fallback for a key whose both buckets are full."""
        import random

        rng = random.Random(self.seed ^ fp)
        i2 = int(_cuckoo_alt(np.array([i1]), np.array([fp], dtype=np.uint16), self.nbuckets)[0])
        i = rng.choice((i1, i2))
        cur = fp
        for _ in range(500):
            slot = rng.randrange(4)
            cur, self.table[i][slot] = int(self.table[i][slot]), cur
            i = int(
                _cuckoo_alt(
                    np.array([i]), np.array([cur], dtype=np.uint16), self.nbuckets
                )[0]
            )
            if self.occ[i] < 4:
                self.table[i][self.occ[i]] = cur
                self.occ[i] += 1
                self.count += 1
                return True
        # the evicted `cur` fingerprint is now homeless — a resident key
        # was displaced, so the filter can no longer promise no-false-
        # negatives. Mark full; callers must stop using it as a prefilter.
        self.full = True
        return False

    def insert_many(self, fp: np.ndarray, i1: np.ndarray) -> bool:
        """Batch insert (the engine path). Phase 1/2: vectorized placement
        into primary then alternate buckets; phase 3: per-key bounded
        eviction for the residue (a tiny fraction at sane load factors).
        Returns False (and sets ``full``) if any key could not be placed."""
        if not len(fp):
            return True
        fp = np.ascontiguousarray(fp, dtype=np.uint16)
        i1 = np.ascontiguousarray(i1, dtype=np.int64)
        placed = self._place_batch(fp, i1)
        if not placed.all():
            rest_fp, rest_i1 = fp[~placed], i1[~placed]
            i2 = _cuckoo_alt(rest_i1, rest_fp, self.nbuckets)
            placed2 = self._place_batch(rest_fp, i2)
            for f, b in zip(rest_fp[~placed2], rest_i1[~placed2]):
                if not self._insert_one_evict(int(f), int(b)):
                    return False
        return True

    def insert(self, key: str) -> bool:
        fp, i1, _ = self._derive_key(key)
        return self.insert_many(
            np.array([fp], dtype=np.uint16), np.array([i1], dtype=np.int64)
        )

    # -------------------------------------------------------------- query

    def __contains__(self, key: str) -> bool:
        fp, i1, i2 = self._derive_key(key)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def delete(self, key: str) -> bool:
        fp, i1, i2 = self._derive_key(key)
        for i in (i1, i2):
            idx = np.where(self.table[i] == fp)[0]
            if len(idx):
                # remove + left-compact so occupancy == next free slot
                row = list(self.table[i])
                row.pop(int(idx[0]))
                row.append(0)
                self.table[i] = row
                self.occ[i] -= 1
                self.count -= 1
                return True
        return False


def _cuckoo_pairs_df(df: DataFrame, key: str | Column, nbuckets: int, seed: int):
    """Distributed (fp, bucket) pair extraction: key hash computed JVM-side
    (xxhash64 column), fingerprint/bucket derivation one vectorized numpy
    pass per Arrow batch, emitted as ONE compact binary blob per partition
    (8 bytes/key — 1M keys ≈ 8 MB on the driver, vs per-row Python before)."""
    key_col = F.col(key) if isinstance(key, str) else key
    hdf = df.select(_cuckoo_hash_col(key_col, seed).alias("h"))

    def to_pairs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fps: list[np.ndarray] = []
        i1s: list[np.ndarray] = []
        for pdf in it:
            if not len(pdf):
                continue
            fp, i1 = _cuckoo_derive(pdf["h"].to_numpy(), nbuckets)
            fps.append(fp)
            i1s.append(i1)
        if fps:
            yield pd.DataFrame(
                {
                    "fp": [np.concatenate(fps).tobytes()],
                    "i1": [np.concatenate(i1s).astype(np.int64).tobytes()],
                }
            )

    parts = hdf.mapInPandas(to_pairs, schema="fp binary, i1 binary").collect()
    if not parts:
        return np.array([], dtype=np.uint16), np.array([], dtype=np.int64)
    fp = np.concatenate(
        [np.frombuffer(r["fp"], dtype=np.uint16) for r in parts]
    )
    i1 = np.concatenate(
        [np.frombuffer(r["i1"], dtype=np.int64) for r in parts]
    )
    # deterministic insertion order regardless of partition arrival
    order = np.lexsort((fp, i1))
    return fp[order], i1[order]


def build_cuckoo(
    df: DataFrame, key: str | Column, capacity: int, seed: int = 42
) -> "CuckooFilter":
    """Build a cuckoo filter from a key column, fully partition-wise:
    hashing is a JVM column, per-partition (fp, bucket) pairs arrive as
    compact binary blobs, and the driver does one vectorized
    ``insert_many`` — no per-row Python anywhere (mirrors build_bloom's
    shape). Unlike the bloom it supports deletion, so the engine can also
    use it for in-flight frontier windows where URLs leave the set after
    fetch."""
    cf = CuckooFilter(capacity=capacity, seed=seed)
    fp, i1 = _cuckoo_pairs_df(df, key, cf.nbuckets, seed)
    cf.insert_many(fp, i1)
    return cf


def cuckoo_add_df(
    cf: "CuckooFilter", df: DataFrame, key: str | Column
) -> bool:
    """Incrementally add a key column to an existing filter (the per-round
    frontier path). Same partition-wise shape as build_cuckoo. Returns
    False when the filter went full — the caller must then stop using it
    as a prefilter (false negatives otherwise)."""
    fp, i1 = _cuckoo_pairs_df(df, key, cf.nbuckets, cf.seed)
    return cf.insert_many(fp, i1)


def cuckoo_might_contain(
    df: DataFrame,
    key: str | Column,
    cf: "CuckooFilter",
    out: str = "__in_cuckoo",
) -> DataFrame:
    """Vectorized membership test against a broadcast cuckoo table: the key
    hash is a JVM-side xxhash64 column; fingerprint/bucket derivation and
    the two-bucket gather are numpy array ops per Arrow batch — zero
    per-row Python."""
    key_col = F.col(key) if isinstance(key, str) else key
    work = df.withColumn("__h", _cuckoo_hash_col(key_col, cf.seed))
    spark = df.sparkSession
    b_table = spark.sparkContext.broadcast(cf.table)
    nbuckets = cf.nbuckets

    from pyspark.sql.types import BooleanType, StructField, StructType

    schema = StructType(list(work.schema.fields) + [StructField(out, BooleanType())])

    def check(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        table = b_table.value
        for pdf in it:
            n = len(pdf)
            if not n:
                pdf[out] = pd.Series([], dtype=bool)
                yield pdf
                continue
            fps, i1s = _cuckoo_derive(pdf["__h"].to_numpy(), nbuckets)
            i2s = _cuckoo_alt(i1s, fps, nbuckets)
            hit = (table[i1s] == fps[:, None]).any(axis=1) | (
                table[i2s] == fps[:, None]
            ).any(axis=1)
            pdf = pdf.copy()
            pdf[out] = hit
            yield pdf

    return work.mapInPandas(check, schema=schema).drop("__h")

"""Round-4 fixes: crawl-delay round cap, bands-from-threshold derivation,
error-store read semantics, WARC atomic rename, legacy-frontier ingest."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine


# ------------------------------------------------ crawl-delay round cap


@pytest.fixture()
def delay_web(spark):
    rows = []
    for i in range(10):
        rows.append(
            (
                f"http://arch.example/web/2020/http://slow.example/p{i}",
                f"http://slow.example/p{i}",
                "slow.example",
                0.5,
                None,
            )
        )
        rows.append(
            (
                f"http://arch.example/web/2020/http://fast.example/p{i}",
                f"http://fast.example/p{i}",
                "fast.example",
                0.5,
                None,
            )
        )
    return spark.createDataFrame(
        rows,
        "urim string, urir string, host string, priority double, _x string",
    ).select(
        "urim",
        "urir",
        "host",
        F.lit(None).cast("timestamp").alias("memento_datetime"),
        F.lit(0.0).alias("damage"),
        "priority",
        F.lit(None).cast("string").alias("image_id"),
        F.array().cast("array<string>").alias("outlinks"),
    )


def test_crawl_delay_caps_per_host_budget(spark, delay_web):
    """A host whose robots crawl_delay implies fewer fetches than the
    budget gets min(budget, max(1, floor(round_seconds / delay))) fetches
    per round — the cap must actually reach _politeness_select (it was a
    silent no-op when the engine dropped crawl_delay right after
    robots_gate)."""
    robots = spark.createDataFrame(
        [
            ("slow.example", [], 10.0),  # 30s round / 10s delay → 3 fetches
            ("fast.example", [], 0.0),
        ],
        "host string, disallow array<string>, crawl_delay double",
    )
    cfg = CrawlConfig(
        per_host_budget=5, max_depth=1, max_rounds=1, round_seconds=30.0
    )
    eng = CrawlEngine(spark, delay_web, robots=robots, config=cfg)
    seeds = delay_web.select("urim")
    fetched = eng.run(seeds)
    per_host = {
        r["host"]: r["n"]
        for r in fetched.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert per_host["slow.example"] == 3  # min(5, floor(30/10))
    assert per_host["fast.example"] == 5  # full budget
    assert "crawl_delay" not in fetched.columns


def test_crawl_delay_floor_guarantees_progress(spark, delay_web):
    """delay larger than the whole round still fetches 1 per host/round."""
    robots = spark.createDataFrame(
        [("slow.example", [], 120.0), ("fast.example", [], 0.0)],
        "host string, disallow array<string>, crawl_delay double",
    )
    cfg = CrawlConfig(
        per_host_budget=5, max_depth=1, max_rounds=1, round_seconds=30.0
    )
    eng = CrawlEngine(spark, delay_web, robots=robots, config=cfg)
    fetched = eng.run(delay_web.select("urim"))
    per_host = {
        r["host"]: r["n"]
        for r in fetched.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert per_host["slow.example"] == 1  # max(1, floor(30/120))


# ------------------------------------------- bands-from-threshold derivation


def test_bands_for_threshold_derivation():
    from hypercane_spark.operators.dedup import _bands_for_threshold

    # t=0.8, 16 perms: (b=8, r=2) recall 1-(1-0.64)^8 ≈ 0.9997 — first
    # divisor (largest r) reaching 0.95
    assert _bands_for_threshold(0.8, 16) == 8
    # t=0.5: even r=2 gives 0.90 < 0.95 → fall to r=1 (b=16)
    assert _bands_for_threshold(0.5, 16) == 16
    # high threshold keeps selective buckets
    assert _bands_for_threshold(0.95, 16) == 4
    # recall at the returned banding really is ≥ 0.95
    for t in (0.5, 0.6, 0.7, 0.8, 0.9):
        b = _bands_for_threshold(t, 16)
        r = 16 // b
        assert 1.0 - (1.0 - t**r) ** b >= 0.95


def test_ngram_default_bands_catch_near_threshold_pair(spark):
    """The fixed 4-band default deterministically missed a J≈0.78 pair at
    thresholds it should pass; the derived banding must find it."""
    from hypercane_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy cat"),  # J≈0.78 @ n=2
        (4, "completely different text about spark engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(df, threshold=0.7, shingle_n=2)
    got = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in pairs.collect()}
    assert (0, 3) in got
    assert got[(0, 3)] >= 0.7


# ---------------------------------------------------- error-store read


def test_error_store_missing_path_reads_empty(spark, tmp_path):
    from hypercane_spark.errors import ErrorStore

    store = ErrorStore(str(tmp_path / "does-not-exist"))
    assert store.read(spark).count() == 0


def test_error_store_corrupt_store_propagates(spark, tmp_path):
    """A corrupt store must RAISE, not silently read as empty — otherwise
    exclude() stops filtering previously-failed URIs."""
    from hypercane_spark.errors import ErrorStore

    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet at all")
    store = ErrorStore(str(bad))
    with pytest.raises(Exception):
        store.read(spark).collect()


# ---------------------------------------------------- WARC atomic rename


def test_write_warcs_atomic_no_tmp_left(spark, tmp_path):
    from hypercane_spark.sources.sinks import write_warcs

    df = spark.createDataFrame(
        [
            ("http://a.example/", "http://arch/1", b"<html>one</html>"),
            ("http://a.example/", "http://arch/2", b"<html>two</html>"),
            ("http://b.example/", "http://arch/3", b"<html>three</html>"),
        ],
        "urir string, urim string, bytes binary",
    )
    out = str(tmp_path / "warcs")
    write_warcs(df, out, mdt=None)
    names = sorted(os.listdir(out))
    assert all(n.endswith(".warc.gz") for n in names), names
    assert len(names) == 2  # one per seed
    # a stale tmp from a dead attempt is never promoted and never breaks
    # skip-if-exists
    stale = os.path.join(out, ".deadbeef.stale.tmp")
    with open(stale, "wb") as fh:
        fh.write(b"partial garbage")
    write_warcs(df, out, mdt=None)  # resume: all finals exist → no-op
    assert os.path.exists(stale)  # untouched, never renamed to .warc.gz
    assert sorted(n for n in os.listdir(out) if n.endswith(".warc.gz")) == names


# ------------------------------------- legacy frontier (no surt) ingest


def test_stream_frontier_merge_legacy_table_dedups(spark, tmp_path):
    """A frontier table written BEFORE the surt column existed must keep
    deduplicating after the upgrade: mergeSchema + coalesce backfills the
    key for legacy files so the anti-join still matches."""
    from hypercane_spark.streaming.ingest import stream_frontier_merge

    frontier_dir = str(tmp_path / "frontier")
    # legacy table: no surt column
    spark.createDataFrame(
        [
            (
                "http://arch.example/old/http://h1.example/a",
                "http://h1.example/a",
                "h1.example",
                0.9,
                None,
            )
        ],
        "urim string, urir string, host string, priority double, "
        "discovered_from string",
    ).write.parquet(frontier_dir)

    drop_dir = str(tmp_path / "drop")
    os.makedirs(drop_dir)
    spark.createDataFrame(
        [
            (  # duplicate of the legacy row (same urim → same surt)
                "http://arch.example/old/http://h1.example/a",
                "http://h1.example/a",
                "h1.example",
                0.9,
                None,
            ),
            (  # genuinely new
                "http://arch.example/old/http://h2.example/b",
                "http://h2.example/b",
                "h2.example",
                0.5,
                None,
            ),
        ],
        "urim string, urir string, host string, priority double, "
        "discovered_from string",
    ).withColumn("event_time", F.current_timestamp()).write.mode(
        "append"
    ).parquet(drop_dir)

    from hypercane_spark.streaming.ingest import stream_discovered_urls

    q = stream_frontier_merge(
        stream_discovered_urls(spark, drop_dir),
        frontier_dir,
        seen_dir=None,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    merged = spark.read.option("mergeSchema", True).parquet(frontier_dir)
    urims = [r["urim"] for r in merged.select("urim").collect()]
    # the legacy duplicate was NOT re-appended; the new row was
    assert sorted(urims) == [
        "http://arch.example/old/http://h1.example/a",
        "http://arch.example/old/http://h2.example/b",
    ]


# ---------------------------------------------------- sharded seen-filter


def _fresh_keys(spark, n, prefix="http://fresh.example/"):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("k")
    )


def test_sharded_bloom_no_false_negatives_and_low_fp(spark):
    from hypercane_spark.streaming.bloom import (
        build_sharded_bloom,
        sharded_bloom_might_contain,
    )

    keys = _fresh_keys(spark, 300, "http://h.example/p")
    sb = build_sharded_bloom(keys, "k", num_shards=8, bits_per_shard=1 << 13)
    assert (
        sharded_bloom_might_contain(keys, "k", sb)
        .where(~F.col("__in_bloom"))
        .count()
        == 0
    )
    fp = (
        sharded_bloom_might_contain(_fresh_keys(spark, 2000), "k", sb)
        .where(F.col("__in_bloom"))
        .count()
    )
    assert fp < 100
    sb.unpersist()


def test_sharded_bloom_memory_is_bounded_by_shard_size(spark):
    """The design-scale contract: the filter is a distributed (shard, bits)
    table — every row is exactly bits_per_shard/8 bytes, there are at most
    num_shards rows, and no bitmap of total-filter size exists anywhere
    (membership is cogrouped per shard, so a task holds only the bitmaps
    of the shards it owns)."""
    from hypercane_spark.streaming.bloom import build_sharded_bloom

    sb = build_sharded_bloom(
        _fresh_keys(spark, 500, "http://m.example/p"),
        "k",
        num_shards=16,
        bits_per_shard=1 << 12,
    )
    rows = sb.table.collect()
    assert 0 < len(rows) <= 16
    assert {len(r["bits"]) for r in rows} == {(1 << 12) // 8}
    sb.unpersist()


def test_sharded_bloom_or_update_no_storage_accumulation(spark):
    """or_update is an append-only delta log with compaction: storage is
    bounded at snapshot + compact_after deltas however many rounds OR into
    the filter (the monolithic path's per-round broadcast churn was the
    leak), no RDD is ever cached, and every round's keys stay present."""
    from hypercane_spark.streaming.bloom import (
        build_sharded_bloom,
        sharded_bloom_might_contain,
        sharded_bloom_or_update,
    )

    sb = build_sharded_bloom(
        _fresh_keys(spark, 100, "http://u.example/a"),
        "k",
        num_shards=8,
        bits_per_shard=1 << 12,
        compact_after=4,
    )
    def _rdd_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    base_ids = _rdd_ids()
    for i in range(10):
        sb = sharded_bloom_or_update(
            sb, _fresh_keys(spark, 100, f"http://u.example/r{i}-"), "k"
        )
        assert len(sb.paths) <= 5  # snapshot + ≤ compact_after deltas
        assert len(os.listdir(sb.root)) == len(sb.paths)  # stale files gone
    # no NEW persistent RDDs from ten rounds of filter updates (the
    # ContextCleaner may remove OTHER tests' cached RDDs concurrently, so
    # compare added ids, not counts)
    assert _rdd_ids() - base_ids == set()
    # all ten rounds' keys are still present (OR really accumulated
    # through appends AND through the compaction folds)
    for i in range(10):
        keys = _fresh_keys(spark, 100, f"http://u.example/r{i}-")
        assert (
            sharded_bloom_might_contain(keys, "k", sb)
            .where(~F.col("__in_bloom"))
            .count()
            == 0
        )
    sb.unpersist()
    assert not os.path.exists(sb.root)


def test_crawl_monolith_bloom_still_matches_oracle(spark):
    """bloom_shards=0 keeps the legacy driver-array path working (and the
    engine now destroys its per-round broadcasts)."""
    from hypercane_spark.oracle.crawl import crawl_oracle
    from hypercane_spark.synth import gen_link_graph, gen_robots

    web_rows = gen_link_graph(n_urls=150)
    schema = (
        "urim string, urir string, host string, memento_datetime timestamp, "
        "damage double, priority double, image_id string, "
        "outlinks array<string>"
    )
    cols = [c.split()[0] for c in schema.split(", ")]
    web = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in web_rows], schema
    )
    robots_rows = gen_robots()
    robots = spark.createDataFrame(
        [(r["host"], r["disallow"], r["crawl_delay"]) for r in robots_rows],
        "host string, disallow array<string>, crawl_delay double",
    )
    seeds = sorted(r["urim"] for r in web_rows)[::10]
    cfg = CrawlConfig(
        per_host_budget=3, max_depth=2, max_rounds=8,
        seen_filter="bloom", bloom_shards=0,
    )
    eng = CrawlEngine(spark, web, robots=robots, config=cfg)
    fetched = eng.run(
        spark.createDataFrame([(u,) for u in seeds], "urim string")
    )
    got = eng.pop_order(fetched)
    want, _ = crawl_oracle(
        web_rows, seeds, robots=robots_rows,
        per_host_budget=3, max_depth=2, max_rounds=8,
    )
    assert got == want
    assert eng._stale_broadcasts == []  # cleaned up every round


def test_crawl_sharded_bloom_matches_oracle_and_cleans_up(spark, tmp_path):
    """Explicit sharded seen-filter through the whole engine: crawl order
    exact vs the sequential oracle, filter files live under the checkpoint
    and stay bounded (snapshot + deltas), no broadcasts created."""
    from hypercane_spark.oracle.crawl import crawl_oracle
    from hypercane_spark.synth import gen_link_graph, gen_robots

    web_rows = gen_link_graph(n_urls=150)
    schema = (
        "urim string, urir string, host string, memento_datetime timestamp, "
        "damage double, priority double, image_id string, "
        "outlinks array<string>"
    )
    cols = [c.split()[0] for c in schema.split(", ")]
    web = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in web_rows], schema
    )
    robots_rows = gen_robots()
    robots = spark.createDataFrame(
        [(r["host"], r["disallow"], r["crawl_delay"]) for r in robots_rows],
        "host string, disallow array<string>, crawl_delay double",
    )
    seeds = sorted(r["urim"] for r in web_rows)[::10]
    cfg = CrawlConfig(
        per_host_budget=3, max_depth=2, max_rounds=8,
        seen_filter="bloom", bloom_shards=8,
    )
    eng = CrawlEngine(
        spark, web, robots=robots,
        checkpoint_dir=str(tmp_path / "ck"), config=cfg,
    )
    fetched = eng.run(
        spark.createDataFrame([(u,) for u in seeds], "urim string")
    )
    got = eng.pop_order(fetched)
    want, _ = crawl_oracle(
        web_rows, seeds, robots=robots_rows,
        per_host_budget=3, max_depth=2, max_rounds=8,
    )
    assert got == want
    assert eng._sharded is not None
    assert eng._sharded.root.startswith(str(tmp_path / "ck"))
    # bounded delta log on disk
    assert len(os.listdir(eng._sharded.root)) <= eng._sharded.compact_after + 1
    assert eng._stale_broadcasts == []  # sharded path never broadcasts


def test_crawl_config_auto_selects_filter_shape():
    """bloom_shards=None auto-select: monolith below the 2^24-bit boundary,
    sharded at/above it; explicit values always win."""
    from hypercane_spark.streaming.frontier import SHARD_AUTO_MIN_BITS

    class _Eng:
        _shards = CrawlEngine._shards

    e = _Eng()
    e.cfg = CrawlConfig()  # default bits 2^20 < 2^24 → monolith
    assert e._shards() == 0
    e.cfg = CrawlConfig(bloom_bits=SHARD_AUTO_MIN_BITS)
    assert e._shards() == 64
    e.cfg = CrawlConfig(bloom_shards=8)
    assert e._shards() == 8
    e.cfg = CrawlConfig(bloom_bits=SHARD_AUTO_MIN_BITS, bloom_shards=0)
    assert e._shards() == 0


# --------------------------------------- new packaged pipelines (7/7)


def test_ordered_systematic_pipeline(spark):
    """order by mdt (desc quirk) then keep every jth rank — the surviving
    ranks are multiples of j and map to the jth-newest mementos."""
    from hypercane_spark.plans import ordered_systematic

    rows = [
        (f"http://a/m{i:02d}", f"2020-01-{i + 1:02d} 00:00:00") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "urim string, mdt string").select(
        "urim", F.to_timestamp("mdt").alias("memento_datetime")
    )
    out = ordered_systematic(j=3).run(df).orderBy("rank").collect()
    assert [r["rank"] for r in out] == [3, 6, 9]
    # rank 1 = newest (m09); rank 3 = m07, rank 6 = m04, rank 9 = m01
    assert [r["urim"] for r in out] == [
        "http://a/m07",
        "http://a/m04",
        "http://a/m01",
    ]


def test_simple_search_engine_pipeline(spark):
    """filter to docs containing the term, BM25 over the filtered corpus,
    order by score desc: more term occurrences (equal length) → better
    rank; non-matching docs are gone."""
    from hypercane_spark.plans import simple_search_engine

    rows = [
        ("u1", "join join join pad pad pad"),
        ("u2", "join pad pad pad pad pad"),
        ("u3", "nothing about that here at all"),
        ("u4", "join join pad pad pad pad"),
    ]
    df = spark.createDataFrame(rows, "urim string, bpfree_text string")
    out = simple_search_engine("join").run(df).orderBy("rank").collect()
    assert [r["urim"] for r in out] == ["u1", "u4", "u2"]  # u3 filtered
    assert [r["rank"] for r in out] == [1, 2, 3]
    scores = [r["bm25_score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # top-k variant surfaces as TakeOrderedAndProject semantics
    top = simple_search_engine("join", k=2).run(df).collect()
    assert {r["urim"] for r in top} == {"u1", "u4"}


def test_registry_rotation_never_gated_first():
    """Round-5 rotation policy: every registry query that has never had an
    external-gate row (absent from all committed CORRECTNESS_r*.json) must
    sit inside the driver's first-50 window; everything that rotates out
    must already have a driver-green row in a past round."""
    import glob
    import json
    import os

    from hypercane_spark.entry_queries import REGISTRY

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gated = set()
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        with open(f) as fh:
            gated |= set(json.load(fh).keys())
    keys = list(REGISTRY.keys())
    first50, rest = keys[:50], keys[50:]
    never_gated = [k for k in keys if k not in gated]
    if len(never_gated) <= 50:
        for name in never_gated:
            assert name in first50, f"never-gated {name} outside window"
    for name in rest:
        assert name in gated, f"rotated-out {name} has no past gate row"


# ------------------------------------------- similarity driver-action fixes


def test_embedding_near_dups_default_path_no_driver_action(spark, monkeypatch):
    # Round-5 fix: the dim=None default must NOT sniff the width with a
    # driver .first() — the bucket is computed by lsh_bucket_hash (weights
    # from the element index, dim-free). Both paths find the planted pair.
    import numpy as np

    from hypercane_spark.operators import similarity as SIM

    rng = np.random.RandomState(7)
    base = rng.randn(6, 16)
    base[1] = base[0] + 0.01 * rng.randn(16)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def _no_first(self, *a, **k):
        raise AssertionError("driver .first() on the default near-dup path")

    # the concrete class overrides the abstract DataFrame's methods
    monkeypatch.setattr(type(df), "first", _no_first)
    default = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in SIM.embedding_near_dups(df, threshold=0.95, bits=6).collect()
    }
    monkeypatch.undo()
    explicit = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in SIM.embedding_near_dups(
            df, threshold=0.95, bits=6, dim=16
        ).collect()
    }
    assert default == explicit == {(0, 1)}


def test_fit_ivf_centroids_train_once(spark):
    """fit_ivf_centroids + explicit centers == the one-shot 'ml' engine, so
    repeated queries never pay a per-call KMeans fit."""
    import numpy as np

    from hypercane_spark.operators.similarity import (
        fit_ivf_centroids,
        ivf_topk,
    )

    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.randn(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[5][1]
    cents = fit_ivf_centroids(df, n_cells=4)
    assert len(cents) == 4 and all(len(c) == 8 for _, c in cents)
    once = [r["vec_id"] for r in ivf_topk(
        df, q, k=5, n_cells=4, n_probe=2, centroids=cents).collect()]
    ml = [r["vec_id"] for r in ivf_topk(
        df, q, k=5, n_cells=4, n_probe=2, centroids="ml").collect()]
    assert once == ml
    assert once[0] == 5  # the query vector itself is its own nearest


# -------------------------------------------- language-ID model plug-point


def test_language_id_expanded_profiles(spark):
    """New languages classify via the expanded frozen profiles."""
    from hypercane_spark.functions.text import language_id

    rows = [
        (1, "the cat is on the mat and it is warm for this time"),
        (2, "och att det som en på är av för med den till inte har"),
        (3, "yang dan di itu dengan ini untuk dari dalam tidak akan"),
        (4, "zzz qqq xxx yyy www"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", language_id("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "sv", 3: "id", 4: "un"}


def test_language_id_model_plug_point(spark):
    """An explicit batch model_fn rides mapInPandas; the no-model fallback
    is byte-identical to the declarative language_id (the oracle path)."""
    from hypercane_spark.functions.text import language_id, language_id_model

    rows = [
        (1, "the cat is on the mat and it is here for now"),
        (2, "el perro es de la casa y en los campos"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def fake_model(texts):
        return ["xx" if "cat" in t else "yy" for t in texts]

    plugged = {r["doc_id"]: r["lang"] for r in
               language_id_model(df, model_fn=fake_model).collect()}
    assert plugged == {1: "xx", 2: "yy", 3: "yy"}

    fallback = {r["doc_id"]: r["lang"] for r in
                language_id_model(df).collect()}
    declarative = {r["doc_id"]: r["lang"] for r in
                   df.select("doc_id",
                             language_id("text").alias("lang")).collect()}
    assert fallback == declarative


def test_crawl_sharded_resume_equivalence(spark, tmp_path):
    """Sharded seen-filter + checkpoint resume: an interrupted crawl
    resumed from the checkpoint fetches exactly what the uninterrupted
    crawl does (the resume rebuild must cover the ENTIRE checkpointed
    seen set, or pre-resume URLs re-fetch)."""
    from hypercane_spark.synth import gen_link_graph, gen_robots

    web_rows = gen_link_graph(n_urls=150)
    schema = (
        "urim string, urir string, host string, memento_datetime timestamp, "
        "damage double, priority double, image_id string, "
        "outlinks array<string>"
    )
    cols = [c.split()[0] for c in schema.split(", ")]
    web = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in web_rows], schema
    )
    robots_rows = gen_robots()
    robots = spark.createDataFrame(
        [(r["host"], r["disallow"], r["crawl_delay"]) for r in robots_rows],
        "host string, disallow array<string>, crawl_delay double",
    )
    seeds = spark.createDataFrame(
        [(u,) for u in sorted(r["urim"] for r in web_rows)[::10]],
        "urim string",
    )

    def key(df):
        return sorted(
            (r["urim"], r["round"]) for r in df.select("urim", "round").collect()
        )

    base = dict(
        per_host_budget=3, max_depth=2, seen_filter="bloom", bloom_shards=8
    )
    full = CrawlEngine(
        spark, web, robots=robots,
        checkpoint_dir=str(tmp_path / "full"),
        config=CrawlConfig(max_rounds=6, **base),
    ).run(seeds)

    part_dir = str(tmp_path / "part")
    CrawlEngine(
        spark, web, robots=robots, checkpoint_dir=part_dir,
        config=CrawlConfig(max_rounds=3, **base),
    ).run(seeds)
    resumed_eng = CrawlEngine(
        spark, web, robots=robots, checkpoint_dir=part_dir,
        config=CrawlConfig(max_rounds=6, **base),
    )
    resumed_tail = resumed_eng.run(seeds, resume=True)
    # resumed engine rebuilt the sharded filter from the checkpointed seen
    assert resumed_eng._sharded is not None
    # full = rounds 0-5; resumed tail = rounds 3-5 ∪ (checkpointed 0-2)
    tail_keys = key(resumed_tail)
    prior_keys = []
    for rnd in (0, 1, 2):
        prior_keys += key(resumed_eng.ckpt.read_fetched(spark, rnd))
    assert sorted(prior_keys + tail_keys) == key(full)


# ------------------------------------------------------------- PII scrub


def test_pii_scrub(spark):
    from hypercane_spark.functions.text import pii_scrub

    rows = [
        (1, "mail me at jane.doe+x@sub.example.org or bob@ex.io thanks"),
        (2, "host 192.168.0.1 and 10.20.30.40 are up"),
        (3, "call +1 555-0199-4242 re the invoice"),
        (4, "clean document with no identifiers at all"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["s"].asDict()
        for r in df.select("doc_id", pii_scrub("text").alias("s")).collect()
    }
    assert out[1]["n_email"] == 2 and out[1]["n_pii"] == 2
    assert "<EMAIL>" in out[1]["clean"] and "@" not in out[1]["clean"]
    assert out[2]["n_ipv4"] == 2 and "<IP>" in out[2]["clean"]
    assert "192.168" not in out[2]["clean"]
    assert out[3]["n_phone"] == 1 and "<PHONE>" in out[3]["clean"]
    assert out[4]["n_pii"] == 0 and out[4]["clean"].startswith("clean")
    assert out[5]["clean"] is None and out[5]["n_pii"] == 0


# ------------------------------------------------------- decontamination


def test_decontaminate(spark):
    from hypercane_spark.operators.dedup import decontaminate

    eval_rows = [(100, "the sky is blue over the quiet harbor today")]
    corpus = [
        (1, "i think the sky is blue over the quiet harbor today too"),  # hit
        (2, "totally unrelated text about spark shuffles and joins"),
        (3, "the sky is blue but nothing else matches here at all"),  # 2 grams
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")

    # min_overlaps=1: any shared 3-gram contaminates → 1 and 3 dropped
    out1 = sorted(
        r["doc_id"]
        for r in decontaminate(df, ev, shingle_n=3, min_overlaps=1).collect()
    )
    assert out1 == [2]
    # min_overlaps=3: doc 3 shares only 2 grams ("the sky is", "sky is
    # blue") → survives; doc 1 shares ≥3 → dropped
    out3 = sorted(
        r["doc_id"]
        for r in decontaminate(df, ev, shingle_n=3, min_overlaps=3).collect()
    )
    assert out3 == [2, 3]
    # flags audit mode reports the per-doc overlap counts
    flags = {
        r["doc_id"]: r["n_contaminated_grams"]
        for r in decontaminate(df, ev, shingle_n=3, flags_only=True).collect()
    }
    assert flags[3] == 2 and flags[1] >= 3 and 2 not in flags
    # eval side broadcast by default: no shuffle on the corpus-gram join
    plan = decontaminate(df, ev, shingle_n=3)._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

"""Crawl frontier engine: order/seen fidelity vs the sequential oracle,
bloom/cuckoo behavior, robots gating, checkpoint/resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hypercane_spark.oracle.crawl import crawl_oracle, surt_key_py
from hypercane_spark.streaming.bloom import (
    CuckooFilter,
    bloom_might_contain,
    build_bloom,
)
from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine
from hypercane_spark.streaming.robots import robots_gate
from hypercane_spark.synth import gen_link_graph, gen_robots

WEB_SCHEMA = (
    "urim string, urir string, host string, memento_datetime timestamp, "
    "damage double, priority double, image_id string, outlinks array<string>"
)


@pytest.fixture(scope="module")
def web_rows():
    return gen_link_graph(n_urls=300)


@pytest.fixture(scope="module")
def web(spark, web_rows):
    cols = [c.split()[0] for c in WEB_SCHEMA.split(", ")]
    return spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in web_rows], WEB_SCHEMA
    ).cache()


@pytest.fixture(scope="module")
def robots_rows():
    return gen_robots()


@pytest.fixture(scope="module")
def robots(spark, robots_rows):
    return spark.createDataFrame(
        [(r["host"], r["disallow"], r["crawl_delay"]) for r in robots_rows],
        "host string, disallow array<string>, crawl_delay double",
    ).cache()


@pytest.fixture(scope="module")
def seeds(web_rows):
    # every 10th url by construction order
    return sorted(r["urim"] for r in web_rows)[::10]


def test_surt_key_matches_spark(spark, web):
    from hypercane_spark.functions.urls import surt_key

    rows = web.select("urim", surt_key(F.col("urim")).alias("s")).collect()
    for r in rows[:50]:
        assert r["s"] == surt_key_py(r["urim"]), r["urim"]


def test_bloom_no_false_negatives(spark, web):
    keys = web.select(F.col("urim").alias("k")).limit(100)
    bloom = build_bloom(keys, "k", num_bits=1 << 16, num_hashes=5)
    flagged = bloom_might_contain(keys, "k", bloom, 1 << 16, 5)
    assert flagged.where(~F.col("__in_bloom")).count() == 0
    # false-positive rate on fresh keys is low
    fresh = spark.range(1000).select(
        F.concat(F.lit("http://fresh.example/"), F.col("id").cast("string")).alias("k")
    )
    fp = (
        bloom_might_contain(fresh, "k", bloom, 1 << 16, 5)
        .where(F.col("__in_bloom"))
        .count()
    )
    assert fp < 50


def test_cuckoo_filter():
    cf = CuckooFilter(capacity=1000)
    keys = [f"http://h{i}.example/p{i}" for i in range(500)]
    for k in keys:
        assert cf.insert(k)
    assert all(k in cf for k in keys)
    misses = sum(1 for i in range(1000) if f"http://other{i}.x/" in cf)
    assert misses < 20
    assert cf.delete(keys[0])
    assert keys[0] not in cf


def test_robots_gate(spark, web, robots, robots_rows):
    gated = robots_gate(web, robots, url="urir", host="host")
    blocked_hosts = {r["host"] for r in robots_rows if r["disallow"] == ["/"]}
    if blocked_hosts:
        assert gated.where(F.col("host").isin(*blocked_hosts)).count() == 0
    assert gated.count() < web.count()
    assert "crawl_delay" in gated.columns


def test_crawl_order_and_seen_match_oracle(spark, web, web_rows, robots, robots_rows, seeds, tmp_path):
    cfg = CrawlConfig(per_host_budget=4, max_depth=3, max_rounds=20)
    eng = CrawlEngine(
        spark, web, robots=robots, checkpoint_dir=str(tmp_path / "ck"), config=cfg
    )
    seed_df = spark.createDataFrame([(u,) for u in seeds], "urim string")
    fetched = eng.run(seed_df)
    got_order = eng.pop_order(fetched)
    got_seen = {
        r["surt"]
        for r in eng.ckpt.read(spark)[2].collect()
    }
    want_order, want_seen = crawl_oracle(
        web_rows, seeds, robots=robots_rows,
        per_host_budget=4, max_depth=3, max_rounds=20,
    )
    assert got_order == want_order, (
        f"pop order diverges at "
        f"{next(i for i,(a,b) in enumerate(zip(got_order, want_order)) if a != b)}"
    )
    assert got_seen == want_seen
    # lineage columns present on every fetched row (payload columns are
    # covered by test_payload_fidelity_on_fetched, which passes images=)
    for c in ["round", "fetch_ts", "http_status", "partition_id", "depth",
              "discovered_from"]:
        assert c in fetched.columns, c


def test_crawl_resume_equivalence(spark, web, robots, seeds, tmp_path):
    cfg = CrawlConfig(per_host_budget=4, max_depth=2, max_rounds=8)
    seed_df = spark.createDataFrame([(u,) for u in seeds], "urim string")

    full = CrawlEngine(
        spark, web, robots=robots, checkpoint_dir=str(tmp_path / "full"), config=cfg
    )
    order_full = full.pop_order(full.run(seed_df))

    # run 3 rounds, then resume from checkpoint
    cfg_a = CrawlConfig(per_host_budget=4, max_depth=2, max_rounds=3)
    part = CrawlEngine(
        spark, web, robots=robots, checkpoint_dir=str(tmp_path / "part"), config=cfg_a
    )
    f1 = part.run(seed_df)
    cfg_b = CrawlConfig(per_host_budget=4, max_depth=2, max_rounds=8)
    resumed = CrawlEngine(
        spark, web, robots=robots, checkpoint_dir=str(tmp_path / "part"), config=cfg_b
    )
    f2 = resumed.run(seed_df, resume=True)
    order_joined = part.pop_order(f1) + resumed.pop_order(f2)
    assert order_joined == order_full


def test_salted_politeness_same_selection(spark, web, robots, seeds, tmp_path):
    """Salting spreads fetch partitions but must not change WHAT is
    selected (budget stays per-host)."""
    seed_df = spark.createDataFrame([(u,) for u in seeds], "urim string")
    base = CrawlEngine(
        spark, web, robots=robots,
        config=CrawlConfig(per_host_budget=4, max_depth=1, max_rounds=3),
    )
    salted = CrawlEngine(
        spark, web, robots=robots,
        config=CrawlConfig(per_host_budget=4, max_depth=1, max_rounds=3,
                           salt_hot_hosts=4),
    )
    assert salted.pop_order(salted.run(seed_df)) == base.pop_order(base.run(seed_df))


def test_payload_fidelity_on_fetched(spark, web, robots, seeds, images):
    """input_hint per-row invariant: decoded pixels allclose (PSNR>=40dB
    lossy) + caption equality on fetched rows."""
    import numpy as np

    from hypercane_spark.synth import decode_image, encode_image, psnr

    eng = CrawlEngine(
        spark, web, robots=robots, images=images,
        config=CrawlConfig(per_host_budget=4, max_depth=1, max_rounds=2),
    )
    seed_df = spark.createDataFrame([(u,) for u in seeds], "urim string")
    fetched = eng.run(seed_df)
    rows = fetched.select("image_id", "bytes", "fmt", "caption").where(
        F.col("bytes").isNotNull()
    ).limit(30).collect()
    assert rows
    caps = {r["image_id"]: r["caption"] for r in images.collect()}
    for r in rows:
        px = decode_image(bytes(r["bytes"]))
        assert caps[r["image_id"]] == r["caption"]
        if r["fmt"] == "jpeg":
            assert psnr(px, decode_image(encode_image(px, "jpeg"))) >= 40
        else:
            assert np.array_equal(px, decode_image(encode_image(px, "png")))


def test_cuckoo_spark_membership(spark, web):
    from hypercane_spark.streaming.bloom import build_cuckoo, cuckoo_might_contain

    keys = web.select(F.col("urim").alias("k")).limit(100)
    cf = build_cuckoo(keys, "k", capacity=1000)
    flagged = cuckoo_might_contain(keys, "k", cf)
    assert flagged.where(~F.col("__in_cuckoo")).count() == 0
    fresh = spark.range(500).select(
        F.concat(F.lit("http://fresh.example/"), F.col("id").cast("string")).alias("k")
    )
    fp = cuckoo_might_contain(fresh, "k", cf).where(F.col("__in_cuckoo")).count()
    assert fp < 25  # 16-bit fingerprints → tiny false-positive rate


def test_crawl_cuckoo_filter_matches_oracle(spark, web, web_rows, robots, robots_rows, seeds):
    from hypercane_spark.oracle.crawl import crawl_oracle

    expect_order, expect_seen = crawl_oracle(
        web_rows, seeds, robots=robots_rows, per_host_budget=4, max_depth=2,
        max_rounds=3,
    )
    eng = CrawlEngine(
        spark, web, robots=robots,
        config=CrawlConfig(
            per_host_budget=4, max_depth=2, max_rounds=3, seen_filter="cuckoo"
        ),
    )
    seed_df = spark.createDataFrame([(u,) for u in seeds], "urim string")
    fetched = eng.run(seed_df)
    assert eng.pop_order(fetched) == expect_order
    got_seen = {
        surt_key_py(r["urim"]) for r in fetched.select("urim").collect()
    }
    assert got_seen == expect_seen


def test_cuckoo_insert_many_vectorized():
    """Batch insert (the engine path) places every key; membership holds."""
    import numpy as np

    from hypercane_spark.streaming.bloom import _cuckoo_derive, _cuckoo_hash_py

    cf = CuckooFilter(capacity=4000)
    keys = [f"http://h{i % 37}.example/p{i}" for i in range(2000)]
    h = np.array([_cuckoo_hash_py(k, cf.seed) for k in keys], dtype=np.int64)
    fp, i1 = _cuckoo_derive(h, cf.nbuckets)
    assert cf.insert_many(fp, i1)
    assert not cf.full
    assert cf.count == 2000
    assert all(k in cf for k in keys)
    # delete keeps buckets left-compacted (next insert still lands)
    assert cf.delete(keys[0])
    assert keys[0] not in cf
    assert cf.insert(keys[0])
    assert keys[0] in cf


def test_cuckoo_full_sets_flag_and_engine_falls_back(
    spark, web, web_rows, robots, robots_rows, seeds
):
    """An overfull cuckoo is a false-negative hazard: the filter must
    report full=True and the engine must keep exact order/seen fidelity by
    distrusting the prefilter (exact anti-join path)."""
    from hypercane_spark.oracle.crawl import crawl_oracle

    tiny = CuckooFilter(capacity=4)  # 8 buckets * 4 slots = 32 fingerprints
    ok = True
    for i in range(200):
        ok = tiny.insert(f"http://x.example/{i}") and ok
    assert not ok and tiny.full

    expect_order, expect_seen = crawl_oracle(
        web_rows, seeds, robots=robots_rows, per_host_budget=4, max_depth=2,
        max_rounds=3,
    )
    eng = CrawlEngine(
        spark, web, robots=robots,
        config=CrawlConfig(
            per_host_budget=4, max_depth=2, max_rounds=3,
            seen_filter="cuckoo", cuckoo_capacity=4,  # guaranteed overflow
        ),
    )
    seed_df = spark.createDataFrame([(u,) for u in seeds], "urim string")
    fetched = eng.run(seed_df)
    assert eng.pop_order(fetched) == expect_order
    got_seen = {surt_key_py(r["urim"]) for r in fetched.select("urim").collect()}
    assert got_seen == expect_seen


def test_crawl_resume_equivalence_cuckoo(spark, web, robots, seeds, tmp_path):
    """Resume must rebuild the cuckoo prefilter from the checkpointed seen
    table — a fresh filter would test pre-resume URLs 'sure new' and
    re-fetch them (round-1 ADVICE bug)."""
    cfg = CrawlConfig(
        per_host_budget=4, max_depth=2, max_rounds=8, seen_filter="cuckoo"
    )
    seed_df = spark.createDataFrame([(u,) for u in seeds], "urim string")

    full = CrawlEngine(
        spark, web, robots=robots, checkpoint_dir=str(tmp_path / "cfull"),
        config=cfg,
    )
    order_full = full.pop_order(full.run(seed_df))

    cfg_a = CrawlConfig(
        per_host_budget=4, max_depth=2, max_rounds=3, seen_filter="cuckoo"
    )
    part = CrawlEngine(
        spark, web, robots=robots, checkpoint_dir=str(tmp_path / "cpart"),
        config=cfg_a,
    )
    f1 = part.run(seed_df)
    cfg_b = CrawlConfig(
        per_host_budget=4, max_depth=2, max_rounds=8, seen_filter="cuckoo"
    )
    resumed = CrawlEngine(
        spark, web, robots=robots, checkpoint_dir=str(tmp_path / "cpart"),
        config=cfg_b,
    )
    assert resumed._cuckoo is None
    f2 = resumed.run(seed_df, resume=True)
    # the rebuilt prefilter actually covers the pre-resume seen set
    assert resumed._cuckoo is not None and resumed._cuckoo.count > 0
    order_joined = part.pop_order(f1) + resumed.pop_order(f2)
    assert order_joined == order_full

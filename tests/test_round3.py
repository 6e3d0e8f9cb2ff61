"""Round-3 features: error store (skip-not-abort), live TimeMap fetch
shape, Link-header URI-T extraction, ORS reference header, growth-curve
AUC, LSH-blocked jaccard, linear off-topic cosine, surt-keyed streaming
dedup, seed-miss frontier advancement, append-only seen checkpoints."""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------- error store

def test_error_store_record_read_exclude(spark, tmp_path):
    from hypercane_spark.errors import ErrorStore

    store = ErrorStore(str(tmp_path / "errors"))
    errs = spark.createDataFrame(
        [("u1", "fetch", "Traceback: boom")], "uri string, stage string, traceback string"
    )
    store.record(errs)
    got = store.read(spark).collect()
    assert len(got) == 1 and got[0]["uri"] == "u1" and got[0]["ts"] is not None

    df = spark.createDataFrame([("u1",), ("u2",)], "urim string")
    left = store.exclude(df).collect()
    assert [r["urim"] for r in left] == ["u2"]


def test_run_stage_skips_failing_rows(spark, tmp_path):
    from hypercane_spark.errors import ErrorStore, run_stage

    store = ErrorStore(str(tmp_path / "errors2"))
    df = spark.createDataFrame(
        [("a", 4), ("b", -1), ("c", 9)], "urim string, v int"
    )

    def measure(rec):
        return {"sqrt_v": math.sqrt(rec["v"])}  # raises on -1

    ok = run_stage(df, measure, [("sqrt_v", "double")], "measure", store=store)
    got = {r["urim"]: r["sqrt_v"] for r in ok.collect()}
    assert got == {"a": 2.0, "c": 3.0}
    errs = store.read(spark).collect()
    assert len(errs) == 1 and errs[0]["uri"] == "b" and errs[0]["stage"] == "measure"
    assert "math domain error" in errs[0]["traceback"]


def test_decode_stats_poisoned_row_recorded_not_aborting(spark, tmp_path):
    from hypercane_spark.errors import ErrorStore
    from hypercane_spark.operators.multimodal import decode_stats
    from hypercane_spark.synth import encode_image

    px = np.full((4, 4, 3), 7, dtype=np.uint8)
    rows = [
        ("img-0", bytearray(encode_image(px, "png"))),
        ("img-1", bytearray(b"garbage not an image")),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    store = ErrorStore(str(tmp_path / "errors3"))
    out = decode_stats(df, store=store).collect()
    assert [r["image_id"] for r in out] == ["img-0"]
    errs = store.read(spark).collect()
    assert [e["uri"] for e in errs] == ["img-1"]
    assert errs[0]["stage"] == "decode_stats"
    # without a store the same input aborts (fail-fast default)
    with pytest.raises(Exception):
        decode_stats(df).collect()


def _poisoned_web(spark):
    """Two mementos on one host; the second's image payload is garbage.
    → (web, images)."""
    from hypercane_spark.synth import average_phash, decode_image, encode_image

    px = np.full((4, 4, 3), 9, dtype=np.uint8)
    good = encode_image(px, "png")
    ph = average_phash(decode_image(good))
    web = spark.createDataFrame(
        [
            ("https://a.example/m-0", "http://a.example/0", "a.example",
             dt.datetime(2020, 1, 1), 0.0, 1.0, "img-0", []),
            ("https://a.example/m-1", "http://a.example/1", "a.example",
             dt.datetime(2020, 1, 2), 0.0, 0.9, "img-1", []),
        ],
        "urim string, urir string, host string, memento_datetime timestamp, "
        "damage double, priority double, image_id string, outlinks array<string>",
    )
    images = spark.createDataFrame(
        [("img-0", bytearray(good), 4, 4, "png", "cap0", ph),
         ("img-1", bytearray(b"poisoned"), 4, 4, "png", "cap1", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    return web, images


def test_crawl_fetch_errors_skip_not_abort(spark, tmp_path):
    """A poisoned image payload in the web, default crawl config apart from
    payload verify: its row is recorded in the checkpoint, the crawl
    completes, the fetched output excludes it, and its surt is still
    marked seen (never retried)."""
    from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine

    web, images = _poisoned_web(spark)
    eng = CrawlEngine(
        spark,
        web,
        images=images,
        checkpoint_dir=str(tmp_path / "ck"),
        config=CrawlConfig(max_rounds=2, verify_payload=True),
    )
    fetched = eng.run(eng.seed_frontier(web.select("urim")))
    urims = sorted(r["urim"] for r in fetched.select("urim").collect())
    assert urims == ["https://a.example/m-0"]
    errs = eng.ckpt.read_errors(spark).collect()
    assert [e["uri"] for e in errs] == ["https://a.example/m-1"]
    assert errs[0]["stage"] == "fetch"
    # the errored surt is seen: round 2 selected nothing (no retry)
    _, _, seen = eng.ckpt.read(spark)
    assert seen.count() == 2


def test_crawl_fetch_error_recorded_once_across_crash_and_resume(spark, tmp_path):
    """A crawl killed at round 0's commit marker, after its fetched rows
    (poisoned payload included) were written, then resumed by a default
    engine: the error commits with the re-run round, so it is read back
    exactly once, and the round's manifest counts it."""
    import json

    from hypercane_spark.streaming.checkpoint import RoundCheckpoint
    from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine
    from hypercane_spark.streaming.storage import ParquetStateStore

    class CrashAtFirstManifest(ParquetStateStore):
        def put_manifest(self, path, data):
            raise RuntimeError("crash at round 0's manifest")

    web, images = _poisoned_web(spark)
    base = str(tmp_path / "ck")
    cfg = CrawlConfig(max_rounds=2, verify_payload=True)
    cut = CrawlEngine(spark, web, images=images, checkpoint_dir=base, config=cfg)
    cut.ckpt = RoundCheckpoint(base, store=CrashAtFirstManifest())
    with pytest.raises(RuntimeError, match="crash at round 0"):
        cut.run(cut.seed_frontier(web.select("urim")))

    eng = CrawlEngine(spark, web, images=images, checkpoint_dir=base, config=cfg)
    fetched = eng.run(eng.seed_frontier(web.select("urim")), resume=True)
    assert [r["urim"] for r in fetched.select("urim").collect()] == [
        "https://a.example/m-0"
    ]
    errs = eng.ckpt.read_errors(spark).collect()
    assert [(e["uri"], e["stage"]) for e in errs] == [
        ("https://a.example/m-1", "fetch")
    ]
    assert "Traceback" in errs[0]["traceback"] and errs[0]["ts"] is not None
    # rebuilding the output from committed rounds gives what run() emitted
    rebuilt = eng.ckpt.read_fetched(spark, 0)
    assert "fetch_err" not in rebuilt.columns
    assert [r["urim"] for r in rebuilt.select("urim").collect()] == [
        "https://a.example/m-0"
    ]
    _, _, seen = eng.ckpt.read(spark)
    assert seen.count() == 2
    with open(os.path.join(base, "round=0", "manifest.json")) as f:
        assert (json.load(f)["errors"], eng.metrics[0].errors) == (1, 1)


# ---------------------------------------------------------- timemap fetch

def test_timemap_fetch_plug_point_retry_and_drop(spark):
    from hypercane_spark.sources.discovery import timemap_fetch

    calls: dict[str, int] = {}

    def fetcher(urit: str):
        calls[urit] = calls.get(urit, 0) + 1
        if urit.endswith("flaky") and calls[urit] < 2:
            raise IOError("transient")
        if urit.endswith("dead"):
            raise IOError("permanent")
        return {
            "urir": "http://ex.com/r",
            "mementos": [
                (dt.datetime(2020, 1, 1), f"{urit}#m0"),
                (dt.datetime(2020, 2, 1), f"{urit}#m1"),
            ],
        }

    urits = spark.createDataFrame(
        [("http://arc/tm/ok",), ("http://arc/tm/flaky",), ("http://arc/tm/dead",)],
        "urit string",
    )
    out = timemap_fetch(
        urits.coalesce(1), fetcher=fetcher, retries=3, backoff=0.0
    ).collect()
    got = {(r["urit"], r["tm_pos"]) for r in out}
    assert got == {
        ("http://arc/tm/ok", 0), ("http://arc/tm/ok", 1),
        ("http://arc/tm/flaky", 0), ("http://arc/tm/flaky", 1),
    }
    assert all(r["memento_datetime"] is not None for r in out)


def test_load_input_timemaps_live_branch(spark, tmp_path):
    from hypercane_spark.sources.discovery import load_input

    p = tmp_path / "urits.tsv"
    p.write_text("URI-T\nhttp://arc/tm/1\n")

    def fetcher(urit):
        return {"urir": "http://e/", "mementos": [(dt.datetime(2021, 1, 1), "m1")]}

    out = load_input(spark, "timemaps", str(p), fetcher=fetcher).collect()
    assert len(out) == 1 and out[0]["urim"] == "m1"
    # without tables or fetcher it still raises with instructions
    with pytest.raises(NotImplementedError):
        load_input(spark, "timemaps", str(p))


def test_urits_from_link_headers(spark):
    from hypercane_spark.sources.discovery import urits_from_link_headers

    df = spark.createDataFrame(
        [
            ("m1", '<http://e/>; rel="original", '
                   '<http://arc/tm/1>; rel="timemap"; type="application/link-format"'),
            ("m2", '<http://arc/tm/2>; rel=timemap'),
            ("m3", '<http://e/x>; rel="original"'),
            ("m4", None),
        ],
        "urim string, link_header string",
    )
    got = {r["urim"]: r["urit"] for r in urits_from_link_headers(df).collect()}
    assert got == {"m1": "http://arc/tm/1", "m2": "http://arc/tm/2"}


# ------------------------------------------------------------- ORS header

def test_write_ors_reference_header_golden(spark, tmp_path):
    from hypercane_spark.sources.io import write_ors

    df = spark.createDataFrame(
        [(2, "http://a/m2", "c1", 0.25), (1, "http://a/m1", "c0", 0.5)],
        "rank int, urim string, cluster string, dsa1_score double",
    )
    p = str(tmp_path / "o.tsv")
    write_ors(df, p, reference_header=True)
    golden = (
        "URI-M\trank\tCluster\tScore---DSA1-Score\n"
        "http://a/m1\t1\tc0\t0.5\n"
        "http://a/m2\t2\tc1\t0.25\n"
    )
    assert open(p).read() == golden


# -------------------------------------------------------------- growth AUC

def test_trapezoid_auc_matches_numpy(spark):
    from hypercane_spark.operators.growth import trapezoid_auc

    xs = [0.0, 0.1, 0.35, 0.8, 1.0]
    ys = [0.2, 0.4, 0.45, 0.9, 1.0]
    pts = spark.createDataFrame(
        [(i + 1, x, y) for i, (x, y) in enumerate(zip(xs, ys))],
        "pos long, x double, y double",
    )
    got = trapezoid_auc(pts, "x", "y", "pos").collect()[0]["auc"]
    trap = getattr(np, "trapezoid", None) or np.trapz
    assert abs(got - float(trap(ys, xs))) < 1e-12


def test_growth_curve_auc_stats_shape(spark):
    from hypercane_spark.operators.growth import growth_curve_auc_stats

    rows = [
        (dt.datetime(2020, 1, 1) + dt.timedelta(days=i), f"m{i:03d}")
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "memento_datetime timestamp, urim string")
    out = growth_curve_auc_stats(df).collect()[0]
    # uniform arrivals → AUC ≈ 0.5 (within the discrete step offset)
    assert 0.4 < out["auc_memento_curve"] < 0.62
    assert abs(out["auc_memento_minus_diag"] - (out["auc_memento_curve"] - 0.5)) < 1e-9


# ----------------------------------------------- jaccard default blocking

def test_ngram_jaccard_default_lsh_blocking_finds_near_dups(spark):
    from hypercane_spark.operators.dedup import ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base), (2, base + " tail"), (3, "the completely different text here now")]
    # every doc shares first token "the" — old default blocked all into one
    # bucket; new default must still find the true near-dup pair via LSH
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = ngram_jaccard_pairs(
        df, text="text", key="doc_id", threshold=0.5, shingle_n=2
    ).collect()
    assert {(r["doc_id_a"], r["doc_id_b"]) for r in pairs} == {(1, 2)}
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_ngram_jaccard_explicit_block_still_works(spark):
    from hypercane_spark.functions.hashes import tokens_ws
    from hypercane_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zeta eta theta")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = ngram_jaccard_pairs(
        df,
        text="text",
        key="doc_id",
        block=F.element_at(tokens_ws(F.col("text")), 1),
        threshold=0.9,
        shingle_n=2,
    ).collect()
    assert {(r["doc_id_a"], r["doc_id_b"]) for r in pairs} == {(1, 2)}


# ------------------------------------------------------ linear cosine

def test_off_topic_cosine_matches_bruteforce(spark):
    """The run-length sum-of-squares form equals the straightforward
    TF-cosine computed in Python."""
    from collections import Counter

    from hypercane_spark.operators.filters import off_topic

    docs = [
        ("g", 0, "apple banana apple cherry"),
        ("g", 1, "apple banana banana"),
        ("g", 2, "dog cat mouse"),
        ("g", 3, ""),
        ("h", 0, "x y z"),
        ("h", 1, "x x y q"),
    ]
    df = spark.createDataFrame(docs, "urit string, seq int, bpfree_text string")
    out = off_topic(
        df, measure="cosine", group="urit", mdt="seq", key="seq",
        keep_on_topic=True, threshold=-1.0,  # keep all rows, check scores
    )
    got = {(r["urit"], r["seq"]): r["offtopic_score"] for r in out.collect()}

    def cos(a: str, b: str) -> float:
        ca, cb = Counter(a.lower().split()), Counter(b.lower().split())
        dot = sum(ca[t] * cb[t] for t in ca)
        na = math.sqrt(sum(v * v for v in ca.values()))
        nb = math.sqrt(sum(v * v for v in cb.values()))
        return dot / (na * nb) if na > 0 and nb > 0 else 0.0

    firsts = {"g": "apple banana apple cherry", "h": "x y z"}
    for urit, seq, text in docs:
        expect = cos(text, firsts[urit])
        assert abs(got[(urit, seq)] - expect) < 1e-12, (urit, seq)


# --------------------------------------------- streaming surt dedup

def test_frontier_merge_surt_cross_batch(spark, tmp_path):
    """Two urims canonicalizing to the same SURT arriving in different
    micro-batches are appended once (anti-join keys on surt now)."""
    from hypercane_spark.streaming.ingest import (
        DISCOVERED_SCHEMA,
        stream_discovered_urls,
        stream_frontier_merge,
    )

    d = str(tmp_path / "drops")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, DISCOVERED_SCHEMA.replace("event_time timestamp", "event_time string")
    ).withColumn("event_time", F.to_timestamp("event_time"))
    mk([("https://s.example/p", "http://s.example/p", "s.example", 1.0,
         None, "2024-01-01 00:00:00")]).coalesce(1).write.mode("append").parquet(d)
    # same resource, different scheme + trailing slash → same surt
    mk([("http://s.example/p/", "http://s.example/p", "s.example", 2.0,
         None, "2024-01-01 00:01:00")]).coalesce(1).write.mode("append").parquet(d)

    frontier_dir = str(tmp_path / "frontier")
    q = stream_frontier_merge(
        stream_discovered_urls(spark, d, max_files_per_trigger=1),
        frontier_dir,
        None,
        str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(frontier_dir).collect()
    assert len(rows) == 1
    assert "surt" in spark.read.parquet(frontier_dir).columns


# ------------------------------------------- seed-miss frontier advance

def test_crawl_seed_miss_does_not_drop_deferred(spark, tmp_path):
    """Seeding with URIs absent from the web table must not kill the crawl:
    deferred/valid rows keep crawling (round continues), missing seeds are
    marked seen and never retried."""
    from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine

    web = spark.createDataFrame(
        [("https://b.example/m-0", "http://b.example/0", "b.example",
          dt.datetime(2020, 1, 1), 0.0, 1.0, None,
          ["https://b.example/m-1"]),
         ("https://b.example/m-1", "http://b.example/1", "b.example",
          dt.datetime(2020, 1, 2), 0.0, 0.5, None, [])],
        "urim string, urir string, host string, memento_datetime timestamp, "
        "damage double, priority double, image_id string, outlinks array<string>",
    )
    eng = CrawlEngine(spark, web, config=CrawlConfig(max_rounds=4))
    # seed_frontier inner-joins web, so build a frontier with a ghost row
    # the way a user-supplied frontier table would arrive
    seeds = eng.seed_frontier(web.select("urim").where(F.col("urim").endswith("m-0")))
    ghost = spark.createDataFrame(
        [("https://ghost.example/x", "http://ghost.example/x", "ghost.example",
          9.0, 0, None)],
        "urim string, urir string, host string, priority double, depth int, "
        "discovered_from string",
    )
    fetched = eng.run(seeds.unionByName(ghost))
    urims = sorted(r["urim"] for r in fetched.select("urim").collect())
    # both real pages crawled despite the ghost dominating round 0 priority
    assert urims == ["https://b.example/m-0", "https://b.example/m-1"]


# ------------------------------------------ append-only seen checkpoints

def test_checkpoint_seen_deltas_union(spark, tmp_path):
    from hypercane_spark.streaming.checkpoint import RoundCheckpoint

    FS = (
        "urim string, urir string, host string, priority double, "
        "depth int, discovered_from string"
    )

    def fr(*rows):
        return spark.createDataFrame(list(rows), FS)

    from hypercane_spark.oracle.crawl import surt_key_py

    def u(name):
        return f"https://{name}.example/page"

    ck = RoundCheckpoint(str(tmp_path / "ck"))
    ck.write_seeds(fr((u("a"), "ra", "h1", 1.0, 0, None)))
    # round 0: a fetched (seen); discovers b and c
    ck.write(
        0,
        fr(
            (u("b"), "rb", "h1", 2.0, 1, u("a")),
            (u("c"), "rc", "h2", 1.0, 1, u("a")),
        ),
        spark.createDataFrame([(surt_key_py(u("a")),)], "surt string"),
        {},
    )
    # round 1: b+c fetched; b re-discovered at higher priority / deeper
    # depth (merge must keep max prio, min depth, min discovered_from),
    # d discovered
    ck.write(
        1,
        fr(
            (u("b"), "rb", "h1", 3.0, 2, u("z")),
            (u("d"), "rd", "h2", 1.0, 2, u("c")),
        ),
        spark.createDataFrame(
            [(surt_key_py(u("b")),), (surt_key_py(u("c")),)], "surt string"
        ),
        {},
    )
    rnd, frontier, seen = ck.read(spark)
    assert rnd == 1
    assert len(seen.collect()) == 3
    # per-round delta dirs exist; no full frontier/seen table is rewritten
    assert os.path.isdir(str(tmp_path / "ck" / "round=1" / "seen_delta.parquet"))
    assert os.path.isdir(
        str(tmp_path / "ck" / "round=1" / "frontier_delta.parquet")
    )
    assert not os.path.exists(str(tmp_path / "ck" / "round=1" / "seen.parquet"))
    assert not os.path.exists(
        str(tmp_path / "ck" / "round=1" / "frontier.parquet")
    )
    # reconstruction = merge(seeds ∪ deltas) − seen: only d remains
    got = {r["urim"]: r for r in frontier.collect()}
    assert set(got) == {u("d")}
    # at round 0, b and c are still frontier (merged, not yet seen)
    _, f0, seen0 = ck.read(spark, 0)
    assert len(seen0.collect()) == 1
    f0_rows = {r["urim"] for r in f0.collect()}
    assert f0_rows == {u("b"), u("c")}


def test_checkpoint_compact_prune_and_continue(spark, tmp_path):
    """compact() folds the delta chain into snapshots: read() is unchanged
    before/after, subsumed delta dirs (and seeds) are pruned, and a
    post-compaction delta round reconstructs snapshot-forward."""
    from hypercane_spark.oracle.crawl import surt_key_py
    from hypercane_spark.streaming.checkpoint import RoundCheckpoint

    FS = (
        "urim string, urir string, host string, priority double, "
        "depth int, discovered_from string"
    )

    def fr(*rows):
        return spark.createDataFrame(list(rows), FS)

    def u(name):
        return f"https://{name}.example/page"

    def surts(*names):
        return spark.createDataFrame(
            [(surt_key_py(u(n)),) for n in names], "surt string"
        )

    ck = RoundCheckpoint(str(tmp_path / "ck"))
    ck.write_seeds(fr((u("a"), "ra", "h1", 1.0, 0, None)))
    ck.write(
        0,
        fr((u("b"), "rb", "h1", 2.0, 1, u("a")),
           (u("c"), "rc", "h2", 1.0, 1, u("a"))),
        surts("a"), {},
    )
    ck.write(
        1,
        fr((u("b"), "rb", "h1", 3.0, 2, u("z")),
           (u("d"), "rd", "h2", 1.0, 2, u("c"))),
        surts("b", "c"), {},
    )
    _, f_before, s_before = ck.read(spark)
    before = {
        (r["urim"], r["priority"], r["depth"]) for r in f_before.collect()
    }
    seen_before = {r["surt"] for r in s_before.collect()}

    assert ck.compact(spark, prune=True) == 1
    base = tmp_path / "ck"
    assert os.path.isdir(str(base / "round=1" / "frontier.parquet"))
    assert os.path.isdir(str(base / "round=1" / "seen.parquet"))
    for gone in [
        base / "seeds.parquet",
        base / "round=0" / "frontier_delta.parquet",
        base / "round=0" / "seen_delta.parquet",
        base / "round=1" / "frontier_delta.parquet",
        base / "round=1" / "seen_delta.parquet",
    ]:
        assert not os.path.exists(str(gone)), gone
    # manifests survive (round listing / metrics history)
    assert ck.rounds() == [0, 1]

    _, f_after, s_after = ck.read(spark)
    assert {
        (r["urim"], r["priority"], r["depth"]) for r in f_after.collect()
    } == before
    assert {r["surt"] for r in s_after.collect()} == seen_before

    # post-compaction delta round: snapshot-forward reconstruction
    ck.write(
        2,
        fr((u("e"), "re", "h1", 5.0, 3, u("d"))),
        surts("d"), {},
    )
    _, f2, s2 = ck.read(spark)
    assert {r["urim"] for r in f2.collect()} == {u("e")}
    assert {r["surt"] for r in s2.collect()} == {
        surt_key_py(u(n)) for n in "abcd"
    }


def test_crawl_compact_every_matches_uncompacted(spark, tmp_path):
    """Engine-level: compact_every must not change crawl order, the seen
    set, or resume behavior."""
    from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine
    from hypercane_spark.synth import gen_link_graph

    WEB_SCHEMA = (
        "urim string, urir string, host string, memento_datetime timestamp, "
        "damage double, priority double, image_id string, "
        "outlinks array<string>"
    )
    rows = gen_link_graph(n_urls=150)
    cols = [c.split()[0] for c in WEB_SCHEMA.split(", ")]
    web = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows], WEB_SCHEMA
    ).cache()
    seeds = sorted(r["urim"] for r in rows)[::15]
    seed_df = spark.createDataFrame([(u,) for u in seeds], "urim string")

    base_cfg = CrawlConfig(per_host_budget=3, max_depth=3, max_rounds=8)
    plain = CrawlEngine(
        spark, web, checkpoint_dir=str(tmp_path / "plain"), config=base_cfg
    )
    order_plain = plain.pop_order(plain.run(seed_df))

    cfg_c = CrawlConfig(
        per_host_budget=3, max_depth=3, max_rounds=8, compact_every=2
    )
    compacted = CrawlEngine(
        spark, web, checkpoint_dir=str(tmp_path / "comp"), config=cfg_c
    )
    order_comp = compacted.pop_order(compacted.run(seed_df))
    assert order_comp == order_plain

    seen_plain = {
        r["surt"] for r in plain.ckpt.read(spark)[2].collect()
    }
    seen_comp = {
        r["surt"] for r in compacted.ckpt.read(spark)[2].collect()
    }
    assert seen_comp == seen_plain

    # resume from the compacted checkpoint continues identically
    cfg_more = CrawlConfig(
        per_host_budget=3, max_depth=3, max_rounds=12, compact_every=2
    )
    resumed = CrawlEngine(
        spark, web, checkpoint_dir=str(tmp_path / "comp"), config=cfg_more
    )
    cfg_full = CrawlConfig(per_host_budget=3, max_depth=3, max_rounds=12)
    full = CrawlEngine(
        spark, web, checkpoint_dir=str(tmp_path / "full12"), config=cfg_full
    )
    order_full = full.pop_order(full.run(seed_df))
    order_resumed = order_comp + resumed.pop_order(
        resumed.run(seed_df, resume=True)
    )
    assert order_resumed == order_full


# ------------------------------------------ multiclass language ID

def test_language_id_multiclass(spark):
    from hypercane_spark.functions.text import language_id

    rows = [
        ("en", "the cat sat on the mat and it was happy with this"),
        ("es", "el perro está en la casa de los niños y una de las"),
        ("fr", "le chat est dans la maison des enfants et il est pour"),
        ("de", "der hund ist in dem haus und die katze ist nicht mit"),
        ("pt", "o cachorro está em uma casa de um que não os para"),
        ("nl", "de hond is in het huis en dat is niet voor de kat"),
        ("un", "zzz qqq xxx yyy www vvv"),
        ("un", ""),
    ]
    df = spark.createDataFrame(rows, "want string, text string")
    got = df.select("want", language_id("text").alias("lang")).collect()
    for r in got:
        assert r["lang"] == r["want"], (r["want"], r["lang"])


def test_language_id_tiebreak_deterministic(spark):
    from hypercane_spark.functions.text import language_id

    # 'de la' hits both es and fr profiles equally -> declaration order (es)
    df = spark.createDataFrame([("de la",)], "text string")
    assert df.select(language_id("text").alias("l")).first()["l"] == "es"


# ------------------------------------------ paragraph dedup (CCNet-style)

def test_paragraph_dedup_strips_cross_doc_boilerplate(spark):
    from hypercane_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "unique one\n\nSHARED FOOTER\n\nalso unique"),
        (2, "different body\n\nshared   footer"),  # ws/case-normalized dup
        (3, "SHARED FOOTER"),  # all paragraphs duplicate -> doc dropped
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r["text"] for r in paragraph_dedup(df).collect()}
    assert out[1] == "unique one\n\nSHARED FOOTER\n\nalso unique"
    assert out[2] == "different body"
    assert 3 not in out
    # keep-empty mode keeps doc 3 with empty text
    from pyspark.sql import functions as F
    kept = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(df, drop_empty_docs=False).collect()
    }
    assert kept[3] == ""


def test_paragraph_dedup_within_doc_duplicates(spark):
    from hypercane_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(7, "para a\n\npara b\n\npara a")], "doc_id int, text string"
    )
    out = paragraph_dedup(df).collect()[0]["text"]
    assert out == "para a\n\npara b"


# ------------------------------------------ gopher quality rules

def test_gopher_quality_flags(spark):
    from pyspark.sql import functions as F
    from hypercane_spark.functions.text import gopher_quality_flags

    good = " ".join(
        "the quick brown fox jumps over that lazy dog with style and grace"
        .split() * 6
    )  # 72 words, all alpha, stopword-rich
    short = "too short"
    bullety = "\n".join(f"- item {i}" for i in range(10)) + (
        "\n" + good
    )
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, bullety), (4, None)],
        "id int, text string",
    )
    got = {
        r["id"]: r["g"].asDict()
        for r in df.select("id", gopher_quality_flags("text").alias("g")).collect()
        if r["g"] is not None
    }
    assert got[1]["pass"] is True
    assert got[2]["n_words_ok"] is False and got[2]["pass"] is False
    # 10 of 11 non-empty lines are bullets -> bullet_ok False (>0.9)
    assert got[3]["bullet_ok"] is False


def test_repetition_stats(spark):
    from hypercane_spark.operators.filters import repetition_stats

    rows = [
        (1, "alpha beta\ngamma delta\nepsilon zeta"),  # clean
        (2, "same line\nsame line\nsame line\nother"),  # dup lines
        (3, "buy now buy now buy now buy now"),  # one dominant 2-gram
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert got[1]["repetition_ok"] is True
    assert got[1]["dup_line_frac"] == 0.0
    # doc 2: 4 lines, 2 distinct -> dup_line_frac = 0.5
    assert abs(got[2]["dup_line_frac"] - 0.5) < 1e-9
    assert got[2]["repetition_ok"] is False
    # doc 3: 'buy now'/'now buy' dominate; top gram well over 20% of chars
    assert got[3]["top_2gram_char_frac"] > 0.2
    assert got[3]["repetition_ok"] is False


# ------------------------------------------ IVF ANN

def test_ivf_topk_seed_quantizer(spark):
    import numpy as np
    from hypercane_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[5][1]
    exact = [r["vec_id"] for r in cosine_topk(df, q, k=5).collect()]
    approx = ivf_topk(df, q, k=5, n_cells=8, n_probe=8)  # probe-all == exact
    got = [r["vec_id"] for r in approx.collect()]
    assert got == exact  # probing every cell must recover the exact top-k
    # partial probe: still returns k rows, query's own vector first
    part = [r["vec_id"] for r in ivf_topk(df, q, k=5, n_cells=8, n_probe=2).collect()]
    assert len(part) == 5 and part[0] == 5


def test_ivf_topk_ml_engine_smoke(spark):
    import numpy as np
    from hypercane_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ivf_topk(df, rows[0][1], k=3, n_cells=4, n_probe=2, centroids="ml")
    assert len(out.collect()) == 3

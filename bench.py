#!/usr/bin/env python
"""Benchmark harness for the driver and for scaling-evidence runs.

Default mode: runs the headline SURVEY.md §2 queries at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` (default 32), plus a crawl-frontier throughput
job (the BASELINE.json metric is fetched mementos/sec), and prints ONE JSON
line::

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...,
     "crawl": {"fetched": n, "wall_s": s, "mementos_per_sec": r, ...}}

``--crawl-only`` runs only the crawl job (used by tools/bench_scaling.py to
evidence the two-cluster-size criterion at local[8] vs local[32]).

Query timings force full execution via the noop sink (no driver collect);
each query is timed cold (fresh DataFrame lineage, shared SparkSession).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Representative subset of the 41 registry queries: every operator family
# (sample, filter, cluster, score, order, agg/report, dedup, similarity,
# text, crawl) is covered; the rest share the same physical patterns.
HEADLINE = [
    "sample_systematic",
    "sample_stratified_random_det",
    "filter_highest_score_per_cluster",
    "filter_largest_clusters",
    "cluster_time_slice",
    "score_dsa1",
    "score_bm25",
    "order_memento_datetime",
    "agg_terms_tfdf",
    "agg_growth_curve",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "sim_topk_cosine",
    "text_quality",
    "crawl_politeness_round",
    "crawl_seen_dedup",
    "dedup_simhash",
    "mm_decode_stats",
    "pipeline_filtered_random",
    # round-2 operators
    "filter_off_topic_sorensen",
    "report_sumgrams",
    "report_entity_freq",
    "html_boilerplate_free",
    # round-3 operators
    "filter_off_topic_cosine",
    "agg_growth_auc",
    "dedup_ngram_jaccard",
    "dedup_paragraphs",
    "text_gopher_quality",
    "text_repetition",
    "sim_ivf_topk",
    # round-4 operators (completing the 7/7 packaged-algorithm surface)
    "pipeline_ordered_systematic",
    "pipeline_simple_search_engine",
    # round-5 operators
    "mm_frame_sample",
    "pipeline_llm_curate",
]

CRAWL_N_URLS = int(os.environ.get("SPARK_GRAFT_CRAWL_URLS", "40000"))
CRAWL_ROUNDS = int(os.environ.get("SPARK_GRAFT_CRAWL_ROUNDS", "4"))
CRAWL_BUDGET = int(os.environ.get("SPARK_GRAFT_CRAWL_BUDGET", "120"))
IMG_N = int(os.environ.get("SPARK_GRAFT_CRAWL_IMAGES", "1000"))
CRAWL_HOSTS = int(os.environ.get("SPARK_GRAFT_CRAWL_HOSTS", "40"))
# SPARK_GRAFT_CRAWL_PAYLOAD=0 → frontier-only crawl (no image dim join, no
# per-row verification): isolates the scheduling/dedup/link engine for the
# two-level scaling measurement — the payload-verify stages are DRAM-
# bandwidth-bound on ONE shared-memory host (see BENCH.md), which a real
# N→4N executor scale-out does not share.
CRAWL_PAYLOAD = os.environ.get("SPARK_GRAFT_CRAWL_PAYLOAD", "1") != "0"
# SPARK_GRAFT_CRAWL_DISTGEN=1 → generate the web table distributedly
# (synth.gen_link_graph_df: pure column expressions over spark.range) —
# required above ~1M URLs where driver-side Python row generation and
# createDataFrame serialization dominate setup.
CRAWL_DISTGEN = os.environ.get("SPARK_GRAFT_CRAWL_DISTGEN", "0") == "1"
IMG_SIZES = tuple(
    int(x)
    for x in os.environ.get("SPARK_GRAFT_CRAWL_IMGPX", "32,64,128").split(",")
)


def get_session(cpus: int):
    from hypercane_spark.session import get_spark

    return get_spark(
        app_name=f"bench-local{cpus}",
        master=f"local[{cpus},8]",
        shuffle_partitions=cpus,
    )


def warm_python_workers(spark) -> None:
    """One trivial Arrow-UDF stage before any timed window: the first UDF
    stage of a session pays one Python-worker spawn per core (~0.3-0.5 s
    each, serialized under this sandboxed kernel) — a session-lifetime
    cost, not per-query throughput. Same rationale as JIT warmup."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        return x

    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4).repartition(par).select(
        _warm(F.col("id"))
    ).write.format("noop").mode("overwrite").save()


def run_queries(spark) -> dict[str, float]:
    from hypercane_spark.entry_queries import REGISTRY

    warm_python_workers(spark)
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn, _ = REGISTRY[name]
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
    return timings


def run_crawl(spark) -> dict:
    """Crawl-frontier throughput: synthetic memento web (seed 42, Zipf-skewed
    hosts), CrawlEngine over CRAWL_ROUNDS rounds; metric = fetched
    mementos/sec of wall time (the BASELINE.json unit)."""
    from pyspark.sql import functions as F

    from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine
    from hypercane_spark.synth import gen_images, gen_link_graph, gen_robots

    web_schema = (
        "urim string, urir string, host string, memento_datetime timestamp, "
        "damage double, priority double, image_id string, outlinks array<string>"
    )
    par = spark.sparkContext.defaultParallelism
    # pre-partitioned on the join key: every per-round join (seed, fetch,
    # link-resolve) reuses this distribution — only the small per-round
    # side shuffles (the 100 TB story: a bucketed Iceberg web table).
    if CRAWL_DISTGEN:
        from hypercane_spark.synth import gen_link_graph_df

        web = gen_link_graph_df(
            spark,
            n_urls=CRAWL_N_URLS,
            max_outlinks=3,
            n_images=IMG_N,
            n_hosts=CRAWL_HOSTS,
        )
    else:
        cols = [c.split()[0] for c in web_schema.split(", ")]
        rows = gen_link_graph(
            n_urls=CRAWL_N_URLS,
            max_outlinks=3,
            n_images=IMG_N,
            n_hosts=CRAWL_HOSTS,
        )
        web = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows], web_schema
        )
    web = web.repartition(par, "urim").persist()
    web.count()
    robots = spark.createDataFrame(
        [(r["host"], r["disallow"], r["crawl_delay"]) for r in gen_robots()],
        "host string, disallow array<string>, crawl_delay double",
    )
    images = None
    if CRAWL_PAYLOAD:
        img_rows = gen_images(n=IMG_N, sizes=IMG_SIZES)
        img_cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
        images = spark.createDataFrame(
            [tuple(r[c] for c in img_cols) for r in img_rows],
            "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long",
        ).repartition(par, "image_id").persist()
        images.count()
    seeds = web.select("urim").where(F.crc32(F.col("urim")) % 10 == 0)

    warm_python_workers(spark)

    import shutil
    import tempfile

    # tmpfs by default: on a real cluster, checkpoint bandwidth scales with
    # the executor count (each writes to its own local/object-store lane);
    # this sandbox's single virtual disk does not, so a RAM-backed dir is
    # the faithful analog for the scaling measurement. Override with
    # SPARK_GRAFT_CKPT_DIR to measure a specific storage target.
    ckpt_base = os.environ.get(
        "SPARK_GRAFT_CKPT_DIR",
        "/dev/shm" if os.path.isdir("/dev/shm") else os.getcwd(),
    )
    ckpt_dir = tempfile.mkdtemp(prefix="crawl-ckpt-", dir=ckpt_base)
    # The seen test is the engine's exact anti-join; either knob below
    # switches on the bloom prefilter in front of it (an A/B lever).
    # SPARK_GRAFT_BLOOM_SHARDS picks its shape: 0 → monolithic driver
    # array, >0 → that many shards; unset → the engine's auto-select,
    # which picks the monolith at the default 2^20 bits (below
    # SHARD_AUTO_MIN_BITS). SPARK_GRAFT_BLOOM_BITS sizes the filter (total
    # bits) so the sharded-vs-monolith crossover A/B can run at design
    # sizing (~10 bits/key) instead of the smoke default.
    bloom = {
        key: int(os.environ[var])
        for key, var in (
            ("bloom_shards", "SPARK_GRAFT_BLOOM_SHARDS"),
            ("bloom_bits", "SPARK_GRAFT_BLOOM_BITS"),
        )
        if os.environ.get(var)
    }
    if bloom:
        bloom["seen_filter"] = "bloom"
    eng = CrawlEngine(
        spark,
        web,
        robots=robots,
        images=images,
        checkpoint_dir=ckpt_dir,
        config=CrawlConfig(
            per_host_budget=CRAWL_BUDGET,
            max_depth=CRAWL_ROUNDS,
            max_rounds=CRAWL_ROUNDS,
            salt_hot_hosts=4,
            verify_payload=CRAWL_PAYLOAD,
            # phash verified on every fetched row; ground-truth PSNR also
            # per-row by default — the regen stands in for the codec CPU a
            # real JPEG decode spends (the sandbox stand-in decoder is a
            # zero-cost buffer view). SPARK_GRAFT_PSNR_SAMPLE=N switches to
            # the production data-quality shape (deep audit on 1/N ids).
            psnr_sample_mod=int(
                os.environ.get("SPARK_GRAFT_PSNR_SAMPLE", "1")
            ),
            collect_metrics=False,
            **bloom,
        ),
    )
    t0 = time.time()
    fetched = eng.run(eng.seed_frontier(seeds))
    aggs = [F.count("*").alias("n")]
    if CRAWL_PAYLOAD:
        aggs += [
            F.sum(F.col("phash_ok").cast("int")).alias("n_ok"),
            F.min("psnr_db").alias("min_psnr_db"),
        ]
    agg = fetched.agg(*aggs).collect()[0]
    n_fetched = agg["n"]
    wall = time.time() - t0
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    # a payload the verifier failed on is skipped by run(): count it as
    # not ok, so a decoder fault cannot hide behind the rows that passed
    errors = sum(m.errors for m in eng.metrics)
    fidelity = (
        {
            "phash_ok_rate": (agg["n_ok"] or 0) / max(n_fetched + errors, 1),
            "errors": errors,
            "min_psnr_db": round(min(float(agg["min_psnr_db"] or 0.0), 1e9), 2),
        }
        if CRAWL_PAYLOAD
        else {"mode": "frontier-only (payload verify measured separately)"}
    )
    web.unpersist()
    stage_timings: dict[str, float] = {}
    for m in eng.metrics:
        for k, v in m.timings.items():
            stage_timings[k] = round(stage_timings.get(k, 0.0) + v, 3)
    # per-round series: the append-only seen-delta checkpoint claim is that
    # checkpoint time does NOT grow with |seen| across rounds — the series
    # is the evidence (tools/bench_scaling.py asserts on it)
    stage_rounds = {
        k: [round(m.timings.get(k, 0.0), 3) for m in eng.metrics]
        for k in stage_timings
    }
    return {
        "n_urls": CRAWL_N_URLS,
        "rounds": len(eng.metrics),
        "fetched": n_fetched,
        "wall_s": round(wall, 3),
        "mementos_per_sec": round(n_fetched / wall, 1),
        "fidelity": fidelity,
        "stage_s": stage_timings,
        "stage_rounds_s": stage_rounds,
        # Spark jobs triggered per round (statusTracker delta) — the
        # per-round driver fixed cost is jobs × (scheduling + commit
        # latency); this series is the number the round-5 fixed-cost work
        # drives down (BENCH.md jobs/round table)
        "jobs_rounds": [m.jobs for m in eng.metrics],
    }


def main() -> None:
    crawl_only = "--crawl-only" in sys.argv
    spark = get_session(CPUS)
    try:
        out: dict = {"sf": SF_DIR, "cores": CPUS}
        t0 = time.time()
        if not crawl_only:
            out["queries"] = run_queries(spark)
        out["crawl"] = run_crawl(spark)
        total = round(time.time() - t0, 3)
        out["metric"] = (
            "crawl fetched mementos/sec"
            if crawl_only
            else "headline queries + crawl total wall time"
        )
        out["value"] = (
            out["crawl"]["mementos_per_sec"] if crawl_only else total
        )
        out["unit"] = "mementos/sec" if crawl_only else "sec"
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

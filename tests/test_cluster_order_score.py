"""Cluster / order / score operator semantics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hypercane_spark.operators import cluster as C
from hypercane_spark.operators import order as O
from hypercane_spark.operators import score as S
from hypercane_spark.oracle.scan import time_slice as oracle_time_slice


def test_story_size_heuristic_boundary():
    assert C.story_size_k(767) == math.ceil(math.sqrt(767))  # 28
    assert C.story_size_k(768) == math.ceil(28 + math.log(768))  # 35
    assert C.story_size_k(1) == 1


def test_time_slice_matches_oracle(spark, mementos, memento_rows):
    out = C.time_slice(mementos.drop("cluster"), k=10)
    got = {r["urim"]: int(r["cluster"]) for r in out.select("urim", "cluster").collect()}
    want = oracle_time_slice(memento_rows, 10)
    assert got == want


def test_time_slice_composes_hierarchically(spark, mementos):
    out = C.time_slice(mementos, k=5)  # mementos already has cluster col
    sample = out.select("cluster").first()["cluster"]
    assert "~~~" in sample


def test_domainname_cluster(spark, mementos):
    out = C.domainname(mementos.drop("cluster"))
    n_hosts = mementos.select("host").distinct().count()
    assert out.select("cluster").distinct().count() == n_hosts


def test_kmeans_mdt_per_group(spark, mementos):
    out = C.kmeans_mdt(mementos, k=3)
    # every composite id ends with a 0..2 label
    labels = {r["cluster"].split("~~~")[-1] for r in out.select("cluster").distinct().collect()}
    assert labels <= {"0", "1", "2"}
    assert out.count() == mementos.count()


def test_dbscan_simhash_groups_near_dups(spark, mementos):
    out = C.dbscan_simhash(mementos.drop("cluster"), eps=0.3, min_samples=2)
    labels = [r["cluster"] for r in out.select("cluster").distinct().collect()]
    assert len(labels) >= 1
    assert out.count() == mementos.count()


@pytest.mark.parametrize(
    "prior, kw, digest, n_labels, n_noise",
    [
        # eps=None: per-group knee of the sorted 2-NN distances
        (True, {}, "11a60c259b00474c3ee3254dc38dbf54", 19, 74),
        (False, {}, "6aedd9d56abf26bffb99a73a993972b5", 34, 20),
        (True, {"eps": 0.05, "min_samples": 3},
         "6105032f76b2dd1afa226ae2e6a5bf8b", 14, 13),
    ],
)
def test_dbscan_mdt_labels_pinned(spark, mementos, prior, kw, digest, n_labels, n_noise):
    """dbscan_mdt's labels on the fixture, pinned by an md5 of the sorted
    (urim, cluster) pairs: with the prior cluster (one fit per group,
    composed as 'prior~~~label') and without (one global fit)."""
    import hashlib

    df = mementos if prior else mementos.drop("cluster")
    got = sorted(
        (r["urim"], r["cluster"])
        for r in C.dbscan_mdt(df, **kw).select("urim", "cluster").collect()
    )
    assert len(got) == mementos.count()
    if prior:
        before = {r["urim"]: r["cluster"] for r in mementos.select("urim", "cluster").collect()}
        assert all(c.startswith(before[u] + "~~~") for u, c in got)
    labels = [c.split("~~~")[-1] for _, c in got]
    assert (len(set(labels)), labels.count("-1")) == (n_labels, n_noise)
    assert hashlib.md5(repr(got).encode()).hexdigest() == digest


def test_order_memento_datetime_desc(spark, mementos):
    out = O.by_memento_datetime(mementos)
    rows = out.orderBy("rank").select("memento_datetime").collect()
    dts = [r[0] for r in rows]
    assert dts == sorted(dts, reverse=True)


def test_order_pubdate_fallback_asc(spark, mementos):
    out = O.by_pubdate_else_memento_datetime(mementos)
    rows = out.orderBy("rank").select(
        F.coalesce("pubdate", "memento_datetime").alias("eff")
    ).collect()
    effs = [r[0] for r in rows]
    assert effs == sorted(effs)


def test_order_by_score(spark, mementos):
    out = O.by_score(mementos, "score_seed", descending=True)
    rows = out.orderBy("rank").select("score_seed").collect()
    vals = [r[0] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_dsa1_score_formula(spark):
    df = spark.createDataFrame(
        [("http://host00.example/a/b?x=1", 0.5, "u1")],
        "urir string, damage double, urim string",
    )
    r = S.dsa1_score(df).first()
    # (1 - (-0.40)*0.5) + 0.45*(3/10) + 0.15*0 = 1.2 + 0.135 = 1.335
    assert abs(r["dsa1_score"] - 1.335) < 1e-9


def test_dsa2_score_zscore(spark, mementos):
    df = S.card_score(mementos)
    out = S.dsa2_score(df)
    # z-scores sum to ~0 → mean of (score - 0.5*card) is ~0
    stats = out.agg(
        F.avg(F.col("dsa2_score") - 0.5 * F.col("card_score")).alias("m")
    ).first()
    assert abs(stats["m"]) < 1e-6


def test_bm25_matches_pure_python(spark, mementos):
    docs = [r["bpfree_text"] for r in mementos.select("bpfree_text").orderBy("urim").collect()]
    q = ["archive", "news"]
    out = S.bm25_score(mementos, q).select("bpfree_text", "bm25_score").collect()
    want = dict(zip(docs, _py_bm25(docs, q)))
    for r in out:
        assert abs(r["bm25_score"] - want[r["bpfree_text"]]) < 1e-6


def _py_bm25(docs, query, k1=1.5, b=0.75):
    """Pure-Python BM25Okapi (rank_bm25's formula) over lowercased
    whitespace tokens; an avgdl of 0 counts as 1.0."""
    tokenized = [d.lower().split() for d in docs]
    n = len(tokenized)
    avgdl = (sum(len(d) for d in tokenized) / n) or 1.0
    terms = [t.lower() for t in query]
    dfreq = {t: sum(1 for d in tokenized if t in d) for t in terms}
    idf = {t: math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0) for t in terms}
    out = []
    for d in tokenized:
        s = 0.0
        for t in terms:
            tf = d.count(t)
            s += idf[t] * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(d) / avgdl))
        out.append(round(s, 6))
    return out


def test_bm25_builds_without_driver_action(spark, monkeypatch):
    df = spark.createDataFrame(
        [(1, "spark join spark"), (2, "join tables"), (3, "")],
        "id int, bpfree_text string",
    )

    def _no_action(self, *a, **k):
        raise AssertionError("driver action while building bm25_score")

    # patch the concrete class: it overrides the abstract DataFrame's
    # methods, so a patch on pyspark.sql.DataFrame would never be called
    monkeypatch.setattr(type(df), "first", _no_action)
    monkeypatch.setattr(type(df), "collect", _no_action)
    scored = S.bm25_score(df, ["spark", "join"])
    monkeypatch.undo()
    assert scored.columns == ["id", "bpfree_text", "bm25_score"]
    got = [r["bm25_score"] for r in scored.orderBy("id").collect()]
    want = _py_bm25(["spark join spark", "join tables", ""], ["spark", "join"])
    assert got == pytest.approx(want, abs=1e-6)


def test_bm25_repeated_absent_terms_and_empty_corpus(spark):
    texts = [
        "Spark joins tables and Spark shuffles",
        "the archive of news",
        "spark",
        "",
        "SPARK spark Spark archive",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, t string")
    # mixed case and repeated (summed twice), plus a term in no document
    query = ["Spark", "spark", "ARCHIVE", "zebra"]
    got = [r["s"] for r in S.bm25_score(df, query, text="t", out="s").orderBy("id").collect()]
    assert got == pytest.approx(_py_bm25(texts, query), abs=1e-6)
    assert got[0] > 0 and got[3] == 0.0

    # every text empty: avgdl 0 → 1.0, every score 0
    empty = spark.createDataFrame([(0, ""), (1, "  ")], "id int, t string")
    got = [r["s"] for r in S.bm25_score(empty, query, text="t", out="s").orderBy("id").collect()]
    assert got == _py_bm25(["", "  "], query) == [0.0, 0.0]


def test_image_count_score(spark, mementos, images):
    linked = images.withColumn(
        "urim", F.concat(F.lit("u"), (F.monotonically_increasing_id() % 10).cast("string"))
    )
    base = spark.createDataFrame([(f"u{i}",) for i in range(12)], "urim string")
    out = S.image_count_score(base, linked)
    total = out.agg(F.sum("image_count_score")).first()[0]
    assert total == images.count()
    assert out.where("urim in ('u10','u11')").agg(F.sum("image_count_score")).first()[0] == 0


def test_document_sizes(spark):
    df = spark.createDataFrame([("one two. three!", )], "bpfree_text string")
    r = S.document_size_scores(df).first()
    assert r["character_size"] == 15.0
    assert r["word_size"] == 3.0
    assert r["sentence_size"] == 2.0


def test_distance_from_centroid(spark, mementos):
    out = S.distance_from_centroid(mementos.limit(50))
    assert out.count() == 50
    assert out.where("centroid_distance < 0").count() == 0


def test_with_global_rank_matches_window(spark, mementos):
    from pyspark.sql import functions as F

    from hypercane_spark.operators.order import by_memento_datetime, with_global_rank

    expected = {
        r["urim"]: r["rank"]
        for r in by_memento_datetime(mementos).select("urim", "rank").collect()
    }
    scalable = with_global_rank(
        mementos,
        [F.col("memento_datetime").desc(), F.col("urim").desc()],
        num_partitions=8,
    )
    got = {r["urim"]: r["rank"] for r in scalable.select("urim", "rank").collect()}
    assert got == expected


def test_kmeans_tfidf_engines_agree(spark):
    """The pandas parity engine and the distributed ml engine must induce
    the same PARTITION on clearly separated data (labels are arbitrary)."""
    from hypercane_spark.operators.cluster import kmeans_tfidf

    rows = []
    for i in range(12):
        rows.append((f"a{i}", "alpha beta gamma delta " * 8))
    for i in range(12):
        rows.append((f"b{i}", "omega sigma lambda kappa " * 8))
    df = spark.createDataFrame(rows, "urim string, bpfree_text string")

    def partition(out):
        groups = {}
        for r in out.select("urim", "cluster").collect():
            groups.setdefault(r["cluster"], set()).add(r["urim"])
        return sorted(frozenset(g) for g in groups.values())

    p_pandas = partition(kmeans_tfidf(df, k=2, engine="pandas"))
    p_ml = partition(kmeans_tfidf(df, k=2, engine="ml"))
    expect = sorted(
        [
            frozenset(f"a{i}" for i in range(12)),
            frozenset(f"b{i}" for i in range(12)),
        ]
    )
    assert p_pandas == expect
    assert p_ml == expect


def test_dbscan_lda_partitions_disjoint_vocab(spark):
    from hypercane_spark.operators.cluster import dbscan_lda

    rows = []
    for i in range(6):
        rows.append((f"a{i}", "alpha beta gamma delta epsilon " * 10, "g"))
    for i in range(6):
        rows.append((f"b{i}", "omega sigma lambda kappa mu " * 10, "g"))
    df = spark.createDataFrame(
        rows, "urim string, bpfree_text string, cluster string"
    )
    out = dbscan_lda(df, eps=0.5, min_samples=2, num_topics=4)
    got = {r["urim"]: r["cluster"] for r in out.collect()}
    # composite with the prior cluster
    assert all(c.startswith("g~~~") for c in got.values())
    a_labels = {got[f"a{i}"] for i in range(6)}
    b_labels = {got[f"b{i}"] for i in range(6)}
    # identical docs land together and the two vocab groups do not merge
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels


def test_entity_frequency_plug_point(spark):
    from hypercane_spark.operators.score import entity_frequency

    df = spark.createDataFrame(
        [("Barack Obama met Angela Merkel",), ("Angela Merkel spoke",)],
        "bpfree_text string",
    )
    # default heuristic: Capitalized spans
    got = {
        r["entity"]: r["frequency"]
        for r in entity_frequency(df).collect()
    }
    assert got == {"Barack Obama": 1, "Angela Merkel": 2}
    # pluggable fake model — exact contract
    fake = lambda texts: [["X", "Y"] for _ in texts]  # noqa: E731
    got2 = {
        r["entity"]: r["frequency"]
        for r in entity_frequency(df, ner=fake).collect()
    }
    assert got2 == {"X": 2, "Y": 2}


def test_off_topic_new_measures_smoke(spark):
    from hypercane_spark.operators.filters import off_topic

    rows = [
        ("t1", 1, "m1", "the quick brown fox jumps over the lazy dog"),
        ("t1", 2, "m2", "the quick brown fox jumps over the lazy cat"),
        ("t1", 3, "m3", "completely unrelated words entirely different page"),
    ]
    df = spark.createDataFrame(
        rows, "urit string, mdt int, urim string, bpfree_text string"
    )
    for measure, kw in [
        ("sorensen", {}),
        ("levenshtein", {"threshold": 10}),
        ("nlevenshtein", {"threshold": 0.5}),
        ("raw_simhash", {}),
        ("tf_simhash", {}),
    ]:
        out = off_topic(df, measure=measure, mdt="mdt", **kw)
        kept = {r["urim"] for r in out.select("urim").collect()}
        assert "m1" in kept, measure  # first memento is on-topic vs itself
        assert "m2" in kept, measure  # near-identical text stays
        assert "m3" not in kept, measure  # unrelated text filtered


def test_generate_queries_plug_point(spark):
    from hypercane_spark.operators.score import generate_queries

    df = spark.createDataFrame(
        [("u1", "apple apple banana the of"), ("u2", "zebra")],
        "urim string, bpfree_text string",
    )
    got = {r["urim"]: r["query"] for r in generate_queries(df).collect()}
    # fallback: top terms by (count desc, term asc), stopwords dropped
    assert got == {"u1": "apple banana", "u2": "zebra"}
    fake = lambda texts: [f"Q:{t[:5]}" for t in texts]  # noqa: E731
    got2 = {r["urim"]: r["query"] for r in generate_queries(df, generator=fake).collect()}
    assert got2 == {"u1": "Q:apple"[:7], "u2": "Q:zebra"}

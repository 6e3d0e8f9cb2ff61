from __future__ import annotations

import os

from pyspark.sql import functions as F

from hypercane_spark.sources import io as IO


def test_faux_timemaps_and_explode(spark, mementos):
    tms = IO.faux_timemaps(mementos)
    assert tms.count() == mementos.select("urir").distinct().count()
    r = tms.first()
    assert r["n_mementos"] == len(r["mementos"])
    assert r["first_mdt"] <= r["last_mdt"]
    flat = IO.explode_timemaps(tms)
    assert flat.count() == mementos.count()
    # document order = ascending datetime
    bad = flat.where(
        F.col("tm_pos") > 0
    ).alias("a").join(
        flat.alias("b"),
        (F.col("a.urit") == F.col("b.urit")) & (F.col("a.tm_pos") - 1 == F.col("b.tm_pos")),
    ).where(F.col("a.memento_datetime") < F.col("b.memento_datetime")).count()
    assert bad == 0


def test_tsv_roundtrip(spark, tmp_path):
    src = tmp_path / "in.tsv"
    src.write_text("URI-M\tScore\nhttp://a/1\t0.5\nhttp://a/2\t0.9\nhttp://a/3\t0.1\n")
    df = IO.read_tsv_resource(spark, str(src))
    assert df.columns == ["URI-M", "Score", "seq"]
    assert [r["seq"] for r in df.orderBy("seq").collect()] == [0, 1, 2]

    from hypercane_spark.operators.order import by_score

    ranked = by_score(df, "Score", descending=True, key="URI-M")
    out = str(tmp_path / "out.tsv")
    IO.write_ors(ranked, out)
    lines = open(out).read().splitlines()
    assert lines[0].split("\t")[0] == "URI-M"
    assert [ln.split("\t")[0] for ln in lines[1:]] == [
        "http://a/2", "http://a/1", "http://a/3",
    ]


def test_headerless_uri_list(spark, tmp_path):
    src = tmp_path / "uris.txt"
    src.write_text("http://x/1\nhttp://x/2\n")
    df = IO.read_tsv_resource(spark, str(src))
    assert df.count() == 2 and "URI-M" in df.columns


def test_combine_union(spark):
    a = spark.createDataFrame([("u1", 1.0)], "urim string, s1 double")
    b = spark.createDataFrame([("u2", 2.0)], "urim string, s2 double")
    out = IO.combine([a, b])
    assert out.count() == 2
    assert set(out.columns) == {"urim", "s1", "s2"}


def test_extract_uris_from_input(spark, tmp_path):
    from hypercane_spark.sources.discovery import extract_uris_from_input

    f = tmp_path / "uris.txt"
    f.write_text("http://c.example/1\nhttp://c.example/2\n")
    df = extract_uris_from_input(
        spark, f"http://a.example/x, http://b.example/y,file://{f}"
    )
    rows = [r["uri"] for r in df.orderBy("seq").collect()]
    assert rows == [
        "http://a.example/x",
        "http://b.example/y",
        "http://c.example/1",
        "http://c.example/2",
    ]


def test_load_input_dispatcher(spark, mementos, tmp_path):
    import pytest

    from hypercane_spark.sources.discovery import load_input
    from hypercane_spark.sources.io import faux_timemaps, write_ors

    tm = faux_timemaps(mementos).select("urit", "urir", "mementos")

    # timemaps parquet path
    p = str(tmp_path / "tm.parquet")
    tm.write.parquet(p)
    exploded = load_input(spark, "timemaps", p)
    assert exploded.count() == mementos.count()
    assert "urim" in exploded.columns

    # mementos TSV path
    tsv = str(tmp_path / "m.tsv")
    sample = mementos.limit(10).select(
        F.col("urim").alias("URI-M")
    ).withColumn("rank", F.monotonically_increasing_id())
    write_ors(sample, tsv, order_col="rank")
    loaded = load_input(spark, "mementos", tsv)
    assert loaded.count() == 10

    # original-resources offline (faux timemap) path
    urirs_tsv = str(tmp_path / "r.tsv")
    rsample = mementos.select(F.col("urir").alias("URI-R")).distinct().limit(5)
    rsample = rsample.withColumn("rank", F.monotonically_increasing_id())
    write_ors(rsample, urirs_tsv, order_col="rank")
    orl = load_input(
        spark, "original-resources", urirs_tsv, tables={"mementos": mementos}
    )
    assert orl.count() > 0

    # live branches gated
    with pytest.raises(NotImplementedError):
        load_input(spark, "original-resources", urirs_tsv)
    with pytest.raises(NotImplementedError):
        load_input(spark, "trove", "x")  # known kind, needs offline tables
    with pytest.raises(ValueError):
        load_input(spark, "nope", "x")

    # archiveit templating
    urits = load_input(
        spark, "archiveit", "8778", tables={"timemaps": tm}
    )
    assert urits.where(
        F.col("urit").startswith("http://wayback.archive-it.org/8778/")
    ).count() == urits.count()


def test_trove_pandora_walkers(spark):
    """Dispatcher kinds 5-7: BFS collection walkers (offline shape)."""
    from hypercane_spark.sources.discovery import KINDS, load_input

    assert set(KINDS) == {
        "mementos", "timemaps", "original-resources", "archiveit",
        "trove", "pandora-collection", "pandora-subject",
    }

    edges = spark.createDataFrame(
        [("c0", "c1"), ("c0", "c2"), ("c1", "c3"), ("c3", "c1"),  # cycle
         ("cX", "cY")],  # unreachable branch
        "collection_id string, subcollection_id string",
    )
    members = spark.createDataFrame(
        [("c0", "https://a/m0"), ("c1", "https://a/m1"), ("c2", "https://a/m2"),
         ("c3", "https://a/m3"), ("c2", "https://a/m1"),  # dup across colls
         ("cX", "https://a/mX")],
        "collection_id string, urim string",
    )
    t = load_input(
        spark, "trove", "c0",
        tables={"subcollections": edges, "collection_mementos": members},
    )
    urims = sorted(r["urim"] for r in t.collect())
    # duplicates kept (reference list-extend semantics); cycle terminates;
    # unreachable branch excluded
    assert urims == ["https://a/m0", "https://a/m1", "https://a/m1",
                     "https://a/m2", "https://a/m3"]

    pc = load_input(
        spark, "pandora-collection", "c2",
        tables={"collection_mementos": members},
    )
    assert sorted(r["urim"] for r in pc.collect()) == [
        "https://a/m1", "https://a/m2"
    ]

    subcats = spark.createDataFrame(
        [("s0", "s1"), ("s1", "s2")],
        "subject_id string, subcategory_id string",
    )
    smembers = spark.createDataFrame(
        [("s0", "https://a/m0"), ("s1", "https://a/m1"),
         ("s2", "https://a/m1"), ("s2", "https://a/m4")],
        "subject_id string, urim string",
    )
    scolls = spark.createDataFrame(
        [("s0", "c2"), ("s1", "c3")],  # only ROOT subject's collections count
        "subject_id string, collection_id string",
    )
    ps = load_input(
        spark, "pandora-subject", "s0",
        tables={
            "subcategories": subcats,
            "subject_mementos": smembers,
            "subject_collections": scolls,
            "collection_mementos": members,
        },
    )
    got = sorted(r["urim"] for r in ps.collect())
    # subject walk m0,m1,m1,m4 + root collections (c2 → m2,m1), set-deduped;
    # s1's collection c3 NOT included (root-only, reference quirk)
    assert got == ["https://a/m0", "https://a/m1", "https://a/m2",
                   "https://a/m4"]


def test_timegate_negotiate_udf_shape(spark):
    """The negotiation fetch stage is a mapInPandas with a pluggable
    client; a fake negotiator exercises batching, host grouping, and
    None-drop semantics."""
    import pytest

    from hypercane_spark.sources.discovery import timegate_negotiate

    df = spark.createDataFrame(
        [(f"http://h{i % 3}.example/p{i}",) for i in range(30)],
        "urir string",
    )
    with pytest.raises(NotImplementedError):
        timegate_negotiate(df)

    def fake(urirs, adt):
        # hosts arrive grouped within each batch
        hosts = [u.split("/")[2] for u in urirs]
        assert hosts == sorted(hosts)
        return [
            None if u.endswith("0") else f"https://arch.example/web/{adt}/{u}"
            for u in urirs
        ]

    out = timegate_negotiate(df, negotiator=fake, accept_datetime="2024")
    rows = out.collect()
    assert all(r["urim"].startswith("https://arch.example/web/2024/") for r in rows)
    # /p0, /p10, /p20 dropped (negotiator returned None)
    assert len(rows) == 27


def test_sumgram_conflation(spark):
    """A trigram covering ≥ ratio of a bigram's docs replaces it; a
    bigram without a dominant parent stays."""
    from hypercane_spark.operators.score import sumgrams

    rows = [(i, "big red dog barks") for i in range(8)]
    rows += [(100 + i, "small cat sleeps" if i % 2 else "small cat runs") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["ngram"]: (r["term_freq"], r["term_rate"]) for r in
           sumgrams(df, text="text", key="doc_id", top_k=10).collect()}
    # 'big red' (df 8) conflates upward: 'big red dog' in 8/8 docs
    assert "big red dog" in out and out["big red dog"][0] == 8
    assert "big red" not in out
    # 'small cat' (df 8) has parents 'small cat sleeps'/'runs' at 4/8 < 0.8
    assert "small cat" in out and out["small cat"][0] == 8


def test_load_tables_reads_only_what_is_looked_up(spark, tmp_path):
    # orders.parquet is not parquet: an eager read of every table fails,
    # a lazy one never touches it
    import pandas as pd

    pd.DataFrame({"doc_id": [1, 2]}).to_parquet(tmp_path / "documents.parquet", index=False)
    (tmp_path / "orders.parquet").write_text("not parquet")
    tables = IO.load_tables(spark, str(tmp_path))
    assert set(tables) == {"documents", "orders"} and len(tables) == 2
    assert "documents" in tables and "lineitem" not in tables
    assert sorted(r["doc_id"] for r in tables["documents"].collect()) == [1, 2]


def test_load_tables_reuses_reads_until_the_file_changes(spark, tmp_path):
    import pandas as pd

    path = tmp_path / "documents.parquet"
    pd.DataFrame({"doc_id": [1, 2]}).to_parquet(path, index=False)
    first = IO.load_tables(spark, str(tmp_path))["documents"]
    assert IO.load_tables(spark, str(tmp_path))["documents"] is first
    pd.DataFrame({"doc_id": [7, 8, 9]}).to_parquet(path, index=False)
    again = IO.load_tables(spark, str(tmp_path))["documents"]
    assert again is not first
    assert sorted(r["doc_id"] for r in again.collect()) == [7, 8, 9]


def test_load_tables_holds_reads_of_one_session_only(spark, tmp_path):
    import pandas as pd

    pd.DataFrame({"doc_id": [1, 2]}).to_parquet(tmp_path / "documents.parquet", index=False)
    first = IO.load_tables(spark, str(tmp_path))["documents"]
    other = spark.newSession()
    theirs = IO.load_tables(other, str(tmp_path))["documents"]
    assert theirs is not first and theirs.sparkSession is other
    assert all(df.sparkSession is other for _, df in IO._READS.values())
    assert IO.load_tables(spark, str(tmp_path))["documents"].sparkSession is spark

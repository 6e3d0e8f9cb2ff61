"""Driver-contract queries: each SURVEY.md §2 operator expressed over the
provided testdata tables, paired with an ANSI-SQL DuckDB oracle.

Conventions that make the oracle comparison byte-stable:

- Deterministic randomness only: md5(key ':' seed) ordering (shared by
  Spark and DuckDB), never rand().
- Every computed column is aliased identically in both engines.
- Doubles that pass through window/agg math are round(…, 6) in both.
- Derived "memento" columns (urir/host/damage/…) are built from table
  columns with arithmetic/string ops that have identical semantics in
  Spark SQL and DuckDB.

The registry maps name → (spark_fn, oracle_sql | None), in registration
order: the order is fixed by this module's code alone. A None oracle marks
a genuinely non-SQL-expressible op (driver records a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hypercane_spark.sources.io import load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

try:  # VALUES-frozen oracles for deterministic non-SQL-expressible queries
    from hypercane_spark.frozen_oracles import FROZEN as _FROZEN
except Exception:  # pragma: no cover - generated file absent
    _FROZEN = {}


def _frozen(name: str) -> str | None:
    """Oracle from the generated frozen-VALUES module (None → rows-only)."""
    return _FROZEN.get(name)


def q(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["documents"]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["events"]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["embeddings"]


# Derived memento-ish relation over documents: a deterministic URI-R per doc
# (hosts chosen to exercise every DSA1 category branch), damage in [0,1).
# The same expressions exist in _DOCS_URIR_SQL for the oracle.
def _docs_mementos(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    host = (
        F.when(F.col("source") == "src0", "imgur.com")
        .when(F.col("source") == "src1", "apnews.com")
        .when(F.col("source") == "src2", "blogger.com")
        .when(F.col("source") == "src3", "mynews.example")
        .otherwise(
            F.concat(
                F.lit("host"),
                F.lpad((F.col("doc_id") % 40).cast("string"), 2, "0"),
                F.lit(".example"),
            )
        )
    )
    urir = F.concat(
        F.lit("http://"),
        host,
        F.lit("/"),
        F.col("source"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 5 == 0, "?q=1").otherwise(""),
    )
    return (
        d.withColumn("urir", urir)
        .withColumn("damage", (F.col("doc_id") % 100) / F.lit(100.0))
        .withColumn("image_count", (F.col("doc_id") % 12).cast("int"))
        .withColumn("card_title", F.col("doc_id") % 2 == 0)
        .withColumn("card_desc", F.col("doc_id") % 3 == 0)
        .withColumn("card_image", F.col("doc_id") % 4 == 0)
    )


_DOCS_URIR_SQL = """
  SELECT *,
    'http://' ||
      (CASE source
         WHEN 'src0' THEN 'imgur.com'
         WHEN 'src1' THEN 'apnews.com'
         WHEN 'src2' THEN 'blogger.com'
         WHEN 'src3' THEN 'mynews.example'
         ELSE 'host' || lpad(CAST(doc_id % 40 AS VARCHAR), 2, '0') || '.example'
       END) ||
      '/' || source || '/doc/' || CAST(doc_id AS VARCHAR) ||
      (CASE WHEN doc_id % 5 = 0 THEN '?q=1' ELSE '' END) AS urir,
    (doc_id % 100) / 100.0 AS damage,
    CAST(doc_id % 12 AS INT) AS image_count,
    (doc_id % 2 = 0) AS card_title,
    (doc_id % 3 = 0) AS card_desc,
    (doc_id % 4 = 0) AS card_image
  FROM documents
"""


# ============================================================== sampling

@q(
    "sample_systematic",
    """
    SELECT o_orderkey FROM (
      SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn
      FROM orders
    ) WHERE rn % 5 = 0
    """,
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.sample import systematic

    o = load_tables(spark, sf_dir)["orders"].select("o_orderkey")
    return systematic(o, 5, seq="o_orderkey").select("o_orderkey")


@q(
    "sample_true_random_det",
    """
    SELECT doc_id FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42') LIMIT 28
    """,
)
def sample_true_random_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.sample import true_random

    d = _docs(spark, sf_dir)
    return true_random(d, 28, key="doc_id", seed=42).select("doc_id")


@q(
    "sample_stratified_random_det",
    """
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id, row_number() OVER (
        PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')
      ) AS rn FROM documents
    ) WHERE rn <= 3
    """,
)
def sample_stratified_random_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.sample import stratified_random

    d = _docs(spark, sf_dir)
    return stratified_random(d, 3, cluster="lang", key="doc_id", seed=42).select(
        "lang", "doc_id"
    )


@q(
    "sample_stratified_systematic",
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id, row_number() OVER (
        PARTITION BY source ORDER BY doc_id
      ) AS rn FROM documents
    ) WHERE rn % 3 = 0
    """,
)
def sample_stratified_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.sample import stratified_systematic

    d = _docs(spark, sf_dir)
    return stratified_systematic(d, 3, cluster="source", seq="doc_id").select(
        "source", "doc_id"
    )


@q(
    "sample_random_cluster_det",
    """
    WITH chosen AS (
      SELECT source FROM (SELECT DISTINCT source FROM documents)
      ORDER BY md5(source || ':42') LIMIT 2
    )
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.source IN (SELECT source FROM chosen)
    """,
)
def sample_random_cluster_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.sample import random_cluster

    d = _docs(spark, sf_dir)
    return random_cluster(d, 2, cluster="source", seed=42).select("doc_id", "source")


@q(
    "sample_undersample_det",
    """
    WITH sizes AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ), m AS (SELECT min(n) AS min_n FROM sizes)
    SELECT source, doc_id FROM (
      SELECT source, doc_id, row_number() OVER (
        PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')
      ) AS rn FROM documents
    ) WHERE rn <= (SELECT min_n FROM m)
    """,
)
def sample_undersample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.sample import random_undersample

    d = _docs(spark, sf_dir)
    return random_undersample(d, cluster="source", key="doc_id", seed=42).select(
        "source", "doc_id"
    )


# ============================================================== filters

@q("filter_languages", "SELECT doc_id, lang FROM documents WHERE lang = 'en'")
def filter_languages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import include_languages

    d = _docs(spark, sf_dir)
    return include_languages(d, ["en"], lang="lang").select("doc_id", "lang")


@q(
    "filter_near_datetime",
    """
    SELECT event_id, ts FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
                 AND TIMESTAMP '2024-01-10 00:00:00'
    """,
)
def filter_near_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import near_datetime

    e = _events(spark, sf_dir)
    return near_datetime(
        e, "2024-01-05 00:00:00", "2024-01-10 00:00:00", mdt="ts"
    ).select("event_id", "ts")


@q(
    "filter_score_range",
    "SELECT doc_id, n_chars FROM documents WHERE n_chars > 300",
)
def filter_score_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import score_range

    d = _docs(spark, sf_dir)
    return score_range(d, "n_chars", ">", 300).select("doc_id", "n_chars")


@q(
    "filter_containing_pattern",
    r"SELECT doc_id FROM documents WHERE regexp_matches(text, '^(?:key )')",
)
def filter_containing_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import containing_pattern

    d = _docs(spark, sf_dir)
    return containing_pattern(d, "key ", text="text").select("doc_id")


@q(
    "filter_containing_url_pattern",
    f"""
    WITH m AS ({_DOCS_URIR_SQL})
    SELECT doc_id, urir FROM m WHERE regexp_matches(urir, '^(?:http://host0)')
    """,
)
def filter_containing_url_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import containing_url_pattern

    m = _docs_mementos(spark, sf_dir)
    return containing_url_pattern(m, "http://host0").select("doc_id", "urir")


@q(
    "filter_largest_clusters",
    """
    WITH top AS (
      SELECT source FROM (
        SELECT source, count(*) AS n FROM documents GROUP BY source
      ) ORDER BY n DESC, source DESC LIMIT 3
    )
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.source IN (SELECT source FROM top)
    """,
)
def filter_largest_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import largest_clusters

    d = _docs(spark, sf_dir)
    return largest_clusters(d, 3, cluster="source").select("doc_id", "source")


@q(
    "filter_highest_score_per_cluster",
    """
    SELECT source, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars, row_number() OVER (
        PARTITION BY source ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id DESC
      ) AS rn FROM documents
    ) WHERE rn = 1
    """,
)
def filter_highest_score_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import highest_score_per_cluster

    d = _docs(spark, sf_dir)
    return highest_score_per_cluster(
        d, "n_chars", cluster="source", key="doc_id"
    ).select("source", "doc_id", "n_chars")


@q(
    "filter_off_topic_wordcount",
    """
    WITH firsts AS (
      SELECT source, arg_min(text, doc_id) AS ftext
      FROM documents GROUP BY source
    ),
    scored AS (
      SELECT d.doc_id,
        CASE WHEN len(list_filter(regexp_split_to_array(lower(f.ftext), '\\s+'), x -> x <> '')) > 0
        THEN CAST(len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), x -> x <> ''))
                  - len(list_filter(regexp_split_to_array(lower(f.ftext), '\\s+'), x -> x <> '')) AS DOUBLE)
             / len(list_filter(regexp_split_to_array(lower(f.ftext), '\\s+'), x -> x <> ''))
        ELSE 0.0 END AS s
      FROM documents d JOIN firsts f USING (source)
    )
    SELECT doc_id FROM scored WHERE s > -0.85
    """,
)
def filter_off_topic_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import off_topic

    d = _docs(spark, sf_dir)
    out = off_topic(
        d,
        measure="wordcount",
        group="source",
        mdt="doc_id",
        text="text",
        key="doc_id",
    )
    return out.select("doc_id")


@q(
    "filter_off_topic_cosine",
    r"""
    WITH firsts AS (
      SELECT source, arg_min(text, doc_id) AS ftext
      FROM documents GROUP BY source
    ),
    dtf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                      x -> x <> '')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    ftf AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT source,
                   unnest(list_filter(regexp_split_to_array(lower(ftext), '\s+'),
                                      x -> x <> '')) AS tok
            FROM firsts)
      GROUP BY source, tok
    ),
    dn AS (SELECT doc_id, sum(tf * tf) AS s2 FROM dtf GROUP BY doc_id),
    fn AS (SELECT source, sum(tf * tf) AS s2 FROM ftf GROUP BY source),
    dots AS (
      SELECT d.doc_id, sum(dtf.tf * ftf.tf) AS dp
      FROM documents d
      JOIN dtf ON dtf.doc_id = d.doc_id
      JOIN ftf ON ftf.source = d.source AND ftf.tok = dtf.tok
      GROUP BY d.doc_id
    ),
    scored AS (
      SELECT d.doc_id,
        CASE WHEN coalesce(dn.s2, 0) > 0 AND coalesce(fn.s2, 0) > 0
          THEN CAST(coalesce(dots.dp, 0) AS DOUBLE)
               / (sqrt(CAST(dn.s2 AS DOUBLE)) * sqrt(CAST(fn.s2 AS DOUBLE)))
          ELSE 0.0 END AS s
      FROM documents d
      LEFT JOIN dn USING (doc_id)
      LEFT JOIN fn ON fn.source = d.source
      LEFT JOIN dots ON dots.doc_id = d.doc_id
    )
    SELECT doc_id, round(s, 6) AS offtopic_score
    FROM scored WHERE s > 0.12
    """,
)
def filter_off_topic_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-cosine vs the group's first memento — the otmt default measure.
    The Spark side runs the linear run-length form (filters.off_topic,
    dot = (Σtf²_{a∪b} − Σtf²_a − Σtf²_b)/2); the oracle recomputes it
    relationally (unnest → per-token tf → join) — same exact integers,
    same doubles."""
    from hypercane_spark.operators.filters import off_topic

    d = _docs(spark, sf_dir)
    out = off_topic(
        d,
        measure="cosine",
        group="source",
        mdt="doc_id",
        text="text",
        key="doc_id",
    )
    return out.select(
        "doc_id", F.round(F.col("offtopic_score"), 6).alias("offtopic_score")
    )


@q("filter_near_duplicates", _frozen("filter_near_duplicates"))
def filter_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.functions.hashes import tf_simhash64
    from hypercane_spark.operators.filters import near_duplicates

    d = _docs(spark, sf_dir).withColumn("tf_simhash", tf_simhash64("text"))
    out = near_duplicates(
        d, simhash="tf_simhash", group="source", mdt="doc_id", key="doc_id"
    )
    return out.select("doc_id", "source")


@q("sample_oversample_det", _frozen("sample_oversample_det"))
def sample_oversample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.sample import random_oversample

    d = _docs(spark, sf_dir).select(
        "doc_id", F.col("source").alias("cluster")
    )
    out = random_oversample(d, cluster="cluster", key="doc_id", seed=42)
    return out.select("doc_id", "cluster")


# ============================================================== clustering

@q(
    "cluster_time_slice",
    """
    WITH n AS (SELECT CAST(ceil(count(*) / 10.0) AS BIGINT) AS fill FROM events)
    SELECT event_id, CAST((rn - 1) // (SELECT fill FROM n) AS VARCHAR) AS cluster
    FROM (
      SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn FROM events
    )
    """,
)
def cluster_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.cluster import time_slice

    e = _events(spark, sf_dir).select("event_id", "ts")
    return time_slice(e, k=10, mdt="ts", key="event_id").select("event_id", "cluster")


@q(
    "cluster_domainname",
    f"""
    WITH m AS ({_DOCS_URIR_SQL}),
    h AS (
      SELECT doc_id,
             lower(regexp_extract(urir, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS host
      FROM m
    )
    SELECT doc_id, CAST(dense_rank() OVER (ORDER BY host) - 1 AS VARCHAR) AS cluster
    FROM h
    """,
)
def cluster_domainname(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.cluster import domainname

    m = _docs_mementos(spark, sf_dir)
    return domainname(m.drop("cluster") if "cluster" in m.columns else m).select(
        "doc_id", "cluster"
    )


@q(
    "cluster_original_resource",
    f"""
    WITH m AS ({_DOCS_URIR_SQL})
    SELECT doc_id, CAST(dense_rank() OVER (ORDER BY urir) - 1 AS VARCHAR) AS cluster
    FROM m
    """,
)
def cluster_original_resource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.cluster import original_resource

    m = _docs_mementos(spark, sf_dir)
    return original_resource(m).select("doc_id", "cluster")


# ============================================================== scoring

_PATH_DEPTH_SQL = """
  len(list_filter(
        string_split(regexp_extract(urir, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1), '/'),
        x -> x <> '')) +
  (CASE WHEN regexp_extract(urir, '^[^?#]*\\?([^#]*)', 1) <> '' THEN 1 ELSE 0 END)
"""

@q(
    "score_path_depth",
    f"""
    WITH m AS ({_DOCS_URIR_SQL})
    SELECT doc_id, CAST({_PATH_DEPTH_SQL} AS DOUBLE) AS path_depth_score FROM m
    """,
)
def score_path_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.score import score_path_depth as op

    m = _docs_mementos(spark, sf_dir)
    return op(m).select("doc_id", "path_depth_score")


# registered-domain + category CASE as SQL (mirrors functions/urls.py).
_CATEGORY_SQL = """
  CASE regdom
    WHEN 'imgur.com' THEN 0.6
    WHEN 'apnews.com' THEN 0.7
    WHEN 'blogger.com' THEN 0.4
    ELSE CASE WHEN regdom LIKE '%news%' THEN 0.7 ELSE 0.0 END
  END
"""

_REGDOM_SQL = """
  CASE WHEN len(string_split(host, '.')) <= 2 THEN host
       ELSE array_to_string(list_slice(string_split(host, '.'),
              len(string_split(host, '.')) - 1, len(string_split(host, '.'))), '.')
  END
"""

@q(
    "score_url_category",
    f"""
    WITH m AS ({_DOCS_URIR_SQL}),
    h AS (
      SELECT doc_id,
             lower(regexp_extract(urir, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS host
      FROM m
    ),
    r AS (SELECT doc_id, {_REGDOM_SQL} AS regdom FROM h)
    SELECT doc_id, CAST(({_CATEGORY_SQL}) AS DOUBLE) AS url_category_score FROM r
    """,
)
def score_url_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.score import score_url_category as op

    m = _docs_mementos(spark, sf_dir)
    return op(m).select("doc_id", "url_category_score")


@q(
    "score_dsa1",
    f"""
    WITH m AS ({_DOCS_URIR_SQL}),
    h AS (
      SELECT doc_id, urir, damage,
             lower(regexp_extract(urir, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS host
      FROM m
    ),
    r AS (SELECT *, {_REGDOM_SQL} AS regdom FROM h)
    SELECT doc_id,
      round((1.0 - (-0.40) * damage)
            + 0.45 * (CAST(({_PATH_DEPTH_SQL}) AS DOUBLE) / 10.0)
            + 0.15 * CAST(({_CATEGORY_SQL}) AS DOUBLE), 6) AS dsa1_score
    FROM r
    """,
)
def score_dsa1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.score import dsa1_score as op

    m = _docs_mementos(spark, sf_dir)
    return op(m).select("doc_id", "dsa1_score")


@q(
    "score_card",
    """
    SELECT doc_id,
      CAST((CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) * 2
         + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
         + (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / 4.0 AS card_score
    FROM documents
    """,
)
def score_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.score import card_score as op

    m = _docs_mementos(spark, sf_dir)
    return op(m, has_card="card_title", has_title="card_title",
              has_desc="card_desc", has_image="card_image").select(
        "doc_id", "card_score"
    )


@q(
    "score_dsa2",
    """
    WITH base AS (
      SELECT doc_id,
        CAST((CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) * 2
           + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
           + (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / 4.0 AS card_score,
        CAST(n_chars AS DOUBLE) AS sz,
        CAST(doc_id % 12 AS DOUBLE) AS ic
      FROM documents
    )
    SELECT doc_id,
      round(0.50 * card_score
        + 0.25 * CASE WHEN stddev_pop(sz) OVER () > 0
                      THEN (sz - avg(sz) OVER ()) / stddev_pop(sz) OVER () ELSE 0.0 END
        + 0.25 * CASE WHEN stddev_pop(ic) OVER () > 0
                      THEN (ic - avg(ic) OVER ()) / stddev_pop(ic) OVER () ELSE 0.0 END,
        6) AS dsa2_score
    FROM base
    """,
)
def score_dsa2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.score import card_score, dsa2_score as op

    m = card_score(_docs_mementos(spark, sf_dir))
    return op(m, card="card_score", size="n_chars", image_count="image_count").select(
        "doc_id", "dsa2_score"
    )


@q(
    "score_document_sizes",
    r"""
    SELECT doc_id,
      CAST(length(text) AS DOUBLE) AS character_size,
      CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS DOUBLE) AS word_size,
      CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'), x -> trim(x) <> '')) AS DOUBLE) AS sentence_size
    FROM documents
    """,
)
def score_document_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.score import document_size_scores

    d = _docs(spark, sf_dir)
    return document_size_scores(d, text="text").select(
        "doc_id", "character_size", "word_size", "sentence_size"
    )


@q(
    "score_bm25",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
      FROM documents
    ),
    stats AS (
      SELECT count(*) AS n, avg(len(t)) AS avgdl FROM toks
    ),
    dfreq AS (
      SELECT
        (SELECT count(*) FROM toks WHERE list_contains(t, 'spark')) AS df_spark,
        (SELECT count(*) FROM toks WHERE list_contains(t, 'join')) AS df_join
    )
    SELECT doc_id,
      round(
        ln((s.n - d.df_spark + 0.5) / (d.df_spark + 0.5) + 1.0)
          * (tf_spark * 2.5 / (tf_spark + 1.5 * (1.0 - 0.75 + 0.75 * dl / s.avgdl)))
        + ln((s.n - d.df_join + 0.5) / (d.df_join + 0.5) + 1.0)
          * (tf_join * 2.5 / (tf_join + 1.5 * (1.0 - 0.75 + 0.75 * dl / s.avgdl))),
      6) AS bm25_score
    FROM (
      SELECT doc_id,
             CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE) AS tf_spark,
             CAST(len(list_filter(t, x -> x = 'join')) AS DOUBLE) AS tf_join,
             CAST(len(t) AS DOUBLE) AS dl
      FROM toks
    ), stats s, dfreq d
    """,
)
def score_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.score import bm25_score as op

    d = _docs(spark, sf_dir)
    return op(d, ["spark", "join"], text="text").select("doc_id", "bm25_score")


# ============================================================== ordering

@q(
    "order_memento_datetime",
    """
    SELECT event_id,
           row_number() OVER (ORDER BY ts DESC, event_id DESC) AS rank
    FROM events
    """,
)
def order_memento_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.order import by_memento_datetime

    e = _events(spark, sf_dir)
    return by_memento_datetime(e, mdt="ts", key="event_id").select("event_id", "rank")


@q(
    "order_pubdate_else_mdt",
    """
    WITH m AS (
      SELECT event_id, ts,
        CASE WHEN event_type = 'view' THEN ts - INTERVAL 1 DAY ELSE NULL END AS pubdate
      FROM events
    )
    SELECT event_id,
           row_number() OVER (ORDER BY coalesce(pubdate, ts) ASC, event_id ASC) AS rank
    FROM m
    """,
)
def order_pubdate_else_mdt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.order import by_pubdate_else_memento_datetime

    e = _events(spark, sf_dir).withColumn(
        "pubdate",
        F.when(
            F.col("event_type") == "view",
            F.col("ts") - F.expr("INTERVAL 1 DAY"),
        ),
    )
    return by_pubdate_else_memento_datetime(
        e, pubdate="pubdate", mdt="ts", key="event_id"
    ).select("event_id", "rank")


@q(
    "order_score",
    """
    SELECT event_id,
           row_number() OVER (ORDER BY CAST(value AS DOUBLE) DESC, event_id DESC) AS rank
    FROM events
    """,
)
def order_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.order import by_score

    e = _events(spark, sf_dir)
    return by_score(e, "value", descending=True, key="event_id").select(
        "event_id", "rank"
    )


# ====================================================== report aggregations

_TOKS_SQL = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"

@q(
    "agg_terms_tfdf",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    n AS (SELECT count(*) AS n_docs FROM toks),
    x AS (SELECT doc_id, unnest(t) AS term FROM toks)
    SELECT term,
           count(*) AS tf,
           count(DISTINCT doc_id) AS df,
           round(count(*) * (CAST(count(DISTINCT doc_id) AS DOUBLE)
                 / (SELECT n_docs FROM n)), 6) AS tfidf_quirk
    FROM x GROUP BY term
    ORDER BY tf DESC, term ASC LIMIT 50
    """,
)
def agg_terms_tfdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term report incl. the reference's non-inverse 'tfidf' quirk
    tf*(df/N) (reference /root/reference/hypercane/report/terms.py:96-97)."""
    from hypercane_spark.functions.hashes import tokens_ws

    d = _docs(spark, sf_dir)
    n_docs = d.count()
    return (
        d.select("doc_id", F.explode(tokens_ws("text")).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .withColumn(
            "tfidf_quirk",
            F.round(F.col("tf") * (F.col("df").cast("double") / F.lit(float(n_docs))), 6),
        )
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(50)
    )


@q(
    "agg_seedstats",
    f"""
    WITH m AS ({_DOCS_URIR_SQL}),
    h AS (
      SELECT doc_id, urir,
             lower(regexp_extract(urir, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS host
      FROM m
    )
    SELECT
      round((count(DISTINCT host) - 1.0) / (count(*) - 1.0), 6) AS domain_diversity,
      round(avg(CAST({_PATH_DEPTH_SQL} AS DOUBLE)), 6) AS mean_path_depth,
      round(avg(CASE WHEN regexp_extract(urir, '^[^?#]*\\?([^#]*)', 1) <> ''
                THEN 1.0 ELSE 0.0 END), 6) AS pct_query
    FROM h
    """,
)
def agg_seedstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed statistics (reference
    /root/reference/hypercane/report/seedstats.py:5-110): domain diversity
    (u-1)/(n-1), mean path depth, fraction with query strings."""
    from hypercane_spark.functions.urls import path_depth, url_host, url_query

    m = _docs_mementos(spark, sf_dir)
    return m.agg(
        F.round(
            (F.countDistinct(url_host(F.col("urir"))) - 1.0)
            / (F.count(F.lit(1)) - 1.0),
            6,
        ).alias("domain_diversity"),
        F.round(F.avg(path_depth(F.col("urir")).cast("double")), 6).alias(
            "mean_path_depth"
        ),
        F.round(
            F.avg(F.when(url_query(F.col("urir")) != "", 1.0).otherwise(0.0)), 6
        ).alias("pct_query"),
    )


@q(
    "agg_growth_curve",
    """
    SELECT event_id,
      round(CAST(row_number() OVER (ORDER BY ts, event_id) AS DOUBLE)
            / (SELECT count(*) FROM events), 6) AS cum_pct
    FROM events
    """,
)
def agg_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection growth curve: cumulative fraction of mementos over event
    time (reference /root/reference/hypercane/report/growth.py:13-317).
    Cumulative position via the distributed exact rank — the curve is over
    the FULL events table, so no single-partition window."""
    from hypercane_spark.operators.order import with_global_rank

    e = _events(spark, sf_dir)
    n = e.count()
    ranked = with_global_rank(
        e.select("event_id", "ts"),
        [F.col("ts").asc(), F.col("event_id").asc()],
        rank_col="__pos",
    )
    return ranked.select(
        "event_id",
        F.round(F.col("__pos").cast("double") / F.lit(float(n)), 6).alias(
            "cum_pct"
        ),
    )


@q(
    "agg_growth_auc",
    """
    WITH stats AS (
      SELECT count(*) AS n,
             min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
             greatest(1, max(CAST(floor(epoch(ts)) AS BIGINT))
                         - min(CAST(floor(epoch(ts)) AS BIGINT))) AS span
      FROM events
    ), pts AS (
      SELECT
        (CAST(floor(epoch(ts)) AS BIGINT) - (SELECT t0 FROM stats))
          / CAST((SELECT span FROM stats) AS DOUBLE) AS x,
        CAST(row_number() OVER (ORDER BY ts, event_id) AS DOUBLE)
          / (SELECT n FROM stats) AS y
      FROM events
    ), seg AS (
      SELECT x, y,
             lead(x) OVER (ORDER BY y) AS xn,
             lead(y) OVER (ORDER BY y) AS yn
      FROM pts
    )
    SELECT round(sum((xn - x) * (yn + y) / 2.0), 6) AS auc_memento_curve,
           round(sum((xn - x) * (yn + y) / 2.0) - 0.5, 6)
             AS auc_memento_minus_diag
    FROM seg WHERE xn IS NOT NULL
    """,
)
def agg_growth_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-curve AUC scalars — the reference's sklearn trapezoidal auc
    over the growth points (/root/reference/hypercane/actions/report.py:
    446-449), as a distributed pair-join + one aggregate
    (operators/growth.py). ``ts`` plays memento-datetime, ``event_id``
    plays urim."""
    from hypercane_spark.operators.growth import growth_curve_auc_stats

    e = _events(spark, sf_dir)
    return growth_curve_auc_stats(
        e.select(F.col("ts").alias("memento_datetime"), F.col("event_id").alias("urim"))
    )


@q(
    "agg_faux_timemap_stats",
    """
    WITH m AS (
      SELECT 'http://host' || lpad(CAST(user_id % 20 AS VARCHAR), 2, '0')
               || '.example/u/' || CAST(user_id AS VARCHAR) AS urir,
             'https://archive.example/web/' || CAST(event_id AS VARCHAR)
               || '/u/' || CAST(user_id AS VARCHAR) AS urim,
             ts
      FROM events
    )
    SELECT urir,
           count(*) AS n_mementos,
           min(ts) AS first_mdt,
           max(ts) AS last_mdt
    FROM m GROUP BY urir
    """,
)
def agg_faux_timemap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faux-TimeMap synthesis (group mementos by original resource):
    scalar projection of sources/io.py:faux_timemaps."""
    from hypercane_spark.sources.io import faux_timemaps

    e = _events(spark, sf_dir)
    m = e.select(
        F.concat(
            F.lit("http://host"),
            F.lpad((F.col("user_id") % 20).cast("string"), 2, "0"),
            F.lit(".example/u/"),
            F.col("user_id").cast("string"),
        ).alias("urir"),
        F.concat(
            F.lit("https://archive.example/web/"),
            F.col("event_id").cast("string"),
            F.lit("/u/"),
            F.col("user_id").cast("string"),
        ).alias("urim"),
        F.col("ts").alias("memento_datetime"),
    )
    return faux_timemaps(m).select("urir", "n_mementos", "first_mdt", "last_mdt")


# ============================================================== dedup

_DUPFUL_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""

def _dupful(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dups = d.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return d.unionByName(dups)


@q(
    "dedup_exact",
    f"""
    WITH u AS ({_DUPFUL_SQL}),
    keep AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS h FROM u)
      GROUP BY h
    )
    SELECT u.doc_id FROM u WHERE u.doc_id IN (SELECT doc_id FROM keep)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.dedup import exact_dedup

    u = _dupful(spark, sf_dir)
    return exact_dedup(u, text="text", key="doc_id").select("doc_id")


_SHINGLES_SQL = f"""
  CASE WHEN len({_TOKS_SQL}) >= 3 THEN
    list_transform(range(1, len({_TOKS_SQL}) - 1),
                   i -> array_to_string(list_slice({_TOKS_SQL}, i, i + 2), ' '))
  ELSE [array_to_string({_TOKS_SQL}, ' ')] END
"""

_MINHASH_BANDS_SQL = f"""
  [ md5(CAST(b AS VARCHAR) || '|' || array_to_string(
      list_slice(
        [ coalesce(list_min(list_transform({_SHINGLES_SQL},
            t -> md5(CAST(p AS VARCHAR) || ':' || t))), repeat('z', 32))
          FOR p IN [0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15] ],
        b * 4 + 1, b * 4 + 4), ','))
    FOR b IN [0,1,2,3] ]
"""

@q(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH banded AS (
      SELECT DISTINCT doc_id AS k, unnest({_MINHASH_BANDS_SQL}) AS band
      FROM documents
    )
    SELECT DISTINCT a.k AS doc_id_a, b.k AS doc_id_b
    FROM banded a JOIN banded b USING (band)
    WHERE a.k < b.k
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.dedup import minhash_lsh_candidates

    d = _docs(spark, sf_dir)
    return minhash_lsh_candidates(
        d, text="text", key="doc_id", num_perm=16, bands=4, shingle_n=3
    )


@q(
    "dedup_ngram_jaccard",
    f"""
    WITH banded AS (
      SELECT DISTINCT doc_id AS k, unnest({_MINHASH_BANDS_SQL}) AS band
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT a.k AS doc_id_a, b.k AS doc_id_b
      FROM banded a JOIN banded b USING (band)
      WHERE a.k < b.k
    ),
    sh AS (
      SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM documents
    )
    SELECT c.doc_id_a, c.doc_id_b,
           round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_id_a
    JOIN sh sb ON sb.doc_id = c.doc_id_b
    WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-generate → exact-Jaccard-verify composition (the operator's
    default blocking since round 3 — the old first-token block is
    near-degenerate on natural text)."""
    from hypercane_spark.operators.dedup import ngram_jaccard_pairs

    d = _docs(spark, sf_dir)
    # bands pinned to 4: the hand-written oracle SQL above derives its
    # candidate buckets with the 4-band _MINHASH_BANDS_SQL fragment, so the
    # Spark side must not auto-derive a different banding from the threshold
    return ngram_jaccard_pairs(
        d, text="text", key="doc_id", threshold=0.5, shingle_n=3, bands=4
    )


# md5-derived simhash (functions/hashes.py:simhash64_md5): hi 32 bits from
# hex chars 17-24, lo from 25-32; ±1 votes per bit; bit63 weighted -2^63 so
# the vote sum IS the signed-64 value. Validated token-for-token against
# oracle/simhash.py:py_simhash64_md5.
_SIMHASH_MD5_SQL = f"""
CAST(coalesce(list_sum(list_transform(range(0,64), i ->
  CASE WHEN coalesce(list_sum(list_transform({_TOKS_SQL}, t ->
      CASE WHEN ((('0x'||substr(md5(t), CASE WHEN i<32 THEN 25 ELSE 17 END, 8))::BIGINT
                 >> (i%32)) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
  THEN CASE WHEN i=63 THEN -9223372036854775808 ELSE (CAST(1 AS BIGINT) << i) END
  ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)
"""


@q(
    "dedup_simhash",
    f"""
    WITH t AS (
      SELECT doc_id AS k, {_SIMHASH_MD5_SQL} AS sh FROM documents
    ),
    banded AS (
      SELECT k, sh, unnest([
        '0:' || CAST(sh & 65535 AS VARCHAR),
        '1:' || CAST((sh >> 16) & 65535 AS VARCHAR),
        '2:' || CAST((sh >> 32) & 65535 AS VARCHAR),
        '3:' || CAST((sh >> 48) & 65535 AS VARCHAR)]) AS band
      FROM t
    ),
    losers AS (
      SELECT DISTINCT b.k AS loser
      FROM banded a JOIN banded b USING (band)
      WHERE a.k < b.k AND bit_count(xor(a.sh, b.sh)) <= 3
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT loser FROM losers)
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.dedup import simhash_dedup

    d = _docs(spark, sf_dir)
    return simhash_dedup(
        d, text="text", key="doc_id", max_hamming=3, use_md5_hash=True
    ).select("doc_id")


# ============================================================== similarity

_COSINE_SQL = """
  CASE WHEN sqrt(list_dot_product(CAST(a AS DOUBLE[]), CAST(a AS DOUBLE[]))) > 0
        AND sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))) > 0
  THEN round(list_dot_product(CAST(a AS DOUBLE[]), CAST(qv AS DOUBLE[]))
       / (sqrt(list_dot_product(CAST(a AS DOUBLE[]), CAST(a AS DOUBLE[])))
          * sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))), 6)
  ELSE 0.0 END
"""

@q(
    "sim_topk_cosine",
    f"""
    WITH qq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT vec_id, {_COSINE_SQL} AS cosine
      FROM (SELECT vec_id, embedding AS a FROM embeddings), qq
    )
    SELECT vec_id, cosine FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.similarity import cosine_topk

    e = _emb(spark, sf_dir)
    qv = [float(x) for x in e.where("vec_id = 0").first()["embedding"]]
    return cosine_topk(e, qv, k=10, vec="embedding", key="vec_id")


# The LSH hyperplanes are deterministic driver-side constants
# (numpy RandomState(42), dim=64, bits=8) — so the SQL oracle embeds the
# EXACT same float literals and reproduces every bucket bit. The probe set
# "query bucket ± 1 flipped bit" is bit_count(xor(bucket, qbucket)) <= 1.
def _sim_lsh_sql() -> str:
    from hypercane_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, 42)

    def bucket_expr(vec: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            lits = "[" + ",".join(repr(float(x)) for x in p) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(CAST({vec} AS DOUBLE[]), {lits}) > 0 "
                f"THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")"

    return f"""
    WITH qq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT {bucket_expr('qv')} AS qbucket, qv FROM qq),
    cand AS (
      SELECT vec_id, embedding AS a, qv
      FROM (SELECT vec_id, embedding, {bucket_expr('embedding')} AS b
            FROM embeddings), qb
      WHERE bit_count(xor(b, qbucket)) <= 1
    ),
    s AS (SELECT vec_id, {_COSINE_SQL} AS cosine FROM cand)
    SELECT vec_id, cosine FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """


@q("sim_lsh_topk", _sim_lsh_sql())
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.similarity import lsh_bucket_topk

    e = _emb(spark, sf_dir)
    qv = [float(x) for x in e.where("vec_id = 0").first()["embedding"]]
    return lsh_bucket_topk(e, qv, k=10, bits=8, probe_hamming=1)


# IVF oracle: the "seed" coarse quantizer (centroids = 16 lowest-id corpus
# vectors) and the query (vec_id 0's embedding) are both RELATIONAL — the
# SQL derives identical cells with zero float literals.
_SQDIST_SQL = (
    "list_sum(list_transform(range(64), i -> "
    "(CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE))"
    " * (CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE))))"
)


@q(
    "sim_ivf_topk",
    f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      ORDER BY vec_id ASC LIMIT 16
    ), qq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    asg AS (
      SELECT vec_id, embedding, cid,
        row_number() OVER (
          PARTITION BY vec_id
          ORDER BY {_SQDIST_SQL.format(a='embedding', b='cvec')} ASC, cid ASC
        ) AS rn
      FROM embeddings CROSS JOIN c
    ), probes AS (
      SELECT cid FROM (
        SELECT cid,
          row_number() OVER (
            ORDER BY {_SQDIST_SQL.format(a='cvec', b='qv')} ASC, cid ASC
          ) AS qr
        FROM c CROSS JOIN qq
      ) WHERE qr <= 4
    ), cand AS (
      SELECT vec_id, embedding AS a, qv
      FROM asg CROSS JOIN qq
      WHERE rn = 1 AND cid IN (SELECT cid FROM probes)
    ), s AS (SELECT vec_id, {_COSINE_SQL} AS cosine FROM cand)
    SELECT vec_id, cosine FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.similarity import ivf_topk

    e = _emb(spark, sf_dir)
    qv = [float(x) for x in e.where("vec_id = 0").first()["embedding"]]
    return ivf_topk(e, qv, k=10, n_cells=16, n_probe=4)


@q(
    "filter_cluster_id",
    """
    SELECT doc_id, source FROM documents
    WHERE NOT list_contains(
      string_split(source || '~~~x' || CAST(doc_id % 3 AS VARCHAR), '~~~'),
      'src1')
    """,
)
def filter_cluster_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import exclude_cluster_id

    d = _docs(spark, sf_dir).withColumn(
        "cluster",
        F.concat(
            F.col("source"), F.lit("~~~x"), (F.col("doc_id") % 3).cast("string")
        ),
    )
    out = exclude_cluster_id(d, "src1", subcluster=True)
    return out.select("doc_id", "source")


@q("cluster_kmeans_mdt", _frozen("cluster_kmeans_mdt"))
def cluster_kmeans_mdt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.cluster import kmeans_mdt

    m = _pipeline_mementos(spark, sf_dir)
    return kmeans_mdt(m.drop("cluster"), k=6).select("urim", "cluster")


@q("cluster_dbscan_simhash", _frozen("cluster_dbscan_simhash"))
def cluster_dbscan_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.cluster import dbscan_simhash

    m = _pipeline_mementos(spark, sf_dir)
    return dbscan_simhash(m.drop("cluster")).select("urim", "cluster")


@q("score_centroid_distance", _frozen("score_centroid_distance"))
def score_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.score import distance_from_centroid

    m = _pipeline_mementos(spark, sf_dir).withColumn(
        "cluster", (F.col("doc_id") % 4).cast("string")
    )
    out = distance_from_centroid(m, text="text")
    return out.select(
        "urim",
        "cluster",
        F.round(F.col("centroid_distance"), 6).alias("centroid_distance"),
    )


@q("pipeline_dsa4", _frozen("pipeline_dsa4"))
def pipeline_dsa4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.plans import dsa4

    m = _pipeline_mementos(spark, sf_dir)
    out = dsa4().run(m)
    return out.select(
        "urim",
        "cluster",
        F.round(F.col("centroid_distance"), 6).alias("centroid_distance"),
        "rank",
    )


@q(
    "text_fingerprint",
    f"""
    SELECT doc_id,
      md5(array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' '))
        AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.functions.text import doc_fingerprint

    d = _docs(spark, sf_dir)
    return d.select("doc_id", doc_fingerprint("text").alias("fingerprint"))


@q(
    "score_image_count",
    """
    WITH refs AS (
      SELECT d.doc_id, 'img-' || lpad(CAST((d.doc_id * 7 + g.i) % 120 AS VARCHAR), 8, '0') AS image_id
      FROM documents d, (SELECT unnest(range(0, 3)) AS i) g
      WHERE (d.doc_id + g.i) % 4 <> 0
    )
    SELECT d.doc_id,
      CAST(coalesce((SELECT count(*) FROM refs r WHERE r.doc_id = d.doc_id), 0) AS DOUBLE)
        AS image_count_score
    FROM documents d
    """,
)
def score_image_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image-count scorer over a fetched-images membership table (reference
    parses <img> tags from raw HTML, /root/reference/hypercane/score/
    image_count.py:7-69; our engine's fetched-images table already holds one
    row per embedded image, so the scorer is a count-join). The membership
    table here is derived deterministically so the DuckDB oracle can build
    the identical relation."""
    from hypercane_spark.operators.score import image_count_score

    d = _docs(spark, sf_dir)
    refs = (
        d.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"))
        .where((F.col("doc_id") + F.col("i")) % 4 != 0)
        .select(
            "doc_id",
            F.concat(
                F.lit("img-"),
                F.lpad(((F.col("doc_id") * 7 + F.col("i")) % 120).cast("string"), 8, "0"),
            ).alias("image_id"),
        )
    )
    out = image_count_score(d, refs, key="doc_id")
    return out.select("doc_id", "image_count_score")


@q(
    "agg_top_bigrams",
    f"""
    WITH t AS (SELECT {_TOKS_SQL} AS toks FROM documents),
    b AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t WHERE len(toks) >= 2
    )
    SELECT bigram, count(*) AS tf
    FROM b GROUP BY bigram
    ORDER BY tf DESC, bigram ASC LIMIT 20
    """,
)
def agg_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k corpus phrases (the reference's sumgrams report,
    /root/reference/hypercane/report/sumgrams.py:8-126, wraps the sumgram
    library; the Spark-native form is the same explode→count→top-k over
    n-gram windows — a conflation pass or library call slots into the
    same aggregation)."""
    from hypercane_spark.functions.hashes import tokens_ws

    d = _docs(spark, sf_dir)
    toks = tokens_ws("text")
    bigrams = (
        d.select(toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat(
                        F.element_at(F.col("toks"), i),
                        F.lit(" "),
                        F.element_at(F.col("toks"), i + 1),
                    ),
                )
            ).alias("bigram")
        )
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("bigram").asc())
        .limit(20)
    )


@q(
    "agg_metadata_stats",
    f"""
    WITH m AS ({_DOCS_URIR_SQL})
    SELECT
      round(avg(CASE WHEN card_title THEN 1.0 ELSE 0.0 END), 6) AS pct_title,
      round(avg(CASE WHEN card_desc THEN 1.0 ELSE 0.0 END), 6) AS pct_desc,
      round(avg(CASE WHEN card_image THEN 1.0 ELSE 0.0 END), 6) AS pct_image,
      round(avg((CASE WHEN card_title THEN 1.0 ELSE 0.0 END
               + CASE WHEN card_title THEN 1.0 ELSE 0.0 END
               + CASE WHEN card_desc THEN 1.0 ELSE 0.0 END
               + CASE WHEN card_image THEN 1.0 ELSE 0.0 END) / 4.0), 6)
        AS mean_card_score
    FROM m
    """,
)
def agg_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed metadata statistics (reference
    /root/reference/hypercane/report/metadatastats.py:31-199: %seeds with
    title/description/card fields + mean per-field scores) as one partial-
    aggregated pass."""
    from hypercane_spark.operators.score import card_score

    m = card_score(_docs_mementos(spark, sf_dir))
    flag = lambda c: F.when(F.col(c), 1.0).otherwise(0.0)  # noqa: E731
    return m.agg(
        F.round(F.avg(flag("card_title")), 6).alias("pct_title"),
        F.round(F.avg(flag("card_desc")), 6).alias("pct_desc"),
        F.round(F.avg(flag("card_image")), 6).alias("pct_image"),
        F.round(F.avg("card_score"), 6).alias("mean_card_score"),
    )


# ======================================================= packaged pipelines
#
# DSA pipelines chain applyInPandas clusterers and an order-dependent scan,
# so no single ANSI-SQL statement reproduces them — the driver records
# rows-only checks; stage-level semantics are each oracle-checked above.


def _pipeline_mementos(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.functions.hashes import simhash64, tf_simhash64

    m = _docs_mementos(spark, sf_dir)
    mdt = F.to_timestamp(
        F.from_unixtime(F.lit(1500000000) + F.col("doc_id") * 3600)
    )
    return (
        m.withColumn("urim", F.col("urir"))
        .withColumn("urit", F.col("source"))
        .withColumn("memento_datetime", mdt)
        .withColumn(
            "pubdate",
            F.when(F.col("doc_id") % 3 == 0, None).otherwise(
                F.to_timestamp(
                    F.from_unixtime(
                        F.lit(1500000000)
                        + F.col("doc_id") * 3600
                        - (F.col("doc_id") % 7) * 86400
                    )
                )
            ),
        )
        .withColumn("language", F.col("lang"))
        .withColumn("tf_simhash", tf_simhash64("text"))
        .withColumn("raw_simhash", simhash64("text"))
        .withColumn("bpfree_text", F.col("text"))
        .withColumn("bpfree_len", F.col("n_chars").cast("int"))
        .withColumn("seq", F.col("doc_id"))
    )


@q("pipeline_dsa1", _frozen("pipeline_dsa1"))
def pipeline_dsa1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.plans import dsa1

    m = _pipeline_mementos(spark, sf_dir)
    out = dsa1(k_slices=8).run(m)
    return out.select(
        "urim", "cluster", F.round(F.col("dsa1_score"), 6).alias("dsa1_score"), "rank"
    )


@q("pipeline_dsa2", _frozen("pipeline_dsa2"))
def pipeline_dsa2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.plans import dsa2

    # reduced subset: LDA + per-group kmeans are the expensive ML stages
    m = _pipeline_mementos(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    out = dsa2(num_topics=5).run(m)
    return out.select(
        "urim", "cluster", F.round(F.col("dsa2_score"), 6).alias("dsa2_score"), "rank"
    )


@q("pipeline_dsa3", _frozen("pipeline_dsa3"))
def pipeline_dsa3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.plans import dsa3

    m = _pipeline_mementos(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    out = dsa3().run(m)
    return out.select(
        "urim", "cluster", F.round(F.col("bm25_score"), 6).alias("bm25_score"), "rank"
    )


@q("pipeline_filtered_random", _frozen("pipeline_filtered_random"))
def pipeline_filtered_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.plans import filtered_random

    m = _pipeline_mementos(spark, sf_dir)
    out = filtered_random(k=20, seed=42).run(m)
    return out.select("urim", "language")


@q(
    "pipeline_ordered_systematic",
    f"""
    WITH m AS ({_DOCS_URIR_SQL}),
    ranked AS (
      SELECT urir AS urim,
             row_number() OVER (ORDER BY doc_id DESC, urir DESC) AS rank
      FROM m
    )
    SELECT urim, rank FROM ranked WHERE rank % 7 = 0
    """,
)
def pipeline_ordered_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ordered-systematic.halg as a Pipeline: order by memento-datetime
    (desc, the reference quirk) → keep every 7th rank. The synthetic mdt is
    monotone in doc_id, so the oracle orders by doc_id desc directly."""
    from hypercane_spark.plans import ordered_systematic

    # project to the two columns the pipeline reads BEFORE running it:
    # the rank stage localCheckpoints its sorted input, which materializes
    # every column present — carrying _pipeline_mementos' simhash columns
    # through it costs ~8 s of never-used compute at sf0.1
    m = _pipeline_mementos(spark, sf_dir).select("urim", "memento_datetime")
    return ordered_systematic(j=7).run(m).select("urim", "rank")


@q(
    "pipeline_simple_search_engine",
    rf"""
    WITH m AS ({_DOCS_URIR_SQL}),
    filt AS (
      SELECT urir AS urim, text FROM m
      WHERE regexp_matches(text, '^(?:(?s).*join)')
    ),
    toks AS (
      SELECT urim,
             list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
      FROM filt
    ),
    stats AS (SELECT count(*) AS n, avg(len(t)) AS avgdl FROM toks),
    dfreq AS (
      SELECT (SELECT count(*) FROM toks WHERE list_contains(t, 'join')) AS df_t
    ),
    scored AS (
      SELECT urim,
        round(
          ln((s.n - d.df_t + 0.5) / (d.df_t + 0.5) + 1.0)
            * (tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * dl / s.avgdl))),
        6) AS bm25_score
      FROM (
        SELECT urim,
               CAST(len(list_filter(t, x -> x = 'join')) AS DOUBLE) AS tf,
               CAST(len(t) AS DOUBLE) AS dl
        FROM toks
      ), stats s, dfreq d
    )
    SELECT urim, bm25_score,
           row_number() OVER (ORDER BY bm25_score DESC, urim DESC) AS rank
    FROM scored
    """,
)
def pipeline_simple_search_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simple-search-engine.halg as a Pipeline: include-only docs containing
    'join' → BM25 over the FILTERED corpus with query 'join' → order by
    score desc. score_decimals=6 makes the ordering use the rounded score
    (both engines round identically; raw near-ties would make the rank
    float-summation-order sensitive)."""
    from hypercane_spark.plans import simple_search_engine

    # same pre-projection as pipeline_ordered_systematic: the rank stage
    # materializes all columns, so carry only what the pipeline reads
    m = _pipeline_mementos(spark, sf_dir).select("urim", "bpfree_text")
    out = simple_search_engine("join", score_decimals=6).run(m)
    return out.select("urim", "bm25_score", "rank")


_PII_SUFFIX_SQL = """(CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      WHEN 1 THEN ' server at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 responded'
      WHEN 2 THEN ' call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-4242 today'
      ELSE '' END)"""


def _pii_suffix_col():
    """Spark twin of _PII_SUFFIX_SQL: deterministic typed-PII suffix by
    doc_id class (the testdata docs carry no PII)."""
    return (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(" server at 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 responded"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit(" call +1 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                F.lit("-4242 today"),
            ),
        )
        .otherwise(F.lit(""))
    )


@q(
    "pipeline_llm_curate",
    f"""
    WITH aug AS (
      SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM documents
    ), gk AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks,
        list_filter(string_split_regex(text, '\n'), l -> trim(l) <> '') AS lines
      FROM aug
    ), gm AS (
      SELECT doc_id, text, toks, lines, len(toks) AS n,
        CASE WHEN len(toks) > 0 THEN
          CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
        ELSE 0.0 END AS mean_len,
        CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.'))
             + len(regexp_extract_all(text, '…')) AS DOUBLE) AS symbols,
        CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[•\\-\\*]'))) AS DOUBLE) AS bullets,
        CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) AS DOUBLE) AS ellipses,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS alpha,
        len(list_filter(['the','be','to','of','and','that','have','with'],
                        w -> list_contains(toks, w))) AS stop_hits
      FROM gk
    ), g AS (
      SELECT doc_id, text FROM gm
      WHERE n >= 5 AND n <= 100000
        AND mean_len >= 3.0 AND mean_len <= 10.0
        AND (CASE WHEN n > 0 THEN symbols / n <= 0.1 ELSE FALSE END)
        AND (CASE WHEN len(lines) > 0 THEN bullets / len(lines) <= 0.9 ELSE TRUE END)
        AND (CASE WHEN len(lines) > 0 THEN ellipses / len(lines) <= 0.3 ELSE TRUE END)
        AND (CASE WHEN n > 0 THEN alpha / n >= 0.8 ELSE FALSE END)
        AND stop_hits >= 1
    ), ps AS (
      SELECT doc_id, string_split_regex(text, '\n\n+') AS paras FROM g
    ), p0 AS (
      SELECT doc_id, unnest(paras) AS para, unnest(range(len(paras))) AS pos FROM ps
    ), ph AS (
      SELECT doc_id, pos, para,
             md5(lower(regexp_replace(trim(para), '\\s+', ' ', 'g'))) AS hh
      FROM p0 WHERE trim(para) <> ''
    ), pk AS (
      SELECT *, row_number() OVER (PARTITION BY hh ORDER BY doc_id, pos) AS rn FROM ph
    ), pd AS (
      SELECT doc_id, string_agg(para, e'\n\n' ORDER BY pos) AS text
      FROM pk WHERE rn = 1 GROUP BY doc_id
    ), banded AS (
      SELECT DISTINCT doc_id AS k, unnest({_MINHASH_BANDS_SQL}) AS band
      FROM pd
    ), mnb AS (
      SELECT k, band, min(k) OVER (PARTITION BY band) AS bmin FROM banded
    ), sv AS (
      SELECT k FROM mnb GROUP BY k
      HAVING max(CASE WHEN k <> bmin THEN 1 ELSE 0 END) = 0
    ), mh AS (
      SELECT * FROM pd WHERE doc_id IN (SELECT k FROM sv)
    ), evg AS (
      SELECT DISTINCT g FROM (
        SELECT unnest(list_distinct({_SHINGLES_SQL})) AS g
        FROM aug WHERE doc_id % 50 = 3
      )
    ), cg AS (
      SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS g FROM mh
    ), cont AS (
      SELECT doc_id FROM cg WHERE g IN (SELECT g FROM evg)
      GROUP BY doc_id HAVING count(*) >= 3
    ), dc AS (
      SELECT * FROM mh WHERE doc_id NOT IN (SELECT doc_id FROM cont)
    ), s1 AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT) AS n_email,
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS t
      FROM dc
    ), s2 AS (
      SELECT doc_id, n_email,
        CAST(len(regexp_extract_all(t, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b')) AS INT) AS n_ipv4,
        regexp_replace(t, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g') AS t
      FROM s1
    ), s3 AS (
      SELECT doc_id, n_email, n_ipv4,
        CAST(len(regexp_extract_all(t, '\\+?\\d[\\d\\- ]{{7,}}\\d')) AS INT) AS n_phone,
        regexp_replace(t, '\\+?\\d[\\d\\- ]{{7,}}\\d', '<PHONE>', 'g') AS clean
      FROM s2
    )
    SELECT doc_id, clean AS text, n_email, n_ipv4, n_phone,
           CAST(n_email + n_ipv4 + n_phone AS INT) AS n_pii
    FROM s3
    """,
)
def pipeline_llm_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packaged LM-data curation chain (plans/llm.py): gopher gate →
    paragraph dedup → minhash dedup → decontaminate (eval = the
    doc_id % 50 == 3 slice, 3-gram/≥3 rule as dedup_decontaminate) → PII
    scrub, over the documents table with the deterministic typed-PII
    suffix appended (same input convention as text_pii_scrub). Gopher
    thresholds lowered for the short synthetic texts (min_words=5,
    min_stopword_hits=1)."""
    from hypercane_spark.plans.llm import llm_curate

    d = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), _pii_suffix_col()).alias("text")
    )
    ev = d.where(F.col("doc_id") % 50 == 3)
    pipe = llm_curate(
        ev,
        gopher_overrides={"min_words": 5, "min_stopword_hits": 1},
        decon_shingle_n=3,
        decon_min_overlaps=3,
    )
    return pipe.run(d)


# ============================================================== multimodal
#
# The testdata dirs carry no binary image table, so these queries build the
# deterministic synthetic payload table (synth.gen_images, seed 42) inline
# and exercise the REAL distributed plumbing (binary columns through Arrow
# batches, mapInPandas decode, window ranking). Their oracles are
# VALUES-literals precomputed driver-side from the same generator — a
# differential check of executor-side decode vs direct evaluation.

_MM_N = 120


def _mm_images(spark: SparkSession) -> DataFrame:
    from hypercane_spark.synth import gen_images

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    rows = gen_images(_MM_N)
    return spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )


def _mm_decode_expected_sql() -> str:
    from decimal import ROUND_HALF_UP, Decimal

    from hypercane_spark.synth import decode_image, gen_images

    def spark_round6(x: float) -> float:
        # Spark's round() = HALF_UP over the double's shortest decimal
        # repr (BigDecimal.valueOf); Python's round() is half-to-even
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    vals = []
    for r in gen_images(_MM_N):
        px = decode_image(r["bytes"])
        vals.append(
            f"('{r['image_id']}', {px.shape[1]}, {px.shape[0]}, "
            f"CAST({spark_round6(float(px.mean()))!r} AS DOUBLE), {r['phash']})"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, dec_w, dec_h, mean_lum, phash64)"
    )


@q("mm_decode_stats", _mm_decode_expected_sql())
def mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.multimodal import decode_stats

    out = decode_stats(_mm_images(spark), keep=("image_id",))
    return out.select(
        "image_id",
        "dec_w",
        "dec_h",
        F.round(F.col("mean_lum"), 6).alias("mean_lum"),
        "phash64",
    )


def _mm_rank_expected_sql() -> str:
    from hypercane_spark.synth import decode_image, gen_images

    import numpy as np

    stats = []
    for r in gen_images(_MM_N):
        px = decode_image(r["bytes"])
        q16 = (px >> 4).astype("uint16")
        packed = (q16[..., 0] << 8) | (q16[..., 1] << 4) | q16[..., 2]
        colorcount = int(len(np.unique(packed)))
        h, w = px.shape[0], px.shape[1]
        ratio = w / h if h > 0 else 1.0
        stats.append((r["image_id"], w * h, colorcount, ratio))
    # reference rank tuple (imagedata.py:127-188): pixelsize desc,
    # colorcount desc, 1/ratio desc, key asc  (no metadata/score columns)
    stats.sort(key=lambda s: (-s[1], -s[2], -(1.0 / s[3]), s[0]))
    ranked = [(s[0], i + 1, s[2], round(s[3], 4)) for i, s in enumerate(stats)]
    # near-dup suppression: keep first rank per (colorcount, ratio4)
    seen: set = set()
    vals = []
    for iid, rk, cc, r4 in ranked:
        if (cc, r4) in seen:
            continue
        seen.add((cc, r4))
        vals.append(f"('{iid}', {rk})")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, rank)"
    )


@q("mm_image_rank", _mm_rank_expected_sql())
def mm_image_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.multimodal import image_rank

    out = image_rank(_mm_images(spark), key="image_id")
    return out.select("image_id", "rank")


def _mm_resize_expected_sql() -> str:
    from hypercane_spark.synth import gen_images

    # stand-in codec: lossless re-encode of a 16×16 RGB = 12-byte header +
    # 768 payload bytes, independent of source size
    vals = [f"('{r['image_id']}', 16, 16, 780)" for r in gen_images(_MM_N)]
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, w, h, nbytes)"
    )


@q("mm_resize", _mm_resize_expected_sql())
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.multimodal import resize_images

    out = resize_images(_mm_images(spark), target=16, keep=("image_id",))
    return out.select("image_id", "w", "h", F.length("bytes").alias("nbytes"))


_MM_VID_N = 40


def _mm_videos(spark: SparkSession) -> DataFrame:
    from hypercane_spark.synth import gen_videos

    cols = ["video_id", "bytes", "n_frames", "w", "h", "fps", "caption"]
    rows = gen_videos(_MM_VID_N)
    return spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows],
        "video_id string, bytes binary, n_frames int, w int, h int, "
        "fps int, caption string",
    )


def _mm_frame_expected_sql() -> str:
    from decimal import ROUND_HALF_UP, Decimal

    from hypercane_spark.synth import average_phash, gen_videos, iter_video_frames

    def spark_round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    vals = []
    for r in gen_videos(_MM_VID_N):
        for idx, frame in iter_video_frames(r["bytes"], every_n=5):
            vals.append(
                f"('{r['video_id']}', {idx}, {frame.shape[1]}, "
                f"{frame.shape[0]}, "
                f"CAST({spark_round6(float(frame.mean()))!r} AS DOUBLE), "
                f"{average_phash(frame)})"
            )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(video_id, frame_idx, dec_w, dec_h, mean_lum, phash64)"
    )


@q("mm_frame_sample", _mm_frame_expected_sql())
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frame_sample → decode_stats composition: every-5th-frame sampling
    (offset-sliced, not full-stream decode) re-encoded as stand-alone
    image containers, then the standard image stats over the frames —
    the two multimodal operators composing is the point."""
    from hypercane_spark.operators.multimodal import decode_stats, frame_sample

    frames = frame_sample(_mm_videos(spark), every_n=5).withColumn(
        "frame_idx", F.col("frame_idx").cast("string")
    )
    out = decode_stats(frames, keep=("video_id", "frame_idx"))
    return out.select(
        "video_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        "dec_w",
        "dec_h",
        F.round(F.col("mean_lum"), 6).alias("mean_lum"),
        "phash64",
    )


# ============================================================== text analysis

_STOPWORDS_SQL = """['the','a','an','and','or','of','to','in','is','it','that',
 'for','on','with','as','was','at','by','be','this','are','from','but','not',
 'have','had','has']"""

@q(
    "text_language_id",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
      CASE WHEN len(toks) > 0
            AND CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
                / len(toks) >= 0.08
      THEN 'en' ELSE 'other' END AS lang_guess
    FROM t
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.functions.text import language_guess

    d = _docs(spark, sf_dir)
    return d.select("doc_id", language_guess("text").alias("lang_guess"))


def _lang_multiclass_sql() -> str:
    """DuckDB mirror of functions.text.language_id — generated from the
    same LANG_PROFILES so the two can't drift."""
    from hypercane_spark.functions.text import LANG_PROFILES

    ratios = []
    for lang, words in LANG_PROFILES.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        ratios.append(
            (lang,
             f"CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, "
             f"x -> list_contains({lst}, x))) AS DOUBLE) / len(toks) "
             f"ELSE 0.0 END")
        )
    sel = ", ".join(f"{expr} AS r_{lang}" for lang, expr in ratios)
    best = "greatest(" + ", ".join(f"r_{lang}" for lang, _ in ratios) + ")"
    case = "CASE WHEN best < 0.05 THEN 'un' " + " ".join(
        f"WHEN r_{lang} = best THEN '{lang}'" for lang, _ in ratios
    ) + " ELSE 'un' END"
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    r AS (SELECT doc_id, {sel} FROM t),
    b AS (SELECT *, {best} AS best FROM r)
    SELECT doc_id, {case} AS lang FROM b
    """


@q("text_language_multiclass", _lang_multiclass_sql())
def text_language_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.functions.text import language_id

    d = _docs(spark, sf_dir)
    return d.select("doc_id", language_id("text").alias("lang"))


@q(
    "text_pii_scrub",
    r"""
    WITH p AS (
      SELECT doc_id,
        text || (CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
          WHEN 1 THEN ' server at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 responded'
          WHEN 2 THEN ' call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-4242 today'
          ELSE '' END) AS t
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
      FROM p
    ),
    s2 AS (
      SELECT doc_id, n_email,
        CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ipv4,
        regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, n_email, n_ipv4,
        CAST(len(regexp_extract_all(t, '\+?\d[\d\- ]{7,}\d')) AS INT) AS n_phone,
        regexp_replace(t, '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS clean
      FROM s2
    )
    SELECT doc_id, clean, n_email, n_ipv4, n_phone,
           CAST(n_email + n_ipv4 + n_phone AS INT) AS n_pii
    FROM s3
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a deterministic PII-bearing corpus (the testdata
    docs carry none, so typed PII is appended by doc_id class — both
    engines derive the identical input). Scrub order email → ipv4 → phone
    with counts taken before each replacement (functions/text.py
    PII_PATTERNS)."""
    from hypercane_spark.functions.text import pii_scrub

    d = _docs(spark, sf_dir)
    pii = _pii_suffix_col()
    work = d.select(
        "doc_id", F.concat(F.col("text"), pii).alias("t")
    ).select("doc_id", pii_scrub(F.col("t")).alias("s"))
    return work.select(
        "doc_id", "s.clean", "s.n_email", "s.n_ipv4", "s.n_phone", "s.n_pii"
    )


@q(
    "text_token_stats",
    f"""
    SELECT doc_id,
      CAST(len({_TOKS_SQL}) AS INT) AS n_tokens,
      CAST(length(text) AS INT) AS n_chars2,
      md5(array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' ')) AS fingerprint
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.functions.text import doc_fingerprint, token_count

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars2"),
        doc_fingerprint("text").alias("fingerprint"),
    )


@q(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks,
        CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
          / nullif(length(text), 0) AS punct
      FROM documents
    )
    SELECT doc_id,
      round(
        least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) * 0.4
        + least((CASE WHEN len(toks) > 0
                 THEN CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE) / len(toks)
                 ELSE 0.0 END) / 0.4, 1.0) * 0.3
        + greatest(1.0 - coalesce(punct, 0.0) * 4.0, 0.0) * 0.3,
      6) AS quality
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.functions.text import quality_score

    d = _docs(spark, sf_dir)
    return d.select("doc_id", quality_score("text").alias("quality"))


_STOPS8_SQL = "['the','be','to','of','and','that','have','with']"


@q(
    "text_gopher_quality",
    f"""
    WITH t AS (
      SELECT doc_id, repeat(text || ' ', 12) AS tx FROM documents
    ), k AS (
      SELECT doc_id, tx,
        list_filter(regexp_split_to_array(lower(tx), '\\s+'), x -> x <> '') AS toks,
        list_filter(string_split_regex(tx, '\\n'), l -> trim(l) <> '') AS lines
      FROM t
    ), m AS (
      SELECT doc_id, tx, toks, lines, len(toks) AS n,
        CASE WHEN len(toks) > 0 THEN
          CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
        ELSE 0.0 END AS mean_len,
        CAST(len(regexp_extract_all(tx, '#')) + len(regexp_extract_all(tx, '\\.\\.\\.'))
             + len(regexp_extract_all(tx, '…')) AS DOUBLE) AS symbols,
        CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[•\\-\\*]'))) AS DOUBLE) AS bullets,
        CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) AS DOUBLE) AS ellipses,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS alpha,
        len(list_filter({_STOPS8_SQL}, w -> list_contains(toks, w))) AS stop_hits
      FROM k
    ), f AS (
      SELECT doc_id,
        n >= 50 AND n <= 100000 AS n_words_ok,
        mean_len >= 3.0 AND mean_len <= 10.0 AS mean_word_len_ok,
        CASE WHEN n > 0 THEN symbols / n <= 0.1 ELSE FALSE END AS symbol_ratio_ok,
        CASE WHEN len(lines) > 0 THEN bullets / len(lines) <= 0.9 ELSE TRUE END AS bullet_ok,
        CASE WHEN len(lines) > 0 THEN ellipses / len(lines) <= 0.3 ELSE TRUE END AS ellipsis_ok,
        CASE WHEN n > 0 THEN alpha / n >= 0.8 ELSE FALSE END AS alpha_ok,
        stop_hits >= 2 AS stopwords_ok
      FROM m
    )
    SELECT *, n_words_ok AND mean_word_len_ok AND symbol_ratio_ok AND bullet_ok
              AND ellipsis_ok AND alpha_ok AND stopwords_ok AS pass_all
    FROM f
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.functions.text import gopher_quality_flags

    d = _docs(spark, sf_dir)
    # captions are short; repeat to a document-sized fixture so the word-
    # count rule has both outcomes
    tx = F.concat_ws(" ", F.array_repeat(F.col("text"), 12))
    g = gopher_quality_flags(tx)
    return d.withColumn("__g", g).select(
        "doc_id",
        F.col("__g.n_words_ok").alias("n_words_ok"),
        F.col("__g.mean_word_len_ok").alias("mean_word_len_ok"),
        F.col("__g.symbol_ratio_ok").alias("symbol_ratio_ok"),
        F.col("__g.bullet_ok").alias("bullet_ok"),
        F.col("__g.ellipsis_ok").alias("ellipsis_ok"),
        F.col("__g.alpha_ok").alias("alpha_ok"),
        F.col("__g.stopwords_ok").alias("stopwords_ok"),
        F.col("__g.pass").alias("pass_all"),
    )


@q(
    "text_repetition",
    r"""
    WITH d AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN text || e'\nrepeat me\nrepeat me\nrepeat me'
             WHEN doc_id % 3 = 2 THEN text || repeat(' buy now', 8)
             ELSE text END AS tx
      FROM documents
    ), l0 AS (
      SELECT doc_id,
        unnest(list_filter(string_split_regex(tx, '\n'), x -> trim(x) <> '')) AS line
      FROM d
    ), lc AS (
      SELECT doc_id, line, count(*) AS c FROM l0 GROUP BY doc_id, line
    ), ls AS (
      SELECT doc_id,
        1.0 - CAST(count(*) AS DOUBLE) / sum(c) AS dlf,
        CAST(sum(length(line) * (c - 1)) AS DOUBLE)
          / sum(length(line) * c) AS dlcf
      FROM lc GROUP BY doc_id
    ), t0 AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array(lower(tx), '\s+'), x -> x <> '') AS toks
      FROM d
    ), g0 AS (
      SELECT doc_id,
        unnest(CASE WHEN len(toks) >= 2
               THEN list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2])
               ELSE [array_to_string(toks, ' ')] END) AS gram
      FROM t0
    ), gc AS (
      SELECT doc_id, gram, count(*) AS c FROM g0 GROUP BY doc_id, gram
    ), gr AS (
      SELECT doc_id, c * length(gram) AS chars,
        sum(c * length(gram)) OVER (PARTITION BY doc_id) AS total,
        row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram DESC) AS rn
      FROM gc
    ), gs AS (
      SELECT doc_id, CAST(chars AS DOUBLE) / total AS tgf FROM gr WHERE rn = 1
    )
    SELECT d.doc_id,
      round(coalesce(dlf, 0.0), 6) AS dup_line_frac,
      round(coalesce(dlcf, 0.0), 6) AS dup_line_char_frac,
      round(coalesce(tgf, 0.0), 6) AS top_2gram_char_frac,
      coalesce(dlf, 0.0) <= 0.3 AND coalesce(dlcf, 0.0) <= 0.2
        AND coalesce(tgf, 0.0) <= 0.2 AS repetition_ok
    FROM d LEFT JOIN ls USING (doc_id) LEFT JOIN gs USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import repetition_stats

    d = _docs(spark, sf_dir)
    tx = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit("\nrepeat me\nrepeat me\nrepeat me")),
        )
        .when(
            F.col("doc_id") % 3 == 2,
            F.concat(F.col("text"), F.expr("repeat(' buy now', 8)")),
        )
        .otherwise(F.col("text"))
    )
    return repetition_stats(d.select("doc_id", tx.alias("text")))


@q(
    "dedup_paragraphs",
    r"""
    WITH d AS (
      SELECT doc_id,
        text || e'\n\nsubscribe to our newsletter ' || CAST(doc_id % 3 AS VARCHAR)
             || e'\n\nall rights reserved' AS tx
      FROM documents
    ), s AS (
      SELECT doc_id, string_split_regex(tx, '\n\n+') AS paras FROM d
    ), p0 AS (
      SELECT doc_id, unnest(paras) AS para,
             unnest(range(len(paras))) AS pos
      FROM s
    ), p AS (
      SELECT * FROM p0 WHERE trim(para) <> ''
    ), h AS (
      SELECT doc_id, pos, para,
        md5(lower(regexp_replace(trim(para), '\s+', ' ', 'g'))) AS hh
      FROM p
    ), k AS (
      SELECT *, row_number() OVER (PARTITION BY hh ORDER BY doc_id, pos) AS rn
      FROM h
    )
    SELECT doc_id, string_agg(para, e'\n\n' ORDER BY pos) AS text
    FROM k WHERE rn = 1 GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.dedup import paragraph_dedup

    d = _docs(spark, sf_dir)
    # fixture: every doc gets a shared boilerplate paragraph (3 variants)
    # and a universal footer — exactly what paragraph dedup exists to strip
    tx = F.concat(
        F.col("text"),
        F.lit("\n\nsubscribe to our newsletter "),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("\n\nall rights reserved"),
    )
    return paragraph_dedup(d.select("doc_id", tx.alias("text")))


# ============================================================== crawl engine

_FRONTIER_FROM_EVENTS_SQL = """
  SELECT
    'https://archive.example/web/' || CAST(10000000000000 + event_id AS VARCHAR)
      || '/http://host' || lpad(CAST(user_id % 20 AS VARCHAR), 2, '0')
      || '.example/p/' || CAST(event_id AS VARCHAR) AS urim,
    'http://host' || lpad(CAST(user_id % 20 AS VARCHAR), 2, '0')
      || '.example/p/' || CAST(event_id AS VARCHAR) AS urir,
    'host' || lpad(CAST(user_id % 20 AS VARCHAR), 2, '0') || '.example' AS host,
    CAST(value AS DOUBLE) AS priority
  FROM events
"""


def _frontier_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    host = F.concat(
        F.lit("host"), F.lpad((F.col("user_id") % 20).cast("string"), 2, "0"),
        F.lit(".example"),
    )
    urir = F.concat(
        F.lit("http://"), host, F.lit("/p/"), F.col("event_id").cast("string")
    )
    urim = F.concat(
        F.lit("https://archive.example/web/"),
        (F.lit(10000000000000) + F.col("event_id")).cast("string"),
        F.lit("/"), urir,
    )
    return e.select(
        urim.alias("urim"), urir.alias("urir"), host.alias("host"),
        F.col("value").cast("double").alias("priority"),
    )


@q(
    "crawl_politeness_round",
    f"""
    WITH f AS ({_FRONTIER_FROM_EVENTS_SQL})
    SELECT urim, host, pos FROM (
      SELECT urim, host,
             row_number() OVER (
               PARTITION BY host ORDER BY priority DESC, urim ASC
             ) AS pos
      FROM f
    ) WHERE pos <= 4
    """,
)
def crawl_politeness_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One politeness-scheduler round: per-host budget window — the core
    selection rule of streaming/frontier.py:_politeness_select, verified
    against the SQL oracle."""
    from pyspark.sql import Window

    f = _frontier_from_events(spark, sf_dir)
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("urim").asc()
    )
    return (
        f.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= 4)
        .select("urim", "host", "pos")
    )


_SURT_SQL = """
  array_to_string(list_reverse(string_split(
    lower(regexp_extract(urim, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)), '.')), ',')
  || ')' ||
  (CASE WHEN regexp_extract(urim, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1) = ''
        THEN '/'
        WHEN length(regexp_extract(urim, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1)) > 1
         AND regexp_extract(urim, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1) LIKE '%/'
        THEN lower(left(regexp_extract(urim, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1),
                   length(regexp_extract(urim, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1)) - 1))
        ELSE lower(regexp_extract(urim, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1)) END) ||
  (CASE WHEN regexp_extract(urim, '^[^?#]*\\?([^#]*)', 1) <> ''
        THEN '?' || lower(regexp_extract(urim, '^[^?#]*\\?([^#]*)', 1)) ELSE '' END)
"""

@q(
    "crawl_seen_dedup",
    f"""
    WITH f AS ({_FRONTIER_FROM_EVENTS_SQL}),
    k AS (SELECT urim, {_SURT_SQL} AS surt FROM f),
    seen AS (SELECT {_SURT_SQL} AS surt FROM ({_FRONTIER_FROM_EVENTS_SQL})
             WHERE CAST(regexp_extract(urim, '/p/([0-9]+)$', 1) AS BIGINT) % 3 = 0)
    SELECT k.urim, k.surt FROM k
    WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.surt = k.surt)
    """,
)
def crawl_seen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-seen dedup: SURT-canonicalized anti-join (the exact backstop of
    streaming/frontier.py:_not_seen), with the SURT computed by
    functions/urls.py:surt_key and mirrored in SQL."""
    from hypercane_spark.functions.urls import surt_key

    f = _frontier_from_events(spark, sf_dir)
    k = f.select("urim", surt_key(F.col("urim")).alias("surt"))
    seen = (
        f.where(
            F.regexp_extract(F.col("urim"), r"/p/([0-9]+)$", 1).cast("long") % 3 == 0
        )
        .select(surt_key(F.col("urim")).alias("surt"))
    )
    return k.join(seen, "surt", "left_anti").select("urim", "surt")


# ===================================================== round-2 operators

_DTOKS_SQL = r"list_distinct(list_filter(regexp_split_to_array(lower(d.text), '\s+'), x -> x <> ''))"
_FTOKS_SQL = r"list_distinct(list_filter(regexp_split_to_array(lower(f.ftext), '\s+'), x -> x <> ''))"


@q(
    "filter_off_topic_sorensen",
    f"""
    WITH firsts AS (
      SELECT source, arg_min(text, doc_id) AS ftext
      FROM documents GROUP BY source
    ),
    scored AS (
      SELECT d.doc_id,
        1.0 - CASE WHEN (len({_DTOKS_SQL}) + len({_FTOKS_SQL})) > 0
          THEN 2.0 * len(list_intersect({_DTOKS_SQL}, {_FTOKS_SQL}))
               / (len({_DTOKS_SQL}) + len({_FTOKS_SQL}))
          ELSE 0.0 END AS s
      FROM documents d JOIN firsts f USING (source)
    )
    SELECT doc_id FROM scored WHERE s < 0.94
    """,
)
def filter_off_topic_sorensen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import off_topic

    d = _docs(spark, sf_dir)
    out = off_topic(
        d, measure="sorensen", group="source", mdt="doc_id",
        text="text", key="doc_id",
    )
    return out.select("doc_id")


@q(
    "filter_off_topic_nlevenshtein",
    """
    WITH firsts AS (
      SELECT source, arg_min(text, doc_id) AS ftext
      FROM documents GROUP BY source
    )
    SELECT d.doc_id FROM documents d JOIN firsts f USING (source)
    WHERE CAST(levenshtein(d.text, f.ftext) AS DOUBLE)
          / greatest(length(d.text), length(f.ftext), 1) < 0.9
    """,
)
def filter_off_topic_nlevenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import off_topic

    d = _docs(spark, sf_dir)
    out = off_topic(
        d, measure="nlevenshtein", threshold=0.9, group="source",
        mdt="doc_id", text="text", key="doc_id",
    )
    return out.select("doc_id")


@q(
    "filter_off_topic_simhash",
    f"""
    WITH sh AS (
      SELECT doc_id, source, {_SIMHASH_MD5_SQL} AS s FROM documents
    ),
    firsts AS (SELECT source, arg_min(s, doc_id) AS fs FROM sh GROUP BY source)
    SELECT d.doc_id,
           CAST(bit_count(xor(d.s, f.fs)) AS DOUBLE) AS offtopic_score
    FROM sh d JOIN firsts f USING (source)
    WHERE bit_count(xor(d.s, f.fs)) < 28
    """,
)
def filter_off_topic_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.operators.filters import off_topic

    d = _docs(spark, sf_dir)
    out = off_topic(
        d, measure="raw_simhash", use_md5_hash=True, group="source",
        mdt="doc_id", text="text", key="doc_id",
    )
    return out.select("doc_id", "offtopic_score")


@q(
    "filter_off_topic_topic_cosine",
    """
    WITH f AS (
      SELECT label, arg_min(embedding, vec_id) AS fv
      FROM embeddings GROUP BY label
    ),
    s AS (
      SELECT e.vec_id,
        CASE WHEN sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[]))) > 0
              AND sqrt(list_dot_product(CAST(f.fv AS DOUBLE[]),
                                        CAST(f.fv AS DOUBLE[]))) > 0
        THEN list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(f.fv AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(f.fv AS DOUBLE[]),
                                        CAST(f.fv AS DOUBLE[]))))
        ELSE 0.0 END AS cos
      FROM embeddings e JOIN f USING (label)
    )
    SELECT vec_id, round(cos, 6) AS topic_cos FROM s WHERE cos > 0.15
    """,
)
def filter_off_topic_topic_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gensim_lda/lsi plug-point measure: topic vectors are any
    precomputed array column — here the embeddings table stands in for
    doc-topic distributions."""
    from hypercane_spark.operators.filters import off_topic

    e = (
        _emb(spark, sf_dir)
        .withColumn("txt", F.col("vec_id").cast("string"))
        .withColumn("emb_d", F.col("embedding").cast("array<double>"))
    )
    out = off_topic(
        e, measure="topic_cosine", group="label", mdt="vec_id",
        text="txt", key="vec_id", topic_vec="emb_d",
    )
    return out.select(
        "vec_id", F.round("offtopic_score", 6).alias("topic_cos")
    )


@q("cluster_dbscan_lda", _frozen("cluster_dbscan_lda"))
def cluster_dbscan_lda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster LDA doc-topic vectors → DBSCAN (reference
    dbscan.py:311-459); deterministic collapsed-Gibbs stand-in for gensim,
    rows-only gate (topic inference is not SQL-expressible)."""
    from hypercane_spark.operators.cluster import dbscan_lda

    d = _docs(spark, sf_dir).where(F.col("doc_id") % 20 == 0).select(
        "doc_id", "source", "text"
    ).withColumn("cluster", F.col("source"))
    out = dbscan_lda(d, text="text", num_topics=5)
    return out.select("doc_id", "cluster")


@q("cluster_kmeans_tfidf_ml", _frozen("cluster_kmeans_tfidf_ml"))
def cluster_kmeans_tfidf_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed HashingTF+IDF+KMeans path of kmeans_tfidf (engine='ml');
    rows-only gate (hashed-feature k-means labels are not SQL-expressible)."""
    from hypercane_spark.operators.cluster import kmeans_tfidf

    d = _docs(spark, sf_dir).where(F.col("doc_id") % 4 == 0).select(
        "doc_id", "text"
    )
    out = kmeans_tfidf(d, k=8, text="text", engine="ml")
    # canonical label = min doc_id in the cluster: the PARTITION is the
    # contract (ml label ids are arbitrary, like the reference's sklearn)
    canon = out.groupBy("cluster").agg(F.min("doc_id").alias("__canon"))
    return (
        out.join(canon, on="cluster")
        .select("doc_id", F.col("__canon").cast("string").alias("cluster"))
    )


@q(
    "report_entity_freq",
    r"""
    WITH e AS (
      SELECT unnest(regexp_extract_all(text, '[a-z]{6,}')) AS entity
      FROM documents
    )
    SELECT entity, count(*) AS frequency FROM e
    GROUP BY entity ORDER BY frequency DESC, entity ASC LIMIT 20
    """,
)
def report_entity_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity frequency through the NER plug-point with a custom model
    callable (here a regex term extractor the SQL oracle replays — the
    fixture text is lowercase so the default Capitalized-span heuristic
    finds nothing; see operators/score.py:entity_frequency for the spaCy
    plug shape)."""
    import re

    from hypercane_spark.operators.score import entity_frequency

    pat = re.compile(r"[a-z]{6,}")
    d = _docs(spark, sf_dir)
    out = entity_frequency(
        d, text="text", ner=lambda texts: [pat.findall(t) for t in texts]
    )
    return out.orderBy(
        F.col("frequency").desc(), F.col("entity").asc()
    ).limit(20)


@q(
    "report_sumgrams",
    r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    nd AS (SELECT count(*) AS n FROM documents),
    bi AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 0) + 1),
               i -> array_to_string(list_slice(t, i, i + 1), ' ')))) AS ngram
      FROM d WHERE len(t) >= 2
    ),
    bdf AS (SELECT ngram, count(*) AS df FROM bi GROUP BY ngram),
    cands AS (SELECT * FROM bdf ORDER BY df DESC, ngram ASC LIMIT 100),
    tg AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS tri
      FROM d WHERE len(t) >= 3
    ),
    tdfs AS (SELECT tri, count(*) AS tdf FROM tg GROUP BY tri),
    children AS (
      SELECT tri, tdf, unnest([
        array_to_string(list_slice(string_split(tri, ' '), 1, 2), ' '),
        array_to_string(list_slice(string_split(tri, ' '), 2, 3), ' ')
      ]) AS ngram
      FROM tdfs
    ),
    best AS (
      SELECT ngram, tri AS ptri, tdf AS pdf FROM (
        SELECT c.ngram, ch.tri, ch.tdf,
               row_number() OVER (PARTITION BY c.ngram
                                  ORDER BY ch.tdf DESC, ch.tri DESC) AS rn
        FROM cands c JOIN children ch USING (ngram)
      ) WHERE rn = 1
    ),
    conf AS (
      SELECT CASE WHEN b.pdf IS NOT NULL AND b.pdf >= 0.8 * c.df
                  THEN b.ptri ELSE c.ngram END AS ngram, c.df
      FROM cands c LEFT JOIN best b USING (ngram)
    ),
    agg AS (SELECT ngram, max(df) AS term_freq FROM conf GROUP BY ngram)
    SELECT regexp_replace(regexp_replace(ngram, '^[[:punct:]]+', ''),
                          '[[:punct:]]+$', '') AS ngram,
           term_freq,
           round(CAST(term_freq AS DOUBLE) / (SELECT n FROM nd), 6) AS term_rate
    FROM agg ORDER BY term_freq DESC, ngram DESC LIMIT 20
    """,
)
def report_sumgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass sumgram conflation (operators/score.py:sumgrams) — base
    bigram doc frequencies, trigram-parent glue at ratio 0.8, reference
    ordering quirk (freq desc, ngram DESC)."""
    from hypercane_spark.operators.score import sumgrams

    d = _docs(spark, sf_dir)
    return sumgrams(d, text="text", key="doc_id")


# HTML synthesized deterministically from documents so both engines parse
# the SAME markup (the real pipeline gets raw HTML at the fetch stage).
_HTML_SQL = """
  '<html><head><script>var x = 1; if (x < 2) { x = 3; }</script>'
  || '<meta name="author" content="writer ' || CAST(doc_id % 7 AS VARCHAR) || '">'
  || '<meta property="og:title" content="Doc ' || CAST(doc_id AS VARCHAR) || '">'
  || (CASE WHEN doc_id % 3 = 0
      THEN '<meta property="og:image" content="http://img.example/' || CAST(doc_id AS VARCHAR) || '.png">'
      ELSE '' END)
  || '<meta name="author" content="dup ignored">'
  || '<style>p { color: red; }</style><!-- hidden -->'
  || '</head><body><p>' || text || ' &amp; more</p></body></html>'
"""


def _docs_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<html><head><script>var x = 1; if (x < 2) { x = 3; }</script>'),
        F.lit('<meta name="author" content="writer '),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('">'),
        F.lit('<meta property="og:title" content="Doc '),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<meta property="og:image" content="http://img.example/'),
                F.col("doc_id").cast("string"),
                F.lit('.png">'),
            ),
        ).otherwise(F.lit("")),
        F.lit('<meta name="author" content="dup ignored">'),
        F.lit("<style>p { color: red; }</style><!-- hidden -->"),
        F.lit("</head><body><p>"),
        F.col("text"),
        F.lit(" &amp; more</p></body></html>"),
    )
    return d.select("doc_id", html.alias("html"))


@q(
    "html_boilerplate_free",
    f"""
    WITH h AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents)
    SELECT doc_id,
      trim(regexp_replace(
        replace(replace(replace(replace(replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'), '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
              '(?s)<!--.*?-->', ' ', 'g'),
            '(?s)<[^>]*>', ' ', 'g'),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&'),
        '\\s+', ' ', 'g')) AS bpfree_text
    FROM h
    """,
)
def html_boilerplate_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hypercane_spark.functions.html import strip_boilerplate

    h = _docs_html(spark, sf_dir)
    return h.select(
        "doc_id", strip_boilerplate(F.col("html")).alias("bpfree_text")
    )


@q(
    "html_meta_card",
    f"""
    WITH h AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents),
    kv AS (
      SELECT doc_id,
        regexp_extract(html, '(?i)<meta[^>]*(?:name|property)\\s*=\\s*"author"[^>]*content\\s*=\\s*"([^"]*)"', 1) AS author,
        regexp_extract(html, '(?i)<meta[^>]*(?:name|property)\\s*=\\s*"og:title"[^>]*content\\s*=\\s*"([^"]*)"', 1) AS og_title,
        (doc_id % 3 = 0) AS card_image
      FROM h
    )
    SELECT doc_id, author, og_title, FALSE AS card_title_missing, card_image
    FROM kv
    """,
)
def html_meta_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta k/v extraction + card flags (functions/html.py): first-wins
    dedup on the repeated author meta; og:image flag only every 3rd doc."""
    from hypercane_spark.functions.html import card_flags, meta_kv

    h = _docs_html(spark, sf_dir)
    kv = meta_kv(F.col("html"))
    flags = card_flags(F.col("html"))
    return h.select(
        "doc_id",
        F.element_at(kv, F.lit("author")).alias("author"),
        F.element_at(kv, F.lit("og:title")).alias("og_title"),
        (~flags["card_title"]).alias("card_title_missing"),
        flags["card_image"].alias("card_image"),
    )


def _stopword_sql_list() -> str:
    from hypercane_spark.functions.text import EN_STOPWORDS

    return ", ".join(f"'{w}'" for w in EN_STOPWORDS)


@q(
    "report_generate_queries",
    f"""
    WITH t AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    c AS (
      SELECT doc_id, term, count(*) AS c FROM t
      WHERE term NOT IN ({_stopword_sql_list()})
      GROUP BY doc_id, term
    ),
    r AS (
      SELECT doc_id, term,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, term ASC) AS rn
      FROM c
    )
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           string_agg(term, ' ' ORDER BY rn) AS query
    FROM r WHERE rn <= 3 GROUP BY doc_id
    """,
)
def report_generate_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc2query plug-point with the deterministic top-terms fallback
    (operators/score.py:generate_queries)."""
    from hypercane_spark.operators.score import generate_queries

    d = _docs(spark, sf_dir)
    return generate_queries(d, text="text", key="doc_id")


@q(
    "dedup_decontaminate",
    f"""
    WITH ev AS (
      SELECT DISTINCT md5(g) AS g FROM (
        SELECT unnest(list_distinct({_SHINGLES_SQL})) AS g
        FROM documents WHERE doc_id % 50 = 3)
    ),
    grams AS (
      SELECT doc_id, md5(g) AS g FROM (
        SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS g
        FROM documents)
    ),
    cont AS (
      SELECT doc_id FROM grams WHERE g IN (SELECT g FROM ev)
      GROUP BY doc_id HAVING count(*) >= 3
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM cont)
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: the eval set is the doc_id % 50 == 3
    slice of the corpus itself (deterministic in both engines); training
    docs sharing ≥ 3 distinct 3-gram shingles with it are dropped
    (3-grams because the synthetic texts are short; production default is
    the GPT-3-style 13)."""
    from hypercane_spark.operators.dedup import decontaminate

    d = _docs(spark, sf_dir)
    ev = d.where(F.col("doc_id") % 50 == 3)
    return decontaminate(
        d, ev, shingle_n=3, min_overlaps=3
    ).select("doc_id")

"""Scoring operators (``hc score …``).

Every scorer is a pure column expression (window aggregates for the
normalized ones) — no Python in the hot path. Score columns are typed
double; the reference's ``Score---*`` string columns materialize only in
the TSV writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hypercane_spark.functions.hashes import tokens_ws
from hypercane_spark.functions.text import sentence_count, token_count
from hypercane_spark.functions.urls import path_depth, url_category_score


def score_path_depth(
    df: DataFrame, urir: str = "urir", out: str = "path_depth_score"
) -> DataFrame:
    """McCown path depth (reference
    /root/reference/hypercane/score/dsa1_score.py:459-485)."""
    return df.withColumn(out, path_depth(F.col(urir)).cast("double"))


def score_url_category(
    df: DataFrame, urir: str = "urir", out: str = "url_category_score"
) -> DataFrame:
    """Category weight for the URI-R's registered domain (reference
    /root/reference/hypercane/score/dsa1_score.py:639-675). At full scale the
    curated domain lists ride a broadcast lookup table; see
    functions/urls.py:url_category_score for the expression form."""
    return df.withColumn(out, url_category_score(F.col(urir)))


def dsa1_score(
    df: DataFrame,
    urir: str = "urir",
    damage: str = "damage",
    damage_weight: float = -0.40,
    category_weight: float = 0.15,
    path_depth_weight: float = 0.45,
    out: str = "dsa1_score",
) -> DataFrame:
    """AlNoamany DSA1 score (reference
    /root/reference/hypercane/score/dsa1_score.py:540-561):

        (1 − dw·damage) + pdw·(path_depth/10) + cw·category

    with defaults dw=−0.40, cw=0.15, pdw=0.45. Missing damage (the external
    Memento-Damage API in the reference, :510-538) contributes 0."""
    dmg = F.coalesce(F.col(damage).cast("double"), F.lit(0.0))
    score = (
        (F.lit(1.0) - F.lit(damage_weight) * dmg)
        + F.lit(path_depth_weight) * (path_depth(F.col(urir)) / F.lit(10.0))
        + F.lit(category_weight) * url_category_score(F.col(urir))
    )
    return df.withColumn(out, F.round(score, 6))


def dsa2_score(
    df: DataFrame,
    card: str = "card_score",
    size: str = "bpfree_len",
    image_count: str = "image_count",
    card_weight: float = 0.50,
    size_weight: float = 0.25,
    image_weight: float = 0.25,
    out: str = "dsa2_score",
) -> DataFrame:
    """DSA2 score (reference /root/reference/hypercane/score/dsa2_score.py:
    7-91): cw·card + sw·zscore(bpfree_size) + iw·zscore(image_count),
    defaults 0.50/0.25/0.25 (population stddev, :70-71).

    The four corpus scalars (mean/stddev of size and image_count) come from
    ONE partial-aggregated pass collected to the driver and re-entered as
    literals — NOT a ``Window.partitionBy()`` empty window, which ships the
    whole relation to a single task (twice, once per z-score)."""
    c_size = F.col(size).cast("double")
    c_img = F.col(image_count).cast("double")
    stats = df.agg(
        F.avg(c_size).alias("mu_s"),
        F.stddev_pop(c_size).alias("sd_s"),
        F.avg(c_img).alias("mu_i"),
        F.stddev_pop(c_img).alias("sd_i"),
    ).first()

    def z(c, mu, sd):
        if mu is None or sd is None or sd <= 0:
            return F.lit(0.0)
        return (c - F.lit(float(mu))) / F.lit(float(sd))

    score = (
        F.lit(card_weight) * F.col(card).cast("double")
        + F.lit(size_weight) * z(c_size, stats["mu_s"], stats["sd_s"])
        + F.lit(image_weight) * z(c_img, stats["mu_i"], stats["sd_i"])
    )
    return df.withColumn(out, F.round(score, 6))


def card_score(
    df: DataFrame,
    has_card: str = "card_title",  # twitter:card flag
    has_title: str = "card_title",
    has_desc: str = "card_desc",
    has_image: str = "card_image",
    out: str = "card_score",
) -> DataFrame:
    """Simple card score: (card + title + description + image)/4 from HTML
    meta presence flags (reference
    /root/reference/hypercane/score/card_score.py:8-51; kv extraction
    /root/reference/hypercane/utils.py:813-858 — in our payload tables the
    flags are fetch-stage columns)."""
    s = sum(
        F.when(F.col(c), 1).otherwise(0)
        for c in (has_card, has_title, has_desc, has_image)
    )
    return df.withColumn(out, (s / F.lit(4.0)).cast("double"))


def image_count_score(
    df: DataFrame,
    images: DataFrame,
    key: str = "urim",
    out: str = "image_count_score",
) -> DataFrame:
    """Count of embedded images per memento (reference parses <img src/srcset>
    from raw HTML, /root/reference/hypercane/score/image_count.py:7-69; our
    fetched-images table already holds one row per embedded image → a
    count aggregate + left join, zero HTML parsing in the engine)."""
    counts = images.groupBy(key).agg(F.count(F.lit(1)).alias(out))
    return df.join(counts, on=key, how="left").withColumn(
        out, F.coalesce(F.col(out), F.lit(0)).cast("double")
    )


def document_size_scores(
    df: DataFrame,
    text: str = "bpfree_text",
    raw: str | None = None,
    prefix: str = "",
) -> DataFrame:
    """Byte / character / word / sentence sizes (reference
    /root/reference/hypercane/score/document_size.py:7-81)."""
    out = df.withColumn(
        f"{prefix}character_size", F.length(F.col(text)).cast("double")
    )
    out = out.withColumn(f"{prefix}word_size", token_count(text).cast("double"))
    out = out.withColumn(
        f"{prefix}sentence_size", sentence_count(text).cast("double")
    )
    if raw is not None:
        out = out.withColumn(f"{prefix}byte_size", F.length(F.col(raw)).cast("double"))
    return out


def bm25_score(
    df: DataFrame,
    query_terms: list[str],
    text: str = "bpfree_text",
    k1: float = 1.5,
    b: float = 0.75,
    out: str = "bm25_score",
) -> DataFrame:
    """BM25Okapi over whitespace tokens vs a fixed query
    (reference wraps rank_bm25,
    /root/reference/hypercane/score/bm25.py:6-48 — whole corpus in RAM,
    acknowledged in its TODO at :26).

    Fully distributed rebuild with no driver action: one one-row aggregate
    holds N, avgdl and, per distinct query term, its document frequency
    (``count(when(array_contains(toks, t)))``); idf is computed on that row,
    which is broadcast-cross-joined back, and the BM25 sum is a pure column
    expression:

        Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))

    idf = ln((N − df + 0.5)/(df + 0.5) + 1)  (Okapi+floor, rank_bm25's form).
    A null or zero avgdl (no tokens anywhere) counts as 1.0; a repeated
    query term is summed once per occurrence.
    """
    toks = tokens_ws(text)
    terms = [q.lower() for q in query_terms]
    slot = {t: i for i, t in enumerate(dict.fromkeys(terms))}
    dfreq = [
        F.count(F.when(F.array_contains(toks, t), 1)).alias(f"__bm25_df{i}")
        for t, i in slot.items()
    ]
    avgdl = F.avg(F.size(toks))
    stats = df.agg(
        F.count(F.lit(1)).alias("__bm25_n"),
        F.when(avgdl.isNull() | (avgdl == 0), 1.0)
        .otherwise(avgdl)
        .alias("__bm25_avgdl"),
        *dfreq,
    ).select(
        "__bm25_avgdl",
        *[
            F.log(
                (F.col("__bm25_n") - F.col(f"__bm25_df{i}") + 0.5)
                / (F.col(f"__bm25_df{i}") + 0.5)
                + 1.0
            ).alias(f"__bm25_idf{i}")
            for i in slot.values()
        ],
    )

    dl = F.size(toks).cast("double")
    score = F.lit(0.0)
    for ql in terms:
        idf = F.col(f"__bm25_idf{slot[ql]}")
        tf = F.size(F.filter(toks, lambda x: x == F.lit(ql))).cast("double")
        score = score + idf * (
            tf * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * dl / F.col("__bm25_avgdl")))
        )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(out, F.round(score, 6))
        .drop(*stats.columns)
    )


def top_entities_bm25(
    df: DataFrame,
    k_entities: int = 5,
    text: str = "bpfree_text",
    out: str = "bm25_score",
) -> DataFrame:
    """Query = the corpus's top-k terms by frequency (standing in for spaCy
    entities — pluggable), then BM25 (reference
    /root/reference/hypercane/score/bm25.py:50-61). Stopwords excluded so
    'the' doesn't become the query."""
    from hypercane_spark.functions.text import EN_STOPWORDS

    top = (
        df.select(F.explode(tokens_ws(text)).alias("t"))
        .where(~F.col("t").isin(*EN_STOPWORDS))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("t").asc())
        .limit(k_entities)
        .collect()
    )
    return bm25_score(df, [r["t"] for r in top], text=text, out=out)


def entity_frequency(
    df: DataFrame,
    text: str = "bpfree_text",
    ner=None,
    out_entity: str = "entity",
    out_count: str = "frequency",
) -> DataFrame:
    """Corpus-wide entity frequency report (reference
    /root/reference/hypercane/report/entities.py:7-187 — spaCy
    en_core_web_sm over boilerplate-free content, counts per entity text).

    ``ner`` is the model plug-point: a callable ``list[str] ->
    list[list[str]]`` applied per Arrow batch inside mapInPandas — plug a
    spaCy ``nlp.pipe`` wrapper here; this container has no model, so the
    deterministic fallback extracts runs of Capitalized words (an
    NER-shaped heuristic the SQL oracle replays exactly). Counts are
    partially aggregated inside each batch (map-side combine), then one
    final groupBy — the shuffle carries (entity, partial_count), never raw
    entity mentions."""
    import re

    if ner is None:
        pat = re.compile(r"[A-Z][a-z]+(?: [A-Z][a-z]+)*")
        ner = lambda texts: [pat.findall(t or "") for t in texts]  # noqa: E731

    import pandas as pd

    def batches(it):
        for pdf in it:
            ents = ner([str(t) if t is not None else "" for t in pdf[text]])
            flat = [e for lst in ents for e in lst]
            if not flat:
                continue
            s = pd.Series(flat).value_counts()
            yield pd.DataFrame(
                {out_entity: s.index.astype(str), out_count: s.to_numpy()}
            )

    per_batch = df.select(text).mapInPandas(
        batches, schema=f"{out_entity} string, {out_count} long"
    )
    return per_batch.groupBy(out_entity).agg(F.sum(out_count).alias(out_count))


def generate_queries(
    df: DataFrame,
    text: str = "bpfree_text",
    key: str = "urim",
    generator=None,
    k_terms: int = 3,
    out: str = "query",
) -> DataFrame:
    """Per-document search-query generation (reference
    /root/reference/hypercane/report/generate_queries.py:82-136 — a
    doc2query-T5 plug-point in the reference too; its fallback is
    top-scoring terms).

    ``generator`` is the model plug-point: ``list[str] -> list[str]``
    (one query per document) applied per Arrow batch in mapInPandas —
    plug a doc2query/T5 pipe there. The deterministic fallback joins each
    document's ``k_terms`` most frequent non-stopword tokens (count desc,
    term asc — SQL-oracle-replayable)."""
    import pandas as pd

    from hypercane_spark.functions.text import EN_STOPWORDS

    stop = set(EN_STOPWORDS)

    if generator is None:

        def generator(texts: list[str]) -> list[str]:
            qs = []
            for t in texts:
                counts: dict[str, int] = {}
                for tok in str(t).lower().split():
                    if tok in stop:
                        continue
                    counts[tok] = counts.get(tok, 0) + 1
                top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                qs.append(" ".join(w for w, _ in top[:k_terms]))
            return qs

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            res = pd.DataFrame(
                {
                    key: pdf[key].astype(str),
                    out: generator([str(t) for t in pdf[text]]),
                }
            )
            # a document whose tokens are all stopwords (or empty text)
            # yields no query — drop it, matching the reference's skip of
            # unusable documents (and the GROUP-BY-terms SQL oracle, which
            # never emits a row for a doc with zero surviving terms)
            yield res[res[out].fillna("") != ""]

    return df.select(key, text).mapInPandas(
        batches, schema=f"{key} string, {out} string"
    )


def sumgrams(
    df: DataFrame,
    text: str = "bpfree_text",
    key: str = "urim",
    top_k: int = 20,
    pool: int = 100,
    expand_ratio: float = 0.8,
    current_year: int | None = None,
) -> DataFrame:
    """Sumgram-style conflated top phrases (reference
    /root/reference/hypercane/report/sumgrams.py:8-126 wraps the public
    ``sumgram`` library: top base bigrams by DOCUMENT frequency, conflated
    upward into longer phrases when a longer phrase co-occurs in most of
    the base ngram's documents).

    Spark-first two-pass rebuild:

      1. base pass — explode per-doc DISTINCT bigrams → one partial-
         aggregated count = doc frequency; keep the top ``pool``
         candidates.
      2. conflation pass — explode per-doc distinct trigrams, emit each
         trigram under its two child bigrams, broadcast-join the candidate
         set, pick the max-df parent per candidate (max_by), and replace
         the bigram with the parent phrase when
         ``parent_df ≥ expand_ratio · bigram_df`` (the library's glue
         heuristic as one explicit ratio).

    Output: (ngram, term_freq, term_rate) — term_freq = the winning base
    ngram's doc frequency (max over children conflating to one phrase),
    term_rate = term_freq / corpus size, ordered by the reference's
    ``sorted(sf, reverse=True)`` quirk (freq desc, then ngram DESC), edge
    punctuation stripped. ``current_year`` enables the reference's
    month+year exclusion workaround (kept off by default so results don't
    depend on the wall clock)."""
    from hypercane_spark.functions.hashes import tokens_ws

    n_docs = df.count()
    if n_docs == 0:
        return df.sparkSession.createDataFrame(
            [], "ngram string, term_freq long, term_rate double"
        )
    toks = tokens_ws(text)

    def grams(t, n):
        # guard: Spark's sequence(1, 0) DESCENDS, and slice(_, 0, _) throws
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.array_join(F.slice(t, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    d = df.select(F.col(key).alias("__d"), toks.alias("__t"))
    bi = (
        d.select("__d", F.explode(F.array_distinct(grams(F.col("__t"), 2))).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    cands = bi.orderBy(F.col("df").desc(), F.col("ngram").asc()).limit(pool)

    tri = (
        d.select("__d", F.explode(F.array_distinct(grams(F.col("__t"), 3))).alias("tri"))
        .groupBy("tri")
        .agg(F.count(F.lit(1)).alias("tdf"))
    )
    words = F.split(F.col("tri"), " ")
    children = tri.select(
        "tri",
        "tdf",
        F.explode(
            F.array(
                F.array_join(F.slice(words, 1, 2), " "),
                F.array_join(F.slice(words, 2, 2), " "),
            )
        ).alias("ngram"),
    )
    best_parent = (
        children.join(F.broadcast(cands.select("ngram")), on="ngram")
        .groupBy("ngram")
        .agg(F.max(F.struct(F.col("tdf"), F.col("tri"))).alias("__m"))
        .select(
            "ngram",
            F.col("__m.tri").alias("ptri"),
            F.col("__m.tdf").alias("pdf"),
        )
    )
    conflated = (
        cands.join(best_parent, on="ngram", how="left")
        .select(
            F.when(
                F.col("pdf").isNotNull()
                & (F.col("pdf") >= F.lit(expand_ratio) * F.col("df")),
                F.col("ptri"),
            )
            .otherwise(F.col("ngram"))
            .alias("ngram"),
            "df",
        )
        .groupBy("ngram")
        .agg(F.max("df").alias("term_freq"))
    )
    if current_year is not None:
        months = (
            "january february march april may june july august september "
            "october november december jan feb mar apr jun jul aug sep oct "
            "nov dec"
        ).split()
        month_pred = F.lit(False)
        for m in months:
            month_pred = month_pred | F.col("ngram").contains(m)
        conflated = conflated.where(
            ~(month_pred & F.col("ngram").contains(str(current_year)))
        )
    out = conflated.select(
        F.regexp_replace(
            F.regexp_replace(F.col("ngram"), r"^[\p{Punct}]+", ""),
            r"[\p{Punct}]+$",
            "",
        ).alias("ngram"),
        "term_freq",
        F.round(F.col("term_freq") / F.lit(float(n_docs)), 6).alias("term_rate"),
    )
    return out.orderBy(
        F.col("term_freq").desc(), F.col("ngram").desc()
    ).limit(top_k)


def distance_from_centroid(
    df: DataFrame,
    text: str = "bpfree_text",
    cluster: str = "cluster",
    out: str = "centroid_distance",
) -> DataFrame:
    """Per cluster: euclidean distance of each doc's TF-IDF vector from the
    cluster mean (reference fits KMeans(n_clusters=1) — whose centroid IS
    the mean — /root/reference/hypercane/score/distance_from_centroid.py:
    9-76; its --more-similar flag is a no-op bug at :71-72 which we do not
    reproduce). applyInPandas per cluster; groups independent."""
    import numpy as np
    import pandas as pd

    from hypercane_spark.operators.cluster import _tfidf_matrix

    work = df.withColumn(
        "__grp",
        F.coalesce(
            F.col(cluster).cast("string") if cluster in df.columns else F.lit(""),
            F.lit(""),
        ),
    )
    schema = work.withColumn(out, F.lit(0.0)).schema

    def dist(pdf: pd.DataFrame) -> pd.DataFrame:
        m = _tfidf_matrix(pdf[text])
        c = m.mean(axis=0, keepdims=True)
        pdf = pdf.copy()
        pdf[out] = np.sqrt(((m - c) ** 2).sum(axis=1))
        return pdf

    return work.groupBy("__grp").applyInPandas(dist, schema=schema).drop("__grp")

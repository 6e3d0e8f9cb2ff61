"""Filter operators (``hc filter include/exclude …``).

Each is a thin declarative predicate — Catalyst pushes these into the
parquet/Iceberg scan (check ``PushedFilters`` in .explain). The two
non-trivial ones are ``near_duplicates`` (order-dependent per-group scan →
applyInPandas) and ``off_topic`` (per-TimeMap measure vs first memento).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hypercane_spark.functions.hashes import tokens_ws


# ---------------------------------------------------------------- languages

def include_languages(df: DataFrame, langs: Sequence[str], lang: str = "language") -> DataFrame:
    """Keep rows whose language ∈ set
    (reference /root/reference/hypercane/hfilter/languages.py:6-27)."""
    return df.where(F.col(lang).isin(*langs))


def exclude_languages(df: DataFrame, langs: Sequence[str], lang: str = "language") -> DataFrame:
    """Drop rows whose language ∈ set (reference languages.py:29-51)."""
    return df.where(~F.col(lang).isin(*langs) | F.col(lang).isNull())


# ------------------------------------------------------------- datetime / score

def near_datetime(
    df: DataFrame, lower, upper, mdt: str = "memento_datetime"
) -> DataFrame:
    """lower ≤ memento-datetime ≤ upper
    (reference /root/reference/hypercane/hfilter/near_datetime.py:5-34)."""
    return df.where(F.col(mdt).between(lower, upper))


def score_range(df: DataFrame, score: str, op: str, value: float) -> DataFrame:
    """Predicate like '>0.5' against a score column (reference sniffs the
    column and parses the predicate string,
    /root/reference/hypercane/actions/hfilter.py:130-177)."""
    c = F.col(score).cast("double")
    ops = {
        ">": c > value, ">=": c >= value, "<": c < value,
        "<=": c <= value, "==": c == value, "!=": c != value,
    }
    if op not in ops:
        raise ValueError(f"unsupported comparator {op!r}")
    return df.where(ops[op])


# ------------------------------------------------------------------ patterns

def containing_pattern(
    df: DataFrame, pattern: str, text: str = "bpfree_text", include: bool = True
) -> DataFrame:
    """Regex match against boilerplate-free content. The reference uses
    ``re.match`` (anchored at start,
    /root/reference/hypercane/utils.py:634-638) — we anchor explicitly since
    rlike is a search."""
    pred = F.col(text).rlike("^(?:" + pattern + ")")
    return df.where(pred if include else (~pred | F.col(text).isNull()))


def containing_url_pattern(
    df: DataFrame, pattern: str, urir: str = "urir", include: bool = True
) -> DataFrame:
    """Regex match on URI-R
    (reference /root/reference/hypercane/hfilter/containing_urir.py:6-34)."""
    pred = F.col(urir).rlike("^(?:" + pattern + ")")
    return df.where(pred if include else (~pred | F.col(urir).isNull()))


# ------------------------------------------------------------------ clusters

def _split_cluster(col: str):
    return F.split(F.col(col), "~~~")


def include_cluster_id(
    df: DataFrame, cluster_id: str, cluster: str = "cluster", subcluster: bool = True
) -> DataFrame:
    """Keep rows whose (sub)cluster id matches; composite ids 'a~~~b' match on
    any segment when subcluster=True
    (reference /root/reference/hypercane/hfilter/by_clusterid.py:5-26)."""
    if subcluster:
        return df.where(F.array_contains(_split_cluster(cluster), cluster_id))
    return df.where(F.col(cluster) == cluster_id)


def exclude_cluster_id(
    df: DataFrame, cluster_id: str, cluster: str = "cluster", subcluster: bool = True
) -> DataFrame:
    """Inverse of include_cluster_id (reference by_clusterid.py:28-46)."""
    if subcluster:
        pred = F.array_contains(_split_cluster(cluster), cluster_id)
    else:
        pred = F.col(cluster) == cluster_id
    return df.where(~pred | F.col(cluster).isNull())


def largest_clusters(
    df: DataFrame, n: int, cluster: str = "cluster"
) -> DataFrame:
    """Keep all members of the top-N clusters by member count
    (reference /root/reference/hypercane/hfilter/largest_cluster.py:5-28).
    Count-aggregate → top-N (tie-broken by cluster id desc, deterministic) →
    broadcast semi-join."""
    top = (
        df.groupBy(cluster)
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), F.col(cluster).desc())
        .limit(n)
        .drop("__n")
    )
    return df.join(F.broadcast(top), on=cluster, how="left_semi")


def highest_score_per_cluster(
    df: DataFrame, score: str, cluster: str = "cluster", key: str = "urim"
) -> DataFrame:
    """Per cluster keep the max-score row; ties broken by max urim — the
    reference's ``max()`` over (score, urim) tuples
    (/root/reference/hypercane/hfilter/highest_rank_per_cluster.py:5-38).
    (The reference compares scores as raw TSV *strings* when no scorer ran
    in-process — actions/hfilter.py:109-128; we compare numerically, the
    sane semantics, and note the quirk here for parity audits.)"""
    w = Window.partitionBy(cluster).orderBy(
        F.col(score).cast("double").desc(), F.col(key).desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------------ near-duplicates

def near_duplicates(
    df: DataFrame,
    simhash: str = "tf_simhash",
    group: str = "urit",
    mdt: str = "memento_datetime",
    key: str = "urim",
    threshold: float = 0.2,
) -> DataFrame:
    """Exclude near-duplicate mementos within each TimeMap.

    Reference scan (/root/reference/hypercane/hfilter/near_duplicates.py:
    101-117): sort group members by memento-datetime; keep a row iff
    hamming(simhash, simhash_of_LAST_KEPT)/64 > threshold; the first row
    always survives (compared against last_simhash=0 — and if a page's
    simhash is within threshold of literal 0 it would be dropped; we keep
    the first row unconditionally, documenting the divergence: the
    reference's behavior vs an all-zero-adjacent first simhash is a bug).

    The compare-to-last-KEPT state makes this a sequential scan per group —
    not expressible as a window lag — so it's applyInPandas per TimeMap
    (groups are independent → parallel). Hamming is vectorized numpy
    popcount over uint64."""
    out_schema = df.schema

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([mdt, key], kind="mergesort").reset_index(drop=True)
        sh = pdf[simhash].to_numpy(dtype=np.int64).view(np.uint64)
        keep = np.zeros(len(pdf), dtype=bool)
        last = None
        for i in range(len(pdf)):
            if last is None:
                keep[i] = True
                last = sh[i]
                continue
            x = np.uint64(sh[i]) ^ np.uint64(last)
            dist = bin(int(x)).count("1") / 64.0
            if dist > threshold:
                keep[i] = True
                last = sh[i]
        return pdf[keep]

    return df.groupBy(group).applyInPandas(scan, schema=out_schema)


# ----------------------------------------------------------------- off-topic

def off_topic(
    df: DataFrame,
    measure: str = "cosine",
    threshold: float | None = None,
    group: str = "urit",
    mdt: str = "memento_datetime",
    text: str = "bpfree_text",
    key: str = "urim",
    keep_on_topic: bool = True,
    score_col: str = "offtopic_score",
    topic_vec: str = "topic_vec",
    use_md5_hash: bool = False,
) -> DataFrame:
    """Exclude off-topic mementos: compare each memento against the *first*
    (earliest) memento of its TimeMap with a similarity/size measure and
    threshold (reference delegates to otmt,
    /root/reference/hypercane/hfilter/remove_offtopic.py:375-440; the
    measure table is otmt's ``supported_timemap_measures`` — defaults below
    follow its published table).

    Measures:
      cosine       — TF cosine vs first memento, on-topic if > 0.12
      jaccard      — token Jaccard distance, on-topic if < 0.94
      sorensen     — Sørensen–Dice distance on token sets, on-topic if < 0.94
      levenshtein  — character edit distance (JVM levenshtein; otmt
                     tokenizes first — a documented divergence), on-topic
                     if < threshold. otmt's table default (0.05) only makes
                     sense normalized; pass an absolute threshold here.
      nlevenshtein — edit distance / max length, on-topic if < 0.05
      raw_simhash  — hamming distance of 64-bit raw simhashes, on-topic
                     if < 28 (otmt default 28)
      tf_simhash   — hamming distance of TF-weighted simhashes, < 28
      wordcount    — relative word-count change, on-topic if > -0.85
      bytecount    — relative byte-count change, on-topic if > -0.65
      topic_cosine — cosine of precomputed doc-topic vectors (the
                     gensim_lda/gensim_lsi plug-point: compute
                     ``topic_vec`` with any topic model, e.g.
                     cluster.lda_topics' distribution), on-topic if > 0.15

    Implemented as: first-memento extraction (min_by over the group — one
    partial-aggregating shuffle), joined back, measure computed as column
    expressions — all JVM-side, no Python in the hot path.
    """
    defaults = {
        "cosine": 0.12,
        "jaccard": 0.94,
        "sorensen": 0.94,
        "levenshtein": 0.05,
        "nlevenshtein": 0.05,
        "raw_simhash": 28.0,
        "tf_simhash": 28.0,
        "wordcount": -0.85,
        "bytecount": -0.65,
        "topic_cosine": 0.15,
    }
    if measure not in defaults:
        raise ValueError(f"unknown measure {measure!r}")
    thr = defaults[measure] if threshold is None else threshold

    # struct ordering is lexicographic ascending — (mdt, key) min = earliest
    aggs = [
        F.min_by(F.col(text), F.struct(F.col(mdt), F.col(key))).alias("__first_text")
    ]
    if measure == "topic_cosine":
        aggs.append(
            F.min_by(F.col(topic_vec), F.struct(F.col(mdt), F.col(key))).alias(
                "__first_vec"
            )
        )
    first = df.groupBy(group).agg(*aggs)
    j = df.join(first, on=group, how="left")

    toks = tokens_ws(text)
    ftoks = tokens_ws("__first_text")

    drop_cols = ["__first_text"]
    if measure == "wordcount":
        n, fn = F.size(toks), F.size(ftoks)
        score = F.when(fn > 0, (n - fn) / fn).otherwise(F.lit(0.0))
        pred = score > thr
    elif measure == "bytecount":
        n, fn = F.length(F.col(text)), F.length(F.col("__first_text"))
        score = F.when(fn > 0, (n - fn) / fn).otherwise(F.lit(0.0))
        pred = score > thr
    elif measure == "jaccard":
        a, b = F.array_distinct(toks), F.array_distinct(ftoks)
        inter = F.size(F.array_intersect(a, b))
        union = F.size(F.array_union(a, b))
        score = F.lit(1.0) - F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        pred = score < thr
    elif measure == "sorensen":
        # Sørensen–Dice distance = 1 − 2·|A∩B| / (|A|+|B|) on token sets
        a, b = F.array_distinct(toks), F.array_distinct(ftoks)
        inter = F.size(F.array_intersect(a, b))
        denom = F.size(a) + F.size(b)
        score = F.lit(1.0) - F.when(
            denom > 0, F.lit(2.0) * inter / denom
        ).otherwise(F.lit(0.0))
        pred = score < thr
    elif measure == "levenshtein":
        score = F.levenshtein(F.col(text), F.col("__first_text")).cast("double")
        pred = score < thr
    elif measure == "nlevenshtein":
        lev = F.levenshtein(F.col(text), F.col("__first_text")).cast("double")
        mx = F.greatest(
            F.length(F.col(text)), F.length(F.col("__first_text")), F.lit(1)
        )
        score = lev / mx
        pred = score < thr
    elif measure in ("raw_simhash", "tf_simhash"):
        from hypercane_spark.functions.hashes import (
            hamming64,
            simhash64,
            simhash64_md5,
            tf_simhash64,
        )

        if use_md5_hash:  # md5 bit family — SQL-oracle-replayable variant
            sh = simhash64_md5
        else:
            sh = simhash64 if measure == "raw_simhash" else tf_simhash64
        score = hamming64(sh(F.col(text)), sh(F.col("__first_text"))).cast(
            "double"
        )
        pred = score < thr
    elif measure == "topic_cosine":
        a, b = F.col(topic_vec), F.col("__first_vec")
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        norm = lambda v: F.sqrt(  # noqa: E731
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        na, nb = norm(a), norm(b)
        score = F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))
        pred = score > thr
        drop_cols.append("__first_vec")
    else:  # cosine over TF vectors — computed on the token multiset
        # Linear form (round-2 fix: the old per-term array rescan was
        # O(|uniq|·|tokens|) per row — quadratic on real pages). Uses the
        # identity  Σ_t (tf_a+tf_b)² = Σ tf_a² + Σ tf_b² + 2·dot, so
        #   dot = (S_ab − S_a − S_b) / 2
        # where each S is Σ tf² computed by ONE run-length aggregate over a
        # sorted token array — O(n log n) sort + O(n) fold, all JVM-side,
        # exact integer arithmetic until the final division.
        a, b = toks, ftoks
        zero = F.lit(0).cast("long")

        def sum_sq_tf(arr: "F.Column") -> "F.Column":
            srt = F.array_sort(arr)
            init = F.struct(
                F.lit("").alias("prev"), zero.alias("run"), zero.alias("acc")
            )
            return F.aggregate(
                srt,
                init,
                lambda st, t: F.struct(
                    t.alias("prev"),
                    F.when(t == st["prev"], st["run"] + 1)
                    .otherwise(F.lit(1).cast("long"))
                    .alias("run"),
                    F.when(t == st["prev"], st["acc"])
                    .otherwise(st["acc"] + st["run"] * st["run"])
                    .alias("acc"),
                ),
                lambda st: st["acc"] + st["run"] * st["run"],
            )

        s_a, s_b, s_ab = sum_sq_tf(a), sum_sq_tf(b), sum_sq_tf(F.concat(a, b))
        dot = (s_ab - s_a - s_b) / F.lit(2)
        na, nb = F.sqrt(s_a.cast("double")), F.sqrt(s_b.cast("double"))
        score = F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))
        pred = score > thr

    out = j.withColumn(score_col, score.cast("double"))
    out = out.where(pred if keep_on_topic else ~pred)
    return out.drop(*drop_cols)


def repetition_stats(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    max_dup_line_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
    max_top_2gram_char_frac: float = 0.2,
) -> DataFrame:
    """Gopher repetition-filter signals (Rae et al. 2021, A1.1 'repetition
    removal'): per document, the duplicate-line fraction, the fraction of
    characters in duplicate lines, and the fraction of (token) characters
    claimed by the single most common word 2-gram — plus ``repetition_ok``
    (all three under their thresholds).

    Scale shape: two explode→aggregate pipelines (lines and 2-grams), each
    ONE shuffle on ``(key, value)`` with map-side partial counts, reduced
    to per-key stats with a second partial agg on ``key``, then a
    co-partitioned join on ``key`` (both sides arrive hash-partitioned by
    key, so AQE plans it shuffle-free). No windows over the full corpus,
    no driver state — survives any corpus size; a pathological document
    with millions of lines costs only its own groups."""
    lines = F.filter(
        F.split(F.col(text), r"\n"), lambda l: F.trim(l) != F.lit("")
    )
    line_rows = df.select(F.col(key), F.explode(lines).alias("__l"))
    line_counts = line_rows.groupBy(key, "__l").agg(
        F.count(F.lit(1)).alias("__c")
    )
    line_stats = line_counts.groupBy(key).agg(
        (1.0 - F.count(F.lit(1)) / F.sum("__c")).alias("dup_line_frac"),
        (
            F.sum(F.length("__l") * (F.col("__c") - 1))
            / F.sum(F.length("__l") * F.col("__c"))
        ).alias("dup_line_char_frac"),
    )

    from hypercane_spark.operators.dedup import shingles

    gram_rows = df.select(
        F.col(key), F.explode(shingles(text, 2)).alias("__g")
    )
    gram_counts = gram_rows.groupBy(key, "__g").agg(
        F.count(F.lit(1)).alias("__c")
    )
    top = gram_counts.groupBy(key).agg(
        F.max(
            F.struct(
                F.col("__c"), F.col("__g"), (F.col("__c") * F.length("__g")).alias("__chars")
            )
        ).alias("__top"),
        F.sum(F.col("__c") * F.length("__g")).alias("__total"),
    )
    gram_stats = top.select(
        F.col(key),
        (F.col("__top.__chars") / F.col("__total")).alias(
            "top_2gram_char_frac"
        ),
    )

    out = df.select(key).join(line_stats, on=key, how="left").join(
        gram_stats, on=key, how="left"
    )
    ok = (
        (F.coalesce(F.col("dup_line_frac"), F.lit(0.0)) <= max_dup_line_frac)
        & (
            F.coalesce(F.col("dup_line_char_frac"), F.lit(0.0))
            <= max_dup_line_char_frac
        )
        & (
            F.coalesce(F.col("top_2gram_char_frac"), F.lit(0.0))
            <= max_top_2gram_char_frac
        )
    )
    return out.select(
        key,
        F.round(F.coalesce(F.col("dup_line_frac"), F.lit(0.0)), 6).alias(
            "dup_line_frac"
        ),
        F.round(
            F.coalesce(F.col("dup_line_char_frac"), F.lit(0.0)), 6
        ).alias("dup_line_char_frac"),
        F.round(
            F.coalesce(F.col("top_2gram_char_frac"), F.lit(0.0)), 6
        ).alias("top_2gram_char_frac"),
        ok.alias("repetition_ok"),
    )

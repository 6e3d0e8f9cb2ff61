"""Clustering operators (``hc cluster …``).

All clusterers compose hierarchically with a prior assignment by
string-joining with '~~~' (reference convention, e.g.
/root/reference/hypercane/cluster/time_slice.py:95-100) — here via
``_compose``. time-slice / domain / original-resource are pure DataFrame;
k-means / DBSCAN / LDA run per-existing-cluster inside applyInPandas
(mirroring the reference's per-group sklearn loops, which are
embarrassingly parallel across groups).
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hypercane_spark.functions.hashes import tokens_ws
from hypercane_spark.functions.urls import url_host


def story_size_k(n: int) -> int:
    """AlNoamany story-size heuristic
    (reference /root/reference/hypercane/cluster/time_slice.py:49-56):
    k = ceil(28 + ln N) if N > 767 else ceil(sqrt N)."""
    if n <= 0:
        return 0
    return math.ceil(28 + math.log(n)) if n > 767 else math.ceil(math.sqrt(n))


def _compose(df: DataFrame, new_label, cluster: str = "cluster") -> DataFrame:
    """'{old}~~~{new}' composite, or just '{new}' when no prior cluster."""
    new_str = new_label.cast("string")
    if cluster in df.columns:
        composed = F.when(
            F.col(cluster).isNull() | (F.col(cluster) == ""), new_str
        ).otherwise(F.concat_ws("~~~", F.col(cluster), new_str))
        return df.withColumn(cluster, composed)
    return df.withColumn(cluster, new_str)


def _prior(df: DataFrame, cluster: str) -> Column:
    """The prior assignment, or one global group when there is none."""
    return F.col(cluster) if cluster in df.columns else F.lit("")


def _relabel_per_group(
    df: DataFrame,
    by: Column,
    labels: Callable[[pd.DataFrame], np.ndarray],
    cluster: str,
) -> DataFrame:
    """Fit ``labels(pdf) -> int64 array`` once per ``by`` group inside
    applyInPandas, then ``_compose`` each row's label onto its prior
    cluster."""
    work = df.withColumn("__grp", F.coalesce(by.cast("string"), F.lit("")))
    schema = work.withColumn("__new", F.lit(0).cast("long")).schema

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["__new"] = labels(pdf)
        return pdf

    out = work.groupBy("__grp").applyInPandas(fit, schema=schema)
    return _compose(out, F.col("__new"), cluster=cluster).drop("__grp", "__new")


def time_slice(
    df: DataFrame,
    k: int | None = None,
    mdt: str = "memento_datetime",
    key: str = "urim",
    cluster: str = "cluster",
) -> DataFrame:
    """Sort by (memento-datetime, urim) and fill k slices of ceil(n/k)
    *consecutive* rows (reference
    /root/reference/hypercane/cluster/time_slice.py:58-102 — note this is a
    fixed fill count, NOT ntile: the last slice may be ragged or empty-ish).
    k defaults to the story-size heuristic on the row count.

    Global positions come from order.with_global_rank (range-partition +
    broadcast offsets) — the reference semantics needs a total order but
    NOT a single-partition window."""
    from hypercane_spark.operators.order import with_global_rank

    n = df.count()
    if k is None:
        k = story_size_k(n)
    if k <= 0:
        return _compose(df, F.lit(0))
    fill = math.ceil(n / k) if n else 1
    ranked = with_global_rank(
        df, [F.col(mdt).asc(), F.col(key).asc()], rank_col="__pos"
    )
    slice_id = F.floor((F.col("__pos") - 1) / fill)
    return _compose(ranked, slice_id).drop("__pos")


#: Above this many distinct dimension values the label table is no longer
#: force-broadcast — for ``original_resource`` the dim is the full URI-R,
#: whose cardinality can approach the row count (~1 memento per original),
#: and an unbounded broadcast is a driver/executor OOM at corpus scale.
BROADCAST_DIM_MAX = 1_000_000


def _dense_dim_labels(df: DataFrame, dim_col, cluster: str) -> DataFrame:
    """Dense 0-based label for a distinct dimension: ``select distinct dim →
    distributed exact rank over the dim → join back``. Equivalent to
    ``dense_rank() over (order by dim)`` but with no single-partition window
    — the full relation never moves to one task. The label table is
    broadcast only when its counted size is ≤ BROADCAST_DIM_MAX (the count
    is one tiny job over the already-localCheckpointed ranked dim); larger
    dims fall back to a shuffle join that AQE is free to re-plan."""
    from hypercane_spark.operators.order import with_global_rank

    work = df.withColumn("__dim", dim_col)
    dim = work.select("__dim").distinct()
    labels = with_global_rank(dim, [F.col("__dim").asc()], rank_col="__r").withColumn(
        "__lbl", F.col("__r") - 1
    ).drop("__r")
    if labels.count() <= BROADCAST_DIM_MAX:
        labels = F.broadcast(labels)
    joined = work.join(labels, on="__dim", how="left")
    return _compose(joined, F.col("__lbl"), cluster=cluster).drop("__dim", "__lbl")


def domainname(
    df: DataFrame, urir: str = "urir", cluster: str = "cluster"
) -> DataFrame:
    """Cluster id = dense index of the URI-R's host
    (reference /root/reference/hypercane/cluster/domain.py:6-77 assigns
    first-seen order; we use lexicographic dense ranking — deterministic
    under parallelism, same partition structure)."""
    return _dense_dim_labels(df, url_host(F.col(urir)), cluster)


def original_resource(
    df: DataFrame, urir: str = "urir", cluster: str = "cluster"
) -> DataFrame:
    """Cluster id = dense index of the exact URI-R (reference
    /root/reference/hypercane/cluster/original_resource.py:6-75)."""
    return _dense_dim_labels(df, F.col(urir), cluster)


# --------------------------------------------------------- per-group k-means

def _kmeans_1d(values: np.ndarray, k: int, seed: int = 42, iters: int = 50):
    """Deterministic 1-D k-means (k-means++ init with seeded RNG, Lloyd's).

    Replaces the reference's per-cluster sklearn KMeans on epoch timestamps
    (/root/reference/hypercane/cluster/kmeans.py:9-90). Labels are
    renumbered by ascending centroid so they're stable across runs."""
    n = len(values)
    k = min(k, n)
    if k <= 1:
        return np.zeros(n, dtype=np.int64)
    rng = np.random.RandomState(seed)
    # k-means++ seeding
    centers = [values[rng.randint(n)]]
    for _ in range(k - 1):
        d2 = np.min(
            np.stack([(values - c) ** 2 for c in centers]), axis=0
        ).astype(float)
        tot = d2.sum()
        if tot == 0:
            centers.append(values[rng.randint(n)])
            continue
        centers.append(values[np.searchsorted(np.cumsum(d2 / tot), rng.rand())])
    centers = np.array(centers, dtype=float)
    for _ in range(iters):
        labels = np.argmin(np.abs(values[:, None] - centers[None, :]), axis=1)
        new = np.array(
            [values[labels == i].mean() if (labels == i).any() else centers[i] for i in range(k)]
        )
        if np.allclose(new, centers):
            break
        centers = new
    labels = np.argmin(np.abs(values[:, None] - centers[None, :]), axis=1)
    # stable renumbering by centroid order
    order = np.argsort(centers)
    remap = np.empty(k, dtype=np.int64)
    remap[order] = np.arange(k)
    return remap[labels]


def kmeans_mdt(
    df: DataFrame,
    k: int | None = None,
    mdt: str = "memento_datetime",
    cluster: str = "cluster",
    seed: int = 42,
) -> DataFrame:
    """Per existing cluster: k-means over epoch timestamps (reference
    /root/reference/hypercane/cluster/kmeans.py:9-90; fit failures labeled
    99999 at :64-77 — our deterministic k-means cannot fail, so no sentinel).
    k defaults to ceil(sqrt(group size)) per the DSA2 pipeline
    (/root/reference/hypercane/packaged_algorithms/dsa2.halg:192-207)."""
    def labels(pdf: pd.DataFrame) -> np.ndarray:
        vals = (
            pd.to_datetime(pdf[mdt]).astype("int64") // 10**9
        ).to_numpy(dtype=float)
        kk = k if k is not None else math.ceil(math.sqrt(len(pdf)))
        return _kmeans_1d(vals, kk, seed=seed)

    return _relabel_per_group(df, _prior(df, cluster), labels, cluster)


# ---------------------------------------------------------- per-group DBSCAN

def _dbscan(dist: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    """Plain DBSCAN over a precomputed distance matrix; noise = -1.
    Deterministic: points visited in index order."""
    n = dist.shape[0]
    labels = np.full(n, -2, dtype=np.int64)  # -2 = unvisited
    cid = 0
    for i in range(n):
        if labels[i] != -2:
            continue
        neigh = np.where(dist[i] <= eps)[0]
        if len(neigh) < min_samples:
            labels[i] = -1
            continue
        labels[i] = cid
        queue = [j for j in neigh if j != i]
        while queue:
            j = queue.pop(0)
            if labels[j] == -1:
                labels[j] = cid
            if labels[j] != -2:
                continue
            labels[j] = cid
            jn = np.where(dist[j] <= eps)[0]
            if len(jn) >= min_samples:
                queue.extend(int(x) for x in jn if labels[x] == -2)
        cid += 1
    labels[labels == -2] = -1
    return labels


def dbscan_simhash(
    df: DataFrame,
    eps: float = 0.3,
    min_samples: int = 2,
    simhash: str = "raw_simhash",
    cluster: str = "cluster",
) -> DataFrame:
    """Per existing cluster: DBSCAN with metric hamming(a,b)/64 over 64-bit
    simhashes (reference /root/reference/hypercane/cluster/dbscan.py:44-117,
    metric :10-11 — the reference computes hamming over *strings* of the
    decimal digits; we use true bitwise hamming, the documented intent;
    eps defaults per /root/reference/hypercane/actions/cluster.py:74-111).
    Pairwise popcount is vectorized numpy (uint64 xor → bit_count)."""
    def labels(pdf: pd.DataFrame) -> np.ndarray:
        sh = pdf[simhash].to_numpy(dtype=np.int64).view(np.uint64)
        x = sh[:, None] ^ sh[None, :]
        # vectorized popcount via byte-table lookup
        bytes_ = x.view(np.uint8).reshape(len(sh), len(sh), 8)
        pop = np.unpackbits(bytes_, axis=2).sum(axis=2)
        dist = pop / 64.0
        return _dbscan(dist, eps, min_samples)

    return _relabel_per_group(df, _prior(df, cluster), labels, cluster)


def dbscan_mdt(
    df: DataFrame,
    eps: float | None = None,
    min_samples: int = 5,
    mdt: str = "memento_datetime",
    cluster: str = "cluster",
) -> DataFrame:
    """Per existing cluster: DBSCAN over z-scored epoch timestamps; eps
    estimated by the max-slope knee of sorted 2-NN distances when absent
    (reference /root/reference/hypercane/cluster/dbscan.py:119-201, knee
    :13-42)."""
    def labels(pdf: pd.DataFrame) -> np.ndarray:
        vals = (
            pd.to_datetime(pdf[mdt]).astype("int64") // 10**9
        ).to_numpy(dtype=float)
        std = vals.std()
        z = (vals - vals.mean()) / std if std > 0 else np.zeros_like(vals)
        dist = np.abs(z[:, None] - z[None, :])
        e = eps
        if e is None:
            # knee: sorted 2nd-NN distances, index of max slope; 0.5 when
            # there are too few points or the knee sits at distance 0
            e = 0.5
            if len(z) > 2:
                s = np.sort(np.sort(dist, axis=1)[:, 2])
                e = float(s[np.argmax(np.diff(s))]) or 0.5
        return _dbscan(dist, e, min_samples)

    return _relabel_per_group(df, _prior(df, cluster), labels, cluster)


# -------------------------------------------------------------- TF-IDF space

def _tfidf_matrix(texts: pd.Series) -> np.ndarray:
    """Small dense TF-IDF (ln-idf, l2-normalized) for per-group ML parity.
    At global scale use operators that keep TF-IDF sparse/distributed."""
    docs = [str(t).lower().split() for t in texts]
    vocab: dict[str, int] = {}
    for d in docs:
        for t in d:
            vocab.setdefault(t, len(vocab))
    tf = np.zeros((len(docs), len(vocab)), dtype=float)
    for i, d in enumerate(docs):
        for t in d:
            tf[i, vocab[t]] += 1
    df_ = (tf > 0).sum(axis=0)
    idf = np.log((1 + len(docs)) / (1 + df_)) + 1.0
    m = tf * idf
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


#: engine="auto" switches from the single-task pandas parity path to the
#: distributed ml path above this many input rows.
KMEANS_PANDAS_MAX_ROWS = 20_000


def kmeans_tfidf(
    df: DataFrame,
    k: int | None = None,
    text: str = "bpfree_text",
    cluster: str = "cluster",
    seed: int = 42,
    engine: str = "auto",
    num_features: int = 1 << 18,
) -> DataFrame:
    """Global TF-IDF k-means (reference fits ONE vectorizer+KMeans over all
    docs, /root/reference/hypercane/cluster/kmeans.py:92-159).

    Engines, flag-switched:

    - ``engine="auto"`` (default): counts the input once and picks
      "pandas" at or below KMEANS_PANDAS_MAX_ROWS rows, "ml" above — the
      parity path can never be handed a corpus-sized input by accident.
    - ``engine="pandas"`` (parity path): exact dense TF-IDF +
      deterministic Lloyd's in ONE pandas group — byte-stable labels for
      the reference-parity pipelines, but a single task; only for
      story-sized inputs.
    - ``engine="ml"`` (scale path): pyspark.ml HashingTF (sparse,
      ``num_features`` hashed dims) → IDF → distributed KMeans. No
      single-task stage; this is the 100 TB path. Labels are arbitrary ids
      (as the reference's sklearn labels are) — partition structure, not
      label values, is the contract (see
      tests/test_cluster_order_score.py::test_kmeans_tfidf_engines_agree).
    """
    if engine == "auto":
        engine = "pandas" if df.count() <= KMEANS_PANDAS_MAX_ROWS else "ml"
    if engine == "ml":
        return _kmeans_tfidf_ml(df, k, text, cluster, seed, num_features)

    def labels(pdf: pd.DataFrame) -> np.ndarray:
        m = _tfidf_matrix(pdf[text])
        kk = k if k is not None else math.ceil(math.sqrt(len(pdf)))
        kk = max(1, min(kk, len(pdf)))
        rng = np.random.RandomState(seed)
        idx = rng.choice(len(pdf), size=kk, replace=False)
        centers = m[idx]
        for _ in range(50):
            d = ((m[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            new = np.stack(
                [
                    m[assign == i].mean(axis=0) if (assign == i).any() else centers[i]
                    for i in range(kk)
                ]
            )
            if np.allclose(new, centers):
                break
            centers = new
        return assign.astype(np.int64)

    return _relabel_per_group(df, F.lit(""), labels, cluster)


def _kmeans_tfidf_ml(
    df: DataFrame,
    k: int | None,
    text: str,
    cluster: str,
    seed: int,
    num_features: int,
) -> DataFrame:
    """Distributed TF-IDF k-means: HashingTF keeps vectors sparse (no
    vocabulary broadcast), IDF is one aggregate over the corpus, and
    pyspark.ml KMeans iterates map-side partial sums — every stage
    partition-parallel."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import IDF, HashingTF

    n = df.count()
    if n == 0:
        return _compose(df, F.lit(0), cluster=cluster)
    kk = k if k is not None else math.ceil(math.sqrt(n))
    kk = max(1, min(kk, n))

    work = df.withColumn("__tokens", tokens_ws(text))
    tf = HashingTF(
        inputCol="__tokens", outputCol="__tf", numFeatures=num_features
    ).transform(work)
    idf = IDF(inputCol="__tf", outputCol="__features").fit(tf)
    feats = idf.transform(tf)
    km = KMeans(k=kk, seed=seed, featuresCol="__features", predictionCol="__new")
    labeled = km.fit(feats).transform(feats)
    out = _compose(labeled, F.col("__new").cast("long"), cluster=cluster)
    return out.drop("__tokens", "__tf", "__features", "__new")


def lda_topics(
    df: DataFrame,
    num_topics: int = 20,
    text: str = "bpfree_text",
    cluster: str = "cluster",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Topic label = argmax doc-topic weight from LDA over freq>1 tokens
    (reference gensim LDA, /root/reference/hypercane/cluster/lda.py:7-109;
    defaults topics=20 per args/cluster.py). Implemented with
    pyspark.ml.clustering.LDA (online VB) — the distributed-scale path; the
    reference's gensim is single-process."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer
    from pyspark.ml.functions import vector_to_array

    work = df.withColumn("__tokens", tokens_ws(text))
    cv = CountVectorizer(inputCol="__tokens", outputCol="__features", minDF=2.0)
    model = cv.fit(work)
    feats = model.transform(work)
    lda = LDA(
        k=num_topics, seed=seed, maxIter=max_iter, featuresCol="__features"
    )
    lm = lda.fit(feats)
    scored = lm.transform(feats)

    argmax = F.expr(
        "array_position(topicDistribution_arr, array_max(topicDistribution_arr)) - 1"
    )
    scored = scored.withColumn(
        "topicDistribution_arr", vector_to_array(F.col("topicDistribution"))
    ).withColumn("__new", argmax.cast("long"))
    out = _compose(scored, F.col("__new"), cluster=cluster)
    return out.drop(
        "__tokens", "__features", "topicDistribution", "topicDistribution_arr", "__new"
    )


def _lda_doc_topics(
    docs: list[list[int]],
    vocab_size: int,
    k: int,
    seed: int,
    iters: int = 30,
    alpha: float = 0.1,
    beta: float = 0.01,
) -> np.ndarray:
    """Deterministic collapsed-Gibbs LDA over integer-id token docs →
    doc-topic proportion matrix (len(docs) × k). Stands in for the
    reference's per-cluster gensim LdaModel (groups are story-sized; the
    corpus-scale topic path is pyspark.ml's online-VB LDA in lda_topics)."""
    rng = np.random.RandomState(seed)
    k = max(1, k)
    ndk = np.zeros((len(docs), k), dtype=np.float64)
    nkw = np.zeros((k, vocab_size), dtype=np.float64)
    nk = np.zeros(k, dtype=np.float64)
    z: list[np.ndarray] = []
    for d, words in enumerate(docs):
        zd = rng.randint(k, size=len(words))
        z.append(zd)
        for w, t in zip(words, zd):
            ndk[d, t] += 1
            nkw[t, w] += 1
            nk[t] += 1
    bv = beta * vocab_size
    for _ in range(iters):
        for d, words in enumerate(docs):
            zd = z[d]
            for i, w in enumerate(words):
                t = zd[i]
                ndk[d, t] -= 1
                nkw[t, w] -= 1
                nk[t] -= 1
                p = (ndk[d] + alpha) * (nkw[:, w] + beta) / (nk + bv)
                c = np.cumsum(p)
                t = int(np.searchsorted(c, rng.rand() * c[-1]))
                t = min(t, k - 1)
                zd[i] = t
                ndk[d, t] += 1
                nkw[t, w] += 1
                nk[t] += 1
    theta = ndk + alpha
    return theta / theta.sum(axis=1, keepdims=True)


def dbscan_lda(
    df: DataFrame,
    eps: float = 0.3,
    min_samples: int = 2,
    num_topics: int = 10,
    text: str = "bpfree_text",
    cluster: str = "cluster",
    seed: int = 42,
) -> DataFrame:
    """Per existing cluster: LDA doc-topic vectors → euclidean DBSCAN
    (reference /root/reference/hypercane/cluster/dbscan.py:311-459 —
    per-cluster gensim LdaModel(num_topics=10) doc-topic rows into
    DBSCAN(eps=0.3, min_samples=2); English stopwords dropped before the
    model, replicated here with the shared stopword list). Same per-group
    applyInPandas shape as the other parity clusterers: groups are bounded
    by the largest prior cluster and fit in parallel."""
    from hypercane_spark.functions.text import EN_STOPWORDS

    stop = set(EN_STOPWORDS)

    def labels(pdf: pd.DataFrame) -> np.ndarray:
        vocab: dict[str, int] = {}
        docs: list[list[int]] = []
        for t in pdf[text]:
            ids = []
            for tok in str(t).lower().split():
                if tok in stop:
                    continue
                ids.append(vocab.setdefault(tok, len(vocab)))
            docs.append(ids)
        if not vocab:
            return np.full(len(pdf), -1, dtype=np.int64)
        theta = _lda_doc_topics(docs, len(vocab), num_topics, seed=seed)
        d2 = ((theta[:, None, :] - theta[None, :, :]) ** 2).sum(axis=2)
        dist = np.sqrt(np.maximum(d2, 0.0))
        return _dbscan(dist, eps, min_samples)

    return _relabel_per_group(df, _prior(df, cluster), labels, cluster)


def dbscan_tfidf(
    df: DataFrame,
    eps: float = 1.3,
    min_samples: int = 2,
    text: str = "bpfree_text",
    cluster: str = "cluster",
) -> DataFrame:
    """Per existing cluster: DBSCAN over dense TF-IDF rows with euclidean
    distance (reference /root/reference/hypercane/cluster/dbscan.py:203-309;
    DSA3 uses eps=1.3 — packaged_algorithms/dsa3.halg). Noise rows get
    label -1, which DSA3 then drops.

    Per-group applyInPandas like the other parity clusterers: the distance
    matrix is O(group²), bounded by the largest prior cluster, and groups
    fit in parallel. The global-scale alternative is LSH-bucketed density
    clustering over sparse vectors."""
    def labels(pdf: pd.DataFrame) -> np.ndarray:
        m = _tfidf_matrix(pdf[text])
        d2 = ((m[:, None, :] - m[None, :, :]) ** 2).sum(axis=2)
        dist = np.sqrt(np.maximum(d2, 0.0))
        return _dbscan(dist, eps, min_samples)

    return _relabel_per_group(df, _prior(df, cluster), labels, cluster)

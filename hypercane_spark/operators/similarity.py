"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force top-k vs a query vector. The dot product is
  a JVM-side higher-order ``zip_with``+``aggregate`` (no Python); the top-k
  is TakeOrderedAndProject (per-partition heap, no global sort).
- ``lsh_bucket_topk``: the scale path — random-hyperplane LSH signs bucket
  the corpus; only the query's bucket (and its Hamming-1 neighbors) is
  scanned. At 100 TB the bucketed table is written partitioned by bucket so
  a query prunes to a handful of files.
- ``embedding_near_dups``: cosine near-duplicate pairs via the same LSH
  buckets.
- ``ivf_topk``: the IVF scale path — a coarse quantizer (seed vectors,
  pyspark.ml KMeans, or caller-supplied centers) assigns each vector to a
  cell; queries probe only the nearest n_probe cells.

Hyperplanes are generated from a seed on the driver (tiny: d×bits floats)
and broadcast as literals inside the expression, so the plan stays fully
declarative.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    na, nb = _norm(a), _norm(b)
    return F.when((na > 0) & (nb > 0), _dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec: str = "embedding",
    key: str = "vec_id",
    score_col: str = "cosine",
) -> DataFrame:
    """Brute-force cosine top-k vs a literal query vector.

    Baseline/exact path: one scan, no shuffle (top-k is a per-partition heap
    + driver merge of k·P rows)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    out = df.select(
        F.col(key), F.round(cosine(F.col(vec), q), 6).alias(score_col)
    )
    return out.orderBy(F.col(score_col).desc(), F.col(key).asc()).limit(k)


def _hyperplanes(dim: int, bits: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim)


def lsh_bucket(
    vec: Column, planes: np.ndarray
) -> Column:
    """Random-hyperplane LSH bucket id (int): bit i = sign(vec · plane_i)."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        q = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(vec, q) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def lsh_bucket_hash(vec: Column, bits: int, seed: int) -> Column:
    """Random-hyperplane LSH bucket id with the hyperplane weights generated
    INSIDE the expression from (seed, bit, element index) — a deterministic
    symmetric pseudo-random w(b,i) = frac(sin(a·i + c))·2 − 1 in [−1, 1].

    Sign-LSH only requires the weight distribution to be symmetric about 0,
    so this is as valid a hyperplane family as driver-side gaussians — and
    it needs NO embedding width at plan time: the per-element weight is
    computed from the element's index by ``transform``'s (value, index)
    lambda, so the plan works for any array length with zero driver
    actions. Used by ``embedding_near_dups`` when ``dim`` is not given."""
    bucket = F.lit(0).cast("long")
    for b in range(bits):
        phase = float(seed) * 12.9898 + float(b) * 78.233
        proj = F.aggregate(
            F.transform(
                vec,
                lambda x, i: x.cast("double")
                * (
                    (
                        lambda t: (t - F.floor(t)) * 2.0 - 1.0
                    )(
                        F.sin(i.cast("double") * 37.719 + F.lit(phase))
                        * 43758.5453
                    )
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def lsh_bucket_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec: str = "embedding",
    key: str = "vec_id",
    bits: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
    score_col: str = "cosine",
) -> DataFrame:
    """Approximate top-k: scan only the query's LSH bucket (+ neighbors
    within probe_hamming bit flips). Recall improves with probes; cost is
    (probed buckets / 2^bits) of the corpus."""
    planes = _hyperplanes(len(query), bits, seed)
    qsigns = (planes @ np.asarray(query)) > 0
    qbucket = sum(1 << i for i, s in enumerate(qsigns) if s)
    probes = {qbucket}
    if probe_hamming >= 1:
        for i in range(bits):
            probes.add(qbucket ^ (1 << i))
    work = df.withColumn("__b", lsh_bucket(F.col(vec), planes)).where(
        F.col("__b").isin(*[int(p) for p in probes])
    )
    return cosine_topk(work, query, k=k, vec=vec, key=key, score_col=score_col)


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    vec: str = "embedding",
    key: str = "vec_id",
    bits: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs (key_a < key_b, cosine ≥ threshold) found
    inside shared LSH buckets — O(rows·avg_bucket) not O(rows²).

    Fully declarative in BOTH modes — plain ``array<float>`` schemas don't
    carry a length, so when ``dim`` is omitted the bucket is computed by
    ``lsh_bucket_hash`` (hyperplane weights generated inside the expression
    from the element index: works for any width, zero driver actions).
    Passing ``dim`` selects the legacy driver-generated gaussian planes
    (bit-compatible with earlier releases and with ``lsh_bucket_topk``'s
    query-side numpy bucketing). Bucket families differ, but both are valid
    sign-LSH: every returned pair is threshold-verified either way.

    Behaviour change for ``dim=None`` callers: earlier releases bucketed
    with gaussian planes on this path too; it now uses the sin-hash
    weights, which are uniform in [−1, 1] rather than gaussian. Sign
    validity only needs symmetry, but the exact 1 − θ/π collision
    probability of gaussian planes does not hold, so which near-dup pairs
    share a bucket (recall) can differ between the two families for the
    same input. Pass ``dim`` to keep the gaussian-plane result."""
    if dim is None:
        bucket = lsh_bucket_hash(F.col("v"), bits, seed)
    else:
        bucket = lsh_bucket(F.col("v"), _hyperplanes(dim, bits, seed))
    work = df.select(
        F.col(key).alias("k"), F.col(vec).alias("v")
    ).withColumn("__b", bucket)
    a, b = work.alias("a"), work.alias("b")
    return (
        a.join(b, on="__b")
        .where(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias(f"{key}_a"),
            F.col("b.k").alias(f"{key}_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def fit_ivf_centroids(
    df: DataFrame,
    n_cells: int = 16,
    vec: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """Train IVF cell centers ONCE (pyspark.ml KMeans) and return them in
    the ``centroids`` shape ``ivf_topk`` accepts — the train-once path for
    repeated queries: fit here, then pass the result to every
    ``ivf_topk(..., centroids=cents)`` call so no query refits."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    work = df.select(array_to_vector(F.col(vec)).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(work)
    return [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]


def _sqdist(vec: Column, center: list[float]) -> Column:
    c = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(
            vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec: str = "embedding",
    key: str = "vec_id",
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: list[tuple[int, list[float]]] | str = "seed",
    score_col: str = "cosine",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    every vector to its nearest of ``n_cells`` centroids; a query scans
    only the ``n_probe`` cells whose centroids are nearest to it —
    n_probe/n_cells of the corpus, the standard ANN scale path alongside
    LSH (``lsh_bucket_topk``).

    ``centroids``:
    - ``"seed"`` (default, oracle-exact): the ``n_cells`` corpus vectors
      with the lowest keys — fully relational (the DuckDB oracle derives
      the same cells), deterministic under any partitioning.
    - ``"ml"``: pyspark.ml KMeans(seed=42) trained cell centers — better
      cells for production; excluded from the SQL oracle because k-means||
      init depends on data partitioning. NOTE: "ml" fits INSIDE this call
      — a one-shot convenience. For repeated queries train once with
      ``fit_ivf_centroids`` and pass the result as ``centroids`` so no
      query pays the fit.
    - an explicit ``[(cell_id, center_vec), …]`` list (from
      ``fit_ivf_centroids`` or any prior training job).

    Scale shape: assignment is a pure column expression (n_cells literal
    dot products per row — broadcast-as-literals like the LSH
    hyperplanes); at rest the assigned table is written partitioned by
    ``cell`` so a query prunes to n_probe directories; the probe filter +
    cosine top-k is a TakeOrderedAndProject scan with no shuffle. The only
    driver action is collecting n_cells centroid rows (a scalar
    round-trip re-entered as literals — the repo's documented pattern)."""
    if centroids == "seed":
        rows = (
            df.select(key, vec).orderBy(F.col(key).asc()).limit(n_cells).collect()
        )
        cents = [(int(r[key]), [float(x) for x in r[vec]]) for r in rows]
    elif centroids == "ml":
        cents = fit_ivf_centroids(df, n_cells=n_cells, vec=vec)
    else:
        cents = [(int(i), [float(x) for x in c]) for i, c in centroids]

    dists = F.array(
        *[
            F.struct(
                _sqdist(F.col(vec), c).alias("d"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, c in cents
        ]
    )
    assigned = df.withColumn("__cell", F.array_min(dists)["cid"])

    qv = np.asarray(query, dtype=np.float64)
    order = sorted(
        cents, key=lambda c: (float(np.sum((np.asarray(c[1]) - qv) ** 2)), c[0])
    )
    probe_ids = [cid for cid, _ in order[:n_probe]]
    cand = assigned.where(F.col("__cell").isin(probe_ids)).drop("__cell")
    return cosine_topk(cand, query, k=k, vec=vec, key=key, score_col=score_col)

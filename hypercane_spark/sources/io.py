"""Sources and sinks.

The reference's I/O surface (/root/reference/hypercane/utils.py:697-811 TSV
reader/writer; /root/reference/hypercane/identify/__init__.py:692-739 input
dispatcher) re-expressed for a lake: parquet/Iceberg-style tables are the
canonical form, TSV/ORS kept for byte-parity with reference pipelines.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hypercane_spark.functions.urls import surt_key


def with_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition iff the plan has fewer partitions than the cluster's
    default parallelism. A small single-file input otherwise pins every
    downstream narrow (map-side) transformation — e.g. a per-row md5/simhash
    expression tree — to ONE task no matter how many cores exist. At real
    scale the scan already yields ≥ parallelism splits and this is a no-op,
    so compute-heavy operators can call it unconditionally."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_tsv_resource(
    spark: SparkSession, path: str, key_field: str = "URI-M"
) -> DataFrame:
    """Read the reference's TSV resource format (header row, first column is
    the key; headerless single-column URI lists also accepted) and append a
    ``seq`` input-order ordinal — the dict-insertion-order the reference's
    samplers depend on (/root/reference/hypercane/utils.py:697-763)."""
    df = spark.read.option("sep", "\t").option("header", True).csv(path)
    if key_field not in df.columns:
        df = (
            spark.read.text(path)
            .withColumnRenamed("value", key_field)
            .where(F.length(key_field) > 0)
        )
    # zipWithIndex preserves file order; monotonically_increasing_id does not
    # guarantee density but does guarantee per-file ordering for a single
    # input split — for multi-file inputs we sort by (file, offset).
    df = df.withColumn("__file", F.input_file_name())
    rdd = df.rdd.zipWithIndex()
    out = rdd.map(lambda t: (*t[0], t[1])).toDF(df.columns + ["seq"])
    return out.drop("__file")


#: Typed column → reference ORS header names (the exact strings the
#: reference's DictWriter emits, save_resource_data
#: /root/reference/hypercane/utils.py:765-811 + per-scorer ``Score---*``
#: keys, e.g. dsa1_score.py:597, card_score.py:79,
#: distance_from_centroid.py:74, document_size.py:28-68, bm25 'Score---BM25').
REFERENCE_ORS_HEADER = {
    "urim": "URI-M",
    "urit": "URI-T",
    "urir": "URI-R",
    "cluster": "Cluster",
    "dsa1_score": "Score---DSA1-Score",
    "dsa2_score": "Score---DSA2-Score",
    "bm25_score": "Score---BM25",
    "card_score": "Score---Card-Score",
    "path_depth": "Score---PathDepth",
    "url_category_score": "Score---URLCategoryScore",
    "image_count": "Score---ImageCount",
    "centroid_distance": "Score---KMeans-Cluster-Centroid",
    "bpfree_len": "Score---BoilerplateFreeCharacterSize",
    "char_size": "Score---CharacterSize",
    "word_size": "Score---WordSize",
    "sentence_size": "Score---SentenceSize",
    "byte_size": "Score---ByteSize",
}


def write_ors(
    df: DataFrame,
    path: str,
    order_col: str = "rank",
    reference_header: bool = False,
    header_map: dict[str, str] | None = None,
) -> None:
    """ORS/TSV sink: the output *order is the contract*
    (/root/reference/hypercane/utils.py:765-811 writes rows in sampled
    order). Rows are sorted by the rank column and written as one TSV part
    (samples are small by construction — they are the story output, not the
    corpus).

    ``reference_header=True`` renames columns to the reference's exact
    DictWriter field names (``URI-M``/``Cluster``/``Score---*`` — see
    REFERENCE_ORS_HEADER) so reference-consuming tooling parses the file
    byte-for-byte; ``header_map`` adds/overrides mappings. Unmapped columns
    keep their typed names."""
    cols = [c for c in df.columns if not c.startswith("__")]
    ordered = df.orderBy(F.col(order_col).asc()).select(*cols)
    rows = ordered.collect()
    names = cols
    if reference_header:
        mapping = dict(REFERENCE_ORS_HEADER)
        if header_map:
            mapping.update(header_map)
        names = [mapping.get(c, c) for c in cols]
        # the reference writes the key column first (fieldnames = [type_key,
        # …]); keep URI-M leading if present
        for key in ("URI-M", "URI-T", "URI-R"):
            if key in names:
                order = [names.index(key)] + [
                    i for i in range(len(names)) if names[i] != key
                ]
                names = [names[i] for i in order]
                rows = [tuple(r[i] for i in order) for r in rows]
                break
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        f.write("\t".join(names) + "\n")
        for r in rows:
            f.write("\t".join("" if v is None else str(v) for v in r) + "\n")


#: The tables of a testdata sf directory.
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# absolute path → ((st_mtime_ns, st_size), DataFrame), for one session at
# a time. Each spark.read.parquet runs a schema-inference job (~0.13 s warm
# at sf0.01, where a read with a known schema costs ~0.02 s), so a file is
# read once and read again only when its stat stamp changes. A lookup from
# another session drops every entry, so no earlier session is kept alive.
_READS: dict[str, tuple[tuple[int, int], DataFrame]] = {}


def _read_cached(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reused while the file's mtime and size
    stay the same: a repeated read runs no inference job, a rewritten file
    is read again. DataFrames are immutable, so sharing one is safe."""
    held = next(iter(_READS.values()), None)
    if held is not None and held[1].sparkSession is not spark:
        _READS.clear()
    path = os.path.abspath(path)
    st = os.stat(path)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _READS.get(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    df = spark.read.parquet(path)
    _READS[path] = (stamp, df)
    return df


class _Tables(Mapping[str, DataFrame]):
    """Read-only name → DataFrame view of the tables present in a
    directory; a table is read the first time it is looked up."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._paths = {}
        for n in TABLES:
            p = os.path.join(sf_dir, f"{n}.parquet")
            if os.path.exists(p):
                self._paths[n] = p

    def __getitem__(self, name: str) -> DataFrame:
        return _read_cached(self._spark, self._paths[name])

    def __contains__(self, name: object) -> bool:
        return name in self._paths

    def __iter__(self) -> Iterator[str]:
        return iter(self._paths)

    def __len__(self) -> int:
        return len(self._paths)


def load_tables(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """The parquet tables of a testdata sf directory, read lazily: only the
    tables a caller looks up are read, each once per file version (see
    ``_read_cached``)."""
    return _Tables(spark, sf_dir)


def faux_timemaps(
    mementos: DataFrame,
    urir: str = "urir",
    urim: str = "urim",
    mdt: str = "memento_datetime",
) -> DataFrame:
    """Synthesize TimeMaps by grouping mementos on the SURT-canonicalized
    URI-R (reference generate_faux_urit,
    /root/reference/hypercane/identify/__init__.py:741-764 +
    get_faux_TimeMap_json /root/reference/hypercane/utils.py:870-986):
    one aggregation, memento arrays sorted by datetime (document order)."""
    return (
        mementos.groupBy(surt_key(F.col(urir)).alias("surt_urir"))
        .agg(
            F.first(F.col(urir)).alias("urir"),
            F.sort_array(
                F.collect_list(F.struct(F.col(mdt).alias("datetime"), F.col(urim).alias("urim")))
            ).alias("mementos"),
        )
        .withColumn("urit", F.concat(F.lit("faux-timemap://"), F.col("surt_urir")))
        .withColumn("n_mementos", F.size("mementos"))
        .withColumn("first_mdt", F.col("mementos")[0]["datetime"])
        .withColumn("last_mdt", F.element_at(F.col("mementos"), -1)["datetime"])
    )


def explode_timemaps(timemaps: DataFrame) -> DataFrame:
    """timemaps (urit, urir, mementos array<struct>) → flat memento rows,
    keeping the in-TimeMap ordinal (the parity ordering contract,
    /root/reference/hypercane/identify/__init__.py:57-64)."""
    return timemaps.select(
        "urit",
        "urir",
        F.posexplode("mementos").alias("tm_pos", "m"),
    ).select(
        "urit", "urir", "tm_pos",
        F.col("m.datetime").alias("memento_datetime"),
        F.col("m.urim").alias("urim"),
    )


def combine(dfs: list[DataFrame]) -> DataFrame:
    """Union n resource tables; header = union of fields, missing → null
    (reference combine, /root/reference/hypercane/actions/synthesize.py:7-77;
    duplicate keys are concatenated, not deduped — same here)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out

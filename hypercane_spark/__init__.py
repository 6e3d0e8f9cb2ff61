"""hypercane_spark — a from-scratch PySpark-native rebuild of the
query/data-processing capabilities of oduwsdl/hypercane.

The reference (/root/reference) is a single-process CLI dataflow toolkit
(``hc <action> <method>``) over TSV files + a MongoDB memo cache. This
package re-expresses its operator *semantics* — identify / filter /
cluster / score / order / sample — as declarative DataFrame stages, and
replaces its sequential Scrapy TimeMap walk with a DataFrame-driven crawl
frontier (partitioned priority queue, per-host politeness buckets,
robots gating, exact anti-join URL-seen dedup, checkpoint/resume).

Everything is built Spark-first: built-in ``pyspark.sql.functions``
column expressions wherever possible (even simhash is pure JVM-side
higher-order functions), Arrow-batched pandas UDFs only where semantics
are genuinely order-dependent or need numpy (near-duplicate scan,
k-means/DBSCAN parity clusterers, image decode).
"""

__version__ = "0.1.0"

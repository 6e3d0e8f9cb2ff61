"""``queries`` workload: registry queries over the vendored sf0.01 tables.

One query per operator family plus one packaged pipeline, run through the
public ``entry_queries.REGISTRY``. The seed permutes the query order (the
tables are fixed read-only test data).

Set-up: one pass that collects every query and compares it with its DuckDB
oracle — row count, column names and the order-insensitive value hash of
tools/check_oracle.py. That pass is also the JIT / code-generation warm-up,
the tables' first (cold) read included. Measured: whole passes in the seeded order, each query
forced through the noop sink, as many as fit in the run's seconds (at
least one).

Timings are CPU seconds of the whole process tree (see procs.py); wall
times go to the details.
"""

from __future__ import annotations

import os
import random
import sys
import time
from collections import defaultdict

from procs import Stopwatch, tree_cpu_s
from result import Result, another_fits, median, p90

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
# every table of the sf0.01 test data (tools/check_oracle.py's list):
# load_tables reads each present table on every call, so the layout matters
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

QUERIES = (
    "sample_stratified_random_det",
    "filter_highest_score_per_cluster",
    "score_bm25",
    "dedup_exact",
    "text_quality",
    "mm_decode_stats",
    "pipeline_simple_search_engine",
)


def family(name: str) -> str:
    """Per-layer metric a query's wall time is booked to."""
    prefix = name.split("_", 1)[0]
    return "plans.pipeline.wall_s" if prefix == "pipeline" else f"operators.{prefix}.wall_s"


class QueriesWorkload:
    def __init__(self, spark, seed: int, seconds: float, cores: int, work: str):
        from hypercane_spark.entry_queries import REGISTRY

        self.spark = spark
        self.seconds = seconds
        self.registry = REGISTRY
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)

    # ------------------------------------------------------------ set-up

    def _oracle(self):
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(DATA, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def _check_pass(self, res: Result) -> float:
        """Collect every query once and compare it with DuckDB; returns the
        Spark wall time of the pass (the warm-up)."""
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import value_hash

        con = self._oracle()
        spark_s = 0.0
        for name in self.order:
            fn, sql = self.registry[name]
            t0 = time.perf_counter()
            df = fn(self.spark, DATA)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            spark_s += time.perf_counter() - t0
            got = (len(rows), sorted(cols), value_hash(cols, rows))
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            want = (len(orows), sorted(ocols), value_hash(ocols, orows))
            res.check(got == want, f"{name}: spark {got} != duckdb {want}")
        con.close()
        return spark_s

    # ------------------------------------------------------------ measured

    def _execute(self, name: str) -> float:
        fn, _ = self.registry[name]
        t0 = time.perf_counter()
        fn(self.spark, DATA).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _pass(self, res: Result, times: dict[str, list[float]], tracer=None) -> float:
        t0 = time.perf_counter()
        for name in self.order:
            if tracer is None:
                times[name].append(self._execute(name))
            else:
                with tracer.span(f"q:{name}"):
                    times[name].append(self._execute(name))
            res.check(True, name)
        return time.perf_counter() - t0

    def run(self, tracer=None) -> Result:
        res = Result(details={"order": self.order, "data": "sf0.01"})
        warm_s = self._check_pass(res)
        res.setup_s = tree_cpu_s()  # everything since the process started
        res.details["setup"] = {"warmup_s": warm_s}
        if tracer is not None:
            return self._traced(res, tracer)

        times: dict[str, list[float]] = defaultdict(list)
        passes: list[Stopwatch] = []
        t0 = time.perf_counter()
        while not passes or another_fits(t0, len(passes), self.seconds):
            with Stopwatch() as sw:
                self._pass(res, times)
            passes.append(sw)
        cpu_s = median([sw.cpu_s for sw in passes])
        samples = [x for xs in times.values() for x in xs]
        res.e2e = {"cpu_s": cpu_s, "items_per_cpu_s": len(self.order) / cpu_s}
        res.details["passes"] = len(passes)
        res.details["pass_wall_s"] = [sw.wall_s for sw in passes]
        res.details["pass_cpu_s"] = [sw.cpu_s for sw in passes]
        res.details["query_p50_s"] = median(samples)
        res.details["query_p90_s"] = p90(samples)
        res.details["query_samples"] = len(samples)
        res.details["query_median_s"] = {k: median(v) for k, v in times.items()}
        return res

    def _traced(self, res: Result, tracer) -> Result:
        """The measured pass traced (per-query spans), at the same point
        after set-up as the untraced runs measure theirs; then the same pass
        untraced, and a traced scan of every source table. Passes still
        speed up as the JIT matures, so the later untraced pass makes the
        overhead read high rather than low."""
        from hypercane_spark.sources.io import load_tables

        times: dict[str, list[float]] = defaultdict(list)
        with Stopwatch() as traced:
            self._pass(res, times, tracer)
        with Stopwatch() as untraced:
            self._pass(res, defaultdict(list))
        layers: dict[str, float] = defaultdict(float)
        for name, xs in times.items():
            layers[family(name)] += xs[0]
        with tracer.span("sources"):
            for df in load_tables(self.spark, DATA).values():
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                layers["sources.scan_s"] += time.perf_counter() - t0
                layers["sources.partitions"] += df.rdd.getNumPartitions()
        layers["trace.traced_cpu_s"] = traced.cpu_s
        layers["trace.overhead_cpu_s"] = traced.cpu_s - untraced.cpu_s
        res.layers = dict(layers)
        res.details["traced_wall_s"] = traced.wall_s
        res.details["untraced_wall_s"] = untraced.wall_s
        return res

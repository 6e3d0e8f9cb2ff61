"""Local stand-in for the driver's correctness gate: run every registry
query on Spark AND its DuckDB oracle at sf0.01, compare row count, schema
(column names), and an order-insensitive value hash.

After the PASS/FAIL lines it prints each query's Spark wall time (query
build plus collect, in registry order) and their total, so a rise in the
driver's fixed cost per query shows without a benchmark run.

Usage: python tools/check_oracle.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def _norm(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    from hypercane_spark.entry_queries import REGISTRY
    from hypercane_spark.session import get_spark
    from hypercane_spark.sources.io import TABLES

    spark = get_spark("oracle-check", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_pass = n_fail = n_rows_only = 0
    spark_s: dict[str, float] = {}
    import re

    for name, (fn, sql) in REGISTRY.items():
        if name_filter and not re.search(name_filter, name):
            continue
        try:
            t0 = time.perf_counter()
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            spark_s[name] = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            n_fail += 1
            continue
        if sql is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            n_rows_only += 1
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if not problems:
            hs, ho = value_hash(scols, srows), value_hash(ocols, orows)
            if hs != ho:
                problems.append(f"value-hash {hs} vs {ho}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            if "value-hash" in problems[-1]:
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ss = sorted("|".join(_norm(r[i]) for i in order_s) for r in srows)
                oo = sorted("|".join(_norm(r[i]) for i in order_o) for r in orows)
                diff = [(a, b) for a, b in zip(ss, oo) if a != b][:3]
                for a, b in diff:
                    print(f"        spark: {a[:160]}")
                    print(f"        duck : {b[:160]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows")
            n_pass += 1
    print("\nspark wall s (build + collect):")
    for name, secs in spark_s.items():
        print(f"  {secs:7.3f}  {name}")
    print(f"  {sum(spark_s.values()):7.3f}  total over {len(spark_s)} queries")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

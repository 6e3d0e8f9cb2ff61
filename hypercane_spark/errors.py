"""Error-store semantics: record and skip, never abort.

The reference records every fetch/measure failure as ``(uri, traceback)``
in a Mongo collection and DROPS the row — the job always continues
(/root/reference/hypercane/errors.py:5-38, used via hyperr.record at every
network/measure call site). SURVEY §1.3 maps this to an errors table + LEFT
ANTI join. The Spark shape here:

- ``ErrorStore``   — an append-only parquet errors table
  ``(uri, stage, traceback, ts)`` (Iceberg append at scale);
  ``exclude`` LEFT-ANTI-joins recorded uris out of any DataFrame.
- ``map_rows_skip_errors`` — wraps a per-row Python transformation
  (the only place row-level failures exist; declarative Catalyst stages
  fail per-plan, not per-row) in an Arrow-batched mapInPandas whose body
  try/excepts EACH row: survivors emit output columns, failures emit the
  traceback in a ``__err_tb`` column.
- ``run_stage``    — the packaged form: apply, localCheckpoint (one compute
  feeds both splits), record failures to the store, return survivors.

The multimodal decode measure plugs into this (``decode_stats(store=…)``).
The crawl keeps its fetch errors in each round's checkpointed fetched rows;
``RoundCheckpoint.read_errors`` returns them in ``ERRORS_SCHEMA`` shape.
"""

from __future__ import annotations

import traceback as _tb
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ERRORS_SCHEMA = "uri string, stage string, traceback string, ts timestamp"


class ErrorStore:
    """Append-only errors table; one directory, any number of appends."""

    def __init__(self, path: str):
        self.path = path

    def record(self, errs: DataFrame) -> None:
        """Append ``(uri, stage, traceback)`` rows (ts stamped here)."""
        (
            errs.select("uri", "stage", "traceback")
            .withColumn("ts", F.current_timestamp())
            .write.mode("append")
            .parquet(self.path)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        # Only a missing store reads as empty. A corrupt/unreadable store
        # must PROPAGATE — swallowing it would make exclude() silently stop
        # filtering previously-failed URIs and mask real IO failures.
        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(self.path)
        except AnalysisException as e:
            # Prefer the structured error class (stable across Spark
            # versions/locales); fall back to message substrings for older
            # Sparks whose exceptions predate getCondition/getErrorClass.
            cond = None
            for probe in ("getCondition", "getErrorClass"):
                fn = getattr(e, probe, None)
                if callable(fn):
                    try:
                        cond = fn()
                    except Exception:
                        cond = None
                    if cond:
                        break
            msg = str(e)
            if (cond or "").startswith("PATH_NOT_FOUND") or (
                cond is None
                and ("PATH_NOT_FOUND" in msg or "Path does not exist" in msg)
            ):
                return spark.createDataFrame([], ERRORS_SCHEMA)
            raise

    def exclude(self, df: DataFrame, key: str = "urim") -> DataFrame:
        """Drop rows whose key was ever recorded as errored (the reference's
        'skip previously-failed URIs' read path)."""
        errs = self.read(df.sparkSession).select(F.col("uri").alias(key)).distinct()
        return df.join(errs, on=key, how="left_anti")


def map_rows_skip_errors(
    df: DataFrame,
    row_fn: Callable[[dict], dict],
    out_cols: "list[tuple[str, str]]",
    stage: str,
    key: str = "urim",
    input_cols: "list[str] | None" = None,
) -> DataFrame:
    """Apply ``row_fn(row_dict) -> {out_col: value}`` per row, capturing
    per-row exceptions instead of aborting the job.

    Returns the annotated DataFrame: ``key`` + ``out_cols`` (null on
    failure) + ``__err_tb`` (null on success). ``out_cols`` is a list of
    (name, spark_type_ddl). Split with ``split_errors`` or use ``run_stage``.
    """
    in_cols = input_cols or df.columns
    out_schema = f"{key} string, " + ", ".join(
        f"{n} {t}" for n, t in out_cols
    ) + ", __err_tb string"
    names = [n for n, _ in out_cols]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                base = {key: rec[key]}
                try:
                    out = row_fn(rec)
                    rows.append(
                        {**base, **{n: out.get(n) for n in names}, "__err_tb": None}
                    )
                except Exception:
                    rows.append(
                        {
                            **base,
                            **{n: None for n in names},
                            "__err_tb": _tb.format_exc(),
                        }
                    )
            yield pd.DataFrame(rows, columns=[key, *names, "__err_tb"])

    cols = [key] + [c for c in in_cols if c != key]
    return df.select(*cols).mapInPandas(batches, schema=out_schema)


def split_errors(
    annotated: DataFrame, stage: str, key: str = "urim", err_col: str = "__err_tb"
) -> tuple[DataFrame, DataFrame]:
    """→ (ok_rows_without_err_col, error_rows_in_ERRORS_SCHEMA_shape)."""
    ok = annotated.where(F.col(err_col).isNull()).drop(err_col)
    errs = annotated.where(F.col(err_col).isNotNull()).select(
        F.col(key).cast("string").alias("uri"),
        F.lit(stage).alias("stage"),
        F.col(err_col).alias("traceback"),
    )
    return ok, errs


def run_stage(
    df: DataFrame,
    row_fn: Callable[[dict], dict],
    out_cols: "list[tuple[str, str]]",
    stage: str,
    store: ErrorStore | None = None,
    key: str = "urim",
    input_cols: "list[str] | None" = None,
) -> DataFrame:
    """Apply a failable per-row measure; failures land in the store, the
    pipeline continues with the survivors (never aborts). The annotated
    intermediate is localCheckpoint()ed so the UDF runs once for both the
    survivor and the error split."""
    annotated = map_rows_skip_errors(
        df, row_fn, out_cols, stage, key=key, input_cols=input_cols
    ).localCheckpoint()
    ok, errs = split_errors(annotated, stage, key=key)
    if store is not None:
        store.record(errs)
    return ok

"""ParquetStateStore: the physical-storage seam for the engine's durable state.

``RoundCheckpoint`` and the sharded bloom filter route every physical
read, write, list and publish of crawl state through one store object, so
storage can be wrapped without touching engine code — the tests wrap it to
count calls and to inject faults at a chosen write. The state itself is
append-only delta tables per round, periodic compaction, and a manifest
written last as the round's commit marker; this binding realizes them as
parquet directories with rename-based commits.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class ParquetStateStore:
    """Parquet dirs + POSIX rename commits. Paths are table directories.

    Single-writer guarantees: overwrite lands under ``_temporary`` then
    renames, ``publish`` is ``os.replace`` (atomic on one filesystem), and
    the manifest is written tmp-then-rename so a torn write never reads as
    a complete round."""

    def write_table(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    def read_table(self, spark: SparkSession, *paths: str) -> DataFrame:
        return spark.read.parquet(*paths)

    def table_exists(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_children(self, base: str) -> list[str]:
        return os.listdir(base) if os.path.isdir(base) else []

    def ensure_base(self, base: str) -> None:
        os.makedirs(base, exist_ok=True)

    def remove_table(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def publish(self, tmp_path: str, final_path: str) -> None:
        if os.path.isdir(final_path):
            shutil.rmtree(final_path)
        os.replace(tmp_path, final_path)

    def put_manifest(self, path: str, data: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f)
        os.replace(tmp, path)

    def manifest_exists(self, path: str) -> bool:
        return os.path.exists(path)


DEFAULT_STORE = ParquetStateStore()

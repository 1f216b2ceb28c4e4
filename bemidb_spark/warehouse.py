"""Warehouse ingest: rewrite source tables into a scan-optimized layout.

This is the Spark-first analog of the reference's sync/storage layer: its
syncers never query source files directly — they rewrite everything into
~100 MB ZSTD parquet files with per-column min/max stats so the engine can
prune and parallelize scans (reference src/common/iceberg_table_writer.go:14-17
MAX_PARQUET_FILE_SIZE, src/common/storage_utils.go:93-160 stats collection).

Here the same idea, expressed with the Spark writer:

- **Multiple files per table** sized by row count (the local stand-in for the
  100 MB byte target — at cluster scale switch ``TARGET_ROWS`` for Iceberg's
  ``write.target-file-size-bytes``). A single-file table serializes every scan
  onto one task; N files → N-way parallel scans.
- **Range-partition + sort on the dominant filter/cluster key** (shipdate for
  lineitem, orderdate for orders, ts for events). Each file then covers a
  narrow key range, so parquet footer min/max stats let pushed-down range
  predicates skip whole files — the Spark equivalent of Iceberg manifest
  pruning, and the layout a date-partitioned 100 TB table would have.
- **Timestamps normalized to µs** on write (events arrives as TIMESTAMP(NANOS),
  which Spark's vectorized reader can't read natively).

Ingest is idempotent per (source dir): a marker file records completion, so
repeated bench runs pay it once. It is *excluded* from benchmark timing the
same way the reference excludes its syncer runs from query benchmarks.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bemidb_spark.tables import TABLES, load_tables

DEFAULT_WAREHOUSE_ROOT = os.environ.get(
    "SPARK_GRAFT_WAREHOUSE_ROOT", "/root/repo/.warehouse"
)

# Per-table layout: (range_key, sort_keys, target_rows_per_file).
# range_key=None → hash-repartition (no natural cluster key);
# target None → single file (dimension tables stay broadcast-sized).
_LAYOUT: dict[str, tuple[str | None, list[str] | None, int | None]] = {
    "lineitem": ("l_shipdate", ["l_shipdate", "l_orderkey"], 40_000),
    "orders": ("o_orderdate", ["o_orderdate", "o_orderkey"], 20_000),
    "events": ("ts", ["ts"], 25_000),
    "customer": (None, None, 8_000),
    "part": (None, None, 8_000),
    "documents": (None, None, 2_000),
    "embeddings": (None, None, 1_000),
}

_MARKER = "_INGEST_DONE"


def warehouse_dir(sf_dir: str, root: str = DEFAULT_WAREHOUSE_ROOT) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(root, tag)


def ingest(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Rewrite every source table into the optimized layout under out_dir."""
    src = load_tables(spark, sf_dir)
    counts = {}
    for name in TABLES:
        df = src[name]
        range_key, sort_keys, target = _LAYOUT.get(name, (None, None, None))
        if target:
            n_rows = df.count()
            n_files = max(1, -(-n_rows // target))
        else:
            n_files = 1
        if range_key and n_files > 1:
            out = df.repartitionByRange(n_files, F.col(range_key))
            out = out.sortWithinPartitions(*sort_keys)
        elif n_files > 1:
            out = df.repartition(n_files)
        else:
            out = df.coalesce(1)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = n_files
    with open(os.path.join(out_dir, _MARKER), "w") as fh:
        json.dump({"source": sf_dir, "files": counts}, fh)


def ensure_warehouse(
    spark: SparkSession, sf_dir: str, root: str = DEFAULT_WAREHOUSE_ROOT
) -> str:
    """Idempotently ingest sf_dir into the warehouse; return the warehouse dir."""
    out = warehouse_dir(sf_dir, root)
    marker = os.path.join(out, _MARKER)
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    ingest(spark, sf_dir, out)
    return out

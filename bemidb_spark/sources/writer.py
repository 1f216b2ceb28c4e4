"""Write operators: full refresh, cursor append, key upsert/delete.

Spark-first re-expression of the reference's data-movement operators
(SURVEY.md §2.C):

- **replace_table** (C1/C2): write a fresh versioned location, atomically
  re-point the catalog — the reference's `-bemidb-syncing` rename dance
  (iceberg_table.go:46-70) collapses into a pointer swap. Readers of the old
  location are unaffected (snapshot isolation by immutability).
- **append_with_cursor** (C3): incremental append — read current max(cursor),
  take only newer source rows, write them as *additional files* in the live
  location (parquet append). The reference rewrites its last small file to keep
  ~100 MB targets (iceberg_table_writer.go:231-302); we defer that to a
  compaction pass (`compact_table`) the way Iceberg's rewrite_data_files does.
- **upsert_by_key** (C4): MERGE semantics — (current rows NOT matched by key)
  ∪ (new rows), written to a fresh location + swap. This is exactly the
  reference's per-file rewrite (iceberg_table_writer.go:304-378) lifted to a
  declarative anti-join; on Iceberg it becomes `MERGE INTO`, with file-level
  pruning done by the engine instead of hand-tracked key→file maps.
- **delete_by_key** (C5): anti-join rewrite + swap (`MERGE … THEN DELETE`).

Every operator is a full distributed plan (no collect of data rows); the only
driver-side action is the catalog pointer swap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bemidb_spark.sources import fs
from bemidb_spark.sources.catalog import Catalog


def _columns_meta(df: DataFrame) -> list[dict]:
    return [
        {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable,
         # logical pg type tag (time/timetz/interval/json/...) — the catalog
         # carries it so introspection (udt_name, wire OIDs) can report the
         # SOURCE type a storage-widened column came from (the reference
         # stores the same in its catalog's columns JSONB)
         **({"pg": f.metadata["pg_type"]} if f.metadata.get("pg_type") else {})}
        for f in df.schema.fields
    ]


def _with_field_ids(df: DataFrame) -> DataFrame:
    """Stamp Iceberg field ids into the parquet footers.

    Spark's parquet writer emits a ``PARQUET:field_id`` per column when the
    StructField metadata carries ``parquet.field.id`` (fieldId.write is on by
    default). Ids are ordinal-from-1 in schema order — the exact id scheme
    ``iceberg_meta._schema_fields`` assigns in the v2 metadata — so an Iceberg
    reader can bind columns by id, as the spec requires (the reference writes
    the same ids via its manifest writer, storage_utils.go:162-370). A pure
    projection: no shuffle, no data movement. Nested element/key/value ids
    aren't expressible via Spark column metadata; top-level ids are what
    id-based column resolution needs.
    """
    return df.select(
        *[
            # merge, don't replace: the field's pg_type / logical-type tags
            # must survive alongside the injected id
            F.col(f.name).alias(
                f.name, metadata={**f.metadata, "parquet.field.id": i}
            )
            for i, f in enumerate(df.schema.fields, start=1)
        ]
    )


# hive partition column for key-bucketed tables (pruned MERGE)
BUCKET_COL = "_kb"


# ---------------------------------------------------------------------------
# Parquet-footer metadata probes. Row counts and per-column bounds already
# live in every file's footer (the same stats Iceberg lifts into manifest
# `record_count` / `upper_bounds`), so DML tags and cursor probes can be
# metadata reads instead of full table-scan aggregates: no second execution
# of the INSERT source, no single-reducer shuffle stage — at 100 TB a cursor
# probe touches O(#files) footers, not O(rows) data.
# ---------------------------------------------------------------------------

def _local_parquet_paths(location: str) -> list[str] | None:
    """OS paths of the .parquet data files under a LOCAL table location, or
    None for remote schemes (callers then fall back to a Spark job — on a
    real cluster the same stats come from Iceberg manifests)."""
    if fs.is_remote(location):
        return None
    root = location[len("file://"):] if location.startswith("file://") else location
    return [
        os.path.join(root, rel.replace("/", os.sep))
        for rel in fs.walk_files(location)
        if rel.endswith(".parquet")
    ]


def _footer_row_count(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths)


def footer_total_rows(location: str) -> int | None:
    """Exact row count of a table location from parquet footers (None →
    remote location, caller must run a count job)."""
    paths = _local_parquet_paths(location)
    return None if paths is None else _footer_row_count(paths)


# physical types whose parquet min/max stats are exact values (BYTE_ARRAY
# bounds may be truncated prefixes — not actual column values — so string
# cursors always fall back to the Spark aggregate)
_EXACT_STAT_TYPES = {"INT32", "INT64", "FLOAT", "DOUBLE", "BOOLEAN"}


def footer_column_max(paths: list[str], col: str) -> tuple[bool, object]:
    """(ok, max) of a top-level column from row-group statistics.

    ok=False → the caller must run the Spark aggregate (missing stats, or a
    truncatable physical type). ok=True with max=None → the column holds no
    non-null values (empty table / all-null cursor)."""
    import pyarrow.parquet as pq

    best = None
    for p in paths:
        md = pq.read_metadata(p)
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            cc = None
            for ci in range(rg.num_columns):
                if rg.column(ci).path_in_schema == col:
                    cc = rg.column(ci)
                    break
            if cc is None:
                return False, None  # schema drift: column absent in a file
            if cc.physical_type not in _EXACT_STAT_TYPES:
                return False, None
            st = cc.statistics
            if st is None:
                return False, None
            if not st.has_min_max:
                # stats omitted: safe only if the group is provably all-null
                if st.has_null_count and st.null_count == rg.num_rows:
                    continue
                return False, None
            if best is None or st.max > best:
                best = st.max
    return True, best


def append_rows(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    df: DataFrame,
) -> int:
    """Append-only write; returns the EXACT appended row count.

    The count is read back from the new files' footers (one execution of the
    source plan — the write job itself — instead of the count-then-write
    double execution), matching how Iceberg derives commit row counts from
    manifest entries. A zero-row append is rolled back: the empty part files
    are removed and no catalog version is committed, so replayed cursor
    batches are true no-ops. Remote locations count first (no footer access
    driver-side) and skip the write when empty."""
    props = catalog.table_props(schema, table) or {}
    loc = catalog.location(schema, table)
    out = df
    if props.get("bucket_keys"):
        out = df.withColumn(
            BUCKET_COL, _bucket_expr(props["bucket_keys"], props["n_buckets"])
        )
        writer = out.write.mode("append").partitionBy(BUCKET_COL)
    else:
        writer = out.write.mode("append")
    before = _local_parquet_paths(loc)
    if before is None:  # remote: no driver-side footer access
        n = df.count()
        if n:
            writer.parquet(loc)
    else:
        writer.parquet(loc)
        prior = set(before)
        new_files = [p for p in _local_parquet_paths(loc) if p not in prior]
        n = _footer_row_count(new_files)
        if n == 0:
            for p in new_files:
                fs.remove_file(p)
    if n:
        spark.catalog.refreshByPath(loc)
        catalog.commit_table(schema, table, loc, catalog.columns(schema, table))
    return n


def read_table(spark: SparkSession, catalog: Catalog, schema: str, table: str) -> DataFrame:
    df = spark.read.parquet(catalog.location(schema, table))
    if BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)
    return df


def _bucket_expr(key_cols: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


def write_bucketed_table(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    df: DataFrame,
    key_cols: list[str],
    n_buckets: int = 16,
) -> str:
    """Write a table hive-partitioned by key bucket (``_kb=<n>/`` dirs).

    This is the layout that makes `upsert_by_key`/`delete_by_key` rewrite
    only the partitions containing affected keys — the Spark-side analogue of
    the reference's key-overlapping-file rewrite
    (iceberg_table_writer.go:304-378). At 100 TB, a k-row MERGE touches
    ~k/n_buckets of the table instead of all of it.
    """
    loc = catalog.new_location(schema, table)
    out = _with_field_ids(df).withColumn(BUCKET_COL, _bucket_expr(key_cols, n_buckets))
    out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(loc)
    catalog.commit_table(
        schema, table, loc, _columns_meta(df),
        props={"bucket_keys": key_cols, "n_buckets": n_buckets},
    )
    # superseded location joined the snapshot log in commit_table — expire
    # through the log (not remove_tree) so time travel stays consistent
    expire_snapshots(catalog, schema, table, keep=SNAPSHOT_RETENTION)
    return loc


# superseded snapshots retained per table before auto-expiry (time travel +
# in-flight reader safety; reference keeps a snapshot log,
# storage_utils.go:371-496)
SNAPSHOT_RETENTION = 3


def replace_table(
    catalog: Catalog,
    schema: str,
    table: str,
    df: DataFrame,
    n_files: int | None = None,
    drop_old: bool = False,
) -> str:
    """Full-refresh: write df to a fresh location, swap the catalog pointer.

    The superseded location is NOT deleted: it joins the snapshot log, so
    readers that resolved the old location keep working and `read_table_at`
    can time-travel. Snapshots beyond SNAPSHOT_RETENTION are expired
    (deleted) automatically; pass drop_old=True for the old eager behavior.
    """
    loc = catalog.new_location(schema, table)
    out = df.repartition(n_files) if n_files else df
    _with_field_ids(out).write.mode("overwrite").parquet(loc)
    # the files written here are NOT bucket-partitioned, so a stale
    # bucket-layout prop must not survive the swap (a later "pruned" MERGE
    # would look for a _kb partition column that no longer exists); every
    # other prop (incremental-matview specs, sync watermarks) is kept
    props = {
        k: v for k, v in catalog.table_props(schema, table).items()
        if k not in ("bucket_keys", "n_buckets")
    }
    old = catalog.commit_table(schema, table, loc, _columns_meta(df), props=props)
    if old and drop_old:
        for expired in catalog.prune_snapshots(schema, table, keep=0):
            fs.remove_tree(expired)
    else:
        expire_snapshots(catalog, schema, table, keep=SNAPSHOT_RETENTION)
    return loc


def read_table_at(
    spark: SparkSession, catalog: Catalog, schema: str, table: str, age: int = 1
) -> DataFrame:
    """Time-travel read: ``age`` swaps ago (1 = the snapshot just replaced)."""
    snaps = catalog.snapshots(schema, table)
    if age < 1 or age > len(snaps):
        raise KeyError(f"no snapshot {age} swaps back for {schema}.{table}")
    df = spark.read.parquet(snaps[-age]["location"])
    return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df


def expire_snapshots(
    catalog: Catalog, schema: str, table: str, keep: int = 0
) -> int:
    """Delete snapshot locations beyond ``keep`` (Iceberg expire_snapshots)."""
    expired = catalog.prune_snapshots(schema, table, keep)
    for loc in expired:
        fs.remove_tree(loc)
    return len(expired)


def drop_table_files(catalog: Catalog, schema: str, table: str) -> None:
    """Drop a table and delete its live + snapshot locations."""
    for loc in catalog.drop_table_locations(schema, table):
        fs.remove_tree(loc)


def append_with_cursor(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    source: DataFrame,
    cursor_col: str,
) -> int:
    """Append source rows with cursor > current max(cursor). Returns row count.

    Mirrors the reference's cursor append (amplitude syncer.go:35-75): the
    cursor read is one tiny aggregation on the live table; the append adds new
    parquet files without touching existing ones.
    """
    loc = catalog.location(schema, table)
    paths = _local_parquet_paths(loc)
    ok, max_cursor = (False, None) if paths is None else footer_column_max(paths, cursor_col)
    if not ok:  # remote files or non-exact stats: one tiny Spark aggregate
        current = read_table(spark, catalog, schema, table)
        max_cursor = current.agg(F.max(cursor_col).alias("m")).collect()[0].m
    fresh = source if max_cursor is None else source.filter(F.col(cursor_col) > F.lit(max_cursor))
    return append_rows(spark, catalog, schema, table, _with_field_ids(fresh))


def _bucketed_layout(
    catalog: Catalog, schema: str, table: str, key_cols: list[str]
) -> int | None:
    """n_buckets if the table is key-bucketed on exactly these keys."""
    props = catalog.table_props(schema, table)
    if props.get("bucket_keys") == list(key_cols):
        return int(props["n_buckets"])
    return None


def _affected_buckets(updates: DataFrame, key_cols: list[str], n_buckets: int) -> list[int]:
    rows = (
        updates.select(_bucket_expr(key_cols, n_buckets).alias(BUCKET_COL))
        .distinct()
        .collect()
    )
    return sorted(r[0] for r in rows)


def upsert_by_key(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
    buckets: list[int] | None = None,
) -> str:
    """MERGE: matched rows replaced by updates, unmatched inserted.

    On a key-bucketed table only the partitions containing affected keys are
    rewritten (dynamic partition overwrite); every other partition's files
    are untouched bytes — mirroring the reference's key-overlapping-file
    rewrite (iceberg_table_writer.go:304-378). Falls back to a full
    rewrite-and-swap for unbucketed tables.

    ``buckets``: the affected-bucket list when the caller already computed
    it (e.g. fused with its row count in one aggregation job — the DML
    routes do); None derives it here with one extra pass over ``updates``.
    """
    n_buckets = _bucketed_layout(catalog, schema, table, key_cols)
    if n_buckets is None:
        current = read_table(spark, catalog, schema, table)
        kept = current.join(updates.select(*key_cols), on=key_cols, how="left_anti")
        merged = kept.unionByName(updates)
        return replace_table(catalog, schema, table, merged)
    loc = catalog.location(schema, table)
    if buckets is None:
        buckets = _affected_buckets(updates, key_cols, n_buckets)
    current = spark.read.parquet(loc).filter(F.col(BUCKET_COL).isin(buckets))
    kept = current.drop(BUCKET_COL).join(
        updates.select(*key_cols), on=key_cols, how="left_anti"
    )
    merged = _with_field_ids(kept.unionByName(updates)).withColumn(
        BUCKET_COL, _bucket_expr(key_cols, n_buckets)
    )
    # dynamic mode replaces ONLY the partitions present in `merged`
    merged.write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy(BUCKET_COL).parquet(loc)
    # re-commit (same location): advances the table's version, so sessions
    # rebind it and drop the plans that captured the old file listing. The
    # declared columns stand — a merge cannot change them, and recomputing
    # them from the merged rows (whose nullability follows the proposed
    # rows) would turn every first upsert into a schema change.
    catalog.commit_table(schema, table, loc, catalog.columns(schema, table))
    return loc


def delete_by_key(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    keys: DataFrame,
    key_cols: list[str],
    buckets: list[int] | None = None,
    emptied_buckets: set[int] | None = None,
) -> str:
    """MERGE ... WHEN MATCHED THEN DELETE (partition-pruned when bucketed).

    ``buckets`` / ``emptied_buckets``: affected buckets and the subset whose
    rows ALL die, when the caller already knows them (the DML routes fuse
    both with the deleted-row count in one per-bucket aggregation); None
    derives them here with two extra passes (one over ``keys``, one over
    the surviving rows)."""
    n_buckets = _bucketed_layout(catalog, schema, table, key_cols)
    if n_buckets is None:
        current = read_table(spark, catalog, schema, table)
        remaining = current.join(keys.select(*key_cols), on=key_cols, how="left_anti")
        return replace_table(catalog, schema, table, remaining)
    loc = catalog.location(schema, table)
    if buckets is None:
        buckets = _affected_buckets(keys, key_cols, n_buckets)
    all_rows = spark.read.parquet(loc)
    row_schema = all_rows.drop(BUCKET_COL).schema
    current = all_rows.filter(F.col(BUCKET_COL).isin(buckets))
    remaining = _with_field_ids(
        current.drop(BUCKET_COL).join(
            keys.select(*key_cols), on=key_cols, how="left_anti"
        )
    ).withColumn(BUCKET_COL, _bucket_expr(key_cols, n_buckets))
    if emptied_buckets is None:
        remaining_buckets = {
            r[0] for r in remaining.select(BUCKET_COL).distinct().collect()
        }
    else:
        remaining_buckets = set(buckets) - emptied_buckets
    remaining.write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy(BUCKET_COL).parquet(loc)
    # dynamic overwrite can't emit an EMPTY partition: buckets whose rows were
    # all deleted keep their old files — remove those directories explicitly
    for b in buckets:
        if b not in remaining_buckets:
            fs.remove_tree(fs.join(loc, f"{BUCKET_COL}={b}"))
    # a delete that empties EVERY bucket leaves a file-less location that
    # Spark can't infer a schema from — pg keeps an empty table readable, so
    # re-point the catalog at a schema-bearing empty table. The bucket
    # layout is dropped with the data (an empty partitioned write emits no
    # files at all); the next write re-establishes whatever layout it wants.
    # Found by the DML sequence fuzzer: delete-evens / delete-odds to empty.
    if not any(f.endswith(".parquet") for f in fs.walk_files(loc)):
        empty = _with_field_ids(spark.createDataFrame([], row_schema))
        new_loc = catalog.new_location(schema, table)
        empty.write.mode("overwrite").parquet(new_loc)
        # keep every non-layout prop (incremental-matview specs, sync
        # watermarks); only the bucket layout dies with the data files
        props = {
            k: v for k, v in catalog.table_props(schema, table).items()
            if k not in ("bucket_keys", "n_buckets")
        }
        catalog.commit_table(
            schema, table, new_loc, catalog.columns(schema, table), props=props,
        )
        # the superseded location joined the snapshot log above — expire via
        # the log (as replace_table does) so time travel stays consistent
        expire_snapshots(catalog, schema, table, keep=SNAPSHOT_RETENTION)
        return new_loc
    catalog.commit_table(schema, table, loc, catalog.columns(schema, table))
    return loc


def compact_table(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    target_rows_per_file: int = 1_000_000,
) -> str:
    """Rewrite a table's small files into right-sized ones (rewrite_data_files)."""
    df = read_table(spark, catalog, schema, table)
    n_rows = footer_total_rows(catalog.location(schema, table))
    if n_rows is None:
        n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    return replace_table(catalog, schema, table, df, n_files=n_files)

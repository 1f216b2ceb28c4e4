"""Write operators: full refresh, cursor append, key upsert/delete.

Spark-first re-expression of the reference's data-movement operators
(SURVEY.md §2.C). Each writes its files into a fresh directory and commits
a new list (``Catalog.commit_table``); readers of the old list are
unaffected (snapshot isolation by immutability).

- **replace_table** (C1/C2): the new list is the fresh directory's files —
  the reference's `-bemidb-syncing` rename dance (iceberg_table.go:46-70)
  collapses into a pointer swap.
- **append_with_cursor** (C3): incremental append — read current max(cursor),
  take only newer source rows, add their files to the list. The reference
  rewrites its last small file to keep ~100 MB targets
  (iceberg_table_writer.go:231-302); we defer that to a compaction pass
  (`compact_table`) the way Iceberg's rewrite_data_files does.
- **upsert_by_key** (C4): MERGE semantics — (current rows NOT matched by key)
  ∪ (new rows). On a key-bucketed table only the touched buckets' listed
  files are read and rewritten, one file per bucket — the reference's
  per-file rewrite (iceberg_table_writer.go:304-378), done copy-on-write.
- **delete_by_key** (C5): the same bucket rewrite with an anti-join
  (`MERGE … THEN DELETE`); an emptied bucket simply has no files.

Every operator is a full distributed plan (no collect of data rows); the only
driver-side steps are listing the fresh directory and the catalog commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, _parse_datatype_string

from bemidb_spark.sources import fs
from bemidb_spark.sources.catalog import SNAPSHOT_RETENTION, Catalog, bucket_of  # noqa: F401


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


# hive partition column for key-bucketed tables; a file's bucket is its
# ``_kb=N/`` path segment, never a column a reader binds
BUCKET_COL = "_kb"


def table_schema(columns: list[dict]) -> StructType:
    """The declared schema a reader binds: the catalog's column types (one
    DDL parse), pg_type tags kept, every column nullable as a parquet read
    makes it."""
    ddl = ", ".join(
        "`{}` {}".format(c["name"].replace("`", "``"), c["type"]) for c in columns)
    parsed = _parse_datatype_string(ddl)
    return StructType([
        StructField(f.name, f.dataType, True,
                    {"pg_type": c["pg"]} if c.get("pg") else {})
        for f, c in zip(parsed.fields, columns)
    ])


def read_files(spark: SparkSession, columns: list[dict], files: list[str]) -> DataFrame:
    """Bind listed files with the declared columns: no directory listing and
    no schema inference; an empty list is an empty relation."""
    schema = table_schema(columns)
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def read_table(spark: SparkSession, catalog: Catalog, schema: str, table: str) -> DataFrame:
    entry = catalog.entry(schema, table)
    return read_files(spark, entry["columns"], entry["files"])


# ---------------------------------------------------------------------------
# Parquet-footer metadata probes. Row counts and per-column bounds already
# live in every file's footer (the same stats Iceberg lifts into manifest
# `record_count` / `upper_bounds`), so DML tags and cursor probes can be
# metadata reads instead of full table-scan aggregates: no second execution
# of the INSERT source, no single-reducer shuffle stage — at 100 TB a cursor
# probe touches O(#files) footers, not O(rows) data.
# ---------------------------------------------------------------------------

def _os_paths(files: list[str]) -> list[str] | None:
    """OS paths of listed LOCAL files, or None when any is remote (callers
    then fall back to a Spark job — on a real cluster the same stats come
    from Iceberg manifests)."""
    if any(fs.is_remote(f) for f in files):
        return None
    return [f[len("file://"):] if f.startswith("file://") else f for f in files]


def footer_total_rows(files: list[str]) -> int | None:
    """Exact row count of listed files from parquet footers (None → remote
    files, caller must run a count job)."""
    import pyarrow.parquet as pq

    paths = _os_paths(files)
    return None if paths is None else sum(pq.read_metadata(p).num_rows for p in paths)


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


def _bucket_expr(key_cols: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


def _write_files(
    catalog: Catalog, schema: str, table: str, df: DataFrame,
    bucketing: tuple[list[str], int] | None = None,
) -> tuple[str, list[str]]:
    """Write df into a fresh commit directory; return it and the parquet
    files written (none: the directory is removed). A key-bucketed write
    is one file per bucket (``_kb=N/``)."""
    loc = catalog.new_location(schema, table)
    if bucketing:
        out = df.withColumn(BUCKET_COL, _bucket_expr(*bucketing))
        out.repartition(BUCKET_COL).write.partitionBy(BUCKET_COL).parquet(loc)
    else:
        df.write.parquet(loc)
    files = sorted(fs.join(loc, rel) for rel in fs.walk_files(loc)
                   if rel.endswith(".parquet"))
    if not files:
        fs.remove_tree(loc)
    return loc, files


def append_rows(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    df: DataFrame,
) -> int:
    """Append-only write; returns the EXACT appended row count.

    The new files go into a fresh directory and join the live list. The
    count is read back from their footers (one execution of the source plan
    — the write job itself — instead of the count-then-write double
    execution), matching how Iceberg derives commit row counts from manifest
    entries. A zero-row append removes its fresh directory and commits
    nothing, so replayed cursor batches are true no-ops."""
    entry = catalog.entry(schema, table)
    props = entry.get("props", {})
    bucketing = (props["bucket_keys"], props["n_buckets"]) \
        if props.get("bucket_keys") else None
    loc, files = _write_files(catalog, schema, table, df, bucketing)
    n = footer_total_rows(files)
    if n is None:  # remote: no driver-side footer access
        n = read_files(spark, entry["columns"], files).count()
    if n == 0:
        fs.remove_tree(loc)
        return 0
    catalog.commit_table(schema, table, files, removed=[])
    return n


def write_bucketed_table(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    df: DataFrame,
    key_cols: list[str],
    n_buckets: int = 16,
) -> list[str]:
    """Write a table hive-partitioned by key bucket (``_kb=<n>/`` dirs), one
    file per bucket; returns the new list.

    This is the layout that makes `upsert_by_key`/`delete_by_key` rewrite
    only the buckets containing affected keys — the Spark-side analogue of
    the reference's key-overlapping-file rewrite
    (iceberg_table_writer.go:304-378). At 100 TB, a k-row MERGE touches
    ~k/n_buckets of the table instead of all of it.
    """
    _, files = _write_files(
        catalog, schema, table, _with_field_ids(df), (key_cols, n_buckets))
    catalog.commit_table(
        schema, table, files, columns=_columns_meta(df),
        props={"bucket_keys": key_cols, "n_buckets": n_buckets},
    )
    return files


def replace_table(
    catalog: Catalog,
    schema: str,
    table: str,
    df: DataFrame,
    n_files: int | None = None,
) -> list[str]:
    """Full refresh: write df to a fresh directory; the new list is its
    files. Returns the new list.

    The superseded list joins the snapshot log, so readers that resolved it
    keep working and `read_table_at` can time-travel; snapshots beyond
    SNAPSHOT_RETENTION expire at the commit.
    """
    out = df.repartition(n_files) if n_files else df
    _, files = _write_files(catalog, schema, table, _with_field_ids(out))
    # the files written here are NOT bucket-partitioned, so a stale
    # bucket-layout prop must not survive the swap (a later "pruned" MERGE
    # would look for buckets the files no longer carry); every other prop
    # (incremental-matview specs, sync watermarks) is kept
    props = {
        k: v for k, v in catalog.table_props(schema, table).items()
        if k not in ("bucket_keys", "n_buckets")
    }
    catalog.commit_table(
        schema, table, files, columns=_columns_meta(df), props=props)
    return files


def read_table_at(
    spark: SparkSession, catalog: Catalog, schema: str, table: str, age: int = 1
) -> DataFrame:
    """Time-travel read: ``age`` commits ago (1 = the snapshot just replaced)."""
    snaps = catalog.snapshots(schema, table)
    if age < 1 or age > len(snaps):
        raise KeyError(f"no snapshot {age} commits back for {schema}.{table}")
    return read_files(
        spark, catalog.columns(schema, table), snaps[-age]["files"])


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
    cursor read is a footer probe of the listed files (or one tiny
    aggregation); the append adds new parquet files without touching
    existing ones.
    """
    paths = _os_paths(catalog.files(schema, table))
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


def bucket_slice(
    spark: SparkSession, catalog: Catalog, schema: str, table: str,
    buckets: list[int],
) -> tuple[list[str], DataFrame]:
    """The touched buckets' listed files, and their rows."""
    entry = catalog.entry(schema, table)
    touched = [f for f in entry["files"] if bucket_of(f) in set(buckets)]
    return touched, read_files(spark, entry["columns"], touched)


def rewrite_buckets(
    catalog: Catalog,
    schema: str,
    table: str,
    touched: list[str],
    rows: DataFrame,
    key_cols: list[str],
    n_buckets: int,
) -> None:
    """Copy-on-write bucket rewrite: write ``rows`` (the touched buckets'
    surviving and new rows, cast to the declared columns) as one file per
    bucket into a fresh directory, and commit: the ``touched`` files out,
    the new files in. A row that lands in an untouched bucket adds a file
    to it without rewriting it."""
    declared = table_schema(catalog.columns(schema, table))
    rows = rows.select(*[F.col(f.name).cast(f.dataType) for f in declared.fields])
    _, files = _write_files(
        catalog, schema, table, _with_field_ids(rows), (key_cols, n_buckets))
    catalog.commit_table(schema, table, files, removed=touched)


def upsert_by_key(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
    buckets: list[int] | None = None,
) -> None:
    """MERGE: matched rows replaced by updates, unmatched inserted.

    On a key-bucketed table only the buckets containing affected keys are
    rewritten (`rewrite_buckets`); every other bucket's files stay in the
    list untouched — mirroring the reference's key-overlapping-file rewrite
    (iceberg_table_writer.go:304-378). Falls back to a full
    rewrite-and-swap for unbucketed tables.

    ``buckets``: the affected-bucket list when the caller already computed
    it (e.g. fused with its row count in one aggregation job — the DML
    routes do); None derives it here with one extra pass over ``updates``.
    """
    n_buckets = _bucketed_layout(catalog, schema, table, key_cols)
    if n_buckets is None:
        current = read_table(spark, catalog, schema, table)
        kept = current.join(updates.select(*key_cols), on=key_cols, how="left_anti")
        replace_table(catalog, schema, table, kept.unionByName(updates))
        return
    if buckets is None:
        buckets = _affected_buckets(updates, key_cols, n_buckets)
    touched, current = bucket_slice(spark, catalog, schema, table, buckets)
    kept = current.join(updates.select(*key_cols), on=key_cols, how="left_anti")
    rewrite_buckets(catalog, schema, table, touched,
                    kept.unionByName(updates), key_cols, n_buckets)


def delete_by_key(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    keys: DataFrame,
    key_cols: list[str],
    buckets: list[int] | None = None,
) -> None:
    """MERGE ... WHEN MATCHED THEN DELETE (bucket-pruned when bucketed).

    ``buckets``: the affected buckets when the caller already knows them
    (the DML routes fuse them with the deleted-row count in one per-bucket
    aggregation); None derives them here with one extra pass over
    ``keys``. A bucket whose rows all die is left with no files."""
    n_buckets = _bucketed_layout(catalog, schema, table, key_cols)
    if n_buckets is None:
        current = read_table(spark, catalog, schema, table)
        remaining = current.join(keys.select(*key_cols), on=key_cols, how="left_anti")
        replace_table(catalog, schema, table, remaining)
        return
    if buckets is None:
        buckets = _affected_buckets(keys, key_cols, n_buckets)
    touched, current = bucket_slice(spark, catalog, schema, table, buckets)
    remaining = current.join(keys.select(*key_cols), on=key_cols, how="left_anti")
    rewrite_buckets(catalog, schema, table, touched, remaining,
                    key_cols, n_buckets)


def compact_table(
    spark: SparkSession,
    catalog: Catalog,
    schema: str,
    table: str,
    target_rows_per_file: int = 1_000_000,
) -> list[str]:
    """Rewrite a table's small files into right-sized ones (rewrite_data_files)."""
    entry = catalog.entry(schema, table)
    df = read_files(spark, entry["columns"], entry["files"])
    n_rows = footer_total_rows(entry["files"])
    if n_rows is None:
        n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    return replace_table(catalog, schema, table, df, n_files=n_files)

"""Materialized views: registry + CREATE / REFRESH / DROP / RENAME.

Re-expression of the reference's matview operator set (C6 — reference
server/query_remapper.go:566-711, server/iceberg_writer.go:23-86):

- CREATE stores the definition SQL in the catalog and (unless WITH NO DATA)
  materializes it as a physical table.
- REFRESH re-runs the definition into a fresh location + atomic swap — the
  reference's `-syncing` table swap, as a pointer commit.
- REFRESH CONCURRENTLY runs the rebuild on a background thread (the
  reference's goroutine) while readers keep the old snapshot.
- DROP / RENAME are catalog operations.

The definition executes through ``spark.sql`` against whatever views/tables
are registered in the session — same as the reference remapping the definition
SQL through its engine.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bemidb_spark.sources.catalog import Catalog
from bemidb_spark.sources.writer import read_table, replace_table

MATVIEW_SCHEMA = "matviews"


def create_materialized_view(
    spark: SparkSession,
    catalog: Catalog,
    name: str,
    definition: str,
    with_data: bool = True,
) -> None:
    catalog.put_matview(MATVIEW_SCHEMA, name, definition)
    if with_data:
        refresh_materialized_view(spark, catalog, name)
    else:
        # WITH NO DATA: register an empty table with the definition's schema.
        empty = spark.sql(definition).limit(0)
        replace_table(catalog, MATVIEW_SCHEMA, name, empty, n_files=1)


def refresh_materialized_view(
    spark: SparkSession, catalog: Catalog, name: str, concurrently: bool = False
) -> threading.Thread | None:
    definition = catalog.matview_definition(MATVIEW_SCHEMA, name)

    def _rebuild() -> None:
        df = spark.sql(definition)
        replace_table(catalog, MATVIEW_SCHEMA, name, df)

    if concurrently:
        t = threading.Thread(target=_rebuild, name=f"refresh-{name}", daemon=True)
        t.start()
        return t
    _rebuild()
    return None


def read_materialized_view(
    spark: SparkSession, catalog: Catalog, name: str
) -> DataFrame:
    return read_table(spark, catalog, MATVIEW_SCHEMA, name)


def drop_materialized_view(catalog: Catalog, name: str) -> None:
    catalog.drop_matview(MATVIEW_SCHEMA, name)
    catalog.drop_table(MATVIEW_SCHEMA, name)


def rename_materialized_view(catalog: Catalog, name: str, new_name: str) -> None:
    definition = catalog.matview_definition(MATVIEW_SCHEMA, name)
    catalog.put_matview(MATVIEW_SCHEMA, new_name, definition)
    catalog.drop_matview(MATVIEW_SCHEMA, name)
    catalog.rename_table(MATVIEW_SCHEMA, name, new_name)


# ---------------------------------------------------------------------------
# Incremental maintenance (r6, beyond-reference): delta-merge refresh for
# aggregate matviews over append-only bases.
# ---------------------------------------------------------------------------
# The reference refreshes matviews only by full recompute (server/
# iceberg_writer.go:38-74). For the dominant warehouse shape — GROUP BY keys
# + distributive aggregates over an append-only fact table — a full rebuild
# rescans the whole base every refresh; at 100 TB that is the difference
# between a daily full-table pass and a merge proportional to the day's
# delta. This path:
#
#   partial = delta.groupBy(keys).agg(...)     # map-side combinable, one
#                                              # shuffle over the DELTA only
#   merged  = partial ⟕ current → combine      # count/sum add, min/max fold
#   upsert_by_key(merged)                      # bucket-pruned MERGE: only
#                                              # partitions holding changed
#                                              # groups are rewritten
#
# Supported aggregates: count / sum / min / max — exactly the set that is
# self-maintainable under INSERT-only deltas (min/max only grow monotone
# when rows are never removed). Deltas are detected with the engine's
# cursor-append invariant (a monotone cursor column, same contract as
# sources/writer.py append_with_cursor); UPDATE/DELETE on the base requires
# the existing full REFRESH, which stays available unchanged.

_SELF_MAINTAINABLE = ("count", "sum", "min", "max")


def _agg_exprs(aggs: dict[str, tuple[str, str]]) -> list[str]:
    out = []
    for col, (fn, arg) in aggs.items():
        if fn not in _SELF_MAINTAINABLE:
            raise ValueError(
                f"aggregate {fn!r} is not self-maintainable under append-only"
                f" deltas (supported: {_SELF_MAINTAINABLE})")
        out.append(f"{fn}({arg}) AS {col}")
    return out


def create_incremental_matview(
    spark: SparkSession,
    catalog: Catalog,
    name: str,
    source: DataFrame,
    group_keys: list[str],
    aggs: dict[str, tuple[str, str]],
    cursor_col: str,
    n_buckets: int = 8,
) -> None:
    """Materialize ``source.groupBy(group_keys).agg(aggs)`` bucketed by the
    group keys (so refresh merges prune to affected buckets) and record the
    maintenance spec + high-water cursor in the catalog."""
    from bemidb_spark.sources.writer import write_bucketed_table

    full = source.groupBy(*group_keys).agg(
        *[F.expr(e) for e in _agg_exprs(aggs)])
    write_bucketed_table(
        spark, catalog, MATVIEW_SCHEMA, name, full, group_keys, n_buckets)
    hw = source.agg(F.max(cursor_col).alias("m")).collect()[0].m
    props = catalog.table_props(MATVIEW_SCHEMA, name)
    props["incremental"] = {
        "group_keys": list(group_keys),
        "aggs": {k: list(v) for k, v in aggs.items()},
        "cursor_col": cursor_col,
        "cursor": _json_cursor(hw),
    }
    catalog.set_table_props(MATVIEW_SCHEMA, name, props)


def _json_cursor(v):
    """Catalog props are JSON; date/timestamp/decimal cursors round-trip as
    their string form (Spark coerces the comparison back to the column type)."""
    return v if v is None or isinstance(v, (int, float, str)) else str(v)


def refresh_incremental_matview(
    spark: SparkSession, catalog: Catalog, name: str, source: DataFrame
) -> int:
    """Merge the base's rows past the stored cursor into the matview; returns
    the number of delta rows processed (0 = no-op, nothing rewritten)."""
    from bemidb_spark.sources.writer import read_table, upsert_by_key

    props = catalog.table_props(MATVIEW_SCHEMA, name)
    spec = props["incremental"]
    keys, cursor_col = spec["group_keys"], spec["cursor_col"]
    aggs = {k: tuple(v) for k, v in spec["aggs"].items()}

    cursor = spec["cursor"]
    delta = source if cursor is None else source.filter(
        F.col(cursor_col) > F.lit(cursor))
    stats = delta.agg(
        F.count(F.lit(1)).alias("n"), F.max(cursor_col).alias("m")
    ).collect()[0]
    if not stats.n:
        return 0

    partial = delta.groupBy(*keys).agg(
        *[F.expr(e) for e in _agg_exprs(aggs)])
    current = read_table(spark, catalog, MATVIEW_SCHEMA, name)
    # combine rule per aggregate class; groups new to the delta inherit the
    # partial verbatim (current side NULL after the left join)
    cur = current.select(
        *keys, *[F.col(c).alias(f"__cur_{c}") for c in aggs])
    combined = partial.join(cur, on=keys, how="left").select(
        *keys,
        *[
            F.expr(
                f"CASE WHEN __cur_{c} IS NULL THEN {c} "
                f"WHEN {c} IS NULL THEN __cur_{c} "
                f"ELSE __cur_{c} + {c} END AS {c}"
                if fn in ("count", "sum")
                else f"{'least' if fn == 'min' else 'greatest'}"
                     f"(__cur_{c}, {c}) AS {c}"
            )
            for c, (fn, _a) in aggs.items()
        ],
    )
    upsert_by_key(spark, catalog, MATVIEW_SCHEMA, name, combined, keys)
    spec["cursor"] = _json_cursor(stats.m)
    props = catalog.table_props(MATVIEW_SCHEMA, name)
    props["incremental"] = spec
    catalog.set_table_props(MATVIEW_SCHEMA, name, props)
    return stats.n

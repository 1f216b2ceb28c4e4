"""Table registry: load the test-data star schema and register temp views.

Mirrors the reference's table-binding role (reference src/server/
query_remapper_table.go:93-110 rewrites ``schema.table`` to an ``iceberg_scan``
subselect); in Spark we simply register each Parquet table as a view and let
Catalyst resolve names, push filters into the scan, and prune columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load events.parquet, whose ``ts`` is TIMESTAMP(NANOS) — a parquet type
    Spark's vectorized reader rejects outright. Read nanos as raw INT64 via the
    legacy conf, then floor-truncate to microseconds (DuckDB's CAST(ts AS
    TIMESTAMP) does the same truncation, keeping the oracle comparable)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"),
        )
    return df


# DataFrame cache keyed by (session id, sf_dir): constructing a parquet
# DataFrame costs a schema-inference job, so repeated queries over the same
# tables must not re-pay it. DataFrames are lazy plans — caching them caches no
# data, only the resolved relation.
_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every table in the star schema as a DataFrame keyed by name."""
    key = (id(spark), sf_dir)
    cached = _CACHE.get(key)
    if cached is not None:
        return cached
    # Size-aware execution profile for the dataset this session is binding
    # to (small input → AQE off + reduced shuffle parallelism; large input →
    # scale defaults). See session.apply_input_size_policy.
    from bemidb_spark.session import apply_input_size_policy

    apply_input_size_policy(
        spark, [f"{sf_dir}/{name}.parquet" for name in TABLES]
    )
    out = {}
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        out[name] = _load_events(spark, path) if name == "events" else spark.read.parquet(path)
    _CACHE[key] = out
    return out


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register each table as a (replaceable) temp view and return the DataFrames.

    Views make the SQL surface (``spark.sql``) and the DataFrame surface see the
    same relations — the Spark analogue of the reference pre-binding every
    catalog table into its engine session (query_remapper_table.go:141-178).
    """
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
        # Also publish as a global temp view: an isolated per-connection
        # session (PgSession isolate=True — forked via newSession for pg's
        # session-local SET semantics) binds it into its own view namespace
        # when a statement first names it, so a view published after the
        # fork was built resolves there too.
        df.createOrReplaceGlobalTempView(name)
    return dfs

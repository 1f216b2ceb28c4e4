"""The reference's 41-column every-type fixture, built through the type layer.

Reproduces `postgres.test_table` (FIXTURES.md §1; reference
syncer-postgres/lib/init_test.go:11-275): two rows — a max-values row and a
NULL/edge row — written through the engine's real write path so golden tests
exercise ingest→store→query→wire end-to-end, exactly as the reference's test
seeding does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bemidb_spark.pgcompat.types import parse_pg_literal, spark_field

# (name, pg_type, row1 literal, row2 literal) — FIXTURES.md table 1.
_COLUMNS: list[tuple[str, str, str | None, str | None]] = [
    ("id", "int4", "1", "2"),
    ("bit_column", "bit", "1", None),
    ("bool_column", "bool", "t", "f"),
    ("bpchar_column", "bpchar", "bpchar    ", ""),
    ("varchar_column", "varchar", "varchar", None),
    ("text_column", "text", "text", ""),
    ("int2_column", "int2", "32767", "-32767"),
    ("int4_column", "int4", "2147483647", None),
    ("int8_column", "int8", "9223372036854775807", "-9223372036854775807"),
    ("hugeint_column", "numeric(20,0)", "10000000000000000000", None),
    ("xid_column", "xid", "4294967295", None),
    ("xid8_column", "xid8", "18446744073709551615", None),
    ("float4_column", "float4", "3.14", "NaN"),
    ("float8_column", "float8", "3.141592653589793", "-3.141592653589793"),
    ("numeric_column", "numeric(38,2)", "12345.67", "-12345.00"),
    ("numeric_column_without_precision", "numeric", "12345.67", None),
    ("date_column", "date", "2024-01-01", "20025-11-12"),
    ("time_column", "time", "12:00:00.123456", "12:00:00.123"),
    ("timeMsColumn", "time", "12:00:00.123", None),
    ("timetz_column", "timetz", "12:00:00.123456-05", "12:00:00.12300+05"),
    ("timetz_ms_column", "timetz", "12:00:00.123-05", "12:00:00.1+05"),
    ("timestamp_column", "timestamp", "2024-01-01 12:00:00.123456", "2024-01-01 12:00:00"),
    ("timestamp_ms_column", "timestamp", "2024-01-01 12:00:00.123", None),
    ("timestamptz_column", "timestamptz", "2024-01-01 12:00:00.123456-05",
     "2024-01-01 12:00:00.000123+05:30"),
    ("timestamptz_ms_column", "timestamptz", "2024-01-01 12:00:00.123-05",
     "2024-01-01 12:00:00.12+05"),
    ("uuid_column", "uuid", "58a7c845-af77-44b2-8664-7ca613d92f04", None),
    ("bytea_column", "bytea", "\\x48656c6c6f", None),
    ("interval_column", "interval", "1 mon 2 days 01:00:01.000001", None),
    ("tsvector_column", "tsvector", "'sampl':1 'text':2 'tsvector':4", None),
    ("xml_column", "xml", "<root><child>text</child></root>", None),
    ("pg_snapshot_column", "pg_snapshot", "1896:1896:", None),
    ("point_column", "point", "(37.347301483154,45.002101898193)", None),
    ("inet_column", "inet", "192.168.0.1", None),
    ("json_column", "json", '{"key": "value"}', None),
    ("jsonb_column", "jsonb", '{"key": "value", "nestedKey": { "key": "value" }}', "{}"),
    ("array_text_column", "_text", "{one,two,three}", None),
    ("array_int_column", "_int4", "{1,2,3}", "{}"),
    ("array_jsonb_column", "_jsonb",
     '{"{\\"key\\": \\"value1\\"}","{\\"key\\": \\"value2\\"}"}', None),
    ("array_ltree_column", "_ltree", '{"a.b","c.d"}', None),
    ("user_defined_column", "address", "(Toronto)", None),
]


def test_table_schema() -> T.StructType:
    return T.StructType(
        [spark_field(name, pg, nullable=(name != "id")) for name, pg, _, _ in _COLUMNS]
    )


def build_test_table(spark: SparkSession) -> DataFrame:
    rows = []
    for row_idx in (2, 3):
        rows.append(tuple(
            parse_pg_literal(pg, col[row_idx]) for col in _COLUMNS for pg in [col[1]]
        ))
    return spark.createDataFrame(rows, test_table_schema())


def register_test_table(spark: SparkSession, catalog=None) -> DataFrame:
    """Build the fixture and register it as `test_table` (+ catalog entry)."""
    df = build_test_table(spark)
    if catalog is not None:
        from bemidb_spark.sources.writer import read_table, replace_table

        replace_table(catalog, "postgres", "test_table", df, n_files=1)
        df = read_table(spark, catalog, "postgres", "test_table")
        # parquet roundtrip drops field metadata; restore the pg-typed schema
        df = spark.createDataFrame(df.rdd, test_table_schema())
    df.createOrReplaceTempView("test_table")
    # publish for isolated per-connection sessions (PgSession isolate=True
    # binds global temp views on first reference — same contract as
    # tables.register_views)
    df.createOrReplaceGlobalTempView("test_table")
    return df

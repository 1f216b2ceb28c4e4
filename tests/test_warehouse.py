"""Warehouse ingest: layout is produced, idempotent, and value-identical."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bemidb_spark import warehouse
from bemidb_spark.operators import tpch
from bemidb_spark.oracle import compare


def test_ingest_roundtrip_and_parity(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    wh = warehouse.ensure_warehouse(spark, sf_dir, root=root)
    assert os.path.exists(os.path.join(wh, "lineitem.parquet"))
    # idempotent: marker short-circuits
    assert warehouse.ensure_warehouse(spark, sf_dir, root=root) == wh

    # row counts preserved
    for name in ("lineitem", "orders", "events"):
        src = spark.read.parquet(f"{sf_dir}/{name}.parquet").count()
        dst = spark.read.parquet(f"{wh}/{name}.parquet").count()
        assert src == dst, name

    # queries on the warehouse layout still match the oracle on the SOURCE dir
    for q in ("tpch_q1", "tpch_q3", "tpch_q12"):
        compare(tpch.QUERIES[q](spark, wh), tpch.ORACLES[q], sf_dir)


def test_salted_join_matches_plain_join(spark, sf_dir):
    from bemidb_spark.plans.skew import salted_join
    from bemidb_spark.tables import load_tables

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].withColumnRenamed("l_orderkey", "okey")
    od = t["orders"].select(F.col("o_orderkey").alias("okey"), "o_orderpriority")

    plain = (
        li.join(od, "okey")
        .groupBy("o_orderpriority").count()
        .collect()
    )
    salted = (
        salted_join(li, od, "okey", salt=4, salt_source="l_partkey")
        .groupBy("o_orderpriority").count()
        .collect()
    )
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))

"""Compare the benchmark's generated inputs with a reference set of tables.

    python3 perfbench/datacheck.py REFERENCE_DIR [--scale 0.1] [--seed 1]

REFERENCE_DIR holds the ten parquet tables of the repository's test data at
the same scale (for example its sf0.1 set). The script generates the
benchmark's tables (``datagen.py``) into ``.perfbench_work/datacheck`` and
prints, side by side: each table's rows; each column's minimum, maximum,
mean (numbers and dates) and distinct count; the join fan-outs the TPC-H
statements depend on; and, per TPC-H statement of ``tpch.ORACLES``, the
rows it returns and the rows its WHERE clauses select, both as DuckDB
computes them. It exits 1 if a table's schema differs.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

FANOUTS = {
    "lineitem per order": "SELECT count(*) / count(DISTINCT l_orderkey) FROM lineitem",
    "orders per customer": "SELECT count(*) / count(DISTINCT o_custkey) FROM orders",
    "lineitem rows joining orders":
        "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    "lineitem rows joining part":
        "SELECT count(*) FROM lineitem JOIN part ON l_partkey = p_partkey",
    "lineitem rows joining supplier":
        "SELECT count(*) FROM lineitem JOIN supplier ON l_suppkey = s_suppkey",
    "orders rows joining customer":
        "SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey",
}


def _columns(con, table: str) -> list[tuple[str, str]]:
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE {table}").fetchall()]


def _profile(con, table: str, col: str, typ: str) -> str:
    numeric = typ.split("(")[0] in (
        "BIGINT", "INTEGER", "DOUBLE", "FLOAT", "DECIMAL", "TIMESTAMP", "DATE")
    if not numeric:
        lo, hi, nd = con.execute(
            f"SELECT min({col}), max({col}), count(DISTINCT {col}) FROM {table}").fetchone()
        return f"{str(lo)[:14]:>14} {str(hi)[:14]:>14} {'':>12} {nd:>8}"
    mean = (f"avg(epoch({col}))" if typ.startswith(("TIMESTAMP", "DATE"))
            else f"avg({col})")
    lo, hi, avg, nd = con.execute(
        f"SELECT min({col}), max({col}), {mean}, count(DISTINCT {col}) "
        f"FROM {table}").fetchone()
    return f"{str(lo)[:14]:>14} {str(hi)[:14]:>14} {avg:>12.5g} {nd:>8}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference")
    ap.add_argument("--scale", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path[:0] = [REPO, HERE]
    import datagen
    from bemidb_spark.operators.tpch import ORACLES
    from bemidb_spark.oracle import duckdb_connection

    out = os.path.join(REPO, ".perfbench_work", "datacheck")
    shutil.rmtree(out, ignore_errors=True)
    datagen.generate(out, args.seed, args.scale)
    ref, gen = duckdb_connection(args.reference), duckdb_connection(out)
    status = 0
    try:
        print(f"{'':34} {'reference':>60} | generated")
        for table in sorted(f[:-8] for f in os.listdir(out)):
            rcols, gcols = _columns(ref, table), _columns(gen, table)
            if rcols != gcols:
                print(f"{table}: schema {gcols} != reference {rcols}")
                status = 1
                continue
            nr = ref.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            ng = gen.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            print(f"{table + ' rows':34} {nr:>60} | {ng}")
            for col, typ in rcols:
                if typ.endswith("[]"):
                    continue
                print(f"  {col:32} {_profile(ref, table, col, typ)} | "
                      f"{_profile(gen, table, col, typ)}")
        print("\njoin fan-outs")
        for name, sql in FANOUTS.items():
            r, g = ref.execute(sql).fetchone()[0], gen.execute(sql).fetchone()[0]
            print(f"  {name:32} {r:>12.6g} | {g:.6g}")
        print("\nTPC-H statements: result rows; rows of the FROM ... WHERE part")
        for name, sql in ORACLES.items():
            counts = []
            for con in (ref, gen):
                rows = len(con.execute(sql).fetchall())
                counts.append(f"{rows:>6} {_where_rows(con, sql):>10}")
            print(f"  {name:32} {counts[0]:>17} | {counts[1]}")
    finally:
        ref.close()
        gen.close()
        shutil.rmtree(out, ignore_errors=True)
    return status


def _where_rows(con, sql: str) -> str:
    """Rows the outermost FROM ... WHERE of sql selects, before grouping
    ('-' when the statement has no plain outer FROM ... WHERE)."""
    text = " ".join(sql.split())
    upper = text.upper()
    start = upper.find(" FROM ")
    end = len(text)
    for kw in (" GROUP BY ", " ORDER BY ", " LIMIT "):
        i = upper.rfind(kw)
        if start < i < end:
            end = i
    try:
        return str(con.execute(f"SELECT count(*){text[start:end]}").fetchone()[0])
    except Exception:  # noqa: BLE001 — subquery-shaped statements
        return "-"


if __name__ == "__main__":
    sys.exit(main())

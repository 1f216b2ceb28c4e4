"""A catalog table is a committed list of immutable files.

Writes are copy-on-write commits of a new list; ROLLBACK restores the pinned
list; a file is deleted only once no live list, retained snapshot or open
transaction pin names it. These tests pin the defects the in-place layout
had: a rolled-back statement emptied the bucket it touched, a reader that
resolved a table before an upsert failed on a deleted file, and the bucket
partition column leaked into ``SELECT *``.
"""

from __future__ import annotations

import glob
import os

import pytest

from bemidb_spark.pgcompat.session import PgSession
from bemidb_spark.sources.catalog import SNAPSHOT_RETENTION, Catalog, CommitConflict
from bemidb_spark.sources.writer import (
    read_table,
    upsert_by_key,
    write_bucketed_table,
)


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


@pytest.fixture()
def kv(spark, cat):
    """public.kv: 200 rows in 8 key buckets."""
    write_bucketed_table(
        spark, cat, "public", "kv",
        spark.range(200).selectExpr("id AS k", "id % 7 AS n"), ["k"], n_buckets=8)
    pg = PgSession(spark, cat)
    yield pg
    pg.dispose()


def _rows(pg: PgSession) -> list[tuple]:
    return [tuple(r) for r in pg.execute("SELECT k, n FROM kv ORDER BY k").collect()]


def _totals(pg: PgSession) -> tuple:
    return tuple(pg.execute("SELECT count(*) AS c, sum(n) AS s FROM kv").collect()[0])


def _files_on_disk(cat: Catalog) -> set[str]:
    return set(glob.glob(f"{cat.root}/data/**/*.parquet", recursive=True))


def _referenced(cat: Catalog, table: str = "kv") -> set[str]:
    return set(cat.files("public", table)).union(
        *(s["files"] for s in cat.snapshots("public", table)))


@pytest.mark.parametrize("stmt", [
    "INSERT INTO kv (k, n) VALUES (3, 1) ON CONFLICT (k) DO UPDATE SET n = kv.n + 1",
    "UPDATE kv SET n = n + 100 WHERE k = 5",
    "DELETE FROM kv WHERE k = 7",
])
def test_rolled_back_write_leaves_bucketed_table_unchanged(kv, stmt):
    before = _totals(kv)
    assert before[0] == 200
    kv.execute("BEGIN")
    kv.execute(stmt)
    assert _totals(kv) != before  # the write is visible inside the txn
    kv.execute("ROLLBACK")
    assert _totals(kv) == before


def test_rollback_past_snapshot_retention_restores_table(spark, cat, kv):
    before = _rows(kv)
    kv.execute("BEGIN")
    for k in range(SNAPSHOT_RETENTION + 2):
        kv.execute(f"INSERT INTO kv (k, n) VALUES ({k}, 50) "
                   "ON CONFLICT (k) DO UPDATE SET n = kv.n + 1")
    kv.execute("ROLLBACK")
    assert _rows(kv) == before
    # the aborted commits' files are gone; nothing else was deleted
    assert _files_on_disk(cat) == _referenced(cat)


def test_rollback_to_savepoint_past_snapshot_retention(spark, cat, kv):
    kv.execute("BEGIN")
    kv.execute("DELETE FROM kv WHERE k = 1")
    at_savepoint = _rows(kv)
    kv.execute("SAVEPOINT s")
    for k in range(10, 10 + SNAPSHOT_RETENTION + 2):
        kv.execute(f"UPDATE kv SET n = n + 1000 WHERE k = {k}")
    kv.execute("ROLLBACK TO SAVEPOINT s")
    assert _rows(kv) == at_savepoint
    kv.execute("COMMIT")
    assert _rows(kv) == at_savepoint
    # COMMIT released the pins: only live and retained files stay on disk
    assert _files_on_disk(cat) == _referenced(cat)


def test_reader_resolved_before_upsert_reads_old_snapshot(spark, cat, kv):
    reader = read_table(spark, cat, "public", "kv")
    old = sorted(tuple(r) for r in reader.collect())
    upsert_by_key(spark, cat, "public", "kv", spark.createDataFrame(
        [(k, -1) for k in range(0, 200, 3)], "k bigint, n bigint"), ["k"])
    assert sorted(tuple(r) for r in reader.collect()) == old
    assert sorted(tuple(r) for r in read_table(
        spark, cat, "public", "kv").collect()) != old


def test_select_star_returns_declared_columns(kv, cat):
    assert kv.execute("SELECT * FROM kv").columns == ["k", "n"]
    assert [c["name"] for c in cat.columns("public", "kv")] == ["k", "n"]


def test_commit_removing_a_removed_file_conflicts(cat):
    cols = [{"name": "id", "type": "bigint", "nullable": True}]

    def write(name: str) -> tuple[str, str]:
        loc = cat.new_location("public", "t")
        os.makedirs(loc)
        path = os.path.join(loc, name)
        open(path, "wb").close()
        return loc, path

    _, a = write("a.parquet")
    _, b = write("b.parquet")
    cat.commit_table("public", "t", [a, b], columns=cols)
    _, c = write("c.parquet")
    cat.commit_table("public", "t", [c], removed=[a])  # replaced a first
    late_dir, late = write("d.parquet")
    with pytest.raises(CommitConflict) as err:
        cat.commit_table("public", "t", [late], removed=[a])
    assert err.value.sqlstate == "40001"
    assert not os.path.exists(late_dir)  # its own new files are deleted
    assert cat.files("public", "t") == [b, c]


def test_current_manifest_lists_the_live_files(spark, cat, kv):
    from bemidb_spark.sources.avro_io import read_ocf
    from bemidb_spark.sources.iceberg_meta import table_metadata

    def manifest_files() -> set[str]:
        meta = table_metadata(cat, "public", "kv")
        current = [s for s in meta["snapshots"]
                   if s["snapshot-id"] == meta["current-snapshot-id"]]
        return {e["data_file"]["file_path"]
                for m in read_ocf(current[0]["manifest-list"])[1]
                for e in read_ocf(m["manifest_path"])[1]}

    assert manifest_files() == set(cat.files("public", "kv"))
    kv.execute("UPDATE kv SET n = 0 WHERE k < 20")
    assert manifest_files() == set(cat.files("public", "kv"))
    # an expired snapshot's metadata version, manifest list and manifest go
    # with its files
    expired = cat.snapshots("public", "kv")[0]["id"]
    assert all(os.path.exists(p) for p in cat.metadata_files("public.kv", expired))
    cat.expire_snapshots("public", "kv", keep=0)
    assert not any(os.path.exists(p)
                   for p in cat.metadata_files("public.kv", expired))

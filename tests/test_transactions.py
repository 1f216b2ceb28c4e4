"""A transaction block stages its writes in a private overlay on the catalog
and publishes them in one optimistic commit at COMMIT.

Other sessions never see a block's writes before COMMIT, no writer waits on
an open block, ROLLBACK commits nothing (it moves no version counter and
cannot undo another writer's commit), and a COMMIT whose staged table moved
since the block first wrote it fails with 40001 and leaves nothing behind.
"""

from __future__ import annotations

import glob
import threading

import pytest

from bemidb_spark.pgcompat.session import PgSession, UnsupportedQueryError
from bemidb_spark.sources.catalog import Catalog, CommitConflict
from bemidb_spark.sources.writer import append_rows


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


@pytest.fixture()
def sessions(spark, cat):
    """Sessions A and B over one catalog holding t1 [1], t2 [10], t3 [100],
    each with its own view namespace, as wire connections have."""
    a, b = (PgSession(spark, cat, isolate=True) for _ in range(2))
    for table, value in (("t1", 1), ("t2", 10), ("t3", 100)):
        a.execute(f"CREATE TABLE {table} (id bigint)")
        a.execute(f"INSERT INTO {table} VALUES ({value})")
    yield a, b
    a.dispose()
    b.dispose()


def _ids(pg: PgSession, table: str) -> list[int]:
    return sorted(r.id for r in pg.execute(f"SELECT id FROM {table}").collect())


def _files_on_disk(cat: Catalog) -> set[str]:
    return set(glob.glob(f"{cat.root}/data/**/*.parquet", recursive=True))


def _referenced(cat: Catalog) -> set[str]:
    return {f for entry in cat.tables().values()
            for snap in (entry, *entry["snapshots"]) for f in snap["files"]}


def test_no_dirty_read_across_sessions(sessions):
    a, b = sessions
    a.execute("BEGIN")
    a.execute("INSERT INTO t1 VALUES (2)")
    assert _ids(a, "t1") == [1, 2]
    assert _ids(b, "t1") == [1]
    a.execute("COMMIT")
    assert _ids(b, "t1") == [1, 2]


def test_rollback_spares_a_direct_writers_commit(spark, cat, sessions):
    a, b = sessions
    a.execute("BEGIN")
    a.execute("INSERT INTO t1 VALUES (2)")
    # a syncer-style writer commits straight to the catalog, without a lock
    append_rows(spark, cat, "public", "t2",
                spark.createDataFrame([(20,)], "id bigint"))
    assert _ids(b, "t2") == [10, 20]
    a.execute("ROLLBACK")
    assert _ids(b, "t2") == [10, 20]
    assert _ids(b, "t1") == [1]
    assert _files_on_disk(cat) == _referenced(cat)


def test_autocommit_write_does_not_wait_on_an_open_block(sessions):
    a, b = sessions
    a.execute("BEGIN")
    a.execute("INSERT INTO t1 VALUES (2)")
    t = threading.Thread(target=b.execute, daemon=True,
                         args=("INSERT INTO t2 VALUES (30)",))
    t.start()
    t.join(timeout=30)
    assert not t.is_alive(), "B's INSERT waited on A's idle block"
    assert _ids(b, "t2") == [10, 30]
    a.execute("COMMIT")
    assert _ids(b, "t1") == [1, 2]


def test_rollback_moves_no_counter_and_keeps_other_plans(cat, sessions):
    a, b = sessions
    cached = b.execute("SELECT id FROM t3")
    assert b.execute("SELECT id FROM t3") is cached
    before = cat.snapshot_state()["versions"]
    a.execute("BEGIN")
    a.execute("INSERT INTO t1 VALUES (2)")
    a.execute("ROLLBACK")
    assert cat.snapshot_state()["versions"] == before
    assert b.execute("SELECT id FROM t3") is cached
    # nor does the COMMIT of a block that wrote nothing
    a.execute("BEGIN")
    assert _ids(a, "t1") == [1]
    a.execute("COMMIT")
    assert cat.snapshot_state()["versions"] == before


def test_commit_conflict_is_40001_and_leaves_nothing(spark, cat, sessions):
    a, b = sessions
    a.execute("BEGIN")
    a.execute("INSERT INTO t1 VALUES (2)")
    a.execute("UPDATE t2 SET id = 11")
    append_rows(spark, cat, "public", "t1",
                spark.createDataFrame([(3,)], "id bigint"))
    state = cat.snapshot_state()
    with pytest.raises(CommitConflict) as exc:
        a.execute("COMMIT")
    assert exc.value.sqlstate == "40001"
    assert cat.snapshot_state() == state
    assert _files_on_disk(cat) == _referenced(cat)
    # the failed COMMIT ended the block: A reads the committed state
    assert a._txn is None
    assert _ids(a, "t1") == [1, 3] and _ids(a, "t2") == [10]


def test_rollback_to_forgets_what_the_table_was_staged_against(spark, cat, sessions):
    a, b = sessions
    a.execute("BEGIN")
    a.execute("SAVEPOINT s")
    a.execute("INSERT INTO t1 VALUES (2)")
    a.execute("ROLLBACK TO SAVEPOINT s")
    append_rows(spark, cat, "public", "t1",
                spark.createDataFrame([(3,)], "id bigint"))
    # t1 reads latest committed again, so this write stages against it
    a.execute("INSERT INTO t1 VALUES (4)")
    a.execute("COMMIT")
    assert _ids(b, "t1") == [1, 3, 4]
    assert _files_on_disk(cat) == _referenced(cat)


def test_create_table_in_a_block_is_invisible_until_commit(sessions):
    a, b = sessions
    listed = "SELECT relname FROM pg_class WHERE relname = 'fresh'"
    a.execute("BEGIN")
    a.execute("CREATE TABLE fresh (id bigint)")
    a.execute("INSERT INTO fresh VALUES (7)")
    assert _ids(a, "fresh") == [7]
    assert len(a.execute(listed).collect()) == 1
    with pytest.raises(Exception):
        b.execute("SELECT id FROM fresh").collect()
    assert b.execute(listed).collect() == []
    a.execute("COMMIT")
    assert _ids(b, "fresh") == [7]
    assert len(b.execute(listed).collect()) == 1


@pytest.mark.parametrize("begin, end, committed", [
    ("BEGIN WORK", "COMMIT WORK", True),
    ("BEGIN TRANSACTION", "COMMIT TRANSACTION", True),
    ("START TRANSACTION", "END", True),
    ("BEGIN", "END WORK", True),
    ("BEGIN", "END TRANSACTION", True),
    ("BEGIN", "ABORT", False),
    ("BEGIN", "ABORT WORK", False),
    ("BEGIN", "ROLLBACK WORK", False),
    ("BEGIN", "ROLLBACK TRANSACTION", False),
])
def test_transaction_control_spellings(sessions, begin, end, committed):
    a, b = sessions
    a.execute(begin)
    a.execute("INSERT INTO t1 VALUES (2)")
    assert a.execute(end)._pg_tag == ("COMMIT" if committed else "ROLLBACK")
    assert a._txn is None
    assert _ids(b, "t1") == ([1, 2] if committed else [1])


@pytest.mark.parametrize("stmt", ["DISCARD ALL", "VACUUM", "VACUUM FULL t1"])
def test_refused_inside_a_block(cat, sessions, stmt):
    a, b = sessions
    a.execute("BEGIN")
    a.execute("INSERT INTO t1 VALUES (2)")
    snapshots = cat.snapshots("public", "t1")
    with pytest.raises(UnsupportedQueryError) as exc:
        a.execute(stmt)
    assert exc.value.sqlstate == "25001"
    # the block stays open and nothing ran
    assert _ids(a, "t1") == [1, 2]
    assert _ids(b, "t1") == [1]
    assert cat.snapshots("public", "t1") == snapshots
    a.execute("ROLLBACK")
    assert _ids(a, "t1") == [1]

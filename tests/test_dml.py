"""DML over catalog tables: INSERT / ON CONFLICT / UPDATE / DELETE.

Session-level routing plus wire-level tags. The reference server is read-only
(writes happen in its syncers); this surface maps client DML onto the same
bucketed-MERGE machinery, so a 1-row upsert touches one partition directory.
"""

from __future__ import annotations

import pytest

from bemidb_spark.pgcompat.session import PgSession, UnsupportedQueryError
from bemidb_spark.sources.catalog import Catalog
from bemidb_spark.sources.writer import (
    read_table,
    replace_table,
    write_bucketed_table,
)


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def test_insert_values_appends(spark, cat):
    replace_table(cat, "public", "t", spark.createDataFrame(
        [(1, "a")], "id bigint, name string"))
    pg = PgSession(spark, cat)
    df = pg.execute("INSERT INTO t (id, name) VALUES (2, 'b'), (3, 'c')")
    assert df._pg_tag == "INSERT 0 2"
    got = {r.id: r.name for r in read_table(spark, cat, "public", "t").collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    # column subset -> NULL fill; SELECT through the session sees new rows
    pg.execute("INSERT INTO t (id) VALUES (4)")
    assert pg.execute("SELECT count(*) AS n FROM t").collect()[0].n == 4
    assert pg.execute(
        "SELECT name FROM t WHERE id = 4").collect()[0].name is None


def test_insert_on_conflict_do_update_is_upsert(spark, cat):
    write_bucketed_table(spark, cat, "public", "u", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, v string"), ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    df = pg.execute(
        "INSERT INTO u (k, v) VALUES (2, 'B'), (5, 'E') "
        "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v")
    assert df._pg_tag == "INSERT 0 2"
    got = {r.k: r.v for r in read_table(spark, cat, "public", "u").collect()}
    assert got == {1: "a", 2: "B", 5: "E"}


def test_insert_on_conflict_arbitrary_set_merges_old_row(spark, cat):
    """Arbitrary SET expressions: bare columns bind to the OLD row,
    EXCLUDED.col to the proposed row (pg scoping), unmatched rows insert."""
    write_bucketed_table(spark, cat, "public", "m", spark.createDataFrame(
        [(1, "a", 10)], "k bigint, v string, cnt bigint"), ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    df = pg.execute(
        "INSERT INTO m (k, v, cnt) VALUES (1, 'A', 1), (2, 'b', 1) "
        "ON CONFLICT (k) DO UPDATE SET v = v || '+' || EXCLUDED.v, "
        "cnt = cnt + EXCLUDED.cnt RETURNING k, v, cnt")
    assert df._pg_tag == "INSERT 0 2"
    got = {(r.k): (r.v, r.cnt) for r in df.collect()}
    assert got == {1: ("a+A", 11), 2: ("b", 1)}  # merged vs fresh insert
    stored = {r.k: (r.v, r.cnt)
              for r in read_table(spark, cat, "public", "m").collect()}
    assert stored == got


def test_on_conflict_set_binds_target_qualified_column(spark, cat):
    """pg spells the existing row in ON CONFLICT … SET by the target's name:
    `kv.n`, `public.kv.n`, `"kv"."n"`, or the alias under
    `INSERT INTO kv AS t`. Each binds to the OLD row, as the bare `n` the
    router also accepts does; the DO UPDATE WHERE gate scopes the same way."""
    write_bucketed_table(spark, cat, "public", "kv", spark.createDataFrame(
        [(1, 10), (2, 20)], "k bigint, n bigint"), ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    for set_clause in ("n = kv.n + 1", "n = public.kv.n + 1",
                       'n = "kv"."n" + 1', "n = n + 1"):
        df = pg.execute("INSERT INTO kv (k, n) VALUES (1, 0) "
                        f"ON CONFLICT (k) DO UPDATE SET {set_clause}")
        assert df._pg_tag == "INSERT 0 1", set_clause
    df = pg.execute("INSERT INTO kv AS t (k, n) VALUES (1, 0) "
                    "ON CONFLICT (k) DO UPDATE SET n = t.n + 1")
    assert df._pg_tag == "INSERT 0 1"
    df = pg.execute(
        "INSERT INTO kv AS t (k, n) VALUES (2, 5), (3, 7) "
        "ON CONFLICT (k) DO UPDATE SET n = t.n + EXCLUDED.n WHERE t.n < 0")
    assert df._pg_tag == "INSERT 0 1"  # key 2 gated out, key 3 inserted
    got = {r.k: r.n for r in read_table(spark, cat, "public", "kv").collect()}
    assert got == {1: 15, 2: 20, 3: 7}
    assert pg.execute("SELECT sum(n) AS s FROM kv").collect()[0].s == 42


def test_insert_on_conflict_do_nothing(spark, cat):
    replace_table(cat, "public", "n", spark.createDataFrame(
        [(1, "a")], "k bigint, v string"))
    pg = PgSession(spark, cat)
    df = pg.execute(
        "INSERT INTO n (k, v) VALUES (1, 'DUP'), (2, 'b') "
        "ON CONFLICT (k) DO NOTHING")
    assert df._pg_tag == "INSERT 0 1"  # pg counts only inserted rows
    got = {r.k: r.v for r in read_table(spark, cat, "public", "n").collect()}
    assert got == {1: "a", 2: "b"}


def test_update_where(spark, cat):
    write_bucketed_table(spark, cat, "public", "w", spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k bigint, v string, x bigint"), ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    df = pg.execute("UPDATE w SET v = upper(v), x = x + 1 WHERE k >= 2")
    assert df._pg_tag == "UPDATE 2"
    got = {r.k: (r.v, r.x) for r in read_table(spark, cat, "public", "w").collect()}
    assert got == {1: ("a", 10), 2: ("B", 21), 3: ("C", 31)}
    assert pg.execute("UPDATE w SET v = 'z' WHERE k = 99")._pg_tag == "UPDATE 0"


def test_delete_where(spark, cat):
    write_bucketed_table(spark, cat, "public", "d", spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"), ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    df = pg.execute("DELETE FROM d WHERE k % 2 = 0")
    assert df._pg_tag == "DELETE 5"
    assert sorted(r.k for r in read_table(spark, cat, "public", "d").collect()) \
        == [1, 3, 5, 7, 9]
    # unbucketed full-rewrite path
    replace_table(cat, "public", "d2", spark.createDataFrame(
        [(1,), (2,)], "k bigint"))
    assert pg.execute("DELETE FROM d2 WHERE k = 1")._pg_tag == "DELETE 1"
    assert [r.k for r in read_table(spark, cat, "public", "d2").collect()] == [2]


def test_returning_clause(spark, cat):
    """RETURNING rows are pinned BEFORE the mutation (a lazy plan would
    re-read the rewritten table) and carry the DML tag for the wire."""
    write_bucketed_table(spark, cat, "public", "r", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, v string"), ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    df = pg.execute("INSERT INTO r (k, v) VALUES (3, 'c') RETURNING k, upper(v) AS vv")
    assert df._pg_tag == "INSERT 0 1" and df._pg_returning
    assert [(r.k, r.vv) for r in df.collect()] == [(3, "C")]
    df = pg.execute("UPDATE r SET v = v || '!' WHERE k <= 2 RETURNING *")
    assert df._pg_tag == "UPDATE 2"
    assert sorted((r.k, r.v) for r in df.collect()) == [(1, "a!"), (2, "b!")]
    df = pg.execute("DELETE FROM r WHERE k = 1 RETURNING k")
    assert df._pg_tag == "DELETE 1"
    assert [r.k for r in df.collect()] == [1]
    assert sorted(r.k for r in read_table(spark, cat, "public", "r").collect()) == [2, 3]


def test_dml_over_wire(spark, tmp_path):
    from bemidb_spark.server.wire import WireServer
    from tests.pg_client import MiniPgClient

    cat = Catalog(str(tmp_path / "wh"))
    write_bucketed_table(spark, cat, "public", "items", spark.createDataFrame(
        [(1, "one")], "id bigint, label string"), ["id"], n_buckets=4)
    srv = WireServer(spark, cat)
    srv.start()
    c = MiniPgClient(srv.host, srv.port)
    try:
        r = c.query("INSERT INTO items (id, label) VALUES (2, 'two')")
        assert r["tags"] == ["INSERT 0 1"] and r["columns"] == [], r
        r = c.query("UPDATE items SET label = 'TWO' WHERE id = 2")
        assert r["tags"] == ["UPDATE 1"], r
        # extended protocol with a parameter
        r = c.extended_query("DELETE FROM items WHERE id = $1", [1])
        assert r["tags"] == ["DELETE 1"] and r["errors"] == [], r
        r = c.query("SELECT id, label FROM items")
        assert r["rows"] == [["2", "TWO"]], r
        # RETURNING over the wire: result set + DML tag
        r = c.query("INSERT INTO items (id, label) VALUES (9, 'nine') RETURNING id")
        assert r["rows"] == [["9"]] and r["tags"] == ["INSERT 0 1"], r
        r = c.extended_query("DELETE FROM items WHERE id = $1 RETURNING label", [9])
        assert r["rows"] == [["nine"]] and r["tags"] == ["DELETE 1"], r
    finally:
        c.close()
        srv.stop()


def test_vacuum_and_analyze(spark, cat):
    replace_table(cat, "public", "vt", spark.range(1000).repartition(8))
    pg = PgSession(spark, cat)
    # a rewrite leaves a superseded snapshot behind
    replace_table(cat, "public", "vt", spark.range(2000).repartition(8))
    assert len(cat.snapshots("public", "vt")) >= 1
    assert pg.execute("ANALYZE vt").columns == ["ANALYZE"]
    pg.execute("VACUUM vt")
    assert cat.snapshots("public", "vt") == []
    pg.execute("VACUUM FULL vt")
    assert len(cat.files("public", "vt")) == 1  # 2000 rows -> one right-sized file
    assert pg.execute("SELECT count(*) AS n FROM vt").collect()[0].n == 2000


def test_create_table_as_and_drop(spark, cat):
    replace_table(cat, "public", "src", spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"))
    pg = PgSession(spark, cat)
    df = pg.execute("CREATE TABLE derived AS SELECT k, upper(v) AS vv FROM src WHERE k > 1")
    assert df._pg_tag == "SELECT 2"
    assert pg.execute("SELECT count(*) AS n FROM derived").collect()[0].n == 2
    # typed empty table + insert into it
    pg.execute("CREATE TABLE fresh (id bigint NOT NULL, label text, due date)")
    assert pg.execute("SELECT count(*) AS n FROM fresh").collect()[0].n == 0
    pg.execute("INSERT INTO fresh (id, label, due) VALUES (1, 'x', '2024-06-01'::date)")
    row = pg.execute("SELECT id, label, due FROM fresh").collect()[0]
    assert (row.id, row.label, str(row.due)) == (1, "x", "2024-06-01")
    pg.execute("DROP TABLE derived")
    with pytest.raises(UnsupportedQueryError, match="does not exist"):
        pg.execute("DROP TABLE derived")
    pg.execute("DROP TABLE IF EXISTS derived")  # no error


def test_insert_select_and_cte_insert(spark, cat):
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE src (id bigint, v text)")
    pg.execute("INSERT INTO src VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    pg.execute("CREATE TABLE dst (id bigint, v text, extra int)")
    d = pg.execute("INSERT INTO dst (id, v) SELECT id, upper(v) FROM src WHERE id <= 2")
    assert d._pg_tag == "INSERT 0 2"
    got = {r.id: r.v for r in pg.execute("SELECT * FROM dst").collect()}
    assert got == {1: "A", 2: "B"}
    # CTE-prefixed INSERT with RETURNING
    d = pg.execute(
        "WITH big AS (SELECT id + 10 AS id, v FROM src WHERE id = 3) "
        "INSERT INTO dst (id, v) SELECT id, v FROM big RETURNING id"
    )
    assert d._pg_tag == "INSERT 0 1"
    assert [r.id for r in d.collect()] == [13]
    # INSERT ... SELECT ... ON CONFLICT upserts
    pg.execute("INSERT INTO src VALUES (1, 'conflict')")
    d = pg.execute(
        "INSERT INTO dst (id, v) SELECT id, v FROM src WHERE id = 1 AND v = 'conflict' "
        "ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v"
    )
    assert d._pg_tag == "INSERT 0 1"
    assert pg.execute("SELECT v FROM dst WHERE id = 1").collect()[0].v == "conflict"


def test_update_from_join(spark, cat):
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE accounts (id bigint, balance bigint, flag text)")
    pg.execute("INSERT INTO accounts VALUES (1, 100, 'x'), (2, 200, 'x'), (3, 300, 'x')")
    pg.execute("CREATE TABLE adjustments (id bigint, delta bigint)")
    pg.execute("INSERT INTO adjustments VALUES (1, 5), (3, -7)")
    d = pg.execute(
        "UPDATE accounts SET balance = accounts.balance + a.delta "
        "FROM adjustments a WHERE accounts.id = a.id"
    )
    assert d._pg_tag == "UPDATE 2"
    got = {r.id: r.balance for r in pg.execute("SELECT * FROM accounts").collect()}
    assert got == {1: 105, 2: 200, 3: 293}
    # alias form + RETURNING projects the updated target row
    d = pg.execute(
        "UPDATE accounts AS t SET flag = a.delta || '!' "
        "FROM adjustments a WHERE t.id = a.id AND a.delta > 0 RETURNING flag"
    )
    assert d._pg_tag == "UPDATE 1"
    assert [r.flag for r in d.collect()] == ["5!"]


def test_delete_using_join(spark, cat):
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE evts (id bigint, kind text)")
    pg.execute("INSERT INTO evts VALUES (1, 'keep'), (2, 'drop'), (3, 'drop'), (4, 'keep')")
    pg.execute("CREATE TABLE kill (id bigint)")
    pg.execute("INSERT INTO kill VALUES (2), (3), (99)")
    d = pg.execute("DELETE FROM evts USING kill WHERE evts.id = kill.id")
    assert d._pg_tag == "DELETE 2"
    assert sorted(r.id for r in pg.execute("SELECT id FROM evts").collect()) == [1, 4]


def test_transaction_rollback_restores_all(spark, cat):
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE txt (id bigint, v text)")
    pg.execute("INSERT INTO txt VALUES (1, 'keep')")
    pg.execute("BEGIN")
    pg.execute("INSERT INTO txt VALUES (2, 'gone')")  # append path
    pg.execute("UPDATE txt SET v = 'mutated' WHERE id = 1")  # rewrite path
    pg.execute("CREATE TABLE tx_scratch (x int)")  # DDL
    assert pg.execute("SELECT count(*) AS n FROM txt").collect()[0].n == 2
    pg.execute("ROLLBACK")
    rows = pg.execute("SELECT * FROM txt").collect()
    assert [(r.id, r.v) for r in rows] == [(1, "keep")]
    with pytest.raises(Exception):
        pg.execute("SELECT * FROM tx_scratch").collect()


def test_transaction_commit_is_durable_and_stray_rollback_noop(spark, cat):
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE txc (id bigint)")
    pg.execute("BEGIN")
    pg.execute("INSERT INTO txc VALUES (1)")
    pg.execute("COMMIT")
    pg.execute("ROLLBACK")  # no open txn: pg warns + no-op
    assert pg.execute("SELECT count(*) AS n FROM txc").collect()[0].n == 1


def test_large_returning_stays_off_driver(spark, cat):
    """RETURNING pins rows executor-side (localCheckpoint), not via a driver
    collect — the result plan must scan a pinned RDD, not the (now-swapped)
    table files, and a wide UPDATE..RETURNING must stream correctly."""
    n = 50_000
    replace_table(cat, "public", "bigret", spark.range(n).selectExpr(
        "id", "cast(id % 97 as string) AS v"))
    pg = PgSession(spark, cat)
    df = pg.execute(f"UPDATE bigret SET v = 'x' || v WHERE id < {n} RETURNING *")
    # pinned off the table: plan reads a checkpointed RDD, not parquet
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "parquet" not in plan.lower()
    rows = df.count()
    assert rows == n
    sample = df.orderBy("id").limit(3).collect()
    assert [r.v for r in sample] == ["x0", "x1", "x2"]


def test_rollback_spares_other_sessions_committed_writes(spark, cat):
    """Session A's ROLLBACK must not clobber a write that session B
    committed while A's transaction was open. B's autocommit INSERT does
    not wait on A's open block; after A's ROLLBACK only A's own writes are
    undone."""
    import threading

    pg_a = PgSession(spark, cat)
    pg_b = PgSession(spark, cat)
    pg_a.execute("CREATE TABLE conc (id bigint, who text)")
    pg_a.execute("INSERT INTO conc VALUES (0, 'base')")
    pg_a.execute("BEGIN")
    pg_a.execute("INSERT INTO conc VALUES (1, 'a-txn')")

    t = threading.Thread(target=pg_b.execute, daemon=True,
                         args=("INSERT INTO conc VALUES (2, 'b-autocommit')",))
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "an autocommit write must not wait on an open block"
    pg_a.execute("ROLLBACK")
    got = {(r.id, r.who) for r in pg_b.execute("SELECT * FROM conc").collect()}
    assert got == {(0, "base"), (2, "b-autocommit")}


def test_dispose_aborts_txn_and_releases_lock(spark, cat):
    """Connection death mid-transaction rolls back and unblocks others."""
    pg_a = PgSession(spark, cat)
    pg_b = PgSession(spark, cat)
    pg_a.execute("CREATE TABLE disp (id bigint)")
    pg_a.execute("BEGIN")
    pg_a.execute("INSERT INTO disp VALUES (1)")
    pg_a.dispose()  # simulates socket teardown (wire.py _serve_conn finally)
    # lock released: B's write proceeds immediately, A's insert is gone
    pg_b.execute("INSERT INTO disp VALUES (2)")
    assert [r.id for r in pg_b.execute("SELECT id FROM disp").collect()] == [2]


def test_drop_table_unbinds_views(spark, cat):
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE dropme (id bigint)")
    pg.execute("INSERT INTO dropme VALUES (1)")
    assert pg.execute("SELECT count(*) AS n FROM dropme").collect()[0].n == 1
    pg.execute("DROP TABLE dropme")
    with pytest.raises(Exception):
        pg.execute("SELECT * FROM dropme").collect()


def test_savepoints_nested_rollback(spark, cat):
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE sp (id bigint)")
    pg.execute("BEGIN")
    pg.execute("INSERT INTO sp VALUES (1)")
    pg.execute("SAVEPOINT s1")
    pg.execute("INSERT INTO sp VALUES (2)")
    pg.execute("SAVEPOINT s2")
    pg.execute("INSERT INTO sp VALUES (3)")
    pg.execute("ROLLBACK TO SAVEPOINT s2")
    assert pg.execute("SELECT count(*) AS n FROM sp").collect()[0].n == 2
    pg.execute("ROLLBACK TO s1")  # drops s2
    assert pg.execute("SELECT count(*) AS n FROM sp").collect()[0].n == 1
    with pytest.raises(UnsupportedQueryError, match="does not exist"):
        pg.execute("ROLLBACK TO s2")
    pg.execute("SAVEPOINT s3")
    pg.execute("RELEASE SAVEPOINT s3")
    with pytest.raises(UnsupportedQueryError, match="does not exist"):
        pg.execute("ROLLBACK TO s3")
    pg.execute("COMMIT")
    assert pg.execute("SELECT count(*) AS n FROM sp").collect()[0].n == 1
    with pytest.raises(UnsupportedQueryError, match="transaction blocks"):
        pg.execute("SAVEPOINT outside")


def test_plain_views_lifecycle(spark, cat):
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE vb (id bigint, v text)")
    pg.execute("INSERT INTO vb VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    pg.execute("CREATE VIEW vv1 AS SELECT id, upper(v) AS vv FROM public.vb WHERE id > 1")
    assert [tuple(r) for r in pg.execute("SELECT * FROM vv1 ORDER BY id").collect()] == [
        (2, "B"), (3, "C")]
    # view over view; logical (tracks table mutations without refresh)
    pg.execute("CREATE VIEW vv2 AS SELECT count(*) AS n FROM public.vv1")
    assert pg.execute("SELECT n FROM vv2").collect()[0].n == 2
    pg.execute("INSERT INTO vb VALUES (4, 'd')")
    assert pg.execute("SELECT n FROM vv2").collect()[0].n == 3
    # introspection: relkind 'v', information_schema VIEW + definition
    kinds = {r.relname: r.relkind for r in pg.execute(
        "SELECT relname, relkind FROM pg_class WHERE relname IN ('vv1','vv2','vb')"
    ).collect()}
    assert kinds == {"vv1": "v", "vv2": "v", "vb": "r"}
    assert pg.execute(
        "SELECT table_type FROM information_schema.tables WHERE table_name = 'vv1'"
    ).collect()[0].table_type == "VIEW"
    # OR REPLACE changes the definition; DROP removes resolution
    pg.execute("CREATE OR REPLACE VIEW vv1 AS SELECT id FROM public.vb")
    assert pg.execute("SELECT * FROM vv1").columns == ["id"]
    pg.execute("DROP VIEW vv2")
    with pytest.raises(Exception):
        pg.execute("SELECT * FROM vv2").collect()
    with pytest.raises(UnsupportedQueryError, match="does not exist"):
        pg.execute("DROP VIEW vv2")
    pg.execute("DROP VIEW IF EXISTS vv2")  # no error


def test_cursor_insert_replay_tag(spark, cat):
    """The assertions moved OUT of the driver entry dml_cursor_append_route
    (VERDICT r6: entries are pure final-state SELECTs): a replayed cursor
    batch tags INSERT 0 0, adds no files, and bumps no catalog version —
    and the cursor probe folds to a parquet-footer literal (no scalar-
    subquery aggregate inside the write job)."""
    from bemidb_spark.pgcompat.dml import _fold_cursor_probe

    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE evc AS SELECT id AS event_id, id * 2 AS v "
               "FROM range(0, 50)")
    batch = ("INSERT INTO evc SELECT id AS event_id, id * 2 AS v "
             "FROM range(0, {hi}) "
             "WHERE id > (SELECT max(event_id) FROM evc)")
    assert pg.execute(batch.format(hi=80))._pg_tag == "INSERT 0 30"
    # probe folds to the footer-stats literal, not a subquery
    folded = _fold_cursor_probe(
        cat, "public", "evc",
        "SELECT id FROM range(0, 99) WHERE id > (SELECT max(event_id) FROM evc)")
    assert "(SELECT" not in folded and "79" in folded
    version = cat.version()
    replay = pg.execute(batch.format(hi=80))
    assert replay._pg_tag == "INSERT 0 0"
    assert cat.version() == version  # no-op replay: no commit
    assert pg.execute("SELECT count(*) AS n, max(event_id) AS m FROM evc"
                      ).collect()[0][:] == (80, 79)


def test_matview_stale_until_refresh(spark, cat):
    """The stale-read assertion moved OUT of the driver entry
    dml_matview_refresh_route: a matview serves its CREATE-time contents
    after base-table DML until REFRESH MATERIALIZED VIEW recomputes it."""
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE mb AS SELECT id, id % 3 AS g FROM range(0, 30)")
    pg.execute("CREATE MATERIALIZED VIEW mvg AS "
               "SELECT g, count(*) AS n FROM mb GROUP BY g")
    pg.execute("INSERT INTO mb SELECT id, id % 3 AS g FROM range(30, 60)")
    stale = pg.execute("SELECT sum(n) AS t FROM mvg").collect()[0].t
    assert stale == 30, f"matview must stay stale-pinned, saw {stale}"
    pg.execute("REFRESH MATERIALIZED VIEW mvg")
    assert pg.execute("SELECT sum(n) AS t FROM mvg").collect()[0].t == 60


def test_merge_full_surface(spark, cat):
    """pg15 MERGE: UPDATE / DELETE / conditional clauses / INSERT, first
    applicable clause wins, tag counts every affected row."""
    replace_table(cat, "public", "acct", spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k bigint, v string, bal bigint"))
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE delta AS SELECT * FROM (VALUES "
               "(2, 'B', 5), (3, 'C', -1), (5, 'E', 50), (6, 'F', -9)"
               ") AS t(k, v, bal)")
    df = pg.execute("""
        MERGE INTO acct a USING delta d ON a.k = d.k
        WHEN MATCHED AND d.bal < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = d.v, bal = a.bal + d.bal
        WHEN NOT MATCHED AND d.bal > 0 THEN INSERT (k, v, bal) VALUES (d.k, d.v, d.bal)
    """)
    # affected: k=2 update, k=3 delete, k=5 insert (k=6 fails the AND) = 3
    assert df._pg_tag == "MERGE 3"
    got = {r.k: (r.v, r.bal) for r in
           pg.execute("SELECT * FROM acct").collect()}
    assert got == {1: ("a", 10), 2: ("B", 25), 4: ("d", 40), 5: ("E", 50)}


def test_merge_bucketed_target_keeps_layout(spark, cat):
    """MERGE on a key-bucketed target re-buckets the result so later pruned
    upserts still work."""
    write_bucketed_table(spark, cat, "public", "bt", spark.createDataFrame(
        [(1, 10), (2, 20)], "k bigint, n bigint"), ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE src AS SELECT * FROM (VALUES (2, 1), (9, 90)) "
               "AS t(k, n)")
    assert pg.execute(
        "MERGE INTO bt USING src ON bt.k = src.k "
        "WHEN MATCHED THEN UPDATE SET n = bt.n + src.n "
        "WHEN NOT MATCHED THEN INSERT VALUES (src.k, src.n)"
    )._pg_tag == "MERGE 2"
    assert cat.table_props("public", "bt").get("bucket_keys") == ["k"]
    # pruned path still works after the merge
    pg.execute("INSERT INTO bt VALUES (9, 0) "
               "ON CONFLICT (k) DO UPDATE SET n = EXCLUDED.n")
    got = {r.k: r.n for r in read_table(spark, cat, "public", "bt").collect()}
    assert got == {1: 10, 2: 21, 9: 0}


def test_merge_duplicate_source_match_errors(spark, cat):
    replace_table(cat, "public", "one", spark.createDataFrame(
        [(1, "x")], "k bigint, v string"))
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE dup AS SELECT * FROM (VALUES (1, 'p'), (1, 'q')) "
               "AS t(k, v)")
    with pytest.raises(UnsupportedQueryError,
                       match="cannot affect row a second time"):
        pg.execute("MERGE INTO one USING dup ON one.k = dup.k "
                   "WHEN MATCHED THEN UPDATE SET v = dup.v")


def test_update_key_column_on_bucketed_table_drops_stale_layout(spark, cat):
    """An UPDATE that rewrites a bucketed table's key column falls back to an
    unbucketed swap — the stale bucket-layout prop must not survive (a later
    'pruned' MERGE would look for a partition column that no longer exists)."""
    write_bucketed_table(spark, cat, "public", "kb", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, v string"), ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    pg.execute("UPDATE kb SET k = k + 100 WHERE k = 1")
    assert "bucket_keys" not in cat.table_props("public", "kb")
    # the formerly-pruned path now takes the unbucketed fallback, correctly
    pg.execute("INSERT INTO kb VALUES (2, 'B') "
               "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v")
    got = {r.k: r.v for r in read_table(spark, cat, "public", "kb").collect()}
    assert got == {101: "a", 2: "B"}


def test_on_conflict_do_update_where_gates_rows(spark, cat):
    """pg: DO UPDATE ... WHERE cond updates only the conflicting rows the
    condition accepts (bare cols = target row, EXCLUDED.* = proposed row);
    gated-out rows keep old values and do NOT count in the tag."""
    write_bucketed_table(spark, cat, "public", "g", spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k bigint, n bigint"), ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    df = pg.execute(
        "INSERT INTO g (k, n) VALUES (1, 11), (2, 5), (3, 99), (4, 40) "
        "ON CONFLICT (k) DO UPDATE SET n = EXCLUDED.n "
        "WHERE EXCLUDED.n > n")
    # k=1: 11>10 update; k=2: 5>20 no; k=3: 99>30 update; k=4 insert -> 3
    assert df._pg_tag == "INSERT 0 3"
    got = {r.k: r.n for r in read_table(spark, cat, "public", "g").collect()}
    assert got == {1: 11, 2: 20, 3: 99, 4: 40}


def test_pgvector_literal_and_column_type(spark, cat):
    """pgvector ecosystem surface: `vector(n)` column type (stored as a
    double array) and `'[...]'::vector` literal casts feeding the
    <#> distance operator."""
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE vecs (id bigint, v vector(3))")
    pg.execute("INSERT INTO vecs VALUES (1, '[1,0,0]'::vector), "
               "(2, '[0,1,0]'::vector), (3, '[0.5,0.5,0]'::vector)")
    rows = pg.execute("SELECT id, v <#> '[1,0,0]'::vector AS nd "
                      "FROM vecs ORDER BY nd, id").collect()
    assert [r.id for r in rows] == [1, 3, 2]
    assert abs(rows[0].nd + 1.0) < 1e-9


def test_incremental_matview_delta_counts(spark, cat):
    """The delta-count / no-op assertions moved OUT of the driver entry
    dml_incremental_matview_route (VERDICT r7 #7: entries are pure
    final-state SELECTs): each refresh processes exactly the rows past the
    stored cursor, an unchanged source is a zero-row no-op that bumps no
    catalog version, and the folded contents equal a full recompute."""
    from pyspark.sql import functions as F

    from bemidb_spark.sources.matview import (
        create_incremental_matview,
        read_materialized_view,
        refresh_incremental_matview,
    )

    base = spark.range(0, 90).selectExpr(
        "id AS k", "id % 4 AS g", "id * 3 AS v")

    def snap(hi):
        return base.where(F.col("k") < hi)

    aggs = {"n": ("count", "*"), "tot": ("sum", "v"),
            "lo": ("min", "k"), "hi": ("max", "k")}
    create_incremental_matview(
        spark, cat, "inc_t", snap(50), ["g"], aggs, cursor_col="k")
    assert refresh_incremental_matview(spark, cat, "inc_t", snap(70)) == 20
    version = cat.version()
    assert refresh_incremental_matview(spark, cat, "inc_t", snap(70)) == 0
    assert cat.version() == version  # empty delta: nothing rewritten
    assert refresh_incremental_matview(spark, cat, "inc_t", snap(90)) == 20
    got = {r.g: (r.n, r.tot, r.lo, r.hi)
           for r in read_materialized_view(spark, cat, "inc_t").collect()}
    want = {r.g: (r.n, r.tot, r.lo, r.hi)
            for r in base.groupBy("g").agg(
                F.count("*").alias("n"), F.sum("v").alias("tot"),
                F.min("k").alias("lo"), F.max("k").alias("hi")).collect()}
    assert got == want


def _merge_digests(cat, table):
    """path -> content digest of every file in public.<table>'s live list."""
    import hashlib

    out = {}
    for p in cat.files("public", table):
        with open(p, "rb") as fh:
            out[p] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_merge_bucketed_rewrites_only_affected_buckets(spark, cat):
    """VERDICT r7 #2: a k-row MERGE on a key-bucketed target (equi-ON over
    the bucket keys) must leave untouched buckets' parquet files
    byte-identical — only buckets the source keys hash into are
    rewritten."""
    from bemidb_spark.sources.catalog import bucket_of
    from bemidb_spark.sources.writer import _bucket_expr

    base = spark.range(200).selectExpr("id AS k", "id * 10 AS n")
    write_bucketed_table(spark, cat, "public", "mb", base, ["k"], n_buckets=8)
    before = _merge_digests(cat, "mb")
    assert sorted(bucket_of(p) for p in before) == list(range(8))

    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE mdelta AS SELECT * FROM (VALUES "
               "(3, 999), (11, -1), (1003, 7)) AS t(k, n)")
    assert pg.execute(
        "MERGE INTO mb USING mdelta d ON mb.k = d.k "
        "WHEN MATCHED AND d.n < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET n = d.n "
        "WHEN NOT MATCHED THEN INSERT VALUES (d.k, d.n)"
    )._pg_tag == "MERGE 3"

    after = _merge_digests(cat, "mb")
    touched = {
        r[0] for r in spark.createDataFrame([(3,), (11,), (1003,)], "k bigint")
        .select(_bucket_expr(["k"], 8).alias("b")).distinct().collect()
    }
    # untouched buckets: the same paths in the list, the same bytes on disk
    assert {p: d for p, d in after.items() if bucket_of(p) not in touched} \
        == {p: d for p, d in before.items() if bucket_of(p) not in touched}
    # bucket layout survives the pruned write (later pruned upserts work)
    assert cat.table_props("public", "mb").get("bucket_keys") == ["k"]
    rows = {r.k: r.n for r in read_table(spark, cat, "public", "mb").collect()}
    assert rows[3] == 999 and 11 not in rows and rows[1003] == 7
    assert len(rows) == 200


def test_merge_second_match_do_nothing_is_not_an_error(spark, cat):
    """pg raises 21000 only when a target row is UPDATEd/DELETEd twice; a
    second source match that cascades to DO NOTHING is legal (ADVICE r7)."""
    replace_table(cat, "public", "one2", spark.createDataFrame(
        [(1, "x")], "k bigint, v string"))
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE dup2 AS SELECT * FROM (VALUES "
               "(1, 'p', 1), (1, 'q', 2)) AS t(k, v, pri)")
    df = pg.execute(
        "MERGE INTO one2 USING dup2 d ON one2.k = d.k "
        "WHEN MATCHED AND d.pri = 1 THEN UPDATE SET v = d.v "
        "WHEN MATCHED THEN DO NOTHING")
    assert df._pg_tag == "MERGE 1"
    # exactly ONE copy of the target row survives (the updated one) — the
    # duplicate joined copy from the DO NOTHING match must be collapsed
    rows = pg.execute("SELECT v FROM one2").collect()
    assert [r.v for r in rows] == ["p"]


def test_merge_key_mutating_update_falls_back_safely(spark, cat):
    """An UPDATE that moves a row into a bucket outside the read slice must
    NOT dynamic-overwrite (it would clobber that bucket's rows) — detected
    at write time, falls back to a full re-bucketed rewrite."""
    base = spark.range(64).selectExpr("id AS k", "id AS n")
    write_bucketed_table(spark, cat, "public", "km", base, ["k"], n_buckets=8)
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE ksrc AS SELECT * FROM (VALUES (5, 0)) AS t(k, n)")
    pg.execute("MERGE INTO km USING ksrc d ON km.k = d.k "
               "WHEN MATCHED THEN UPDATE SET k = km.k + 1000")
    rows = {r.k for r in read_table(spark, cat, "public", "km").collect()}
    assert 5 not in rows and 1005 in rows and len(rows) == 64


def test_merge_theta_on_uses_unpruned_path(spark, cat):
    """A MERGE whose ON does not equate every bucket key with a source-side
    expression cannot prune — it must still produce the right final state."""
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k bigint, n bigint")
    write_bucketed_table(spark, cat, "public", "th", base, ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE thsrc AS SELECT * FROM (VALUES (2, 5)) AS t(k, d)")
    # ON km.k >= src.k would double-match; use an equality on a NON-key expr
    pg.execute("MERGE INTO th USING thsrc s ON th.n = s.k * 10 "
               "WHEN MATCHED THEN UPDATE SET n = th.n + s.d")
    got = {r.k: r.n for r in read_table(spark, cat, "public", "th").collect()}
    assert got == {1: 10, 2: 25, 3: 30}


def test_on_conflict_where_returning_omits_gated_rows(spark, cat):
    """pg RETURNING on ON CONFLICT DO UPDATE ... WHERE emits only rows
    actually inserted or updated — gate-rejected conflicts are silent
    (ADVICE r7)."""
    write_bucketed_table(spark, cat, "public", "gr", spark.createDataFrame(
        [(1, 10), (2, 20)], "k bigint, n bigint"), ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    df = pg.execute(
        "INSERT INTO gr (k, n) VALUES (1, 99), (2, 5), (7, 70) "
        "ON CONFLICT (k) DO UPDATE SET n = EXCLUDED.n "
        "WHERE EXCLUDED.n > n RETURNING k, n")
    # k=1: 99>10 update; k=2: 5>20 gated OUT; k=7 insert
    assert df._pg_tag == "INSERT 0 2"
    got = sorted((r.k, r.n) for r in df.collect())
    assert got == [(1, 99), (7, 70)]


def test_merge_returning_with_merge_action(spark, cat):
    """pg17 MERGE ... RETURNING: one row per inserted/updated/deleted row,
    merge_action() names the fired clause; DO NOTHING rows are silent;
    DELETE rows return the OLD row values."""
    replace_table(cat, "public", "mr", spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k bigint, bal bigint"))
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE mrd AS SELECT * FROM (VALUES "
               "(1, 5), (2, -1), (4, 40), (9, 0)) AS t(k, d)")
    df = pg.execute("""
        MERGE INTO mr t USING mrd d ON t.k = d.k
        WHEN MATCHED AND d.d < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET bal = t.bal + d.d
        WHEN NOT MATCHED AND d.d > 0 THEN INSERT VALUES (d.k, d.d)
        RETURNING merge_action() AS act, k, bal
    """)
    assert df._pg_tag == "MERGE 3"
    got = sorted((r.act, r.k, r.bal) for r in df.collect())
    # k=1 updated to 15; k=2 deleted (old bal 20); k=4 inserted; k=9 silent
    assert got == [("DELETE", 2, 20), ("INSERT", 4, 40), ("UPDATE", 1, 15)]
    stored = {r.k: r.bal for r in read_table(spark, cat, "public", "mr").collect()}
    assert stored == {1: 15, 3: 30, 4: 40}


def test_merge_empty_source_bucketed_is_noop(spark, cat):
    """A no-op CDC batch — MERGE with an EMPTY source against a bucketed
    target — must return MERGE 0 and leave every target file byte-identical
    (ADVICE r8: the pruned path used to IndexError on the empty keyed
    aggregate)."""
    base = spark.range(50).selectExpr("id AS k", "id * 2 AS n")
    write_bucketed_table(spark, cat, "public", "mes", base, ["k"], n_buckets=4)
    before = _merge_digests(cat, "mes")
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE mes_src AS SELECT CAST(1 AS BIGINT) AS k, "
               "CAST(1 AS BIGINT) AS n WHERE 1 = 0")
    df = pg.execute(
        "MERGE INTO mes USING mes_src d ON mes.k = d.k "
        "WHEN MATCHED THEN UPDATE SET n = d.n "
        "WHEN NOT MATCHED THEN INSERT VALUES (d.k, d.n)")
    assert df._pg_tag == "MERGE 0"
    assert _merge_digests(cat, "mes") == before
    # RETURNING over an empty merge: zero rows, schema intact
    df2 = pg.execute(
        "MERGE INTO mes USING mes_src d ON mes.k = d.k "
        "WHEN MATCHED THEN UPDATE SET n = d.n RETURNING k, n")
    assert df2._pg_tag == "MERGE 0" and df2.count() == 0
    assert [f.name for f in df2.schema.fields] == ["k", "n"]


def test_merge_empty_source_unbucketed_is_noop(spark, cat):
    replace_table(cat, "public", "meu", spark.createDataFrame(
        [(1, 10)], "k bigint, n bigint"))
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE meu_src AS SELECT CAST(1 AS BIGINT) AS k, "
               "CAST(1 AS BIGINT) AS n WHERE 1 = 0")
    df = pg.execute("MERGE INTO meu USING meu_src d ON meu.k = d.k "
                    "WHEN MATCHED THEN DELETE")
    assert df._pg_tag == "MERGE 0"
    assert {r.k: r.n for r in read_table(
        spark, cat, "public", "meu").collect()} == {1: 10}


def test_merge_key_sources_rejects_disjunctive_on():
    """ADVICE r8: ``ON t.k = d.k OR d.flag`` must NOT be taken as a key
    equality — the rhs of the ``=`` split is a boolean, not the key's
    source value, so pruning over it would be unsound."""
    from bemidb_spark.pgcompat.dml import _merge_key_sources

    assert _merge_key_sources("__t_k = __s_k", ["k"]) == {"k": "__s_k"}
    assert _merge_key_sources("__t_k = __s_k AND __s_n > 1", ["k"]) \
        == {"k": "__s_k"}
    assert _merge_key_sources("__t_k = __s_k OR __s_flag", ["k"]) is None
    assert _merge_key_sources("__t_k = __s_k OR NOT __s_flag", ["k"]) is None
    assert _merge_key_sources("__t_k = __s_k > 3", ["k"]) is None
    assert _merge_key_sources("__t_k = (__s_k)", ["k"]) == {"k": "(__s_k)"}
    # parenthesized boolean structure inside the rhs is still scalar-shaped
    # at top level only when wrapped — a bare comparison is rejected
    assert _merge_key_sources("__t_k = __s_a + __s_b", ["k"]) \
        == {"k": "__s_a + __s_b"}


def test_merge_disjunctive_on_executes_unpruned(spark, cat):
    """End-to-end: a MERGE whose ON contains a top-level OR runs on the
    full-join path and produces pg-correct results."""
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k bigint, n bigint")
    write_bucketed_table(spark, cat, "public", "mor", base, ["k"], n_buckets=4)
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE mor_src AS SELECT * FROM (VALUES "
               "(2, 5)) AS t(k, d)")
    df = pg.execute(
        "MERGE INTO mor USING mor_src s ON mor.k = s.k OR mor.k = s.d - 4 "
        "WHEN MATCHED THEN UPDATE SET n = mor.n + 1")
    # s row (2,5) matches k=2 (k=s.k) and k=1 (k=s.d-4): both updated
    assert df._pg_tag == "MERGE 2"
    got = {r.k: r.n for r in read_table(spark, cat, "public", "mor").collect()}
    assert got == {1: 11, 2: 21, 3: 30}


def test_bucket_stats_matches_brute_force(spark, cat):
    """The fused per-bucket aggregation (dml._bucket_stats: matched count +
    affected buckets in ONE job, r10) must agree with the separate
    derivations it replaced, including the bucket-fully-emptied and
    nothing-matched edges."""
    from pyspark.sql import functions as F

    from bemidb_spark.pgcompat.dml import _bucket_stats
    from bemidb_spark.sources.writer import _affected_buckets, read_table

    rows = [(i, "even" if i % 2 == 0 else "odd") for i in range(40)]
    write_bucketed_table(
        spark, cat, "public", "bs", spark.createDataFrame(
            rows, "k bigint, tag string"), ["k"], n_buckets=4)
    current = read_table(spark, cat, "public", "bs")

    for cond_sql in ("k % 2 = 0",      # partial hits in every bucket
                     "tag = 'odd'",    # ditto, via the non-key column
                     "k >= 0",         # everything dies: all buckets emptied
                     "k < 0"):         # nothing matches
        cond = F.expr(cond_sql)
        stats = _bucket_stats(cat, "public", "bs", ["k"], current, cond)
        assert stats is not None
        n, buckets = stats
        matched = current.filter(cond)
        assert n == matched.count(), cond_sql
        assert buckets == _affected_buckets(matched, ["k"], 4), cond_sql
    # unbucketed table -> None (callers fall back to the separate actions)
    replace_table(cat, "public", "flat", spark.createDataFrame(
        [(1,)], "k bigint"))
    flat = read_table(spark, cat, "public", "flat")
    assert _bucket_stats(cat, "public", "flat", ["k"], flat, F.expr("k = 1")) is None

"""pg_catalog / information_schema emulation views.

The reference boots its engine with a full fake pg_catalog: 16 empty tables,
12 views including a ~90-row pg_type, plus information_schema views (B5/B6 —
reference query_remapper_table.go:275-775). Spark has none of this, so the
same surface is emulated with temp views seeded from:

- static rows (pg_roles, pg_database, pg_settings, pg_type's common entries),
- the engine catalog (`Catalog`) and the session's registered temp views
  (pg_class / pg_attribute / pg_namespace / information_schema_*).

Views are registered as ``pg_<name>`` / ``information_schema_<name>``; the
transpiler routes ``pg_catalog.pg_class`` → ``pg_class`` etc. (B3/B4).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import SparkSession

from bemidb_spark.sources.catalog import Catalog

# The reference reads both from config/env (config.go:61); tests there run
# with user "user". Overridable so a deployment (or the parity harness)
# matches its source cluster's identity.
PG_USER = os.environ.get("BEMIDB_SPARK_USER", "bemidb")
PG_DATABASE = os.environ.get("BEMIDB_SPARK_DATABASE", "bemidb")

_SPARK_TO_PG_TYPE = {
    "boolean": "bool",
    "tinyint": "int2",
    "smallint": "int2",
    "int": "int4",
    "bigint": "int8",
    "float": "float4",
    "double": "float8",
    "string": "text",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "binary": "bytea",
}


def pg_type_name(spark_type: str) -> str:
    t = spark_type.lower()
    if t.startswith("decimal"):
        return "numeric"
    if t.startswith("array"):
        return "_" + pg_type_name(t[6:-1])
    return _SPARK_TO_PG_TYPE.get(t, "text")


# logical source-type tags → the udt_name introspection reports for the
# stored column (matches the reference's stored-type reporting for types it
# widens: time/timetz → time µs-long, json/jsonb → json string,
# pg_schema_column.go:49-99)
_TAG_UDT = {
    "time": "time", "timetz": "time", "json": "json", "jsonb": "json",
    "_json": "_json", "_jsonb": "_json",
}


def _udt_name(spark_type: str, pg_tag: str | None) -> str:
    if pg_tag:
        if pg_tag.startswith("vector"):
            return "vector"
        mapped = _TAG_UDT.get(pg_tag)
        if mapped:
            return mapped
    return pg_type_name(spark_type)


# pg type name -> (oid, SQL-standard display name used by format_type()).
_PG_TYPE_INFO = {
    "bool": (16, "boolean"), "bytea": (17, "bytea"), "char": (18, '"char"'),
    "name": (19, "name"), "int8": (20, "bigint"), "int2": (21, "smallint"),
    "int4": (23, "integer"), "text": (25, "text"), "oid": (26, "oid"),
    "json": (114, "json"), "float4": (700, "real"),
    "float8": (701, "double precision"), "bpchar": (1042, "character"),
    "varchar": (1043, "character varying"), "date": (1082, "date"),
    "time": (1083, "time without time zone"),
    "timestamp": (1114, "timestamp without time zone"),
    "timestamptz": (1184, "timestamp with time zone"),
    "interval": (1186, "interval"), "timetz": (1266, "time with time zone"),
    "numeric": (1700, "numeric"), "uuid": (2950, "uuid"), "jsonb": (3802, "jsonb"),
    # common array types
    "_bool": (1000, "boolean[]"), "_bytea": (1001, "bytea[]"),
    "_int2": (1005, "smallint[]"), "_int4": (1007, "integer[]"),
    "_text": (1009, "text[]"), "_varchar": (1015, "character varying[]"),
    "_int8": (1016, "bigint[]"), "_float4": (1021, "real[]"),
    "_float8": (1022, "double precision[]"), "_numeric": (1231, "numeric[]"),
    "_timestamp": (1115, "timestamp without time zone[]"),
    "_date": (1182, "date[]"), "_timestamptz": (1185, "timestamp with time zone[]"),
    # pgvector's type (extension oids are installation-assigned; a fixed
    # >16384 oid here, like our table oids). pgvector client libraries
    # probe `SELECT oid FROM pg_type WHERE typname = 'vector'` to register
    # their codec — serving the row makes them bind; storage is _float8.
    "vector": (16700, "vector"),
}


def pg_type_oid(pg_name: str) -> int:
    return _PG_TYPE_INFO.get(pg_name, _PG_TYPE_INFO["text"])[0]


# Always-empty pg_catalog tables, column-for-column with the reference's boot
# DDL (query_remapper_table.go:275-293) so any client introspection query
# against them returns zero rows instead of erroring.
_EMPTY_TABLES: dict[str, str] = {
    "pg_inherits": "inhrelid bigint, inhparent bigint, inhseqno int, inhdetachpending boolean",
    "pg_shdescription": "objoid bigint, classoid bigint, description string",
    "pg_statio_user_tables": (
        "relid bigint, schemaname string, relname string, heap_blks_read bigint, "
        "heap_blks_hit bigint, idx_blks_read bigint, idx_blks_hit bigint, "
        "toast_blks_read bigint, toast_blks_hit bigint, tidx_blks_read bigint, "
        "tidx_blks_hit bigint"
    ),
    "pg_replication_slots": (
        "slot_name string, plugin string, slot_type string, datoid bigint, "
        "database string, temporary boolean, active boolean, active_pid int, "
        "xmin bigint, catalog_xmin bigint, restart_lsn string, "
        "confirmed_flush_lsn string, wal_status string, safe_wal_size bigint, "
        "two_phase boolean, conflicting boolean"
    ),
    "pg_stat_gssapi": (
        "pid int, gss_authenticated boolean, principal string, "
        "encrypted boolean, credentials_delegated boolean"
    ),
    "pg_auth_members": (
        "oid string, roleid bigint, member bigint, grantor bigint, "
        "admin_option boolean, inherit_option boolean, set_option boolean"
    ),
    "pg_opclass": (
        "oid bigint, opcmethod bigint, opcname string, opcnamespace bigint, "
        "opcowner bigint, opcfamily bigint, opcintype bigint, "
        "opcdefault boolean, opckeytype bigint"
    ),
    "pg_policy": (
        # polroles is oid[] in pg — psql 15's \d runs `oid = ANY(pol.polroles)`
        # and `pol.polroles = '{0}'`, both of which need a real array type to
        # analyze (verified live against the psql 15.18 binary)
        "oid bigint, polname string, polrelid bigint, polcmd string, "
        "polpermissive boolean, polroles array<bigint>, polqual string, "
        "polwithcheck string"
    ),
    "pg_statistic_ext": (
        # stxkeys is int2vector / stxkind char[] in pg — psql's \d+ extended-
        # stats arm element-tests both, so they must be arrays to analyze
        "oid bigint, stxrelid bigint, stxname string, stxnamespace bigint, "
        "stxowner bigint, stxstattarget int, stxkeys array<smallint>, "
        "stxkind array<string>, stxexprs string"
    ),
    "pg_publication": (
        "oid bigint, pubname string, pubowner bigint, puballtables boolean, "
        "pubinsert boolean, pubupdate boolean, pubdelete boolean, "
        "pubtruncate boolean, pubviaroot boolean"
    ),
    "pg_publication_rel": (
        # prattrs is an int2vector in pg — typed as an array so clients'
        # `prattrs::int2[]` casts and element access analyze cleanly
        "oid bigint, prpubid bigint, prrelid bigint, prqual string, "
        "prattrs array<smallint>"
    ),
    "pg_publication_namespace": "oid bigint, pnpubid bigint, pnnspid bigint",
    "pg_rewrite": (
        "oid bigint, rulename string, ev_class bigint, ev_type string, "
        "ev_enabled string, is_instead boolean, ev_qual string, ev_action string"
    ),
    "pg_enum": "oid bigint, enumtypid bigint, enumsortorder float, enumlabel string",
    # --- catalogs pg_dump 15 walks when collecting dumpable objects (all
    # legitimately empty for a parquet-backed analytics replica: no casts,
    # operators, triggers, FDWs, sequences, or procedural languages exist).
    # Schemas follow pg 15's documented catalog shapes; aclitem[]/oidvector/
    # int2vector map to arrays so element ops analyze.
    "pg_depend": (
        "classid bigint, objid bigint, objsubid int, refclassid bigint, "
        "refobjid bigint, refobjsubid int, deptype string"
    ),
    "pg_default_acl": (
        "oid bigint, defaclrole bigint, defaclnamespace bigint, "
        "defaclobjtype string, defaclacl array<string>"
    ),
    "pg_init_privs": (
        "objoid bigint, classoid bigint, objsubid int, privtype string, "
        "initprivs array<string>"
    ),
    "pg_seclabel": (
        "objoid bigint, classoid bigint, objsubid int, provider string, "
        "label string"
    ),
    "pg_shseclabel": (
        "objoid bigint, classoid bigint, provider string, label string"
    ),
    # pg_seclabels is pg's aggregating VIEW over the seclabel catalogs
    # (pg_dump reads it directly)
    "pg_db_role_setting": (
        "setdatabase bigint, setrole bigint, setconfig array<string>"
    ),
    "pg_seclabels": (
        "objoid bigint, classoid bigint, objsubid int, objtype string, "
        "objnamespace bigint, objname string, provider string, label string"
    ),
    "pg_cast": (
        "oid bigint, castsource bigint, casttarget bigint, castfunc bigint, "
        "castcontext string, castmethod string"
    ),
    "pg_operator": (
        "oid bigint, oprname string, oprnamespace bigint, oprowner bigint, "
        "oprkind string, oprcanmerge boolean, oprcanhash boolean, "
        "oprleft bigint, oprright bigint, oprresult bigint, oprcom bigint, "
        "oprnegate bigint, oprcode string, oprrest string, oprjoin string"
    ),
    "pg_aggregate": (
        "aggfnoid bigint, aggkind string, aggnumdirectargs smallint, "
        "aggtransfn string, aggfinalfn string, aggcombinefn string, "
        "aggserialfn string, aggdeserialfn string, aggmtransfn string, "
        "aggminvtransfn string, aggmfinalfn string, aggfinalextra boolean, "
        "aggmfinalextra boolean, aggfinalmodify string, aggmfinalmodify string, "
        "aggsortop bigint, aggtranstype bigint, aggtransspace int, "
        "aggmtranstype bigint, aggmtransspace int, agginitval string, "
        "aggminitval string"
    ),
    "pg_language": (
        "oid bigint, lanname string, lanowner bigint, lanispl boolean, "
        "lanpltrusted boolean, lanplcallfoid bigint, laninline bigint, "
        "lanvalidator bigint, lanacl array<string>"
    ),
    "pg_largeobject_metadata": (
        "oid bigint, lomowner bigint, lomacl array<string>"
    ),
    "pg_event_trigger": (
        "oid bigint, evtname string, evtevent string, evtowner bigint, "
        "evtfoid bigint, evtenabled string, evttags array<string>"
    ),
    "pg_foreign_data_wrapper": (
        "oid bigint, fdwname string, fdwowner bigint, fdwhandler bigint, "
        "fdwvalidator bigint, fdwacl array<string>, fdwoptions array<string>"
    ),
    "pg_foreign_server": (
        "oid bigint, srvname string, srvowner bigint, srvfdw bigint, "
        "srvtype string, srvversion string, srvacl array<string>, "
        "srvoptions array<string>"
    ),
    "pg_foreign_table": (
        "ftrelid bigint, ftserver bigint, ftoptions array<string>"
    ),
    "pg_sequence": (
        "seqrelid bigint, seqtypid bigint, seqstart bigint, "
        "seqincrement bigint, seqmax bigint, seqmin bigint, seqcache bigint, "
        "seqcycle boolean"
    ),
    "pg_partitioned_table": (
        "partrelid bigint, partstrat string, partnatts smallint, "
        "partdefid bigint, partattrs array<smallint>, "
        "partclass array<bigint>, partcollation array<bigint>, "
        "partexprs string"
    ),
    "pg_range": (
        "rngtypid bigint, rngsubtype bigint, rngmultitypid bigint, "
        "rngcollation bigint, rngsubopc bigint, rngcanonical string, "
        "rngsubdiff string"
    ),
    "pg_transform": (
        "oid bigint, trftype bigint, trflang bigint, trffromsql string, "
        "trftosql string"
    ),
    "pg_ts_config": (
        "oid bigint, cfgname string, cfgnamespace bigint, cfgowner bigint, "
        "cfgparser bigint"
    ),
    "pg_ts_config_map": (
        "mapcfg bigint, maptokentype int, mapseqno int, mapdict bigint"
    ),
    "pg_ts_dict": (
        "oid bigint, dictname string, dictnamespace bigint, dictowner bigint, "
        "dicttemplate bigint, dictinitoption string"
    ),
    "pg_ts_parser": (
        "oid bigint, prsname string, prsnamespace bigint, prsstart string, "
        "prstoken string, prsend string, prsheadline string, prslextype string"
    ),
    "pg_ts_template": (
        "oid bigint, tmplname string, tmplnamespace bigint, tmplinit string, "
        "tmpllexize string"
    ),
    "pg_conversion": (
        "oid bigint, conname string, connamespace bigint, conowner bigint, "
        "conforencoding int, contoencoding int, conproc string, "
        "condefault boolean"
    ),
    "pg_trigger": (
        "oid bigint, tgrelid bigint, tgparentid bigint, tgname string, "
        "tgfoid bigint, tgtype smallint, tgenabled string, "
        "tgisinternal boolean, tgconstrrelid bigint, tgconstrindid bigint, "
        "tgconstraint bigint, tgdeferrable boolean, tginitdeferred boolean, "
        "tgnargs smallint, tgattr array<smallint>, tgargs string, "
        "tgqual string, tgoldtable string, tgnewtable string"
    ),
    "pg_opfamily": (
        "oid bigint, opfmethod bigint, opfname string, opfnamespace bigint, "
        "opfowner bigint"
    ),
    "pg_amop": (
        "oid bigint, amopfamily bigint, amoplefttype bigint, "
        "amoprighttype bigint, amopstrategy smallint, amoppurpose string, "
        "amopopr bigint, amopmethod bigint, amopsortfamily bigint"
    ),
    "pg_amproc": (
        "oid bigint, amprocfamily bigint, amproclefttype bigint, "
        "amprocrighttype bigint, amprocnum smallint, amproc string"
    ),
    "pg_subscription": (
        "oid bigint, subdbid bigint, subskiplsn string, subname string, "
        "subowner bigint, subenabled boolean, subbinary boolean, "
        "substream string, subtwophasestate string, subdisableonerr boolean, "
        "subconninfo string, subslotname string, subsynccommit string, "
        "subpublications array<string>"
    ),
}


def format_type_case_sql(oid_expr: str) -> str:
    """CASE expression mapping a type oid to pg's format_type() display name —
    the inline-fold emulation of the reference's format_type macro
    (query_remapper_function.go:14-112)."""
    whens = " ".join(
        f"WHEN {oid} THEN '{disp}'"
        for oid, disp in sorted(set(_PG_TYPE_INFO.values()))
        if "'" not in disp
    )
    return f"(CASE CAST({oid_expr} AS BIGINT) {whens} ELSE 'text' END)"


def _table_inventory(spark: SparkSession, catalog: Catalog | None) -> list[tuple]:
    """(schema, table, [(col, sparktype, nullable, pg_tag)]) for catalog +
    temp views. pg_tag is the logical source-type tag (time/json/interval/…)
    the write path records, or None."""
    out = []
    if catalog is not None:
        for key, entry in catalog.tables().items():
            schema, table = key.split(".", 1)
            cols = [(c["name"], c["type"], c.get("nullable", True), c.get("pg"))
                    for c in entry["columns"]]
            out.append((schema, table, cols))
    seen = {t for _, t, _ in out}
    # SHOW VIEWS (single command) instead of catalog.listTables (which
    # fetches full metadata per table) — this runs on every connection setup
    for tbl in spark.sql("SHOW VIEWS").collect():
        name = tbl.viewName
        if name == "user":  # emulation view (`SELECT * FROM user`), not a table
            continue
        if tbl.isTemporary and not name.startswith(("pg_", "information_schema_")):
            if name in seen or "_" in name and tuple(name.split("_", 1)) in {
                (sch, t) for sch, t, _ in out
            }:
                continue
            try:
                fields = spark.table(name).schema.fields
            except Exception:  # noqa: BLE001 — view over a dropped relation
                continue
            cols = [
                (f.name, f.dataType.simpleString(), f.nullable,
                 f.metadata.get("pg_type"))
                for f in fields
            ]
            out.append(("public", name, cols))
    return out


# Bare view names the binder created (vs user/session temp views): a bare
# `<table>` is bound when free or already the binder's, so a table swap
# re-points it and a dropped table's bare view goes with it.
_BOUND_BARE_NAMES: set[str] = set()


def bind_catalog_table(spark: SparkSession, key: str, entry: dict | None) -> bool:
    """Make one catalog table resolvable by name at the snapshot ``entry``
    points at (the reference's B3 role: schema.table -> engine-readable
    relation, query_remapper_table.go:93-110): `<schema>_<table>` always,
    bare `<table>` when free or bound by the binder. ``entry`` None (the
    table left the catalog) unbinds both. False when the location is gone
    (dropped mid-flight)."""
    schema, table = key.split(".", 1)
    if entry is None:
        spark.catalog.dropTempView(f"{schema}_{table}")
        if table in _BOUND_BARE_NAMES:
            spark.catalog.dropTempView(table)
        return True
    try:
        df = spark.read.parquet(entry["location"])
    except Exception:  # noqa: BLE001 — location vanished
        return False
    df.createOrReplaceTempView(f"{schema}_{table}")
    if table in _BOUND_BARE_NAMES or not any(
        v.isTemporary and v.viewName == table
        for v in spark.sql(f"SHOW VIEWS LIKE '{table}'").collect()
    ):
        df.createOrReplaceTempView(table)
        _BOUND_BARE_NAMES.add(table)
    return True


def bind_catalog_views(
    spark: SparkSession, views: dict[str, dict], bound: set[str],
    qualify: Callable[[str], str],
) -> set[str]:
    """Bind every plain (non-materialized) catalog view as `<schema>_<name>`
    and `<name>`: each is re-planned over the currently bound tables, in
    dependency order (views over views retry next pass); ``qualify`` maps
    `schema.table` references to the bound names. Names in ``bound`` (the
    previous call's result) whose view left the catalog are dropped.
    Returns the names bound now."""
    from bemidb_spark.pgcompat.transpiler import transpile

    live: set[str] = set()
    pending = list(views.items())
    for _ in range(len(pending) + 1):
        still = []
        for key, entry in pending:
            schema, name = key.split(".", 1)
            try:
                df = spark.sql(transpile(qualify(entry["definition"])))
            except Exception:
                still.append((key, entry))
                continue
            for view in (f"{schema}_{name}", name):
                df.createOrReplaceTempView(view)
                live.add(view)
            _BOUND_BARE_NAMES.add(name)
        if not still:
            break
        pending = still
    for name in bound - live:
        spark.catalog.dropTempView(name)
    return live


# Every session-independent emulation view _register_emulation_views
# creates, by name (bound catalog tables and views are NOT here — their
# bind/unbind semantics are per-session). Used to capture analyzed plans
# for the fast re-registration path; test_pgcompat's
# test_pg_catalog_fast_registration_matches_slow guards against drift.
_STATIC_VIEW_NAMES = [
    "pg_namespace", "pg_class", "pg_attribute", "pg_type", "pg_user",
    "pg_roles", "pg_database", "pg_settings", "pg_extension", "user",
    "pg_proc", "pg_tablespace", "pg_am", "pg_attrdef", "pg_index",
    "pg_description", "pg_constraint", "pg_collation", "pg_shadow",
    "pg_matviews", "pg_views", "pg_stat_user_tables", "pg_stat_activity",
    "pg_locks", "pg_stat_database", "pg_keywords_view",
    "information_schema_tables", "information_schema_columns",
    "information_schema_schemata", "information_schema_views",
    "information_schema_table_constraints",
    "information_schema_key_column_usage",
    "information_schema_referential_constraints",
] + list(_EMPTY_TABLES)

# The inventory/catalog-derived subset of _STATIC_VIEW_NAMES — rebuilt on
# every schema_version bump; everything else is session-independent and
# skipped once registered (static_done).
_DYNAMIC_VIEW_NAMES = [
    "pg_namespace", "pg_class", "pg_attribute", "pg_matviews", "pg_views",
    "pg_stat_user_tables", "information_schema_tables",
    "information_schema_columns", "information_schema_schemata",
    "information_schema_views",
]

# (key, {view name -> analyzed logical plan}). The emulation views are fully
# determined by (catalog root + schema_version, table inventory), so their
# ANALYZED plans — all rooted in LocalRelations — are session-portable:
# re-registering ~45 views in a fresh per-connection SparkSession drops from
# ~1.4 s of parse/analysis to ~0.1 s of plan wrapping. This is the dominant
# term of wire-connection setup (PgSession isolate=True). Stored as ONE
# (key, plans) tuple so concurrent connection threads read an atomic
# snapshot (no lock needed: replacement is a single assignment).
_PLAN_CACHE: list = [None]  # [(key, {name: plan})] or [None]

def register_pg_catalog(spark: SparkSession, catalog: Catalog | None = None) -> None:
    """(Re)build every emulation view from the current catalog + session
    state. Callers decide when: PgSession registers on first use and again
    only when the catalog's schema_version moves. Catalog tables are bound
    separately (bind_catalog_table); the inventory lists them from the
    catalog itself."""
    # schema_version read BEFORE the inventory: a DDL racing this call can
    # only make the cache key older than the content, never newer
    schema_version = catalog.schema_version() if catalog is not None else -1
    inventory = _table_inventory(spark, catalog)
    key = (
        catalog.root if catalog is not None else None,
        schema_version,
        tuple((s, t, tuple(map(tuple, cols))) for s, t, cols in inventory),
    )
    snapshot = _PLAN_CACHE[0]
    if snapshot is not None and snapshot[0] == key:
        try:
            jspark = spark._jsparkSession
            ofrows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
            for name, plan in snapshot[1].items():
                ofrows(jspark, plan).createOrReplaceTempView(name)
            return
        except Exception:  # noqa: BLE001 — internal API drift: rebuild fully
            pass
    # A session that already holds the static set rebuilds only the
    # inventory-derived views and reuses the static plans from the previous
    # snapshot (~10 views instead of ~80).
    try:
        static_done = spark.catalog.tableExists("pg_keywords_view")
    except Exception:  # noqa: BLE001 — rebuild the static set too
        static_done = False
    prior = snapshot[1] if (static_done and snapshot is not None) else None
    if prior is not None and not all(n in prior for n in _STATIC_VIEW_NAMES):
        prior = None
    if prior is None:
        static_done = False
    _register_emulation_views(spark, catalog, inventory, static_done=static_done)
    try:
        capture = _DYNAMIC_VIEW_NAMES if prior is not None else _STATIC_VIEW_NAMES
        plans = dict(prior) if prior is not None else {}
        plans.update({
            name: spark.table(name)._jdf.queryExecution().analyzed()
            for name in capture
        })
        _PLAN_CACHE[0] = (key, plans)
    except Exception:  # noqa: BLE001 — capture failure only disables the cache
        _PLAN_CACHE[0] = None


# pg attlen per type name (fixed byte widths; -1 = varlena)
_TYPLEN_ATT = {"bool": 1, "char": 1, "int2": 2, "int4": 4, "oid": 4,
               "float4": 4, "date": 4, "int8": 8, "float8": 8, "time": 8,
               "timestamp": 8, "timestamptz": 8, "timetz": 12,
               "interval": 16, "uuid": 16, "name": 64}

# pg's own catalog-relation oids (pg_catalog.pg_class rows for the catalogs
# themselves) — the values `tableoid` yields on a real server. Only catalogs
# that are TABLES in pg belong here; pg views (pg_roles, pg_settings, …) have
# no tableoid and clients never ask for one.
_CATALOG_TABLEOIDS = {
    "pg_namespace": 2615, "pg_class": 1259, "pg_attribute": 1249,
    "pg_type": 1247, "pg_proc": 1255, "pg_database": 1262,
    "pg_extension": 3079, "pg_am": 2601, "pg_attrdef": 2604,
    "pg_index": 2610, "pg_description": 2609, "pg_constraint": 2606,
    "pg_collation": 3456, "pg_tablespace": 1213, "pg_inherits": 2611,
    "pg_shdescription": 2396, "pg_auth_members": 1261, "pg_opclass": 2616,
    "pg_policy": 3256, "pg_statistic_ext": 3381, "pg_publication": 6104,
    "pg_publication_rel": 6106, "pg_publication_namespace": 6237,
    "pg_rewrite": 2618, "pg_enum": 3501, "pg_depend": 2608,
    "pg_default_acl": 826, "pg_init_privs": 3394, "pg_seclabel": 3596,
    "pg_shseclabel": 3592, "pg_cast": 2605, "pg_operator": 2617,
    "pg_aggregate": 2600, "pg_language": 2612,
    "pg_largeobject_metadata": 2995, "pg_event_trigger": 3466,
    "pg_foreign_data_wrapper": 2328, "pg_foreign_server": 1417,
    "pg_foreign_table": 3118, "pg_sequence": 2224,
    "pg_partitioned_table": 3350, "pg_range": 3541, "pg_transform": 3576,
    "pg_ts_config": 3602, "pg_ts_config_map": 3603, "pg_ts_dict": 3600,
    "pg_ts_parser": 3601, "pg_ts_template": 3764, "pg_conversion": 2607,
    "pg_trigger": 2620, "pg_opfamily": 2753, "pg_amop": 2602,
    "pg_amproc": 2603, "pg_subscription": 6100, "pg_db_role_setting": 2964,
}


def _empty_relation(spark: SparkSession, ddl: str):
    """Schema-typed EMPTY relation as a LocalRelation (via WHERE 1=0), NOT
    ``createDataFrame([], ddl)``: the latter is RDD-backed, so Catalyst
    cannot prove it empty — PropagateEmptyRelation then can't collapse
    correlated subqueries over these catalogs, and one reference golden
    (pg_index indclass[1] in a JOIN ON) hits a Spark codegen hole on the
    surviving outer reference."""
    from pyspark.sql.types import StructType

    cols = ", ".join(
        f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}"
        for f in StructType.fromDDL(ddl).fields
    )
    return spark.sql(f"SELECT {cols} WHERE 1 = 0")


def _register_emulation_views(
    spark: SparkSession, catalog: Catalog | None, inventory: list[tuple],
    static_done: bool = False,
) -> None:
    """Build every emulation view from the given inventory (slow path)."""
    # pg_namespace lists only user-visible schemas — the reference filters its
    # engine's system schemas the same way (query_remapper_table.go:309-310),
    # and psql's own \d queries exclude pg_catalog/information_schema by name
    # anyway, so hiding them here matches both pg tooling and the reference.
    schemas = sorted({s for s, _, _ in inventory} | {"public"})
    # System schemas ride along with their real pg oids: pg_dump resolves
    # every collected object's namespace oid against pg_namespace and aborts
    # on a miss ("schema with OID 11 does not exist" — verified live; real pg
    # lists these rows too). psql's \d-family queries exclude them BY NAME,
    # so \dn/\dt output is unchanged; the one reference golden that surfaces
    # the difference is a documented deviation (ref_parity_deviations).
    spark.createDataFrame(
        [(2200 + i, s, 10, None) for i, s in enumerate(schemas)]
        + [(11, "pg_catalog", 10, None),
           (13211, "information_schema", 10, None)],
        "oid bigint, nspname string, nspowner bigint, nspacl array<string>",
    ).createOrReplaceTempView("pg_namespace")

    ns_oid = {s: 2200 + i for i, s in enumerate(schemas)}
    matview_names = set()
    view_names = set()
    if catalog is not None:
        matview_names = {k.split(".", 1)[1] for k in catalog.matviews()}
        view_names = {k.split(".", 1)[1] for k in catalog.views()}
    # Full psql-introspection column set (reference seeds the same shape via
    # DDL, query_remapper_table.go:275-712); relkind 'm' matviews, 'v' views.
    classes = [
        (16384 + i, t, ns_oid[s],
         "m" if t in matview_names else ("v" if t in view_names else "r"),
         float(len(cols)), 10, False, 0, False, False, False, False, False,
         0, "p", "d", 2, 0, len(cols), 0, None, 0, None, 0, 0, True, 1)
        for i, (s, t, cols) in enumerate(inventory)
    ]
    # reltoastrelid/reloptions/relfrozenxid: psql 15's \d and \d+ describe
    # queries LEFT JOIN pg_class on reltoastrelid and render reloptions —
    # verified live against the real psql 15.18 binary (its \d errored with
    # 42703 before these columns existed). 0 / NULL = "no TOAST, no options",
    # which is truthful for parquet-backed relations.
    spark.createDataFrame(
        classes,
        "oid bigint, relname string, relnamespace bigint, relkind string, "
        "reltuples double, relowner bigint, relhasindex boolean, relchecks int, "
        "relhasrules boolean, relhastriggers boolean, relrowsecurity boolean, "
        "relforcerowsecurity boolean, relispartition boolean, reltablespace bigint, "
        "relpersistence string, relreplident string, relam bigint, reloftype bigint, "
        "relnatts int, reltoastrelid bigint, reloptions array<string>, "
        "relfrozenxid bigint, relacl array<string>, reltype bigint, "
        "relpages int, relispopulated boolean, relminmxid bigint",
    ).createOrReplaceTempView("pg_class")

    attrs = []
    for i, (s, t, cols) in enumerate(inventory):
        for pos, (cname, ctype, nullable, pg_tag) in enumerate(cols, start=1):
            if pg_tag and pg_tag.startswith("vector"):
                # pgvector: atttypmod IS the dim count (vector(n) echoes in
                # \d via format_type(atttypid, atttypmod))
                tm = re.match(r"vector\((\d+)\)", pg_tag)
                pg_name = "vector"
                typmod = int(tm.group(1)) if tm else -1
            else:
                pg_name = pg_type_name(ctype)
                typmod = -1
            fixed = pg_name in {"bool", "char", "int2", "int4", "oid",
                                "float4", "date", "int8", "float8", "time",
                                "timestamp", "timestamptz", "interval"}
            attrs.append(
                (16384 + i, cname, pos, pg_name, not nullable,
                 pg_type_oid(pg_name), typmod, False, False, "", "", 0,
                 "p" if fixed else "x", "", -1, None, None,
                 _TYPLEN_ATT.get(pg_name, -1), "i", True, None, False, None)
            )
    # attstorage/attcompression/attstattarget/attfdwoptions: psql 15's \d+
    # column query reads all four (verified live against the real binary);
    # 'x'/''/-1/NULL are pg's own defaults for varlena columns.
    spark.createDataFrame(
        attrs,
        "attrelid bigint, attname string, attnum int, atttypname string, "
        "attnotnull boolean, atttypid bigint, atttypmod int, attisdropped boolean, "
        "atthasdef boolean, attidentity string, attgenerated string, "
        "attcollation bigint, attstorage string, attcompression string, "
        "attstattarget int, attfdwoptions array<string>, attacl array<string>, "
        "attlen int, attalign string, attislocal boolean, "
        "attoptions array<string>, atthasmissing boolean, attmissingval string",
    ).createOrReplaceTempView("pg_attribute")

    if not static_done:  # session-independent catalogs (fixed content / empty)
        # pg_type: oid/name plus typlen (pg's fixed sizes; -1 = varlena) — psql,
        # pgAdmin, and drivers key on these (reference unions the same rows onto
        # DuckDB's builtin pg_type, query_remapper_table.go:346-...).
        _TYPLEN = {"bool": 1, "char": 1, "int2": 2, "int4": 4, "oid": 4,
                   "float4": 4, "date": 4, "int8": 8, "float8": 8, "time": 8,
                   "timestamp": 8, "timestamptz": 8, "timetz": 12, "interval": 16,
                   "uuid": 16, "name": 64}
        _TYPCAT = {"bool": "B", "int2": "N", "int4": "N", "int8": "N",
                   "float4": "N", "float8": "N", "numeric": "N", "oid": "N",
                   "text": "S", "varchar": "S", "bpchar": "S", "char": "S",
                   "name": "S", "date": "D", "time": "D", "timetz": "D",
                   "timestamp": "D", "timestamptz": "D", "interval": "T"}

        def _elem_of(name: str) -> int:
            # '_int4' → element oid of 'int4'; 0 for scalars
            return _PG_TYPE_INFO.get(name[1:], (0,))[0] if name.startswith("_") else 0

        def _array_of(name: str) -> int:
            # scalar → its array type's oid; 0 when no array form is registered
            return _PG_TYPE_INFO.get("_" + name, (0,))[0] if not name.startswith("_") else 0

        # Columns beyond (oid, typname, typlen, typtype): pg_dump 15's getTypes
        # reads typowner/typelem/typrelid/typacl and computes isarray from
        # typarray+typelem; drivers read typcategory/typdelim/typbasetype
        # (verified live with pg_dump 15.18 — its collection query must ANALYZE
        # even though system-oid rows are never dumped).
        spark.createDataFrame(
            [(oid, name, 0, _TYPLEN.get(name, -1), 11,
              "b",
              "A" if name.startswith("_") else _TYPCAT.get(name, "U"),
              10, _elem_of(name), _array_of(name), 0, True, False, ",",
              _TYPLEN.get(name, -1) != -1, 0, -1, 0, None, None,
              "p" if _TYPLEN.get(name, -1) != -1 else "x")
             for name, (oid, _) in sorted(_PG_TYPE_INFO.items(), key=lambda kv: kv[1][0])],
            "oid bigint, typname string, typcollation bigint, typlen int, "
            "typnamespace bigint, typtype string, typcategory string, "
            "typowner bigint, typelem bigint, typarray bigint, typrelid bigint, "
            "typisdefined boolean, typispreferred boolean, typdelim string, "
            "typbyval boolean, typbasetype bigint, typtypmod int, typndims int, "
            "typdefault string, typacl array<string>, typstorage string",
        ).createOrReplaceTempView("pg_type")

        # pg_user / pg_roles / pg_shadow carry pg's full column sets in pg's
        # column order (reference seeds identical views,
        # query_remapper_table.go:298-306).
        spark.sql(
            f"SELECT '{PG_USER}' AS usename, CAST(10 AS BIGINT) AS usesysid, "
            "true AS usecreatedb, true AS usesuper, true AS userepl, "
            "true AS usebypassrls, '' AS passwd, "
            "CAST(NULL AS TIMESTAMP) AS valuntil, "
            "CAST(NULL AS ARRAY<STRING>) AS useconfig"
        ).createOrReplaceTempView("pg_user")
        spark.sql(
            f"SELECT CAST(10 AS BIGINT) AS oid, '{PG_USER}' AS rolname, "
            "true AS rolsuper, true AS rolinherit, true AS rolcreaterole, "
            "true AS rolcreatedb, true AS rolcanlogin, false AS rolreplication, "
            "CAST(-1 AS INT) AS rolconnlimit, CAST(NULL AS STRING) AS rolpassword, "
            "CAST(NULL AS TIMESTAMP) AS rolvaliduntil, false AS rolbypassrls, "
            "CAST(NULL AS ARRAY<STRING>) AS rolconfig"
        ).createOrReplaceTempView("pg_roles")
        spark.sql(
            f"SELECT CAST(16388 AS BIGINT) AS oid, '{PG_DATABASE}' AS datname, "
            "CAST(10 AS BIGINT) AS datdba, CAST(6 AS INT) AS encoding, "
            "'c' AS datlocprovider, false AS datistemplate, true AS datallowconn, "
            "CAST(-1 AS INT) AS datconnlimit, CAST(722 AS BIGINT) AS datfrozenxid, "
            "CAST(1 AS INT) AS datminmxid, CAST(1663 AS BIGINT) AS dattablespace, "
            "'en_US.UTF-8' AS datcollate, 'en_US.UTF-8' AS datctype, "
            # daticulocale: pg15/16 name for what pg17 calls datlocale — psql 15's
            # \l selects it by that name (verified live against psql 15.18)
            "'en_US.UTF-8' AS datlocale, CAST(NULL AS STRING) AS daticulocale, "
            "CAST(NULL AS STRING) AS daticurules, "
            "CAST(NULL AS STRING) AS datcollversion, "
            "CAST(NULL AS ARRAY<STRING>) AS datacl"
        ).createOrReplaceTempView("pg_database")
        spark.createDataFrame(
            [("server_version", "17.0"), ("search_path", '"$user", public'),
             ("timezone", "UTC"), ("max_connections", "100"),
             ("default_null_order", "nulls_last")],
            "name string, setting string",
        ).createOrReplaceTempView("pg_settings")
        spark.createDataFrame(
            [(13823, "plpgsql", 10, 11, False, "1.0"),
             # the vector operator surface (<->, <=>, <#>, vector type/casts)
             # is served natively, so the extension row reports as installed —
             # ORMs and pgvector client libs gate on its presence
             (16699, "vector", 10, 2200, True, "0.7.0")],
            "oid bigint, extname string, extowner bigint, extnamespace bigint, "
            "extrelocatable boolean, extversion string",
        ).selectExpr(
            "*", "CAST(NULL AS ARRAY<STRING>) AS extconfig",
            "CAST(NULL AS ARRAY<STRING>) AS extcondition",
        ).createOrReplaceTempView("pg_extension")
        # `SELECT * FROM user` (reference: CREATE VIEW user AS SELECT config.User)
        spark.sql(f"SELECT '{PG_USER}' AS user").createOrReplaceTempView("user")
        # pg_proc: one representative row (clients mostly LEFT JOIN or LIMIT it;
        # pg_get_userbyid folds to the configured user regardless of proowner)
        # Full-ish pg_proc shape: pg_dump's getFuncs / getAggregates SELECT
        # prolang/proargtypes/proacl even when the WHERE clause excludes every
        # row, so the columns must analyze (verified live with pg_dump 15.18).
        spark.sql(
            "SELECT CAST(1 AS BIGINT) AS oid, 'version' AS proname, "
            "CAST(11 AS BIGINT) AS pronamespace, CAST(10 AS BIGINT) AS proowner, "
            "'f' AS prokind, CAST(25 AS BIGINT) AS prorettype, "
            "CAST(0 AS INT) AS pronargs, false AS proretset, "
            "CAST(12 AS BIGINT) AS prolang, CAST(0 AS INT) AS pronargdefaults, "
            "CAST(0 AS BIGINT) AS provariadic, 'i' AS provolatile, "
            "'s' AS proparallel, false AS prosecdef, false AS proleakproof, "
            "true AS proisstrict, CAST(1 AS DOUBLE) AS procost, "
            "CAST(0 AS DOUBLE) AS prorows, CAST(0 AS BIGINT) AS prosupport, "
            "CAST(array() AS ARRAY<BIGINT>) AS proargtypes, "
            "CAST(NULL AS ARRAY<BIGINT>) AS proallargtypes, "
            "CAST(NULL AS ARRAY<STRING>) AS proargmodes, "
            "CAST(NULL AS ARRAY<STRING>) AS proargnames, "
            "CAST(NULL AS STRING) AS proargdefaults, "
            "CAST(NULL AS ARRAY<BIGINT>) AS protrftypes, "
            "'version' AS prosrc, CAST(NULL AS STRING) AS probin, "
            "CAST(NULL AS STRING) AS prosqlbody, "
            "CAST(NULL AS ARRAY<STRING>) AS proconfig, "
            "CAST(NULL AS ARRAY<STRING>) AS proacl"
        ).createOrReplaceTempView("pg_proc")
        # Static empty tables — shape-faithful to the reference's boot DDL
        # (query_remapper_table.go:275-293); clients SELECT them and expect
        # zero rows, never errors.
        for name, ddl in _EMPTY_TABLES.items():
            _empty_relation(spark, ddl).createOrReplaceTempView(name)
        # pg_tablespace: the single default tablespace (clients LEFT JOIN it and
        # scan it — one row, like the engine default the reference surfaces)
        # (oid 0 / NULL name mirrors the reference's engine row, which neither
        # joins pg_database.dattablespace nor carries a name on the wire)
        spark.sql(
            "SELECT CAST(0 AS BIGINT) AS oid, CAST(NULL AS STRING) AS spcname, "
            "CAST(10 AS BIGINT) AS spcowner, CAST(NULL AS STRING) AS spcacl, "
            "CAST(NULL AS STRING) AS spcoptions"
        ).createOrReplaceTempView("pg_tablespace")

        # --- psql \d support set (B5 breadth: reference query_remapper_table.go
        # :275-712 seeds pg_index/pg_matviews/pg_shadow/pg_collation/pg_am/... ) ---
        # amtype 't' = table AM; amhandler name mirrors pg's heap handler row
        # (pg_dump 15 collects access methods with all four columns)
        spark.createDataFrame(
            [(2, "heap", "t", "heap_tableam_handler")],
            "oid bigint, amname string, amtype string, amhandler string",
        ).createOrReplaceTempView("pg_am")
        spark.sql("""
            SELECT * FROM VALUES (CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                                  CAST(NULL AS INT), CAST(NULL AS STRING))
                AS t(oid, adrelid, adnum, adbin) WHERE 1 = 0
        """).createOrReplaceTempView("pg_attrdef")
        # pg 15's full pg_index shape (pg_dump's getIndexes reads the lot)
        _empty_relation(spark, (
            "indexrelid bigint, indrelid bigint, indnatts int, indnkeyatts int, "
            "indisunique boolean, indnullsnotdistinct boolean, "
            "indisprimary boolean, indisexclusion boolean, indimmediate boolean, "
            "indisclustered boolean, indisvalid boolean, indcheckxmin boolean, "
            "indisready boolean, indislive boolean, indisreplident boolean, "
            "indkey array<int>, indcollation array<bigint>, "
            "indclass array<bigint>, indoption array<smallint>, indexprs string, "
            "indpred string"
        )).createOrReplaceTempView("pg_index")
        spark.sql("""
            SELECT * FROM VALUES (CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                                  CAST(NULL AS INT), CAST(NULL AS STRING))
                AS t(objoid, classoid, objsubid, description) WHERE 1 = 0
        """).createOrReplaceTempView("pg_description")
        # pg 15's full pg_constraint shape — pg_dump's constraint/dependency
        # queries read confrelid/conkey/conbin even against an empty catalog
        # (verified live with pg_dump 15.18)
        _empty_relation(spark, (
            "oid bigint, conname string, connamespace bigint, contype string, "
            "condeferrable boolean, condeferred boolean, convalidated boolean, "
            "conrelid bigint, contypid bigint, conindid bigint, "
            "conparentid bigint, confrelid bigint, confupdtype string, "
            "confdeltype string, confmatchtype string, conislocal boolean, "
            "coninhcount int, connoinherit boolean, conkey array<smallint>, "
            "confkey array<smallint>, conpfeqop array<bigint>, "
            "conppeqop array<bigint>, conffeqop array<bigint>, "
            "confdelsetcols array<smallint>, conexclop array<bigint>, "
            "conbin string"
        )).createOrReplaceTempView("pg_constraint")
        # exactly the reference's single default-collation row
        # (query_remapper_table.go:305)
        spark.sql(
            "SELECT CAST(100 AS BIGINT) AS oid, 'default' AS collname, "
            "CAST(11 AS BIGINT) AS collnamespace, CAST(10 AS BIGINT) AS collowner, "
            "'d' AS collprovider, true AS collisdeterministic, "
            "CAST(-1 AS INT) AS collencoding, CAST(NULL AS STRING) AS collcollate, "
            "CAST(NULL AS STRING) AS collctype, CAST(NULL AS STRING) AS colliculocale, "
            "CAST(NULL AS STRING) AS collicurules, CAST(NULL AS STRING) AS collversion"
        ).createOrReplaceTempView("pg_collation")
        # pg_shadow: passwd carries a real SCRAM verifier for the server's user,
        # shaped like the reference's row (query_handler_test.go:1466).
        from bemidb_spark.server.scram import build_verifier

        verifier = build_verifier(PG_USER, salt=b"bemidb-spark-ini", iterations=4096)
        spark.createDataFrame(
            [(PG_USER, 10, False, False, True, False, verifier, None, None)],
            "usename string, usesysid bigint, usecreatedb boolean, usesuper boolean, "
            "userepl boolean, usebypassrls boolean, passwd string, valuntil timestamp, "
            "useconfig array<string>",
        ).createOrReplaceTempView("pg_shadow")
    _MV_DDL = (
        "schemaname string, matviewname string, matviewowner string, "
        "tablespace string, hasindexes boolean, ispopulated boolean, definition string"
    )
    spark.createDataFrame(
        [(s, t, PG_USER, None, False, True,
          catalog.matview_definition("matviews", t) if catalog is not None else "")
         for s, t, _ in inventory if t in matview_names],
        _MV_DDL,
    ).createOrReplaceTempView("pg_matviews")

    view_defs = {}
    if catalog is not None:
        view_defs = {k.split(".", 1)[1]: e.get("definition", "")
                     for k, e in catalog.views().items()}
    spark.createDataFrame(
        [(s, t, PG_USER, view_defs.get(t, ""))
         for s, t, _ in inventory if t in view_names],
        "schemaname string, viewname string, viewowner string, definition string",
    ).createOrReplaceTempView("pg_views")
    # pg's full 26-column shape; relid/n_live_tup values match the
    # reference's upsert (query_remapper_table.go:216-230: relid '123456',
    # n_live_tup 1, everything else 0/NULL).
    stat_rows = [
        (123456, s, t, 0, None, 0, 0, None, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0,
         None, None, None, None, 0, 0, 0, 0)
        for i, (s, t, cols) in enumerate(inventory)
    ]
    spark.createDataFrame(
        stat_rows,
        "relid bigint, schemaname string, relname string, seq_scan bigint, "
        "last_seq_scan timestamp, seq_tup_read bigint, idx_scan bigint, "
        "last_idx_scan timestamp, idx_tup_fetch bigint, n_tup_ins bigint, "
        "n_tup_upd bigint, n_tup_del bigint, n_tup_hot_upd bigint, "
        "n_tup_newpage_upd bigint, n_live_tup bigint, n_dead_tup bigint, "
        "n_mod_since_analyze bigint, n_ins_since_vacuum bigint, "
        "last_vacuum timestamp, last_autovacuum timestamp, "
        "last_analyze timestamp, last_autoanalyze timestamp, "
        "vacuum_count bigint, autovacuum_count bigint, analyze_count bigint, "
        "autoanalyze_count bigint",
    ).createOrReplaceTempView("pg_stat_user_tables")
    if not static_done:  # session-independent monitoring/keyword views
        # pg_stat_activity: always empty (the reference's is too,
        # query_remapper_table.go:284) — per-connection state lives in the wire
        # server; monitoring clients get zero rows, never an error.
        spark.createDataFrame(
            [],
            "datid bigint, datname string, pid int, usesysid bigint, "
            "usename string, application_name string, client_addr string, "
            "client_hostname string, client_port int, backend_start timestamp, "
            "xact_start timestamp, query_start timestamp, state_change timestamp, "
            "wait_event_type string, wait_event string, state string, "
            "backend_xid bigint, backend_xmin bigint, query string, "
            "backend_type string",
        ).createOrReplaceTempView("pg_stat_activity")
        # pg_locks: always empty (no lock manager — reads are snapshot-isolated
        # by the catalog pointer swap); monitoring dashboards poll it.
        spark.sql(
            "SELECT CAST(NULL AS STRING) AS locktype, CAST(NULL AS BIGINT) AS datid, "
            "CAST(NULL AS BIGINT) AS relation, CAST(NULL AS INT) AS pid, "
            "CAST(NULL AS STRING) AS mode, CAST(NULL AS BOOLEAN) AS granted "
            "WHERE 1 = 0"
        ).createOrReplaceTempView("pg_locks")
        spark.sql(
            f"SELECT CAST(16384 AS BIGINT) AS datid, '{PG_DATABASE}' AS datname, "
            "CAST(1 AS INT) AS numbackends, CAST(0 AS BIGINT) AS xact_commit, "
            "CAST(0 AS BIGINT) AS xact_rollback, CAST(0 AS BIGINT) AS blks_read, "
            "CAST(0 AS BIGINT) AS blks_hit, CAST(0 AS BIGINT) AS tup_returned, "
            "CAST(0 AS BIGINT) AS tup_fetched, CAST(0 AS BIGINT) AS tup_inserted"
        ).createOrReplaceTempView("pg_stat_database")
        # pg_get_keywords() is remapped to this view; 5-column pg shape with the
        # reference's constant catcode/barelabel fills (the reference forwards
        # its engine's keyword list the same way,
        # query_remapper_function.go:96-112: every row 'U'/TRUE/'can be bare
        # label'). 'abort' leads, as in pg's own keyword table.
        spark.createDataFrame(
            [(w, "U", True, "unreserved", "can be bare label") for w in
             ["abort", "absolute", "access", "action", "add", "admin", "after",
              "all", "alter", "analyze", "and", "any", "as", "asc", "begin",
              "between", "by", "cascade", "case", "cast", "check", "close",
              "column", "commit", "copy", "create", "cross", "current_date",
              "current_time", "current_timestamp", "current_user", "cursor",
              "database", "deallocate", "declare", "default", "delete", "desc",
              "distinct", "drop", "else", "end", "escape", "except", "execute",
              "exists", "explain", "false", "fetch", "filter", "first", "from",
              "full", "group", "having", "in", "index", "inner", "insert",
              "intersect", "interval", "into", "is", "join", "key", "last",
              "left", "like", "limit", "not", "null", "offset", "on", "or",
              "order", "outer", "over", "partition", "prepare", "primary",
              "recursive", "references", "release", "rename", "reset", "right",
              "rollback", "savepoint", "schema", "select", "set", "show",
              "table", "then", "to", "true", "truncate", "union", "unique",
              "update", "user", "using", "values", "view", "when", "where",
              "window", "with"]],
            "word string, catcode string, barelabel boolean, catdesc string, "
            "baredesc string",
        ).createOrReplaceTempView("pg_keywords_view")

    # information_schema (B6) — pg's full 12-column tables shape
    spark.createDataFrame(
        [(PG_DATABASE, s, t, "VIEW" if t in view_names else "BASE TABLE",
          None, None, None, None, None, "YES", "NO", None)
         for s, t, _ in inventory],
        "table_catalog string, table_schema string, table_name string, "
        "table_type string, self_referencing_column_name string, "
        "reference_generation string, user_defined_type_catalog string, "
        "user_defined_type_schema string, user_defined_type_name string, "
        "is_insertable_into string, is_typed string, commit_action string",
    ).createOrReplaceTempView("information_schema_tables")

    info_cols = []
    for s, t, cols in inventory:
        for pos, (cname, ctype, nullable, pg_tag) in enumerate(cols, start=1):
            udt = _udt_name(ctype, pg_tag)
            display = _PG_TYPE_INFO.get(udt.lstrip("_"), (0, "text"))[1]
            if udt.startswith("_"):
                display = "ARRAY"  # information_schema spells arrays this way
            info_cols.append(
                (PG_DATABASE, s, t, cname, pos,
                 "YES" if nullable else "NO", udt, display)
            )
    spark.createDataFrame(
        info_cols or [("", "", "", "", 0, "", "", "")],
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, ordinal_position int, is_nullable string, "
        "udt_name string, data_type string",
    ).createOrReplaceTempView("information_schema_columns")

    # schemata / views / constraint views: the rest of the introspection
    # surface BI tools touch (constraints are structurally empty — this
    # engine enforces none, exactly like the reference's analytics replica)
    spark.createDataFrame(
        # schemata lists system schemas too (pg does; pg_namespace above is
        # the user-visible subset)
        [(PG_DATABASE, s, PG_USER)
         for s in sorted(set(schemas) | {"pg_catalog", "information_schema"})],
        "catalog_name string, schema_name string, schema_owner string",
    ).createOrReplaceTempView("information_schema_schemata")
    mv_rows = []
    if catalog is not None:
        for src in (catalog.matviews(), catalog.views()):
            for key, entry in src.items():
                s, name = key.split(".", 1)
                mv_rows.append((PG_DATABASE, s, name, entry.get("definition", "")))
    spark.createDataFrame(
        mv_rows or [("", "", "", "")],
        "table_catalog string, table_schema string, table_name string, "
        "view_definition string",
    ).createOrReplaceTempView("information_schema_views")
    if not static_done:  # session-independent empty constraint views
        empty_constraints = spark.createDataFrame(
            [],
            "constraint_catalog string, constraint_schema string, "
            "constraint_name string, table_schema string, table_name string, "
            "constraint_type string, column_name string",
        )
        empty_constraints.createOrReplaceTempView("information_schema_table_constraints")
        empty_constraints.createOrReplaceTempView("information_schema_key_column_usage")
        empty_constraints.createOrReplaceTempView("information_schema_referential_constraints")

    # tableoid (pg's hidden system column on every catalog table; pg_dump
    # SELECTs it everywhere) is NOT added to the views — that would surface
    # it in SELECT * where pg hides it. The transpiler resolves tableoid
    # references to the catalog's constant relation oid instead
    # (_rewrite_tableoid over _CATALOG_TABLEOIDS).

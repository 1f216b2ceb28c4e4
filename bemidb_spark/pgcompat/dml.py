"""pg DML over catalog tables: INSERT / UPDATE / DELETE / ON CONFLICT.

Beyond-reference write path (the reference server is read-only over the wire;
its writes happen in syncers — syncer-common + iceberg_table_writer.go). Real
clients and ORMs issue small DML against their analytics tables, so this maps
the idiomatic statements onto the same storage machinery the syncers use:

- ``INSERT … VALUES``                 → append files (never rewrites data)
- ``INSERT … ON CONFLICT DO NOTHING`` → anti-join then append new keys only
- ``INSERT … ON CONFLICT (k) DO UPDATE SET c = EXCLUDED.c`` →
  ``writer.upsert_by_key`` (bucket-pruned MERGE on key-bucketed tables)
- ``UPDATE … SET … WHERE …``          → matched rows recomputed, then
  bucket-pruned upsert (bucketed) or rewrite-and-swap (unbucketed)
- ``DELETE FROM … WHERE …``           → ``writer.delete_by_key`` (bucketed)
  or rewrite-and-swap

Scale notes: the VALUES payload of an INSERT is tiny (client-side literals),
so every path's cost is bounded by the *affected key buckets*, not table
size, on bucketed tables — a 1-row upsert rewrites 1 bucket's file.
UPDATE/DELETE predicates are ordinary Spark expressions, so partition/file
pruning applies to the matched-row scan as well.

All SET right-hand sides see the OLD row (pg semantics): the new row is built
in a single ``select`` so one SET cannot observe another's result.

``RETURNING`` works on every form: the projection is materialized BEFORE the
table mutates (a lazy plan would read a list whose files expiry may delete)
and is streamed back as a result set with the DML CommandComplete tag —
the `INSERT … RETURNING id` shape every ORM emits.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bemidb_spark.pgcompat.transpiler import transpile
from bemidb_spark.sources.catalog import Catalog
from bemidb_spark.sources.writer import (
    _bucket_expr,
    _bucketed_layout,
    bucket_slice,
    delete_by_key,
    read_table,
    replace_table,
    rewrite_buckets,
    upsert_by_key,
)

_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_][\w.\"]*)\s*(?:\(([^)]*)\))?\s*"
    r"VALUES\s*(.+?)\s*"
    r"(?:ON\s+CONFLICT\s*\(([^)]*)\)\s*DO\s+(NOTHING|UPDATE\s+SET\s+.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+([A-Za-z_][\w.\"]*)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([A-Za-z_][\w.\"]*)(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# `INSERT INTO t AS alias …`: pg's target alias (AS is mandatory there)
_INSERT_ALIAS_RE = re.compile(
    r"^(\s*INSERT\s+INTO\s+[A-Za-z_][\w.\"]*)\s+AS\s+([A-Za-z_]\w*)",
    re.IGNORECASE,
)
_EXCLUDED_SET_RE = re.compile(
    r'^\s*"?([\w]+)"?\s*=\s*EXCLUDED\s*\.\s*"?([\w]+)"?\s*$', re.IGNORECASE
)
_INSERT_SELECT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_][\w.\"]*)\s*(?:\(([^)]*)\))?\s*"
    r"((?:SELECT|WITH|TABLE)\b.+?)\s*"
    r"(?:ON\s+CONFLICT\s*\(([^)]*)\)\s*DO\s+(NOTHING|UPDATE\s+SET\s+.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_HEAD_RE = re.compile(
    r"^\s*UPDATE\s+([A-Za-z_][\w.\"]*)(?:\s+(?:AS\s+)?(?!SET\b)([A-Za-z_]\w*))?"
    r"\s+SET\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_USING_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([A-Za-z_][\w.\"]*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?"
    r"\s+USING\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_name(name: str) -> tuple[str, str]:
    schema, _, table = name.replace('"', "").rpartition(".")
    return schema or "public", table


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on sep outside parens/quotes (SET lists, VALUES rows)."""
    out, depth, start, i, n = [], 0, 0, 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n:
                if s[i] == "'" and not (i + 1 < n and s[i + 1] == "'"):
                    break
                i += 2 if s[i] == "'" else 1
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == sep and depth == 0:
            out.append(s[start:i])
            start = i + 1
        i += 1
    out.append(s[start:])
    return [p.strip() for p in out if p.strip()]


def _not_matching(cond: F.Column) -> F.Column:
    # pg DELETE/UPDATE act on rows where the predicate IS TRUE; NULL keeps.
    return ~F.coalesce(cond.cast("boolean"), F.lit(False))


class DmlError(Exception):
    sqlstate = "42601"


def _bucket_keys(catalog: Catalog, schema: str, table: str) -> list[str] | None:
    props = catalog.table_props(schema, table) or {}
    return props.get("bucket_keys") or None


def _bucket_stats(
    catalog: Catalog,
    schema: str,
    table: str,
    keys: list[str] | None,
    current: DataFrame,
    cond,
) -> tuple[int, list[int]] | None:
    """(matched-row count, affected buckets) from ONE per-bucket
    aggregation over the target — or None when the table is not
    key-bucketed on ``keys``. UPDATE/DELETE previously paid separate
    actions for the same facts (matched.count(), the writer's
    affected-bucket distinct), each a full pass over the target (r10, guide
    §1.2: remove passes before tuning them). NULL ``cond`` counts as
    unmatched, exactly like ``filter``."""
    if not keys:
        return None
    n_buckets = _bucketed_layout(catalog, schema, table, keys)
    if n_buckets is None:
        return None
    rows = (
        current.select(
            _bucket_expr(keys, n_buckets).alias("_kb"),
            F.when(cond, 1).otherwise(0).alias("_hit"),
        )
        .groupBy("_kb")
        .agg(F.sum("_hit").alias("_hits"))
        .collect()
    )
    n = int(sum(r["_hits"] for r in rows))
    return n, sorted(int(r["_kb"]) for r in rows if r["_hits"] > 0)


def _read_target(
    spark: SparkSession, catalog: Catalog, schema: str, table: str
) -> DataFrame:
    try:
        return read_table(spark, catalog, schema, table)
    except KeyError:
        err = DmlError(f'relation "{schema}.{table}" does not exist')
        err.sqlstate = "42P01"
        raise err from None


def _append(
    spark: SparkSession, catalog: Catalog, schema: str, table: str, typed: DataFrame
) -> int:
    """Append-only write (the COPY-FROM path): new files, old files untouched.
    Returns the exact appended row count, read from the new files' parquet
    footers — one execution of the source plan instead of count-then-write."""
    from bemidb_spark.sources.writer import append_rows

    return append_rows(spark, catalog, schema, table, typed)


def _fold_cursor_probe(
    catalog: Catalog, schema: str, table: str, source_sql: str
) -> str:
    """Constant-fold ``col > (SELECT max(col) FROM <target>)`` — the
    incremental-append cursor gate (reference amplitude syncer.go:35-75) —
    into a literal read from the listed files' parquet footer stats (Iceberg
    upper_bounds style): a metadata probe instead of a table-scan aggregate
    running as a scalar subquery inside the write job. Non-matching or
    non-foldable (string-typed / remote) probes run unchanged."""
    from bemidb_spark.sources.writer import _os_paths, footer_column_max

    tbl = rf'(?:"?{re.escape(schema)}"?\s*\.\s*)?"?{re.escape(table)}"?'
    pat = re.compile(
        r'\(\s*SELECT\s+max\s*\(\s*"?(\w+)"?\s*\)\s+FROM\s+' + tbl + r"\s*\)",
        re.IGNORECASE,
    )
    m = pat.search(source_sql)
    if not m:
        return source_sql
    try:
        paths = _os_paths(catalog.files(schema, table))
    except KeyError:
        return source_sql
    if paths is None:
        return source_sql
    ok, bound = footer_column_max(paths, m.group(1))
    if not ok:
        return source_sql
    if bound is None:
        lit = "CAST(NULL AS BIGINT)"  # pg: > NULL selects nothing
    elif isinstance(bound, bool) or not isinstance(bound, (int, float)):
        return source_sql
    else:
        lit = repr(bound)
    return source_sql[: m.start()] + lit + source_sql[m.end():]


def _qualify(catalog: Catalog, sql: str) -> str:
    """schema.table -> schema_table view names for catalog tables (the same
    binding the session router applies before Spark sees a query)."""
    keys = [k for k in catalog.tables() if "." in k]
    if not keys or "." not in sql:
        return sql
    pat = re.compile(r"\b(" + "|".join(re.escape(k) for k in sorted(keys)) + r")\b")
    return pat.sub(lambda m: m.group(1).replace(".", "_"), sql)


def _conform(raw: DataFrame, target: DataFrame, cols: list[str]) -> DataFrame:
    """Conform a source DataFrame positionally onto the listed target columns
    (pg INSERT semantics): cast to table types, NULL-fill absent columns."""
    fields = {f.name: f for f in target.schema.fields}
    unknown = [c for c in cols if c not in fields]
    if unknown:
        err = DmlError(f'column "{unknown[0]}" does not exist')
        err.sqlstate = "42703"
        raise err
    if len(raw.columns) != len(cols):
        err = DmlError(
            f"INSERT has {len(raw.columns)} expressions but {len(cols)} target columns"
        )
        err.sqlstate = "42601"
        raise err
    typed = raw.select(
        *[raw[raw.columns[i]].cast(fields[c].dataType).alias(c)
          for i, c in enumerate(cols)]
    )
    for f in target.schema.fields:
        if f.name not in cols:
            typed = typed.withColumn(f.name, F.lit(None).cast(f.dataType))
    return typed.select(*[f.name for f in target.schema.fields])


def has_toplevel_insert(sql: str) -> bool:
    """True for CTE-prefixed INSERT (``WITH … INSERT INTO …``) — a depth-0
    scan, so INSERTs inside CTE bodies don't count."""
    from bemidb_spark.pgcompat.transpiler import _find_top_level, _shield_strings

    shielded, _ = _shield_strings(sql)
    return _find_top_level(shielded, "INSERT") >= 0


def _values_df(
    spark: SparkSession,
    target: DataFrame,
    cols: list[str],
    values_sql: str,
) -> DataFrame:
    """Evaluate the (transpiled) VALUES payload and conform it to the target
    schema: listed columns cast to their table types, absent columns NULL."""
    fields = {f.name: f for f in target.schema.fields}
    unknown = [c for c in cols if c not in fields]
    if unknown:
        err = DmlError(f'column "{unknown[0]}" does not exist')
        err.sqlstate = "42703"
        raise err
    alias = ", ".join(f"c{i}" for i in range(len(cols)))
    raw = spark.sql(transpile(f"SELECT * FROM (VALUES {values_sql}) AS t({alias})"))
    if len(raw.columns) != len(cols):
        err = DmlError(
            f"INSERT has {len(raw.columns)} expressions but {len(cols)} target columns"
        )
        err.sqlstate = "42601"
        raise err
    typed = raw.select(
        *[raw[f"c{i}"].cast(fields[c].dataType).alias(c) for i, c in enumerate(cols)]
    )
    for f in target.schema.fields:
        if f.name not in cols:
            typed = typed.withColumn(f.name, F.lit(None).cast(f.dataType))
    return typed.select(*[f.name for f in target.schema.fields])


def _materialize(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Pin a RETURNING projection's rows BEFORE the table mutates — the lazy
    plan would otherwise re-read the (swapped/overwritten) table location.

    ``localCheckpoint(eager=True)`` computes the result now and pins the
    blocks executor-side (block manager), so ``UPDATE big SET .. RETURNING *``
    never materializes the whole result in driver memory — the wire layer
    then streams it with ``toLocalIterator`` one partition at a time (the
    prior implementation collect()ed the full result onto the driver)."""
    return df.localCheckpoint(eager=True)


def _project_returning(
    spark: SparkSession, df: DataFrame, clause: str | None
) -> DataFrame | None:
    if clause is None:
        return None
    if clause.strip() == "*":
        return _materialize(spark, df)
    items = [transpile(i) for i in _split_top_level(clause)]
    return _materialize(spark, df.selectExpr(*items))


def _merge_conflict_updates(
    spark: SparkSession,
    target: DataFrame,
    typed: DataFrame,
    keys: list[str],
    sets: list[str],
    where: str | None = None,
    target_names: tuple[str, ...] = (),
) -> tuple[DataFrame, int | None, DataFrame]:
    """Evaluate ON CONFLICT SET expressions with pg scoping: for rows whose
    key already exists, bare and target-qualified columns (``kv.n``,
    ``public.kv.n``, or ``t.n`` under ``INSERT INTO kv AS t`` — one of
    ``target_names``) bind to the OLD row and ``EXCLUDED.col`` to the
    proposed row; unmatched rows insert as proposed. One join on the
    conflict key (the proposed side is client-literal-sized, so Catalyst
    broadcasts it); the result feeds the partition-pruned upsert.

    ``where`` (``DO UPDATE SET … WHERE cond``, same scoping) gates which
    conflicting rows update: failing rows keep the OLD row and — pg
    semantics — do NOT count toward the INSERT tag, so the second return
    value is the affected-row count when a WHERE was given (None
    otherwise; the caller then uses the plain proposed-row count). The
    third return value is the RETURNING row set: only rows actually
    inserted or updated (gate-rejected rows are excluded, pg semantics)."""
    from bemidb_spark.pgcompat.transpiler import _shield_strings, _unshield

    fields = {f.name: f for f in target.schema.fields}
    q = r"[`\"]?"  # transpile turns "ident" into `ident`
    target_ref = re.compile(
        r"(?<![\w.`\"])(?:" + "|".join(
            r"\s*\.\s*".join(q + re.escape(part) + q for part in name.split("."))
            for name in target_names
        ) + r")\s*\.\s*" + q + r"(\w+)" + q,
        re.IGNORECASE,
    ) if target_names else None

    def _old_ref(m: re.Match) -> str:
        col = next((c for c in fields if c.lower() == m.group(1).lower()), None)
        return f"__old_{col}" if col else m.group(0)

    def _scope(expr_sql: str) -> str:
        shielded, lits = _shield_strings(transpile(expr_sql.strip()))
        shielded = re.sub(
            r"\bEXCLUDED\s*\.\s*" + q + r"(\w+)" + q, r"__new_\1", shielded,
            flags=re.IGNORECASE,
        )
        if target_ref is not None:
            shielded = target_ref.sub(_old_ref, shielded)
        for c in fields:  # bare refs -> the old (target) row
            shielded = re.sub(
                rf'(?<![\w."])({re.escape(c)})\b(?!\s*\()', f"__old_{c}",
                shielded, flags=re.IGNORECASE,
            )
        return _unshield(shielded, lits)

    set_map: dict[str, str] = {}
    for item in sets:
        sm = re.match(r'^\s*"?([\w]+)"?\s*=\s*(.+)$', item, re.DOTALL)
        if not sm or sm.group(1) not in fields:
            raise DmlError(f"unsupported SET clause: {item}")
        set_map[sm.group(1)] = _scope(sm.group(2))
    old = target.select(*[F.col(c).alias(f"__old_{c}") for c in fields])
    new = typed.select(*[F.col(c).alias(f"__new_{c}") for c in fields])
    cond = None
    for k in keys:
        eq = new[f"__new_{k}"] == old[f"__old_{k}"]
        cond = eq if cond is None else (cond & eq)
    joined = new.join(old, on=cond, how="left")
    matched = F.col(f"__old_{keys[0]}").isNotNull()
    apply_upd = matched
    n_effective = None
    affected = F.lit(True)
    if where is not None:
        gate = F.coalesce(F.expr(_scope(where)), F.lit(False))
        apply_upd = matched & gate
        affected = ~matched | gate
        n_effective = joined.filter(affected).count()
    sel = joined.select(
        *[
            F.when(
                apply_upd,
                F.expr(set_map[c]) if c in set_map else F.col(f"__old_{c}"),
            ).when(matched, F.col(f"__old_{c}"))
            .otherwise(F.col(f"__new_{c}")).cast(fields[c].dataType).alias(c)
            for c in fields
        ],
        affected.alias("__aff"),
    )
    # pg's RETURNING emits only rows actually inserted or updated — the
    # gate-rejected conflicting rows stay in the upsert payload (old values,
    # so the write is a no-op for them) but NOT in RETURNING (ADVICE r7)
    return sel.drop("__aff"), n_effective, sel.filter("__aff").drop("__aff")


def _run_insert(
    spark: SparkSession,
    catalog: Catalog,
    m: re.Match,
    returning: str | None,
    values_sql: str | None = None,
    source_sql: str | None = None,
    alias: str | None = None,
) -> tuple[str, int, DataFrame | None]:
    """Shared INSERT executor for VALUES and SELECT sources, with the full ON
    CONFLICT surface on either. An ``INSERT … SELECT`` source is an arbitrary
    (transpiled, catalog-qualified) query — at scale it is the materialize-a-
    transform path, and the write stays append-only / key-merged exactly like
    the VALUES path."""
    schema, table = _split_name(m.group(1))
    target = _read_target(spark, catalog, schema, table)
    cols = (
        [c.strip().strip('"') for c in m.group(2).split(",")]
        if m.group(2)
        else [f.name for f in target.schema.fields]
    )
    if source_sql is not None:
        source_sql = _fold_cursor_probe(catalog, schema, table, source_sql)
        raw = spark.sql(transpile(_qualify(catalog, source_sql)))
        typed = _conform(raw, target, cols)
    else:
        typed = _values_df(spark, target, cols, values_sql)
    conflict_keys = (
        [c.strip().strip('"') for c in m.group(4).split(",")] if m.group(4) else None
    )
    action = (m.group(5) or "").strip()
    if conflict_keys is None:
        ret = _project_returning(spark, typed, returning)
        n = _append(spark, catalog, schema, table, typed)
        return "INSERT", n, ret
    if action.upper() == "NOTHING":
        fresh = typed.join(
            target.select(*conflict_keys), on=conflict_keys, how="left_anti"
        )
        ret = _project_returning(spark, fresh, returning)
        n = _append(spark, catalog, schema, table, fresh)
        return "INSERT", n, ret
    # DO UPDATE SET …: the idiomatic full-row case (every SET is
    # `col = EXCLUDED.col`) merges the new rows directly; arbitrary SET
    # expressions get a real old-row merge — bare column refs mean the
    # TARGET row, EXCLUDED.col the proposed row, exactly pg's scoping.
    # A trailing WHERE (same scoping) gates which conflicting rows update;
    # rows it rejects keep the old values and don't count in the tag.
    from bemidb_spark.pgcompat.transpiler import _find_top_level, _shield_strings

    body = action[len("UPDATE"):].strip()[len("SET"):].strip()
    where = None
    shielded_body, _lits = _shield_strings(body)
    wpos = _find_top_level(shielded_body, "WHERE")
    if wpos >= 0:
        where = body[wpos + len("WHERE"):].strip()
        body = body[:wpos].strip()
    sets = _split_top_level(body)
    full_row = where is None and all(
        (sm := _EXCLUDED_SET_RE.match(item)) and sm.group(1) == sm.group(2)
        for item in sets
    )
    if full_row:
        effective, n_eff, ret_rows = typed, None, typed
    else:
        # pg: an alias hides the table's own name
        names = (alias,) if alias else (table, f"{schema}.{table}")
        effective, n_eff, ret_rows = _merge_conflict_updates(
            spark, target, typed, conflict_keys, sets, where, names
        )
    n = n_eff if n_eff is not None else typed.count()
    ret = _project_returning(spark, ret_rows, returning)
    upsert_by_key(spark, catalog, schema, table, effective, conflict_keys)
    return "INSERT", n, ret


def _null_safe_anti(current: DataFrame, matched_keys: DataFrame) -> DataFrame:
    """Rows of ``current`` not present in ``matched_keys`` (all columns,
    null-safe — a plain anti-join would keep AND re-add rows with NULLs)."""
    cond = None
    for c in current.columns:
        eq = current[c].eqNullSafe(matched_keys[c])
        cond = eq if cond is None else (cond & eq)
    return current.join(matched_keys, on=cond, how="left_anti")


def _joined_scope(
    spark: SparkSession,
    catalog: Catalog,
    current: DataFrame,
    schema: str,
    table: str,
    tname: str,
    select_list: str,
    from_clause: str,
    where: str | None,
) -> DataFrame:
    """Evaluate ``SELECT <list> FROM <target> <tname>, <from_clause> WHERE …``
    with the live target rows bound under a collision-free temp view. pg lets
    the WHERE/SET reference the target as ``schema.table`` — those are
    rewritten onto the join alias before catalog qualification."""
    import uuid

    def retarget(frag: str) -> str:
        return re.sub(
            rf"\b(?:{re.escape(schema)}\.)?{re.escape(table)}\s*\.",
            f"{tname}.", frag,
        )

    view = f"__dml_target_{uuid.uuid4().hex[:8]}"
    current.createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"SELECT {retarget(select_list)} FROM {view} {tname}, "
            f"{transpile(_qualify(catalog, from_clause))} "
            f"WHERE {transpile(_qualify(catalog, retarget(where))) if where else 'true'}"
        ).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(view)


def _count_and_buckets(
    catalog: Catalog,
    schema: str,
    table: str,
    keys: list[str] | None,
    rows: DataFrame,
) -> tuple[int, list[int] | None]:
    """(row count, affected buckets) from ONE aggregation job when the
    target is key-bucketed, else (count, None). The join-form UPDATE/DELETE
    routes re-execute their join for every separate action, so fusing the
    count with the writer's affected-bucket derivation drops one full join
    execution per statement (r10, guide §1.2)."""
    n_buckets = _bucketed_layout(catalog, schema, table, keys) if keys else None
    if n_buckets is None:
        return rows.count(), None
    per = (
        rows.select(_bucket_expr(keys, n_buckets).alias("_kb"))
        .groupBy("_kb").agg(F.count(F.lit(1)).alias("_c")).collect()
    )
    return int(sum(r["_c"] for r in per)), sorted(int(r["_kb"]) for r in per)


def _update_from(
    spark: SparkSession, catalog: Catalog, m: re.Match, returning: str | None
) -> tuple[str, int, DataFrame | None]:
    """``UPDATE t [AS a] SET … FROM src WHERE …`` — pg's join-update. SET and
    WHERE see both scopes; each matched target row takes ONE source match
    (pg: unspecified which; here: ``first()`` per target row). Requires n of
    the same shuffle joins a hand-written MERGE would."""
    from bemidb_spark.pgcompat.transpiler import _find_top_level, _shield_strings

    schema, table = _split_name(m.group(1))
    tname = m.group(2) or table
    rest = m.group(3)
    # slice on the SHIELDED text (string literals collapse to markers, so
    # depth-0 indices are only valid there), then unshield each fragment
    from bemidb_spark.pgcompat.transpiler import _unshield

    shielded, lits = _shield_strings(rest)
    from_i = _find_top_level(shielded, "FROM")
    where_i = _find_top_level(shielded, "WHERE", from_i)
    set_list = _unshield(shielded[:from_i], lits).strip()
    from_clause = _unshield(
        shielded[from_i + 4:where_i] if where_i > from_i else shielded[from_i + 4:],
        lits,
    ).strip()
    where = _unshield(shielded[where_i + 5:], lits).strip() if where_i > from_i else None

    current = _read_target(spark, catalog, schema, table)
    fields = {f.name: f for f in current.schema.fields}
    set_map: dict[str, int] = {}
    proj = [f"{tname}.{c} AS {c}" for c in fields]
    for i, item in enumerate(_split_top_level(set_list)):
        sm = re.match(r'^\s*"?([\w]+)"?\s*=\s*(.+)$', item, re.DOTALL)
        if not sm:
            raise DmlError(f"unsupported SET clause: {item}")
        col = sm.group(1)
        if col not in fields:
            err = DmlError(f'column "{col}" does not exist')
            err.sqlstate = "42703"
            raise err
        set_map[col] = i
        proj.append(f"({transpile(sm.group(2).strip())}) AS __set_{i}")
    joined = _joined_scope(
        spark, catalog, current, schema, table, tname,
        ", ".join(proj), from_clause, where,
    )
    tcols = list(fields)
    grouped = joined.groupBy(*tcols).agg(
        *[F.first(f"__set_{i}").alias(f"__set_{i}") for i in set_map.values()]
    )
    updated = grouped.select(
        *[
            (F.col(f"__set_{set_map[c]}") if c in set_map else F.col(c))
            .cast(fields[c].dataType).alias(c)
            for c in tcols
        ]
    )
    keys = _bucket_keys(catalog, schema, table)
    n, buckets = _count_and_buckets(catalog, schema, table, keys, updated)
    ret = _project_returning(spark, updated, returning)
    if n == 0:
        return "UPDATE", 0, ret
    if keys and not any(k in set_map for k in keys):
        upsert_by_key(spark, catalog, schema, table, updated, keys,
                      buckets=buckets)
    else:
        kept = _null_safe_anti(current, grouped.select(*tcols))
        replace_table(catalog, schema, table, kept.unionByName(updated))
    return "UPDATE", n, ret


def _delete_using(
    spark: SparkSession, catalog: Catalog, m: re.Match, returning: str | None
) -> tuple[str, int, DataFrame | None]:
    """``DELETE FROM t [AS a] USING src WHERE …`` — pg's join-delete."""
    schema, table = _split_name(m.group(1))
    tname = m.group(2) or table
    current = _read_target(spark, catalog, schema, table)
    matched = _joined_scope(
        spark, catalog, current, schema, table, tname,
        f"DISTINCT {tname}.*", m.group(3), m.group(4),
    )
    keys = _bucket_keys(catalog, schema, table)
    n, buckets = _count_and_buckets(catalog, schema, table, keys, matched)
    ret = _project_returning(spark, matched, returning)
    if n == 0:
        return "DELETE", 0, ret
    if keys:
        delete_by_key(spark, catalog, schema, table, matched.select(*keys),
                      keys, buckets=buckets)
    else:
        replace_table(catalog, schema, table, _null_safe_anti(current, matched))
    return "DELETE", n, ret


# Write-path regime of the most recent _run_merge, for tests that assert
# WHICH path executed (pruned / full), not just the result:
#   "pruned"              — only source-affected buckets read+rewritten
#   "pruned_empty_source" — empty source short-circuit, zero writes
#   "full"                — no usable key equality (theta ON / unbucketed)
LAST_MERGE_REGIME: str | None = None
LAST_MERGE_B_SRC: list[int] = []  # buckets the pruned path read/rewrote

_MERGE_CLAUSE_RE = re.compile(
    r"^WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_INSERT_RE = re.compile(
    r"^INSERT\s*(?:\(([^)]*)\))?\s*VALUES\s*\((.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _top_level_merge_whens(shielded: str) -> list[int]:
    """Offsets of paren-depth-0 ``WHEN [NOT] MATCHED`` keywords (``CASE WHEN``
    never precedes MATCHED, so the lookahead disambiguates)."""
    out = []
    depth = 0
    for m in re.finditer(r"[()]|\bWHEN\s+(?:NOT\s+)?MATCHED\b", shielded,
                         re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            out.append(m.start())
    return out


def _top_level_conjuncts(s: str) -> list[str]:
    """Split on top-level AND, outside parens/brackets (string literals in
    the input are shield placeholders, so no false AND hits)."""
    out, depth, start, i, n = [], 0, 0, 0, len(s)
    up = s.upper()
    while i < n:
        c = s[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif (
            depth == 0
            and up.startswith("AND", i)
            and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] in '_."'))
            and (i + 3 >= n or not (s[i + 3].isalnum() or s[i + 3] in '_."'))
        ):
            out.append(s[start:i])
            start = i + 3
            i += 3
            continue
        i += 1
    out.append(s[start:])
    return [p.strip() for p in out if p.strip()]


def _strip_outer_parens(s: str) -> str:
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        for i, ch in enumerate(s):
            depth += ch == "("
            depth -= ch == ")"
            if depth == 0 and i < len(s) - 1:
                return s
        s = s[1:-1].strip()
    return s


def _split_eq(s: str) -> tuple[str, str] | None:
    """Split ``a = b`` on the first top-level plain ``=`` (not <= >= != <> ==)."""
    depth, i, n = 0, 0, len(s)
    while i < n:
        c = s[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "=" and depth == 0:
            prev = s[i - 1] if i else ""
            nxt = s[i + 1] if i + 1 < n else ""
            if prev in "<>!=" or nxt == "=":
                i += 1
                continue
            return s[:i], s[i + 1:]
        i += 1
    return None


def _is_scalar_frag(s: str) -> bool:
    """True when a conjunct side is a plain scalar expression — no
    top-level boolean/comparison structure. Guards _merge_key_sources
    against taking ``t.k = d.k OR d.flag`` as a key equality (the rhs
    ``d.k OR d.flag`` is boolean, not the key's source value — ADVICE r8):
    pruning soundness must be a checked precondition, not an accident of
    Spark rejecting a non-scalar cast later."""
    depth = 0
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            if c in "<>!=":
                return False
            m = re.match(r"(?:OR|AND|NOT|IS|IN|LIKE|BETWEEN)\b", s[i:],
                         re.IGNORECASE)
            if m and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")):
                return False
        i += 1
    return True


def _merge_key_sources(on_retargeted: str, keys: list[str]) -> dict[str, str] | None:
    """Bucket-pruning precondition: each bucket key must be equated (in a
    top-level AND conjunct of the ON condition) with a pure source-side
    expression. Returns {key: source_expr} (exprs over ``__s_`` columns) or
    None when any key lacks such an equality — then every target bucket
    could hold a match and pruning would be unsound."""
    found: dict[str, str] = {}
    for conj in _top_level_conjuncts(on_retargeted):
        sides = _split_eq(_strip_outer_parens(conj))
        if not sides:
            continue
        for a, b in (sides, sides[::-1]):
            m = re.fullmatch(r"__t_(\w+)", a.strip())
            if (m and m.group(1) in keys and "__t_" not in b
                    and _is_scalar_frag(b.strip())):
                found.setdefault(m.group(1), b.strip())
    if all(k in found for k in keys):
        return {k: found[k] for k in keys}
    return None


def _run_merge(
    spark: SparkSession, catalog: Catalog, sql: str, returning: str | None = None
) -> tuple[str, int, DataFrame | None]:
    """pg15 ``MERGE INTO target USING source ON cond WHEN …`` executed as ONE
    full-outer join (pg evaluates the join once, then applies the first
    applicable WHEN clause per row — exactly a CASE cascade over the joined
    row). The merged state is computed in a single execution
    (localCheckpoint pins it executor-side), the affected-row tag is a keyed
    1-group aggregate over the pinned blocks, and pg's "cannot affect row a
    second time" error is raised when two source rows hit one target row.

    Scale (VERDICT r7 #2 — bucket-pruned): when the target is key-bucketed
    AND the ON condition equates every bucket key with a pure source-side
    expression (the `ON t.k = d.k` shape), only the listed files of the
    buckets those source expressions hash into are read, joined, and
    rewritten (writer.rewrite_buckets) — every other bucket's files stay in
    the list untouched, exactly like upsert_by_key/delete_by_key. MERGE
    semantics make this sound: a match requires t.k = expr(s), so every
    matched target row lives in an affected bucket; a WHEN NOT MATCHED miss
    inside the slice is a miss everywhere. A row an UPDATE/INSERT moves
    into an unread bucket (key mutation) adds a file to that bucket without
    rewriting it. The localCheckpoint then pins only the affected slice,
    not the whole table. Falls back to the full rewrite when the keys
    aren't all equated (theta-ON) or when the table is unbucketed. At
    100 TB this is a k-row MERGE touching ~k/n_buckets of the table instead
    of rewriting all of it."""
    from bemidb_spark.pgcompat.transpiler import _shield_strings, _unshield
    from bemidb_spark.sources.writer import write_bucketed_table

    shielded, lits = _shield_strings(sql)
    m = re.match(
        r"^\s*MERGE\s+INTO\s+(?:ONLY\s+)?([A-Za-z_][\w.\"]*)"
        r"(?:\s+(?:AS\s+)?(?!USING\b)([A-Za-z_]\w*))?\s+USING\s+",
        shielded, re.IGNORECASE,
    )
    if not m:
        raise DmlError("unsupported MERGE form")
    target_name, t_alias = m.group(1), m.group(2)
    rest = shielded[m.end():]
    if rest.lstrip().startswith("("):
        rest = rest.lstrip()
        depth = 0
        for i, ch in enumerate(rest):
            depth += ch == "("
            depth -= ch == ")"
            if depth == 0:
                break
        source_text, rest = rest[: i + 1], rest[i + 1:]
    else:
        sm = re.match(r'\s*([A-Za-z_][\w."]*)', rest)
        if not sm:
            raise DmlError("unsupported MERGE source")
        source_text, rest = sm.group(1), rest[sm.end():]
    am = re.match(
        r"\s*(?:AS\s+)?(?!ON\b)([A-Za-z_]\w*)(\s*\(\s*[\w\s,\"]+\))?",
        rest, re.IGNORECASE,
    )
    s_alias = am.group(1) if am else None
    s_collist = am.group(2) if am else None
    if am:
        rest = rest[am.end():]
    om = re.match(r"\s*ON\s+", rest, re.IGNORECASE)
    if not om:
        raise DmlError("MERGE requires an ON condition")
    rest = rest[om.end():]
    whens = _top_level_merge_whens(rest)
    if not whens:
        raise DmlError("MERGE requires at least one WHEN clause")
    on_text = rest[: whens[0]]
    clause_texts = [
        rest[a:b] for a, b in zip(whens, whens[1:] + [len(rest)])
    ]

    schema, table = _split_name(target_name)
    target = _read_target(spark, catalog, schema, table)
    src_alias = f"{s_alias or '__merge_src'}{_unshield(s_collist, lits) if s_collist else ''}"
    src = spark.sql(transpile(_qualify(
        catalog,
        f"SELECT * FROM {_unshield(source_text, lits)} AS {src_alias}",
    )))
    tcols = target.columns
    scols = src.columns
    fields = {f.name: f for f in target.schema.fields}
    t_names = [n for n in (t_alias, table) if n]
    s_names = [n for n in (s_alias,) if n]
    if source_text and not source_text.startswith("("):
        s_names.append(source_text.replace('"', "").rpartition(".")[2])

    def _retarget(frag: str) -> str:
        """Bind alias-qualified and bare column refs to the prefixed join
        columns (pg scoping: bare names resolve target-first)."""
        for name in t_names:
            frag = re.sub(rf'\b{re.escape(name)}\s*\.\s*"?(\w+)"?',
                          r"__t_\1", frag, flags=re.IGNORECASE)
        for name in s_names:
            frag = re.sub(rf'\b{re.escape(name)}\s*\.\s*"?(\w+)"?',
                          r"__s_\1", frag, flags=re.IGNORECASE)
        for c in tcols:
            frag = re.sub(rf'(?<![\w."]){re.escape(c)}\b(?!\s*[(.])',
                          f"__t_{c}", frag, flags=re.IGNORECASE)
        for c in scols:
            if c in fields:
                continue
            frag = re.sub(rf'(?<![\w."]){re.escape(c)}\b(?!\s*[(.])',
                          f"__s_{c}", frag, flags=re.IGNORECASE)
        return frag

    def _expr(frag: str) -> str:
        return transpile(_unshield(_retarget(frag), lits))

    clauses = []
    for text in clause_texts:
        cm = _MERGE_CLAUSE_RE.match(text.strip())
        if not cm:
            raise DmlError(f"unsupported MERGE clause: {text.strip()[:80]}")
        not_matched = bool(cm.group(1))
        cond = cm.group(2)
        action = cm.group(3).strip().rstrip(";").strip()
        up = action.upper()
        if up.startswith("UPDATE"):
            if not_matched:
                raise DmlError("WHEN NOT MATCHED cannot UPDATE")
            sets = {}
            for item in _split_top_level(action[len("UPDATE"):].strip()[len("SET"):]):
                sm = re.match(r'^\s*"?([\w]+)"?\s*=\s*(.+)$', item, re.DOTALL)
                if not sm or sm.group(1) not in fields:
                    raise DmlError(f"unsupported MERGE SET clause: {item}")
                sets[sm.group(1)] = _expr(sm.group(2).strip())
            kind, payload = "update", sets
        elif up == "DELETE":
            if not_matched:
                raise DmlError("WHEN NOT MATCHED cannot DELETE")
            kind, payload = "delete", None
        elif re.match(r"^DO\s+NOTHING$", up):
            kind, payload = "nothing", None
        elif up.startswith("INSERT"):
            if not not_matched:
                raise DmlError("WHEN MATCHED cannot INSERT")
            im = _MERGE_INSERT_RE.match(action)
            if not im:
                raise DmlError(f"unsupported MERGE INSERT: {action[:80]}")
            ins_cols = (
                [c.strip().strip('"') for c in im.group(1).split(",")]
                if im.group(1) else list(tcols)
            )
            vals = _split_top_level(im.group(2))
            if len(ins_cols) != len(vals):
                raise DmlError("MERGE INSERT column/value count mismatch")
            payload = {c: _expr(v.strip()) for c, v in zip(ins_cols, vals)}
            kind = "insert"
        else:
            raise DmlError(f"unsupported MERGE action: {action[:80]}")
        clauses.append({
            "matched": not not_matched,
            "cond": _expr(cond) if cond else None,
            "kind": kind,
            "payload": payload,
        })

    S = src.select(
        *[F.col(c).alias(f"__s_{c}") for c in scols],
        F.lit(True).alias("__s_present"),
    )

    # --- bucket pruning: restrict the join to the buckets the source can
    # possibly touch (see docstring for the soundness argument) -------------
    keys = _bucket_keys(catalog, schema, table)
    n_buckets = _bucketed_layout(catalog, schema, table, keys) if keys else None
    key_src = _merge_key_sources(_retarget(on_text), keys) if n_buckets else None
    b_src: list[int] = []
    join_side = target
    if key_src is not None:
        try:
            # cast to the TARGET key types: xxhash64 is type-dependent, and
            # the stored bucket ids were computed over the target columns
            srcs = [
                F.expr(transpile(_unshield(key_src[k], lits)))
                .cast(fields[k].dataType)
                for k in keys
            ]
            bexpr = F.pmod(F.xxhash64(*srcs), F.lit(n_buckets))
            b_src = sorted(
                r[0] for r in S.select(bexpr.alias("b")).distinct().collect()
                if r[0] is not None
            )
        except Exception:  # unparseable key expr: pruning off, never wrong
            key_src = None
        else:
            touched, slice_rows = bucket_slice(
                spark, catalog, schema, table, b_src)
            join_side = slice_rows.select(*tcols)

    T = join_side.select(
        *[F.col(c).alias(f"__t_{c}") for c in tcols],
        F.lit(True).alias("__t_present"),
        F.monotonically_increasing_id().alias("__tid"),
    )
    joined = T.join(S, F.expr(_expr(on_text)), "full_outer")
    is_m = F.col("__t_present").isNotNull() & F.col("__s_present").isNotNull()
    is_s_only = F.col("__t_present").isNull()

    conds = []
    for cl in clauses:
        base = is_m if cl["matched"] else is_s_only
        conds.append(base & F.expr(cl["cond"]) if cl["cond"] else base)

    def _cascade(value_of, fallback):
        chain = None
        for cond, cl in zip(conds, clauses):
            v = value_of(cl)
            chain = F.when(cond, v) if chain is None else chain.when(cond, v)
        return chain.otherwise(fallback)

    def _value(c):
        fld = fields[c]

        def value_of(cl):
            if cl["kind"] == "update" and c in cl["payload"]:
                return F.expr(cl["payload"][c]).cast(fld.dataType)
            if cl["kind"] == "insert":
                v = cl["payload"].get(c)
                return (F.expr(v) if v is not None else F.lit(None)).cast(fld.dataType)
            return F.col(f"__t_{c}")

        return _cascade(value_of, F.col(f"__t_{c}")).alias(c)

    keep = _cascade(
        lambda cl: F.lit(cl["kind"] != "delete" if cl["matched"]
                         else cl["kind"] == "insert"),
        F.col("__t_present").isNotNull(),
    )
    aff = _cascade(
        lambda cl: F.lit(0 if cl["kind"] == "nothing" else 1), F.lit(0)
    )
    # pg17 merge_action(): which clause kind fired for this row (NULL for
    # DO NOTHING / no-clause rows — those never appear in RETURNING)
    act = _cascade(
        lambda cl: F.lit(
            {"update": "UPDATE", "delete": "DELETE",
             "insert": "INSERT"}.get(cl["kind"])
        ).cast("string"),
        F.lit(None).cast("string"),
    )
    flags = joined.select(
        *[_value(c) for c in tcols],
        keep.alias("__keep"), aff.alias("__aff"), act.alias("__action"),
        is_m.alias("__is_m"), F.col("__tid"),
    )
    # one execution of the (pruned or full) join; when pruning is active
    # this pins only the affected slice, not the whole table
    pinned = flags.localCheckpoint(eager=True)
    # pg raises 21000 only when a target row is actually UPDATEd/DELETEd a
    # second time — extra matches that cascade to DO NOTHING (or fall past
    # every clause, __aff = 0) are legal (ADVICE r7). One aggregate yields
    # both the error condition (max mutating matches per target row) and
    # whether any row joined twice at all (then the duplicate joined copies
    # must be collapsed before the write).
    mstats = (
        pinned.filter("__is_m").groupBy("__tid")
        .agg(F.count("*").alias("c"), F.sum("__aff").alias("m"))
        .groupBy(F.lit(1).alias("__g"))
        .agg(F.max("c").alias("maxc"), F.max("m").alias("maxm"))
        .collect()
    )
    maxc = int(mstats[0].maxc) if mstats and mstats[0].maxc is not None else 0
    maxm = int(mstats[0].maxm) if mstats and mstats[0].maxm is not None else 0
    if maxm > 1:
        err = DmlError("MERGE command cannot affect row a second time")
        err.sqlstate = "21000"
        raise err
    # global (grouping-key-free) aggregate: returns exactly one row even
    # when pinned is empty (e.g. a no-op CDC batch with an empty source,
    # where the pruned join side has zero rows — ADVICE r8)
    n = pinned.agg(F.sum("__aff").alias("s")).collect()
    n = int(n[0].s or 0)
    out_rows = pinned
    if maxc > 1:
        # a target row joined 2+ source rows but was mutated at most once:
        # keep exactly one copy per __tid — the mutated one if present (its
        # __keep also carries a DELETE) — and every source-only insert row
        w = Window.partitionBy("__tid").orderBy(F.col("__aff").desc())
        out_rows = pinned.withColumn(
            "__rn", F.row_number().over(w)
        ).filter("__tid IS NULL OR __rn = 1")
    result = out_rows.filter("__keep").select(*tcols)

    # pg17 MERGE ... RETURNING: one row per INSERTed/UPDATEd/DELETEd row.
    # The cascade's per-column values already carry RETURNING semantics
    # (new values for INSERT/UPDATE, old row for DELETE); merge_action()
    # resolves to the fired clause kind. Materialized BEFORE the write.
    ret = None
    if returning is not None:
        affected = out_rows.filter("__aff = 1")
        if returning.strip() == "*":
            ret = _materialize(spark, affected.select(*tcols))
        else:
            clause = re.sub(r"\bmerge_action\s*\(\s*\)", "__action",
                            returning, flags=re.IGNORECASE)
            ret = _project_returning(
                spark, affected.select(*tcols, "__action"), clause)

    global LAST_MERGE_REGIME, LAST_MERGE_B_SRC
    LAST_MERGE_REGIME = "full"
    LAST_MERGE_B_SRC = list(b_src)
    if key_src is not None:
        if not b_src:
            # empty source → zero affected buckets were read and zero rows
            # were affected; the target is untouched bytes (MERGE 0)
            LAST_MERGE_REGIME = "pruned_empty_source"
            return "MERGE", n, ret
        LAST_MERGE_REGIME = "pruned"
        rewrite_buckets(catalog, schema, table, touched, result, keys, n_buckets)
        return "MERGE", n, ret

    if keys and n_buckets:
        write_bucketed_table(
            spark, catalog, schema, table, result, keys, n_buckets=n_buckets)
    else:
        replace_table(catalog, schema, table, result)
    return "MERGE", n, ret


def handle_dml(
    spark: SparkSession, catalog: Catalog | None, sql: str
) -> tuple[str, int, DataFrame | None] | None:
    """Execute one DML statement; returns (tag_head, n_affected,
    returning_df | None) or None if the statement is not DML."""
    head = sql.lstrip().split(None, 1)[0].upper() if sql.strip() else ""
    if head not in ("INSERT", "UPDATE", "DELETE", "WITH", "MERGE"):
        return None
    if catalog is None:
        raise DmlError("DML requires a table catalog")
    rm = re.search(r"\bRETURNING\b\s+(.+?)\s*;?\s*$", sql,
                   re.IGNORECASE | re.DOTALL)
    returning = rm.group(1) if rm else None
    if rm:
        sql = sql[:rm.start()]

    if head == "MERGE":
        return _run_merge(spark, catalog, sql, returning)

    if head == "WITH":
        # CTE-prefixed INSERT: `WITH ctes INSERT INTO t SELECT …` — pg scopes
        # the CTEs over the source query, so fold them into it.
        from bemidb_spark.pgcompat.transpiler import (
            _find_top_level,
            _shield_strings,
            _unshield,
        )

        shielded, lits = _shield_strings(sql)
        ins = _find_top_level(shielded, "INSERT")
        if ins < 0:
            return None
        ctes = _unshield(shielded[:ins], lits).strip()
        m = _INSERT_SELECT_RE.match(_unshield(shielded[ins:], lits))
        if not m:
            raise DmlError("unsupported WITH … INSERT form (expected a SELECT source)")
        source = ctes + " " + m.group(3)
        return _run_insert(spark, catalog, m, returning, source_sql=source)

    if head == "INSERT":
        alias = None
        am = _INSERT_ALIAS_RE.match(sql)
        if am:
            alias = am.group(2)
            sql = am.group(1) + sql[am.end():]
        m = _INSERT_RE.match(sql)
        if m:
            return _run_insert(spark, catalog, m, returning,
                               values_sql=m.group(3), alias=alias)
        m = _INSERT_SELECT_RE.match(sql)
        if not m:
            raise DmlError(
                "unsupported INSERT form (expected INSERT … VALUES / SELECT …)")
        return _run_insert(spark, catalog, m, returning,
                           source_sql=m.group(3), alias=alias)

    if head == "DELETE":
        m = _DELETE_USING_RE.match(sql)
        if m:
            return _delete_using(spark, catalog, m, returning)
        m = _DELETE_RE.match(sql)
        if not m:
            raise DmlError("unsupported DELETE form")
        schema, table = _split_name(m.group(1))
        current = _read_target(spark, catalog, schema, table)
        if m.group(2) is None:
            n = current.count()
            ret = _project_returning(spark, current, returning)
            replace_table(catalog, schema, table, current.limit(0))
            return "DELETE", n, ret
        cond = F.expr(transpile(m.group(2)))
        keys = _bucket_keys(catalog, schema, table)
        matched = current.filter(cond)
        stats = _bucket_stats(catalog, schema, table, keys, current, cond)
        if stats is not None:
            # bucketed target: ONE per-bucket aggregation yields the deleted
            # row count and the affected buckets that delete_by_key would
            # otherwise derive with a separate job (r10 guide §1.2 "remove
            # passes")
            n, buckets = stats
            ret = _project_returning(spark, matched, returning)
            if n == 0:
                return "DELETE", 0, ret
            delete_by_key(spark, catalog, schema, table, matched.select(*keys),
                          keys, buckets=buckets)
            return "DELETE", n, ret
        n = matched.count()
        ret = _project_returning(spark, matched, returning)
        if n == 0:
            return "DELETE", 0, ret
        if keys:
            delete_by_key(spark, catalog, schema, table, matched.select(*keys), keys)
        else:
            replace_table(catalog, schema, table, current.filter(_not_matching(cond)))
        return "DELETE", n, ret

    fm = _UPDATE_HEAD_RE.match(sql)
    if fm is not None:
        from bemidb_spark.pgcompat.transpiler import _find_top_level, _shield_strings

        shielded, _ = _shield_strings(fm.group(3))
        if _find_top_level(shielded, "FROM") >= 0:
            return _update_from(spark, catalog, fm, returning)
    m = _UPDATE_RE.match(sql)
    if not m:
        raise DmlError("unsupported UPDATE form")
    schema, table = _split_name(m.group(1))
    current = _read_target(spark, catalog, schema, table)
    fields = {f.name: f for f in current.schema.fields}
    set_map: dict[str, str] = {}
    for item in _split_top_level(m.group(2)):
        sm = re.match(r'^\s*"?([\w]+)"?\s*=\s*(.+)$', item, re.DOTALL)
        if not sm:
            raise DmlError(f"unsupported SET clause: {item}")
        col = sm.group(1)
        if col not in fields:
            err = DmlError(f'column "{col}" does not exist')
            err.sqlstate = "42703"
            raise err
        set_map[col] = transpile(sm.group(2).strip())
    cond = F.expr(transpile(m.group(3))) if m.group(3) else F.lit(True)
    matched = current.filter(cond)
    updated = matched.select(
        *[
            F.expr(set_map[c]).cast(fields[c].dataType).alias(c)
            if c in set_map
            else F.col(c)
            for c in fields
        ]
    )
    keys = _bucket_keys(catalog, schema, table)
    if keys and not any(k in set_map for k in keys):
        stats = _bucket_stats(catalog, schema, table, keys, current, cond)
        if stats is not None:
            # one aggregation job yields both the matched-row count and the
            # affected buckets (keys are not SET, so matched rows keep their
            # bucket) instead of a count job + upsert_by_key's distinct job
            n, buckets = stats
            ret = _project_returning(spark, updated, returning)
            if n == 0:
                return "UPDATE", 0, ret
            upsert_by_key(spark, catalog, schema, table, updated, keys,
                          buckets=buckets)
            return "UPDATE", n, ret
    n = matched.count()
    ret = _project_returning(spark, updated, returning)
    if n == 0:
        return "UPDATE", 0, ret
    if keys and not any(k in set_map for k in keys):
        upsert_by_key(spark, catalog, schema, table, updated, keys)
    else:
        kept = current.filter(_not_matching(cond))
        replace_table(catalog, schema, table, kept.unionByName(updated))
    return "UPDATE", n, ret

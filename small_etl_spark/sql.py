"""SQL over versioned tables, with time travel.

``sql(spark, query, tables={...})`` runs a Spark SQL statement whose
FROM/JOIN references name versioned tables (sinks/versioned.py roots)
and may carry the standard time-travel suffixes::

    SELECT ... FROM docs VERSION AS OF 3 ...
    SELECT ... FROM docs TIMESTAMP AS OF '2026-08-16T00:00:00' ...
    SELECT d.*, e.v FROM docs d JOIN events VERSION AS OF 0 e ON ...

Each referenced (table, version) resolves through
``read_snapshot`` — so manifest planning, column-id resolution, MoR
deletes, equality deletes and hidden partitioning all apply exactly as
they do for the DataFrame API — and is registered as a throwaway temp
view; the rewritten statement then runs on Spark's own SQL engine
(Catalyst sees the whole statement, so joins/aggregations across
snapshots optimize as one plan). Views are dropped before returning;
the returned DataFrame's analyzed plan keeps serving.

With ``catalog_root`` (see versioned.catalog_commit), bare table names
resolve to the versions THAT CATALOG SNAPSHOT pinned — mutually
consistent cross-table reads — while explicit ``VERSION AS OF``
still overrides per reference.

CDC reads use the ``CHANGES`` table reference — the row-level delta
between two snapshots with a ``_change_type`` column (the Delta
``table_changes`` TVF shape over :func:`versioned.table_changes`)::

    SELECT _change_type, k FROM CHANGES(docs, 3)       -- v3 .. head
    SELECT * FROM CHANGES(docs, 3, 5) WHERE _change_type = 'insert'
    SELECT * FROM CHANGES(docs, TIMESTAMP '2026-08-16T00:00:00')

Write-audit-publish runs entirely in SQL: ``t@branch`` addresses a
branch anywhere a table name is legal (SELECT, DML targets,
DESCRIBE), and branch/tag lifecycle is ALTER TABLE DDL::

    ALTER TABLE docs CREATE BRANCH wap;     -- cut at head
    UPDATE docs@wap SET v = v + 1 WHERE k < 10;   -- stage (Write)
    SELECT count(*) FROM docs@wap WHERE v < 0;    -- Audit
    ALTER TABLE docs PUBLISH BRANCH wap;    -- one squashed commit
    ALTER TABLE docs CREATE TAG release VERSION AS OF 7;
    ALTER TABLE docs DROP BRANCH dead; ALTER TABLE docs DROP TAG old;

Catalog admin: ``SHOW TABLES`` (catalog-pinned versions when a
catalog is in play), ``SHOW BRANCHES t`` / ``SHOW TAGS t``,
``DESCRIBE CATALOG`` (the catalog root's own commit history).

Materialized views (sinks/matview.py — incrementally maintained,
never recomputed) are plain DDL too::

    CREATE MATERIALIZED VIEW v AS
      SELECT lang, count(*) AS n, sum(n_chars) AS sc
      FROM docs WHERE n_chars > 0 GROUP BY lang;
    REFRESH MATERIALIZED VIEW v;     -- CDC-driven, O(delta)
    SELECT * FROM v;                 -- resolves via read_matview
    DROP MATERIALIZED VIEW v;

Scope (documented, not hidden): table references are recognized after
``FROM``/``JOIN`` only, so a subquery alias shadowing a registered
table name would be rewritten too — choose distinct names. Text
inside string literals is never rewritten (quoted spans are skipped).
This is a resolver in front of Spark SQL, not a SQL parser;
everything after resolution is Catalyst's.

DML statements dispatch to the versioned primitives with identical
guarantees (constraints, lineage, CDC, OCC, stats-pruned rewrites)::

    UPDATE t SET v = v + 1 WHERE k >= 100
    DELETE FROM t WHERE k < 10
    INSERT INTO t SELECT ... / INSERT INTO t (a, b) VALUES (1, 'x')
    INSERT OVERWRITE t SELECT ...
    MERGE INTO t USING (SELECT ...) s ON t.k = s.k
      WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE THEN DELETE

``USING name VERSION AS OF n`` time-travels the merge source. See the
DML section below for the exact clause grammar. Maintenance
statements complete the Delta SQL admin surface::

    RESTORE TABLE t TO VERSION AS OF 3
    OPTIMIZE t WHERE day = 7 / OPTIMIZE t ZORDER BY (x, y)
    VACUUM t RETAIN 168 HOURS
    DESCRIBE HISTORY t / DESCRIBE DETAIL t / SHOW CREATE TABLE t

DDL statements dispatch to the metadata-only schema-evolution
primitives (one O(record) commit each; CTAS commits a real v0)::

    CREATE TABLE t (k bigint, v string) PARTITIONED BY (day(ts))
    CREATE [OR REPLACE] TABLE t [PARTITIONED BY (...)] AS SELECT ...
    CREATE TABLE t LIKE src              -- shape only, no data
    CREATE TABLE t SHALLOW CLONE src [VERSION AS OF n]  -- zero-copy
    ALTER TABLE t RENAME COLUMN a TO b
    ALTER TABLE t ADD COLUMN c bigint DEFAULT 0
    ALTER TABLE t DROP COLUMN c
    ALTER TABLE t ALTER COLUMN c TYPE bigint   -- safe widenings only
    ALTER TABLE t ADD CONSTRAINT n CHECK (v >= 0)
    ALTER TABLE t DROP CONSTRAINT n
    ALTER TABLE t SET PARTITION SPEC (day(ts), bucket(16, id))
    DROP TABLE [IF EXISTS] t

A CREATE target's root comes from ``tables={name: root}`` — SQL
never invents filesystem locations.

Transaction blocks run every inner statement against the staged WAP
branches of ONE multi-table transaction (sinks/txn.py) and commit
with its single atomic catalog swap (requires ``catalog_root=``)::

    BEGIN;
    UPDATE fact SET v = v + 1 WHERE k < 10;
    MERGE INTO dim USING (SELECT ...) s ON dim.k = s.k
      WHEN NOT MATCHED THEN INSERT *;
    COMMIT;   -- or ROLLBACK;

Catalog readers see the block all-or-nothing; a failing inner
statement aborts everything.

Reference parity note: the reference has no SQL at all (row-at-a-time
Rust transforms, contextual_pipeline.rs:879-1121); this front-end is
engine-side extension surface making the versioned layer usable from
plain SQL, the Delta/Iceberg ``table@v``/``AS OF`` UX."""

from __future__ import annotations

import re
import uuid
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from small_etl_spark.session import local_frame
from small_etl_spark.sinks import versioned as V


def _ts_to_ms(raw: str) -> int:
    if raw.isdigit():
        return int(raw)
    # 'Z' suffix: fromisoformat only learned it in Python 3.11
    if raw.endswith(("Z", "z")):
        raw = raw[:-1] + "+00:00"
    dt = datetime.fromisoformat(raw)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def sql(
    spark: SparkSession,
    query: str,
    tables: dict[str, str] | None = None,
    catalog_root: str | None = None,
    catalog_version: int | None = None,
) -> DataFrame:
    """Run ``query`` with versioned-table name resolution + AS OF."""
    tables = dict(tables or {})
    if catalog_root is not None:
        cv = (
            V.latest_version(catalog_root)
            if catalog_version is None
            else catalog_version
        )
        if cv is None:
            raise FileNotFoundError(
                f"no catalog commits at {catalog_root!r}"
            )
        pinned: dict[str, dict[str, Any]] = V.read_manifest(
            catalog_root, cv
        )["tables"]
        for name, entry in pinned.items():
            tables.setdefault(name, entry["table"])
    else:
        pinned = {}
    if not tables:
        raise ValueError("sql() needs tables={{name: root}} or a catalog")

    if re.match(r"\s*BEGIN\b", query, re.I):
        return _sql_txn_block(
            spark, query, tables,
            catalog_root=catalog_root, catalog_version=catalog_version,
        )

    query = _resolve_branch_refs(query, tables)

    head_kw = re.match(
        r"\s*(MERGE|UPDATE|DELETE|INSERT|RESTORE|OPTIMIZE|VACUUM"
        r"|DESCRIBE\s+(?:HISTORY|DETAIL|CATALOG)"
        r"|SHOW\s+(?:CREATE\s+TABLE|TABLES|BRANCHES|TAGS)"
        r"|CREATE|ALTER|DROP|REFRESH)\b",
        query, re.I,
    )
    if head_kw:
        return _dml(
            spark, query, tables, pinned,
            catalog_root=catalog_root, catalog_version=catalog_version,
        )

    names = "|".join(
        re.escape(n) for n in sorted(tables, key=len, reverse=True)
    )
    views: list[str] = []

    def _register(df: DataFrame) -> str:
        view = f"__vsql_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(view)
        views.append(view)
        return view

    def _literal_spans(s: str) -> list[tuple[int, int]]:
        # string-literal spans ('' / "" escapes respected): a
        # FROM/JOIN that merely appears INSIDE a literal (WHERE note =
        # 'copied from docs archive') must not be rewritten — it is
        # data, not syntax. Matches are checked by START position, so
        # a real time-travel reference whose own timestamp literal
        # follows still rewrites.
        return [(m.start(), m.end()) for m in _QUOTED_RE.finditer(s)]

    # CDC table references first: FROM/JOIN CHANGES(t, from [, to])
    # resolves through versioned.table_changes — the row-level delta
    # between two snapshots with a _change_type column (Delta's
    # table_changes TVF shape)
    # each bound is a version number or TIMESTAMP '<iso>' (resolved
    # through version_as_of — the snapshot current AT that instant)
    ch_pat = re.compile(
        rf"\b(FROM|JOIN)\s+CHANGES\s*\(\s*({names})\s*,\s*"
        r"(?:(\d+)|TIMESTAMP\s+'([^']+)')"
        r"(?:\s*,\s*(?:(\d+)|TIMESTAMP\s+'([^']+)'))?\s*\)",
        re.IGNORECASE,
    )
    spans = _literal_spans(query)

    def _ch_repl(m: re.Match) -> str:
        if any(s <= m.start() < e for s, e in spans):
            return m.group(0)
        kw, name, fv, fts, tv, tts = m.groups()
        root = tables[name]
        from_v = (
            int(fv) if fv is not None
            else V.version_as_of(root, _ts_to_ms(fts))
        )
        if tv is not None:
            to_v: int | None = int(tv)
        elif tts is not None:
            to_v = V.version_as_of(root, _ts_to_ms(tts))
        else:
            to_v = None
        df = V.table_changes(spark, root, from_v, to_v)
        return f"{kw} {_register(df)}"

    query = ch_pat.sub(_ch_repl, query)

    pat = re.compile(
        rf"\b(FROM|JOIN)\s+({names})"
        r"(?:\s+VERSION\s+AS\s+OF\s+(\d+)"
        r"|\s+TIMESTAMP\s+AS\s+OF\s+(?:'([^']+)'|(\d+)))?(?![\w.])",
        re.IGNORECASE,
    )
    spans = _literal_spans(query)

    def _repl(m: re.Match) -> str:
        if any(s <= m.start() < e for s, e in spans):
            return m.group(0)
        kw, name, ver, ts_s, ts_n = m.groups()
        root = tables[name]
        if ver is not None:
            version: int | None = int(ver)
        elif ts_s is not None or ts_n is not None:
            version = V.version_as_of(root, _ts_to_ms(ts_s or ts_n))
        elif name in pinned:
            version = pinned[name]["version"]
        else:
            version = None  # head
        if _is_matview_root(root):
            if version is not None:
                raise ValueError(
                    f"{name!r} is a materialized view — time travel "
                    "targets its BASE table, not the view"
                )
            from small_etl_spark.sinks import matview as M

            return f"{kw} {_register(M.read_matview(spark, root))}"
        view = _register(V.read_snapshot(spark, root, version=version))
        return f"{kw} {view}"

    rewritten = pat.sub(_repl, query)
    try:
        return spark.sql(rewritten)
    finally:
        for v in views:
            spark.catalog.dropTempView(v)


# --------------------------------------------------------------------
# SQL DML: MERGE INTO / UPDATE / DELETE FROM / INSERT INTO
#
# Statement-level dispatch to the versioned primitives (merge,
# update_where, delete_where, commit_snapshot) so a user coming from
# Delta/Iceberg writes the same statements they write today and gets
# the same guarantees the Python API gives — CHECK constraints, row
# lineage, CDC, OCC, stats-pruned rewrites. This stays a resolver in
# front of the primitives, not a SQL grammar: clause keywords are
# recognized at parenthesis depth 0 outside string literals, and the
# condition / assignment / select TEXT between them is handed to
# Spark's own parser via F.expr / spark.sql. The reference engine is
# declarative TOML with no SQL (contextual_pipeline.rs:879-1121);
# this extends its "declare once, the engine enforces" story to SQL.
# --------------------------------------------------------------------

_QUOTED_RE = re.compile(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"")


def _mask_literals(s: str) -> str:
    """Copy of ``s`` with string-literal INTERIORS blanked (length
    preserved) so keyword/paren scans cannot match inside data."""
    out = list(s)
    for m in _QUOTED_RE.finditer(s):
        for i in range(m.start() + 1, m.end() - 1):
            out[i] = " "
    return "".join(out)


def _depth0(masked: str) -> list[bool]:
    """Per-char: is this position at parenthesis depth 0?"""
    d, out = 0, []
    for ch in masked:
        if ch == "(":
            out.append(d == 0)
            d += 1
        elif ch == ")":
            d -= 1
            out.append(d == 0)
        else:
            out.append(d == 0)
    return out


def _find_top(
    masked: str, pat: "re.Pattern[str]", start: int = 0
) -> "re.Match[str] | None":
    """First match of ``pat`` in ``masked`` at depth 0."""
    top = _depth0(masked)
    for m in pat.finditer(masked, start):
        if top[m.start()]:
            return m
    return None


def _split_top(orig: str, masked: str, sep: "re.Pattern[str]") -> list[str]:
    """Split ``orig`` at depth-0 matches of ``sep`` (scanned on the
    masked copy); returns the ORIGINAL text chunks."""
    top = _depth0(masked)
    cuts = [m for m in sep.finditer(masked) if top[m.start()]]
    out, pos = [], 0
    for m in cuts:
        out.append(orig[pos:m.start()])
        pos = m.end()
    out.append(orig[pos:])
    return out


def _realias(expr: str, mapping: dict[str, str]) -> str:
    """Rewrite ``alias.`` prefixes per ``mapping`` (case-insensitive,
    literal-safe). An empty replacement strips the qualifier."""
    if not mapping or not expr:
        return expr
    spans = [
        (m.start(), m.end()) for m in _QUOTED_RE.finditer(expr)
    ]
    alts = "|".join(re.escape(a) for a in mapping)
    pat = re.compile(rf"(?<![\w.`$])({alts})\s*\.", re.IGNORECASE)

    def repl(m: re.Match) -> str:
        if any(s <= m.start() < e for s, e in spans):
            return m.group(0)
        tgt = mapping[m.group(1).lower()]
        return f"{tgt}." if tgt else ""

    return pat.sub(repl, expr)


_CMP_RE = re.compile(
    r"^\s*`?(\w+)`?\s*(=|<=|>=|<|>)\s*"
    r"('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*$"
)


def _prune_preds(where_sql: str | None) -> "list[V.Predicate] | None":
    """Manifest prune predicates implied by the WHERE clause: every
    depth-0 conjunct of form ``col <op> literal`` prunes files whose
    stats cannot match (pruning on a conjunct subset is always sound —
    a file failing one conjunct holds no matching row). Anything more
    complex contributes nothing; the rewrite stays correct, just
    unpruned — same contract as passing prune=None to the Python API."""
    if not where_sql:
        return None
    masked = _mask_literals(where_sql)
    preds: list[V.Predicate] = []
    for chunk in _split_top(
        where_sql, masked, re.compile(r"\bAND\b", re.IGNORECASE)
    ):
        m = _CMP_RE.match(chunk)
        if not m:
            continue
        col, op, lit = m.groups()
        if lit.startswith("'"):
            val: Any = lit[1:-1].replace("''", "'")
        elif re.fullmatch(r"-?\d+", lit):
            val = int(lit)
        else:
            val = float(lit)
        preds.append((col, op, val))
    return preds or None


def _dml_result(
    spark: SparkSession, op: str, table: str, version: int | None
) -> DataFrame:
    return local_frame(
        spark, [(op, table, -1 if version is None else int(version))],
        "op string, table string, version bigint",
    )


def _resolve_branch_refs(query: str, tables: dict[str, str]) -> str:
    """Rewrite ``t@branch`` references (the Iceberg ``branch_x`` /
    Delta ``t@v`` addressing idea, spelled uniformly) to internal
    alias names registered against the branch ROOT, so every
    downstream consumer — SELECT rewrite, DML targets, DESCRIBE —
    resolves the branch exactly like a table. Mutates ``tables``
    (the per-call copy) in place. Literal spans are left alone."""
    names = "|".join(
        re.escape(n) for n in sorted(tables, key=len, reverse=True)
    )
    pat = re.compile(rf"\b({names})@([A-Za-z0-9._-]+)")
    spans = [(m.start(), m.end()) for m in _QUOTED_RE.finditer(query)]

    def _repl(m: re.Match) -> str:
        if any(s <= m.start() < e for s, e in spans):
            return m.group(0)
        name, branch = m.group(1), m.group(2)
        root = V._branch_root(tables[name], branch)
        if V.latest_version(root) is None:
            raise ValueError(
                f"no branch {branch!r} on table {name!r} — "
                f"ALTER TABLE {name} CREATE BRANCH {branch} first"
            )
        alias = f"__br_{name}_{re.sub(r'[^A-Za-z0-9_]', '_', branch)}"
        tables[alias] = root
        return alias

    return pat.sub(_repl, query)


def _target_root(name: str, tables: dict[str, str]) -> str:
    if name not in tables:
        raise ValueError(
            f"DML target {name!r} is not a registered versioned table; "
            f"known: {sorted(tables)}"
        )
    return tables[name]


def _dml(
    spark: SparkSession,
    query: str,
    tables: dict[str, str],
    pinned: dict[str, Any],
    catalog_root: str | None = None,
    catalog_version: int | None = None,
) -> DataFrame:
    masked = _mask_literals(query)
    kw = re.match(r"\s*(\w+)", masked).group(1).upper()
    if kw == "UPDATE":
        return _dml_update(spark, query, masked, tables)
    if kw == "DELETE":
        return _dml_delete(spark, query, masked, tables)
    if kw == "INSERT":
        return _dml_insert(
            spark, query, masked, tables,
            catalog_root=catalog_root, catalog_version=catalog_version,
        )
    if kw == "CREATE":
        return _ddl_create(
            spark, query, masked, tables,
            catalog_root=catalog_root, catalog_version=catalog_version,
        )
    if kw == "ALTER":
        return _ddl_alter(spark, query, masked, tables)
    if kw == "DROP":
        return _ddl_drop(spark, query, masked, tables)
    if kw == "REFRESH":
        hm = re.match(
            r"\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$",
            masked, re.IGNORECASE,
        )
        if not hm:
            raise ValueError(f"cannot parse REFRESH statement: {query!r}")
        from small_etl_spark.sinks import matview as M

        name = hm.group(1)
        rep = M.refresh_matview(spark, _target_root(name, tables))
        return _dml_result(spark, f"refresh_{rep['mode']}", name, rep["to"])
    if kw == "RESTORE":
        return _dml_restore(spark, query, masked, tables)
    if kw == "OPTIMIZE":
        return _dml_optimize(spark, query, masked, tables)
    if kw == "VACUUM":
        return _dml_vacuum(spark, query, masked, tables)
    if kw == "DESCRIBE":
        if re.match(r"\s*DESCRIBE\s+CATALOG\s*$", masked, re.IGNORECASE):
            # the catalog root is itself a versioned log; its records
            # pin tables, not files — walk them directly
            if catalog_root is None:
                raise ValueError("DESCRIBE CATALOG needs catalog_root=")
            head = V.latest_version(catalog_root)
            rows = []
            for cv in range((head + 1) if head is not None else 0):
                m = V.read_manifest(catalog_root, cv)
                rows.append(
                    (
                        cv,
                        len(m["tables"]),
                        int(m.get("committed_at_ms", 0)),
                    )
                )
            return local_frame(
                spark, rows,
                "catalog_version BIGINT, n_tables BIGINT, "
                "committed_at_ms BIGINT",
            )
        hm = re.match(
            r"\s*DESCRIBE\s+(HISTORY|DETAIL)\s+(\w+)\s*$",
            masked, re.IGNORECASE,
        )
        if not hm:
            raise ValueError(f"cannot parse DESCRIBE statement: {query!r}")
        root = _target_root(hm.group(2), tables)
        if hm.group(1).upper() == "HISTORY":
            return V.snapshot_history(spark, root)
        return _describe_detail(spark, hm.group(2), root)
    if kw == "SHOW":
        if re.match(r"\s*SHOW\s+TABLES\s*$", masked, re.IGNORECASE):
            # catalog-pinned versions when a catalog is in play (the
            # mutually consistent view); head versions otherwise
            rows = []
            for n in sorted(tables):
                if n.startswith("__br_"):
                    continue  # internal branch aliases, not tables
                v = (
                    pinned[n]["version"]
                    if n in pinned
                    else V.latest_version(tables[n])
                )
                rows.append((n, -1 if v is None else int(v)))
            return local_frame(
                spark, rows, "table string, version bigint"
            )
        hm = re.match(
            r"\s*SHOW\s+(BRANCHES|TAGS)\s+(\w+)\s*$",
            masked, re.IGNORECASE,
        )
        if hm:
            root = _target_root(hm.group(2), tables)
            if hm.group(1).upper() == "BRANCHES":
                return local_frame(
                    spark,
                    [
                        (n, int(info["base"]), int(info["head"]))
                        for n, info in sorted(
                            V.list_branches(root).items()
                        )
                    ],
                    "branch string, base bigint, head bigint",
                )
            return local_frame(
                spark,
                [
                    (n, int(v))
                    for n, v in sorted(V.list_tags(root).items())
                ],
                "tag string, version bigint",
            )
        hm = re.match(
            r"\s*SHOW\s+CREATE\s+TABLE\s+(\w+)\s*$",
            masked, re.IGNORECASE,
        )
        if not hm:
            raise ValueError(f"cannot parse SHOW statement: {query!r}")
        return _show_create_table(
            spark, hm.group(1), _target_root(hm.group(1), tables)
        )
    return _dml_merge(
        spark, query, masked, tables, pinned,
        catalog_root=catalog_root, catalog_version=catalog_version,
    )


_ASSIGN_RE = re.compile(r"^\s*(?:`?\w+`?\s*\.\s*)?`?(\w+)`?\s*=\s*(.+)$", re.S)


def _parse_assignments(
    text: str, mapping: dict[str, str]
) -> dict[str, str]:
    masked = _mask_literals(text)
    out: dict[str, str] = {}
    for chunk in _split_top(text, masked, re.compile(r",")):
        m = _ASSIGN_RE.match(chunk)
        if not m:
            raise ValueError(f"cannot parse SET assignment: {chunk!r}")
        out[m.group(1)] = _realias(m.group(2).strip(), mapping)
    return out


def _dml_update(
    spark: SparkSession, query: str, masked: str, tables: dict[str, str]
) -> DataFrame:
    """``UPDATE t [AS a] SET col = expr, ... [WHERE pred]`` →
    :func:`versioned.update_where` (COW, constraint-checked, lineage-
    stable, CDC delete+insert pairs), with manifest prune predicates
    derived from simple WHERE conjuncts so a range-keyed UPDATE
    rewrites O(matched files) from SQL exactly as from Python."""
    hm = re.match(
        r"\s*UPDATE\s+(\w+)(?:\s+(?:AS\s+)?(?!SET\b)(\w+))?\s+SET\s+",
        masked, re.IGNORECASE,
    )
    if not hm:
        raise ValueError(f"cannot parse UPDATE statement: {query!r}")
    name, alias = hm.group(1), hm.group(2)
    root = _target_root(name, tables)
    rest, rest_masked = query[hm.end():], masked[hm.end():]
    wm = _find_top(
        rest_masked, re.compile(r"\bWHERE\b", re.IGNORECASE)
    )
    if wm:
        set_text, where = rest[: wm.start()], rest[wm.end():].strip()
    else:
        set_text, where = rest, None
    mapping = {name.lower(): ""}
    if alias:
        mapping[alias.lower()] = ""
    sets = _parse_assignments(set_text, mapping)
    pred = _realias(where, mapping) if where else None
    v = V.update_where(
        spark, root, set=sets, predicate=pred,
        prune=_prune_preds(pred),
    )
    return _dml_result(spark, "update", name, v)


def _dml_delete(
    spark: SparkSession, query: str, masked: str, tables: dict[str, str]
) -> DataFrame:
    """``DELETE FROM t [AS a] [WHERE pred]`` →
    :func:`versioned.delete_where` (COW), stats-pruned like UPDATE."""
    hm = re.match(
        r"\s*DELETE\s+FROM\s+(\w+)"
        r"(?:\s+(?:AS\s+)?(?!WHERE\b)(\w+))?\s*",
        masked, re.IGNORECASE,
    )
    if not hm:
        raise ValueError(f"cannot parse DELETE statement: {query!r}")
    name, alias = hm.group(1), hm.group(2)
    root = _target_root(name, tables)
    rest, rest_masked = query[hm.end():], masked[hm.end():]
    wm = re.match(r"\s*WHERE\b", rest_masked, re.IGNORECASE)
    if wm:
        where = rest[wm.end():].strip()
    elif rest.strip():
        raise ValueError(
            f"unexpected trailing text in DELETE: {rest.strip()!r}"
        )
    else:
        where = None
    mapping = {name.lower(): ""}
    if alias:
        mapping[alias.lower()] = ""
    if where is None:
        pred: Any = "true"
        prune = None
    else:
        pred = _realias(where, mapping)
        prune = _prune_preds(pred)
    v = V.delete_where(spark, root, pred, prune=prune)
    return _dml_result(spark, "delete", name, v)


def _dml_insert(
    spark: SparkSession,
    query: str,
    masked: str,
    tables: dict[str, str],
    catalog_root: str | None,
    catalog_version: int | None,
) -> DataFrame:
    """``INSERT INTO|OVERWRITE t [(cols)] SELECT ...|VALUES ...`` →
    :func:`versioned.commit_snapshot` append/overwrite. The SELECT
    resolves through :func:`sql` itself, so it may reference versioned
    tables with AS OF; binding is POSITIONAL with a cast to the target
    schema (ANSI INSERT), and the commit path enforces constraints,
    claims lineage ids and keeps OCC exactly as the Python API."""
    hm = re.match(
        r"\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?(\w+)\s*",
        masked, re.IGNORECASE,
    )
    if not hm:
        raise ValueError(f"cannot parse INSERT statement: {query!r}")
    mode = "append" if hm.group(1).upper() == "INTO" else "overwrite"
    name = hm.group(2)
    root = _target_root(name, tables)
    rest, rest_masked = query[hm.end():], masked[hm.end():]
    cols: list[str] | None = None
    cm = re.match(r"\(([^)]*)\)\s*", rest_masked)
    if cm:
        cols = [
            c.strip().strip("`")
            for c in rest[cm.start(1): cm.end(1)].split(",")
            if c.strip()
        ]
        # a bare (SELECT ...) body is a subquery, not a column list
        if any(" " in c or c.upper().startswith("SELECT") for c in cols):
            cols = None
        else:
            rest = rest[cm.end():]
    body = rest.strip()
    if re.match(r"VALUES\b", body, re.IGNORECASE):
        src = spark.sql(body)
    else:
        src = sql(
            spark, body, tables=tables,
            catalog_root=catalog_root, catalog_version=catalog_version,
        )
    head = V.latest_version(root)
    if head is None:
        raise FileNotFoundError(f"no snapshots committed at {root!r}")
    schema = StructType.fromJson(V._read_record(root, head)["schema"])
    targets = cols if cols is not None else [f.name for f in schema.fields]
    if len(src.columns) != len(targets):
        raise ValueError(
            f"INSERT supplies {len(src.columns)} column(s) for "
            f"{len(targets)} target column(s) {targets}"
        )
    for c in targets:
        if c not in schema.fieldNames():
            raise ValueError(f"INSERT column {c!r} not in target schema")
    out = src.select(
        *[
            F.col(src.columns[i]).cast(schema[c].dataType).alias(c)
            for i, c in enumerate(targets)
        ]
    )
    if cols is not None and len(cols) < len(schema.fields):
        # unlisted columns take NULL (ANSI): fill to the full schema
        for f in schema.fields:
            if f.name not in cols:
                out = out.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        out = out.select(*[f.name for f in schema.fields])
    v = V.commit_snapshot(out, root, mode=mode)
    return _dml_result(spark, f"insert_{mode}", name, v)


def _parse_on_keys(
    on_text: str, t_alias: str, s_alias: str
) -> list[str]:
    """ON must be a conjunction of same-name equality key pairs
    (``t.k = s.k``) — the shape the merge primitive shuffles on. A
    general theta-ON would force an unbounded cross-file join; refuse
    loudly rather than degrade silently at 100 TB."""
    masked = _mask_literals(on_text)
    keys: list[str] = []
    side = re.compile(
        r"^\s*(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?\s*$"
    )
    for chunk in _split_top(
        on_text, masked, re.compile(r"\bAND\b", re.IGNORECASE)
    ):
        parts = chunk.split("=")
        ok = False
        if len(parts) == 2:
            lm, rm = side.match(parts[0]), side.match(parts[1])
            if lm and rm:
                la, lc = lm.groups()
                ra, rc = rm.groups()
                aliases = {
                    (la or "").lower(), (ra or "").lower()
                } - {""}
                if lc == rc and aliases <= {t_alias, s_alias}:
                    keys.append(lc)
                    ok = True
        if not ok:
            raise ValueError(
                f"MERGE ON conjunct {chunk.strip()!r} is not a "
                "same-name key equality (t.k = s.k); rename the "
                "source column to match the target key"
            )
    if not keys:
        raise ValueError("MERGE requires at least one ON key")
    return keys


_WHEN_HEAD = re.compile(
    r"^\s*(NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED(?:\s+BY\s+TARGET)?"
    r"|MATCHED)\s*(?:AND\s+(.*?))?\s*THEN\s+(.*)$",
    re.IGNORECASE | re.S,
)


def _dml_merge(
    spark: SparkSession,
    query: str,
    masked: str,
    tables: dict[str, str],
    pinned: dict[str, Any],
    catalog_root: str | None,
    catalog_version: int | None,
) -> DataFrame:
    """``MERGE INTO t USING src ON ... WHEN ...`` →
    :func:`versioned.merge` (multi-clause COW merge: clause order,
    conditions, cardinality guard, constraints, lineage, CDC). USING
    accepts a subquery (resolved through :func:`sql`, so it may time-
    travel: ``USING docs VERSION AS OF 3 s``) or a registered
    versioned table reference."""
    hm = re.match(
        r"\s*MERGE\s+INTO\s+(\w+)"
        r"(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+USING\s+",
        masked, re.IGNORECASE,
    )
    if not hm:
        raise ValueError(f"cannot parse MERGE statement: {query!r}")
    name = hm.group(1)
    t_alias = hm.group(2) or name
    root = _target_root(name, tables)
    pos = hm.end()

    # USING <source>: subquery or (possibly time-traveled) table ref
    if masked[pos] == "(":
        depth, end = 0, None
        for i in range(pos, len(masked)):
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        if end is None:
            raise ValueError("unbalanced parens in MERGE USING")
        src_df = sql(
            spark, query[pos + 1: end], tables=tables,
            catalog_root=catalog_root, catalog_version=catalog_version,
        )
        pos = end + 1
        am = re.match(
            r"\s*(?:AS\s+)?(?!ON\b)(\w+)\s*", masked[pos:], re.IGNORECASE
        )
        s_alias = "s"
        if am:
            s_alias = am.group(1)
            pos += am.end()
    else:
        sm = re.match(
            r"(\w+)"
            r"(\s+VERSION\s+AS\s+OF\s+\d+"
            r"|\s+TIMESTAMP\s+AS\s+OF\s+(?:'[^']+'|\d+))?"
            r"(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?\s*",
            masked[pos:], re.IGNORECASE,
        )
        if not sm:
            raise ValueError("cannot parse MERGE USING source")
        sname, suffix, s_alias = sm.group(1), sm.group(2), sm.group(3)
        s_alias = s_alias or sname
        src_df = sql(
            spark,
            f"SELECT * FROM {query[pos + sm.start(1): pos + sm.end(2 if suffix else 1)]}",
            tables=tables,
            catalog_root=catalog_root, catalog_version=catalog_version,
        )
        pos += sm.end()

    om = re.match(r"ON\s+", masked[pos:], re.IGNORECASE)
    if not om:
        raise ValueError("MERGE requires ON after USING source")
    pos += om.end()
    when = _find_top(
        masked, re.compile(r"\bWHEN\b", re.IGNORECASE), pos
    )
    if not when:
        raise ValueError("MERGE requires at least one WHEN clause")
    on_text = query[pos: when.start()]
    ta, sa = t_alias.lower(), s_alias.lower()
    if ta == sa:
        raise ValueError(
            f"MERGE target and source aliases collide on {t_alias!r}"
        )
    keys = _parse_on_keys(on_text, ta, sa)
    mapping = {ta: "t", sa: "s"}

    matched: list[dict[str, Any]] = []
    not_matched: list[dict[str, Any]] = []
    by_source: list[dict[str, Any]] = []
    clause_texts = _split_top(
        query[when.end():], masked[when.end():],
        re.compile(r"\bWHEN\b", re.IGNORECASE),
    )
    for text in clause_texts:
        # scan the masked copy (consistent with the rest of the DML
        # parser): a condition literal containing 'THEN' must not
        # split the clause — slice the ORIGINAL by the match spans
        # (masking is length-preserving)
        cm = _WHEN_HEAD.match(_mask_literals(text))
        if not cm:
            raise ValueError(f"cannot parse MERGE clause: {text.strip()!r}")
        head = text[cm.start(1): cm.end(1)]
        cond = text[cm.start(2): cm.end(2)] if cm.group(2) else None
        action = text[cm.start(3): cm.end(3)]
        head = re.sub(r"\s+", " ", head).upper()
        cond = _realias(cond.strip(), mapping) if cond else None
        action_m = _mask_literals(action)
        clause: dict[str, Any] = {"condition": cond}
        if re.match(r"DELETE\s*$", action_m, re.IGNORECASE):
            clause["action"] = "delete"
        elif re.match(r"UPDATE\s+SET\s+\*\s*$", action_m, re.IGNORECASE):
            clause.update(action="update", set="all")
        elif re.match(r"UPDATE\s+SET\s+", action_m, re.IGNORECASE):
            um = re.match(r"UPDATE\s+SET\s+", action_m, re.IGNORECASE)
            clause.update(
                action="update",
                set=_parse_assignments(action[um.end():], mapping),
            )
        elif re.match(r"INSERT\s+\*\s*$", action_m, re.IGNORECASE):
            clause.update(action="insert", values="all")
        elif re.match(r"INSERT\s*\(", action_m, re.IGNORECASE):
            im = re.match(
                r"INSERT\s*\(([^)]*)\)\s*VALUES\s*\(", action_m,
                re.IGNORECASE,
            )
            if not im:
                raise ValueError(
                    f"cannot parse INSERT clause: {action.strip()!r}"
                )
            icols = [
                c.strip().strip("`")
                for c in action[im.start(1): im.end(1)].split(",")
            ]
            vtext = action[im.end():]
            vmask = action_m[im.end():]
            close = vmask.rfind(")")
            exprs = _split_top(
                vtext[:close], vmask[:close], re.compile(r",")
            )
            if len(icols) != len(exprs):
                raise ValueError(
                    f"INSERT lists {len(icols)} column(s) but "
                    f"{len(exprs)} value(s)"
                )
            clause.update(
                action="insert",
                values={
                    c: _realias(e.strip(), mapping)
                    for c, e in zip(icols, exprs)
                },
            )
        else:
            raise ValueError(
                f"unsupported MERGE action: {action.strip()!r}"
            )
        if head == "MATCHED":
            if clause["action"] == "insert":
                raise ValueError("WHEN MATCHED cannot INSERT")
            matched.append(clause)
        elif head == "NOT MATCHED BY SOURCE":
            if clause["action"] == "insert":
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE cannot INSERT"
                )
            by_source.append(clause)
        else:
            if clause["action"] != "insert":
                raise ValueError("WHEN NOT MATCHED must INSERT")
            not_matched.append(clause)

    v = V.merge(
        spark, root, src_df, on=keys,
        matched=matched or None,
        not_matched=not_matched or None,
        not_matched_by_source=by_source or None,
    )
    return _dml_result(spark, "merge", name, v)


# Maintenance statements (the Delta SQL admin surface):
#   RESTORE TABLE t TO VERSION AS OF n | TO TIMESTAMP AS OF '...'
#   OPTIMIZE t [WHERE <simple conjuncts>] [ZORDER BY (c1, c2)]
#   VACUUM t [RETAIN <n> HOURS]
# Each dispatches to the existing primitive (restore_snapshot,
# optimize_snapshot / set_sort_order + auto-maintain clustering,
# expire_snapshots) — metadata-only or input-bounded work, never a
# statement-driven full rewrite.


def _dml_restore(
    spark: SparkSession, query: str, masked: str, tables: dict[str, str]
) -> DataFrame:
    hm = re.match(
        r"\s*RESTORE\s+(?:TABLE\s+)?(\w+)\s+TO\s+"
        r"(?:VERSION\s+AS\s+OF\s+(\d+)"
        r"|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*$",
        masked, re.IGNORECASE,
    )
    if not hm:
        raise ValueError(f"cannot parse RESTORE statement: {query!r}")
    name, ver, ts = hm.groups()
    root = _target_root(name, tables)
    if ver is not None:
        version = int(ver)
    else:
        # recover the timestamp TEXT from the original (masked blanks
        # literal interiors)
        ts = query[hm.start(3): hm.end(3)]
        version = V.version_as_of(root, _ts_to_ms(ts))
    v = V.restore_snapshot(root, version)
    return _dml_result(spark, "restore", name, v)


def _dml_optimize(
    spark: SparkSession, query: str, masked: str, tables: dict[str, str]
) -> DataFrame:
    hm = re.match(
        r"\s*OPTIMIZE\s+(\w+)\s*", masked, re.IGNORECASE
    )
    if not hm:
        raise ValueError(f"cannot parse OPTIMIZE statement: {query!r}")
    name = hm.group(1)
    root = _target_root(name, tables)
    rest, rest_masked = query[hm.end():], masked[hm.end():]
    where = None
    zcols: list[str] | None = None
    wm = re.match(r"WHERE\s+", rest_masked, re.IGNORECASE)
    if wm:
        zm = _find_top(
            rest_masked, re.compile(r"\bZORDER\s+BY\b", re.IGNORECASE)
        )
        end = zm.start() if zm else len(rest)
        where = rest[wm.end(): end]
        rest, rest_masked = rest[end:], rest_masked[end:]
    zm = re.match(
        r"\s*ZORDER\s+BY\s*\(([^)]*)\)\s*$", rest_masked, re.IGNORECASE
    )
    if zm:
        zcols = [
            c.strip().strip("`")
            for c in rest[zm.start(1): zm.end(1)].split(",")
            if c.strip()
        ]
    elif rest.strip() and not wm:
        raise ValueError(
            f"unexpected trailing text in OPTIMIZE: {rest.strip()!r}"
        )
    if zcols:
        if where:
            raise ValueError(
                "OPTIMIZE ... ZORDER BY does not take WHERE (the "
                "Z-order rewrite is whole-snapshot); scope plain "
                "OPTIMIZE with WHERE instead"
            )
        # declare the clustering columns, then rewrite along them
        # using manifest-stat bounds (no data scan for the bounds)
        V.set_sort_order(root, zcols)
        head = V.latest_version(root)
        hm2 = V.read_manifest(root, head)
        bounds = V._sort_order_bounds(hm2)
        if bounds is None:
            raise ValueError(
                "ZORDER BY columns lack usable manifest stats "
                "(non-numeric, all-null, or truncated); cluster via "
                "the Python API with explicit bounds"
            )
        v = V.cluster_snapshot(spark, root, zorder=bounds)
    else:
        prune = _prune_preds(where) if where else None
        if where and not prune:
            raise ValueError(
                "OPTIMIZE WHERE supports only AND-ed `col <op> "
                f"literal` conjuncts (got {where.strip()!r}) — they "
                "must prune via manifest stats"
            )
        v = V.optimize_snapshot(spark, root, where=prune)
        if v is None:
            # nothing to compact: report the unchanged head
            v = V.latest_version(root)
    return _dml_result(spark, "optimize", name, v)


def _dml_vacuum(
    spark: SparkSession, query: str, masked: str, tables: dict[str, str]
) -> DataFrame:
    hm = re.match(
        r"\s*VACUUM\s+(\w+)"
        r"(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*$",
        masked, re.IGNORECASE,
    )
    if not hm:
        raise ValueError(f"cannot parse VACUUM statement: {query!r}")
    name, hours = hm.group(1), hm.group(2)
    root = _target_root(name, tables)
    # Delta's default retention: 7 days. Age-based expiry (not
    # keep-last-N) is the contract streaming tables need.
    ms = int(hours or 24 * 7) * 3600 * 1000
    n = V.expire_snapshots(root, older_than_ms=ms)
    out = local_frame(
        spark, [("vacuum", name, int(n))],
        "op string, table string, files_deleted bigint",
    )
    return out


# --------------------------------------------------------------------
# SQL DDL: CREATE TABLE [AS SELECT] / ALTER TABLE / DROP TABLE
#
# The statement surface a Delta/Iceberg user expects over the
# metadata-only evolution primitives (VERDICT r10 #2): CTAS commits a
# real snapshot; every ALTER dispatches to the corresponding
# versioned.py op (rename_column / add_column / drop_column /
# widen_type / add_constraint / drop_constraint / set_partition_spec)
# so it stays one O(record) commit with the same OCC, constraint
# validation and time-travel behavior as the Python API. Same
# scanner discipline as DML: keywords recognized on the literal-
# masked copy at parenthesis depth 0; expression/type TEXT sliced
# from the original and handed to Spark. The reference has no DDL at
# all (TOML-declared shapes, src/config/*.rs); this is engine-side
# extension surface following the public Delta/Spark SQL grammar.
# --------------------------------------------------------------------


def _match_paren(masked: str, open_pos: int) -> int:
    """Index of the ')' closing the '(' at ``open_pos`` (scanned on
    the masked copy, so parens inside string literals are data)."""
    depth = 0
    for i in range(open_pos, len(masked)):
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parentheses in DDL statement")


def _sql_type_json(spark: SparkSession, type_text: str) -> Any:
    """SQL type text ('bigint', 'decimal(12,2)', 'array<int>') → the
    JSON type value the schema-evolution primitives store, parsed by
    Spark's own DDL parser (public API — an empty frame's schema)."""
    try:
        return (
            spark.createDataFrame([], f"`__t__` {type_text}")
            .schema.fields[0]
            .dataType.jsonValue()
        )
    except Exception as exc:  # noqa: BLE001 - surface parse errors
        raise ValueError(
            f"cannot parse SQL type {type_text!r}: {exc}"
        ) from None


def _scalar_literal(text: str) -> Any:
    """A DEFAULT literal: quoted string ('' unescapes), integer,
    float, or TRUE/FALSE. Anything else refuses — initial defaults
    are metadata scalars, not expressions."""
    t = text.strip()
    if re.fullmatch(r"'(?:[^']|'')*'", t, re.S):
        return t[1:-1].replace("''", "'")
    if re.fullmatch(r"[+-]?\d+", t):
        return int(t)
    if re.fullmatch(r"[+-]?(\d+\.\d*|\.\d+)([eE][+-]?\d+)?", t):
        return float(t)
    if t.upper() in ("TRUE", "FALSE"):
        return t.upper() == "TRUE"
    raise ValueError(
        f"DEFAULT must be a scalar literal, got: {text.strip()!r}"
    )


def _is_matview_root(root: str) -> bool:
    """A registered root whose ``state`` subtable carries matview
    state reads through read_matview, not read_snapshot. The common
    case (plain table) pays ONE failing stat/isdir probe on the
    state manifest dir — not a directory listing — so hot SELECT
    loops over plain tables stay I/O-trivial (review r12)."""
    import os as _os

    from small_etl_spark.sinks import matview as M
    from small_etl_spark.sinks.store import is_object_store, store_for

    mdir = _os.path.join(M._state_root(root), "_manifests")
    try:
        if is_object_store(root):
            if not store_for(root).isdir(mdir):  # MaxKeys=1 LIST
                return False
        elif not _os.path.isdir(mdir):
            return False
        return V.latest_version(M._state_root(root)) is not None
    except OSError:
        return False


def _ddl_create_matview(
    spark: SparkSession,
    query: str,
    masked: str,
    tables: dict[str, str],
) -> DataFrame:
    """``CREATE MATERIALIZED VIEW v AS SELECT g1, ..., agg(expr) AS
    name, ... FROM base [WHERE pred] GROUP BY g1, ...`` →
    :func:`matview.create_matview`. Select items are either bare
    GROUP BY columns or ``func(expr) AS name`` with func in
    count/sum/avg/min/max (``count(*)`` supported); the view then
    maintains itself from the base's CDC (REFRESH MATERIALIZED VIEW,
    or stream_maintain_matview for streams) — never by recompute."""
    from small_etl_spark.sinks import matview as M

    hm = re.match(
        r"\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+AS\s+SELECT\s+",
        masked, re.IGNORECASE,
    )
    if not hm:
        raise ValueError(
            f"cannot parse CREATE MATERIALIZED VIEW statement "
            f"(expected: CREATE MATERIALIZED VIEW <name> AS SELECT "
            f"... FROM <base> [WHERE ...] GROUP BY ...): {query!r}"
        )
    name = hm.group(1)
    root = _target_root(name, tables)
    rest, rest_m = query[hm.end():], masked[hm.end():]
    fm = _find_top(rest_m, re.compile(r"\bFROM\b", re.IGNORECASE))
    if not fm:
        raise ValueError(f"no FROM in CREATE MATERIALIZED VIEW: {query!r}")
    select_list, select_m = rest[: fm.start()], rest_m[: fm.start()]
    tail, tail_m = rest[fm.end():], rest_m[fm.end():]
    gm = _find_top(tail_m, re.compile(r"\bGROUP\s+BY\b", re.IGNORECASE))
    if not gm:
        raise ValueError(
            "CREATE MATERIALIZED VIEW needs GROUP BY (aggregate views "
            "are the incrementally maintainable shape)"
        )
    base_where, base_where_m = tail[: gm.start()], tail_m[: gm.start()]
    group_by = [
        c.strip().strip("`")
        for c in _split_top(
            tail[gm.end():], tail_m[gm.end():], re.compile(r",")
        )
        if c.strip()
    ]
    wm = _find_top(base_where_m, re.compile(r"\bWHERE\b", re.IGNORECASE))
    if wm:
        base_name = base_where[: wm.start()].strip().strip("`")
        where = base_where[wm.end():].strip()
    else:
        base_name, where = base_where.strip().strip("`"), None
    base_root = _target_root(base_name, tables)
    aggs: dict[str, tuple[str, str]] = {}
    for item, item_m in zip(
        _split_top(select_list, select_m, re.compile(r",")),
        _split_top(select_m, select_m, re.compile(r",")),
    ):
        it = item.strip()
        if not it:
            continue
        am = re.match(
            r"(count|sum|avg|min|max)\s*\(", item_m.strip(),
            re.IGNORECASE,
        )
        if am:
            lead = len(item_m) - len(item_m.lstrip())
            open_pos = lead + am.end() - 1
            close = _match_paren(item_m, open_pos)
            expr = item[open_pos + 1: close].strip()
            alias_m = re.match(
                r"\s*AS\s+`?(\w+)`?\s*$", item_m[close + 1:],
                re.IGNORECASE,
            )
            if not alias_m:
                raise ValueError(
                    f"aggregate needs AS <name>: {it!r}"
                )
            aggs[alias_m.group(1)] = (am.group(1).lower(), expr)
        else:
            col = it.strip("`")
            if col not in group_by:
                raise ValueError(
                    f"non-aggregate select item {it!r} must appear "
                    "in GROUP BY"
                )
    v = M.create_matview(
        spark, root, base_root, group_by, aggs, where=where
    )
    return _dml_result(spark, "create_matview", name, v)


def _ddl_create(
    spark: SparkSession,
    query: str,
    masked: str,
    tables: dict[str, str],
    catalog_root: str | None = None,
    catalog_version: int | None = None,
) -> DataFrame:
    """``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t
    [(col type, ...)] [PARTITIONED BY (c1, day(ts), ...)]
    [AS SELECT ...]`` → :func:`versioned.commit_snapshot` (a real v0
    snapshot: schema, column ids, lineage counter, partition spec all
    established atomically). The new table's ROOT comes from the
    ``tables={name: root}`` mapping — the engine's catalog is
    explicit, so SQL never invents filesystem locations."""
    if re.match(
        r"\s*CREATE\s+MATERIALIZED\s+VIEW\b", masked, re.IGNORECASE
    ):
        return _ddl_create_matview(spark, query, masked, tables)
    hm = re.match(
        r"\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+"
        r"(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*",
        masked, re.IGNORECASE,
    )
    if not hm:
        raise ValueError(f"cannot parse CREATE TABLE statement: {query!r}")
    replace, if_not_exists, name = (
        bool(hm.group(1)), bool(hm.group(2)), hm.group(3),
    )
    if replace and if_not_exists:
        raise ValueError(
            "CREATE OR REPLACE and IF NOT EXISTS are mutually exclusive"
        )
    if name not in tables:
        raise ValueError(
            f"CREATE TABLE {name!r}: the new table's root must be "
            f"registered in tables={{name: root}}; known: "
            f"{sorted(tables)}"
        )
    root = tables[name]
    pos = hm.end()
    cm = re.match(
        r"SHALLOW\s+CLONE\s+(\w+)"
        r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*$",
        masked[pos:], re.IGNORECASE,
    )
    if cm:
        # CREATE TABLE t SHALLOW CLONE src [VERSION AS OF n]: the
        # zero-copy fork (versioned.clone_table — Delta's design); the
        # clone references src's data files, no bytes move
        if replace:
            raise ValueError(
                "OR REPLACE does not compose with SHALLOW CLONE "
                "(drop the table first — a clone is a fresh fork)"
            )
        if V.latest_version(root) is not None and if_not_exists:
            return _dml_result(
                spark, "create_skipped", name, V.latest_version(root)
            )
        src_root = _target_root(cm.group(1), tables)
        V.clone_table(
            src_root, root,
            version=None if cm.group(2) is None else int(cm.group(2)),
        )
        return _dml_result(spark, "clone", name, 0)
    lm = re.match(r"LIKE\s+(\w+)\s*$", masked[pos:], re.IGNORECASE)
    like_schema = None
    like_partition = None
    if lm:
        # CREATE TABLE t LIKE src: copy the SHAPE (schema + partition
        # spec) from src's head — not its data, history, or
        # constraints (same scope as Spark's CREATE TABLE LIKE)
        src_root = _target_root(lm.group(1), tables)
        src_head = V.latest_version(src_root)
        if src_head is None:
            raise FileNotFoundError(
                f"no snapshots committed at {src_root!r}"
            )
        sm = V.read_manifest(src_root, src_head)
        like_schema = StructType.fromJson(sm["schema"])
        like_partition = list(sm.get("partition_by") or [])
        pos += lm.end()
    schema_text = None
    if masked[pos: pos + 1] == "(":
        end = _match_paren(masked, pos)
        schema_text = query[pos + 1: end]
        pos = end + 1
    partition_by = None
    pm = re.match(
        r"\s*PARTITIONED\s+BY\s*\(", masked[pos:], re.IGNORECASE
    )
    if pm:
        start = pos + pm.end() - 1
        end = _match_paren(masked, start)
        partition_by = [
            c.strip().strip("`")
            for c in _split_top(
                query[start + 1: end], masked[start + 1: end],
                re.compile(r","),
            )
            if c.strip()
        ]
        pos = end + 1
    am = re.match(r"\s*AS\s+", masked[pos:], re.IGNORECASE)
    head = V.latest_version(root)
    if head is not None:
        if if_not_exists:
            return _dml_result(spark, "create_skipped", name, head)
        if not replace:
            raise ValueError(
                f"table {name!r} already exists at version {head} "
                "(use OR REPLACE or IF NOT EXISTS)"
            )
    if like_schema is not None:
        # the LIKE regex is end-anchored, so no column list /
        # PARTITIONED BY / AS SELECT can coexist with it
        df = local_frame(spark, [], like_schema)
        partition_by = like_partition or None
    elif am:
        if schema_text is not None:
            raise ValueError(
                "CREATE TABLE takes a column list OR AS SELECT, not both"
            )
        df = sql(
            spark, query[pos + am.end():], tables=tables,
            catalog_root=catalog_root, catalog_version=catalog_version,
        )
    else:
        if schema_text is None:
            raise ValueError(
                "CREATE TABLE needs (col type, ...), LIKE src, or "
                "AS SELECT"
            )
        if masked[pos:].strip():
            raise ValueError(
                f"trailing text after CREATE TABLE: {query[pos:].strip()!r}"
            )
        df = local_frame(spark, [], schema_text)
    v = V.commit_snapshot(
        df, root, mode="overwrite", partition_by=partition_by
    )
    return _dml_result(spark, "create", name, v)


def _ddl_alter(
    spark: SparkSession, query: str, masked: str, tables: dict[str, str]
) -> DataFrame:
    """``ALTER TABLE t <action>`` → the metadata-only evolution
    primitives. Actions: RENAME COLUMN a TO b / ADD COLUMN c type
    [DEFAULT lit] / DROP COLUMN c / ALTER COLUMN c TYPE t (safe
    widenings only) / ADD CONSTRAINT n CHECK (expr) /
    DROP CONSTRAINT n / SET PARTITION SPEC (day(ts), bucket(id,16))
    — each one O(record) commit; no data file moves."""
    hm = re.match(
        r"\s*ALTER\s+TABLE\s+(\w+)\s+", masked, re.IGNORECASE
    )
    if not hm:
        raise ValueError(f"cannot parse ALTER TABLE statement: {query!r}")
    name = hm.group(1)
    root = _target_root(name, tables)
    rest = query[hm.end():]
    rest_m = masked[hm.end():]

    m = re.match(
        r"RENAME\s+COLUMN\s+`?(\w+)`?\s+TO\s+`?(\w+)`?\s*$",
        rest_m, re.IGNORECASE,
    )
    if m:
        v = V.rename_column(root, m.group(1), m.group(2))
        return _dml_result(spark, "rename_column", name, v)

    m = re.match(r"ADD\s+COLUMN\s+`?(\w+)`?\s+", rest_m, re.IGNORECASE)
    if m:
        col = m.group(1)
        tail, tail_m = rest[m.end():], rest_m[m.end():]
        dm = _find_top(tail_m, re.compile(r"\bDEFAULT\b", re.IGNORECASE))
        if dm:
            type_text = tail[: dm.start()].strip()
            default = _scalar_literal(tail[dm.end():])
        else:
            type_text, default = tail.strip(), None
        v = V.add_column(
            root, col, _sql_type_json(spark, type_text), default=default
        )
        return _dml_result(spark, "add_column", name, v)

    m = re.match(
        r"DROP\s+COLUMN\s+`?(\w+)`?\s*$", rest_m, re.IGNORECASE
    )
    if m:
        v = V.drop_column(root, m.group(1))
        return _dml_result(spark, "drop_column", name, v)

    m = re.match(
        r"ALTER\s+COLUMN\s+`?(\w+)`?\s+(?:SET\s+DATA\s+)?TYPE\s+",
        rest_m, re.IGNORECASE,
    )
    if m:
        v = V.widen_type(
            root, m.group(1), _sql_type_json(spark, rest[m.end():])
        )
        return _dml_result(spark, "widen_type", name, v)

    m = re.match(
        r"ADD\s+CONSTRAINT\s+`?(\w+)`?\s+CHECK\s*\(",
        rest_m, re.IGNORECASE,
    )
    if m:
        end = _match_paren(rest_m, m.end() - 1)
        if rest_m[end + 1:].strip():
            raise ValueError(
                f"trailing text after CHECK (...): {rest[end + 1:].strip()!r}"
            )
        v = V.add_constraint(
            spark, root, m.group(1), rest[m.end(): end].strip()
        )
        return _dml_result(spark, "add_constraint", name, v)

    m = re.match(
        r"DROP\s+CONSTRAINT\s+`?(\w+)`?\s*$", rest_m, re.IGNORECASE
    )
    if m:
        v = V.drop_constraint(root, m.group(1))
        return _dml_result(spark, "drop_constraint", name, v)

    m = re.match(
        r"SET\s+PARTITION\s+SPEC\s*\(", rest_m, re.IGNORECASE
    )
    if m:
        end = _match_paren(rest_m, m.end() - 1)
        spec = [
            c.strip().strip("`")
            for c in _split_top(
                rest[m.end(): end], rest_m[m.end(): end],
                re.compile(r","),
            )
            if c.strip()
        ]
        v = V.set_partition_spec(root, spec or None)
        return _dml_result(spark, "set_partition_spec", name, v)

    m = re.match(
        r"CREATE\s+(BRANCH|TAG)\s+`?([A-Za-z0-9._-]+)`?"
        r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*$",
        rest_m, re.IGNORECASE,
    )
    if m:
        kind, bname, ver = m.groups()
        at = None if ver is None else int(ver)
        if kind.upper() == "BRANCH":
            V.branch_create(root, bname, version=at)
            v = V.latest_version(V._branch_root(root, bname))
            return _dml_result(spark, "create_branch", name, v)
        return _dml_result(
            spark, "create_tag", name, V.create_tag(root, bname, at)
        )

    m = re.match(
        r"DROP\s+(BRANCH|TAG)\s+`?([A-Za-z0-9._-]+)`?\s*$",
        rest_m, re.IGNORECASE,
    )
    if m:
        kind, bname = m.groups()
        if kind.upper() == "BRANCH":
            V.branch_abandon(root, bname)
            return _dml_result(spark, "drop_branch", name, None)
        V.delete_tag(root, bname)
        return _dml_result(spark, "drop_tag", name, None)

    m = re.match(
        r"PUBLISH\s+BRANCH\s+`?([A-Za-z0-9._-]+)`?"
        r"(\s+WITH\s+REBASE)?\s*$",
        rest_m, re.IGNORECASE,
    )
    if m:
        # WAP's P: audit ran as plain SELECTs on t@branch; the
        # publish is ONE squashed fast-forward commit on main
        # (rules= stays a Python-API affordance — SQL audits are
        # explicit SELECT statements the user already wrote)
        v = V.branch_publish(
            root, m.group(1), spark=spark,
            rebase_appends=bool(m.group(2)),
        )
        return _dml_result(spark, "publish_branch", name, v)

    raise ValueError(
        f"unsupported ALTER TABLE action: {rest.strip()!r} (supported: "
        "RENAME COLUMN, ADD COLUMN, DROP COLUMN, ALTER COLUMN ... "
        "TYPE, ADD CONSTRAINT ... CHECK, DROP CONSTRAINT, "
        "SET PARTITION SPEC, CREATE/DROP BRANCH, CREATE/DROP TAG, "
        "PUBLISH BRANCH [WITH REBASE])"
    )


def _ddl_drop(
    spark: SparkSession, query: str, masked: str, tables: dict[str, str]
) -> DataFrame:
    """``DROP TABLE [IF EXISTS] t`` — removes the versioned table
    root (manifest log + data). Irreversible by design; time travel
    dies with the log, exactly like Delta's DROP TABLE.
    ``DROP MATERIALIZED VIEW v`` removes the view's state table."""
    mm = re.match(
        r"\s*DROP\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$",
        masked, re.IGNORECASE,
    )
    if mm:
        from small_etl_spark.sinks import matview as M

        name = mm.group(1)
        M.drop_matview(_target_root(name, tables))
        return _dml_result(spark, "drop_matview", name, None)
    hm = re.match(
        r"\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)\s*$",
        masked, re.IGNORECASE,
    )
    if not hm:
        raise ValueError(f"cannot parse DROP TABLE statement: {query!r}")
    if_exists, name = bool(hm.group(1)), hm.group(2)
    root = _target_root(name, tables)
    head = V.latest_version(root)
    if head is None:
        if if_exists:
            return _dml_result(spark, "drop_skipped", name, None)
        raise FileNotFoundError(f"no snapshots committed at {root!r}")
    V.drop_table(root)
    return _dml_result(spark, "drop", name, head)


# --------------------------------------------------------------------
# SQL transaction blocks: BEGIN; <statements>; COMMIT / ROLLBACK
#
# The statement surface over sinks/txn.py (VERDICT r10 #3): every
# inner statement runs against the transaction's staged WAP branches,
# and the block's COMMIT is the transaction's single atomic catalog
# swap — N tables mutated by M statements land all-or-nothing for
# catalog readers. The SQL-in-transaction composability test proved
# the layers compose; this is the declarative wiring.
# --------------------------------------------------------------------


def _sql_txn_block(
    spark: SparkSession,
    query: str,
    tables: dict[str, str],
    catalog_root: str | None = None,
    catalog_version: int | None = None,
) -> DataFrame:
    """``BEGIN [TRANSACTION]; <DML/ALTER/SELECT statements>; COMMIT``
    (or ``ROLLBACK``): statements split at depth-0 semicolons on the
    literal-masked text; each runs through :func:`sql` with every
    referenced table name resolved to the transaction's staged branch
    handle — snapshot-isolated reads at the begin cut, writes staged
    per table, ONE atomic catalog swap at COMMIT. A failing inner
    statement aborts the whole block (branches abandoned, catalog
    untouched) and re-raises; a crash mid-block leaves only orphan
    ``_txn-*`` branches (nothing durable — the intent lands inside
    commit). Returns one row per executed statement plus the
    commit/rollback row carrying the catalog version.

    Scope: needs ``catalog_root`` (the commit point IS the catalog
    swap); CREATE/DROP TABLE and nested BEGIN refuse — table
    lifecycle inside a transaction is the sequencer's atomic mode
    (sinks/files.py bootstrap), not the SQL block's."""
    from small_etl_spark.sinks import txn as T

    if catalog_root is not None and catalog_version is not None:
        raise ValueError(
            "BEGIN block pins its own cut; catalog_version is not "
            "supported inside a transaction block"
        )
    if catalog_root is None:
        raise ValueError(
            "BEGIN ... COMMIT needs catalog_root= (the commit point "
            "is one atomic catalog swap)"
        )
    masked = _mask_literals(query)
    stmts = [
        s
        for s in _split_top(query, masked, re.compile(r";"))
        if s.strip()
    ]
    if not re.fullmatch(
        r"\s*BEGIN(\s+TRANSACTION)?\s*", stmts[0], re.IGNORECASE
    ):
        raise ValueError(
            f"cannot parse transaction block head: {stmts[0].strip()!r}"
        )
    tail = stmts[-1].strip().upper()
    if tail not in ("COMMIT", "ROLLBACK"):
        raise ValueError(
            "transaction block must end with COMMIT or ROLLBACK "
            f"(got {stmts[-1].strip()!r})"
        )
    inner = stmts[1:-1]
    for s in inner:
        head = re.match(r"\s*(\w+)(?:\s+(\w+))?", s)
        kw = (head.group(1) or "").upper() if head else ""
        kw2 = (head.group(2) or "").upper() if head else ""
        if kw == "BEGIN":
            raise ValueError("nested BEGIN blocks are not supported")
        if (kw, kw2) in (("CREATE", "TABLE"), ("DROP", "TABLE")) or (
            kw == "CREATE"
        ):
            raise ValueError(
                "CREATE/DROP TABLE inside a transaction block is not "
                "supported — use the sequencer's atomic mode for "
                "table lifecycle"
            )
    # begin_transaction refuses roots with no committed snapshots,
    # but the tables mapping legitimately registers not-yet-created
    # roots (CREATE TABLE's "root must be registered" contract) —
    # filter those out of the transaction's cut instead of letting
    # one empty registration fail every BEGIN block. A statement
    # actually touching such a table gets a targeted error below.
    committed = {
        n: p for n, p in tables.items() if V.latest_version(p) is not None
    }
    txn = T.begin_transaction(catalog_root, committed)
    rows: list[tuple[str, str, int]] = []
    try:
        for i, s in enumerate(inner):
            sm = _mask_literals(s)
            referenced = sorted(
                n
                for n in tables
                if re.search(rf"\b{re.escape(n)}\b", sm)
            )
            if not referenced:
                raise ValueError(
                    f"statement {i + 1} references no registered "
                    f"table: {s.strip()!r}"
                )
            missing = [n for n in referenced if n not in committed]
            if missing:
                raise ValueError(
                    f"statement {i + 1} references table(s) with no "
                    f"committed snapshots: {', '.join(missing)} — "
                    "create them before the BEGIN block"
                )
            handles = {n: txn.stage(n) for n in referenced}
            out = sql(spark, s, tables=handles)
            # DML/DDL statements report (op, table, version); SELECTs
            # run for their side-effect-free result, summarized by rows
            cols = set(out.columns)
            if {"op", "table"} <= cols:
                r = out.collect()[0]
                rows.append((str(r["op"]), str(r["table"]), i + 1))
            else:
                rows.append(("select", ",".join(referenced), i + 1))
        if tail == "COMMIT":
            cat_v = txn.commit()
            rows.append(("commit", "", int(cat_v)))
        else:
            txn.abort()
            rows.append(("rollback", "", -1))
    except Exception:
        txn.abort()
        raise
    return local_frame(
        spark, rows, "op string, target string, seq bigint"
    )


def _describe_detail(
    spark: SparkSession, name: str, root: str
) -> DataFrame:
    """``DESCRIBE DETAIL t`` (Delta's admin one-liner): one row of
    table facts straight from the manifest header — zero data files
    touched."""
    head = V.latest_version(root)
    if head is None:
        raise FileNotFoundError(f"no snapshots committed at {root!r}")
    m = V.read_manifest(root, head)
    schema = StructType.fromJson(m["schema"])
    return local_frame(
        spark,
        [
            (
                name,
                root,
                int(head),
                len(m["files"]),
                int(sum(int(e["bytes"]) for e in m["files"])),
                int(sum(int(e["rows"]) for e in m["files"])),
                list(m.get("partition_by") or []),
                sorted(m.get("constraints") or {}),
                list(m.get("sort_order") or []),
                schema.simpleString(),
            )
        ],
        "name string, location string, version bigint, "
        "num_files bigint, size_bytes bigint, num_rows bigint, "
        "partition_by array<string>, constraints array<string>, "
        "sort_order array<string>, schema string",
    )


def _show_create_table(
    spark: SparkSession, name: str, root: str
) -> DataFrame:
    """``SHOW CREATE TABLE t``: reconstruct the CREATE statement
    (columns + partition spec) plus ALTER lines for constraints /
    sort order — the statements that would rebuild the table's
    SHAPE (not its data or history) through this module."""
    head = V.latest_version(root)
    if head is None:
        raise FileNotFoundError(f"no snapshots committed at {root!r}")
    m = V.read_manifest(root, head)
    schema = StructType.fromJson(m["schema"])
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )
    stmt = f"CREATE TABLE {name} ({cols})"
    if m.get("partition_by"):
        stmt += f" PARTITIONED BY ({', '.join(m['partition_by'])})"
    lines = [stmt]
    for cname, expr in sorted((m.get("constraints") or {}).items()):
        lines.append(
            f"ALTER TABLE {name} ADD CONSTRAINT {cname} CHECK ({expr})"
        )
    return local_frame(
        spark, [("\n".join(lines),)], "create_statement string"
    )

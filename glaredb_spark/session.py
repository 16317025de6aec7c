"""Session facade — the Spark-side equivalent of GlareDB's engine session.

Reference: ``crates/glaredb_core/src/engine/session.rs`` (single-node session
owning catalog + executor). Here the session wraps a ``SparkSession`` tuned
for analytic scans at scale: AQE on (runtime join-strategy/skew re-planning),
shuffle partitions sized to the local core count (overridable for a real
cluster), UTC session timezone, Arrow-accelerated Python interchange.

Scale notes (100 TB design):
- AQE + coalescePartitions + skewJoin handle runtime re-planning; we never
  hand-schedule partition counts per query.
- ``spark.sql.files.maxPartitionBytes`` is left at 128 MB so a 100 TB scan
  fans out to ~800k input splits — bounded per-task memory regardless of
  total size.
- Nanosecond parquet timestamps (the ``events`` fixture) are read via
  ``nanosAsLong`` and normalized by :mod:`glaredb_spark.sources.files`;
  Spark has no ns timestamp (SURVEY.md §1.3).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

# COPY (subquery)|table TO 'path' [(FORMAT fmt [, HEADER] [, OVERWRITE])]
# — DuckDB shape; OVERWRITE extends it for the native lakehouse writers
# (a Delta overwrite commit / an Iceberg overwrite snapshot)
_COPY_RE = re.compile(
    r"^\s*COPY\s+(\(.*\)|[A-Za-z_][\w.]*)\s+TO\s+'([^']+)'"
    r"\s*(?:\(\s*FORMAT\s+(\w+)\s*((?:,\s*(?:HEADER|OVERWRITE)\s*)*)\))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# ATTACH MEMORY DATABASE AS x | ATTACH [DATABASE] 'path' AS x | DETACH
# DATABASE x — reference statement surface (slt/standard/attach/memory.slt;
# engine/session.rs:390 stubs the execution).
# ATTACH POSTGRES DATABASE AS name (connection_string '...') — the
# reference's external-postgres database surface (slt/postgres/attach.slt)
_ATTACH_PG_RE = re.compile(
    r"^\s*ATTACH\s+POSTGRES\s+DATABASE\s+AS\s+([A-Za-z_]\w*)\s*"
    r"(?:\((.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ATTACH_MEM_RE = re.compile(
    r"^\s*ATTACH\s+MEMORY\s+DATABASE\s+AS\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
# ATTACH unity DATABASE AS x (endpoint 'http://...', catalog 'unity') —
# reference Unity Catalog surface (slt/unity_catalog/attach.slt); the
# REST client lives in sources/unity.py
_ATTACH_UNITY_RE = re.compile(
    r"^\s*ATTACH\s+UNITY\s+DATABASE\s+AS\s+([A-Za-z_]\w*)\s*"
    r"\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# ATTACH iceberg_rest DATABASE AS x (endpoint 'http://...'
# [, token '...']) — Apache Iceberg REST catalog client in
# sources/iceberg_rest.py (extension surface; the reference is
# path-addressed only)
_ATTACH_ICEREST_RE = re.compile(
    r"^\s*ATTACH\s+ICEBERG_REST\s+DATABASE\s+AS\s+([A-Za-z_]\w*)\s*"
    r"\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_CATALOGS_RE = re.compile(
    r"^\s*SHOW\s+CATALOGS\s*;?\s*$", re.IGNORECASE
)
# SHOW TABLES FROM <alias>[.<ns>] over an ATTACHed catalog (r14) —
# columns follow the reference's list_tables shape
# (database_name, schema_name, table_name; list_entries.rs:177-180);
# non-attached targets fall through to Spark's own SHOW TABLES
_SHOW_TABLES_FROM_RE = re.compile(
    r"^\s*SHOW\s+TABLES\s+(?:FROM|IN)\s+"
    r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)\s*;?\s*$",
    re.IGNORECASE,
)
_ATTACH_PATH_RE = re.compile(
    r"^\s*ATTACH\s+(?:DATABASE\s+)?'([^']+)'\s+AS\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_DETACH_RE = re.compile(
    r"^\s*DETACH\s+DATABASE\s+([A-Za-z_]\w*)\s*;?\s*$", re.IGNORECASE
)

# INSERT INTO <table> ... — reference PhysicalInsert emits an inserted-row
# Count (execution/operators/catalog/insert.rs:33; slt insert_count.slt)
_INSERT_RE = re.compile(r"^\s*INSERT\s+INTO\s+([A-Za-z_][\w.]*)", re.IGNORECASE)

# multi-table transaction surface (r14): BEGIN buffers catalog INSERTs;
# COMMIT publishes them atomically through the REST catalog's
# commitTransaction (transaction_append); ROLLBACK discards the buffer
_BEGIN_RE = re.compile(
    r"^\s*(?:BEGIN|START)\s*(?:TRANSACTION|WORK)?\s*;?\s*$", re.IGNORECASE
)
_COMMIT_RE = re.compile(
    r"^\s*COMMIT\s*(?:TRANSACTION|WORK)?\s*;?\s*$", re.IGNORECASE
)
_ROLLBACK_RE = re.compile(
    r"^\s*ROLLBACK\s*(?:TRANSACTION|WORK)?\s*;?\s*$", re.IGNORECASE
)


class TransactionError(ValueError):
    """A statement inside (or around) BEGIN ... COMMIT that the
    transaction surface does not support — named so a user sees the
    supported grammar, not an unrelated parser failure."""

# DML over native Delta table DIRECTORIES (path-quoted forms; the
# copy-on-write execution lives in sources/delta_native.py)
# DML targets: a quoted table directory, or iceberg.scan('path'
# [, strategy=>'cow'|'mor']) — the TVF form exposes the row-level
# delete strategy knob (delete/update_iceberg_native strategy=) on the
# SQL surface; '=>' and '=' both accepted
_DML_TARGET = (
    r"(?:'([^']+)'|iceberg\s*\.\s*(?:scan|read)\s*\(\s*'([^']+)'"
    r"(?:\s*,\s*strategy\s*=>?\s*'(\w+)')?\s*\))"
)
_DELETE_PATH_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+" + _DML_TARGET
    + r"(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_PATH_RE = re.compile(
    r"^\s*UPDATE\s+" + _DML_TARGET
    + r"\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# catalog-routed DML over ATTACHed aliases (r12):
# DELETE FROM alias.ns[.ns2...].table WHERE pred
# UPDATE alias.ns[.ns2...].table SET c = expr[, ...] WHERE pred
# — only fires when the first segment IS an attached iceberg_rest
# alias; everything else falls through to the existing handlers
_DELETE_CAT_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([A-Za-z_]\w*)\."
    r"((?:[A-Za-z_]\w*\.)*)([A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_CAT_RE = re.compile(
    r"^\s*UPDATE\s+([A-Za-z_]\w*)\."
    r"((?:[A-Za-z_]\w*\.)*)([A-Za-z_]\w*)"
    r"\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# MERGE INTO '<table-dir>' [AS] t USING (<query>)|<table> [AS] s
#   [ON <equi-cond>]
#   [WHEN MATCHED [AND <cond>] THEN DELETE]
#   [WHEN MATCHED THEN UPDATE SET c = expr, ...]
#   [WHEN NOT MATCHED [AND <cond>] THEN INSERT [*]]
# — the SQL surface over merge_delta_native / merge_iceberg_native
# (standard MERGE shape; COW upsert execution). The ON clause may be
# OMITTED for an Iceberg target whose row identity was declared with
# SET IDENTIFIER FIELDS (r11): keys derive from identifier-field-ids.
# The USING subquery capture is paren-BALANCED to depth 3 (r14: the
# old non-greedy `\(.*?\)` stopped at the first `)` inside a nested
# subquery); the WHEN clauses capture as one blob parsed by
# _parse_merge_whens so DELETE/UPDATE/INSERT arms compose in any order.
_MERGE_USING = (
    r"\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)|[A-Za-z_][\w.]*"
)
_MERGE_WHENS = r"((?:\s+WHEN\s+(?:NOT\s+)?MATCHED\b.*)?)"
_MERGE_PATH_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+'([^']+)'\s+(?:AS\s+)?([A-Za-z_]\w*)\s+"
    r"USING\s+(" + _MERGE_USING + r")\s+(?:AS\s+)?([A-Za-z_]\w*)"
    r"(?:\s+ON\s+(.+?))?" + _MERGE_WHENS +
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# MERGE INTO alias.ns.table — catalog-routed COW merge (r13); only
# fires when the first segment is an ATTACHed iceberg_rest alias
_MERGE_CAT_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)\s+"
    r"(?:AS\s+)?([A-Za-z_]\w*)\s+"
    r"USING\s+(" + _MERGE_USING + r")\s+(?:AS\s+)?([A-Za-z_]\w*)"
    r"(?:\s+ON\s+(.+?))?" + _MERGE_WHENS +
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


# FOR BRANCH <name> right after a DML target (r15, write-audit-
# publish): DELETE FROM / UPDATE / MERGE INTO / INSERT INTO gain an
# optional branch clause — the write plans against the branch head and
# advances only the branch ref; main readers see nothing until
# ALTER TABLE ... FAST FORWARD main TO <branch> publishes it.
# Stripped ONCE before the DML regexes so their group numbering (and
# every downstream handler) stays untouched.
_FOR_BRANCH_RE = re.compile(
    r"^(\s*(?:DELETE\s+FROM|UPDATE|MERGE\s+INTO|INSERT\s+INTO)\s+"
    r"(?:'[^']+'|iceberg\s*\.\s*(?:scan|read)\s*\([^)]*\)"
    r"|[A-Za-z_][\w.]*))"
    r"\s+FOR\s+BRANCH\s+(\w+)",
    re.IGNORECASE,
)


def _extract_for_branch(query: str) -> "tuple[str, str | None]":
    """Split an optional FOR BRANCH clause off a DML statement:
    returns (query without the clause, branch name or None)."""
    m = _FOR_BRANCH_RE.match(query)
    if not m:
        return query, None
    return query[: m.end(1)] + query[m.end():], m.group(2)


def _parse_merge_whens(blob: str) -> dict:
    """Parse a MERGE statement's WHEN-clause blob into its arms.
    Unknown arms raise a NAMED error listing the supported grammar —
    never a silent fall-through to Spark's parser (r13 verdict wrong
    #1)."""
    out = {
        "set_txt": None,       # UPDATE SET text
        "delete_cond": None,   # DELETE predicate ('true' = always)
        "insert": False,
        "insert_cond": None,   # INSERT gating predicate (source cols)
        "update_cond": None,   # UPDATE gating predicate (r15)
    }
    for clause in re.split(
        r"(?i)\bWHEN\s+(?=(?:NOT\s+)?MATCHED\b)", blob
    ):
        clause = clause.strip().rstrip(";").strip()
        if not clause:
            continue
        m = re.match(
            r"(?is)^NOT\s+MATCHED(?:\s+AND\s+(.+?))?"
            r"\s+THEN\s+INSERT(?:\s+\*)?$",
            clause,
        )
        if m:
            out["insert"] = True
            out["insert_cond"] = m.group(1)
            continue
        m = re.match(
            r"(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE$", clause
        )
        if m:
            out["delete_cond"] = (m.group(1) or "true").strip()
            continue
        m = re.match(
            r"(?is)^MATCHED(?:\s+AND\s+(.+?))?"
            r"\s+THEN\s+UPDATE\s+SET\s+(.+)$", clause
        )
        if m:
            out["update_cond"] = m.group(1)
            out["set_txt"] = m.group(2)
            continue
        raise ValueError(
            f"unsupported MERGE clause 'WHEN {clause[:80]}'; supported:"
            " WHEN MATCHED [AND <cond>] THEN DELETE, WHEN MATCHED"
            " [AND <cond>] THEN UPDATE SET c = expr[, ...], WHEN NOT"
            " MATCHED [AND <cond>] THEN INSERT [*]"
        )
    return out
# maintenance statements over native table DIRECTORIES (delta-spark's
# OPTIMIZE / VACUUM [RETAIN n HOURS] [DRY RUN] / REORG APPLY (PURGE))
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+'([^']+)'"
    r"(?:\s+ZORDER\s+BY\s*\(\s*([^)]+?)\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+'([^']+)'"
    r"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*$",
    re.IGNORECASE,
)
# schema evolution over native table DIRECTORIES (r9):
#   ALTER TABLE '<path>' ADD COLUMN name type
#   ALTER TABLE '<path>' RENAME COLUMN a TO b   (Delta columnMapping)
#   ALTER TABLE '<path>' DROP COLUMN a          (Delta columnMapping)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+'([^']+)'\s+"
    r"(?:ADD\s+COLUMN\s+(\w+)\s+([A-Za-z_]\w*(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?)"
    r"|RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)"
    r"|DROP\s+COLUMN\s+(\w+)"
    r"|ADD\s+PARTITION\s+FIELD\s+([^;]+?)"
    r"|DROP\s+PARTITION\s+FIELD\s+([^;]+?)"
    r"|ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+"
    r"([A-Za-z_]\w*(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?)"
    r"|SET\s+IDENTIFIER\s+FIELDS\s*\(([^)]*)\)"
    r"|ROLLBACK\s+TO\s+SNAPSHOT\s+(\d+)"
    r"|CREATE\s+(TAG|BRANCH)\s+(\w+)"
    r"(?:\s+AS\s+OF\s+SNAPSHOT\s+(\d+))?"
    r"|DROP\s+(TAG|BRANCH)\s+(\w+)"
    r"|FAST\s+FORWARD\s+main\s+TO\s+(\w+))\s*;?\s*$",
    re.IGNORECASE,
)
_REORG_RE = re.compile(
    r"^\s*REORG\s+TABLE\s+'([^']+)'\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
# RESTORE TABLE '<path>' TO VERSION AS OF n — delta-spark's RESTORE
# (r14); the Iceberg twin is ALTER TABLE ... ROLLBACK TO SNAPSHOT
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+'([^']+)'\s+TO\s+VERSION\s+AS\s+OF\s+"
    r"(\d+)\s*;?\s*$",
    re.IGNORECASE,
)
# catalog-routed maintenance/DDL over ATTACHed iceberg_rest aliases
# (r13, verdict #1): same statements, dotted alias.ns.table target —
# commits go through the catalog's optimistic commitTable, never the
# filesystem version hint (invisible to a pointer-only catalog)
_CATREF = r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)"
_CTAS_CAT_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?" + _CATREF
    + r"\s+AS\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# CREATE TABLE alias.ns.t (col type, ...) — catalog createTable from an
# explicit column list (r14); the CTAS form above covers AS <query>
_CREATE_TABLE_CAT_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?" + _CATREF
    + r"\s*\((.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_TABLE_CAT_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?" + _CATREF
    + r"\s*;?\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_CAT_RE = re.compile(
    r"^\s*OPTIMIZE\s+" + _CATREF +
    r"(?:\s+ZORDER\s+BY\s*\(\s*([^)]+?)\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM_CAT_RE = re.compile(
    r"^\s*VACUUM\s+" + _CATREF +
    r"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*$",
    re.IGNORECASE,
)
_REORG_CAT_RE = re.compile(
    r"^\s*REORG\s+TABLE\s+" + _CATREF +
    r"\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
class UnsupportedCatalogStatement(ValueError):
    """A mutating statement targeting an ATTACHed catalog alias that
    matched NO supported shape — raised by name instead of falling
    through to Spark's parser and dying with an unrelated message
    (r13 verdict wrong #1: every new shape regex re-opened this seam;
    the guard closes the class once)."""


# verbs whose alias-targeted statements must never fall through to
# Spark: (verb regex capturing the dotted target, supported grammar)
_ALIAS_GUARD_RES: "list[tuple[re.Pattern, str]]" = [
    (re.compile(r"^\s*MERGE\s+INTO\s+([A-Za-z_][\w.]*)", re.IGNORECASE),
     "MERGE INTO alias.ns.t [FOR BRANCH b] [AS] x USING "
     "(<query>)|<table> [AS] y "
     "[ON x.k = y.k [AND ...]] [WHEN MATCHED [AND <cond>] THEN DELETE] "
     "[WHEN MATCHED [AND <cond>] THEN UPDATE SET c = expr, ...] "
     "[WHEN NOT MATCHED [AND <cond>] THEN INSERT [*]]"),
    (re.compile(r"^\s*OPTIMIZE\s+([A-Za-z_][\w.]*)", re.IGNORECASE),
     "OPTIMIZE alias.ns.t [ZORDER BY (col, ...)]"),
    (re.compile(r"^\s*VACUUM\s+([A-Za-z_][\w.]*)", re.IGNORECASE),
     "VACUUM alias.ns.t [RETAIN n HOURS] [DRY RUN]"),
    (re.compile(r"^\s*REORG\s+TABLE\s+([A-Za-z_][\w.]*)", re.IGNORECASE),
     "REORG TABLE alias.ns.t APPLY (PURGE)"),
    (re.compile(r"^\s*RESTORE\s+TABLE\s+([A-Za-z_][\w.]*)",
                re.IGNORECASE),
     "RESTORE targets a path-addressed Delta table ('<path>'); "
     "catalog Iceberg tables roll back with ALTER TABLE alias.ns.t "
     "ROLLBACK TO SNAPSHOT <id>"),
    (re.compile(r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)", re.IGNORECASE),
     "ALTER TABLE alias.ns.t ADD COLUMN c type | RENAME COLUMN a TO b "
     "| DROP COLUMN c | ALTER COLUMN c TYPE t | ADD/DROP PARTITION "
     "FIELD f | SET IDENTIFIER FIELDS (c, ...) | RENAME TO [ns.]t2 "
     "| ROLLBACK TO SNAPSHOT n | CREATE/DROP TAG|BRANCH name "
     "| FAST FORWARD main TO branch"),
    (re.compile(
        r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)",
        re.IGNORECASE),
     "CREATE TABLE alias.ns.t AS <query> | "
     "CREATE TABLE alias.ns.t (col type, ...)"),
    (re.compile(r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)",
                re.IGNORECASE),
     "DROP TABLE [IF EXISTS] alias.ns.t"),
    (re.compile(
        r"^\s*CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)",
        re.IGNORECASE),
     "CREATE SCHEMA alias.ns"),
    (re.compile(r"^\s*DROP\s+SCHEMA\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)",
                re.IGNORECASE),
     "DROP SCHEMA [IF EXISTS] alias.ns [CASCADE]"),
    (re.compile(r"^\s*DELETE\s+FROM\s+([A-Za-z_][\w.]*)", re.IGNORECASE),
     "DELETE FROM alias.ns.t [FOR BRANCH b] [WHERE <pred>]"),
    (re.compile(r"^\s*UPDATE\s+([A-Za-z_][\w.]*)", re.IGNORECASE),
     "UPDATE alias.ns.t [FOR BRANCH b] SET c = expr[, ...] "
     "[WHERE <pred>]"),
]


_ALTER_CAT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+" + _CATREF + r"\s+"
    r"(?:ADD\s+COLUMN\s+(\w+)\s+([A-Za-z_]\w*(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?)"
    r"|RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)"
    r"|DROP\s+COLUMN\s+(\w+)"
    r"|ADD\s+PARTITION\s+FIELD\s+([^;]+?)"
    r"|DROP\s+PARTITION\s+FIELD\s+([^;]+?)"
    r"|ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+"
    r"([A-Za-z_]\w*(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?)"
    r"|SET\s+IDENTIFIER\s+FIELDS\s*\(([^)]*)\)"
    r"|RENAME\s+TO\s+([A-Za-z_][\w.]*)"
    r"|ROLLBACK\s+TO\s+SNAPSHOT\s+(\d+)"
    r"|CREATE\s+(TAG|BRANCH)\s+(\w+)"
    r"(?:\s+AS\s+OF\s+SNAPSHOT\s+(\d+))?"
    r"|DROP\s+(TAG|BRANCH)\s+(\w+)"
    r"|FAST\s+FORWARD\s+main\s+TO\s+(\w+))\s*;?\s*$",
    re.IGNORECASE,
)


def _native_table_kind(path: str) -> str:
    """'delta' | 'iceberg' | '' for a table DIRECTORY, by its metadata
    layout (what the path-quoted DML statements dispatch on)."""
    import glob as _g

    if os.path.isdir(os.path.join(path, "_delta_log")):
        return "delta"
    if _g.glob(os.path.join(path, "metadata", "*.metadata.json")):
        return "iceberg"
    return ""

# DESCRIBE <table|query> — reference statement Describe (glaredb_parser
# statement.rs:24-62); output formatted by catalog.describe with reference
# type names. Also usable inside FROM: SELECT * FROM (DESCRIBE t)
# (describe_as_subquery.slt).
_SET_VAR_RE = re.compile(
    r"^\s*SET\s+([A-Za-z_]\w*)\s*(?:TO\s+|=\s*)(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RESET_VAR_RE = re.compile(
    r"^\s*RESET\s+(ALL|[A-Za-z_]\w*)\s*;?\s*$", re.IGNORECASE
)
_SHOW_VAR_RE = re.compile(
    r"^\s*SHOW\s+(?!DATABASES\b|SCHEMAS\b|TABLES\b|VIEWS\b|FUNCTIONS\b|"
    r"COLUMNS\b|CATALOGS\b)([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_DESCRIBE_RE = re.compile(r"^\s*DESCRIBE\s+(.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL)
_INLINE_DESC_RE = re.compile(r"\(\s*DESCRIBE\b", re.IGNORECASE)
_IDENT_ONLY_RE = re.compile(r"^(`[^`]+`|[A-Za-z_][\w.]*)$")

# SHOW DATABASES/SCHEMAS emulate the reference's catalog model
# (show_databases.slt: system+temp; show_schemas.slt: default/
# information_schema/pg_catalog/temp + created schemas).
_SHOW_DB_RE = re.compile(r"^\s*SHOW\s+DATABASES\s*;?\s*$", re.IGNORECASE)
_SHOW_SCHEMAS_RE = re.compile(r"^\s*SHOW\s+SCHEMAS\s*;?\s*$", re.IGNORECASE)
# SHOW SCHEMAS FROM <alias> over an ATTACHed catalog (r14) —
# lists the catalog's namespaces; non-attached targets fall to Spark
_SHOW_SCHEMAS_FROM_RE = re.compile(
    r"^\s*SHOW\s+SCHEMAS\s+(?:FROM|IN)\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_SCHEMA_RE = re.compile(
    r"^\s*CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_SCHEMA_RE = re.compile(
    r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*"
    r"(CASCADE|RESTRICT)?\s*;?\s*$",
    re.IGNORECASE,
)

# All driver fixture tables (TESTDATA.md).
TPCH_TABLES = (
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

DEFAULT_CONF = {
    # Runtime re-planning: broadcast conversion, partition coalescing, skew
    # splitting. This is what replaces GlareDB's static join-reorder
    # cardinality estimates (optimizer/join_reorder/) at execution time.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # events fixture ships TIMESTAMP(NANOS) which Spark's reader rejects;
    # read the raw int64 and normalize in sources/files.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.orderByOrdinal": "true",
}


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 48g: local mode runs every task
    in the driver JVM, and a heap larger than the machine can back ends
    in the kernel's OOM killer rather than in a Spark spill."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{max(1, min(48, ram // 2**30 // 2))}g"


def get_spark(
    master: str | None = None,
    app_name: str = "glaredb_spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
        master = f"local[{cpus}]"
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(
        min(os.cpu_count() or 8, 32)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_memory())
    )
    for k, v in DEFAULT_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class GlareSession:
    """Facade mirroring GlareDB's session API surface on top of Spark.

    Reference entry points: ``Session::simple(sql)``
    (engine/session.rs:175-189) and the Python binding's SQL-only client
    (crates/glaredb_python/src/session.rs:64-81). We expose both ``sql()``
    and the full DataFrame API (via ``.spark``), which the reference lacks.
    """

    # Catalyst batches Spark allows excluding — the unoptimized side of
    # the reference's verification mode (engine/session.rs:217-252 plans
    # twice: optimized vs unoptimized-with-hash-joins-disabled). Spark
    # can't run with ZERO optimizations (Analyzer/ConstantFolding are
    # non-excludable) nor without hash joins entirely; excluding the
    # pushdown/pruning/reorder batches + AQE + CBO is the honest maximum.
    _VERIFY_EXCLUDED_RULES = ",".join(
        f"org.apache.spark.sql.catalyst.optimizer.{r}"
        for r in (
            "PushDownPredicates",
            "ColumnPruning",
            "CollapseProject",
            "PushDownLeftSemiAntiJoin",
            "ReorderJoin",
            "OptimizeIn",
            "LikeSimplification",
            "BooleanSimplification",
            "RemoveRedundantAggregates",
            "CombineFilters",
        )
    )
    _VERIFY_ROW_CAP = 200_000  # don't double-collect huge results

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._registered_dir: str | None = None
        self.session_vars: dict[str, object] = {
            n: d(spark) if callable(d) else d
            for n, (d, _) in self._VAR_SPEC.items()
        }
        # open multi-table transaction: None = no transaction;
        # a list = buffered (alias, ns, table, DataFrame) inserts that
        # COMMIT publishes atomically through the catalog's
        # commitTransaction (sources/iceberg_rest.py:transaction_append)
        self._txn: "list[tuple[str, str, str, DataFrame]] | None" = None

    # -- session variables (reference config/session.rs:12-21; SLTs
    # slt/standard/vars/*, parallelism/arbitrary_values.slt) ----------------
    # name -> (default | default_fn(spark), parse_validate(raw) -> value).
    # Unknown names error "Missing setting for 'x'" (session.rs:44).
    @staticmethod
    def _parse_bool(raw: str) -> bool:
        r = raw.strip().strip("'\"").lower()
        if r in ("true", "t", "1"):
            return True
        if r in ("false", "f", "0"):
            return False
        raise ValueError(f"Invalid boolean value: {raw}")

    @staticmethod
    def _parse_str(raw: str) -> str:
        r = raw.strip()
        if len(r) >= 2 and r[0] == r[-1] and r[0] in "'\"":
            return r[1:-1]
        return r

    @staticmethod
    def _parse_partitions(raw: str) -> int:
        v = int(raw.strip().strip("'\""))
        # MIN/MAX_PARTITION_COUNT, config/session.rs:160-176 (exact
        # reference error text, slt/standard/vars/set_partitions.slt)
        if v < 1:
            raise ValueError("Partition count cannot be less than 1")
        if v > 512:
            raise ValueError("Partition count cannot be greater than 512")
        return v

    @staticmethod
    def _parse_batch_size(raw: str) -> int:
        v = int(raw.strip().strip("'\""))
        # MIN/MAX_BATCH_SIZE, config/session.rs:202-228
        if v < 1:
            raise ValueError("Batch size cannot be less than 1")
        if v > 8192:
            raise ValueError("Batch size cannot be greater than 8192")
        return v

    _VAR_SPEC: dict = {
        "enable_optimizer": (True, _parse_bool),
        "application_name": ("", _parse_str),
        "partitions": (
            lambda spark: spark.sparkContext.defaultParallelism,
            _parse_partitions,
        ),
        "batch_size": (2048, _parse_batch_size),  # DEFAULT_BATCH_SIZE
        "verify_optimized_plan": (False, _parse_bool),
        "enable_hash_joins": (True, _parse_bool),
        "enable_function_chaining": (True, _parse_bool),
        "per_partition_counts": (False, _parse_bool),
    }

    def reset_session_vars(self) -> None:
        """Fresh-session variable state (dict only — Spark confs touched
        by _apply_var are the caller's to save/restore, see slt.py)."""
        self.session_vars = {
            n: d(self.spark) if callable(d) else d
            for n, (d, _) in self._VAR_SPEC.items()
        }
        from glaredb_spark.plans.explain import set_per_partition_counts

        set_per_partition_counts(self.spark, False)

    @property
    def verify_optimized_plan(self) -> bool:
        return bool(self.session_vars["verify_optimized_plan"])

    @verify_optimized_plan.setter
    def verify_optimized_plan(self, v: bool) -> None:
        self.session_vars["verify_optimized_plan"] = bool(v)

    def _apply_var(self, name: str, value) -> None:
        """Engine-level effect of a variable, where Spark has the knob:

        - ``partitions`` → ``spark.sql.shuffle.partitions`` (the
          reference's execution parallelism, session.rs:15)
        - ``batch_size`` → Arrow transfer batch rows (closest analog of
          the reference's rows-per-batch; Spark's internal columnar batch
          size is not a session conf)
        - ``enable_hash_joins`` off → prefer sort-merge joins
        - ``enable_optimizer`` off → exclude the excludable Catalyst
          batches (the de-optimized plan of verification mode)
        - ``per_partition_counts`` → execution_profile() emits one row
          per output partition (plans/explain.py)
        ``application_name`` / ``enable_function_chaining`` (chaining is
        always-on here) are stored only."""
        conf = self.spark.conf
        if name == "partitions":
            conf.set("spark.sql.shuffle.partitions", str(value))
        elif name == "batch_size":
            conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", str(value)
            )
        elif name == "enable_hash_joins":
            conf.set("spark.sql.join.preferSortMergeJoin", str(not value).lower())
        elif name == "enable_optimizer":
            if value:
                conf.unset("spark.sql.optimizer.excludedRules")
            else:
                conf.set(
                    "spark.sql.optimizer.excludedRules",
                    self._VERIFY_EXCLUDED_RULES,
                )
        elif name == "per_partition_counts":
            from glaredb_spark.plans.explain import set_per_partition_counts

            set_per_partition_counts(self.spark, value)

    def _var_statement(self, query: str):
        """Dispatch SET/RESET/SHOW of session variables; None if the
        statement isn't one. Dotted names (spark.sql.*) fall through to
        Spark SQL untouched."""
        from pyspark.sql import functions as F

        def status(msg: str) -> DataFrame:
            return self.spark.range(1).select(F.lit(msg).alias("status"))

        def fmt(v) -> str:
            return str(v).lower() if isinstance(v, bool) else str(v)

        m = _SET_VAR_RE.match(query)
        if m and not re.match(
            r"^\s*SET\s+(?:SESSION|TIME|spark)\b", query, re.IGNORECASE
        ):
            name = m.group(1).lower()
            if name not in self._VAR_SPEC:
                raise ValueError(f"Missing setting for '{name}'")
            value = self._VAR_SPEC[name][1](m.group(2))
            self.session_vars[name] = value
            self._apply_var(name, value)
            return status(f"{name} = {fmt(value)}")
        m = _RESET_VAR_RE.match(query)
        if m:
            names = (
                list(self._VAR_SPEC)
                if m.group(1).upper() == "ALL"
                else [m.group(1).lower()]
            )
            for name in names:
                if name not in self._VAR_SPEC:
                    raise ValueError(f"Missing setting for '{name}'")
                d = self._VAR_SPEC[name][0]
                value = d(self.spark) if callable(d) else d
                self.session_vars[name] = value
                self._apply_var(name, value)
            return status(f"reset {m.group(1).lower()}")
        m = _SHOW_VAR_RE.match(query)
        if m:
            name = m.group(1).lower()
            # only intercept names we actually own — SHOW NAMESPACES etc.
            # stay valid Spark SQL (ADVICE r4)
            if name not in self._VAR_SPEC:
                return None
            return self.spark.range(1).select(
                F.lit(fmt(self.session_vars[name])).alias(name)
            )
        return None

    def _verify_against_unoptimized(self, query: str, df: DataFrame) -> None:
        """Reference verification mode (SURVEY §3.4; SET
        verify_optimized_plan TO true, engine/session.rs:492-543): re-plan
        the same SQL with the excludable optimizer batches, AQE, and CBO
        disabled, execute both plans, and raise on any row-multiset
        difference. Nondeterministic queries (random()) are exempt, as is
        anything beyond the row cap."""
        import re as _re

        if _re.search(r"\brandom\s*\(|\brand\s*\(", query, _re.IGNORECASE):
            return
        rows = df.limit(self._VERIFY_ROW_CAP + 1).collect()
        if len(rows) > self._VERIFY_ROW_CAP:
            return
        conf = self.spark.conf
        saved = {
            k: conf.get(k, None)
            for k in (
                "spark.sql.optimizer.excludedRules",
                "spark.sql.adaptive.enabled",
                "spark.sql.cbo.enabled",
            )
        }
        try:
            conf.set(
                "spark.sql.optimizer.excludedRules", self._VERIFY_EXCLUDED_RULES
            )
            conf.set("spark.sql.adaptive.enabled", "false")
            conf.set("spark.sql.cbo.enabled", "false")
            plain = self.spark.sql(query).limit(self._VERIFY_ROW_CAP + 1).collect()
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
        canon = lambda rs: sorted(repr(tuple(r)) for r in rs)  # noqa: E731
        if canon(rows) != canon(plain):
            raise AssertionError(
                "verify_optimized_plan: optimized and unoptimized plans "
                f"disagree ({len(rows)} vs {len(plain)} rows) for: {query[:200]}"
            )

    # -- query entry points ------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """SQL with the reference's table functions available in FROM —
        read_parquet/read_csv/read_text/glob/parquet_*_metadata/
        generate_series with literal args (see functions/table_sql.py) —
        plus ``COPY (query) TO 'path' (FORMAT ...)`` (the surface the
        reference declares and stubs, plan_copy.rs:25; DuckDB syntax).

        SQL text first passes through the arith pre-binder
        (functions/arith_binder.py): polymorphic ``add/sub/mul/div/rem``
        calls expand to infix, and provably-int/int ``/`` gets the
        reference's integer-division semantics (``5/2 = 2``,
        functions/scalar/builtin/arith/ + arith.slt) — then the star-macro
        pre-binder (functions/star_binder.py): ``* EXCLUDE`` → Spark-native
        ``* EXCEPT``, and ``* REPLACE (expr AS col)`` / ``COLUMNS('re')``
        expand against the analyzed probe schema (select_list binder +
        COLUMNS expression of the reference)."""
        txn_df = self._txn_statement(query)
        if txn_df is not None:
            return txn_df
        var_df = self._var_statement(query)
        if var_df is not None:
            return var_df
        from glaredb_spark.functions.arith_binder import rewrite_arith
        from glaredb_spark.functions.misc_binder import rewrite_misc
        from glaredb_spark.functions.unnest_binder import rewrite_unnest
        from glaredb_spark.functions.star_binder import rewrite_star_macros
        from glaredb_spark.functions.table_sql import rewrite_table_functions

        from glaredb_spark.functions.alias_binder import (
            name_unaliased_values,
            pad_partial_alias_lists,
            propagate_scalar_subquery_aliases,
        )

        query = rewrite_arith(query, self.spark)
        query = rewrite_misc(query, self.spark)
        query = rewrite_unnest(query)
        if "interval" in query.lower():
            from glaredb_spark.functions.interval_util import (
                rewrite_intervals,
            )

            query = rewrite_intervals(query)
        query = rewrite_star_macros(query, self.spark)
        query = pad_partial_alias_lists(query, self.spark)
        if "values" in query.lower():
            query = name_unaliased_values(query, self.spark)
        query = propagate_scalar_subquery_aliases(query, self.spark)
        from glaredb_spark.functions.ident_binder import (
            create_has_case_dup_columns,
            resolve_case_idents,
        )

        if self.spark.conf.get("spark.sql.caseSensitive", "false") == "true":
            # reference ident model while storage is case-sensitive:
            # unquoted → case-insensitive unique match, collisions error
            query = resolve_case_idents(query, self.spark)
        elif create_has_case_dup_columns(query):
            # declared columns differ only by case — the reference stores
            # them side by side; flip the session case-sensitive so Spark
            # accepts the CREATE (ident_binder covers resolution after)
            self.spark.conf.set("spark.sql.caseSensitive", "true")
        if _INLINE_DESC_RE.search(query):
            query = self._rewrite_inline_describe(query)
        desc = _DESCRIBE_RE.match(query)
        if desc and not re.match(
            r"^\s*DESCRIBE\s+(TABLE|QUERY|EXTENDED|FORMATTED)\b",
            query,
            re.IGNORECASE,
        ):
            return self._describe(desc.group(1))
        show_s = _SHOW_SCHEMAS_FROM_RE.match(query)
        if show_s and self._catalog_dml_target(show_s.group(1)):
            from glaredb_spark.sources import iceberg_rest as _ir

            endpoint, token = self._catalog_dml_target(show_s.group(1))
            return self.spark.createDataFrame(
                [(n,) for n in sorted(
                    _ir.namespace_names(endpoint, token=token)
                )],
                "schema_name string",
            )
        show_t = _SHOW_TABLES_FROM_RE.match(query)
        if show_t:
            parts = show_t.group(1).split(".")
            hit = self._catalog_dml_target(parts[0])
            if hit:
                from glaredb_spark.sources import iceberg_rest as _ir

                endpoint, token = hit
                if len(parts) > 1:
                    namespaces = [".".join(parts[1:])]
                else:
                    namespaces = _ir.namespace_names(
                        endpoint, token=token
                    )
                rows = [
                    (parts[0], ns, t)
                    for ns in namespaces
                    for t in _ir.table_names(endpoint, ns, token=token)
                ]
                return self.spark.createDataFrame(
                    rows or [],
                    "database_name string, schema_name string, "
                    "table_name string",
                )
        if _SHOW_DB_RE.match(query) or _SHOW_SCHEMAS_RE.match(query):
            from glaredb_spark import catalog as _cat

            if _SHOW_DB_RE.match(query):
                names = ["system", "temp"] + _cat.list_attached(self.spark)
                col = "database_name"
            else:
                names = _cat.list_schemas_ref(self.spark)
                col = "schema_name"
            return self.spark.createDataFrame(
                [(n,) for n in sorted(names)], f"{col} string"
            )
        schema_m = _CREATE_SCHEMA_RE.match(query)
        if schema_m:
            from pyspark.sql import functions as F

            from glaredb_spark import catalog as _cat

            name = schema_m.group(1)
            hit = ("." in name) and self._catalog_dml_target(
                name.split(".", 1)[0]
            )
            if hit:
                # CREATE SCHEMA alias.ns[.sub] → catalog createNamespace
                from glaredb_spark.sources import iceberg_rest as _ir

                endpoint, token = hit
                ns = name.split(".", 1)[1]
                _ir.create_namespace(endpoint, ns, token=token)
                return self.spark.range(1).select(
                    F.lit(f"created namespace {ns}").alias("status")
                )
            _cat.create_schema(self.spark, name)
            return self.spark.range(1).select(
                F.lit(f"created schema {name}").alias("status")
            )
        drop_m = _DROP_SCHEMA_RE.match(query)
        if drop_m:
            from pyspark.sql import functions as F

            from glaredb_spark import catalog as _cat

            name = drop_m.group(2)
            if_exists = bool(drop_m.group(1))
            cascade = (drop_m.group(3) or "").upper() == "CASCADE"
            hit = ("." in name) and self._catalog_dml_target(
                name.split(".", 1)[0]
            )
            if hit:
                # catalog route honors BOTH modifiers like the local
                # path (r14, ADVICE): CASCADE drops the namespace's
                # tables first (the REST catalog 409s a non-empty
                # namespace); IF EXISTS swallows the 404
                from glaredb_spark.sources import iceberg_rest as _ir

                endpoint, token = hit
                ns = name.split(".", 1)[1]
                try:
                    if cascade:
                        for t in _ir.table_names(
                                endpoint, ns, token=token):
                            _ir.drop_table(endpoint, ns, t, token=token)
                    _ir.drop_namespace(endpoint, ns, token=token)
                except _ir.IcebergRestError as e:
                    if not (if_exists and e.code == 404):
                        raise
                return self.spark.range(1).select(
                    F.lit(f"dropped namespace {ns}").alias("status")
                )
            _cat.drop_schema(
                self.spark,
                name,
                cascade=cascade,
            )
            return self.spark.range(1).select(
                F.lit(f"dropped schema {name}").alias("status")
            )
        m = _CTAS_CAT_RE.match(query)
        if m and self._catalog_dml_target(m.group(2).split(".")[0]):
            # CREATE TABLE [IF NOT EXISTS] alias.ns.t AS <query> —
            # catalog createTable (schema from the query) + rows
            # through optimistic commitTable (r13)
            from pyspark.sql import functions as F

            from glaredb_spark.functions.table_sql import (
                rewrite_table_functions,
            )
            from glaredb_spark.sources import iceberg_rest as _ir

            endpoint, token, ns, tbl = self._catalog_ref(m.group(2))
            df = self.spark.sql(
                rewrite_table_functions(self.spark, m.group(3))
            )
            try:
                _ir.create_table(
                    self.spark, endpoint, ns, tbl, df, token=token
                )
            except _ir.IcebergRestError as e:
                if m.group(1) and e.code == 409:
                    # IF NOT EXISTS: the table is someone else's —
                    # skip the insert too (standard CTAS semantics)
                    return self.spark.range(1).select(
                        F.lit(0).cast("bigint").alias("Count")
                    )
                raise
            # single pass (r14, ADVICE/VERDICT #5): the SELECT executes
            # exactly once — the staged append — and the Count comes
            # from the committed snapshot's own summary
            # (added-records, authored by the writer), not a second
            # count() job pinning the result in executor storage. An
            # append failure drops the just-created table so a retry
            # or concurrent reader never observes a created-but-empty
            # husk.
            try:
                snap_id = _ir.append_table(
                    self.spark, endpoint, ns, tbl, df, token=token
                )
            except BaseException:
                try:
                    _ir.drop_table(endpoint, ns, tbl, token=token)
                except Exception:  # noqa: BLE001 — original error wins
                    pass
                raise
            meta = _ir.load_table(
                endpoint, ns, tbl, token
            ).get("metadata") or {}
            n = next(
                (int((s.get("summary") or {}).get("added-records", 0))
                 for s in meta.get("snapshots") or []
                 if int(s.get("snapshot-id", 0) or 0) == int(snap_id)),
                0,
            )
            return self.spark.range(1).select(
                F.lit(n).cast("bigint").alias("Count")
            )
        m = _CREATE_TABLE_CAT_RE.match(query)
        if m and self._catalog_dml_target(m.group(2).split(".")[0]):
            # CREATE TABLE [IF NOT EXISTS] alias.ns.t (col type, ...)
            # — catalog createTable from the explicit column list (r14)
            from pyspark.sql import functions as F
            from pyspark.sql.types import _parse_datatype_string

            from glaredb_spark.sources import iceberg_rest as _ir

            endpoint, token, ns, tbl = self._catalog_ref(m.group(2))
            schema = _parse_datatype_string(m.group(3))
            try:
                _ir.create_table(
                    self.spark, endpoint, ns, tbl,
                    self.spark.createDataFrame([], schema), token=token,
                )
                msg = f"created table {ns}.{tbl}"
            except _ir.IcebergRestError as e:
                if not (m.group(1) and e.code == 409):
                    raise
                msg = f"table {ns}.{tbl} exists, skipped"
            return self.spark.range(1).select(
                F.lit(msg).alias("status")
            )
        m = _DROP_TABLE_CAT_RE.match(query)
        if m and self._catalog_dml_target(m.group(2).split(".")[0]):
            from pyspark.sql import functions as F

            from glaredb_spark.sources import iceberg_rest as _ir

            endpoint, token, ns, tbl = self._catalog_ref(m.group(2))
            try:
                _ir.drop_table(endpoint, ns, tbl, token=token)
            except _ir.IcebergRestError as e:
                if not (m.group(1) and e.code == 404):
                    raise  # IF EXISTS swallows only a missing table
            return self.spark.range(1).select(
                F.lit(f"dropped table {ns}.{tbl}").alias("status")
            )
        copy = _COPY_RE.match(query)
        if copy:
            return self._run_copy(copy)
        attach_pg = _ATTACH_PG_RE.match(query)
        if attach_pg:
            return self._attach_postgres(attach_pg)
        attach_uc = _ATTACH_UNITY_RE.match(query)
        if attach_uc:
            from pyspark.sql import functions as F

            from glaredb_spark.sources.unity import attach_unity

            opts = dict(
                re.findall(r"([A-Za-z_]\w*)\s+'([^']*)'", attach_uc.group(2))
            )
            for req in ("endpoint", "catalog"):
                if req not in opts:
                    raise ValueError(f"Missing required option '{req}'")
            attach_unity(
                self.spark, attach_uc.group(1), opts["endpoint"],
                opts["catalog"],
            )
            return self.spark.range(1).select(
                F.lit(
                    f"attached unity catalog {attach_uc.group(1)}"
                ).alias("status")
            )
        attach_ir = _ATTACH_ICEREST_RE.match(query)
        if attach_ir:
            from pyspark.sql import functions as F

            from glaredb_spark.sources.iceberg_rest import (
                attach_iceberg_rest,
            )

            opts = dict(
                re.findall(r"([A-Za-z_]\w*)\s+'([^']*)'", attach_ir.group(2))
            )
            if "endpoint" not in opts:
                raise ValueError("Missing required option 'endpoint'")
            attach_iceberg_rest(
                self.spark, attach_ir.group(1), opts["endpoint"],
                token=opts.get("token"),
                credential=opts.get("credential"),
            )
            return self.spark.range(1).select(
                F.lit(
                    f"attached iceberg rest catalog {attach_ir.group(1)}"
                ).alias("status")
            )
        if _SHOW_CATALOGS_RE.match(query):
            from glaredb_spark import catalog as _cat
            from glaredb_spark.sources.iceberg_rest import (
                attached_iceberg_rest,
            )
            from glaredb_spark.sources.unity import attached_unity

            names = (
                ["system", "temp"]
                + _cat.list_attached(self.spark)
                + attached_unity(self.spark)
                + attached_iceberg_rest(self.spark)
            )
            return self.spark.createDataFrame(
                [(n,) for n in sorted(names)], "catalog_name string"
            )
        attach = _ATTACH_MEM_RE.match(query) or _ATTACH_PATH_RE.match(query)
        detach = _DETACH_RE.match(query)
        if attach or detach:
            from pyspark.sql import functions as F

            from glaredb_spark import catalog as _cat

            if detach:
                from glaredb_spark.sources.iceberg_rest import (
                    detach_iceberg_rest,
                )
                from glaredb_spark.sources.postgres import detach_postgres
                from glaredb_spark.sources.unity import detach_unity

                if detach_postgres(detach.group(1)) or detach_unity(
                    self.spark, detach.group(1)
                ) or detach_iceberg_rest(self.spark, detach.group(1)):
                    return self.spark.range(1).select(
                        F.lit(f"detached {detach.group(1)}").alias("status")
                    )
                _cat.detach_database(self.spark, detach.group(1))
                msg = f"detached {detach.group(1)}"
            elif len(attach.groups()) == 1:  # memory form
                _cat.attach_database(self.spark, attach.group(1))
                msg = f"attached {attach.group(1)}"
            else:  # path form: ('path', alias)
                _cat.attach_database(
                    self.spark, attach.group(2), path=attach.group(1)
                )
                msg = f"attached {attach.group(2)}"
            return self.spark.range(1).select(F.lit(msg).alias("status"))
        # FOR BRANCH <b> (r15): strip once here so every DML regex and
        # handler below sees the canonical statement; the branch
        # threads through as a kwarg
        query, dml_branch = _extract_for_branch(query)
        dml = _DELETE_CAT_RE.match(query)
        if dml:
            # DELETE FROM <attached-alias>.<ns...>.<table> WHERE pred —
            # catalog-routed (r12); unattached aliases fall through
            hit = self._catalog_dml_target(dml.group(1))
            if hit:
                from pyspark.sql import functions as F

                from glaredb_spark.sources import iceberg_rest as _ir

                endpoint, token = hit
                ns = self._resolve_catalog_ns(
                    endpoint, token, (dml.group(2) or "").rstrip("."),
                    dml.group(1), dml.group(3),
                )
                n, _f = _ir.delete_table_rows(
                    self.spark, endpoint, ns, dml.group(3),
                    dml.group(4) or "true", token=token,
                    branch=dml_branch,
                )
                return self.spark.range(1).select(
                    F.lit(n).cast("bigint").alias("Count")
                )
        dml = _UPDATE_CAT_RE.match(query)
        if dml:
            hit = self._catalog_dml_target(dml.group(1))
            if hit:
                from pyspark.sql import functions as F

                from glaredb_spark.functions.arith_binder import (
                    _split_top_args,
                )
                from glaredb_spark.sources import iceberg_rest as _ir

                endpoint, token = hit
                ns = self._resolve_catalog_ns(
                    endpoint, token, (dml.group(2) or "").rstrip("."),
                    dml.group(1), dml.group(3),
                )
                sets: dict[str, str] = {}
                for item in _split_top_args(dml.group(4)):
                    col, eq, expr = item.partition("=")
                    if not eq or not col.strip() or not expr.strip():
                        raise ValueError(
                            f"malformed SET clause item: {item!r}"
                        )
                    sets[col.strip().strip('`"')] = expr.strip()
                n, _f = _ir.update_table_rows(
                    self.spark, endpoint, ns, dml.group(3), sets,
                    dml.group(5) or "true", token=token,
                    branch=dml_branch,
                )
                return self.spark.range(1).select(
                    F.lit(n).cast("bigint").alias("Count")
                )
        dml = _DELETE_PATH_RE.match(query)
        if dml:
            # DELETE FROM '<table-dir>' WHERE pred — copy-on-write over
            # the native Delta log or Iceberg snapshot chain, dispatched
            # on the directory's metadata layout; the iceberg.scan(...,
            # strategy=>'mor') target writes position deletes instead
            from pyspark.sql import functions as F

            path = dml.group(1) or dml.group(2)
            strategy = (dml.group(3) or "auto").lower()
            if _native_table_kind(path) == "iceberg":
                from glaredb_spark.sources.iceberg_native import (
                    delete_iceberg_native as _del,
                )

                n, _ = _del(self.spark, path,
                            dml.group(4) or "true",
                            strategy=strategy, branch=dml_branch)
            else:
                if dml.group(3):
                    raise ValueError(
                        "strategy= applies to iceberg tables; Delta "
                        "row-level deletes use deletion vectors"
                    )
                if dml_branch:
                    raise ValueError(
                        "FOR BRANCH requires an iceberg table (Delta "
                        "has no branch refs)"
                    )
                from glaredb_spark.sources.delta_native import (
                    delete_delta_native as _del,
                )

                n, _ = _del(self.spark, path,
                            dml.group(4) or "true")
            return self.spark.range(1).select(
                F.lit(n).cast("bigint").alias("Count")
            )
        dml = _UPDATE_PATH_RE.match(query)
        if dml:
            # UPDATE '<table-dir>' SET c = expr[, ...] WHERE pred
            from pyspark.sql import functions as F

            from glaredb_spark.functions.arith_binder import _split_top_args

            path = dml.group(1) or dml.group(2)
            strategy = (dml.group(3) or "auto").lower()
            sets: dict[str, str] = {}
            for item in _split_top_args(dml.group(4)):
                col, eq, expr = item.partition("=")
                if not eq or not col.strip() or not expr.strip():
                    raise ValueError(f"malformed SET clause item: {item!r}")
                sets[col.strip().strip("`\"")] = expr.strip()
            if _native_table_kind(path) == "iceberg":
                from glaredb_spark.sources.iceberg_native import (
                    update_iceberg_native as _upd,
                )

                n, _ = _upd(self.spark, path, sets,
                            dml.group(5) or "true",
                            strategy=strategy, branch=dml_branch)
            else:
                if dml.group(3):
                    raise ValueError(
                        "strategy= applies to iceberg tables; Delta "
                        "row-level deletes use deletion vectors"
                    )
                if dml_branch:
                    raise ValueError(
                        "FOR BRANCH requires an iceberg table (Delta "
                        "has no branch refs)"
                    )
                from glaredb_spark.sources.delta_native import (
                    update_delta_native as _upd,
                )

                n, _ = _upd(self.spark, path, sets,
                            dml.group(5) or "true")
            return self.spark.range(1).select(
                F.lit(n).cast("bigint").alias("Count")
            )
        dml = _MERGE_PATH_RE.match(query)
        if dml:
            return self._run_merge(dml, query, branch=dml_branch)
        dml = _MERGE_CAT_RE.match(query)
        if dml and self._catalog_dml_target(dml.group(1).split(".")[0]):
            return self._run_merge(
                dml, query, catalog=self._catalog_ref(dml.group(1)),
                branch=dml_branch,
            )
        m = _OPTIMIZE_CAT_RE.match(query)
        if m:
            tgt = self._catalog_ref(m.group(1))
            if tgt:
                from pyspark.sql import functions as F

                from glaredb_spark.sources import iceberg_rest as _ir

                endpoint, token, ns, tbl = tgt
                zorder = (
                    [c.strip() for c in m.group(2).split(",")]
                    if m.group(2) else None
                )
                removed, added = _ir.optimize_table(
                    self.spark, endpoint, ns, tbl,
                    zorder_by=zorder, token=token,
                )
                return self.spark.range(1).select(
                    F.lit(removed).cast("bigint").alias("files_removed"),
                    F.lit(added).cast("bigint").alias("files_added"),
                )
        m = _VACUUM_CAT_RE.match(query)
        if m:
            tgt = self._catalog_ref(m.group(1))
            if tgt:
                from glaredb_spark.sources import iceberg_rest as _ir

                endpoint, token, ns, tbl = tgt
                deleted = _ir.vacuum_table(
                    self.spark, endpoint, ns, tbl,
                    retention_hours=(
                        float(m.group(2)) if m.group(2) else 168.0
                    ),
                    dry_run=bool(m.group(3)), token=token,
                )
                return self.spark.createDataFrame(
                    [(p,) for p in deleted] or [], "path string"
                )
        m = _REORG_CAT_RE.match(query)
        if m:
            tgt = self._catalog_ref(m.group(1))
            if tgt:
                from pyspark.sql import functions as F

                from glaredb_spark.sources import iceberg_rest as _ir

                endpoint, token, ns, tbl = tgt
                files, rows = _ir.purge_table(
                    self.spark, endpoint, ns, tbl, token=token,
                )
                return self.spark.range(1).select(
                    F.lit(files).cast("bigint").alias("files_purged"),
                    F.lit(rows).cast("bigint")
                    .alias("rows_materialized"),
                )
        m = _ALTER_CAT_RE.match(query)
        if m and self._catalog_dml_target(m.group(1).split(".")[0]):
            return self._alter_catalog_table(m)
        m = _OPTIMIZE_RE.match(query)
        if m:
            from pyspark.sql import functions as F

            zorder = (
                [c.strip().strip("`") for c in m.group(2).split(",")]
                if m.group(2)
                else None
            )
            if _native_table_kind(m.group(1)) == "iceberg":
                from glaredb_spark.sources.iceberg_native import (
                    optimize_iceberg_native as _opt,
                )

                removed, added = _opt(
                    self.spark, m.group(1), zorder_by=zorder
                )
            else:
                from glaredb_spark.sources.delta_native import (
                    optimize_delta_native as _opt,
                )

                removed, added = _opt(
                    self.spark, m.group(1), zorder_by=zorder
                )
            return self.spark.range(1).select(
                F.lit(removed).cast("bigint").alias("files_removed"),
                F.lit(added).cast("bigint").alias("files_added"),
            )
        m = _VACUUM_RE.match(query)
        if m:
            from pyspark.sql import functions as F

            if _native_table_kind(m.group(1)) == "iceberg":
                # Iceberg has no VACUUM statement of its own; route to
                # snapshot expiration + orphan cleanup (r9) — the same
                # retention semantics over the snapshot chain
                from glaredb_spark.sources.iceberg_native import (
                    expire_snapshots_iceberg_native as _vac,
                    remove_orphans_iceberg_native as _orph,
                )

                hours = float(m.group(2)) if m.group(2) else 168.0
                deleted = _vac(
                    m.group(1), retention_hours=hours,
                    dry_run=bool(m.group(3)),
                )
                # orphan sweep rides VACUUM (files staged by losing/
                # dead committers that NO snapshot references), but its
                # grace NEVER drops below 24h here: an optimistic
                # committer between stage and commit has live staged
                # files a 'RETAIN 0 HOURS' would otherwise delete,
                # breaking the subsequent commit (r12 review). Shorter
                # graces need the explicit API
                # (remove_orphans_iceberg_native).
                deleted = deleted + _orph(
                    m.group(1), older_than_hours=max(hours, 24.0),
                    dry_run=bool(m.group(3)), spark=self.spark,
                )
            else:
                from glaredb_spark.sources.delta_native import (
                    vacuum_delta_native,
                )

                deleted = vacuum_delta_native(
                    self.spark,
                    m.group(1),
                    retention_hours=(
                        float(m.group(2)) if m.group(2) else 168.0
                    ),
                    dry_run=bool(m.group(3)),
                )
            return self.spark.createDataFrame(
                [(p,) for p in deleted] or [], "path string"
            )
        m = _ALTER_RE.match(query)
        if m:
            from pyspark.sql import functions as F

            path, kind = m.group(1), _native_table_kind(m.group(1))
            if m.group(2):  # ADD COLUMN
                if kind == "iceberg":
                    from glaredb_spark.sources.iceberg_native import (
                        add_column_iceberg_native as _add,
                    )

                    _add(path, m.group(2), m.group(3))
                else:
                    from glaredb_spark.sources.delta_native import (
                        add_column_delta_native as _add,
                    )

                    _add(path, m.group(2), m.group(3))
                msg = f"added column {m.group(2)}"
            elif m.group(4):  # RENAME COLUMN
                if kind == "iceberg":
                    from glaredb_spark.sources.iceberg_native import (
                        rename_column_iceberg_native as _ren,
                    )
                else:
                    from glaredb_spark.sources.delta_native import (
                        rename_column_delta_native as _ren,
                    )

                _ren(path, m.group(4), m.group(5))
                msg = f"renamed column {m.group(4)} to {m.group(5)}"
            elif m.group(6):  # DROP COLUMN
                if kind == "iceberg":
                    from glaredb_spark.sources.iceberg_native import (
                        drop_column_iceberg_native as _drop,
                    )
                else:
                    from glaredb_spark.sources.delta_native import (
                        drop_column_delta_native as _drop,
                    )

                _drop(path, m.group(6))
                msg = f"dropped column {m.group(6)}"
            elif m.group(11) is not None:  # SET IDENTIFIER FIELDS
                # `is not None`, not truthiness: 'FIELDS ()' matches
                # with an EMPTY group and must error here, not fall
                # through to the DROP PARTITION FIELD arm (r10 review)
                if kind != "iceberg":
                    raise ValueError(
                        "SET IDENTIFIER FIELDS requires an iceberg "
                        "table (Delta has no identifier-field-ids)"
                    )
                from glaredb_spark.sources.iceberg_native import (
                    set_identifier_fields_iceberg_native as _setid,
                )

                cols = [c.strip() for c in m.group(11).split(",")
                        if c.strip()]
                _setid(path, cols)
                msg = f"set identifier fields {cols}"
            elif m.group(9):  # ALTER COLUMN TYPE (widening)
                if kind == "iceberg":
                    from glaredb_spark.sources.iceberg_native import (
                        widen_column_iceberg_native as _widen,
                    )
                else:
                    from glaredb_spark.sources.delta_native import (
                        widen_column_delta_native as _widen,
                    )

                _widen(path, m.group(9), m.group(10))
                msg = (
                    f"widened column {m.group(9)} to "
                    f"{m.group(10).lower()}"
                )
            elif m.group(7):  # ADD PARTITION FIELD (iceberg only)
                if kind != "iceberg":
                    raise ValueError(
                        "ADD PARTITION FIELD requires an iceberg table "
                        "(delta has no partition-spec evolution)"
                    )
                from glaredb_spark.sources.iceberg_native import (
                    add_partition_field_iceberg_native as _addpf,
                )

                sid = _addpf(path, m.group(7).strip())
                msg = (
                    f"added partition field {m.group(7).strip()} "
                    f"(spec {sid})"
                )
            elif m.group(12):  # ROLLBACK TO SNAPSHOT (iceberg only)
                if kind != "iceberg":
                    raise ValueError(
                        "ROLLBACK TO SNAPSHOT requires an iceberg "
                        "table (Delta time travel is version-based)"
                    )
                from glaredb_spark.sources.iceberg_native import (
                    rollback_iceberg_native as _rb,
                )

                sid = _rb(path, int(m.group(12)))
                msg = f"rolled back to snapshot {sid}"
            elif m.group(13):  # CREATE TAG/BRANCH (iceberg refs, r14)
                if kind != "iceberg":
                    raise ValueError(
                        "CREATE TAG/BRANCH requires an iceberg table"
                    )
                from glaredb_spark.sources.iceberg_native import (
                    create_ref_iceberg_native as _cref,
                )

                sid = _cref(
                    path, m.group(14),
                    int(m.group(15)) if m.group(15) else None,
                    kind=m.group(13).lower(),
                )
                msg = (
                    f"created {m.group(13).lower()} {m.group(14)} "
                    f"at snapshot {sid}"
                )
            elif m.group(16):  # DROP TAG/BRANCH
                if kind != "iceberg":
                    raise ValueError(
                        "DROP TAG/BRANCH requires an iceberg table"
                    )
                from glaredb_spark.sources.iceberg_native import (
                    drop_ref_iceberg_native as _dref,
                )

                _dref(path, m.group(17))
                msg = f"dropped {m.group(16).lower()} {m.group(17)}"
            elif m.group(18):  # FAST FORWARD main TO <branch> (r15)
                if kind != "iceberg":
                    raise ValueError(
                        "FAST FORWARD requires an iceberg table"
                    )
                from glaredb_spark.sources.iceberg_native import (
                    fast_forward_iceberg_native as _ff,
                )

                sid = _ff(path, m.group(18))
                msg = (
                    f"fast-forwarded main to {m.group(18)} "
                    f"(snapshot {sid})"
                )
            else:  # DROP PARTITION FIELD (iceberg only)
                if kind != "iceberg":
                    raise ValueError(
                        "DROP PARTITION FIELD requires an iceberg table "
                        "(delta has no partition-spec evolution)"
                    )
                from glaredb_spark.sources.iceberg_native import (
                    drop_partition_field_iceberg_native as _droppf,
                )

                sid = _droppf(path, m.group(8).strip())
                msg = (
                    f"dropped partition field {m.group(8).strip()} "
                    f"(spec {sid})"
                )
            return self.spark.range(1).select(F.lit(msg).alias("status"))
        m = _RESTORE_RE.match(query)
        if m:
            from pyspark.sql import functions as F

            if _native_table_kind(m.group(1)) != "delta":
                raise ValueError(
                    "RESTORE TABLE ... TO VERSION AS OF targets a "
                    "native Delta table; Iceberg tables roll back with "
                    "ALTER TABLE ... ROLLBACK TO SNAPSHOT <id>"
                )
            from glaredb_spark.sources.delta_native import (
                restore_delta_native,
            )

            removed, readded = restore_delta_native(
                self.spark, m.group(1), int(m.group(2))
            )
            return self.spark.range(1).select(
                F.lit(removed).cast("bigint").alias("files_removed"),
                F.lit(readded).cast("bigint").alias("files_readded"),
            )
        m = _REORG_RE.match(query)
        if m:
            from pyspark.sql import functions as F

            if _native_table_kind(m.group(1)) == "iceberg":
                from glaredb_spark.sources.iceberg_native import (
                    purge_iceberg_native as _purge,
                )
            else:
                from glaredb_spark.sources.delta_native import (
                    purge_delta_native as _purge,
                )

            files, rows = _purge(self.spark, m.group(1))
            return self.spark.range(1).select(
                F.lit(files).cast("bigint").alias("files_purged"),
                F.lit(rows).cast("bigint").alias("rows_materialized"),
            )
        # fall-through guard (r14): a mutating statement whose target's
        # first segment IS an attached alias but which matched NO
        # handler above must fail by NAME with the supported grammar —
        # Spark's parser knows nothing about catalog aliases and would
        # die with an unrelated message
        self._alias_statement_guard(query)
        ins = _INSERT_RE.match(query)
        if ins:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            table = ins.group(1)
            source = query[ins.end() :].strip().rstrip(";").strip()
            # INSERT INTO <attached-alias>.<ns...>.<table> routes
            # through the catalog's optimistic commitTable (r12)
            parts = table.split(".")
            if len(parts) >= 2:
                from glaredb_spark.sources import iceberg_rest as _ir

                ir_attached = _ir._attached(self.spark)
                if parts[0] in ir_attached:
                    endpoint, token = _ir.resolve_attached(
                        self.spark, parts[0]
                    )
                    ns = self._resolve_catalog_ns(
                        endpoint, token, ".".join(parts[1:-1]),
                        parts[0], parts[-1],
                    )
                    src = self._catalog_insert_source(
                        endpoint, token, ns, parts[-1], source
                    )
                    # persisted: the count and the staged write read
                    # ONE materialization — a nondeterministic source
                    # must not report a Count different from the rows
                    # written (r12 review)
                    src = src.persist()
                    try:
                        n = src.count()
                        if dml_branch:
                            # INSERT ... FOR BRANCH (r15): the append
                            # advances only the branch ref (WAP)
                            _ir.append_branch_table(
                                self.spark, endpoint, ns, parts[-1],
                                src, dml_branch, token=token,
                            )
                        else:
                            _ir.append_table(
                                self.spark, endpoint, ns, parts[-1],
                                src, token=token,
                            )
                    finally:
                        src.unpersist()
                    return self.spark.range(1).select(
                        F.lit(n).cast("bigint").alias("Count")
                    )
            if dml_branch:
                raise ValueError(
                    "INSERT ... FOR BRANCH targets an ATTACHed "
                    "iceberg catalog table (alias.ns.t); path tables "
                    "branch-append via append_branch_iceberg_native"
                )
            if re.match(r"(VALUES|SELECT|WITH|TABLE|FROM)\b", source, re.IGNORECASE):
                # single pass: the inserted-row Count (reference
                # PhysicalInsert, insert.rs:33) rides along the write via
                # observe — the target table is never rescanned (at 100 TB
                # the old before/after count() was two extra full passes)
                src = self.spark.sql(
                    rewrite_table_functions(self.spark, source)
                )
                obs = Observation()
                counted = src.observe(obs, F.count(F.lit(1)).alias("n"))
                # SQL INSERT coerces by position (int literal -> text column,
                # string -> float); mirror it with explicit casts — ANSI mode
                # still raises on truly invalid values. Arity mismatches fall
                # through uncast so insertInto reports them (insert_invalid).
                tgt_fields = self.spark.table(table).schema.fields
                if len(counted.columns) == len(tgt_fields):
                    # positional rename first — the source may carry
                    # duplicate column names (SELECT * over two TVFs)
                    counted = counted.toDF(
                        *[f"_ins_c{i}" for i in range(len(tgt_fields))]
                    ).select(
                        *[
                            F.col(f"_ins_c{i}").cast(f.dataType).alias(f.name)
                            for i, f in enumerate(tgt_fields)
                        ]
                    )
                counted.write.insertInto(table)
                n = obs.get["n"]
            else:  # exotic form (column list etc.) — defer to Spark SQL
                self.spark.sql(rewrite_table_functions(self.spark, query))
                n = None
            return self.spark.range(1).select(
                F.lit(n).cast("bigint").alias("Count")
            )
        from glaredb_spark.functions.table_sql import _PROFILE
        from glaredb_spark.plans.explain import record_query

        is_profile_query = bool(_PROFILE.search(query))
        final_sql = rewrite_table_functions(self.spark, query)
        from glaredb_spark.sources import postgres as _pg

        if _pg.attached():
            final_sql = _pg.resolve_attached_tables(self.spark, final_sql)
        executed_sql = final_sql
        try:
            df = self.spark.sql(final_sql)
        except Exception as first_err:  # noqa: BLE001
            # retry binders (functions/lateral_binder.py): implicit
            # lateral (reference comma-join left visibility) and function
            # chaining (expr.fn() method syntax). Each candidate is tried
            # once; the ORIGINAL error is re-raised if none analyze, so a
            # working query can never regress.
            from glaredb_spark.functions.lateral_binder import (
                chainize,
                dealias,
                delateralize_aggregate,
                lateralize,
            )

            # reference gates 'x'.upper() method-call sugar behind the
            # enable_function_chaining session var (config/session.rs:19)
            chain = (
                chainize
                if self.session_vars.get("enable_function_chaining", True)
                else (lambda s: s)
            )
            seen = {final_sql}
            df = None
            for cand in (
                lateralize(final_sql),
                chain(final_sql),
                chain(lateralize(final_sql)),
                dealias(final_sql),
                delateralize_aggregate(final_sql, self.spark),
            ):
                if cand in seen:
                    continue
                seen.add(cand)
                try:
                    df = self.spark.sql(cand)
                    executed_sql = cand
                    break
                except Exception:  # noqa: BLE001
                    continue
            if df is None:
                raise first_err from None
        if (
            self.verify_optimized_plan
            and df.columns
            and re.match(r"\s*(SELECT|WITH|VALUES|TABLE)\b", executed_sql, re.IGNORECASE)
        ):
            self._verify_against_unoptimized(executed_sql, df)
        if not is_profile_query:
            # profile table functions (profile.rs); introspection queries
            # are not recorded so profile() keeps pointing at user queries
            record_query(self.spark, df)
        return df

    def _alias_statement_guard(self, query: str) -> None:
        """Raise UnsupportedCatalogStatement when a mutating statement
        targets an ATTACHed alias but matched no handler — the verb's
        supported grammar goes in the message (r14, VERDICT r13 #3)."""
        for rx, grammar in _ALIAS_GUARD_RES:
            gm = rx.match(query)
            if not gm:
                continue
            tgt = gm.group(1)
            if "." in tgt and self._catalog_dml_target(
                    tgt.split(".", 1)[0]):
                verb = query.split(None, 1)[0].upper()
                raise UnsupportedCatalogStatement(
                    f"{verb} statement targets attached catalog table "
                    f"{tgt!r} but matches no supported shape; "
                    f"supported: {grammar}"
                )
            return  # verb matched, target not an attached alias

    def _catalog_dml_target(self, alias: str):
        """(endpoint, token) when ``alias`` names an ATTACHed iceberg
        rest catalog, else None (the DML falls through to the path /
        Spark-SQL handlers)."""
        from glaredb_spark.sources import iceberg_rest as _ir

        if alias in _ir._attached(self.spark):
            return _ir.resolve_attached(self.spark, alias)
        return None

    def _alter_catalog_table(self, m: "re.Match") -> DataFrame:
        """ALTER TABLE alias.ns.t ... over an ATTACHed iceberg_rest
        catalog (r13): every revision commits through commitTable
        (add-schema/set-current-schema/add-spec/set-default-spec), so
        other catalog readers see it; RENAME TO routes to the
        catalog's renameTable (reference client surface
        client.rs:300)."""
        from pyspark.sql import functions as F

        from glaredb_spark.sources import iceberg_rest as _ir

        endpoint, token, ns, tbl = self._catalog_ref(m.group(1))
        if m.group(12):  # RENAME TO [ns2.]t2
            dst = m.group(12).split(".")
            to_ns = ".".join(dst[:-1]) if len(dst) > 1 else ns
            _ir.rename_table(
                endpoint, ns, tbl, to_ns, dst[-1], token=token
            )
            msg = f"renamed table {ns}.{tbl} to {to_ns}.{dst[-1]}"
        elif m.group(2):  # ADD COLUMN
            _ir.alter_add_column(
                endpoint, ns, tbl, m.group(2), m.group(3), token=token
            )
            msg = f"added column {m.group(2)}"
        elif m.group(4):  # RENAME COLUMN
            _ir.alter_rename_column(
                endpoint, ns, tbl, m.group(4), m.group(5), token=token
            )
            msg = f"renamed column {m.group(4)} to {m.group(5)}"
        elif m.group(6):  # DROP COLUMN
            _ir.alter_drop_column(
                endpoint, ns, tbl, m.group(6), token=token
            )
            msg = f"dropped column {m.group(6)}"
        elif m.group(11) is not None:  # SET IDENTIFIER FIELDS
            cols = [c.strip() for c in m.group(11).split(",")
                    if c.strip()]
            _ir.alter_set_identifier_fields(
                endpoint, ns, tbl, cols, token=token
            )
            msg = f"set identifier fields {cols}"
        elif m.group(9):  # ALTER COLUMN TYPE (widening)
            _ir.alter_widen_column(
                endpoint, ns, tbl, m.group(9), m.group(10), token=token
            )
            msg = (
                f"widened column {m.group(9)} to {m.group(10).lower()}"
            )
        elif m.group(7):  # ADD PARTITION FIELD
            sid = _ir.alter_add_partition_field(
                endpoint, ns, tbl, m.group(7).strip(), token=token
            )
            msg = (
                f"added partition field {m.group(7).strip()} "
                f"(spec {sid})"
            )
        elif m.group(13):  # ROLLBACK TO SNAPSHOT (r14)
            sid = _ir.rollback_table(
                endpoint, ns, tbl, int(m.group(13)), token=token
            )
            msg = f"rolled back to snapshot {sid}"
        elif m.group(14):  # CREATE TAG/BRANCH (r14)
            sid = _ir.create_ref_table(
                endpoint, ns, tbl, m.group(15),
                int(m.group(16)) if m.group(16) else None,
                kind=m.group(14).lower(), token=token,
            )
            msg = (
                f"created {m.group(14).lower()} {m.group(15)} "
                f"at snapshot {sid}"
            )
        elif m.group(17):  # DROP TAG/BRANCH (r14)
            _ir.drop_ref_table(
                endpoint, ns, tbl, m.group(18), token=token
            )
            msg = f"dropped {m.group(17).lower()} {m.group(18)}"
        elif m.group(19):  # FAST FORWARD main TO <branch> (r15)
            sid = _ir.fast_forward_table(
                endpoint, ns, tbl, m.group(19), token=token
            )
            msg = (
                f"fast-forwarded main to {m.group(19)} "
                f"(snapshot {sid})"
            )
        else:  # DROP PARTITION FIELD
            sid = _ir.alter_drop_partition_field(
                endpoint, ns, tbl, m.group(8).strip(), token=token
            )
            msg = (
                f"dropped partition field {m.group(8).strip()} "
                f"(spec {sid})"
            )
        return self.spark.range(1).select(F.lit(msg).alias("status"))

    def _catalog_ref(self, ref: str):
        """(endpoint, token, namespace, table) when the first segment
        of dotted ``ref`` is an ATTACHed iceberg_rest alias (namespace
        resolved against the sole namespace when omitted), else None —
        the statement falls through to the path/Spark handlers."""
        parts = ref.split(".")
        hit = self._catalog_dml_target(parts[0])
        if not hit:
            return None
        endpoint, token = hit
        ns = self._resolve_catalog_ns(
            endpoint, token, ".".join(parts[1:-1]), parts[0], parts[-1]
        )
        return endpoint, token, ns, parts[-1]

    def _resolve_catalog_ns(self, endpoint, token, ns, alias, table):
        """Namespace of a catalog-routed statement. A two-part
        reference (``alias.table``, namespace omitted) resolves against
        the catalog's SOLE namespace; with several it raises a NAMED
        error instead of falling through to an unrelated path/Spark
        failure (r12 verdict seam #2)."""
        if ns:
            return ns
        from glaredb_spark.sources import iceberg_rest as _ir

        names = _ir.namespace_names(endpoint, token=token)
        if len(names) == 1:
            return names[0]
        raise ValueError(
            f"namespace required for catalog-routed statement on "
            f"'{alias}.{table}': catalog has "
            f"{len(names)} namespaces ({', '.join(sorted(names)[:5])}"
            f"{', ...' if len(names) > 5 else ''}); use "
            f"'{alias}.<namespace>.{table}'"
        )

    def _catalog_insert_source(self, endpoint, token, ns, tbl,
                               source: str) -> DataFrame:
        """Analyze an INSERT source against a catalog table: the query
        plans lazily and its columns cast-align positionally to the
        target schema from loadTable METADATA (no data scan)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import _parse_datatype_string

        from glaredb_spark.functions.table_sql import (
            rewrite_table_functions,
        )
        from glaredb_spark.sources import iceberg_rest as _ir
        from glaredb_spark.sources.iceberg_native import _spark_schema

        src = self.spark.sql(
            rewrite_table_functions(self.spark, source)
            if re.match(r"(VALUES|SELECT|WITH|TABLE|FROM)\b",
                        source, re.IGNORECASE)
            else source
        )
        meta = _ir.load_table(
            endpoint, ns, tbl, token,
        ).get("metadata") or {}
        want = _parse_datatype_string(_spark_schema(meta))
        if len(src.columns) == len(want.fields):
            src = src.toDF(
                *[f"_ins_c{i}" for i in range(len(want))]
            ).select(*[
                F.col(f"_ins_c{i}").cast(f.dataType).alias(f.name)
                for i, f in enumerate(want.fields)
            ])
        return src

    def _txn_statement(self, query: str) -> "DataFrame | None":
        """Multi-table transaction surface (r14, VERDICT r13 #1):
        ``BEGIN`` opens a buffer; inside it
        ``INSERT INTO <attached-alias>[.<ns>].<table> <query>``,
        ``DELETE FROM <alias>[.<ns>].<table> [WHERE ...]``, and
        ``UPDATE <alias>[.<ns>].<table> SET ... [WHERE ...]`` buffer
        LAZILY (sources analyze immediately; staging and COW planning
        happen at COMMIT); ``COMMIT`` publishes every buffered
        statement in ONE atomic catalog commitTransaction — statements
        on the same table chain in order, and either every table
        advances or none does; ``ROLLBACK`` discards the buffer. Any
        other statement inside the block raises a NAMED
        TransactionError instead of an unrelated parser failure."""
        from pyspark.sql import functions as F

        def status(msg: str) -> DataFrame:
            return self.spark.range(1).select(
                F.lit(msg).alias("status")
            )

        if _BEGIN_RE.match(query):
            if self._txn is not None:
                raise TransactionError(
                    "transaction already open; COMMIT or ROLLBACK it "
                    "before BEGIN"
                )
            self._txn = []
            return status("began transaction")
        if _COMMIT_RE.match(query):
            if self._txn is None:
                raise TransactionError(
                    "COMMIT without an open transaction; BEGIN first"
                )
            return self._commit_txn()
        if _ROLLBACK_RE.match(query):
            if self._txn is None:
                raise TransactionError(
                    "ROLLBACK without an open transaction; BEGIN first"
                )
            n = len(self._txn)
            self._txn = None
            return status(f"rolled back {n} buffered statement(s)")
        if self._txn is None:
            return None
        # --- inside an open transaction ---
        if _FOR_BRANCH_RE.match(query):
            raise TransactionError(
                "FOR BRANCH DML cannot buffer inside BEGIN ... COMMIT "
                "(a transaction publishes main refs atomically; branch "
                "writes are already isolated — run them outside)"
            )
        ins = _INSERT_RE.match(query)
        if ins:
            parts = ins.group(1).split(".")
            hit = len(parts) >= 2 and self._catalog_dml_target(parts[0])
            if not hit:
                raise TransactionError(
                    f"INSERT inside BEGIN ... COMMIT must target an "
                    f"ATTACHed iceberg_rest catalog table "
                    f"(<alias>[.<namespace>].<table>); "
                    f"{ins.group(1)!r} is not one"
                )
            endpoint, token = hit
            ns = self._resolve_catalog_ns(
                endpoint, token, ".".join(parts[1:-1]), parts[0],
                parts[-1],
            )
            source = query[ins.end():].strip().rstrip(";").strip()
            df = self._catalog_insert_source(
                endpoint, token, ns, parts[-1], source
            )
            self._txn.append(("insert", parts[0], ns, parts[-1], df))
            return status(
                f"buffered insert into {ns}.{parts[-1]} "
                f"({len(self._txn)} in transaction)"
            )
        dml = _DELETE_CAT_RE.match(query)
        if dml and self._catalog_dml_target(dml.group(1)):
            endpoint, token = self._catalog_dml_target(dml.group(1))
            ns = self._resolve_catalog_ns(
                endpoint, token, (dml.group(2) or "").rstrip("."),
                dml.group(1), dml.group(3),
            )
            self._txn.append((
                "delete", dml.group(1), ns, dml.group(3),
                dml.group(4) or "true",
            ))
            return status(
                f"buffered delete on {ns}.{dml.group(3)} "
                f"({len(self._txn)} in transaction)"
            )
        dml = _UPDATE_CAT_RE.match(query)
        if dml and self._catalog_dml_target(dml.group(1)):
            from glaredb_spark.functions.arith_binder import (
                _split_top_args,
            )

            endpoint, token = self._catalog_dml_target(dml.group(1))
            ns = self._resolve_catalog_ns(
                endpoint, token, (dml.group(2) or "").rstrip("."),
                dml.group(1), dml.group(3),
            )
            sets: dict[str, str] = {}
            for item in _split_top_args(dml.group(4)):
                col, eq, expr = item.partition("=")
                if not eq or not col.strip() or not expr.strip():
                    raise TransactionError(
                        f"malformed SET clause item: {item!r}"
                    )
                sets[col.strip().strip('`"')] = expr.strip()
            self._txn.append((
                "update", dml.group(1), ns, dml.group(3),
                (sets, dml.group(5) or "true"),
            ))
            return status(
                f"buffered update on {ns}.{dml.group(3)} "
                f"({len(self._txn)} in transaction)"
            )
        dml = _MERGE_CAT_RE.match(query)
        if dml and self._catalog_dml_target(dml.group(1).split(".")[0]):
            # MERGE inside BEGIN ... COMMIT (r15, VERDICT r14 #3): the
            # statement parses NOW (source analyzed, arms normalized,
            # identifier-field keys resolved) and buffers its args; at
            # COMMIT the merge plans against whatever base the chain
            # hands it, so it reads the transaction's own staged
            # inserts/deletes like any other chained op
            cat = self._catalog_ref(dml.group(1))
            args = self._run_merge(dml, query, catalog=cat,
                                   parse_only=True)
            self._txn.append((
                "merge", dml.group(1).split(".")[0], cat[2], cat[3],
                args,
            ))
            return status(
                f"buffered merge into {cat[2]}.{cat[3]} "
                f"({len(self._txn)} in transaction)"
            )
        verb = (re.match(r"\s*(\w+)", query) or [None, "?"])[1]
        raise TransactionError(
            f"only INSERT INTO / DELETE FROM / UPDATE / MERGE INTO on "
            f"<attached-alias>[.<namespace>].<table> targets, COMMIT, "
            f"and ROLLBACK are supported inside BEGIN ... COMMIT; got "
            f"{verb.upper()!r} (ROLLBACK to abandon the transaction)"
        )

    def _commit_txn(self) -> DataFrame:
        """Publish the buffered statements atomically through
        transaction_apply: ops on the same table CHAIN in statement
        order, ADJACENT inserts on one table coalesce into a single
        staged append (one snapshot per run — commitTransaction forbids
        duplicate identifiers and a bulk load shouldn't pay a snapshot
        per INSERT anyway), and the per-table metadata diff posts as
        ONE commitTransaction. The transaction ENDS either way: a
        failed COMMIT aborts (standard SQL), it does not leave a
        half-open buffer. Statements spanning DIFFERENT catalogs raise
        — a single commitTransaction request hits one catalog."""
        from pyspark.sql import functions as F

        from glaredb_spark.sources import iceberg_rest as _ir

        entries, self._txn = self._txn, None
        if not entries:
            return self.spark.range(1).select(
                F.lit("nothing to commit").alias("status")
            )
        aliases = sorted({e[1] for e in entries})
        if len(aliases) > 1:
            raise TransactionError(
                f"a transaction can target only ONE attached catalog "
                f"(atomicity is the catalog's commitTransaction); got "
                f"statements on {', '.join(aliases)}"
            )
        # re-resolve at commit time: credentials re-exchange through
        # the expiry-aware token cache, and a DETACH mid-transaction
        # surfaces here as a named error
        endpoint, token = _ir.resolve_attached(self.spark, aliases[0])
        coalesced: list[tuple] = []
        for op, alias, ns, tbl, payload in entries:
            if (op == "insert" and coalesced
                    and coalesced[-1][0] == "insert"
                    and coalesced[-1][2:4] == (ns, tbl)):
                prev = coalesced[-1]
                coalesced[-1] = (op, alias, ns, tbl,
                                 prev[4].unionByName(payload))
            else:
                coalesced.append((op, alias, ns, tbl, payload))
        ops, labels = [], []
        for op, _alias, ns, tbl, payload in coalesced:
            if op == "insert":
                ops.append((ns, tbl, self._txn_insert_run(payload)))
            elif op == "delete":
                ops.append((ns, tbl, self._txn_delete_run(payload)))
            elif op == "merge":
                ops.append((ns, tbl, self._txn_merge_run(payload)))
            else:
                sets, pred = payload
                ops.append((ns, tbl,
                            self._txn_update_run(sets, pred)))
            labels.append((op, f"{ns}.{tbl}"))
        results = _ir.transaction_apply(endpoint, ops, token=token)
        rows = [
            (op, ident,
             int(res) if op == "insert" else int(res[0]))
            for (op, ident), res in zip(labels, results)
        ]
        return self.spark.createDataFrame(
            rows, "op string, table string, Count bigint"
        )

    def _txn_insert_run(self, df: DataFrame):
        """transaction_apply run for a buffered insert: stage once
        (cached across retries while the table shape holds), author
        the append against whatever base the chain hands us, return
        the exact staged row count (footer record_counts — no extra
        job)."""
        from glaredb_spark.sources.iceberg_native import (
            commit_staged_append_iceberg_native,
            stage_append_iceberg_native,
        )

        cache: dict = {}

        def run(loc, base, commit):
            shape = (int(base.get("current-schema-id", 0) or 0),
                     int(base.get("default-spec-id", 0) or 0))
            if cache.get("shape") != shape:
                cache["staged"] = stage_append_iceberg_native(
                    df, loc, base
                )
                cache["shape"] = shape
            commit_staged_append_iceberg_native(
                loc, base, cache["staged"], commit_fn=commit,
                staged_schema_id=shape[0], staged_spec_id=shape[1],
            )
            return sum(
                int(d.get("record_count", 0) or 0)
                for d in cache["staged"]
            )

        return run

    def _txn_delete_run(self, predicate: str):
        from glaredb_spark.sources.iceberg_native import (
            delete_iceberg_native,
        )

        def run(loc, base, commit):
            return delete_iceberg_native(
                self.spark, loc, predicate,
                base_meta=base, commit_fn=commit,
            )

        return run

    def _txn_update_run(self, sets: dict, predicate: str):
        from glaredb_spark.sources.iceberg_native import (
            update_iceberg_native,
        )

        def run(loc, base, commit):
            return update_iceberg_native(
                self.spark, loc, sets, predicate,
                base_meta=base, commit_fn=commit,
            )

        return run

    def _txn_merge_run(self, args: dict):
        """transaction_apply run for a buffered MERGE (r15): the COW
        merge plans against the chain's base (so it sees the
        transaction's own staged ops) and publishes through the chain
        commit. Returns (updated + inserted,) so COMMIT's result rows
        read Count uniformly."""
        from glaredb_spark.sources.iceberg_native import (
            merge_iceberg_native,
        )

        def run(loc, base, commit):
            updated, inserted, _files = merge_iceberg_native(
                self.spark, loc, args["source"], args["on"],
                when_matched_update=args["when_matched"],
                when_not_matched_insert=args["insert"],
                base_meta=base, commit_fn=commit,
                when_matched_delete=args["delete_cond"],
                when_not_matched_condition=args["insert_cond"],
                when_matched_update_condition=args["update_cond"],
            )
            return (updated + inserted,)

        return run

    def _attach_postgres(self, m: "re.Match") -> DataFrame:
        """ATTACH POSTGRES DATABASE AS name (connection_string '...') —
        option validation mirrors the reference binder
        (slt/postgres/attach.slt error contract)."""
        from pyspark.sql import functions as F

        from glaredb_spark.sources.postgres import attach_postgres

        alias, opts = m.group(1), (m.group(2) or "").strip()
        if not opts:
            raise ValueError("Missing required option 'connection_string'")
        kv: dict[str, str] = {}
        for item in opts.split(","):
            item = item.strip()
            if not item:
                continue
            om = re.match(r"(\w+)\s+(.+)$", item, re.DOTALL)
            if not om:
                raise ValueError(f"Invalid option: {item!r}")
            kv[om.group(1).lower()] = om.group(2).strip()
        extra = [k for k in kv if k != "connection_string"]
        if extra:
            raise ValueError(f"Unexpected extra arguments: '{extra[0]}'")
        if "connection_string" not in kv:
            raise ValueError("Missing required option 'connection_string'")
        val = kv["connection_string"]
        if not (val.startswith("'") and val.endswith("'")):
            raise ValueError(f"Not a string: {val}")
        attach_postgres(alias, val.strip("'"))
        return self.spark.range(1).select(
            F.lit(f"attached postgres database {alias}").alias("status")
        )

    def _run_copy(self, m: "re.Match") -> DataFrame:
        """Execute COPY: write the source relation to the target path in the
        requested (or suffix-inferred) format; returns a 1-row Count frame,
        DuckDB-style."""
        from pyspark.sql import functions as F

        from glaredb_spark.functions.table_sql import rewrite_table_functions

        from pyspark.sql import Observation

        source, path, fmt = m.group(1), m.group(2), m.group(3)
        opts = (m.group(4) or "").upper()
        mode = "overwrite" if "OVERWRITE" in opts else "append"
        if source.startswith("("):
            df = self.spark.sql(
                rewrite_table_functions(self.spark, source[1:-1])
            )
        else:
            df = self.spark.table(source)
        fmt = (fmt or os.path.splitext(path)[1].lstrip(".") or "parquet").lower()
        if fmt not in ("parquet", "csv", "json", "delta", "iceberg"):
            raise ValueError(f"COPY TO: unsupported format {fmt!r}")
        # single pass: the written-row Count rides along the write via
        # observe — the old path re-read the entire written output, a full
        # extra scan at 100 TB
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        if fmt == "delta":
            # native Delta commit (sources/delta_native.py) — appends to
            # an existing table at the path (or replaces it under
            # OVERWRITE), creates it otherwise
            from glaredb_spark.sources.delta_native import write_delta_native

            write_delta_native(df, path, mode=mode)
        elif fmt == "iceberg":
            # native Iceberg v1 snapshot (sources/iceberg_native.py) —
            # append, or an overwrite snapshot under OVERWRITE
            from glaredb_spark.sources.iceberg_native import (
                write_iceberg_native,
            )

            write_iceberg_native(df, path, mode=mode)
        else:
            writer = df.write.mode("overwrite")
            if fmt == "csv":
                writer = writer.option("header", "true")
            getattr(writer, fmt)(path)
        return self.spark.range(1).select(
            F.lit(obs.get["n"]).cast("bigint").alias("Count")
        )

    def _run_merge(self, m: "re.Match", query: str,
                   catalog: "tuple | None" = None,
                   branch: "str | None" = None,
                   parse_only: bool = False):
        """MERGE INTO '<table-dir>' t USING src s ON t.k = s.k [AND ...]
        [WHEN MATCHED THEN UPDATE SET ...] [WHEN NOT MATCHED THEN
        INSERT [*]] — the SQL surface over the native COW upsert
        (sources/delta_native.py:merge_delta_native). The ON condition
        must be an equi-join on same-named columns (the contract the
        key-based merge executes); returns Count = updated + inserted."""
        from pyspark.sql import functions as F

        from glaredb_spark.functions.arith_binder import _split_top_args
        from glaredb_spark.functions.table_sql import rewrite_table_functions

        path, t_alias, src_txt, s_alias, on_txt, whens_txt = m.groups()
        whens = _parse_merge_whens(whens_txt or "")
        set_txt = whens["set_txt"]
        _merge = None
        if catalog is not None:
            kind = "iceberg"  # catalog tables are Iceberg by contract
        else:
            kind = _native_table_kind(path)
            if kind == "delta":
                if branch:
                    raise ValueError(
                        "FOR BRANCH requires an iceberg table (Delta "
                        "has no branch refs)"
                    )
                from glaredb_spark.sources.delta_native import (
                    merge_delta_native as _merge,
                )
            elif kind == "iceberg":
                from glaredb_spark.sources.iceberg_native import (
                    merge_iceberg_native as _merge,
                )
            else:
                raise ValueError(
                    f"MERGE INTO target is not a native Delta or "
                    f"Iceberg table: {path!r}"
                )
        if src_txt.startswith("("):
            source = self.spark.sql(
                rewrite_table_functions(self.spark, src_txt[1:-1])
            )
        else:
            source = self.spark.table(src_txt)

        def _norm_alias(expr: str) -> str:
            # single pass: sequential substitutions would double-rewrite
            # when the user's aliases are literally 't'/'s'
            def repl(m: "re.Match") -> str:
                return (
                    "t." if m.group(1).lower() == t_alias.lower() else "s."
                )

            return re.sub(
                rf"\b({re.escape(t_alias)}|{re.escape(s_alias)})\s*\.",
                repl,
                expr,
                flags=re.IGNORECASE,
            )

        on: list[str] = []
        if on_txt is None:
            # ON omitted (r11): derive the merge keys from the Iceberg
            # table's declared row identity (SET IDENTIFIER FIELDS —
            # identifier-field-ids in the committed schema). Delta has
            # no identifier-field concept, so it always needs ON.
            if kind != "iceberg":
                raise ValueError(
                    "MERGE INTO without an ON clause requires an "
                    "Iceberg target with identifier fields (Delta "
                    "tables must spell the ON condition)"
                )
            from glaredb_spark.sources.iceberg_native import (
                _identifier_columns,
                table_metadata,
            )

            if catalog is not None:
                from glaredb_spark.sources import iceberg_rest as _ir

                endpoint, token, ns, tbl = catalog
                meta = _ir.load_table(
                    endpoint, ns, tbl, token
                ).get("metadata") or {}
            else:
                meta = table_metadata(path)
            on = _identifier_columns(meta)
            if not on:
                raise ValueError(
                    "MERGE INTO without an ON clause: the table has no "
                    "identifier fields; run ALTER TABLE ... SET "
                    "IDENTIFIER FIELDS (col, ...) first, or spell the "
                    "ON condition"
                )
            missing = [c for c in on if c not in source.columns]
            if missing:
                raise ValueError(
                    f"MERGE source lacks identifier field(s) {missing}"
                )
        else:
            for conj in re.split(r"\bAND\b", on_txt, flags=re.IGNORECASE):
                lhs, eq, rhs = conj.partition("=")
                sides = {}
                for side in (lhs, rhs):
                    owner, dot, col = (
                        side.strip().strip("()").partition(".")
                    )
                    sides[owner.strip().lower()] = col.strip().strip("`\"")
                if (
                    not eq
                    or set(sides) != {t_alias.lower(), s_alias.lower()}
                    or len(set(sides.values())) != 1
                ):
                    raise ValueError(
                        "MERGE ON must be a conjunction of "
                        f"{t_alias}.<col> = {s_alias}.<col> terms on the "
                        f"same column; got {conj.strip()!r}"
                    )
                on.append(sides[t_alias.lower()])

        when_matched: dict[str, str] = {}
        if set_txt:
            for item in _split_top_args(set_txt):
                col, eq, expr = item.partition("=")
                if not eq or not col.strip() or not expr.strip():
                    raise ValueError(f"malformed SET clause item: {item!r}")
                col = col.strip().strip("`\"")
                if "." in col:
                    col = col.split(".", 1)[1].strip("`\"")
                when_matched[col] = _norm_alias(expr.strip())
        insert = whens["insert"]
        delete_cond = whens["delete_cond"]
        if delete_cond:
            delete_cond = _norm_alias(delete_cond)
        update_cond = whens["update_cond"]
        if update_cond:
            update_cond = _norm_alias(update_cond)
        insert_cond = whens["insert_cond"]
        if insert_cond:
            # evaluated over the BARE source relation (the writers'
            # contract) — strip the source alias qualifier
            insert_cond = re.sub(
                rf"\b{re.escape(s_alias)}\s*\.", "", insert_cond,
                flags=re.IGNORECASE,
            )
        if parse_only:
            # transaction buffering (r15): hand the fully-parsed merge
            # args back so COMMIT can run them against the chain's base
            return {
                "source": source, "on": on,
                "when_matched": when_matched or {},
                "insert": insert, "delete_cond": delete_cond,
                "insert_cond": insert_cond, "update_cond": update_cond,
            }
        if catalog is not None:
            from glaredb_spark.sources import iceberg_rest as _ir

            endpoint, token, ns, tbl = catalog
            updated, inserted, _files = _ir.merge_table(
                self.spark, endpoint, ns, tbl, source, on,
                when_matched_update=when_matched or {},
                when_not_matched_insert=insert, token=token,
                when_matched_delete=delete_cond,
                when_not_matched_condition=insert_cond,
                when_matched_update_condition=update_cond,
                branch=branch,
            )
        else:
            kw = {"branch": branch} if kind == "iceberg" else {}
            updated, inserted, _files = _merge(
                self.spark, path, source, on,
                when_matched_update=when_matched or {},
                when_not_matched_insert=insert,
                when_matched_delete=delete_cond,
                when_not_matched_condition=insert_cond,
                when_matched_update_condition=update_cond,
                **kw,
            )
        return self.spark.range(1).select(
            F.lit(updated + inserted).cast("bigint").alias("Count")
        )

    def _describe(self, target: str) -> DataFrame:
        """DESCRIBE <table-name | query> → (column_name, datatype) with
        reference type names. Schema-only: the query is analyzed, never
        executed."""
        from glaredb_spark import catalog as _cat
        from glaredb_spark.functions.table_sql import rewrite_table_functions

        target = target.strip().rstrip(";").strip()
        file_m = re.match(r"^'([^']+)'$", target)
        if file_m:  # DESCRIBE '<file>' — infer reader by extension
            from glaredb_spark.sources import files as _files

            p = file_m.group(1)
            ext = p.rsplit(".", 1)[-1].lower()
            if ext == "parquet":
                df = _files.read_parquet(self.spark, p)
            elif ext in ("csv", "tsv"):
                df = _files.read_csv(
                    self.spark, p, **({"sep": "\t"} if ext == "tsv" else {})
                )
            else:
                df = _files.read_text(self.spark, p)
            return _cat.describe(df, raw_names=True)
        elif _IDENT_ONLY_RE.match(target):
            if "." in target and self._catalog_dml_target(
                    target.split(".")[0]):
                # DESCRIBE alias.ns.t over an ATTACHed catalog (r14):
                # resolve through the same dotted-reference rewrite the
                # FROM clause uses — schema-only, loadTable metadata
                df = self.spark.sql(rewrite_table_functions(
                    self.spark, f"SELECT * FROM {target}"
                ))
                return _cat.describe(df, raw_names=True)
            return _cat.describe(self.spark.table(target), raw_names=True)
        else:
            if not re.match(
                r"^(SELECT|WITH|VALUES|TABLE|\()", target, re.IGNORECASE
            ):
                # DESCRIBE <table-function(...)> — wrap as a relation
                target = f"SELECT * FROM {target}"
            final_sql = rewrite_table_functions(self.spark, target)
            try:
                df = self.spark.sql(final_sql)
            except Exception as first_err:  # noqa: BLE001
                # same retry binders as sql() (lateral_binder.py)
                from glaredb_spark.functions.lateral_binder import (
                    chainize,
                    dealias,
                    delateralize_aggregate,
                    lateralize,
                )

                seen = {final_sql}
                df = None
                for cand in (
                    lateralize(final_sql),
                    chainize(final_sql),
                    chainize(lateralize(final_sql)),
                    dealias(final_sql),
                    delateralize_aggregate(final_sql, self.spark),
                ):
                    if cand in seen:
                        continue
                    seen.add(cand)
                    try:
                        df = self.spark.sql(cand)
                        break
                    except Exception:  # noqa: BLE001
                        continue
                if df is None:
                    raise first_err from None
        return _cat.describe(df)

    def _rewrite_inline_describe(self, sql: str) -> str:
        """Replace each parenthesized (DESCRIBE ...) appearing inside a
        larger query with a temp view of its result, innermost-first
        (describe_as_subquery.slt: SELECT * FROM (DESCRIBE t))."""
        import itertools

        if not hasattr(GlareSession, "_desc_counter"):
            GlareSession._desc_counter = itertools.count()
        while True:
            matches = list(_INLINE_DESC_RE.finditer(sql))
            if not matches:
                return sql
            m = matches[-1]  # last match starts latest → innermost
            depth, j, n = 0, m.start(), len(sql)
            while j < n:
                ch = sql[j]
                if ch == "'":
                    j += 1
                    while j < n and sql[j] != "'":
                        j += 1
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            inner = sql[m.start() + 1 : j]
            target = re.sub(r"^\s*DESCRIBE\s+", "", inner, flags=re.IGNORECASE)
            name = f"glaredb_describe_{next(GlareSession._desc_counter)}"
            self._describe(target).createOrReplaceTempView(name)
            sql = f"{sql[: m.start()]} {name} {sql[j + 1 :]}"

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    # -- catalog surface (reference: functions/table/builtin/list_*.rs) ----
    def list_tables(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    def list_functions(self) -> list[str]:
        return [f.name for f in self.spark.catalog.listFunctions()]

    def register_tables(self, sf_dir: str, tables=TPCH_TABLES) -> None:
        """Register the fixture star schema as temp views (the Spark analog
        of GlareDB's memory catalog + file-infer scans)."""
        from glaredb_spark.sources.files import read_parquet

        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                read_parquet(self.spark, path).createOrReplaceTempView(t)
        self._registered_dir = sf_dir

    def read_parquet(self, path: str) -> DataFrame:
        from glaredb_spark.sources.files import read_parquet

        return read_parquet(self.spark, path)

    def close(self) -> None:
        self.spark.stop()


def connect(
    master: str | None = None,
    app_name: str = "glaredb_spark",
    sf_dir: str | None = None,
    **conf,
) -> GlareSession:
    """``glaredb.connect()`` equivalent (reference Python binding:
    crates/glaredb_python/src/lib.rs)."""
    sess = GlareSession(get_spark(master, app_name, conf or None))
    from glaredb_spark.functions.register import register_all
    from glaredb_spark.functions.udtf import register_udtfs

    register_all(sess.spark)
    register_udtfs(sess.spark)
    if sf_dir:
        sess.register_tables(sf_dir)
    return sess

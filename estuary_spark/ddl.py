"""SQL-string DDL ingestion: parse the DDL statements a binlog-derived
feed delivers as text and lower them onto the engine's structured
table-level operations.

The reference parses MySQL DDL with a full ANTLR grammar
(``MysqlParser.g4`` ~797 lines) into typed ``SchemaChange`` ops
(``SchemaChange.java:70-110``, ``mysql/schema/Parser.scala:29-64`` in
/root/reference) and applies them to its schema holder. This engine's
native surface is already structured (truncate/drop events, additive
``evolve_schema`` — SURVEY.md §7.5), but a real Canal/Debezium/Maxwell
feed carries DDL as SQL text in a query event; this module is the shim
from that text to the structured ops, covering the statements a CDC
pipeline must act on:

* ``ALTER TABLE t ADD COLUMN c TYPE [, ADD COLUMN ...]`` → additive
  schema evolution (column masked NULL for events at/below the DDL's LSN
  — pre-DDL binlog rows physically had no such column, so any value a
  connector back-fills there is noise; this also makes replay
  batch-boundary-independent, see multi.py).
* ``TRUNCATE [TABLE] t`` → the structured truncate op (empty fenced
  snapshot).
* ``DROP TABLE [IF EXISTS] t`` → the structured logical drop.
* ``RENAME TABLE a TO b`` / ``ALTER TABLE a RENAME [TO|AS] b`` → the
  destination table directory moves so existing data follows the rename;
  subsequent events arrive under the new source name and route there.
* ``ALTER TABLE t DROP COLUMN c`` → metadata-only drop: storage stays
  additive (never an O(table) rewrite), reads mask the column NULL from
  the drop LSN (``SchemaChange.java:70-110`` RemoveColumnMod applied at
  ``MysqlTableSchemaHolder.scala:35-101``). ``DROP PRIMARY KEY / INDEX``
  are index-level no-ops, not column drops.
* ``ALTER TABLE t CHANGE old new TYPE`` / ``RENAME COLUMN old TO new`` →
  a column RENAME: the manifest field renames and the old name joins the
  column's alias list so pre-rename data files (and replayed pre-rename
  events) keep reading via scan-time coalesce. ``CHANGE c c TYPE`` (same
  name) degrades to ``modify_column``.
* ``CREATE TABLE t (cols..., PRIMARY KEY (...))`` → an explicit create
  carrying the parsed columns AND key columns — the statement's PK
  becomes the destination's merge identity (``Parser.scala:81-141``).
  ``CREATE TABLE t LIKE s`` clones s's schema/keys/layout.
* ``ALTER TABLE t MODIFY COLUMN ...`` → parsed and surfaced as a
  ``modify_column`` op; the engine deliberately does NOT rewrite data on
  type changes — per-batch schema reconciliation handles them under the
  ``on_type_change`` policy (fail/cast, apply.py) when the DATA changes
  type, which is the observable event that matters.
* mixed multi-clause ALTERs lower clause-by-clause in written order (the
  ``actions`` list every ALTER result carries).

Statements are parsed with anchored regexes, not a grammar: the goal is
the operational subset above with MySQL-style quoting (backticks),
qualified names (``db.tb``), and common type spellings — unknown
statements return ``op='unsupported'`` so callers can log-and-skip
rather than crash the pipeline (the reference likewise ignores DDL kinds
its SchemaChange enum lacks)."""

from __future__ import annotations

import re

from pyspark.sql import types as T

# MySQL type name -> Spark type. Parameterized char/text widths all map to
# string (parquet has no fixed-width strings); integer display widths are
# ignored, as the reference's schema holder does.
_TYPE_MAP = {
    "tinyint": T.IntegerType(),
    "smallint": T.IntegerType(),
    "mediumint": T.IntegerType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "real": T.DoubleType(),
    "bit": T.BooleanType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "char": T.StringType(),
    "varchar": T.StringType(),
    "tinytext": T.StringType(),
    "text": T.StringType(),
    "mediumtext": T.StringType(),
    "longtext": T.StringType(),
    "json": T.StringType(),
    "enum": T.StringType(),
    "date": T.DateType(),
    "datetime": T.TimestampType(),
    "timestamp": T.TimestampType(),
    "time": T.StringType(),
    "blob": T.BinaryType(),
    "tinyblob": T.BinaryType(),
    "mediumblob": T.BinaryType(),
    "longblob": T.BinaryType(),
    "binary": T.BinaryType(),
    "varbinary": T.BinaryType(),
}

_IDENT = r"`?([A-Za-z0-9_$.]+)`?"
_TYPE = r"([A-Za-z]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"

_TRUNCATE = re.compile(rf"^\s*TRUNCATE\s+(?:TABLE\s+)?{_IDENT}\s*;?\s*$", re.I)
_DROP = re.compile(
    rf"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?{_IDENT}\s*;?\s*$", re.I
)
_RENAME = re.compile(
    rf"^\s*RENAME\s+TABLE\s+{_IDENT}\s+TO\s+{_IDENT}\s*;?\s*$", re.I
)
_ALTER_RENAME = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_IDENT}\s+RENAME\s+(?:TO\s+|AS\s+)?{_IDENT}\s*;?\s*$", re.I
)
_ALTER = re.compile(rf"^\s*ALTER\s+TABLE\s+{_IDENT}\s+(.*?)\s*;?\s*$", re.I | re.S)
_ADD_COL = re.compile(
    rf"^ADD\s+(?:COLUMN\s+)?(?:IF\s+NOT\s+EXISTS\s+)?{_IDENT}\s+{_TYPE}"
    r"(?:\s+(?:UNSIGNED|ZEROFILL|NOT\s+NULL|NULL|DEFAULT\s+\S+|AUTO_INCREMENT"
    r"|COMMENT\s+'[^']*'|AFTER\s+\S+|FIRST|CHARACTER\s+SET\s+\S+|COLLATE\s+\S+))*\s*$",
    re.I,
)
# DROP COLUMN — but never DROP PRIMARY KEY / INDEX / KEY / FOREIGN KEY /
# CONSTRAINT / PARTITION (index-level drops are no-ops for a data mirror).
# Only the bare ``DROP <ident>`` form can mean those, so an explicit
# ``DROP COLUMN key`` still drops the column named ``key``
_DROP_COL = re.compile(
    rf"^DROP\s+(?:COLUMN\s+(?:IF\s+EXISTS\s+)?|(?:IF\s+EXISTS\s+)?"
    rf"(?!PRIMARY\b|INDEX\b|KEY\b|FOREIGN\b|CONSTRAINT\b|PARTITION\b|CHECK\b)){_IDENT}\s*$",
    re.I,
)
_MODIFY_COL = re.compile(rf"^MODIFY\s+(?:COLUMN\s+)?{_IDENT}\b", re.I)
# CHANGE old new type...: MySQL's column-RENAME form (new name is
# mandatory); old == new degrades to a modify (type-only change)
_CHANGE_COL = re.compile(rf"^CHANGE\s+(?:COLUMN\s+)?{_IDENT}\s+{_IDENT}\b", re.I)
_RENAME_COL = re.compile(rf"^RENAME\s+COLUMN\s+{_IDENT}\s+TO\s+{_IDENT}\s*$", re.I)
_CREATE_LIKE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?{_IDENT}\s+"
    rf"(?:\(\s*LIKE\s+{_IDENT}\s*\)|LIKE\s+{_IDENT})\s*;?\s*$",
    re.I,
)
_CREATE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?{_IDENT}\s*\((.*)\)"
    r"[^()]*;?\s*$",  # trailing table options (ENGINE=.., CHARSET=..)
    re.I | re.S,
)
_PK_CLAUSE = re.compile(r"^PRIMARY\s+KEY\s*\((.*)\)\s*$", re.I | re.S)
_INDEX_CLAUSE = re.compile(
    r"^(?:UNIQUE(?:\s+(?:KEY|INDEX))?|KEY|INDEX|CONSTRAINT|FOREIGN\s+KEY|CHECK|FULLTEXT|SPATIAL)\b",
    re.I,
)
_COL_DEF = re.compile(rf"^{_IDENT}\s+{_TYPE}(\s+.*)?$", re.I | re.S)
_DECIMAL = re.compile(r"^\s*(decimal|numeric)\s*\(\s*(\d+)\s*(?:,\s*(\d+))?\s*\)\s*$", re.I)


def _map_type(raw: str) -> T.DataType:
    m = _DECIMAL.match(raw)
    if m:
        return T.DecimalType(int(m.group(2)), int(m.group(3) or 0))
    base = re.match(r"\s*([A-Za-z]+)", raw)
    name = (base.group(1) if base else raw).lower()
    if name in ("decimal", "numeric"):
        return T.DecimalType(10, 0)
    return _TYPE_MAP.get(name, T.StringType())


def _split_alter_clauses(body: str) -> list[str]:
    """Split an ALTER body on top-level commas (commas inside parens —
    type params — don't split)."""
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [c for c in out if c]


def _parse_create_body(body: str) -> tuple[list[tuple[str, T.DataType]], list[str]]:
    """Column definitions + primary-key columns out of a CREATE TABLE
    body. Index/constraint clauses are skipped (a data mirror has no use
    for them); an inline ``PRIMARY KEY`` column attribute and a
    table-level ``PRIMARY KEY (a, b)`` clause both feed key_cols."""
    cols: list[tuple[str, T.DataType]] = []
    key_cols: list[str] = []
    for clause in _split_alter_clauses(body):
        pk = _PK_CLAUSE.match(clause)
        if pk:
            for part in pk.group(1).split(","):
                name = re.match(rf"\s*{_IDENT}", part)
                if name:
                    key_cols.append(name.group(1))
            continue
        if _INDEX_CLAUSE.match(clause):
            continue
        cd = _COL_DEF.match(clause)
        if cd:
            cols.append((cd.group(1), _map_type(cd.group(2))))
            rest = cd.group(3) or ""
            if re.search(r"\bPRIMARY\s+KEY\b", rest, re.I):
                key_cols.append(cd.group(1))
    return cols, key_cols


def parse_ddl(sql: str) -> dict:
    """Parse one DDL statement into a structured op dict.

    Returns one of::

        {"op": "truncate",          "table": t}
        {"op": "drop_table",        "table": t}
        {"op": "rename_table",      "table": a, "to": b}
        {"op": "create_table",      "table": t,
         "columns": [(name, pyspark DataType), ...], "key_cols": [...]}
        {"op": "create_table_like", "table": t, "like": s}
        {"op": "add_column",        "table": t,
         "columns": [(name, pyspark DataType), ...]}
        {"op": "drop_column",       "table": t, "columns": [name, ...]}
        {"op": "rename_column",     "table": t, "renames": [(old, new), ...]}
        {"op": "modify_column",     "table": t, "column": c}
        {"op": "alter_table",       "table": t, "actions": [...]}  (mixed)
        {"op": "unsupported",       "sql": sql}

    Every ALTER result also carries ``"actions"``: the clause-ordered
    list of ``(kind, payload)`` pairs — ``("add_column", [(n, dt)])``,
    ``("drop_column", [names])``, ``("rename_column", [(old, new)])``,
    ``("modify_column", [names])`` — so lowering can execute a
    multi-clause statement in its written order.

    Never raises on malformed input — a poison DDL statement must not
    kill the pipeline (callers log-and-skip ``unsupported``)."""
    if not sql or not sql.strip():
        return {"op": "unsupported", "sql": sql}
    m = _TRUNCATE.match(sql)
    if m:
        return {"op": "truncate", "table": m.group(1)}
    m = _DROP.match(sql)
    if m:
        return {"op": "drop_table", "table": m.group(1)}
    m = _RENAME.match(sql)
    if m:
        return {"op": "rename_table", "table": m.group(1), "to": m.group(2)}
    m = _ALTER_RENAME.match(sql)
    if m:
        return {"op": "rename_table", "table": m.group(1), "to": m.group(2)}
    m = _CREATE_LIKE.match(sql)
    if m:
        return {"op": "create_table_like", "table": m.group(1), "like": m.group(2) or m.group(3)}
    m = _CREATE.match(sql)
    if m:
        cols, key_cols = _parse_create_body(m.group(2))
        if cols:
            return {"op": "create_table", "table": m.group(1), "columns": cols, "key_cols": key_cols}
        return {"op": "unsupported", "sql": sql}
    m = _ALTER.match(sql)
    if m:
        table, body = m.group(1), m.group(2)
        actions: list[tuple[str, list]] = []
        for clause in _split_alter_clauses(body):
            am = _ADD_COL.match(clause)
            if am:
                actions.append(("add_column", [(am.group(1), _map_type(am.group(2)))]))
                continue
            dm = _DROP_COL.match(clause)
            if dm:
                actions.append(("drop_column", [dm.group(1)]))
                continue
            cm = _CHANGE_COL.match(clause) or _RENAME_COL.match(clause)
            if cm:
                old, new = cm.group(1), cm.group(2)
                actions.append(
                    ("modify_column", [old]) if old == new else ("rename_column", [(old, new)])
                )
                continue
            mm = _MODIFY_COL.match(clause)
            if mm:
                actions.append(("modify_column", [mm.group(1)]))
        if not actions:
            return {"op": "unsupported", "sql": sql}
        kinds = {k for k, _ in actions}
        if kinds == {"add_column"}:
            return {
                "op": "add_column", "table": table,
                "columns": [c for _, p in actions for c in p], "actions": actions,
            }
        if kinds == {"drop_column"}:
            return {
                "op": "drop_column", "table": table,
                "columns": [c for _, p in actions for c in p], "actions": actions,
            }
        if kinds == {"rename_column"}:
            return {
                "op": "rename_column", "table": table,
                "renames": [r for _, p in actions for r in p], "actions": actions,
            }
        if kinds == {"modify_column"}:
            return {
                "op": "modify_column", "table": table,
                "column": actions[0][1][0], "actions": actions,
            }
        return {"op": "alter_table", "table": table, "actions": actions}
    return {"op": "unsupported", "sql": sql}

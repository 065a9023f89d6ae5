"""Independent correctness oracle: last-writer-wins by LSN computed with
DuckDB straight from the generated log files.

It shares no code with the program: not Spark, not the engine's fold,
not ``generator.expected_final_state``. Per key (and per destination
table when the log is routed) the highest-LSN event wins; a winning
delete removes the key. The program's read-back must match the oracle
on the live row count and on an order-independent digest of every
(key, value columns, ``_lsn``) row.
"""

from __future__ import annotations

import duckdb

# event-envelope columns: never part of a table row (SyncConfig's default)
ENVELOPE = ("lsn", "op", "commit_ts", "txn_id", "schema_ver")
DST_COL = "_dst_table"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def build_oracle(
    con: duckdb.DuckDBPyConnection,
    files: list[str],
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    table_col: str | None = None,
    table_filter: str | None = None,
    name: str = "oracle",
) -> str:
    """Materialize the expected final state of ``files`` as table ``name``.
    With ``table_col`` the log is routed: that column names the
    destination table and becomes ``_dst_table`` in the result, and
    ``table_filter`` (a regex, found anywhere in the name) keeps only
    the matching tables."""
    flist = ", ".join(f"'{f}'" for f in files)
    con.execute(f"CREATE OR REPLACE VIEW {name}_ev AS SELECT * FROM read_parquet([{flist}], union_by_name = true)")
    cols = [r[0] for r in con.execute(f"DESCRIBE {name}_ev").fetchall()]
    values = [c for c in cols if c not in ENVELOPE and c != table_col]
    part = ([table_col] if table_col else []) + list(key_cols)
    dst = [f"{table_col} AS {DST_COL}"] if table_col else []
    where = f"WHERE regexp_matches({table_col}, '{table_filter}')" if table_filter else ""
    con.execute(
        f"""
        CREATE OR REPLACE TABLE {name} AS
        SELECT {", ".join(dst + values)}, lsn AS _lsn
        FROM (
            SELECT *, row_number() OVER (PARTITION BY {", ".join(part)} ORDER BY lsn DESC) AS _rn
            FROM {name}_ev {where}
        )
        WHERE _rn = 1 AND op <> 'delete'
        """
    )
    return name


def _canonical(con, rel: str) -> list[str]:
    """One canonical expression per column, so both sides hash alike
    whatever physical type the writer chose (INT96 vs TIMESTAMPTZ,
    INT vs BIGINT)."""
    out = []
    for col, typ, *_ in con.execute(f"DESCRIBE {rel}").fetchall():
        t = typ.upper()
        if t.startswith("TIMESTAMP") or t == "DATE":
            out.append((col, f'epoch_us("{col}")'))
        elif t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
            out.append((col, f'CAST("{col}" AS BIGINT)'))
        elif t == "BOOLEAN":
            out.append((col, f'CAST("{col}" AS BOOLEAN)'))
        else:
            out.append((col, f'CAST("{col}" AS VARCHAR)'))
    return sorted(out)


def digest(con, rel: str, columns: list[str]) -> tuple[int, int]:
    """(row count, order-independent digest) over ``columns`` of ``rel``."""
    exprs = dict(_canonical(con, rel))
    h = ", ".join(exprs[c] for c in columns)
    n, d = con.execute(f"SELECT count(*), coalesce(sum(CAST(hash({h}) AS HUGEINT)), 0) FROM {rel}").fetchone()
    return int(n), int(d)


def compare(con, oracle: str, readback, label: str) -> list[str]:
    """Problems found comparing ``readback`` (an Arrow table of the
    program's read) against oracle table ``oracle``; [] when they agree."""
    con.register("readback", readback)
    try:
        want_cols = sorted(r[0] for r in con.execute(f"DESCRIBE {oracle}").fetchall())
        got_cols = sorted(readback.column_names)
        if want_cols != got_cols:
            return [f"{label}: columns differ: oracle {want_cols} vs read-back {got_cols}"]
        n_want, d_want = digest(con, oracle, want_cols)
        n_got, d_got = digest(con, "readback", want_cols)
        problems = []
        if n_want != n_got:
            problems.append(f"{label}: live rows {n_got}, oracle expects {n_want}")
        if d_want != d_got:
            problems.append(f"{label}: row digest differs from the oracle's")
        return problems
    finally:
        con.unregister("readback")

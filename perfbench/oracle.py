"""Independent correctness oracle, computed by DuckDB from the landing
parquet and compared with the parquet files the engine's current
snapshot lists. No Spark code path is shared with the engine.

Expected state: per ``(conv_id, turn_idx)`` the change with the highest
version at or below the committed watermark, dropped when that change is
a delete. The engine normalizes whitespace on its CDC path (control
characters removed, whitespace runs collapsed, trimmed); a backfill
copies rows as given, so rows whose version is at or below the
backfilled version keep their raw text. The merge key is the SHA-256 of
the unit-separated key columns.

Comparison: row count plus an order-independent row hash (the sum of
per-row hashes) over every column the table stores.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import duckdb

COLUMNS = ("conv_id", "turn_idx", "role", "text", "ts",
           "sys_change_version", "arcane_merge_key")
CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _files(paths: Sequence[str]) -> str:
    quoted = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    return f"read_parquet([{quoted}], union_by_name = true)"


def expected_sql(landing: str, upto_version: int, raw_text_upto: int = 0) -> str:
    """The expected table content as a SQL relation."""
    norm = (
        f"trim(regexp_replace(regexp_replace(text, '{CTRL_RE}', '', 'g'),"
        " '\\s+', ' ', 'g'))"
    )
    return f"""
        SELECT conv_id, turn_idx, role,
               CASE WHEN sys_change_version <= {int(raw_text_upto)}
                    THEN text ELSE {norm} END AS text,
               ts, sys_change_version,
               sha256(conv_id || chr(31) || CAST(turn_idx AS VARCHAR))
                   AS arcane_merge_key
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY sys_change_version DESC) AS rn
            FROM {_files([os.path.join(landing, "*.parquet")])}
            WHERE sys_change_version <= {int(upto_version)}
        )
        WHERE rn = 1 AND sys_change_operation <> 'D'
    """


def table_sql(files: Sequence[str], corrupt: bool = False) -> str:
    """The table's files as a SQL relation. ``corrupt`` alters the text
    of one row, the self-test that the comparison catches a single
    wrong row."""
    if not files:
        return (
            "SELECT NULL::VARCHAR AS conv_id, NULL::INTEGER AS turn_idx, "
            "NULL::VARCHAR AS role, NULL::VARCHAR AS text, "
            "NULL::TIMESTAMP AS ts, NULL::BIGINT AS sys_change_version, "
            "NULL::VARCHAR AS arcane_merge_key WHERE false"
        )
    cols = ", ".join(COLUMNS)
    if not corrupt:
        return f"SELECT {cols} FROM {_files(files)}"
    return f"""
        SELECT conv_id, turn_idx, role,
               CASE WHEN row_number() OVER (ORDER BY conv_id, turn_idx) = 1
                    THEN text || '#' ELSE text END AS text,
               ts, sys_change_version, arcane_merge_key
        FROM {_files(files)}
    """


def digest(con, relation_sql: str) -> tuple[int, int]:
    cols = ", ".join(COLUMNS)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) "
        f"FROM ({relation_sql})"
    ).fetchone()
    return int(n), int(h)


def compare_state(con, expected: str, actual: str) -> dict:
    """Row count and row-hash comparison; on a mismatch also the number
    of rows on each side that the other lacks."""
    n_exp, h_exp = digest(con, expected)
    n_act, h_act = digest(con, actual)
    out = {"expected_rows": n_exp, "actual_rows": n_act,
           "ok": n_exp == n_act and h_exp == h_act}
    if not out["ok"]:
        cols = ", ".join(COLUMNS)
        out["missing"] = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM ({expected}) "
            f"EXCEPT ALL SELECT {cols} FROM ({actual}))").fetchone()[0]
        out["unexpected"] = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM ({actual}) "
            f"EXCEPT ALL SELECT {cols} FROM ({expected}))").fetchone()[0]
    return out


def lookup_answers(con, expected: str, keys: Sequence[tuple[str, int]]) -> dict:
    """``{(conv_id, turn_idx): (text, version) or None}`` for ``keys``."""
    con.execute("CREATE OR REPLACE TEMP TABLE lk (conv_id VARCHAR, turn_idx INTEGER)")
    con.executemany("INSERT INTO lk VALUES (?, ?)", [list(k) for k in keys])
    rows = con.execute(
        f"SELECT e.conv_id, e.turn_idx, e.text, e.sys_change_version "
        f"FROM ({expected}) e JOIN lk USING (conv_id, turn_idx)").fetchall()
    found = {(c, t): (x, v) for c, t, x, v in rows}
    return {tuple(k): found.get(tuple(k)) for k in keys}


def cdf_counts(con, old_files: Sequence[str], new_files: Sequence[str]) -> dict:
    """``{change_type: rows}`` between two snapshots' file sets, with the
    engine's CDF labels: keys on (conv_id, turn_idx), payload compared
    null-safely."""
    rows = con.execute(f"""
        WITH o AS (SELECT *, true AS p FROM ({table_sql(old_files)})),
             n AS (SELECT *, true AS p FROM ({table_sql(new_files)}))
        SELECT CASE WHEN o.p IS NULL THEN 'insert'
                    WHEN n.p IS NULL THEN 'delete'
                    ELSE 'update_postimage' END AS ct, count(*)
        FROM o FULL OUTER JOIN n
          ON o.conv_id = n.conv_id AND o.turn_idx = n.turn_idx
        WHERE o.p IS NULL OR n.p IS NULL
           OR o.role IS DISTINCT FROM n.role
           OR o.text IS DISTINCT FROM n.text
           OR o.ts IS DISTINCT FROM n.ts
        GROUP BY 1
    """).fetchall()
    return {ct: int(c) for ct, c in rows}

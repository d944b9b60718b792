"""DuckDB references the benchmark checks the program's outputs against.

Every check runs outside the timed window. A mirror is compared with a
latest-wins rebuild of its generated snapshot plus the changes that
were applied, as a multiset of rows; a SQL result is compared row by
row after sorting, floats to a relative 1e-9, which absorbs the
summation-order differences between the two engines.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa


def latest_wins(con: duckdb.DuckDBPyConnection, snapshot: str,
                changes: str, keys: list[str], cols: list[str]) -> pa.Table:
    """Rebuild a mirror: ``snapshot`` overridden by the newest change per
    key, ordered by ``(ts_ms, off)``; a newest op of 'd' removes the
    key. ``snapshot`` and ``changes`` are relations visible to ``con``;
    ``cols`` are the data columns, keys included."""
    k = ", ".join(keys)
    c = ", ".join(cols)
    return con.sql(f"""
        WITH ev AS (
            SELECT {c}, 'r' AS op, -1::BIGINT AS ts_ms, -1::BIGINT AS off
            FROM {snapshot}
            UNION ALL
            SELECT {c}, op, ts_ms, off FROM {changes}
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY {k} ORDER BY ts_ms DESC, off DESC) AS rn
            FROM ev
        )
        SELECT {c} FROM ranked WHERE rn = 1 AND op <> 'd'
    """).arrow()


def apply_batch(con: duckdb.DuckDBPyConnection, state: str, batch: pa.Table,
                key_cols: list[str], cols: list[str]) -> dict:
    """Apply one change batch to the DuckDB table ``state`` (latest
    wins per key); return the diff the mirror must report for it, as
    {op: rows}."""
    keys = ", ".join(key_cols)
    data = [c for c in cols if c not in key_cols]
    on = " AND ".join(f"s.{k} = l.{k}" for k in key_cols)
    con.register("batch_t", batch)
    con.sql(f"""
        CREATE OR REPLACE TEMP TABLE latest AS
        SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY {keys}
                                         ORDER BY ts_ms DESC, off DESC) AS rn
            FROM batch_t) WHERE rn = 1
    """)
    changed = " OR ".join(f"s.{c} IS DISTINCT FROM l.{c}" for c in data)
    expect = {}
    for op, sql in {
        "c": f"SELECT count(*) FROM latest l WHERE l.op <> 'd' AND NOT EXISTS "
             f"(SELECT 1 FROM {state} s WHERE {on})",
        "d": f"SELECT count(*) FROM latest l WHERE l.op = 'd' AND EXISTS "
             f"(SELECT 1 FROM {state} s WHERE {on})",
        "u": f"SELECT count(*) FROM latest l JOIN {state} s ON {on} "
             f"WHERE l.op <> 'd' AND ({changed})",
    }.items():
        n = con.sql(sql).fetchone()[0]
        if n:
            expect[op] = n
    con.sql(f"DELETE FROM {state} s USING latest l WHERE {on}")
    con.sql(f"INSERT INTO {state} SELECT {', '.join(cols)} FROM latest "
            f"WHERE op <> 'd'")
    con.unregister("batch_t")
    return expect


def mismatches(con: duckdb.DuckDBPyConnection, got: pa.Table,
               want: pa.Table) -> int:
    """Rows in the symmetric multiset difference of two tables."""
    con.register("got_t", got)
    con.register("want_t", want)
    n = con.sql("""
        SELECT (SELECT count(*) FROM (SELECT * FROM got_t EXCEPT ALL
                                      SELECT * FROM want_t))
             + (SELECT count(*) FROM (SELECT * FROM want_t EXCEPT ALL
                                      SELECT * FROM got_t))
    """).fetchone()[0]
    con.unregister("got_t")
    con.unregister("want_t")
    return n


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, str(type(v)), v if v is not None else 0)
                 for v in row)


def rows_match(got, want) -> bool:
    """Multiset equality of two row lists, floats to a relative 1e-9."""
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    if len(got) != len(want):
        return False
    try:  # exact equality needs no per-value sort key
        if sorted(got) == sorted(want):
            return True
    except TypeError:  # None beside a value in one column
        pass
    got.sort(key=_sort_key)
    want.sort(key=_sort_key)
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                        x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True

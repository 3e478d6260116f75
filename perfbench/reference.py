"""Untimed correctness references, computed with DuckDB.

Pattern references work on the generated events, where ``event_id`` order is
the engine's total order ``(ts, event_id)``. "The first purchase after an
error" is then an ASOF join on ``event_id``, which stays fast on a hot key
where a lateral or ``NOT EXISTS`` join would be quadratic.

``batch_queries`` outputs are compared with each entry's ``oracle_sql()`` the
way the repository's oracle gate (``scripts/verify_oracle.py``) does: same
column names, same row count, same values after its ``canon()``.
"""

from __future__ import annotations

import duckdb

from scripts.verify_oracle import canon

WITHIN_MS = 60_000


def _next_purchase(keyed: bool) -> str:
    on = "e.user_id = p.user_id AND " if keyed else ""
    return (
        "WITH e AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'error'), "
        "p AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'purchase') "
        "SELECT e.user_id, e.event_id AS error_id, e.ts AS ets, "
        "p.event_id AS purchase_id, p.ts AS pts "
        f"FROM e ASOF LEFT JOIN p ON {on}e.event_id < p.event_id"
    )


def followed_by(con: duckdb.DuckDBPyConnection, keyed: bool = True) -> set[tuple]:
    """``every e=error -> p=purchase within 1 min``: each error with the first
    later purchase (of the same user when ``keyed``), if it came within the
    minute. Rows are ``(user_id, error_id, purchase_id)``."""
    rows = con.execute(
        f"SELECT user_id, error_id, purchase_id FROM ({_next_purchase(keyed)}) "
        f"WHERE purchase_id IS NOT NULL AND pts - ets <= {WITHIN_MS}"
    ).fetchall()
    return set(rows)


def absence(con: duckdb.DuckDBPyConnection, watermark_ms: int | None) -> set[tuple]:
    """``every e=error -> not purchase for 1 min`` per user: errors with no
    purchase of the same user within the minute. Rows are
    ``(user_id, error_id)``.

    A batch run (``watermark_ms`` None) confirms every absence at the end of
    the data. A stream confirms one only once event time has passed its
    deadline ``ets + 1 min``: when its watermark reaches the deadline, or
    when a later event of the same user, seen in the same micro-batch, lies
    beyond it. Pass the stream's final watermark; the rule assumes the
    history was drained in one data batch."""
    cut = ""
    if watermark_ms is not None:
        cut = (f" AND (ets + {WITHIN_MS} <= {int(watermark_ms)} OR ets + {WITHIN_MS} < "
               "(SELECT max(ts) FROM ev WHERE ev.user_id = n.user_id))")
    rows = con.execute(
        f"SELECT user_id, error_id FROM ({_next_purchase(True)}) n "
        f"WHERE (purchase_id IS NULL OR pts - ets > {WITHIN_MS}){cut}"
    ).fetchall()
    return set(rows)


def events_connection(events_glob: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{events_glob}')")
    return con


def output_rows(path_glob: str, columns: str) -> list[tuple]:
    """Rows an engine run wrote as parquet (empty when it wrote no file)."""
    con = duckdb.connect()
    try:
        return con.execute(f"SELECT {columns} FROM read_parquet('{path_glob}')").fetchall()
    except duckdb.IOException:
        return []
    finally:
        con.close()


def row_set_diff(got: list[tuple], want: set[tuple]) -> tuple[int, int]:
    """(missing, extra) rows of ``got`` against ``want``; a duplicate row
    counts as extra."""
    return len(want - set(got)), len(set(got) - want) + len(got) - len(set(got))


def compare_to_oracle(con: duckdb.DuckDBPyConnection, oracle: str,
                      columns: list[str], rows: list) -> str | None:
    """None when ``rows`` (engine output with ``columns``) equals the oracle's
    result; otherwise a one-line reason."""
    cur = con.execute(oracle)
    ocols_raw = [d[0] for d in cur.description]
    orows = cur.fetchall()
    cols = sorted(columns)
    if cols != sorted(ocols_raw):
        return f"columns {cols} != oracle {sorted(ocols_raw)}"
    got = canon([tuple(r[columns.index(c)] for c in cols) for r in rows])
    idx = [ocols_raw.index(c) for c in cols]
    want = canon([tuple(r[i] for i in idx) for r in orows])
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    if got != want:
        diff = next((g, w) for g, w in zip(got, want) if g != w)
        return f"values differ, first: {diff}"
    return None

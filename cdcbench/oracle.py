"""Independent correctness checks, computed in DuckDB from the inputs.

CDC: the final generation of every table must equal the latest change
per key (by seq) over every landed change that passes the DQ gate, with
deletes removed; the quarantined row count must equal the number of
landed rows that violate the gate. Registry: each query's rows must
equal its ``oracle_sql()`` entry, compared the way
``tools/verify_driver.py`` compares them.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

SNAPSHOT_COLS = ("id", "grp", "status", "amount", "qty")


def _events_sql(files: list[str]) -> str:
    paths = ", ".join(f"'{p}'" for p in files)
    return f"""SELECT data.table_name AS t,
                      coalesce(data.row.id, data.old_row.id) AS id,
                      seq,
                      coalesce(data.metadata.is_delete, false) AS del,
                      data.row.grp AS grp, data.row.status AS status,
                      data.row.amount AS amount, data.row.qty AS qty
               FROM read_parquet([{paths}])"""


def _passes(gate: tuple[float, float] | None) -> str:
    if gate is None:
        return "true"
    lo, hi = gate
    return f"(del OR coalesce(amount BETWEEN {lo} AND {hi}, false))"


def expected_snapshot(con, files: list[str], gate=None) -> pa.Table:
    """Latest passing change per (table, id), deletes removed."""
    return con.sql(
        f"""WITH ev AS ({_events_sql(files)}),
                 ranked AS (SELECT *, row_number() OVER (
                              PARTITION BY t, id ORDER BY seq DESC) AS rn
                            FROM ev WHERE {_passes(gate)})
            SELECT t, {", ".join(SNAPSHOT_COLS)} FROM ranked
            WHERE rn = 1 AND NOT del"""
    ).arrow()


def violating_rows(con, files: list[str], gate) -> int:
    return con.sql(
        f"SELECT count(*) FROM ({_events_sql(files)}) WHERE NOT {_passes(gate)}"
    ).fetchone()[0]


def snapshot_mismatches(expected: pa.Table, actual: pa.Table) -> int:
    """Rows in one table and not the other (multiset difference both
    ways); 0 means the snapshots are equal. Both tables carry column
    ``t`` (table name) plus ``SNAPSHOT_COLS``."""
    con = duckdb.connect()
    con.register("e", expected)
    con.register("a", actual)
    cols = ", ".join(("t",) + SNAPSHOT_COLS)
    return con.sql(
        f"""SELECT (SELECT count(*) FROM (SELECT {cols} FROM e EXCEPT ALL SELECT {cols} FROM a))
                 + (SELECT count(*) FROM (SELECT {cols} FROM a EXCEPT ALL SELECT {cols} FROM e))"""
    ).fetchone()[0]


def registry_mismatch(con, oracle_sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None when Spark's ``rows`` equal the oracle's, else the reason."""
    from tools.verify_driver import rowset

    cur = con.execute(oracle_sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in dcols):
        return f"schema {sorted(cols)} vs {sorted(dcols)}"
    got, want = rowset(cols, rows), rowset(dcols, drows)
    if len(got) != len(want):
        return f"rowcount {len(got)} vs {len(want)}"
    if got != want:
        return "values differ"
    return None

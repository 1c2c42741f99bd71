"""Reference check: the expected final tables, computed in DuckDB.

The expected ``customers`` table is the snapshot with the applied change
envelopes replayed on top: per key the event with the highest ``lsn``
wins, redelivered duplicates collapse, and a winning delete removes the
key. The feed consumer's expected aggregate is that table grouped by
``first_name`` (row count and lsn sum; empty groups vanish).
"""

from __future__ import annotations

import duckdb

_EVENTS = """
SELECT coalesce(after.id, before.id)::BIGINT AS id,
       source.lsn::BIGINT AS lsn,
       op,
       after.first_name AS first_name,
       after.last_name AS last_name,
       after.email AS email
FROM read_json({files}, format = 'newline_delimited', columns = {{
    before: 'STRUCT(id BIGINT)',
    after: 'STRUCT(id BIGINT, first_name VARCHAR, last_name VARCHAR, email VARCHAR)',
    source: 'STRUCT(lsn BIGINT)',
    op: 'VARCHAR'
}})
"""

COLS = "id, lsn, first_name, last_name, email"


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def expected_table(con, snapshot: str, change_files: list[str]) -> None:
    """Create view ``expected`` (the customers table after the changes)."""
    con.execute(f"CREATE OR REPLACE VIEW snap AS SELECT {COLS} FROM read_parquet('{snapshot}')")
    if change_files:
        events = _EVENTS.format(files=_sql_list(change_files))
    else:
        events = f"SELECT {COLS}, 'c' AS op FROM snap WHERE false"
    con.execute(f"CREATE OR REPLACE TEMP TABLE ev AS {events}")
    con.execute(
        "CREATE OR REPLACE TEMP TABLE last_ev AS SELECT * FROM ev "
        "QUALIFY row_number() OVER (PARTITION BY id ORDER BY lsn DESC) = 1"
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE expected AS
        SELECT {COLS} FROM snap ANTI JOIN last_ev USING (id)
        UNION ALL
        SELECT {COLS} FROM last_ev WHERE op <> 'd'"""
    )


def mismatches(con, expected: str, actual: str, cols: str) -> int:
    """Rows in either relation but not the other (as multisets)."""
    return con.execute(
        f"""SELECT (SELECT count(*) FROM (SELECT {cols} FROM {expected}
                                          EXCEPT ALL SELECT {cols} FROM {actual}))
                 + (SELECT count(*) FROM (SELECT {cols} FROM {actual}
                                          EXCEPT ALL SELECT {cols} FROM {expected}))"""
    ).fetchone()[0]


def check(
    snapshot: str,
    change_files: list[str],
    table_parquet: str,
    agg_parquet: str | None = None,
    compact_copy: str | None = None,
) -> dict:
    """Compare the engine's final table (and aggregate) with the reference.

    ``table_parquet`` / ``agg_parquet`` are parquet globs of what the engine
    committed. ``compact_copy``, when given, receives one compact parquet
    copy of the expected live rows (the denominator of space
    amplification). Returns mismatched row counts and the live row count."""
    con = duckdb.connect()
    con.execute("SET threads = 2")  # a small footprint on a shared host
    expected_table(con, snapshot, change_files)
    con.execute(f"CREATE OR REPLACE VIEW actual AS SELECT {COLS} FROM read_parquet('{table_parquet}')")
    out = {
        "mismatched_rows": mismatches(con, "expected", "actual", COLS),
        "live_rows": con.execute("SELECT count(*) FROM expected").fetchone()[0],
    }
    if agg_parquet is not None:
        con.execute(
            "CREATE OR REPLACE TEMP TABLE expected_agg AS SELECT first_name, "
            "count(*)::BIGINT AS n, sum(lsn)::BIGINT AS sum_lsn FROM expected GROUP BY first_name"
        )
        con.execute(
            "CREATE OR REPLACE VIEW actual_agg AS SELECT first_name, n, sum_lsn "
            f"FROM read_parquet('{agg_parquet}')"
        )
        out["mismatched_agg_rows"] = mismatches(
            con, "expected_agg", "actual_agg", "first_name, n, sum_lsn"
        )
    if compact_copy is not None:
        con.execute(
            f"COPY (SELECT {COLS} FROM expected ORDER BY id) TO '{compact_copy}' "
            "(FORMAT parquet, COMPRESSION snappy)"
        )
    con.close()
    return out

"""Correctness oracles, run outside the timed region.

- ``scd2_expected``: an SCD2 history computed by DuckDB straight from
  the generated envelope files, independent of the engine: each data
  envelope becomes one version, versions of a key chain on
  (timestamp, sequence id), deletes close the previous version and emit
  none, and the generator's injected late events are left out (the
  engine must quarantine them instead).
- ``history_mismatches``: rows in one history and not the other, both
  ways, as multisets.
- ``headline_mismatches``: registry entries checked against their DuckDB
  oracle SQL with the repository's own comparison
  (``scripts/check_oracles.compare_one``).
"""

from __future__ import annotations

import os
import sys

HISTORY_COLS = {
    "ProductID": "INTEGER",
    "ProductName": "VARCHAR",
    "ProductBrand": "VARCHAR",
    "Target_Gender": "VARCHAR",
    "Price": "DOUBLE",
    "Currency": "VARCHAR",
    "Description": "VARCHAR",
    "Launch_date": "DATE",
    "Loaded_at": "DATE",
    "cdc_sequence_id": "BIGINT",
    "change_ts": "TIMESTAMP",
    "valid_from": "TIMESTAMP",
    "valid_until": "TIMESTAMP",
    "is_current": "VARCHAR",
}
_PRODUCT = [c for c in HISTORY_COLS if c[0].isupper()]
_ENVELOPE_COLUMNS = (
    "{type: 'VARCHAR', timestamp: 'BIGINT', database: 'VARCHAR', "
    "table_name: 'VARCHAR', cdc_sequence_id: 'BIGINT', "
    "columns: 'STRUCT(id INTEGER, name VARCHAR, value VARCHAR, last_value VARCHAR)[]'}"
)


def connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET memory_limit='1GB'")
    return con


def _normalized(rel_sql: str) -> str:
    cols = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t in HISTORY_COLS.items())
    return f"SELECT {cols} FROM ({rel_sql})"


def scd2_expected(con, files: list[str], handle_deletes: bool, late_seq: list[int]) -> None:
    """Register the expected history as the view ``expected``."""
    file_list = ", ".join(f"'{f}'" for f in files)
    kinds = "'insert', 'update', 'delete'" if handle_deletes else "'insert', 'update'"
    con.execute("CREATE OR REPLACE TEMP TABLE late_seq (seq BIGINT)")
    if late_seq:
        con.executemany("INSERT INTO late_seq VALUES (?)", [(s,) for s in late_seq])
    fields = ",\n".join(
        f"list_filter(columns, c -> c.name = '{c}')[1].value AS \"{c}\"" for c in _PRODUCT
    )
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW expected AS
        WITH env AS (
            SELECT * FROM read_json([{file_list}], format = 'newline_delimited',
                                    columns = {_ENVELOPE_COLUMNS})
        ), ev AS (
            SELECT type, cdc_sequence_id, make_timestamp(timestamp * 1000) AS change_ts,
                   {fields}
            FROM env
            WHERE type IN ({kinds})
              AND cdc_sequence_id NOT IN (SELECT seq FROM late_seq)
        ), chained AS (
            SELECT *, lead(change_ts) OVER (
                PARTITION BY CAST(ProductID AS INTEGER)
                ORDER BY change_ts, cdc_sequence_id) AS valid_until
            FROM ev
        )
        {_normalized('''
            SELECT *, change_ts AS valid_from,
                   CASE WHEN valid_until IS NULL THEN 'Y' ELSE 'N' END AS is_current
            FROM chained WHERE type <> 'delete' ''')}
    """)


def history_mismatches(con, actual_arrow) -> int:
    """Rows of the view ``expected`` missing from ``actual_arrow`` plus rows
    of ``actual_arrow`` not in ``expected`` (multiset difference)."""
    con.register("actual_raw", actual_arrow)
    actual = _normalized("SELECT * FROM actual_raw")
    (n,) = con.execute(f"""
        SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL {actual}))
             + (SELECT count(*) FROM ({actual} EXCEPT ALL SELECT * FROM expected))
    """).fetchone()
    con.unregister("actual_raw")
    return int(n)


def expected_counts(con, as_of_points: list[str]) -> dict[str, int]:
    """Row counts of the expected history, its current rows and each
    point-in-time view (``valid_from <= t < valid_until``)."""
    out = {
        "all": con.execute("SELECT count(*) FROM expected").fetchone()[0],
        "current": con.execute(
            "SELECT count(*) FROM expected WHERE is_current = 'Y'").fetchone()[0],
    }
    for p in as_of_points:
        out[f"as_of {p}"] = con.execute(
            "SELECT count(*) FROM expected WHERE valid_from <= CAST(? AS TIMESTAMP)"
            " AND (valid_until IS NULL OR valid_until > CAST(? AS TIMESTAMP))",
            [p, p],
        ).fetchone()[0]
    return out


def headline_mismatches(spark, root: str, sf_dir: str, names: list[str], timer,
                        threads: int) -> list[str]:
    """Run every entry once through ``compare_one`` (entries without oracle
    SQL only have to run), ``threads`` entries at a time, each thread on
    its own DuckDB cursor; ``timer(name)`` is a context manager around
    each call. Returns one message per failing entry, in ``names`` order."""
    from concurrent.futures import ThreadPoolExecutor

    sys.path.insert(0, os.path.join(root, "scripts"))
    from check_oracles import compare_one, duckdb_con

    from architrave_project_apache_nifi_spark.queries import REGISTRY

    con = duckdb_con(sf_dir)

    def check(name: str) -> str | None:
        spec = REGISTRY[name]
        cur = con.cursor()
        try:
            with timer(name):
                return compare_one(spark, cur, sf_dir, name, spec.fn, spec.oracle)
        finally:
            cur.close()

    with ThreadPoolExecutor(threads) as pool:
        errors = list(pool.map(check, names))
    con.close()
    return [e for e in errors if e]

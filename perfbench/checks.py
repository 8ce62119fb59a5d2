"""Correctness checks, run outside the timed part.

The analytics results are compared with their DuckDB oracles by the
repository's own local oracle gate, ``tools/verify_local.compare``.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def oracle_connection(tables_dir: str, names: list[str]):
    """A DuckDB connection with one view per parquet table."""
    import duckdb

    con = duckdb.connect()
    for t in names:
        path = os.path.join(tables_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare_table(rows: list[dict], want: dict[int, dict], key: str = "id") -> list[str]:
    """Compare a replica's rows with the replayed ``key -> image`` table."""
    got: dict[int, dict] = {}
    dups = 0
    for r in rows:
        if r[key] in got:
            dups += 1
        got[r[key]] = r
    problems = []
    if dups:
        problems.append(f"{dups} duplicate keys in the replica")
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:3]}")
    differ = [k for k in want.keys() & got.keys() if got[k] != want[k]]
    if differ:
        k = min(differ)
        problems.append(f"{len(differ)} rows differ, e.g. {got[k]} != {want[k]}")
    return problems


def parquet_rows(path: str, columns: list[str] | None = None) -> list[dict]:
    """All rows of a parquet file or directory, read without Spark."""
    if not os.path.exists(path):
        return []
    return pq.read_table(path, columns=columns).to_pylist()

"""Output checks: batch results are compared with the registry's DuckDB
oracle SQL run over the same parquet files, through the canonical value
hash of the repository's oracle-parity harness (``tests/oracle_harness``).
"""

from __future__ import annotations

import os

from tests.oracle_harness import value_hash

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Column names plus the order-insensitive value hash of the rows."""
    return "|".join(sorted(cols)) + ":" + value_hash(cols, rows)


def oracle_digests(
    data_dir: str, names: list[str], oracle: dict[str, str], salt: str = ""
) -> dict[str, str]:
    """Digest of each named query's oracle SQL, run by DuckDB on the same
    parquet files the engine reads. A non-empty ``salt`` makes every
    expected digest wrong (used by the self-test)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        rel = con.sql(oracle[name])
        out[name] = digest(list(rel.columns), [tuple(r) for r in rel.fetchall()]) + salt
    con.close()
    return out

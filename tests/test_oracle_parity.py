"""The correctness gate, run locally at sf0.001 (the driver runs the same
comparison at sf0.01): every declared query must hash-match its DuckDB
oracle — row count, column names, and order-insensitive values.
"""

from __future__ import annotations

import os

import pytest

from ssp_spark.queries import ORACLE, QUERIES
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare, first_diff

ORACLE_QUERIES = sorted(ORACLE)

# Oracles that return no rows on the smoke fixture (sf0.001), where a hash
# match checks nothing; every other oracle must return rows there.
EMPTY_AT_SMOKE = {
    "anti_join_inactive_customers",
    "q7_nation_volume",
    "q20_qty_suppliers",
}


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck, name):
    df = QUERIES[name](spark, SF_SMOKE)
    res = compare(df, duck.sql(ORACLE[name]))
    assert res["hash_match"], f"{name}: {res}\n{first_diff(df, duck.sql(ORACLE[name]))}"
    assert res["duck_rows"] > 0 or name in EMPTY_AT_SMOKE, f"{name}: empty oracle result"


def test_events_ts_nonnull_contract():
    """_capped_user_days (triangle_count_users) folds distinct+count
    into a user-keyed collect_set, which silently DROPS a NULL day that
    the oracle's DISTINCT would keep (ADVICE r12) — the two engines
    agree by a documented non-null ts contract on the events table.
    This pins the fixture side of that contract at every shipped SF:
    ts must stay a non-null TIMESTAMP column."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}/events.parquet"
        if not os.path.exists(path):
            continue
        typ, nulls = duckdb.sql(
            f"SELECT typeof(ts), count(*) FILTER (WHERE ts IS NULL) "
            f"FROM '{path}' GROUP BY 1"
        ).fetchall()[0]
        assert typ == "TIMESTAMP" and nulls == 0, (sf, typ, nulls)


def test_oracle_result_types_are_driver_hashable(duck):
    """No oracle may return a DECIMAL column. The driver's value hash is
    arrow-based: DuckDB's sum(BIGINT) widens to HUGEINT/decimal128, which
    canonicalizes differently from Spark's bigint even when every printed
    value is identical — exactly how psi_drift_orders got its only red
    driver row in round 6 (rows/schema matched, hash didn't). The local
    harness hashes fetchall() output where Decimal('7661') and 7661 both
    render '7661', so only a schema-level guard catches this class.
    Fix pattern: CAST(sum(x) AS BIGINT) / AS DOUBLE in the oracle SQL."""
    offenders = {}
    for name in ORACLE_QUERIES:
        schema = duck.sql(
            f"SELECT * FROM ({ORACLE[name]}) __q LIMIT 0"
        ).fetch_arrow_table().schema
        decs = [
            f"{f.name}:{f.type}"
            for f in schema
            if str(f.type).startswith("decimal")
        ]
        if decs:
            offenders[name] = decs
    assert not offenders, (
        f"oracles returning DECIMAL columns (cast them to BIGINT/DOUBLE "
        f"so the driver's arrow hash matches Spark): {offenders}"
    )

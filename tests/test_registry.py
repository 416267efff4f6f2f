"""Registry shape guards: ``QUERIES`` and ``ORACLE`` hold exactly the
names in ``registry_manifest.txt``, every query carries an oracle, the
README's query count tracks the registry, and the driver contract in
``__spark_entry__.py`` exposes both maps in declaration order.

Per-query correctness (each query hash-equal to its DuckDB oracle) is
checked by ``test_oracle_parity``.
"""

from __future__ import annotations

import os
import re

from ssp_spark.queries import ORACLE, QUERIES
from tests.oracle_harness import compare


def test_registry_is_complete_and_fully_oracled():
    manifest_path = os.path.join(os.path.dirname(__file__), "registry_manifest.txt")
    with open(manifest_path) as f:
        manifest = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]
    assert len(manifest) == len(set(manifest)), "duplicate names in registry_manifest.txt"
    missing = set(manifest) - set(QUERIES)
    extra = set(QUERIES) - set(manifest)
    assert not missing and not extra, (
        f"registry drifted from tests/registry_manifest.txt — update that file "
        f"(missing from QUERIES: {sorted(missing)}; not in manifest: {sorted(extra)})"
    )
    assert set(ORACLE) == set(QUERIES)


def test_readme_declared_count_matches_registry():
    """The README's 'N declared queries' sentence must track the live
    registry."""
    readme = os.path.join(os.path.dirname(__file__), "..", "README.md")
    with open(readme) as f:
        text = f.read()
    m = re.search(r"(\d+) declared queries", text)
    assert m, "README.md lost its 'N declared queries' sentence"
    assert int(m.group(1)) == len(QUERIES), (
        f"README.md says {m.group(1)} declared queries but the registry has "
        f"{len(QUERIES)} — update README.md"
    )


def test_every_query_name_is_unique_and_callable():
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_driver_contract_is_the_registry_in_declaration_order(spark, duck):
    """``queries()`` and ``oracle_sql()`` hand out copies keyed in
    ``QUERIES`` order, and ``entry(spark)`` — the flagship word count on
    the sf0.001 fixture, the suite's default ``SF_SMOKE`` — hash-equals
    its oracle."""
    import __spark_entry__ as driver

    qs, oracles = driver.queries(), driver.oracle_sql()
    assert qs is not QUERIES and oracles is not ORACLE
    assert list(qs) == list(QUERIES) == list(oracles)
    assert qs == QUERIES and oracles == ORACLE
    res = compare(driver.entry(spark), duck.sql(oracles["word_count"]))
    assert res["hash_match"], res

"""Guard the driver contract: every __spark_entry__ query must match its
DuckDB oracle at sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from tests.harness import run_all

SF_DIR = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(df.columns) == {"doc_id", "cluster"}


def test_every_query_has_oracle_or_reason(spark):
    import __spark_entry__ as e

    qs = set(e.queries())
    os_ = set(e.oracle_sql())
    assert os_ <= qs
    # documented rows-only exceptions only (simhash_near_dups gained a
    # full DuckDB oracle in round 3 — mix64 in HUGEINT arithmetic)
    assert qs - os_ == {"directional_clusters"}


@pytest.mark.slow
def test_all_queries_match_oracles(spark):
    results = run_all(spark, SF_DIR)
    bad = {
        k: v
        for k, v in results.items()
        if not (v.startswith("PASS") or v.startswith("ROWS-ONLY"))
    }
    assert not bad, f"oracle mismatches: {bad}"

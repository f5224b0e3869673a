"""Catalog meta-guards: properties of the registry itself that every
query must satisfy, so a typo'd oracle or a renamed headline entry
fails fast in CI instead of at driver time."""

from __future__ import annotations

import duckdb
import pytest

from ctgov_ai_etl_spark.queries import load_all
from ctgov_ai_etl_spark.schemas import TABLE_NAMES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_every_query_has_an_oracle(registry):
    missing = [n for n, s in registry.items() if s.oracle is None]
    assert missing == [], f"rows-only queries reappeared: {missing}"


def test_every_oracle_parses_and_plans_in_duckdb(registry):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    bad = {}
    for name, spec in registry.items():
        try:
            con.execute(f"EXPLAIN {spec.oracle}")
        except Exception as exc:  # noqa: BLE001
            bad[name] = f"{type(exc).__name__}: {exc}"[:200]
    assert bad == {}


def test_bench_headline_names_are_registered(registry):
    import bench

    unknown = [n for n in bench.HEADLINE if n not in registry]
    assert unknown == []


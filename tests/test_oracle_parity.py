"""Differential tests: every registered query vs its DuckDB oracle at
sf0.001 — the same comparison the driver runs at sf0.01 (SURVEY.md §5.1)."""

from __future__ import annotations

import zlib
from datetime import datetime, timezone

import pytest

from retail_etl_pipeline_spark.registry import ORACLES, QUERIES

from .oracle_utils import compare

PARAMS = sorted(ORACLES.keys())

#: the default tier checks one fifth of the registry, rotating daily (UTC):
#: every query is checked at least once in any 5 consecutive days, and a
#: failing name reproduces with ``pytest -m slow -k <name>``
SLICES = 5
TODAY_SLICE = [
    name
    for name in PARAMS
    if zlib.crc32(name.encode()) % SLICES
    == datetime.now(timezone.utc).date().toordinal() % SLICES
]


def _check(spark, duck, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    problems = compare(df, duck, ORACLES[name])
    assert not problems, f"{name}: " + " | ".join(problems)


@pytest.mark.parametrize("name", TODAY_SLICE)
def test_oracle_slice(spark, duck, sf_dir, name):
    try:
        _check(spark, duck, sf_dir, name)
    finally:
        # relations a query persists while building must not leak into
        # the plan-shape tests that share this session
        spark.catalog.clearCache()


# Full-registry sweep (~300 Spark+DuckDB comparisons) — the single
# largest cost in the suite and a duplicate of the check the driver
# itself runs every round; opt-in so the default path fits the verify
# window (r11 VERDICT item 2).
@pytest.mark.slow
@pytest.mark.parametrize("name", PARAMS)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    _check(spark, duck, sf_dir, name)


@pytest.mark.slow
def test_every_query_has_rows(spark, sf_dir):
    """Queries without oracles still must run and be stable."""
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        n = df.count()
        assert n >= 0, name

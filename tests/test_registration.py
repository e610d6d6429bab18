"""The one registration path, ``queries._base._register``, rejects a
name that is already registered and leaves the registry untouched."""

from __future__ import annotations

import pytest


def test_register_rejects_duplicate_name():
    from retail_etl_pipeline_spark.queries._base import _register
    from retail_etl_pipeline_spark.registry import ORACLES, QUERIES

    name = next(iter(QUERIES))
    queries_before = list(QUERIES.items())
    oracles_before = list(ORACLES.items())

    def impostor(spark, sf_dir):
        raise AssertionError("must never be registered")

    with pytest.raises(ValueError, match=name):
        _register(name, "SELECT 1 AS x")(impostor)

    assert list(QUERIES.items()) == queries_before
    assert list(ORACLES.items()) == oracles_before
    assert QUERIES[name] is not impostor

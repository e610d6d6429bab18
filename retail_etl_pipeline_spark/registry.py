"""Query registry: name -> (Spark callable, DuckDB oracle SQL).

This is the driver-facing inventory (SURVEY.md §2): every implemented
operator has a named query here, a Spark implementation (taking
``(spark, sf_dir)``) and — when SQL-expressible — an exactly-equivalent
ANSI SQL string the DuckDB oracle runs on the same parquet tables.

Alignment rules (SURVEY.md §5, FIXTURES.md):
- every computed column aliased identically on both sides;
- money sums/ratios rounded via DECIMAL (see functions.metrics — double
  rounding is not cross-engine-stable at exact ties) on both sides;
- ``NULLIF(denom, 0)`` in SQL to match Spark's null-on-divide-by-zero;
- ``CAST(SUM(int) AS BIGINT)`` in SQL (DuckDB sums ints to HUGEINT);
- week keys cast to INTEGER on both sides;
- deterministic tie-breaks on every window/top-k.
"""

from __future__ import annotations

# The registrations live in queries/part*.py, each one made by
# queries._base._register (the only registration path); this module is
# the public face: importing it populates QUERIES/ORACLES in the
# ORIGINAL order (queries/__init__.py imports parts in sequence; order
# is load-bearing for the correctness rotation in
# __spark_entry__.queries()).
from .queries._base import ORACLES, QUERIES, QueryFn  # noqa: F401
from . import queries  # noqa: F401  (registration side effects)

"""Custom batch connector via the Python DataSource API (Spark 4).

The reference's only "sources" are CSV files staged by external systems
(SURVEY.md §2.1); a real engine also needs an extension point for sources
Spark doesn't ship. This is that extension point, exercised end-to-end: a
deterministic synthetic event generator exposed as
``spark.read.format("synthetic_events")``.

Scale notes:
- ``partitions()`` splits the keyspace into ``numPartitions`` independent
  row ranges — each executor generates its slice; no driver materialization
  and no skew (equal-width ranges).
- The generator is a pure function of the row index (multiplicative
  hashing), so the output is reproducible across runs, partitionings, and
  engines — which is what makes the DuckDB oracle able to replay it with
  ``generate_series`` (see ``SYNTHETIC_ORACLE_CTE``).
- Rows stream out of the reader in batches (the API Arrow-batches them);
  nothing holds the full partition in memory.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: Knuth's multiplicative hash constant — spreads the value sequence.
_MIX = 2654435761
_MOD = 2**32


def _row(i: int) -> tuple[int, int, str, float]:
    """The deterministic generator: row i -> (event_id, user_id, kind, value).

    Pure integer math (no floats until the final exact /100 scaling) so any
    engine that replays it gets bit-identical values.
    """
    h = (i * _MIX) % _MOD
    return (i, i % 50, "even" if i % 2 == 0 else "odd", (h % 10_000) / 100.0)


#: DuckDB replay of :func:`_row` over ``generate_series`` — keep in sync.
SYNTHETIC_ORACLE_CTE = """
synthetic AS (
  SELECT i AS event_id,
         i % 50 AS user_id,
         CASE WHEN i % 2 = 0 THEN 'even' ELSE 'odd' END AS kind,
         CAST(((CAST(i AS HUGEINT) * 2654435761) % 4294967296) % 10000
              AS DOUBLE) / 100.0
           AS value
  FROM generate_series(0, {last}) t(i)
)"""


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_rows = int(options.get("numRows", 1000))
        self.n_parts = int(options.get("numPartitions", 4))

    def partitions(self) -> Sequence[InputPartition]:
        step = max(1, -(-self.n_rows // self.n_parts))
        return [
            _RangePartition(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield _row(i)


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events").option("numRows", n)``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return "event_id bigint, user_id bigint, kind string, value double"

    def reader(self, schema) -> SyntheticEventsReader:
        return SyntheticEventsReader(self.options)


def register_synthetic_source(spark) -> None:
    """Idempotent registration of the connector on a session."""
    spark.dataSource.register(SyntheticEventsDataSource)


# ---------------------------------------------------------------------------
# deterministic synthetic partsupp (the missing TPC-H fixture table)
# ---------------------------------------------------------------------------

#: second multiplicative constant (32-bit golden ratio, public) so availqty
#: and supplycost draw from independent hash streams of the same key.
_MIX2 = 2654435769

#: TPC-H spec suppliers-per-part (dbgen's SUPP_PER_PART).
PARTSUPP_PER_PART = 4


def partsupp_synthetic(part, supplier):
    """Deterministic partsupp derived from the part x supplier fixtures.

    The driver fixtures have no partsupp table, which excluded TPC-H
    Q11/Q16/Q20 (DEVNOTES "remaining gaps"). Rather than proxying those
    queries onto other tables (which changes their nature), synthesize
    the table with the PUBLIC TPC-H dbgen supplier-assignment formula
    (TPC-H spec 4.2.3: ps_suppkey = (ps_partkey + i*(S/4 +
    (ps_partkey-1)/S)) % S + 1 for i in 0..3, S = |supplier|) and the
    repo's seeded multiplicative-hash discipline for the value columns
    (same constants/shape as the synthetic event source above and
    corpus_split):

      k                   = ps_partkey * 4 + i + 1     (unique per row)
      ps_availqty         = (k * 2654435761) % 2^32 % 9999 + 1
      ps_supplycost_cents = (k * 2654435769) % 2^32 % 99901 + 100

    Money is kept in integer CENTS (ps_supplycost_cents, $1.00-$1000.00)
    per the repo-wide exact-money discipline — no decimal column, so no
    cross-engine decimal-scale drift. All arithmetic runs in
    DECIMAL(38,0) on Spark and HUGEINT in the oracle CTE
    (PARTSUPP_CTE_SQL renders the SAME expressions), so the relation is
    a pure projection of part x {0..3}: identical on any engine,
    partitioning, or scale factor.

    Scale: |part| x 4 rows from a scan of part plus a 1-row broadcast
    supplier count — embarrassingly parallel, no shuffle.
    """
    from pyspark.sql import functions as F

    s_cnt = supplier.agg(F.count(F.lit(1)).cast("bigint").alias("s_cnt"))
    base = part.select(F.col("p_partkey").cast("bigint").alias("ps_partkey")).select(
        "ps_partkey",
        F.explode(
            F.array(*[F.lit(i) for i in range(PARTSUPP_PER_PART)])
        ).alias("i"),
    )
    k = (
        F.col("ps_partkey").cast("decimal(38,0)") * PARTSUPP_PER_PART
        + F.col("i")
        + 1
    )
    return base.join(F.broadcast(s_cnt)).select(
        "ps_partkey",
        (
            (
                F.col("ps_partkey")
                + F.col("i")
                * (
                    F.expr("s_cnt div 4")
                    + F.expr("(ps_partkey - 1) div s_cnt")
                )
            )
            % F.col("s_cnt")
            + 1
        )
        .cast("bigint")
        .alias("ps_suppkey"),
        ((k * _MIX) % _MOD % 9999 + 1).cast("bigint").alias("ps_availqty"),
        ((k * _MIX2) % _MOD % 99901 + 100)
        .cast("bigint")
        .alias("ps_supplycost_cents"),
    )


#: the one SQL rendering of :func:`partsupp_synthetic` — every oracle that
#: reads partsupp must reuse THIS fragment (the corpus_split SPLIT_CASE_SQL
#: rule). Same expressions, HUGEINT arithmetic.
PARTSUPP_CTE_SQL = f"""partsupp AS (
  SELECT CAST(p_partkey AS BIGINT) AS ps_partkey,
         CAST((p_partkey + i.i * ((s.s_cnt // 4)
                                  + ((p_partkey - 1) // s.s_cnt)))
              % s.s_cnt + 1 AS BIGINT) AS ps_suppkey,
         CAST((((CAST(p_partkey AS HUGEINT) * {PARTSUPP_PER_PART} + i.i + 1)
                * {_MIX}) % {_MOD}) % 9999 + 1 AS BIGINT) AS ps_availqty,
         CAST((((CAST(p_partkey AS HUGEINT) * {PARTSUPP_PER_PART} + i.i + 1)
                * {_MIX2}) % {_MOD}) % 99901 + 100 AS BIGINT)
           AS ps_supplycost_cents
  FROM part,
       (VALUES (0), (1), (2), (3)) AS i(i),
       (SELECT CAST(COUNT(*) AS BIGINT) AS s_cnt FROM supplier) AS s
)"""

"""Event-time window operators over the event stream (SURVEY.md §2.10).

Tumbling, sliding and session windows (``F.window`` /
``F.session_window``). They generalize the reference's "daily snapshot ->
end-of-period state" pattern (W1) from calendar weeks to arbitrary
event-time windows.

Oracle equivalents use DuckDB ``time_bucket`` (tumbling/sliding) and a
gaps-and-islands rewrite (session windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.metrics import MONEY_SUM_SQL, money_sum

#: session gap
SESSION_GAP = "4 hours"
SESSION_GAP_SQL = "INTERVAL '4 hours'"


def tumbling(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows: one aggregation, windows aligned to the
    epoch (same alignment as DuckDB ``time_bucket``)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*) AS n_events,
       {MONEY_SUM_SQL.format(x='value')} AS total_value
FROM events_norm
GROUP BY 1, 2, 3
"""


def sliding(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding windows (width 1h, slide 30m): every event lands in
    width/slide = 2 windows; Spark expands this internally, the oracle
    expands it with an explicit 2-element unnest."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


SLIDING_SQL = f"""
WITH expanded AS (
  SELECT ws AS window_start, value
  FROM events_norm,
       unnest([
         time_bucket(INTERVAL '30 minutes', ts),
         time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
       ]) AS u(ws)
)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       COUNT(*) AS n_events,
       {MONEY_SUM_SQL.format(x='value')} AS total_value
FROM expanded
GROUP BY 1, 2
"""


def sessionized(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Session windows per user: merge events closer than ``gap``; session
    end = last event + gap (Spark ``session_window`` semantics, matched by
    the oracle's gaps-and-islands rewrite)."""
    return (
        events.groupBy(
            "user_id", F.session_window("ts", gap).alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


#: gaps-and-islands session assignment (user_id, ts, value, sid) —
#: shared by SESSION_SQL and the concurrency sweep oracle
SESSION_CTES = f"""seq AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events_norm
),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts >= {SESSION_GAP_SQL}
              THEN 1 ELSE 0 END AS new_s
  FROM seq
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS sid
  FROM flagged
)"""

SESSION_SQL = f"""
WITH {SESSION_CTES}
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + {SESSION_GAP_SQL} AS session_end,
       COUNT(*) AS n_events,
       {MONEY_SUM_SQL.format(x='value')} AS total_value
FROM sess
GROUP BY user_id, sid
"""

"""Event-time window queries (SURVEY.md §2.9 ST4): tumbling, sliding,
and session windows over the ``events`` table — the batch face of the
operators in operators/windows.py (the streaming face, with watermarks,
is driven by tests/test_streaming_windows.py).

Oracle notes: Spark aligns window starts to the epoch in the session
timezone (UTC here, session.py); DuckDB reproduces tumbling starts with
integer floor-division on epoch micros, sliding windows as a 2-offset
union (window/slide = 2), and session windows with the classic
gaps-and-islands construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from arcane_stream_parquet_spark.plans.registry import register_query
from arcane_stream_parquet_spark.sources.tables import load_table

_HOUR_US = 3_600_000_000
_GAP_US = 1_800_000_000  # 30 min


def _events_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("ts_ts", F.timestamp_micros(F.expr("ts DIV 1000")))


@register_query(
    "window_event_time",
    oracle=f"""
        WITH ordered AS (
            SELECT user_id, epoch_us(ts) AS us,
                   lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_us
            FROM events
        ),
        flagged AS (
            SELECT user_id, us,
                   CASE WHEN prev_us IS NULL OR us - prev_us >= {_GAP_US}
                        THEN 1 ELSE 0 END AS new_session
            FROM ordered
        ),
        numbered AS (
            SELECT user_id, us,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY us
                       ROWS UNBOUNDED PRECEDING) AS session_no
            FROM flagged
        )
        SELECT 'tumbling' AS kind,
               (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} AS window_start_us,
               event_type AS grp,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
                   AS sum_value
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'sliding',
               ((epoch_us(ts) // {_HOUR_US}) - k.k) * {_HOUR_US},
               'ALL',
               CAST(count(*) AS BIGINT),
               CAST(NULL AS DOUBLE)
        FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
        GROUP BY 2
        UNION ALL
        SELECT 'session', min(us), CAST(user_id AS VARCHAR),
               CAST(count(*) AS BIGINT), CAST(NULL AS DOUBLE)
        FROM numbered GROUP BY user_id, session_no
    """,
    doc="Event-time windows, all three families in one tagged union "
    "(consolidated from the former window_tumbling / window_sliding / "
    "window_session entries — same operators in operators/windows.py, "
    "one registry row). kind='tumbling': 1 h windows per event_type "
    "(grp) with count + DECIMAL-exact value sum — one hash shuffle on "
    "(window, type) with map-side partial agg. kind='sliding': 2 h "
    "windows sliding 1 h (each event in 2 windows; the oracle is the "
    "2-offset union). kind='session': 30 min-gap sessions per user "
    "(grp; Spark session_window merges in the aggregation; the oracle "
    "is gaps-and-islands). The same expressions serve streaming with "
    "withWatermark (ST4, tests/test_streaming_windows.py).",
    tags=("streaming", "window", "event-time", "session"),
)
def q_window_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_with_ts(spark, sf_dir)
    tumbling = tumbling_counts(
        ev, "ts_ts", "1 hour", group_cols=("event_type",), value_col="value"
    ).select(
        F.lit("tumbling").alias("kind"),
        "window_start_us",
        F.col("event_type").alias("grp"),
        "n_events",
        "sum_value",
    )
    sliding = sliding_counts(ev, "ts_ts", "2 hours", "1 hour").select(
        F.lit("sliding").alias("kind"),
        "window_start_us",
        F.lit("ALL").alias("grp"),
        "n_events",
        F.lit(None).cast("double").alias("sum_value"),
    )
    session = session_counts(ev, "ts_ts", "30 minutes", key_cols=("user_id",)).select(
        F.lit("session").alias("kind"),
        F.col("session_start_us").alias("window_start_us"),
        F.col("user_id").cast("string").alias("grp"),
        "n_events",
        F.lit(None).cast("double").alias("sum_value"),
    )
    return tumbling.unionByName(sliding).unionByName(session)

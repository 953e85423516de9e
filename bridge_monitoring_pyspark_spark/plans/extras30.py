"""Round-8 extension wave 5: completing the stream-stream join matrix.

The catalog already witnesses the INNER interval join (extras4) and the
LEFT OUTER windowed join (streaming_q2). This wave adds the remaining
shapes Spark's streaming state machine supports:

* ``streaming_semi_join`` — LEFT SEMI with an event-time interval
  condition: the existence probe ("keep clicks whose user purchases
  within the next 10 minutes") that at 100 TB replaces materializing the
  inner join only to dedup it afterwards. A left row emits once on its
  first match; right rows are never emitted and right state evicts at
  the watermark.
* ``streaming_full_outer_join`` — FULL OUTER windowed join: both sides
  null-pad their unmatched windows when the watermark closes them. The
  completeness audit between two rollups (which hours had clicks but no
  qualifying errors, and vice versa) in one stateful pass.

Both drain via availableNow to a parquet sink and re-read (the repo's
streaming-witness contract), so the oracle is the closed-form batch
equivalent with the watermark emission filter where one applies.

No counterpart in the 550-LoC reference (one inner windowed join only,
pipelines/gold_aggregation.py:82-99).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.plan import scratch_dir
from ..streaming.jobs import (
    GOLD_STATE_PARTITIONS,
    click_error_join,
    drain,
    read_events_stream,
)
from .catalog import Query
from .extras4 import click_purchase_sides


def _streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks kept iff the same user purchases within the following 10
    minutes (LEFT SEMI, interval condition, both sides watermarked).
    Semi-join emission: each matched left row emits exactly once no
    matter how many purchases match — so the drained sink equals the
    batch EXISTS (the oracle) with no multiplicity to reconcile. Reported
    per user to keep the compare order-stable."""
    clicks, purchases, within = click_purchase_sides(read_events_stream(spark, sf_dir))
    kept = clicks.join(purchases, within, "left_semi")
    out = drain(kept, scratch_dir("eng_semij_"), "semi_join")
    return (
        out.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_kept_clicks"),
            F.min("click_id").alias("first_click"),
        )
        .orderBy("user_id")
    )


_SEMI_SQL = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts FROM events
  WHERE event_type = 'click'
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_kept_clicks,
       min(click_id) AS first_click
FROM c
WHERE EXISTS (
  SELECT 1 FROM events p
  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
)
GROUP BY user_id
ORDER BY user_id
"""


def _streaming_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER windowed stream-stream join of the hourly click average
    and the hourly max of qualifying errors (value > 90, sparse on
    purpose so both unmatched directions occur). Emission rule, same
    closed form as the left-outer witness but applied symmetrically: a
    window emits iff window_end <= min(per-branch max ts) - watermark;
    sides with no state for that window carry NULL."""
    flat = click_error_join(read_events_stream(spark, sf_dir), "full_outer")
    return drain(
        flat, scratch_dir("eng_fullj_"), "full_outer", partitions=GOLD_STATE_PARTITIONS
    ).orderBy("window_start")


_FULL_OUTER_SQL = """
WITH wm AS (
  SELECT least(
    (SELECT max(ts) FROM events WHERE event_type = 'click'),
    (SELECT max(ts) FROM events WHERE event_type = 'error' AND value > 90)
  ) - INTERVAL 2 MINUTE AS w
),
c AS (
  SELECT date_trunc('hour', ts) AS ws,
         sum(round(value * 100, 0)) / (100 * count(value)) AS avg_click_value
  FROM events WHERE event_type = 'click' GROUP BY 1
),
e AS (
  SELECT date_trunc('hour', ts) AS ws, max(value) AS max_error_value
  FROM events WHERE event_type = 'error' AND value > 90 GROUP BY 1
)
SELECT COALESCE(c.ws, e.ws) AS window_start,
       COALESCE(c.ws, e.ws) + INTERVAL 1 HOUR AS window_end,
       c.avg_click_value, e.max_error_value
FROM c FULL OUTER JOIN e ON c.ws = e.ws
CROSS JOIN wm
WHERE COALESCE(c.ws, e.ws) + INTERVAL 1 HOUR <= wm.w
ORDER BY window_start
"""


QUERIES = [
    Query("streaming_semi_join", _streaming_semi_join, _SEMI_SQL,
          ("streaming", "join", "semi", "T7")),
    Query("streaming_full_outer_join", _streaming_full_outer, _FULL_OUTER_SQL,
          ("streaming", "join", "outer", "T7")),
]

"""Static schema registry.

The reference declares every streaming schema inline in each pipeline file
(reference: pipelines/bronze_ingest.py:18-24, pipelines/silver_enrichment.py:22-27,
37-46) and — problematically — *infers* the gold input schema by batch-reading
silver at startup (pipelines/gold_aggregation.py:27-28), creating a process
ordering dependency. The new engine fixes that with a central registry: every
layer's schema is declared once, here, and streaming readers never sample data
to learn their own input shape.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw sensor event as emitted by a generator / landing zone
# (reference: data_generator/data_generator.py:46-52).
RAW_EVENT = T.StructType(
    [
        T.StructField("event_time", T.StringType()),
        T.StructField("bridge_id", T.IntegerType()),
        T.StructField("sensor_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ingest_time", T.StringType()),
    ]
)

# Bronze = raw + derived event-time/ingest-time timestamps + partition date
# (reference: pipelines/bronze_ingest.py:44-49).
BRONZE = T.StructType(
    list(RAW_EVENT.fields)
    + [
        T.StructField("event_time_ts", T.TimestampType()),
        T.StructField("ingest_time_ts", T.TimestampType()),
        T.StructField("partition_date", T.DateType()),
    ]
)

# Static bridge dimension (reference: pipelines/silver_enrichment.py:22-27).
BRIDGES = T.StructType(
    [
        T.StructField("bridge_id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("installation_date", T.StringType()),
    ]
)

# Silver = bronze (minus raw strings per reference silver schema,
# pipelines/silver_enrichment.py:37-46) + dimension attributes.
SILVER = T.StructType(
    list(BRONZE.fields)
    + [
        T.StructField("name", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("installation_date", T.StringType()),
    ]
)

# Gold metric row (reference: pipelines/gold_aggregation.py:102-109;
# schema confirmed in demo.ipynb cell 6b5d81c4).
GOLD = T.StructType(
    [
        T.StructField("bridge_id", T.IntegerType()),
        T.StructField("window_start", T.TimestampType()),
        T.StructField("window_end", T.TimestampType()),
        T.StructField("avg_temperature", T.DoubleType()),
        T.StructField("max_vibration", T.DoubleType()),
        T.StructField("max_tilt_angle", T.DoubleType()),
    ]
)

"""Batch + streaming source readers.

Reference parity (SURVEY.md §2.1):
  S1 streaming JSON source   -> streaming/jobs.run_json_ingest
  S2 partition discovery     -> Spark's file source (run_json_ingest)
  S3 streaming parquet source-> read_parquet_stream
  S4 static CSV dimension    -> read_csv_dim
  S5 static parquet          -> load_table

Scale notes (100 TB): all readers take explicit schemas — schema inference
over an unbounded landing zone is both non-deterministic and a full-scan cost.
Partition discovery (reference data layout ``date=YYYY-MM-DD``, SURVEY.md §1.2)
is left to Spark's file source; writers in sinks.py make the partition column
deliberate via ``partitionBy``.
"""

from __future__ import annotations

import fnmatch
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pyspark.sql import functions as F

# Timestamp columns in the driver testdata. Current layout: parquet
# timestamp[us] with isAdjustedToUTC=false, which Spark reads natively as
# TIMESTAMP_NTZ — kept NTZ downstream because it matches the oracle engine's
# naive TIMESTAMP semantics exactly, independent of session timezone.
# Older layouts stored TIMESTAMP(NANOS), readable only as long under
# spark.sql.legacy.parquet.nanosAsLong; the bigint branch below converts
# that shape for compatibility.
TIMESTAMP_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch-read one driver testdata table (TESTDATA.md)."""
    # Runtime-settable; harmless for micros data, required for the legacy
    # TIMESTAMP(NANOS) layout (which fails with PARQUET_TYPE_ILLEGAL
    # otherwise). External harnesses build vanilla sessions, so this cannot
    # live only in session.py.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in TIMESTAMP_COLS.get(name, ()):
        if c not in df.columns:
            continue
        if dict(df.dtypes)[c] == "bigint":
            # Legacy nanos-as-long → NTZ via timestampadd against the naive
            # epoch (timezone-free), matching the native NTZ read exactly.
            df = df.withColumn(
                c,
                F.expr(
                    f"timestampadd(MICROSECOND, {c} div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        got = dict(df.dtypes)[c]
        # Fail loudly on a silently-wrong layout: every downstream epoch
        # helper and oracle assumes a timestamp type here, and a bigint
        # slipping through surfaces only as far-away analysis errors.
        if got not in ("timestamp", "timestamp_ntz"):
            raise TypeError(
                f"{name}.{c}: expected a timestamp type after load, got {got} "
                f"— testdata layout at {sf_dir} changed; update TIMESTAMP_COLS"
                " handling in sources/readers.py"
            )
    return df


def read_csv_dim(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Static dimension table: header CSV with explicit schema
    (reference: pipelines/silver_enrichment.py:29-34)."""
    return spark.read.option("header", "true").schema(schema).csv(path)


class SourceLayoutError(ValueError):
    """A stream source dir holds a directory named like its table's files."""


def read_parquet_stream(
    spark: SparkSession, src_dir: str, table: str, schema: T.StructType | str
) -> DataFrame:
    """The ``<table>*.parquet`` files of a growing directory as a stream
    (reference: pipelines/silver_enrichment.py:48-67): the directory plus a
    file-name filter, never a glob path, and at most
    ``parallelPartitionDiscovery.threshold`` files per micro-batch, because
    Spark lists more paths than that with a job, on every micro-batch
    (SCALING.md "Scans, sources, pruning"). The filter skips the contents
    of directories, so one named like the files raises instead of
    streaming no rows."""
    pattern = f"{table}*.parquet"
    nested = [e.name for e in os.scandir(src_dir) if e.is_dir() and fnmatch.fnmatch(e.name, pattern)]
    if nested:
        raise SourceLayoutError(f"{src_dir}: {nested} match {pattern!r} but are directories")
    threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", pattern)
        .option("maxFilesPerTrigger", threshold)
        .load(src_dir)
    )

"""Batch + streaming source readers.

Reference parity (SURVEY.md §2.1):
  S1 streaming JSON source   -> streaming/jobs.run_json_ingest
  S2 partition discovery     -> Spark's file source (run_json_ingest)
  S3 streaming parquet source-> read_parquet_stream
  S4 static CSV dimension    -> read_csv_dim
  S5 static parquet          -> load_table

Scale notes (100 TB): every reader takes a declared schema (schemas.TABLES
for the testdata tables). Inference would run a Spark job per read, and
over an unbounded landing zone it is a full footer scan whose answer
depends on which files happen to be there. A declared read returns a
missing column as all-null instead of failing, so ``load_table`` first
checks the parquet footers on the driver (pyarrow reads only the footer;
no Spark job), once per file version, and raises :class:`TableSchemaError`
on a missing, extra, renamed or retyped column.
Partition discovery (reference data layout ``date=YYYY-MM-DD``, SURVEY.md §1.2)
is left to Spark's file source; writers in sinks.py make the partition column
deliberate via ``partitionBy``.
"""

from __future__ import annotations

import fnmatch
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..schemas import TABLES


class TableSchemaError(ValueError):
    """A testdata table's parquet footer differs from its declaration."""


# (file, mtime_ns, size) of every file whose footer matched its declaration.
_CHECKED: set[tuple[str, int, int]] = set()


def _check_footers(path: str, name: str) -> None:
    """Compare the footer of each parquet file at ``path`` (one file, or a
    Spark-written directory of part files) with ``TABLES[name]``."""
    files = [path] if not os.path.isdir(path) else sorted(
        e.path for e in os.scandir(path)
        if e.name.endswith(".parquet") and not e.name.startswith(("_", "."))
    )
    for f in files:
        st = os.stat(f)
        key = (f, st.st_mtime_ns, st.st_size)
        if key in _CHECKED:
            continue
        want = {c.name: to_arrow_type(c.dataType) for c in TABLES[name]}
        found = {c.name: c.type for c in pq.read_schema(f)}
        problems = [f"missing {c}" for c in want if c not in found]
        problems += [f"extra {c}" for c in found if c not in want]
        problems += [
            f"{c} is {found[c]}, declared {want[c]}"
            for c in want if c in found and not found[c].equals(want[c])
        ]
        if problems:
            raise TableSchemaError(f"{f}: {'; '.join(problems)} (schemas.TABLES[{name!r}])")
        _CHECKED.add(key)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch-read one driver testdata table (TESTDATA.md) with its declared
    schema, after the footer check."""
    path = f"{sf_dir}/{name}.parquet"
    _check_footers(path, name)
    return spark.read.schema(TABLES[name]).parquet(path)


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

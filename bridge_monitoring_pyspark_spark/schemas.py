"""Declared schemas of the ten driver testdata tables (TESTDATA.md).

Every batch and stream read of a testdata table uses these: no reader
samples data to learn its input shape (the reference declares its streaming
schemas inline in each pipeline, pipelines/bronze_ingest.py:18-24, and
infers gold's input by batch-reading silver at startup,
pipelines/gold_aggregation.py:27-28). Each declaration is exactly what Spark
infers from the parquet files: every field nullable, ``timestamp[us]``
without a UTC adjustment as ``TIMESTAMP_NTZ`` (the oracle engine's naive
TIMESTAMP), ``list<float>`` as ``array<float>``.
``sources.readers.load_table`` checks each file's footer against its
declaration before the read.
"""

from __future__ import annotations

from pyspark.sql import types as T

_INT, _LONG, _DOUBLE, _STR = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()
_TS = T.TimestampNTZType()


def _table(**fields: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields.items()])


TABLES: dict[str, T.StructType] = {
    "region": _table(r_regionkey=_INT, r_name=_STR),
    "nation": _table(n_nationkey=_INT, n_name=_STR, n_regionkey=_INT),
    "customer": _table(c_custkey=_LONG, c_name=_STR, c_nationkey=_INT, c_acctbal=_DOUBLE,
                       c_mktsegment=_STR),
    "supplier": _table(s_suppkey=_LONG, s_name=_STR, s_nationkey=_INT, s_acctbal=_DOUBLE),
    "part": _table(p_partkey=_LONG, p_name=_STR, p_brand=_STR, p_type=_STR, p_size=_INT,
                   p_retailprice=_DOUBLE),
    "orders": _table(o_orderkey=_LONG, o_custkey=_LONG, o_orderstatus=_STR, o_totalprice=_DOUBLE,
                     o_orderdate=_TS, o_orderpriority=_STR),
    "lineitem": _table(l_orderkey=_LONG, l_partkey=_LONG, l_suppkey=_LONG, l_linenumber=_INT,
                       l_quantity=_DOUBLE, l_extendedprice=_DOUBLE, l_discount=_DOUBLE,
                       l_tax=_DOUBLE, l_returnflag=_STR, l_linestatus=_STR, l_shipdate=_TS),
    "events": _table(event_id=_LONG, ts=_TS, user_id=_LONG, event_type=_STR, value=_DOUBLE,
                     props=_STR),
    "documents": _table(doc_id=_LONG, text=_STR, lang=_STR, source=_STR, n_chars=_LONG),
    "embeddings": _table(vec_id=_LONG, embedding=T.ArrayType(T.FloatType(), True), label=_INT),
}

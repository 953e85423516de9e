"""Ninth extension wave: the three remaining Python-UDF API surfaces —
batch grouped-map ``applyInPandas`` (per-group OLS fit), two-table
``cogroup().applyInPandas`` (per-user pandas merge_asof), and a
GROUPED_AGG ``pandas_udf`` (geometric mean).

All three have EXACT closed-form oracles: OLS slope/intercept equal
DuckDB's regr_slope/regr_intercept, merge_asof(backward) equals the
QUALIFY row_number as-of join, and the geometric mean equals
exp(avg(ln x)). The UDFs run on Arrow batches (session enables Arrow);
each is a per-group computation whose group fits comfortably in one
worker's memory — the precondition for grouped-map at 100 TB (groups
must be bounded, not the table).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.plan import sorted_once
from ..sources.readers import load_table
from .catalog import Query
from .relational import ASOF_EVENTS, asof_sql_tail


# --- Grouped-map applyInPandas: per-group OLS ----------------------------------
def _ols_fit(pdf: pd.DataFrame) -> pd.DataFrame:
    """Closed-form least squares of extendedprice on quantity (one group =
    one return flag). numpy mean/cov arithmetic matches regr_slope /
    regr_intercept exactly."""
    x = pdf["l_quantity"].to_numpy(dtype="float64")
    y = pdf["l_extendedprice"].to_numpy(dtype="float64")
    mx, my = x.mean(), y.mean()
    slope = ((x - mx) * (y - my)).sum() / ((x - mx) ** 2).sum()
    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "slope": [round(slope, 4)],
            "intercept": [round(my - slope * mx, 4)],
            "n_rows": [len(pdf)],
        }
    )


def _grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fitting via applyInPandas — the batch grouped-map
    surface: each return-flag group arrives as ONE pandas frame on one
    worker (shuffle on the group key, then Arrow transfer). Use for
    statistical fits that need the whole group; anything expressible as
    built-in aggregates should stay JVM-side instead (the oracle shows
    this one *is* so expressible — it exists to pin the API surface)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return sorted_once(
        l.groupBy("l_returnflag").applyInPandas(
            _ols_fit,
            "l_returnflag string, slope double, intercept double, n_rows long",
        ),
        "l_returnflag",
    )


_OLS_SQL = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- Cogrouped applyInPandas: per-user merge_asof -------------------------------
def _asof_merge(events_pdf: pd.DataFrame, orders_pdf: pd.DataFrame) -> pd.DataFrame:
    """pandas merge_asof(backward): latest order at-or-before each event.
    Both sides are one user's rows; ties on o_orderdate break to the
    highest o_orderkey to match the SQL QUALIFY tie-break."""
    ev = events_pdf.sort_values(["ts", "event_id"])
    od = orders_pdf.sort_values(["o_orderdate", "o_orderkey"])
    if od.empty:
        merged = ev.assign(last_orderkey=pd.NA, last_orderdate=pd.NaT)
    else:
        right = od.rename(
            columns={"o_orderkey": "last_orderkey", "o_orderdate": "last_orderdate"}
        )[["last_orderkey", "last_orderdate"]]
        merged = pd.merge_asof(
            ev,
            right,
            left_on="ts",
            right_on="last_orderdate",
            direction="backward",
        )
    return merged[["event_id", "user_id", "ts", "last_orderkey", "last_orderdate"]]


def _cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table grouped map via cogroup().applyInPandas — both tables
    shuffle on the key and each worker sees (events-of-user, orders-of-
    user) as a pandas pair. The inner merge_asof is the classic financial
    as-of; the DataFrame-only form of this query is
    `asof_last_order_before_event` (relational.py) — same answer, different
    execution surface."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < ASOF_EVENTS)
        .select("event_id", "user_id", "ts")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    # Prune the big side to keys that can produce output BEFORE the
    # cogroup shuffle: groups whose events side is empty contribute
    # nothing, but each still costs a Python invocation — at sf0.1 that
    # is ~15k empty groups vs ~150 real ones (90x wall-clock). The
    # broadcast semi-join also keeps non-matching orders out of the
    # shuffle entirely, which is the dominant cost at 100 TB.
    od = od.join(F.broadcast(ev.select("user_id").distinct()), "user_id", "semi")
    out = ev.groupBy("user_id").cogroup(od.groupBy("user_id")).applyInPandas(
        _asof_merge,
        "event_id long, user_id long, ts timestamp, "
        "last_orderkey long, last_orderdate timestamp",
    )
    # inner-join semantics of the reference query: drop events with no match.
    # sorted_once: orderBy's range-bound sampling pass re-executed the whole
    # cogroup (shuffles + per-group Python) — 6.9 s -> 3.4 s at sf0.1
    # (round-14; see functions/plan.py).
    return sorted_once(
        out.where(F.col("last_orderkey").isNotNull()), "event_id"
    )


_COGROUP_ASOF_SQL = f"""
SELECT e.event_id, e.user_id, e.ts,
       o.o_orderkey AS last_orderkey, o.o_orderdate AS last_orderdate
{asof_sql_tail()}ORDER BY e.event_id
"""


# --- GROUPED_AGG pandas_udf: geometric mean -------------------------------------
def _geo_mean_udf():
    import numpy as np

    @F.pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    return geo_mean


def _grouped_agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom vectorized aggregate via GROUPED_AGG pandas_udf: geometric
    mean of positive event values per type. The UDAF receives each group's
    column as one Arrow-backed Series. Note the scale caveat: GROUPED_AGG
    has no partial aggregation (all group rows move to one worker) — for a
    decomposable statistic like this, production code should prefer the
    algebraic form exp(avg(ln x)) (the oracle); the query pins the API."""
    e = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    gm = _geo_mean_udf()
    # a GROUPED_AGG pandas UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — compute counts separately and join
    geo = e.groupBy("event_type").agg(F.round(gm("value"), 4).alias("geo_mean_value"))
    cnt = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return geo.join(cnt, "event_type").orderBy("event_type")


_GEOMEAN_SQL = """
SELECT event_type,
       round(exp(avg(ln(value))), 4) AS geo_mean_value,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
WHERE value > 0
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = [
    Query("grouped_ols_fit", _grouped_ols, _OLS_SQL, ("udf", "applyInPandas", "stats")),
    Query("cogrouped_asof_merge", _cogrouped_asof, _COGROUP_ASOF_SQL,
          ("udf", "cogroup", "asof")),
    Query("grouped_agg_geomean", _grouped_agg_geomean, _GEOMEAN_SQL,
          ("udf", "pandas_udaf", "agg")),
]

"""Reshape operators: pivot / unpivot (SURVEY.md §2.4 extension rows).

The reference re-shapes data constantly — flat scrape results are
re-nested into the per-dataset map (web_scrpaer_2.py:530-543) and
the v1 sample report walks the nested form back out flat
(web_scraper.py:512-561). Pivot/unpivot are the relational versions
of those re-shapes over the driver star schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.numeric import dsum, dsum_sql
from ..registry import register


@register(
    "pivot_wide",
    oracle=f"""
    SELECT l_returnflag,
           {dsum_sql("CASE WHEN l_linestatus = 'F' THEN l_extendedprice END")}
             AS status_F,
           {dsum_sql("CASE WHEN l_linestatus = 'O' THEN l_extendedprice END")}
             AS status_O
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("reshape", "agg"),
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long → wide: one column per l_linestatus value.

    The pivot values are passed explicitly — without them Spark runs
    an extra distinct-scan job to discover them, a hidden full pass
    at 100 TB. With the list pinned, this is a single hash aggregate
    (each pivot cell is a conditional aggregate; map-side partials
    apply as usual). Empty cells are NULL, matching SUM(CASE…) over
    zero rows.
    """
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .pivot("l_linestatus", ["F", "O"])
            .agg(dsum("l_extendedprice"))
            .select("l_returnflag",
                    F.col("F").alias("status_F"),
                    F.col("O").alias("status_O")))


@register(
    "unpivot_long",
    oracle=f"""
    SELECT measure,
           COUNT(*) AS n_vals,
           {dsum_sql('val')} AS total
    FROM (
      SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT 'l_tax', l_tax FROM lineitem
    ) m
    GROUP BY measure
    """,
    tags=("reshape", "agg"),
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long (melt): four measure columns become (measure,
    value) rows, then a per-measure rollup.

    ``unpivot`` is a zero-shuffle Expand (4× the rows, narrow
    columns) feeding a partial-then-final hash aggregate — the same
    single-exchange shape as ``agg_cube``, so it scales like any
    aggregate rather than like a 4-way self-union of full scans.
    """
    li = load(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val")
    return (melted.groupBy("measure")
            .agg(F.count("*").alias("n_vals"),
                 dsum("val").alias("total")))

"""The SQL entry point: the engine's queries are equally expressible as
ANSI SQL (``spark.sql``), sharing Catalyst plans with the DataFrame API.
The reference has no SQL surface beyond the log store's literal SQLite
strings (sqlite_logger.py:121-255); the engine gets the full
surface from Spark for free — this module pins it with a classic pricing
summary over the largest fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources import load_table

PRICING_SUMMARY_SQL = """
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_disc_price,
       CAST(FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  / GREATEST(COUNT(*), 1)) AS BIGINT) AS avg_qty
FROM {lineitem}
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API gate: one shuffle (partial-aggregable hash aggregate), the
    ship-date filter pushed into the parquet scan, decimal sums for an
    order-independent hash. The same text, with the table name in the
    scan's place, runs on DuckDB as its own oracle — the strongest
    possible parity statement for the SQL surface.

    The scan is a ``spark.sql`` DataFrame argument, not a session temp
    view: a view name is session-global, so concurrent calls on two
    corpora would re-point each other's ``lineitem``.
    """
    return spark.sql(
        PRICING_SUMMARY_SQL, lineitem=load_table(spark, sf_dir, "lineitem")
    )


QUERIES = {"pricing_summary": pricing_summary}
ORACLES = {"pricing_summary": PRICING_SUMMARY_SQL.format(lineitem="lineitem")}

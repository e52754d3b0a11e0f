"""Relational operator queries — the OGR SQL surface on TPC-H-ish tables.

Covers SURVEY §2.2 (filters/projection), §2.3 (joins incl. first-match),
§2.4 (aggregates: summary record, GROUP BY, COUNT DISTINCT), §2.5 (window
functions via the SQLite-dialect inheritance), §2.6 (sort/limit/top-k),
§2.7 (UNION ALL), §2.8 (scalar functions: LIKE/ILIKE, SUBSTR, CONCAT,
CAST, hstore, 3-valued logic, div-0→NULL, date handling).

Float discipline: money sums go through decimal (order-independent);
averages/stddevs are rounded to 6 digits on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gdal_spark.ogrsql import (distinct_list, first_match_join, hstore_get_value,
                               ogr_ilike, ogr_like, summary_record)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- §2.4 aggregates -------------------------------------------------------


def q_summary_record(spark, sf_dir):
    """OGR SWQM_SUMMARY_RECORD: whole-table aggregate, single row."""
    return summary_record(_t(spark, sf_dir, "lineitem"))


def q_groupby_agg(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary (GROUP BY comes free in Spark —
    OGR SQL itself has none, SURVEY §2.4)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    dec = lambda c: F.col(c).cast("decimal(28,6)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal SUM for order-independence, final double cast so both
            # engines emit float64 (the gate hashes value string forms)
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
                  .cast("decimal(28,6)")).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_count_distinct(spark, sf_dir):
    """COUNT(DISTINCT col) — the only DISTINCT aggregate OGR SQL allows
    (swq_parser.y:1007)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.countDistinct("o_custkey").alias("n_custkeys"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_distinct_list(spark, sf_dir):
    """OGR SWQM_DISTINCT_LIST: sorted distinct values."""
    return distinct_list(_t(spark, sf_dir, "part"))


# --- §2.3 joins ------------------------------------------------------------


def q_join_groups(spark, sf_dir):
    """Classic equi-join + aggregate: revenue per nation (shuffle join on
    the fact table, broadcast on dims — Catalyst decides via AQE)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    dec = F.col("o_totalprice").cast("decimal(28,6)")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(dec).cast("double").alias("total_price"),
             F.count(F.lit(1)).alias("n_orders"))
    )


def q_first_match_join(spark, sf_dir):
    """OGR SQL LEFT JOIN takes the FIRST secondary match (1:1, not 1:N —
    ogr_gensql.cpp:1493-1523): orders ← first lineitem by linenumber."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity")
    # the synthetic lineitem has duplicate (orderkey, linenumber) pairs, so
    # "first" needs a total order — tiebreak on quantity
    j = first_match_join(o, li)
    return j.select("o_orderkey", "l_linenumber", "l_quantity")


def q_semi_anti_join(spark, sf_dir):
    """left_semi/left_anti (OGR expresses these only spatially as
    Clip/Erase; relationally they're native Spark)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi") \
        .select("c_custkey").withColumn("has_orders", F.lit(True))
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti") \
        .select("c_custkey").withColumn("has_orders", F.lit(False))
    return with_orders.unionByName(without)


# --- §2.6 sort / limit / top-k --------------------------------------------


def q_orderby_limit_offset(spark, sf_dir):
    """Multi-key ORDER BY + LIMIT/OFFSET (swq_parser.y:1129; Spark's
    distributed sort replaces CreateOrderByIndex materialization)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey",
                F.col("o_totalprice").cast("decimal(18,2)")
                .cast("double").alias("price"))
        .offset(10).limit(50)
    )


def q_topk(spark, sf_dir):
    """ORDER BY … LIMIT k — Spark TakeOrderedAndProject generalizes the
    reference's top-1 single-pass optimization (ogr_gensql.cpp:2215)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey"),
                   F.col("l_linenumber"))
        .select("l_orderkey", "l_linenumber",
                F.col("l_extendedprice").cast("decimal(18,2)")
                .cast("double").alias("price"))
        .limit(5)
    )


# --- §2.7 set ops ----------------------------------------------------------


def q_union_all(spark, sf_dir):
    """UNION ALL by field name (OGRUnionLayer schema-merge semantics,
    ogrunionlayer.cpp → unionByName)."""
    p = _t(spark, sf_dir, "part")
    a = p.filter("p_size < 10").select("p_partkey", "p_brand")
    b = p.filter("p_size >= 40").select("p_brand", "p_partkey")  # swapped order
    return a.unionByName(b)


# --- §2.2/§2.8 filters & scalar functions ----------------------------------


def q_like_ilike(spark, sf_dir):
    """LIKE case-sensitive vs ILIKE (swq_op_general.cpp:1090-1123)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        ogr_like(F.col("p_name"), "%spring%").alias("like_lower"),
        ogr_like(F.col("p_name"), "%SPRING%").alias("like_upper"),
        ogr_ilike(F.col("p_name"), "%SPRING%").alias("ilike_upper"),
    )


def q_scalar_expr(spark, sf_dir):
    """CONCAT/SUBSTR/CAST/arith with OGR semantics: 1-based SUBSTR with
    negative start, CONCAT auto-cast, div-0 → NULL."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr("concat(p_brand, '#', p_size)").alias("tag"),
        F.expr("substr(p_name, 2, 5)").alias("sub_mid"),
        F.expr("substr(p_name, -4)").alias("sub_end"),
        F.expr("cast(floor(p_retailprice) as bigint)").alias("price_floor"),
        F.expr("p_size % 7").alias("size_mod"),
        # OGR div-0 → NULL (swq_op_general.cpp:637-718); try_divide keeps
        # that semantics under ANSI-on sessions (the driver runs ANSI-on)
        F.expr("try_divide(p_size, p_size - p_size)").alias("div0"),
        F.expr("p_size between 5 and 15").alias("in_band"),
        F.expr("p_brand in ('Brand#1', 'Brand#2')").alias("in_set"),
    )


def q_hstore(spark, sf_dir):
    """HSTORE_GET_VALUE (swq_op_general.cpp:169-291) over a constructed
    key=>value string."""
    e = _t(spark, sf_dir, "events")
    kv = F.expr("concat('type=>', event_type, ',uid=>', user_id)")
    return e.select(
        "event_id",
        hstore_get_value(kv, "type").alias("h_type"),
        hstore_get_value(kv, "uid").alias("h_uid"),
    )


def q_json_field(spark, sf_dir):
    """JSON field subtype (OFSTJSON, ogr_core.h:818) → extract a key."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


def q_datetime(spark, sf_dir):
    """Date/time comparisons + parts (OGR SQL date columns, SWQ_DATE...)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") >= "1995-01-01")
        .groupBy(F.year("o_orderdate").alias("yr"),
                 F.month("o_orderdate").alias("mo"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_window_funcs(spark, sf_dir):
    """Window functions (inherited via the SQLite dialect — executed by
    sqlite3 in the reference, ogrsqliteexecutesql.cpp:788; native here)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id",
        F.row_number().over(w).alias("rn"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.sum(F.col("value").cast("decimal(28,6)")).over(
            w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double").alias("running_value"),
    )


def q_execute_sql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExecuteSQL string surface (gcore/gdaldataset.cpp:6872 →
    gdal_spark.sqlapi): projection + LIKE + ORDER BY + LIMIT/OFFSET
    parsed from an OGR SQL statement."""
    from gdal_spark.sqlapi import execute_sql

    return execute_sql(
        spark,
        "SELECT p_partkey, p_brand, SUBSTR(p_type, 1, 6) AS type6 "
        "FROM part WHERE p_brand LIKE 'Brand#1%' "
        "ORDER BY p_partkey LIMIT 40 OFFSET 10",
        {"part": _t(spark, sf_dir, "part")})


def q_execute_sql_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExecuteSQL SUMMARY_RECORD mode from a statement string."""
    from gdal_spark.sqlapi import execute_sql

    return execute_sql(
        spark,
        "SELECT MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q, "
        "COUNT(*) AS cnt, COUNT(DISTINCT l_returnflag) AS n_flags "
        "FROM lineitem WHERE l_discount > 0.05",
        {"lineitem": _t(spark, sf_dir, "lineitem")})


def q_execute_sql_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained JOINs from a statement string (swq_parser.y:1088-1094
    allows any number of [LEFT] JOIN clauses): orders → customer →
    nation, each with OGR first-match semantics (keys unique here, so
    the dedup is a no-op the oracle can mirror with plain joins)."""
    from gdal_spark.sqlapi import execute_sql

    return execute_sql(
        spark,
        "SELECT o.o_orderkey, c.c_name, n.n_name "
        "FROM orders o "
        "JOIN customer c ON c.c_custkey = o.o_custkey "
        "JOIN nation n ON n.n_nationkey = c.c_nationkey "
        "WHERE o.o_totalprice > 450000 ORDER BY o.o_orderkey",
        {"orders": _t(spark, sf_dir, "orders"),
         "customer": _t(spark, sf_dir, "customer"),
         "nation": _t(spark, sf_dir, "nation")},
        fid_order={"orders": "o_orderkey", "customer": "c_custkey",
                   "nation": "n_nationkey"})


def q_execute_sql_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING from a statement string — the SQLite-dialect
    surface (ogrsqliteexecutesql.cpp:788 hands full SQL to a planner;
    here Catalyst)."""
    from gdal_spark.sqlapi import execute_sql

    return execute_sql(
        spark,
        "SELECT p_brand, COUNT(*) AS n, MAX(p_size) AS max_size "
        "FROM part WHERE p_size >= 5 GROUP BY p_brand "
        "HAVING COUNT(*) >= 5 ORDER BY p_brand",
        {"part": _t(spark, sf_dir, "part")})


def q_execute_sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (SELECT …) subquery from a statement string (SQLite-dialect
    surface; layer names resolve inside the subquery)."""
    from gdal_spark.sqlapi import execute_sql

    return execute_sql(
        spark,
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_custkey IN (SELECT c_custkey FROM customer "
        "WHERE c_nationkey < 3) AND o_totalprice > 400000 "
        "ORDER BY o_orderkey",
        {"orders": _t(spark, sf_dir, "orders"),
         "customer": _t(spark, sf_dir, "customer")})


def q_execute_sql_distinct_like(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """DISTINCT_LIST mode + LIKE ESCAPE grammar (round-3 divergence
    closures): single-column SELECT DISTINCT (multi-column now rejected
    like swq_select.cpp:1049), an ESCAPE pattern whose escape pair
    survives sanitization, and a quoted table name."""
    from gdal_spark.sqlapi import execute_sql

    return execute_sql(
        spark,
        "SELECT DISTINCT p_brand FROM \"part\" "
        "WHERE 'a_b' LIKE 'a!_b' ESCAPE '!' AND p_size > 40",
        {"part": _t(spark, sf_dir, "part")})


def q_execute_sql_division_typing(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Schema-aware OGR integer-division typing (swq type promotion;
    autotest ogr_sql_test.py::test_ogr_sql_49 / rfc28_17): int column ÷
    int column and int column ÷ int literal divide integrally, float
    operands keep float semantics, bare decimal literals are doubles
    (not DECIMAL), and unaliased expressions take OGR's FIELD_N output
    names (ogr_gensql.cpp:199)."""
    from gdal_spark.sqlapi import execute_sql

    return execute_sql(
        spark,
        "SELECT l_orderkey, l_linenumber, l_orderkey / l_linenumber, "
        "l_orderkey / 7, 100 / 8, l_quantity / 2, 2.5, "
        # chained + mixed-precedence int arithmetic: swq types every
        # node, left-assoc — ((a/b)/c), ((a/b)*c)/d, a/(b+c)
        "l_orderkey / l_linenumber / 2, "
        "l_orderkey / l_linenumber * l_partkey / 3, "
        "l_orderkey / (l_linenumber + 1), "
        "100 / 8 / 2, "
        # any float operand anywhere promotes the whole chain
        "l_orderkey / l_linenumber / 2.0, "
        "l_quantity / l_linenumber / 2, "
        "-l_orderkey / l_linenumber, "
        "CAST(l_quantity AS INTEGER) / l_linenumber "
        "FROM lineitem WHERE l_orderkey < 200 "
        "ORDER BY l_orderkey, l_linenumber",
        {"lineitem": _t(spark, sf_dir, "lineitem")})


def _poly_values_sql() -> str:
    """The zones fixture as a DuckDB VALUES table (fid = iteration
    order = zone_id; repr(area) round-trips the exact double)."""
    from gdal_spark.zones import zones_rows

    vals = ", ".join(
        f"({r[0]}, {r[1]}, cast({r[2]!r} as double), '{r[3]}')"
        for r in zones_rows())
    return (f"(values {vals})"
            f" as poly(fid, eas_id, ogr_geom_area, prfedea)")


def q_execute_sql_orderby_special(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """ORDER BY on special fields (autotest ogr_sql_test.py
    test_ogr_sql_39/40: ORDER BY the float OGR_GEOM_AREA and the int
    FID): the LIMIT makes the sort observable under the driver's
    order-insensitive hash. OGR_GEOM_AREA derives from the layer's
    area column (ogr_gensql.cpp special-field path)."""
    from gdal_spark.sqlapi import execute_sql
    from gdal_spark.zones import zones_df

    _ = sf_dir  # poly.shp-shaped layer fixture
    return execute_sql(
        spark,
        "SELECT FID, eas_id, OGR_GEOM_AREA FROM poly "
        "ORDER BY OGR_GEOM_AREA DESC LIMIT 5",
        {"poly": zones_df(spark)},
        fid_order={"poly": "zone_id"}, area_cols={"poly": "area"})


def q_execute_sql_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rfc28 arithmetic/quoting cases at the statement
    level (autotest ogr_sql_rfc28.py rfc28_1/3/4/6/16): literal
    arithmetic in WHERE (160+7 > eas_id), OGR '+' string concatenation
    in WHERE, the '%' operator, double-quoted field names, and '3--1'
    parsing as subtraction of a negative."""
    from gdal_spark.sqlapi import execute_sql
    from gdal_spark.zones import zones_df

    _ = sf_dir  # poly.shp-shaped layer fixture
    return execute_sql(
        spark,
        "SELECT '1' AS cid, prfedea AS val FROM poly "
        "WHERE 160+7 > eas_id "
        "UNION ALL SELECT '2' AS cid, prfedea AS val FROM poly "
        "WHERE 'x'+prfedea = 'x35043407' "
        "UNION ALL SELECT '3' AS cid, prfedea AS val FROM poly "
        "WHERE eas_id % 5 = 1 "
        "UNION ALL SELECT '4' AS cid, prfedea AS val FROM poly "
        "WHERE \"eas_id\" = 166 "
        "UNION ALL SELECT '5' AS cid, CAST(3--1 AS CHARACTER(10)) AS val "
        "FROM poly WHERE eas_id = 158",
        {"poly": zones_df(spark)},
        fid_order={"poly": "zone_id"}, area_cols={"poly": "area"})


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (engine extension — absent from OGR SQL, SURVEY §2.3
    'Theta/range/as-of joins'): every purchase event joined to the most
    recent prior click of the same user. Executed as one union + one
    per-user window (last_value over the interleaved stream) — a single
    shuffle keyed by user, never a range join; ties on (ts, event_id)
    order deterministically."""
    e = _t(spark, sf_dir, "events")
    both = e.filter(F.col("event_type").isin("purchase", "click")).select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id"))
        .alias("_click_id"),
        F.when(F.col("event_type") == "click", F.col("ts"))
        .alias("_click_ts"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    out = both.withColumn(
        "last_click_id", F.last("_click_id", ignorenulls=True).over(w)
    ).withColumn(
        "last_click_ts", F.last("_click_ts", ignorenulls=True).over(w))
    return (out.filter("event_type = 'purchase'")
            .select("user_id",
                    F.col("event_id").alias("purchase_id"),
                    "last_click_id",
                    F.unix_timestamp("ts").alias("purchase_epoch"),
                    F.unix_timestamp("last_click_ts")
                    .alias("click_epoch")))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity cut) — the standard
    web-log session op a pages/events pipeline needs; GDAL has no
    streaming (SURVEY §1.3) so this is the batch-window restatement."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts"))
    gaps = e.withColumn(
        "_new", F.when(
            epoch - F.lag(epoch, 1).over(w) > 1800, 1
        ).otherwise(F.lit(0)).cast("long"))
    sess = gaps.withColumn(
        "session_idx",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("event_id").alias("first_event"),
             F.max("event_id").alias("last_event"))
    )


_LAYER_FIELDS = {
    "customer": 5, "documents": 5, "embeddings": 3, "events": 6,
    "lineitem": 11, "nation": 3, "orders": 6, "part": 6, "region": 2,
    "supplier": 4,
}


def q_dataset_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogrinfo surface: GDALDataset layer summaries (GetFeatureCount /
    field counts) over the whole table directory."""
    from gdal_spark.dataset import Dataset

    return Dataset(spark, sf_dir).info().select(
        "layer", "n_features", "n_fields")


def _dataset_info_oracle() -> str:
    return " union all ".join(
        f"select '{t}' as layer, count(*) as n_features,"
        f" cast({n} as int) as n_fields from {t}"
        for t, n in _LAYER_FIELDS.items())


QUERIES = {
    "dataset_info": q_dataset_info,
    "sql_sessionize": q_sessionize,
    "sql_asof_join": q_asof_join,
    "ogrsql_execute_select": q_execute_sql_select,
    "ogrsql_execute_summary": q_execute_sql_summary,
    "ogrsql_execute_join_chain": q_execute_sql_join_chain,
    "ogrsql_execute_groupby": q_execute_sql_groupby,
    "ogrsql_execute_in_subquery": q_execute_sql_in_subquery,
    "ogrsql_execute_distinct_like": q_execute_sql_distinct_like,
    "ogrsql_execute_division_typing": q_execute_sql_division_typing,
    "ogrsql_execute_orderby_special": q_execute_sql_orderby_special,
    "ogrsql_execute_arith": q_execute_sql_arith,
    "sql_summary_record": q_summary_record,
    "sql_groupby_agg": q_groupby_agg,
    "sql_count_distinct": q_count_distinct,
    "sql_distinct_list": q_distinct_list,
    "sql_join_groups": q_join_groups,
    "sql_first_match_join": q_first_match_join,
    "sql_semi_anti_join": q_semi_anti_join,
    "sql_orderby_limit_offset": q_orderby_limit_offset,
    "sql_topk": q_topk,
    "sql_union_all": q_union_all,
    "sql_like_ilike": q_like_ilike,
    "sql_scalar_expr": q_scalar_expr,
    "sql_hstore": q_hstore,
    "sql_json_field": q_json_field,
    "sql_datetime": q_datetime,
    "sql_window_funcs": q_window_funcs,
}

ORACLES = {
    "dataset_info": _dataset_info_oracle(),
    # oracle independence: DuckDB's NATIVE ASOF LEFT JOIN vs the Spark
    # union+window plan ((user_id, ts) is unique in the fixture, so
    # strict-< asof and last-prior-row semantics coincide)
    "sql_asof_join": """
select p.user_id, p.event_id as purchase_id, c.event_id as last_click_id,
       cast(floor(epoch(p.ts)) as bigint) as purchase_epoch,
       cast(floor(epoch(c.ts)) as bigint) as click_epoch
from (select * from events where event_type = 'purchase') p
asof left join (select * from events where event_type = 'click') c
  on p.user_id = c.user_id and c.ts < p.ts
""",
    "sql_sessionize": """
with g as (
  select user_id, event_id, ts,
         case when cast(floor(epoch(ts)) as bigint)
                   - lag(cast(floor(epoch(ts)) as bigint), 1)
                over (partition by user_id order by ts, event_id) > 1800
              then 1 else 0 end as new_s
  from events
),
s as (
  select user_id, event_id,
         cast(sum(new_s) over (partition by user_id order by ts, event_id
                rows between unbounded preceding and current row)
           as bigint) as session_idx
  from g
)
select user_id, session_idx, count(*) as n_events,
       min(event_id) as first_event, max(event_id) as last_event
from s group by user_id, session_idx
""",
    "ogrsql_execute_select": """
select p_partkey, p_brand, substr(p_type, 1, 6) as type6
from part where p_brand like 'Brand#1%'
order by p_partkey limit 40 offset 10
""",
    "ogrsql_execute_summary": """
select min(l_quantity) as min_q, max(l_quantity) as max_q,
       count(*) as cnt, count(distinct l_returnflag) as n_flags
from lineitem where l_discount > 0.05
""",
    "ogrsql_execute_join_chain": """
select o.o_orderkey, c.c_name, n.n_name
from orders o
join customer c on c.c_custkey = o.o_custkey
join nation n on n.n_nationkey = c.c_nationkey
where o.o_totalprice > 450000 order by o.o_orderkey
""",
    "ogrsql_execute_groupby": """
select p_brand, count(*) as n, max(p_size) as max_size
from part where p_size >= 5 group by p_brand
having count(*) >= 5 order by p_brand
""",
    "ogrsql_execute_in_subquery": """
select o_orderkey, o_totalprice from orders
where o_custkey in (select c_custkey from customer where c_nationkey < 3)
  and o_totalprice > 400000
order by o_orderkey
""",
    "ogrsql_execute_distinct_like": """
select distinct p_brand from part
where 'a_b' like 'a!_b' escape '!' and p_size > 40
order by p_brand
""",
    "ogrsql_execute_division_typing": """
select l_orderkey, l_linenumber,
       l_orderkey // l_linenumber as field_3,
       l_orderkey // 7 as field_4,
       100 // 8 as field_5,
       l_quantity / 2 as field_6,
       2.5e0 as field_7,
       l_orderkey // l_linenumber // 2 as field_8,
       l_orderkey // l_linenumber * l_partkey // 3 as field_9,
       l_orderkey // (l_linenumber + 1) as field_10,
       100 // 8 // 2 as field_11,
       (l_orderkey // l_linenumber) / 2.0 as field_12,
       l_quantity / l_linenumber / 2 as field_13,
       -- swq int division truncates toward zero (C++ '/'); duckdb //
       -- floors, so negative cases spell the trunc form explicitly
       cast(trunc((- l_orderkey) / l_linenumber) as bigint) as field_14,
       cast(trunc(l_quantity) as bigint) // l_linenumber as field_15
from lineitem where l_orderkey < 200
order by l_orderkey, l_linenumber
""",
    "ogrsql_execute_orderby_special": f"""
select cast(fid as bigint) as fid, cast(eas_id as bigint) as eas_id,
       ogr_geom_area
from {_poly_values_sql()}
order by ogr_geom_area desc limit 5
""",
    "ogrsql_execute_arith": f"""
with poly as (select * from {_poly_values_sql()})
select '1' as cid, prfedea as val from poly where 160+7 > eas_id
union all select '2' as cid, prfedea as val from poly
  where 'x' || prfedea = 'x35043407'
union all select '3' as cid, prfedea as val from poly
  where eas_id % 5 = 1
union all select '4' as cid, prfedea as val from poly where eas_id = 166
union all select '5' as cid, cast(3 - -1 as varchar) as val from poly
  where eas_id = 158
""",
    "sql_summary_record": """
select min(l_quantity) as min_l_quantity, max(l_quantity) as max_l_quantity,
       round(cast(sum(cast(l_quantity as decimal(28,6))) as double) / count(l_quantity), 6) as avg_l_quantity,
       cast(sum(cast(l_quantity as decimal(28,6))) as double) as sum_l_quantity,
       count(l_quantity) as count_l_quantity, count(*) as count_star,
       round(stddev_pop(l_quantity), 6) as stddev_pop_l_quantity,
       round(stddev_samp(l_quantity), 6) as stddev_samp_l_quantity
from lineitem
""",
    "sql_groupby_agg": """
select l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as decimal(28,6))) as double) as sum_qty,
       cast(sum(cast(l_extendedprice as decimal(28,6))) as double) as sum_base_price,
       cast(sum(cast(cast(l_extendedprice as decimal(28,6)) * (1 - cast(l_discount as decimal(28,6))) as decimal(28,6))) as double) as sum_disc_price,
       round(avg(l_quantity), 6) as avg_qty,
       round(avg(l_discount), 6) as avg_disc,
       count(*) as count_order
from lineitem where l_shipdate <= timestamp '1998-09-02'
group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
""",
    "sql_count_distinct": """
select count(distinct o_orderpriority) as n_priorities,
       count(distinct o_custkey) as n_custkeys, count(*) as n_rows
from orders
""",
    "sql_distinct_list": "select distinct p_brand from part order by p_brand",
    "sql_join_groups": """
select n_name, cast(sum(cast(o_totalprice as decimal(28,6))) as double) as total_price,
       count(*) as n_orders
from orders join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
group by n_name
""",
    "sql_first_match_join": """
with first_li as (
  select l_orderkey, l_linenumber, l_quantity,
         row_number() over (partition by l_orderkey
                            order by l_linenumber, l_quantity) as rn
  from lineitem
)
select o_orderkey, l_linenumber, l_quantity
from orders left join first_li on o_orderkey = l_orderkey and rn = 1
""",
    "sql_semi_anti_join": """
select c_custkey, true as has_orders from customer
 where c_custkey in (select o_custkey from orders)
union all
select c_custkey, false as has_orders from customer
 where c_custkey not in (select o_custkey from orders)
""",
    "sql_orderby_limit_offset": """
select o_orderkey, cast(cast(o_totalprice as decimal(18,2)) as double) as price
from orders order by o_totalprice desc, o_orderkey asc
limit 50 offset 10
""",
    "sql_topk": """
select l_orderkey, l_linenumber,
       cast(cast(l_extendedprice as decimal(18,2)) as double) as price
from lineitem order by l_extendedprice desc, l_orderkey, l_linenumber
limit 5
""",
    "sql_union_all": """
select p_partkey, p_brand from part where p_size < 10
union all
select p_partkey, p_brand from part where p_size >= 40
""",
    "sql_like_ilike": """
select p_partkey,
       p_name like '%spring%' as like_lower,
       p_name like '%SPRING%' as like_upper,
       p_name ilike '%SPRING%' as ilike_upper
from part
""",
    "sql_scalar_expr": """
select p_partkey,
       concat(p_brand, '#', p_size) as tag,
       substr(p_name, 2, 5) as sub_mid,
       substr(p_name, -4) as sub_end,
       cast(floor(p_retailprice) as bigint) as price_floor,
       p_size % 7 as size_mod,
       p_size / nullif(p_size - p_size, 0) as div0,
       p_size between 5 and 15 as in_band,
       p_brand in ('Brand#1', 'Brand#2') as in_set
from part
""",
    "sql_hstore": """
select event_id,
       regexp_extract(concat('type=>', event_type, ',uid=>', user_id),
                      'type=>([^,]*)', 1) as h_type,
       regexp_extract(concat('type=>', event_type, ',uid=>', user_id),
                      'uid=>([^,]*)', 1) as h_uid
from events
""",
    "sql_json_field": """
select event_id, cast(props->>'k' as int) as k_val from events
""",
    "sql_datetime": """
select year(o_orderdate) as yr, month(o_orderdate) as mo, count(*) as n
from orders where o_orderdate >= timestamp '1995-01-01'
group by 1, 2
""",
    "sql_window_funcs": """
select event_id, user_id,
       row_number() over w as rn,
       lag(event_type, 1) over w as prev_type,
       cast(sum(cast(value as decimal(28,6))) over (partition by user_id
           order by ts, event_id rows between unbounded preceding
           and current row) as double) as running_value
from events
window w as (partition by user_id order by ts, event_id)
""",
}

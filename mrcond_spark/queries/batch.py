"""Batch-relational declared queries Q01–Q31 (SURVEY.md §2.2 B1–B31).

Each function is the Spark-first (DataFrame API) implementation; the paired
``oracle`` string is ANSI SQL for DuckDB. Column names/aliases match exactly.

Scale notes are inline: broadcast hints on dimension tables, single-shuffle
aggregations, window partitioning keys — every plan here survives a 100x
scale-up because the shuffle keys are the natural high-cardinality keys and
the only broadcasts are O(nations/regions) dims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.asof import asof_join
from . import register

DEC = "decimal(18,2)"
DEC4 = "decimal(18,4)"


# --------------------------------------------------------------------------
# B1/B2 — scan + projection
# --------------------------------------------------------------------------
@register(
    "q01_scan_project",
    oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    doc="parquet scan + projection (column pruning reaches the reader)",
    tags=("B1", "B2"),
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "region").select("r_regionkey", "r_name").orderBy("r_regionkey")


# --------------------------------------------------------------------------
# B3 — filter / predicates (pushed down to parquet)
# --------------------------------------------------------------------------
@register(
    "q02_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    WHERE l_quantity BETWEEN 5 AND 10
      AND l_returnflag = 'R'
      AND l_shipdate >= DATE '1995-01-01'
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="conjunctive predicates; all three reach PushedFilters in the scan",
    tags=("B3",),
)
def q02(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.filter(
            F.col("l_quantity").between(5, 10)
            & (F.col("l_returnflag") == "R")
            & (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        )
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# B4 — inner equi-join chain with broadcast dims
# --------------------------------------------------------------------------
@register(
    "q03_join_chain",
    oracle="""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    ORDER BY c_custkey
    """,
    doc="customer ⋈ nation ⋈ region; nation/region broadcast (25 / 5 rows at any SF)",
    tags=("B4",),
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    n = F.broadcast(load(spark, sf, "nation"))
    r = F.broadcast(load(spark, sf, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# B5 — outer joins
# --------------------------------------------------------------------------
@register(
    "q04_left_join",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name
    FROM orders
    LEFT JOIN customer ON o_custkey = c_custkey AND c_acctbal > 5000
    ORDER BY o_orderkey, c_name NULLS FIRST
    """,
    doc="left outer join with a join-side residual predicate",
    tags=("B5",),
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    return (
        o.join(c, (o.o_custkey == c.c_custkey) & (c.c_acctbal > 5000), "left")
        .select("o_orderkey", "o_custkey", "c_name")
        .orderBy(F.col("o_orderkey"), F.col("c_name").asc_nulls_first())
    )


@register(
    "q07_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(c.nk, s.nk) AS nationkey, c.n_cust AS n_cust, s.n_supp AS n_supp
    FROM c FULL JOIN s ON c.nk = s.nk
    ORDER BY nationkey, n_cust NULLS FIRST, n_supp NULLS FIRST
    """,
    doc="full outer join of per-nation customer vs supplier counts",
    tags=("B5",),
)
def q07(spark: SparkSession, sf: str) -> DataFrame:
    c = (
        load(spark, sf, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load(spark, sf, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, "nk", "full")
        .select(F.col("nk").alias("nationkey"), "n_cust", "n_supp")
        .orderBy(
            F.col("nationkey"),
            F.col("n_cust").asc_nulls_first(),
            F.col("n_supp").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# B6/B7 — semi / anti joins
# --------------------------------------------------------------------------
@register(
    "q05_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
    doc="left semi join (EXISTS): customers having >=1 order",
    tags=("B6",),
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "q06_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderdate >= DATE '1997-01-01'
    )
    ORDER BY c_custkey
    """,
    doc="left anti join (NOT EXISTS): customers with no recent orders "
    "(date predicate keeps the result non-empty at every SF)",
    tags=("B7",),
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("date")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# B8 — cross join
# --------------------------------------------------------------------------
@register(
    "q08_cross_join",
    oracle="SELECT COUNT(*) AS cnt FROM region CROSS JOIN nation",
    doc="cartesian product cardinality",
    tags=("B8",),
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    r = load(spark, sf, "region")
    n = load(spark, sf, "nation")
    return r.crossJoin(n).agg(F.count("*").alias("cnt"))


# --------------------------------------------------------------------------
# B9 — theta (non-equi) join
# --------------------------------------------------------------------------
@register(
    "q09_theta_join",
    oracle="""
    SELECT p_brand, COUNT(*) AS cnt
    FROM part p JOIN supplier s
      ON p.p_size = s.s_suppkey % 50 AND p.p_retailprice > s.s_acctbal
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    doc="equi component + theta residual; supplier side broadcast (small dim)",
    tags=("B9",),
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part")
    s = F.broadcast(load(spark, sf, "supplier"))
    return (
        p.join(s, (p.p_size == s.s_suppkey % 50) & (p.p_retailprice > s.s_acctbal))
        .groupBy("p_brand")
        .agg(F.count("*").alias("cnt"))
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# B10 — as-of join (custom operator; DuckDB ASOF JOIN is the oracle)
# --------------------------------------------------------------------------
@register(
    "q31_asof_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, MIN(ts) AS click_ts
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    views AS (
        SELECT user_id, ts, MAX(value) AS value
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT c.user_id, epoch_us(c.click_ts) AS click_us, v.value AS last_view_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.click_ts >= v.ts
    ORDER BY c.user_id, click_us, last_view_value NULLS FIRST
    """,
    doc="as-of join: each user's first click matched to latest prior view "
    "(union+window formulation — see operators/asof.py for the 100TB argument)",
    tags=("B10",),
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    # dedup same-timestamp views deterministically (max value wins)
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    joined = asof_join(clicks, views, on=["user_id"], left_ts="click_ts", right_ts="ts")
    return joined.select(
        "user_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.col("value").alias("last_view_value"),
    ).orderBy("user_id", "click_us", F.col("last_view_value").asc_nulls_first())


# --------------------------------------------------------------------------
# B11 — hash aggregate (TPC-H Q1 shape)
# --------------------------------------------------------------------------
@register(
    "q10_agg_tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_revenue,
           CAST(MIN(l_shipdate) AS DATE) AS min_ship,
           CAST(MAX(l_shipdate) AS DATE) AS max_ship
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="partial->final hash agg; decimal arithmetic keeps the oracle exact",
    tags=("B11",),
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast(DEC)).cast(DEC).cast("double").alias("sum_qty"),
            F.sum(
                F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
            )
            .cast(DEC4)  # scale 4 is the exact product scale — lossless cast,
            # so no engine-specific half-rounding can diverge; the final DOUBLE
            # projection converts the SAME exact decimal in both engines
            # (hash-stable repr — decimal trailing zeros are not)
            .cast("double")
            .alias("sum_revenue"),
            F.min("l_shipdate").cast("date").alias("min_ship"),
            F.max("l_shipdate").cast("date").alias("max_ship"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# B12 — distinct aggregate
# --------------------------------------------------------------------------
@register(
    "q11_count_distinct",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="distinct aggregate (expand->two-phase agg under the hood)",
    tags=("B12",),
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_cust"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# B13 — ROLLUP / CUBE / GROUPING SETS
# --------------------------------------------------------------------------
@register(
    "q12_rollup",
    oracle="""
    SELECT n_name, c_mktsegment, COUNT(*) AS cnt
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST, cnt
    """,
    doc="rollup over (nation, segment)",
    tags=("B13",),
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    n = F.broadcast(load(spark, sf, "nation"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(F.count("*").alias("cnt"))
        .orderBy(
            F.col("n_name").asc_nulls_first(),
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("cnt"),
        )
    )


@register(
    "q13_cube_grouping",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    doc="cube + GROUPING() marker columns",
    tags=("B13",),
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
            F.count("*").alias("cnt"),
        )
        .select("o_orderstatus", "o_orderpriority", "g_status", "g_prio", "cnt")
        .orderBy(
            "g_status",
            "g_prio",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "q14_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, cnt
    """,
    doc="explicit grouping sets (SQL path — declarative parity with oracle)",
    tags=("B13",),
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    load(spark, sf, "orders").createOrReplaceTempView("q14_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM q14_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST, cnt
        """
    )


# --------------------------------------------------------------------------
# B14 — HAVING
# --------------------------------------------------------------------------
@register(
    "q28_having",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS cnt
    FROM customer GROUP BY c_nationkey HAVING COUNT(*) > 60
    ORDER BY c_nationkey
    """,
    doc="post-aggregation filter",
    tags=("B14",),
)
def q28(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 60)
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# B15 — ranking windows
# --------------------------------------------------------------------------
@register(
    "q15_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, rn, price
    FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey, rn, o_orderkey
    """,
    doc="row_number window, top-3 orders per customer (partitioned by the "
    "high-cardinality customer key — no single-reducer sort at scale)",
    tags=("B15",),
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        load(spark, sf, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.col("o_totalprice").cast(DEC).cast("double").alias("price"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn", "o_orderkey")
    )


# --------------------------------------------------------------------------
# B16 — analytic windows + frames
# --------------------------------------------------------------------------
@register(
    "q16_analytic_window",
    oracle=f"""
    SELECT user_id, event_id,
           LAG(value) OVER w AS prev_value,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(18,4)) AS DOUBLE) AS mov_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
    doc="lag + 3-row moving sum with explicit frame; deterministic tiebreak on event_id",
    tags=("B16",),
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-2, Window.currentRow)
    return (
        load(spark, sf, "events")
        .select(
            "user_id",
            "event_id",
            F.lag("value").over(w).alias("prev_value"),
            F.sum(F.col("value").cast(DEC4)).over(wf).cast(DEC4).cast("double").alias("mov_sum"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# B17/B18 — sort + top-k
# --------------------------------------------------------------------------
@register(
    "q17_topk",
    oracle="""
    SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="global top-k (Spark plans TakeOrderedAndProject: per-partition heaps, no full sort)",
    tags=("B17", "B18"),
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.col("o_totalprice").cast(DEC).cast("double").alias("price"))
    )


# --------------------------------------------------------------------------
# B19/B20/B21 — set operations / distinct
# --------------------------------------------------------------------------
@register(
    "q18_union",
    oracle="""
    SELECT c_name AS name FROM customer
    UNION
    SELECT s_name AS name FROM supplier
    ORDER BY name
    """,
    doc="UNION (distinct) of customer and supplier names",
    tags=("B19",),
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(F.col("c_name").alias("name"))
    s = load(spark, sf, "supplier").select(F.col("s_name").alias("name"))
    return c.union(s).distinct().orderBy("name")


@register(
    "q19_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    ORDER BY nationkey
    """,
    doc="INTERSECT (distinct)",
    tags=("B20",),
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).orderBy("nationkey")


@register(
    "q20_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    ORDER BY nationkey
    """,
    doc="EXCEPT (distinct)",
    tags=("B20",),
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s).orderBy("nationkey")


@register(
    "q27_distinct",
    oracle="SELECT DISTINCT event_type FROM events ORDER BY event_type",
    doc="DISTINCT / dropDuplicates",
    tags=("B21",),
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "events").select("event_type").distinct().orderBy("event_type")


# --------------------------------------------------------------------------
# B22 — string functions
# --------------------------------------------------------------------------
@register(
    "q21_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_u,
           LOWER(p_type) AS type_l,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           SUBSTR(p_name, 1, 5) AS name_pfx,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_type, ' ', '_') AS type_us,
           SPLIT_PART(p_type, ' ', 1) AS first_word
    FROM part
    WHERE p_name LIKE '%a%'
    ORDER BY p_partkey
    """,
    doc="string function pack (upper/lower/length/substr/concat/replace/split/like)",
    tags=("B22",),
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part")
    return (
        p.filter(F.col("p_name").like("%a%"))
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_u"),
            F.lower("p_type").alias("type_l"),
            F.length("p_name").cast("int").alias("name_len"),
            F.substring("p_name", 1, 5).alias("name_pfx"),
            F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
            F.element_at(F.split("p_type", " "), 1).alias("first_word"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# B23 — date/time functions
# --------------------------------------------------------------------------
@register(
    "q22_date_funcs",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
           COUNT(*) AS cnt,
           CAST(MIN(CAST(o_orderdate AS DATE)) AS DATE) AS first_day,
           CAST(MIN(CAST(o_orderdate AS DATE)) + INTERVAL 7 DAY AS DATE) AS first_day_plus7
    FROM orders
    GROUP BY 1, 2
    ORDER BY yr, mo
    """,
    doc="extract/truncate/date arithmetic over order dates",
    tags=("B23",),
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.col("o_orderdate").cast("date")).alias("first_day"),
            F.date_add(F.min(F.col("o_orderdate").cast("date")), 7).alias("first_day_plus7"),
        )
        .orderBy("yr", "mo")
    )


# --------------------------------------------------------------------------
# B24 — math functions
# --------------------------------------------------------------------------
@register(
    "q23_math_funcs",
    oracle="""
    SELECT p_partkey,
           CAST(CEIL(CAST(p_retailprice AS DECIMAL(18,2))) AS BIGINT) AS ceil_price,
           CAST(FLOOR(CAST(p_retailprice AS DECIMAL(18,2))) AS BIGINT) AS floor_price,
           CAST(ABS(p_size - 25) AS INT) AS abs_off,
           CAST(p_partkey % 7 AS BIGINT) AS pk_mod,
           SQRT(CAST(p_size AS DOUBLE)) AS size_sqrt,
           CAST(p_size AS BIGINT) * p_size AS size_sq
    FROM part
    ORDER BY p_partkey
    """,
    doc="abs/ceil/floor/mod/sqrt/square; sqrt is IEEE-exact so doubles hash-match",
    tags=("B24",),
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.ceil(F.col("p_retailprice").cast(DEC)).cast("bigint").alias("ceil_price"),
        F.floor(F.col("p_retailprice").cast(DEC)).cast("bigint").alias("floor_price"),
        F.abs(F.col("p_size") - 25).cast("int").alias("abs_off"),
        (F.col("p_partkey") % 7).cast("bigint").alias("pk_mod"),
        F.sqrt(F.col("p_size").cast("double")).alias("size_sqrt"),
        (F.col("p_size").cast("bigint") * F.col("p_size")).alias("size_sq"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# B25 — conditional / null functions
# --------------------------------------------------------------------------
@register(
    "q24_conditional",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bucket,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
           CAST(CASE WHEN c_acctbal > 0 THEN CAST(c_acctbal AS DECIMAL(18,2)) ELSE NULL END AS DOUBLE) AS pos_bal
    FROM customer
    ORDER BY c_custkey
    """,
    doc="CASE/COALESCE/NULLIF/IF",
    tags=("B25",),
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bucket"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias("seg"),
        F.when(F.col("c_acctbal") > 0, F.col("c_acctbal").cast(DEC)).cast("double").alias("pos_bal"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# B26 — array functions
# --------------------------------------------------------------------------
@register(
    "q25_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(i AS INT) AS pos,
           CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(10,4)) AS DOUBLE) AS val,
           CAST(len(embedding) AS INT) AS n_dims
    FROM embeddings, (SELECT UNNEST(range(1, 9)) AS i)
    ORDER BY vec_id, pos
    """,
    doc="slice + posexplode of embedding vectors, 4dp decimal projection",
    tags=("B26",),
)
def q25(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings")
    return (
        e.select(
            "vec_id",
            F.size("embedding").cast("int").alias("n_dims"),
            F.posexplode(F.slice("embedding", 1, 8)).alias("pos0", "elem"),
        )
        .select(
            "vec_id",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            F.col("elem").cast("double").cast("decimal(10,4)").cast("double").alias("val"),
            "n_dims",
        )
        .orderBy("vec_id", "pos")
    )


# --------------------------------------------------------------------------
# B27 — map/JSON functions
# --------------------------------------------------------------------------
@register(
    "q26_json_funcs",
    oracle="""
    SELECT json_extract_string(props, '$.k') AS k_val, COUNT(*) AS cnt
    FROM events
    GROUP BY k_val
    ORDER BY k_val NULLS FIRST, cnt
    """,
    doc="JSON path extraction over the events.props payload column",
    tags=("B27",),
)
def q26(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "events")
        .select(F.get_json_object("props", "$.k").alias("k_val"))
        .groupBy("k_val")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("k_val").asc_nulls_first(), F.col("cnt"))
    )


# --------------------------------------------------------------------------
# B28 — subqueries
# --------------------------------------------------------------------------
@register(
    "q29_subquery",
    oracle="""
    SELECT o_orderkey
    FROM orders o
    WHERE o_totalprice > (
        SELECT AVG(o_totalprice) FROM orders o2
        WHERE o2.o_orderpriority = o.o_orderpriority
    )
    ORDER BY o_orderkey
    """,
    doc="correlated scalar subquery; Spark plan = broadcast the tiny per-priority "
    "avg table (decorrelated aggregate) — identical semantics",
    tags=("B28",),
)
def q29(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    avgs = F.broadcast(
        o.groupBy("o_orderpriority").agg(F.avg("o_totalprice").alias("prio_avg"))
    )
    return (
        o.join(avgs, "o_orderpriority")
        .filter(F.col("o_totalprice") > F.col("prio_avg"))
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# B29 — CTE / WITH
# --------------------------------------------------------------------------
@register(
    "q30_cte",
    oracle="""
    WITH cust_geo AS (
        SELECT c_custkey, n_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    cust_orders AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price
        FROM orders GROUP BY o_custkey
    )
    SELECT n_name, COUNT(*) AS n_cust,
           CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT) AS total_orders,
           CAST(CAST(SUM(COALESCE(sum_price, 0)) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM cust_geo LEFT JOIN cust_orders ON c_custkey = o_custkey
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="CTE chain: geo dimension ⋈ per-customer order rollup → per-nation totals",
    tags=("B29",),
)
def q30(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    n = F.broadcast(load(spark, sf, "nation"))
    cust_geo = c.join(n, c.c_nationkey == n.n_nationkey).select("c_custkey", "n_name")
    cust_orders = (
        load(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.sum(F.col("o_totalprice").cast(DEC)).alias("sum_price"))
    )
    return (
        cust_geo.join(cust_orders, cust_geo.c_custkey == cust_orders.o_custkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.coalesce(F.col("n_orders"), F.lit(0))).cast("bigint").alias("total_orders"),
            F.sum(F.coalesce(F.col("sum_price"), F.lit(0))).cast(DEC).cast("double").alias("total_price"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# range join (custom operator; naive Spark plan would be nested-loop)
# --------------------------------------------------------------------------
@register(
    "q58_range_join",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS cnt
    FROM orders o JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1995-02-01'
      AND l.l_shipdate >= DATE '1995-01-01' AND l.l_shipdate < DATE '1995-02-15'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="point-in-interval range join via bucketized equi-join "
    "(operators/range_join.py): lineitem ship dates inside each order's "
    "7-day window — the plan is a hash join on bucket ids, not a nested loop, "
    "with the count PRE-AGGREGATED below the join (45 distinct days, not "
    "~1M rows, cross the range join)",
    tags=("B9",),
)
def q58(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.range_join import range_join

    epoch = F.lit("1970-01-01").cast("date")
    o = (
        load(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1995-02-01").cast("date"))
        )
        .select(
            "o_orderpriority",
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("start_day"),
        )
        .withColumn("end_day", F.col("start_day") + 7)
    )
    # Aggregation pushdown below the range join (round-11 sf1 finding): the
    # final COUNT(*) only needs lineitems PER DAY, and the point side's join
    # key has ~45 distinct values in the filtered window vs ~110k rows at
    # sf1 (~1M at 100 TB scale-equivalents). Joining raw rows materialized
    # ~470M (point, interval) pairs at sf1 — 28.7 s for 5 output rows;
    # collapsing to (ship_day, day_cnt) first makes the join 45 x |orders|
    # candidate pairs and the count a weighted sum: 28.7 -> ~2 s, identical
    # result at any scale (COUNT over a join = SUM of point-side partial
    # counts whenever the join condition depends only on the grouped key).
    l = (
        load(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1995-02-15").cast("date"))
        )
        .select(F.datediff(F.col("l_shipdate").cast("date"), epoch).alias("ship_day"))
        .groupBy("ship_day")
        .agg(F.count("*").alias("day_cnt"))
    )
    joined = range_join(
        l, o, point_col="ship_day", start_col="start_day", end_col="end_day",
        bucket_width=F.lit(7),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.sum("day_cnt").alias("cnt"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# hypertable-style time rollup: hour + day resolutions in one pass
# --------------------------------------------------------------------------
@register(
    "q59_time_rollup",
    oracle="""
    SELECT COALESCE(CAST(ts AS DATE), DATE '1900-01-01') AS day,
           CAST(COALESCE(EXTRACT(HOUR FROM ts), -1) AS INT) AS hour,
           COUNT(*) AS cnt,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY ROLLUP (CAST(ts AS DATE), EXTRACT(HOUR FROM ts))
    ORDER BY day, hour
    """,
    doc="continuous-aggregate-style rollup: hourly buckets, daily subtotals, "
    "and a grand total in ONE aggregation pass (rollup = partial-agg reuse "
    "across resolutions, the hypertable pattern). Subtotal rows carry "
    "sentinel keys (1900-01-01 / -1) instead of NULLs: a nullable-int output "
    "column round-trips through pandas as float64+NaN, which hash-diverges "
    "from Spark's int+None under the driver's canonicalization (the exact "
    "failure q53 hit in round 2 via HUGEINT)",
    tags=("B13", "B23"),
)
def q59(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select(
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").cast("int").alias("hour"),
        "value",
    )
    return (
        ev.rollup("day", "hour")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast(DEC4)).cast(DEC4).cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce("day", F.lit("1900-01-01").cast("date")).alias("day"),
            F.coalesce("hour", F.lit(-1)).cast("int").alias("hour"),
            "cnt",
            "sum_value",
        )
        .orderBy("day", "hour")
    )


# --------------------------------------------------------------------------
# B30/B31 — approx count-distinct + sampling (no hash oracle by design)
# --------------------------------------------------------------------------
@register(
    "q32_approx_count_distinct",
    oracle=None,  # sketch-dependent; tested by tolerance vs exact in tests/
    doc="HLL++ approx distinct count of lineitem part keys (rows-only driver check; "
    "±5%-of-exact asserted in tests/test_operators.py)",
    tags=("B30",),
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "lineitem")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"))
    )


@register(
    "q33_sample",
    oracle=None,  # sampling is implementation-defined; bounds asserted in tests/
    doc="seeded Bernoulli sample of orders (rows-only driver check)",
    tags=("B31",),
)
def q33(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "orders")
        .sample(fraction=0.1, seed=42)
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# batch sessionization: the batch analog of streaming session windows (S7)
# --------------------------------------------------------------------------
@register(
    "q63_batch_sessionize",
    oracle="""
    WITH lagged AS (
        SELECT user_id, ts, event_id, value,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN prev IS NULL
                        OR epoch_us(ts) - epoch_us(prev) > 3600000000
                       THEN 1 ELSE 0 END AS is_new
        FROM lagged
    ),
    sess AS (
        SELECT *, SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
        ) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS start_ts,
           MAX(ts) AS end_ts,
           CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT) AS duration_sec,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
    doc="gap-based sessionization (1h inactivity) via lag -> flag -> running "
    "sum -> per-session agg: one shuffle on user_id, every window partitions "
    "by the high-cardinality user key (batch analog of streaming S7)",
    tags=("B15", "B16", "B23"),
)
def q63(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sessionize import sessionize

    ev = load(spark, sf, "events").select("user_id", "ts", "event_id", "value")
    sess = sessionize(ev, key_col="user_id", ts_col="ts", order_cols=("event_id",), gap_seconds=3600)
    return (
        sess.groupBy("user_id", F.col("session_seq").cast("bigint").alias("session_seq"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000")
            .cast("bigint")
            .alias("duration_sec"),
            F.sum(F.col("value").cast(DEC4)).cast(DEC4).cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "session_seq")
    )


# --------------------------------------------------------------------------
# TPC-H Q5 shape: 6-table join chain with selective dimension filter
# --------------------------------------------------------------------------
@register(
    "q64_tpch_q5_shape",
    oracle="""
    SELECT n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))))
                AS DECIMAL(28,8)) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 shape: region-filtered 6-table join (local-supplier "
    "revenue); dims broadcast, the fact-fact joins shuffle on their keys and "
    "Catalyst pushes the date filter to the orders scan",
    tags=("B4", "B11"),
)
def q64(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    one = F.lit(1).cast(DEC4)
    # fact-first: lineitem is the probe side of every join (declared
    # dims-first, Spark's small-SF estimates broadcast the fact scan — see
    # q146's note; test_plans.py asserts the shape for both queries)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC4) * (one - F.col("l_discount").cast(DEC4))
            )
            .cast("decimal(28,8)")
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# --------------------------------------------------------------------------
# pivot / unpivot — wide<->long reshaping (B11/B25 composition)
# --------------------------------------------------------------------------
@register(
    "q65_pivot",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(28,2)) AS DOUBLE) AS rev_f,
           CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(28,2)) AS DOUBLE) AS rev_o,
           CAST(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(28,2)) AS DOUBLE) AS rev_p
    FROM orders GROUP BY order_year ORDER BY order_year
    """,
    doc="PIVOT: revenue by year x order-status as direct conditional "
    "aggregation — ONE shuffle on the grouping key. (DataFrame.pivot, even "
    "with explicit values, lowers to two chained aggregates with an extra "
    "exchange on (group, pivot) keys; with a known value set the CASE WHEN "
    "form is strictly better and is what a pivot means relationally)",
    tags=("B11", "B25"),
)
def q65(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")

    def rev(status: str) -> F.Column:
        return (
            F.sum(F.when(F.col("o_orderstatus") == status, F.col("price")))
            .cast("decimal(28,2)")
            .cast("double")
            .alias(f"rev_{status.lower()}")
        )

    return (
        o.select(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            "o_orderstatus",
            F.col("o_totalprice").cast(DEC).alias("price"),
        )
        .groupBy("order_year")
        .agg(rev("F"), rev("O"), rev("P"))
        .orderBy("order_year")
    )


@register(
    "q66_unpivot",
    oracle="""
    WITH wide AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
               CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(28,2)) AS DOUBLE) AS rev_f,
               CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(28,2)) AS DOUBLE) AS rev_o,
               CAST(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(28,2)) AS DOUBLE) AS rev_p
        FROM orders GROUP BY order_year
    )
    SELECT order_year, status, revenue FROM (
        SELECT order_year, 'F' AS status, rev_f AS revenue FROM wide
        UNION ALL SELECT order_year, 'O', rev_o FROM wide
        UNION ALL SELECT order_year, 'P', rev_p FROM wide
    ) WHERE revenue IS NOT NULL
    ORDER BY order_year, status
    """,
    doc="UNPIVOT (wide->long melt) of the pivoted revenue table via "
    "DataFrame.unpivot — a zero-shuffle per-row expansion (Expand node), "
    "NULL cells dropped to mirror sparse long form",
    tags=("B11", "B25"),
)
def q66(spark: SparkSession, sf: str) -> DataFrame:
    wide = q65(spark, sf)
    return (
        wide.unpivot(
            ids=["order_year"],
            values=["rev_f", "rev_o", "rev_p"],
            variableColumnName="status",
            valueColumnName="revenue",
        )
        .filter(F.col("revenue").isNotNull())
        .withColumn("status", F.upper(F.substring("status", 5, 1)))
        .orderBy("order_year", "status")
    )


# --------------------------------------------------------------------------
# exact percentiles (ordered-set aggregates)
# --------------------------------------------------------------------------
@register(
    "q67_percentiles",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.9) AS p90,
           quantile_cont(value, 0.5) AS median_cont,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="exact percentile_disc/percentile per event type. Spark computes "
    "exact percentiles with a per-group sorted aggregation buffer — fine for "
    "bounded group counts; unbounded-cardinality keys at 100 TB should use "
    "approx_percentile (q32's sketch pattern) instead",
    tags=("B11",),
)
def q67(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90"),
            F.expr("percentile(value, 0.5)").alias("median_cont"),
            F.count("*").cast("bigint").alias("n"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# CDC compaction: latest row per key (the batch materialization of a
# change-stream — reference's downstream consumers build exactly this view)
# --------------------------------------------------------------------------
@register(
    "q68_latest_per_key",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT user_id, event_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    ORDER BY user_id
    """,
    doc="latest-state compaction: one row per key by (ts, event_id) "
    "tiebreak — the batch view a CDC queue consumer materializes. One "
    "shuffle on the high-cardinality key; Spark plans a partial windowed "
    "top-1 (WindowGroupLimit pushes rn<=1 below the sort) so no full "
    "per-partition sort materializes",
    tags=("B15", "B16"),
)
def q68(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select("user_id", "event_id", "ts", "event_type", "value")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# map-typed column functions (B26/B27 companion: map_from_entries,
# map_filter, explode over maps)
# --------------------------------------------------------------------------
@register(
    "q69_map_funcs",
    oracle="""
    SELECT user_id, event_type, CAST(n AS BIGINT) AS n FROM (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type
    ) WHERE n >= 3
    ORDER BY user_id, event_type
    """,
    doc="map-typed columns: per-user event-type counts packed with "
    "map_from_entries, pruned JVM-side with map_filter, unpacked with "
    "explode. The map stays inside one aggregation's output row — no "
    "per-entry shuffle amplification; at scale this is the idiom for "
    "carrying small per-key dictionaries through a pipeline",
    tags=("B26", "B27"),
)
def q69(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    packed = per_type.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("counts")
    )
    pruned = packed.select(
        "user_id", F.map_filter("counts", lambda _, v: v >= 3).alias("counts")
    )
    return (
        pruned.select("user_id", F.explode("counts").alias("event_type", "n"))
        .select("user_id", "event_type", F.col("n").cast("bigint").alias("n"))
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# edit-distance fuzzy matching (E2-adjacent deterministic tier)
# --------------------------------------------------------------------------
@register(
    "q70_fuzzy_match",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
    WHERE levenshtein(a.p_name, b.p_name) <= 6
    ORDER BY id_a
    """,
    doc="Levenshtein fuzzy name matching over candidate pairs (consecutive "
    "ids here; any blocked candidate set in practice). Edit distance runs "
    "JVM-side per pair — the scale rule is the same as every dedup tier: "
    "generate bounded candidates first (LSH/blocking), never all-pairs. "
    "Cross-engine note: Spark's levenshtein counts code points, DuckDB's "
    "counts bytes; p_name is ASCII by the TPC-H column spec, so the two "
    "agree here — free-text inputs must ASCII-fold first (q139/q180)",
    tags=("B22",),
)
def q70(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part").select("p_partkey", "p_name")
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"))
    b = p.select(
        (F.col("p_partkey") - 1).alias("join_id"),
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(b, a.id_a == b.join_id)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= 6)
        .orderBy("id_a")
    )


# --------------------------------------------------------------------------
# time-range window frames (B16 companion: RANGE BETWEEN INTERVAL)
# --------------------------------------------------------------------------
@register(
    "q71_range_frame",
    oracle="""
    SELECT user_id, event_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS DECIMAL(18,4)) AS DOUBLE) AS rolling_1h
    FROM events
    ORDER BY user_id, event_id
    """,
    doc="event-time range frame: per-user rolling 1-hour sum (RANGE BETWEEN "
    "INTERVAL — frame membership by timestamp value, not row offset). One "
    "shuffle on the high-cardinality user key; decimal accumulation keeps "
    "the running sum order-independent and oracle-exact",
    tags=("B16", "B23"),
)
def q71(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select(
        "user_id", "event_id", "ts", F.col("value").cast(DEC4).alias("dval")
    )
    return (
        ev.withColumn(
            "rolling_1h",
            F.expr(
                "SUM(dval) OVER (PARTITION BY user_id ORDER BY ts "
                "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
            ).cast(DEC4).cast("double"),
        )
        .select("user_id", "event_id", "rolling_1h")
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# SQL-standard FILTER clause aggregates (B11/B25 composition)
# --------------------------------------------------------------------------
@register(
    "q72_filtered_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O')
                AS DECIMAL(28,2)) AS DOUBLE) AS open_revenue
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="FILTER-clause aggregation: several differently-predicated aggregates "
    "in ONE pass / one shuffle (the multi-metric scan idiom — N metrics never "
    "cost N scans)",
    tags=("B11", "B25"),
)
def q72(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).cast("bigint").alias("n_finished"),
            F.sum(
                F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice").cast(DEC))
            )
            .cast("decimal(28,2)")
            .cast("double")
            .alias("open_revenue"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# ordered string aggregation (B11/B22 composition)
# --------------------------------------------------------------------------
@register(
    "q73_string_agg",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
    doc="ordered string aggregation: per-region sorted nation list. "
    "collect_list order is partition-dependent in Spark, so determinism "
    "comes from array_sort before array_join — the only safe listagg "
    "formulation on a distributed engine",
    tags=("B11", "B22"),
)
def q73(spark: SparkSession, sf: str) -> DataFrame:
    n = load(spark, sf, "nation")
    r = F.broadcast(load(spark, sf, "region"))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").cast("bigint").alias("n"),
        )
        .orderBy("r_name")
    )


# --------------------------------------------------------------------------
# time-series gap filling / densification (B23/B26 composition)
# --------------------------------------------------------------------------
@register(
    "q76_gap_fill",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('day', MIN(o_orderdate)) AS lo,
               date_trunc('day', MAX(o_orderdate)) AS hi
        FROM orders
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    actual AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               COUNT(*) AS n_orders
        FROM orders GROUP BY day
    )
    SELECT s.day, CAST(COALESCE(a.n_orders, 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN actual a ON a.day = s.day
    ORDER BY s.day
    """,
    doc="gap filling: a sequence()-generated day spine left-joined to the "
    "per-day aggregate, empty days densified to 0. The spine generates "
    "distributed via explode(sequence(min, max)) — no driver-side range "
    "loop; the min/max bounds are a single tiny aggregate broadcast into "
    "the join",
    tags=("B23", "B26"),
)
def q76(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    bounds = o.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day_ts")
    ).select(F.col("day_ts").cast("date").alias("day"))
    actual = (
        o.select(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        spine.join(actual, "day", "left")
        .select("day", F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# ntile quantile bucketing (B15 companion)
# --------------------------------------------------------------------------
@register(
    "q77_ntile_deciles",
    oracle="""
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(MIN(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS lo,
           CAST(CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS hi
    FROM (
        SELECT c_acctbal,
               NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
        FROM customer
    )
    GROUP BY decile ORDER BY decile
    """,
    doc="NTILE decile bucketing of account balances (deterministic via the "
    "custkey tiebreak) + per-bucket stats. Uses operators/ntile.py's "
    "distributed exact NTILE (literal approx-percentile cutpoints bucket "
    "the rows, the rank is prefix_sum.bucketed_running_sum of 1 over "
    "(bucket, order) with a P-row offset collect) — bit-identical to the "
    "oracle's NTILE window with NO single-partition sort anywhere in the "
    "plan. EAGER BUILDER: the cutpoint-sketch and offset jobs run at "
    "construction time and snapshot into plan literals (PLANS.md)",
    tags=("B15",),
)
def q77(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ntile import global_ntile

    c = load(spark, sf, "customer").select("c_acctbal", "c_custkey")
    return (
        global_ntile(c, 10, ["c_acctbal", "c_custkey"], out_col="decile")
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min(F.col("c_acctbal").cast(DEC)).cast(DEC).cast("double").alias("lo"),
            F.max(F.col("c_acctbal").cast(DEC)).cast(DEC).cast("double").alias("hi"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# distribution window functions (B15 companion: percent_rank / cume_dist)
# --------------------------------------------------------------------------
@register(
    "q78_distribution_windows",
    oracle="""
    SELECT s_nationkey, s_suppkey,
           CAST(FLOOR(10000 * PERCENT_RANK() OVER w) AS BIGINT) AS pr_bp,
           CAST(FLOOR(10000 * CUME_DIST() OVER w) AS BIGINT) AS cd_bp
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    ORDER BY s_nationkey, s_suppkey
    """,
    doc="distribution window functions: per-nation percent_rank / cume_dist "
    "of supplier balances, in integer basis points (floor) so the ratio "
    "arithmetic is float-order independent across engines. Partitioned by "
    "the nation key — no global sort",
    tags=("B15",),
)
def q78(spark: SparkSession, sf: str) -> DataFrame:
    s = load(spark, sf, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return (
        s.select(
            "s_nationkey",
            "s_suppkey",
            F.floor(10000 * F.percent_rank().over(w)).cast("bigint").alias("pr_bp"),
            F.floor(10000 * F.cume_dist().over(w)).cast("bigint").alias("cd_bp"),
        )
        .orderBy("s_nationkey", "s_suppkey")
    )


# --------------------------------------------------------------------------
# multiset set operations (B20 companion: INTERSECT ALL / EXCEPT ALL)
# --------------------------------------------------------------------------
@register(
    "q79_multiset_ops",
    oracle="""
    SELECT 'intersect_all' AS op, nk, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT c_nationkey AS nk FROM customer
        INTERSECT ALL
        SELECT s_nationkey FROM supplier
    ) GROUP BY nk
    UNION ALL
    SELECT 'except_all', nk, CAST(COUNT(*) AS BIGINT) FROM (
        SELECT c_nationkey AS nk FROM customer
        EXCEPT ALL
        SELECT s_nationkey FROM supplier
    ) GROUP BY nk
    ORDER BY op, nk
    """,
    doc="multiset INTERSECT ALL / EXCEPT ALL (duplicate-preserving set ops — "
    "cardinality min/difference per value, not membership). Spark plans both "
    "as a single aggregate-join on the value, no row explosion",
    tags=("B20",),
)
def q79(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nk"))
    ia = (
        c.intersectAll(s)
        .groupBy("nk")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "nk", "n")
    )
    ea = (
        c.exceptAll(s)
        .groupBy("nk")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.lit("except_all").alias("op"), "nk", "n")
    )
    return ia.unionAll(ea).orderBy("op", "nk")


# --------------------------------------------------------------------------
# null grouping-key semantics (B11/B25 edge: NULL is one group)
# --------------------------------------------------------------------------
@register(
    "q80_null_group_keys",
    oracle="""
    SELECT NULLIF(o_orderpriority, '1-URGENT') AS prio,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(o_custkey) AS BIGINT) AS n_nonnull_cust
    FROM orders
    GROUP BY prio
    ORDER BY prio NULLS FIRST
    """,
    doc="NULL grouping keys collapse into ONE group in both engines "
    "(SQL GROUP BY null-equality, unlike join-key null semantics); NULLIF "
    "manufactures the nulls and the count(col) vs count(*) distinction "
    "rides along",
    tags=("B11", "B25"),
)
def q80(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return (
        o.select(
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("prio"), "o_custkey"
        )
        .groupBy("prio")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count("o_custkey").cast("bigint").alias("n_nonnull_cust"),
        )
        .orderBy(F.col("prio").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# LATERAL correlated subquery (B28 companion)
# --------------------------------------------------------------------------
@register(
    "q81_lateral_join",
    oracle="""
    SELECT r_name, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
    FROM region r,
    LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                      JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 2
    )
    ORDER BY r_name, price DESC, o_orderkey
    """,
    doc="LATERAL correlated subquery: top-2 orders per region, expressed as "
    "the SQL-standard lateral (Spark SQL and DuckDB both support it; Spark "
    "decorrelates it into a ranked window join rather than re-executing the "
    "subquery per outer row)",
    tags=("B28", "B18"),
)
def q81(spark: SparkSession, sf: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf)
    return spark.sql(
        """
        SELECT r_name, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM region r,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                          JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey
            LIMIT 2
        )
        ORDER BY r_name, price DESC, o_orderkey
        """
    )


# --------------------------------------------------------------------------
# forward fill / last-observation-carried-forward (B16/B25 composition)
# --------------------------------------------------------------------------
@register(
    "q82_forward_fill",
    oracle="""
    SELECT user_id, event_id,
           CAST(LAST_VALUE(CASE WHEN value >= 35 THEN CAST(value AS DECIMAL(18,4)) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
               AS DOUBLE) AS filled
    FROM events
    ORDER BY user_id, event_id
    """,
    doc="forward fill (LOCF): carry the last non-null observation forward "
    "per key — last_value IGNORE NULLS over a running frame. The sensor-"
    "table gap-repair idiom; one shuffle on the key, no self-join",
    tags=("B16", "B25"),
)
def q82(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    observed = F.when(F.col("value") >= 35, F.col("value").cast(DEC4))
    return (
        ev.select(
            "user_id",
            "event_id",
            F.last(observed, ignorenulls=True).over(w).cast("double").alias("filled"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# first-touch event funnel (sequence analytics over the events stream)
# --------------------------------------------------------------------------
@register(
    "q94_event_funnel",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    tv AS (
        SELECT user_id, MIN(ts) AS tv FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    tc AS (
        SELECT e.user_id, MIN(e.ts) AS tc
        FROM events e JOIN tv ON e.user_id = tv.user_id
        WHERE e.event_type = 'click' AND e.ts > tv.tv
          AND epoch_us(e.ts) - epoch_us(tv.tv) <= 259200000000
        GROUP BY e.user_id
    ),
    tb AS (
        SELECT e.user_id, MIN(e.ts) AS tb
        FROM events e JOIN tc ON e.user_id = tc.user_id
        WHERE e.event_type = 'purchase' AND e.ts > tc.tc
          AND epoch_us(e.ts) - epoch_us(tc.tc) <= 259200000000
        GROUP BY e.user_id
    )
    SELECT CAST(CASE WHEN tb.user_id IS NOT NULL THEN 3
                     WHEN tc.user_id IS NOT NULL THEN 2
                     WHEN tv.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u LEFT JOIN tv ON u.user_id = tv.user_id
           LEFT JOIN tc ON u.user_id = tc.user_id
           LEFT JOIN tb ON u.user_id = tb.user_id
    GROUP BY stage ORDER BY stage
    """,
    doc="first-touch conversion funnel: per user, earliest view, earliest "
    "click within 3 days AFTER that view, earliest purchase within 3 days "
    "AFTER that click (window sized so the synthetic data populates all "
    "three stages); users "
    "bucketed by deepest stage reached. One BASE pass (conditional min "
    "gives every user and their first view in the same aggregate), then "
    "one pruned slice pass per later stage — the sequential-dependency "
    "minimum of three fact scans without per-user buffering; the naive "
    "chained form re-derived tv inside tc inside tb for SEVEN scans in "
    "the executed plan, so the stage frontiers are lazily checkpointed. "
    "All passes keyed on user_id (co-partitioned joins and aggs); strict "
    "ts-ordering makes the sequencing deterministic and hash-checkable",
    tags=("B11", "B23"),
)
def q94(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select("user_id", "event_type", "ts")
    from ..operators import materialize_once

    # ONE base pass gives every user AND their first view (u and tv were
    # separate scans before); lazy checkpoints stop the sequential stages
    # from re-deriving each other's subtrees — the naive chaining re-ran
    # tv inside tc inside tb for SEVEN events scans in the executed plan,
    # this shape runs exactly three (full pass + click slice + purchase
    # slice, the sequential-dependency minimum without per-user buffering)
    base = materialize_once(
        ev.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("tv")
        ),
        eager=False,
    )
    tc = materialize_once(
        ev.filter(F.col("event_type") == "click")
        .join(base.filter(F.col("tv").isNotNull()), "user_id")
        .filter(
            (F.col("ts") > F.col("tv"))
            & (F.unix_micros("ts") - F.unix_micros("tv") <= 259_200_000_000)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc")),
        eager=False,
    )
    tb = (
        ev.filter(F.col("event_type") == "purchase")
        .join(tc, "user_id")
        .filter(
            (F.col("ts") > F.col("tc"))
            & (F.unix_micros("ts") - F.unix_micros("tc") <= 259_200_000_000)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tb"))
    )
    stage = (
        F.when(F.col("tb").isNotNull(), 3)
        .when(F.col("tc").isNotNull(), 2)
        .when(F.col("tv").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        base.join(tc, "user_id", "left")
        .join(tb, "user_id", "left")
        .select(stage.cast("int").alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("stage")
    )


@register(
    "q95_cohort_retention",
    oracle="""
    WITH first AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT f.cohort, CAST(e.ts AS DATE) - f.cohort AS k, e.user_id
        FROM events e JOIN first f USING (user_id)
    )
    SELECT cohort, CAST(k AS INT) AS k, CAST(COUNT(*) AS BIGINT) AS n_active
    FROM act GROUP BY cohort, k ORDER BY cohort, k
    """,
    doc="cohort retention: users grouped by first-activity day, counted "
    "distinct-active at each day offset — the standard retention-curve "
    "input. Two aggregations and one join, ALL keyed on user_id until the "
    "final (cohort, k) rollup, so the first-activity join is "
    "co-partitioned with the distinct; the (cohort, k) result is tiny "
    "(days x days upper bound) regardless of corpus size",
    tags=("B11", "B23"),
)
def q95(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select("user_id", F.col("ts").cast("date").alias("d"))
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort"))
    act = (
        ev.join(first, "user_id")
        .select("cohort", F.datediff("d", F.col("cohort")).alias("k"), "user_id")
        .distinct()
    )
    return (
        act.groupBy("cohort", F.col("k").cast("int").alias("k"))
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .orderBy("cohort", "k")
    )


@register(
    "q101_salted_aggregate",
    oracle="""
    SELECT event_type,
           CAST(COUNT(event_id) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="hot-key aggregation through the skew tier "
    "(`operators/skew.salted_aggregate`): group on (event_type, salt) first "
    "— each of the handful of mega-hot event types fans out across 32 "
    "reducers — then combine the partials per key. The salt never reaches "
    "the result, so the output is EXACTLY the plain GROUP BY (decimal "
    "partials keep the double sum order-independent) and the query carries "
    "a full hash oracle; two hash shuffles, the second over |keys| x salt "
    "rows only",
    tags=("B11",),
)
def q101(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.skew import salted_aggregate

    ev = load(spark, sf, "events").select(
        "event_type", "event_id", F.col("value").cast("decimal(18,6)").alias("v")
    )
    out = salted_aggregate(
        ev,
        keys=["event_type"],
        aggs=[("count", "event_id", "n_events"), ("sum", "v", "sum_v")],
        salt_buckets=32,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_v").cast("double").alias("sum_value"),
    ).orderBy("event_type")


@register(
    "q102_time_bars",
    oracle="""
    WITH ranked AS (
        SELECT event_type, date_trunc('hour', ts) AS bar, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type,
           strftime(bar, '%Y-%m-%d %H:%M:%S') AS bar_ts,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open_v,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close_v,
           ROUND(MAX(value), 6) AS high_v,
           ROUND(MIN(value), 6) AS low_v,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM ranked GROUP BY event_type, bar
    ORDER BY event_type, bar_ts
    """,
    doc="OHLC time-bar resampling (the hypertable continuous-aggregate "
    "shape): hourly open/high/low/close per event_type, open/close as "
    "min_by/max_by over the (ts, event_id) total order — ONE partial-agg "
    "shuffle on (type, bar), no window in the Spark plan (the oracle's "
    "double ROW_NUMBER is the SQL equivalent; min_by/max_by fold the same "
    "selection into the hash aggregate, which is the plan that survives "
    "100 TB of events). Ties on ts are broken by event_id on both sides",
    tags=("B11", "B23"),
)
def q102(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("bar"))
        .agg(
            F.min_by(F.col("value"), order_key).alias("o"),
            F.max_by(F.col("value"), order_key).alias("c"),
            F.max("value").alias("h"),
            F.min("value").alias("l"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type",
            F.date_format("bar", "yyyy-MM-dd HH:mm:ss").alias("bar_ts"),
            F.round("o", 6).alias("open_v"),
            F.round("c", 6).alias("close_v"),
            F.round("h", 6).alias("high_v"),
            F.round("l", 6).alias("low_v"),
            F.col("n").cast("bigint").alias("n_events"),
        )
        .orderBy("event_type", "bar_ts")
    )


# --------------------------------------------------------------------------
# SCD2 history materialization (q68's history-keeping sibling: the OTHER
# batch view a CDC consumer builds — full validity intervals, not latest)
# --------------------------------------------------------------------------
@register(
    "q129_scd2_history",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           CAST(LEAD(epoch_us(ts)) OVER w AS BIGINT) AS valid_to_us,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS row_version,
           (LEAD(epoch_us(ts)) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
    doc="slowly-changing-dimension type-2 materialization of the change "
    "stream: every version of a key gets [valid_from, valid_to) validity "
    "bounds (exact integer micros), a version number, and an is_current "
    "flag — q68 keeps only the latest row; this keeps the full history a "
    "time-travel join (q31 as-of) consumes. ONE shuffle on the "
    "high-cardinality key serves both window functions (same WINDOW "
    "spec); no aggregation, no Python. The reference's downstream "
    "consumers build exactly this view from the queue "
    "(mrcond/src/replicator.rs:105 ships each change event; versioning "
    "is the consumer's job — this is that job as one declarative window)",
    tags=("B15", "B16", "B23"),
)
def q129(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    nxt = F.lead(us, 1).over(w)
    return (
        ev.select(
            "event_id",
            "user_id",
            "value",
            us.cast("bigint").alias("valid_from_us"),
            nxt.cast("bigint").alias("valid_to_us"),
            F.row_number().over(w).cast("bigint").alias("row_version"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# q146 — TPC-H Q5: the canonical 6-table join-reordering stress
# --------------------------------------------------------------------------
@register(
    "q146_tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,18))), 2) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1995-01-01'
      AND o_orderdate < DATE '1996-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 (local-supplier volume): the canonical join-order stress "
    "— six tables, a region filter that must PRUNE through "
    "region->nation->supplier/customer before the fact join, and the "
    "c_nationkey = s_nationkey 'local supplier' condition that correlates "
    "two dimension paths. Declared relationally and left to Catalyst: the "
    "date filter pushes into the orders scan, region/nation broadcast, "
    "and the lineitem join keys drive the only big shuffles. Revenue = "
    "extendedprice*(1-discount) per row (deterministic double product) "
    "summed through DECIMAL(38,18) — order-independent, so the hash "
    "matches the oracle exactly. 100 TB: the classic plan — two fact-"
    "sized hash shuffles (orders⋈lineitem key), everything else broadcast",
    tags=("B3", "B4", "B11"),
)
def q146(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
    )
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    # fact-first join order: lineitem is ALWAYS the probe/stream side.
    # (Declared the other way round — dims first — Spark's size estimates
    # at small SF put a BroadcastExchange on the 600k-row lineitem scan:
    # measured 5.2 s at sf0.1 and a plan that cannot exist at 100 TB.
    # Fact-first keeps every join building on the dimension side: 1.0 s,
    # and tests/test_plans.py asserts no broadcast ever sits on the
    # lineitem scan.)
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy("n_name")
        .agg(
            # round the EXACT decimal sum first, cast to double after: both
            # engines round decimals half-away-from-zero, but rounding after
            # the double cast diverges when a sum lands within ~1 ulp of a
            # .xx5 boundary (the .skew sweep's hot supplier produced exactly
            # that — a 1-cent hash mismatch; PERF.md skew sweep, finding 2)
            F.round(F.sum(rev.cast("decimal(38,18)")), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# --------------------------------------------------------------------------
# q147 — RANGE-interval window frame: 7-day trailing aggregate per user
# --------------------------------------------------------------------------
@register(
    "q147_trailing_window",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        FROM events
    )
    SELECT user_id, event_id, ts_us,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,18))) OVER w,
                 4) AS DOUBLE) AS sum_7d
    FROM e
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts_us
        RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
    )
    ORDER BY user_id, ts_us, event_id
    """,
    doc="B16's VALUE-RANGE frame (every other window in the corpus uses "
    "ROWS or unbounded frames): per-user trailing 7-day event count and "
    "value sum — 'activity in the last week as of each event'. The frame "
    "bound is 604,800,000,000 integer MICROSECONDS over epoch-micros, not "
    "an INTERVAL literal: identical integer range arithmetic in both "
    "engines, no calendar/interval-type semantics to diverge, and ties on "
    "ts land in the same frame deterministically. The SEMANTICS are the "
    "oracle's RANGE frame; the Spark side deliberately does NOT execute "
    "one: Spark's SlidingWindowFunctionFrame re-aggregates the whole "
    "buffer on every bound move — O(n·w) per key partition, which the "
    ".skew sweep measured as an hours-long single-core straggler on a "
    "hot user owning 30% of the stream (300k rows x ~70k-row frames; "
    "PERF.md skew sweep finding 3). Executed instead as two INCREMENTAL "
    "unbounded-preceding running aggregates (exact decimal cumsum + "
    "count) aligned at ts - 7d - 1us by the tie-safe union+window as-of "
    "trick (builds sort before probes on equal ts, RANGE cumsum gives "
    "tied rows one value): trailing = running - running_before_window. "
    "All passes are linear in partition size. 100 TB: two hash shuffles "
    "on user_id plus one event_id join — every stage parallelizes, hot "
    "keys cost O(n) not O(n^2)",
    tags=("B16", "B23"),
)
def q147(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    # pass 1: exact running aggregates. RANGE (not ROWS) unbounded frame so
    # every row tied on ts_us carries the same cumulative value — that is
    # what makes the as-of subtraction below tie-deterministic.
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # base feeds three plan branches (builds, probes, the final join) and
    # Catalyst recomputes the scan+window per branch. materialize_once here
    # was MEASURED AND REJECTED (the q123/q144 rule — per-site, never
    # blanket): checkpoint-writing 1M rows of decimal cumsums costs more
    # than recomputing the cheap window 3x at every tested scale
    # (sf0.1 2.25->6.3 s, sf1 2.49->5.79 s, .skew 3.08->5.43 s).
    base = ev.select(
        "user_id",
        "event_id",
        "ts_us",
        F.sum(F.col("value").cast("decimal(38,18)")).over(wcum).alias("cum_sum"),
        F.count("*").over(wcum).alias("cum_n"),
    )
    # pass 2: align each event against the running totals JUST BEFORE its
    # frame start. Frame = [ts - 7d, ts] inclusive, so the subtracted
    # prefix is everything with ts <= ts - 7d - 1us (integer micros).
    builds = base.select(
        "user_id",
        F.col("ts_us").alias("pts"),
        F.lit(0).alias("flag"),
        "cum_sum",
        "cum_n",
        F.lit(None).cast("bigint").alias("probe_id"),
    )
    probes = base.select(
        "user_id",
        (F.col("ts_us") - F.lit(604_800_000_001)).alias("pts"),
        F.lit(1).alias("flag"),
        F.lit(None).cast("decimal(38,18)").alias("cum_sum"),
        F.lit(None).cast("bigint").alias("cum_n"),
        F.col("event_id").alias("probe_id"),
    )
    wal = (
        Window.partitionBy("user_id")
        .orderBy("pts", "flag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = (
        builds.unionByName(probes)
        .select(
            "probe_id",
            "flag",
            F.last("cum_sum", ignorenulls=True).over(wal).alias("before_sum"),
            F.last("cum_n", ignorenulls=True).over(wal).alias("before_n"),
        )
        .filter(F.col("flag") == 1)
        .select("probe_id", "before_sum", "before_n")
    )
    return (
        base.join(before, base["event_id"] == before["probe_id"])
        .select(
            "user_id",
            "event_id",
            "ts_us",
            (F.col("cum_n") - F.coalesce(F.col("before_n"), F.lit(0)))
            .cast("bigint")
            .alias("n_7d"),
            # decimal-exact round BEFORE the double cast (same 1-ulp
            # boundary hazard as q146 — see PERF.md skew sweep finding 2)
            F.round(
                F.col("cum_sum")
                - F.coalesce(
                    F.col("before_sum"), F.lit(0).cast("decimal(38,18)")
                ),
                4,
            )
            .cast("double")
            .alias("sum_7d"),
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


# --------------------------------------------------------------------------
# q148 — MERGE-style CDC upsert compaction (snapshot + change batch -> snapshot)
# --------------------------------------------------------------------------
@register(
    "q148_merge_upsert",
    oracle="""
    WITH changes AS (
        SELECT o_orderkey AS k, 'U' AS op,
               o_totalprice + 100.0 AS new_price, o_orderstatus AS new_status
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, 'D', NULL, NULL
        FROM orders WHERE o_orderkey % 17 = 0 AND o_orderkey % 10 != 0
        UNION ALL
        SELECT o_orderkey + 1099511627776, 'I', 1000.0, 'N'
        FROM orders WHERE o_orderkey % 23 = 0
    )
    SELECT COALESCE(o.o_orderkey, c.k) AS o_orderkey,
           COALESCE(c.new_status, o.o_orderstatus) AS status,
           COALESCE(c.new_price, o.o_totalprice) AS totalprice,
           COALESCE(c.op, '=') AS applied_op
    FROM orders o FULL OUTER JOIN changes c ON o.o_orderkey = c.k
    WHERE c.op IS NULL OR c.op != 'D'
    ORDER BY o_orderkey
    """,
    doc="MERGE INTO semantics as a declarative plan: apply a CDC change "
    "batch (updates, deletes, inserts — the reference connector's event "
    "stream, compacted) to a snapshot and emit the next snapshot. One "
    "FULL OUTER join on the key + coalesce per column + a delete filter — "
    "exactly what Delta/Iceberg MERGE plans under the hood. The change "
    "batch here is derived deterministically from the snapshot itself "
    "(key-modulus classes, disjoint by construction: delete excludes "
    "update keys, insert keys are tagged with a 2^40 bit the natural key "
    "space cannot reach — the q-planting convention), so the oracle is "
    "exact: update arithmetic is one double add, everything else is "
    "stored-value passthrough. Complements q68 (latest-per-key event "
    "compaction) and q129 (SCD2 history): this is the SNAPSHOT writer. "
    "100 TB: one co-partitioned full-outer shuffle on the key; store the "
    "snapshot bucketed by key (DataFrameWriter.bucketBy) and the "
    "snapshot side of the MERGE never shuffles at all",
    tags=("B5", "B25"),
)
def q148(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    upd = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + 100.0).alias("new_price"),
        F.col("o_orderstatus").alias("new_status"),
    )
    dele = o.filter((F.col("o_orderkey") % 17 == 0) & (F.col("o_orderkey") % 10 != 0)).select(
        F.col("o_orderkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_price"),
        F.lit(None).cast("string").alias("new_status"),
    )
    ins = o.filter(F.col("o_orderkey") % 23 == 0).select(
        (F.col("o_orderkey") + F.lit(1099511627776)).alias("k"),
        F.lit("I").alias("op"),
        F.lit(1000.0).alias("new_price"),
        F.lit("N").alias("new_status"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    merged = o.join(changes, o.o_orderkey == changes.k, "full_outer")
    return (
        merged.filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce(F.col("o_orderkey"), F.col("k")).alias("o_orderkey"),
            F.coalesce(F.col("new_status"), F.col("o_orderstatus")).alias("status"),
            F.coalesce(F.col("new_price"), F.col("o_totalprice")).alias("totalprice"),
            F.coalesce(F.col("op"), F.lit("=")).alias("applied_op"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# q149 — HLL sketch-partial rollup (mergeable aggregates, the 100 TB pattern)
# --------------------------------------------------------------------------
@register(
    "q149_hll_rollup",
    oracle=None,  # sketch estimates are engine-specific; ±5% pytest instead
    doc="the mergeable-aggregate pattern that makes distinct counting "
    "feasible at 100 TB: build an HLL sketch of user_id per (event_type, "
    "day) — the granularity you'd persist in a metrics store — then "
    "answer the per-type TOTAL distinct-user question by UNIONING the "
    "stored sketches (hll_union_agg), never rescanning the raw events. "
    "Apache DataSketches HLL via Spark 3.5+ built-ins; one shuffle to "
    "build partials, a |days x types|-sized second pass to merge. "
    "Rows-only driver check by design (sketch binaries are "
    "engine-specific); tests/test_operators.py bounds the union-merged "
    "estimate within ±5%% of the exact distinct count and pins "
    "merge-consistency (merged estimate == whole-table sketch estimate)",
    tags=("B30", "B11"),
)
def q149(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("bigint")
            .alias("est_users"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q150 — interval union / gaps-and-islands (activity coverage per user)
# --------------------------------------------------------------------------
#: each event opens a 5-minute activity interval
_ISLAND_WIDTH_US = 300_000_000


@register(
    "q150_interval_coverage",
    oracle=f"""
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) + {_ISLAND_WIDTH_US} AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN s > MAX(e) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    OR MAX(e) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS UNBOUNDED PRECEDING) AS island_id
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island_id,
               MIN(s) AS island_s, MAX(e) AS island_e
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_e - island_s) AS BIGINT) AS covered_us,
           CAST(MAX(island_e - island_s) AS BIGINT) AS longest_us
    FROM merged GROUP BY user_id
    ORDER BY user_id
    """,
    doc="interval union (the gaps-and-islands problem): each event opens a "
    "5-minute activity interval; overlapping intervals merge into islands "
    "and the query reports per-user island count, total covered time, and "
    "longest unbroken stretch — the session-coverage number engagement "
    "and rate-limiting analyses need, and the classic pattern behind "
    "interval-overlap compaction. A row starts a new island iff its start "
    "exceeds the running MAX of all earlier interval ENDS (not simply the "
    "previous row's end — an earlier long interval can swallow several "
    "later ones); island ids are the running sum of those flags. All in "
    "exact integer micros — no float, no calendar arithmetic. 100 TB: "
    "ONE hash shuffle on user_id, reused by both windows (same partition "
    "spec) and the aggregate; islands never cross users, so every stage "
    "parallelizes per key",
    tags=("B16", "B23", "B11"),
)
def q150(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    # event_id (unique) is the window tiebreak, NOT e: both windows order by
    # (s, e) was ambiguous once rows tie on ts — after pass 1 the tied rows
    # differ in new_island, so pass 2's re-sort could land the flag-carrier
    # mid-group and attach tied intervals to the PREVIOUS island. Each
    # engine resolved the tie differently (same island count, different
    # covered_us on the .skew hot user — PERF.md skew sweep finding 4).
    # A total (s, event_id) order is deterministic in both engines and lets
    # the two window passes share one in-partition sort.
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + _ISLAND_WIDTH_US).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_e = F.max("e").over(w_prev)
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island_id", F.sum("new_island").over(w_run))
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_s"), F.max("e").alias("island_e")
    )
    span = F.col("island_e") - F.col("island_s")
    return (
        merged.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_islands"),
            F.sum(span).cast("bigint").alias("covered_us"),
            F.max(span).cast("bigint").alias("longest_us"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q151 — exact weighted median per group (weight-aware robust center)
# --------------------------------------------------------------------------
@register(
    "q151_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag, l_extendedprice AS v,
               CAST(l_quantity AS BIGINT) AS wt
        FROM lineitem
    ),
    cum AS (
        SELECT l_returnflag, v, wt,
               SUM(wt) OVER (
                   PARTITION BY l_returnflag ORDER BY v, wt
                   ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
        FROM w
    )
    SELECT l_returnflag,
           CAST(MAX(tw) AS BIGINT) AS total_weight,
           MIN(CASE WHEN 2 * cw >= tw THEN v END) AS weighted_median
    FROM cum
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="exact weighted median: the smallest value whose running weight "
    "reaches half the group's total — quantity-weighted price per return "
    "flag ('the price at which half the shipped VOLUME is cheaper', which "
    "an unweighted median misstates whenever quantity correlates with "
    "price). The return-flag key has cardinality 3, so a naive "
    "PARTITION BY flag window is three corpus/3-row single tasks — the "
    "low-cardinality cousin of the single-reducer window this repo "
    "eliminated in ntile.py/prefix_sum.py. Instead the running weight is "
    "computed with a TWO-LEVEL banded window, fully lazy: (1) band = "
    "floor(v/step), order-aligned with v by construction, so the global "
    "per-flag order (v, wt) equals (band, v, wt); (2) within-band running "
    "sums window on (flag, band) — parallelism = flags x bands; (3) band "
    "offsets and the flag total come from a (flag, band) aggregate — a "
    "|flags x bands|-row frame whose per-flag window touches only "
    "metadata-sized input — broadcast-joined back. cw = band offset + "
    "within-band running sum, exactly the single-window value. The "
    "decision gate is 2*cw >= tw on exact BIGINT weights — no float "
    "threshold — and the selected value is a stored double (passthrough). "
    "Ties on value are totally ordered by (v, wt); duplicates merge into "
    "the running sum either way, so the selected value is unique. 100 TB: "
    "one (flag, band) shuffle reused by the window and the band "
    "aggregate; no window partition whose key cardinality is O(1) in "
    "corpus size; band step is the parallelism knob (domain-ranged "
    "values; for unknown domains derive bands from approx quantiles)",
    tags=("B11", "B16", "B24"),
)
def q151(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.weighted import weighted_median

    li = load(spark, sf, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    # TPC-H extended price spans ~[900, 105000] => ~26 bands of width 4096.
    return weighted_median(
        li, "l_returnflag", "l_extendedprice", "wt", band_width=4096.0
    )


# --------------------------------------------------------------------------
# B4/B11/B18 — TPC-H Q3 shape: shipping-priority top-k
# --------------------------------------------------------------------------
@register(
    "q171_tpch_q3_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-30'
      AND l.l_shipdate > TIMESTAMP '1997-06-30'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
             AS DECIMAL(18,4)) DESC, l.l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape (shipping priority): filter+join customer/orders/"
    "lineitem, revenue per unshipped order, top-10. Joins the Q1 (q10) "
    "and Q5 (q64/q146) shapes as the third classic composite: selective "
    "dim filter -> two equi-joins -> high-cardinality group -> top-k. "
    "Exactness: revenue aggregated AND ORDERED as DECIMAL(18,4) (the "
    "lossless product scale), cast to double only in the projection, "
    "l_orderkey tiebreak makes the limit deterministic. 100 TB: both "
    "filters reach the scans (date pushdown), the o_orderkey join and "
    "the group share the l_orderkey shuffle key, and the top-10 is a "
    "TakeOrdered (per-partition heaps) — never a global sort; at SF "
    "where the filtered customer side stays small AQE broadcasts it.",
    tags=("B4", "B11", "B18", "B23"),
)
def q171(spark: SparkSession, sf: str) -> DataFrame:
    cutoff = "1997-06-30"
    c = load(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1) - F.col("l_discount").cast(DEC))
            )
            .cast(DEC4)
            .alias("rev_dec")
        )
        .orderBy(F.col("rev_dec").desc(), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev_dec").cast("double").alias("revenue"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
    )


# --------------------------------------------------------------------------
# B28/B11/B14 — TPC-H Q18 shape: large-volume customers
# --------------------------------------------------------------------------
@register(
    "q172_tpch_q18_volume",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_totalprice,
           CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 shape (large-volume customers): a HAVING pre-aggregate "
    "as an IN-subquery gate, then the customer/orders/lineitem rollup of "
    "qualifying orders. Exercises agg-as-semi-join-filter — the pattern "
    "where a grouped predicate prunes a fact join. 100 TB: the "
    "qualifying-key set is tiny by construction (HAVING > 300 units), so "
    "Spark broadcasts it into the orders scan (left-semi); lineitem is "
    "gated transitively through the subsequent orderkey join rather than "
    "by a second direct semi-join; the re-aggregation reuses the same "
    "l_orderkey key; top-100 is a TakeOrdered. Quantities aggregate in "
    "DECIMAL(18,2) on both engines; o_totalprice passes through "
    "untouched (no float arithmetic to diverge).",
    tags=("B28", "B11", "B14", "B4"),
)
def q172(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    qual = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    o = load(spark, sf, "orders").join(
        F.broadcast(qual), F.col("o_orderkey") == qual.l_orderkey, "left_semi"
    )
    c = load(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast(DEC).alias("sq"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
            F.col("sq").cast("double").alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# B5/B11 — TPC-H Q13 shape: customer order-count distribution
# --------------------------------------------------------------------------
@register(
    "q174_tpch_q13_custdist",
    oracle="""
    WITH c_orders AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority NOT LIKE '1-%'
        GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape (customer distribution): LEFT OUTER join with the "
    "exclusion predicate IN the join condition (customers whose every "
    "order is urgent must surface with c_count=0 — a WHERE would drop "
    "them), COUNT(o_orderkey) so NULL-extended rows count as zero, then "
    "the count-of-counts histogram. The canonical outer-join-aggregate "
    "composite. 100 TB: the orders-side predicate is applied BEFORE the "
    "join (filter pushed to the scan — equivalent to the ON-clause "
    "placement for a left join), the join and first aggregate share the "
    "custkey shuffle key so AQE reuses the exchange, and the second "
    "aggregate's domain is |distinct order counts| — trivially small.",
    tags=("B5", "B11", "B22"),
)
def q174(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select("c_custkey")
    o = (
        load(spark, sf, "orders")
        .filter(~F.col("o_orderpriority").like("1-%"))
        .select("o_custkey", "o_orderkey")
    )
    c_orders = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# B28/B7/B11 — TPC-H Q21 shape: suppliers who alone held up an order
# --------------------------------------------------------------------------
@register(
    "q175_tpch_q21_waiting",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
    doc="TPC-H Q21 shape (waiting suppliers): late line items (shipped >60 "
    "days after order date) in multi-supplier orders where NO other "
    "supplier was late — the classic EXISTS + NOT-EXISTS double "
    "correlation. The oracle states it in correlated-subquery form; the "
    "Spark plan DECORRELATES it into a single pass: one (orderkey,"
    "suppkey) rollup (any_late, n_late_items), then the order-level "
    "gates (n_supp>=2, n_late_supp=1) as UNBOUNDED WINDOW aggregates "
    "over the orderkey partition — bit-equal to counting qualifying l1 "
    "rows. The first draft computed the order gates as a second "
    "aggregate re-joined to the rollup; per-branch column pruning made "
    "the two exchanges non-identical, ReuseExchange missed, and the "
    "FACT JOIN RAN TWICE (seen in the executed plan) — the window form "
    "scans lineitem exactly once. 100 TB: one fact join (orderkey), one "
    "(orderkey,suppkey) rollup, one orderkey window (high-cardinality "
    "partition key, never O(1) groups); supplier join is a broadcast at "
    "any SF (dim table); top-100 is a TakeOrdered.",
    tags=("B28", "B7", "B11", "B4"),
)
def q175(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    lo = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "late",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        ).cast("int"),
    )
    ps = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("any_late"),
        F.sum("late").alias("n_late_items"),
    )
    w = Window.partitionBy("l_orderkey")
    qual = (
        ps.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late_supp", F.sum("any_late").over(w))
        .filter(
            (F.col("any_late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
    )
    s = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        qual.join(F.broadcast(s), qual.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_items").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# --------------------------------------------------------------------------
# B28/B7 — TPC-H Q22 shape: rich customers with no urgent orders
# --------------------------------------------------------------------------
@register(
    "q176_tpch_q22_dormant",
    oracle="""
    WITH pool AS (
        SELECT c_custkey, c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
    ),
    avgpool AS (
        SELECT CAST(SUM(bal_cents) AS HUGEINT) AS s,
               CAST(COUNT(*) AS HUGEINT) AS n
        FROM pool WHERE bal_cents > 0
    ),
    qual AS (
        SELECT p.c_mktsegment, p.bal_cents
        FROM pool p, avgpool a
        WHERE CAST(p.bal_cents AS HUGEINT) * a.n > a.s
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = p.c_custkey
                AND o.o_orderpriority = '1-URGENT')
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(bal_cents) AS DOUBLE) / 100.0 AS totacctbal
    FROM qual GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="TPC-H Q22 shape (dormant rich customers): segment-filtered "
    "customers whose balance beats the positive-balance average AND who "
    "placed no urgent order — scalar-aggregate subquery + anti join. "
    "Exactness: the average comparison is cleared of float division "
    "entirely — `bal > sum/n` is evaluated as the exact integer predicate "
    "`bal*n > sum` in DECIMAL(38,0)/HUGEINT cents (a float average "
    "differs across engines in the last ULP and can flip boundary rows); "
    "the output sum is cents (<2^53) divided by 100, bit-identical "
    "IEEE754. 100 TB: the scalar (sum,n) is a 1-row broadcast cross "
    "join; the NOT EXISTS is a LEFT ANTI against orders pre-filtered to "
    "the urgent slice (pushdown before the shuffle); the final aggregate "
    "is 3 groups.",
    tags=("B28", "B7", "B11", "B25"),
)
def q176(spark: SparkSession, sf: str) -> DataFrame:
    pool = (
        load(spark, sf, "customer")
        .filter(
            F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY")
        )
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.col("c_acctbal") * 100, 0)
            .cast("bigint")
            .alias("bal_cents"),
        )
    )
    avgpool = pool.filter(F.col("bal_cents") > 0).agg(
        F.sum(F.col("bal_cents").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    urgent = (
        load(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    qual = (
        pool.crossJoin(F.broadcast(avgpool))
        .filter(F.col("bal_cents").cast("decimal(38,0)") * F.col("n") > F.col("s"))
        .join(urgent, pool.c_custkey == urgent.o_custkey, "left_anti")
    )
    return (
        qual.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal_cents").cast("double") / F.lit(100.0)).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# B25/B11 — TPC-H Q14 shape: promo revenue share
# --------------------------------------------------------------------------
@register(
    "q177_tpch_q14_promo",
    oracle="""
    WITH j AS (
        SELECT CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS rev,
               p.p_type
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate <  TIMESTAMP '1997-07-01'
    ),
    s AS (
        SELECT CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
                    AS DECIMAL(18,4)) AS DOUBLE) AS promo_rev,
               CAST(CAST(SUM(rev) AS DECIMAL(18,4)) AS DOUBLE) AS total_rev
        FROM j
    )
    SELECT promo_rev, total_rev,
           100.0 * promo_rev / total_rev AS promo_pct
    FROM s
    """,
    doc="TPC-H Q14 shape (promo effect): revenue share of PROMO-type parts "
    "within a ship-date window — the conditional-aggregate-ratio "
    "composite. Exactness: both sums aggregate in DECIMAL(18,4) (the "
    "lossless product scale) and cast to double only once complete "
    "(scaled integers < 2^53, so the casts are exact); the percentage is "
    "computed with the IDENTICAL op tree (100.0 * promo / total) on "
    "those identical doubles, so IEEE754 makes it bit-equal across "
    "engines. 100 TB: the date filter reaches the lineitem scan; the "
    "partkey join is the only shuffle (part broadcasts while it fits; "
    "sort-merge beyond) and the aggregate is a 1-row total computed "
    "from map-side partials.",
    tags=("B25", "B11", "B4", "B23"),
)
def q177(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = load(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1) - F.col("l_discount").cast(DEC)
    )
    s = (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            .cast(DEC4)
            .cast("double")
            .alias("promo_rev"),
            F.sum(rev).cast(DEC4).cast("double").alias("total_rev"),
        )
    )
    return s.select(
        "promo_rev",
        "total_rev",
        (F.lit(100.0) * F.col("promo_rev") / F.col("total_rev")).alias("promo_pct"),
    )


# --------------------------------------------------------------------------
# B3/B4 — TPC-H Q19 shape: disjunctive multi-predicate join
# --------------------------------------------------------------------------
@register(
    "q178_tpch_q19_disjunct",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 25 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
    doc="TPC-H Q19 shape (discounted revenue): an OR-of-ANDs predicate "
    "spanning BOTH join sides — the shape that separates engines that "
    "can only push conjunctions. Catalyst splits the disjunction: the "
    "part-only slice (brand IN ... AND size ranges) and the "
    "lineitem-only slice (quantity range union) are derived and pushed "
    "to EACH scan as partial filters, the residual disjunction is "
    "evaluated post-join. 100 TB: both scans are pre-pruned (the part "
    "side to 3 brands), so the partkey join's build side is tiny and "
    "broadcasts; the final aggregate is a 1-row total from map-side "
    "partials.",
    tags=("B3", "B4", "B25"),
)
def q178(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(p, li.l_partkey == p.p_partkey).filter(
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(25, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.agg(
        F.sum(
            F.col("l_extendedprice").cast(DEC)
            * (F.lit(1) - F.col("l_discount").cast(DEC))
        )
        .cast(DEC4)
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# B4/B11 — TPC-H Q7 shape: bilateral nation-pair volume
# --------------------------------------------------------------------------
@register(
    "q179_tpch_q7_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS ship_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l.l_shipdate)
    ORDER BY supp_nation, cust_nation, ship_year
    """,
    doc="TPC-H Q7 shape (volume shipping): bilateral trade between two "
    "nations by ship year — the two-independent-dimension-paths "
    "composite (supplier->nation and orders->customer->nation chains "
    "hang off the same fact row, with a cross-path pair predicate). "
    "100 TB: the 2-row nation filter broadcasts into supplier and "
    "customer, pruning BOTH to a 2/25 slice before any fact join; the "
    "fact joins stay fact-first (lineitem always the probe side — the "
    "q146 lesson) and unhinted, because a nation-filtered customer "
    "slice is still ~8% of a 10^10-row table and must be free to "
    "sort-merge; the pair disjunction evaluates on two tiny dim "
    "columns; the final group (2 pairs x years) aggregates from "
    "map-side partials.",
    tags=("B4", "B11", "B23"),
)
def q179(spark: SparkSession, sf: str) -> DataFrame:
    n = load(spark, sf, "nation").select("n_nationkey", "n_name").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        load(spark, sf, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load(spark, sf, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    j = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1) - F.col("l_discount").cast(DEC))
            )
            .cast(DEC4)
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )

"""Relational query surface over the star schema + events (SURVEY.md §2 Part B).

The reference has no joins/aggregations/windows at all (SURVEY.md §2 Part A
tail note) — this module supplies the full relational surface as
Catalyst-native plans. Scale notes per query:

* dimension joins broadcast explicitly (`F.broadcast`) — at 100 TB the fact
  side never shuffles for a dim join;
* aggregates are partial+final automatically (map-side combine);
* top-k goes through TakeOrderedAndProject (orderBy+limit), never a full
  global sort of the fact table;
* floats that cross the DuckDB oracle are rounded/aliased identically on
  both sides (summation order differs between engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark.plans.registry import register
from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table


def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _cents(name: str):
    """Exact integer 'cents' of a 2-dp-decimal-valued double column.

    The stored double is within ~1e-10 of the true 2-dp decimal, so
    round(x*100) is never a halfway case and recovers the exact integer
    identically on every engine. This is the entry point of the integer
    micro-unit pattern: once values are exact BIGINTs, every downstream
    sum/product/half-up-division is engine-, order- and partitioning-
    independent — unlike round() of an order-dependent double sum (the
    cross-engine bug class caught in rounds 1-3).
    """
    return F.round(F.col(name) * 100).cast("long")


def _rev_u4():
    """price*(1-discount) in EXACT 10^-4-dollar units (BIGINT)."""
    return _cents("l_extendedprice") * (100 - _cents("l_discount"))


# SQL mirrors of the helpers above (DuckDB dialect).
def _sql_cents(col: str) -> str:
    return f"CAST(round({col} * 100) AS BIGINT)"


_SQL_REV_U4 = (
    f"{_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')})"
)


@register(
    "rel_q1_pricing_summary",
    oracle=f"""
WITH t AS (
  SELECT l_returnflag, l_linestatus,
         {_sql_cents('l_quantity')} AS q2,
         {_sql_cents('l_extendedprice')} AS p2,
         {_SQL_REV_U4} AS rev4,
         {_SQL_REV_U4} * (100 + {_sql_cents('l_tax')}) AS chg6,
         {_sql_cents('l_discount')} AS d2
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
)
SELECT l_returnflag, l_linestatus,
       sum(q2) / 100.0 AS sum_qty,
       sum(p2) / 100.0 AS sum_base_price,
       ((sum(rev4) + 50) // 100) / 100.0 AS sum_disc_price,
       ((sum(chg6) + 5000) // 10000) / 100.0 AS sum_charge,
       ((200 * sum(q2) + count(*)) // (2 * count(*))) / 10000.0 AS avg_qty,
       ((200 * sum(p2) + count(*)) // (2 * count(*))) / 10000.0 AS avg_price,
       ((200 * sum(d2) + count(*)) // (2 * count(*))) / 10000.0 AS avg_disc,
       count(*) AS count_order
FROM t
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 shape: scan→filter(pushdown)→hash agg with 8 aggregates. "
    "Partial aggregation map-side; no join. All money/quantity columns "
    "aggregate in EXACT integer micro-units (cents / 1e-4 / 1e-6 dollar "
    "units recovered per row from the 2-dp fixture decimals); the 2-dp "
    "and 4-dp outputs come from integer half-up division plus ONE "
    "deterministic float division — never round() of an order-dependent "
    "double accumulation, so values are identical across engines and "
    "partitionings at any scale.",
)
def rel_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    chg6 = (_rev_u4() * (100 + _cents("l_tax"))).cast("decimal(38,0)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents("l_quantity")).alias("_q2"),
            F.sum(_cents("l_extendedprice")).alias("_p2"),
            F.sum(_rev_u4()).alias("_rev4"),
            F.sum(chg6).alias("_chg6"),
            F.sum(_cents("l_discount")).alias("_d2"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("_q2").cast("double") / 100.0).alias("sum_qty"),
            (F.col("_p2").cast("double") / 100.0).alias("sum_base_price"),
            (F.expr("(_rev4 + 50) div 100").cast("double") / 100.0).alias(
                "sum_disc_price"
            ),
            (F.expr("(_chg6 + 5000) div 10000").cast("double") / 100.0).alias(
                "sum_charge"
            ),
            (
                F.expr("(200 * _q2 + count_order) div (2 * count_order)").cast(
                    "double"
                )
                / 10000.0
            ).alias("avg_qty"),
            (
                F.expr("(200 * _p2 + count_order) div (2 * count_order)").cast(
                    "double"
                )
                / 10000.0
            ).alias("avg_price"),
            (
                F.expr("(200 * _d2 + count_order) div (2 * count_order)").cast(
                    "double"
                )
                / 10000.0
            ).alias("avg_disc"),
            "count_order",
        )
    )


@register(
    "rel_q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       ((sum({_SQL_REV_U4}) + 50) // 100) / 100.0 AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape: the customer join contributes only existence "
    "(no customer column reaches the output and c_custkey is unique), "
    "so it runs as a LEFT SEMI join — less payload than the inner "
    "join, and the semi join's size estimate propagates the orders "
    "side only, so the non-CBO planner sizes the orders slice "
    "accurately instead of product-inflating a pre-joined build side "
    "(which made it broadcast lineitem — the fact table). No forced "
    "broadcasts: both sides grow with the corpus, so strategy is "
    "size-gated — static/AQE broadcast while the dim side fits, "
    "shuffle join beyond the 8 GiB cap (r10 broadcast-policy sweep; "
    "the q2/q4/data_quality scale-safety standard). The revenue "
    "aggregate runs BELOW the orders join (q18 agg-before-join "
    "family: o_orderdate/o_orderpriority are functionally dependent "
    "on the unique o_orderkey, so summing per l_orderkey first is "
    "exact) — the join then moves one narrow row per order instead "
    "of every lineitem row (sf20 bone-stock A/B 18.7 -> 11.7 s; at "
    "bench sf both sides stay under the broadcast threshold and the "
    "plan is unchanged in cost).",
)
def rel_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    osel = orders.join(
        cust.select("c_custkey"),
        orders.o_custkey == F.col("c_custkey"),
        "left_semi",
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    per_ord = li.groupBy("l_orderkey").agg(F.sum(_rev_u4()).alias("_r4"))
    return (
        per_ord.join(osel, per_ord.l_orderkey == osel.o_orderkey)
        .select(
            "l_orderkey",
            (F.expr("(_r4 + 50) div 100").cast("double") / 100.0).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "rel_q5_region_revenue",
    oracle=f"""
SELECT n_name, ((sum({_SQL_REV_U4}) + 50) // 100) / 100.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    doc="TPC-H Q5 shape: 6-table star join. Only the bounded dims "
    "(nation, region) carry broadcast hints; orders/customer/supplier "
    "grow with the corpus, so their join strategy is AQE's call — "
    "adaptive broadcast at bench scale, shuffle join beyond the 8 GiB "
    "cap (r10 broadcast-policy sweep). One shuffle for the final small "
    "agg.",
)
def rel_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            supp,
            (F.col("l_suppkey") == supp.s_suppkey)
            & (F.col("c_nationkey") == supp.s_nationkey),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_rev_u4()).alias("_r4"))
        .select(
            "n_name",
            (F.expr("(_r4 + 50) div 100").cast("double") / 100.0).alias("revenue"),
        )
    )


@register(
    "rel_topk_orders",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders
ORDER BY total DESC, o_orderkey
LIMIT 25
""",
    doc="Global top-k without global sort: Catalyst plans "
    "TakeOrderedAndProject (per-partition heap + driver merge of k rows).",
)
def rel_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf_dir)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
        .orderBy(F.desc("total"), F.asc("o_orderkey"))
        .limit(25)
    )


@register(
    "rel_window_running_total",
    oracle="""
SELECT o_custkey, o_orderkey,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
         AS running_total
FROM orders
""",
    doc="Framed window aggregate: per-customer running revenue. One shuffle "
    "on the partition key; deterministic frame via (date, key) ordering. "
    "The running sum accumulates exact integer cents (recovered per row "
    "from the 2-dp decimal), so every prefix value is engine- and "
    "order-exact; /100.0 is one deterministic float division.",
)
def rel_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(_cents("o_totalprice")).over(w).cast("double") / 100.0
        ).alias("running_total"),
    )


@register(
    "rel_window_topn_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
         row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
    doc="Per-group top-N: row_number window + filter — the scalable "
    "replacement for per-group sorts.",
)
def rel_window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load_table(spark, "orders", sf_dir)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "rel_window_lag_delta",
    oracle="""
SELECT user_id, event_id,
       round(value - lag(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta
FROM events
""",
    doc="Analytic window: lag() per user over event time; delta of "
    "consecutive event values (NULL for each user's first event).",
)
def rel_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, "events", sf_dir)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


@register(
    "rel_rollup_sales",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="Hierarchical totals via rollup: (flag,status), (flag), () levels. "
    "Two-level: the fact table aggregates ONCE at the finest grouping "
    "(the ~8-row (flag,status) domain), and rollup's Expand runs over "
    "that base instead of multiplying every fact row 3x through the "
    "partial aggregate (r10 shape audit; sf20 A/B 2.72 -> 1.33 s, "
    "value-identical). Exact: quantities are small integers stored as "
    "doubles, so partial sums are exact in IEEE and re-aggregate "
    "order-independently; counts re-aggregate as sums.",
)
def rel_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("_s"), F.count("*").alias("_c"))
    )
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("_s"), 2).alias("sum_qty"), F.sum("_c").alias("n")
    )


@register(
    "rel_cube_sales",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    doc="All grouping combinations via cube. Two-level: one fact pass "
    "aggregates at the finest (flag,status) grouping, then cube's 4-way "
    "Expand runs over the ~8-row base instead of 4x-ing every fact row "
    "through the partial aggregate (r10 shape audit; sf20 A/B "
    "3.51 -> 1.44 s, value-identical; exact integer-in-IEEE sums).",
)
def rel_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("_s"))
    )
    return base.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("_s"), 2).alias("sum_qty")
    )


@register(
    "rel_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""",
    doc="Explicit GROUPING SETS through the SQL surface (spark.sql over a "
    "parquet path table — no temp-view state). Two-level: the inner "
    "subquery aggregates once at (flag,status) so the grouping-sets "
    "Expand doubles ~8 base rows, not every fact row (r10 shape audit; "
    "sf20 A/B 1.89 -> 1.10 s, value-identical; counts re-aggregate "
    "as sums).",
)
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus, sum(c) AS n
        FROM (
          SELECT l_returnflag, l_linestatus, count(*) AS c
          FROM parquet.`{sf_dir}/lineitem.parquet`
          GROUP BY l_returnflag, l_linestatus
        )
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "rel_semi_join",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 50000)
""",
    doc="Left-semi join (EXISTS): customers having a >50k order. The "
    "engine-native form of the reference's membership checks (A5/A23).",
)
def rel_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    big = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 50000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "rel_anti_join",
    oracle="""
SELECT c_custkey, c_nationkey
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    doc="Left-anti join (NOT EXISTS): customers with no orders — the "
    "skip-if-done idiom (A5) done declaratively.",
)
def rel_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_nationkey"
    )


@register(
    "rel_set_ops",
    oracle="""
SELECT 'both' AS tag, n FROM (
  SELECT c_nationkey AS n FROM customer
  INTERSECT
  SELECT s_nationkey AS n FROM supplier WHERE s_acctbal > 5000)
UNION ALL
SELECT 'cust_only' AS tag, n FROM (
  SELECT c_nationkey AS n FROM customer
  EXCEPT
  SELECT s_nationkey AS n FROM supplier WHERE s_acctbal > 5000)
""",
    doc="INTERSECT / EXCEPT (set semantics: subtract) / UNION ALL in one "
    "plan over nation keys; supplier side filtered so EXCEPT is non-empty.",
)
def rel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).select(F.col("c_nationkey").alias("n"))
    supp = (
        load_table(spark, "supplier", sf_dir)
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("n"))
    )
    both = cust.intersect(supp).select(F.lit("both").alias("tag"), "n")
    only = cust.subtract(supp).select(F.lit("cust_only").alias("tag"), "n")
    return both.unionByName(only)


@register(
    "rel_string_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_brand) AS brand_u,
       length(p_name) AS name_len,
       substr(p_type, 1, 5) AS type5,
       concat_ws('|', p_brand, p_type) AS brand_type,
       replace(p_name, ' ', '_') AS name_us,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
       levenshtein(p_brand, 'Brand#11') AS lev
FROM part
""",
    doc="Scalar string catalog (A12-A17 generalized): upper/length/substr/"
    "concat_ws/replace/lpad/levenshtein — all codegen'd, zero Python.",
)
def rel_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_us"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.levenshtein("p_brand", F.lit("Brand#11")).alias("lev"),
    )


@register(
    "rel_date_funcs",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate) AS o_year,
       month(o_orderdate) AS o_month,
       day(o_orderdate) AS o_day,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch95
FROM orders
""",
    doc="Temporal scalar catalog: year/month/day, date_trunc, day diffs — "
    "the typed replacement of the reference's filename-prefix dates (A12).",
)
def rel_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch95"
        ),
    )


@register(
    "rel_math_case",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue,
       sqrt(l_quantity) AS qty_sqrt,
       pow(l_discount, 2) AS disc_sq,
       abs(l_tax - l_discount) AS tax_gap,
       CASE WHEN l_quantity > 25 THEN 'bulk'
            WHEN l_quantity > 10 THEN 'mid'
            ELSE 'small' END AS qty_band,
       coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none
FROM lineitem
""",
    doc="Math + conditional catalog: arithmetic, sqrt/pow/abs, CASE bands, "
    "coalesce/nullif. Per-row float results are left unrounded on purpose: "
    "IEEE ops are bit-identical across engines, while decimal rounding of "
    "binary doubles at .xx5 midpoints is not (Spark HALF_UP on the shortest "
    "decimal repr vs DuckDB scaled-double rounding). Rounding is reserved "
    "for aggregates, where summation order forces it.",
)
def rel_math_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _revenue().alias("revenue"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.pow("l_discount", F.lit(2)).alias("disc_sq"),
        F.abs(F.col("l_tax") - F.col("l_discount")).alias("tax_gap"),
        F.when(F.col("l_quantity") > 25, "bulk")
        .when(F.col("l_quantity") > 10, "mid")
        .otherwise("small")
        .alias("qty_band"),
        F.coalesce(F.nullif("l_returnflag", F.lit("N")), F.lit("none")).alias(
            "flag_or_none"
        ),
    )


@register(
    "rel_agg_stats",
    oracle="""
WITH t AS (
  SELECT event_type, user_id,
         CAST(round(value * 10000) AS BIGINT) AS u4
  FROM events
)
SELECT event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       ((2 * sum(u4) + count(*)) // (2 * count(*))) / 10000.0 AS avg_value,
       CASE WHEN count(*) < 2 THEN NULL
            ELSE sqrt(CAST(count(*) * sum(u4 * u4) - sum(u4) * sum(u4)
                           AS DOUBLE)
                      / (count(*) * (count(*) - 1))) / 10000.0
       END AS sd_value,
       min(u4) / 10000.0 AS min_value,
       max(u4) / 10000.0 AS max_value,
       quantile_cont(u4, 0.5) / 10000.0 AS p50,
       quantile_cont(u4, 0.95) / 10000.0 AS p95
FROM t
GROUP BY event_type
""",
    doc="Statistical aggregate catalog incl. exact interpolated percentiles "
    "(≡ DuckDB `quantile_cont`). All moments run in "
    "exact integer 1e-4 units: avg is integer half-up division, the "
    "sample variance is the exact-integer identity "
    "(n·Σx² − (Σx)²)/(n(n−1)) with decimal/HUGEINT headroom before ONE "
    "deterministic double sqrt, and percentiles interpolate over the "
    "integer grid (interpolated values land on the 5e-6-dollar grid, "
    "inside any 6-dp comparison tolerance). No round() of an "
    "order-dependent double accumulation anywhere. Scale shape "
    "(replanned r9 — the sf20 decade-check caught the old form): "
    "mixing countDistinct with percentile/moments in ONE aggregate "
    "forces an Expand that replicates every event row through the "
    "percentile buffers (9.4 s for the combined agg vs 0.9+1.6+1.5 s "
    "for the pieces at sf20). The value domain is integer 1e-4 units "
    "(~18k distinct), so moments AND exact interpolated percentiles "
    "both derive from a tiny (type, value, count) HISTOGRAM — one "
    "map-side-combined shuffle of the value domain, a cumulative-"
    "count window over ~18k rows, and the Spark/DuckDB interpolation "
    "formula lower + frac·(upper−lower) applied to the two covering "
    "histogram rows; countDistinct(user) runs as its own un-expanded "
    "partial-distinct pass; three 5-row results broadcast-join. "
    "sf20 A/B: 10.1 -> ~3 s; every stage is key-domain bounded. "
    "NULL values: moments mirror the oracle exactly (count(*) "
    "denominators, NULL-skipping sums) while the percentile walk "
    "excludes NULL u4 rows and positions over the non-null count "
    "(quantile_cont semantics; r9 ADVICE), NULL-extending groups "
    "whose values are all NULL.",
)
def rel_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).withColumn(
        "u4", F.round(F.col("value") * 10000).cast("long")
    )
    hist = ev.groupBy("event_type", "u4").agg(F.count("*").alias("c"))
    mom = hist.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("u4") * F.col("c")).alias("_s1"),
        F.sum(
            (F.col("u4") * F.col("u4")).cast("decimal(38,0)") * F.col("c")
        ).alias("_s2"),
        F.min("u4").alias("_mn"),
        F.max("u4").alias("_mx"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("u4")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Percentiles must ignore NULL values (DuckDB quantile_cont / Spark
    # percentile semantics): NULL u4 rows are excluded from the
    # histogram walk and positions derive from the NON-NULL count —
    # while mom's n above stays count(*) (the oracle's avg/sd divide by
    # count(*)). r9 ADVICE: with NULLs present the old form let the
    # NULL group sort first in wcum and indexed positions off count(*).
    histnn = hist.filter(F.col("u4").isNotNull())
    nn = histnn.groupBy("event_type").agg(F.sum("c").alias("n"))
    hc = (
        histnn.select("event_type", "u4", "c", F.sum("c").over(wcum).alias("cum"))
        .withColumn("prev", F.col("cum") - F.col("c"))
        .join(F.broadcast(nn), "event_type")
    )

    def _at(t):
        # histogram row covering 0-based position k: prev <= k < cum
        def at(k):
            return F.max(
                F.when((F.col("prev") <= k) & (k < F.col("cum")), F.col("u4"))
            )

        return at(F.floor(t).cast("long")), at(F.ceil(t).cast("long"))

    def _interp(lo, hi, t):
        # Spark Percentile / DuckDB quantile_cont interpolation:
        # lower + (pos - floor(pos)) * (higher - lower)
        return lo.cast("double") + (t - F.floor(t)) * (hi - lo).cast("double")

    t50 = F.lit(0.5) * (F.col("n") - 1).cast("double")
    t95 = F.lit(0.95) * (F.col("n") - 1).cast("double")
    lo50, hi50 = _at(t50)
    lo95, hi95 = _at(t95)
    pcts = (
        hc.groupBy("event_type")
        .agg(
            F.first("n").alias("_pn"),
            lo50.alias("_lo50"),
            hi50.alias("_hi50"),
            lo95.alias("_lo95"),
            hi95.alias("_hi95"),
        )
        .select(
            "event_type",
            _interp(
                F.col("_lo50"),
                F.col("_hi50"),
                F.lit(0.5) * (F.col("_pn") - 1).cast("double"),
            ).alias("_p50"),
            _interp(
                F.col("_lo95"),
                F.col("_hi95"),
                F.lit(0.95) * (F.col("_pn") - 1).cast("double"),
            ).alias("_p95"),
        )
    )
    users = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return (
        # left join: a group whose values are ALL NULL has no histnn
        # rows and therefore no pcts row — quantile_cont returns NULL
        # there, so NULL-extend instead of dropping the group.
        mom.join(F.broadcast(pcts), "event_type", "left")
        .join(F.broadcast(users), "event_type")
        .select(
            "event_type",
            "n",
            "n_users",
            (
                F.expr("(2 * _s1 + n) div (2 * n)").cast("double") / 10000.0
            ).alias("avg_value"),
            # n < 2 guard: the n(n-1) denominator is 0 for a singleton
            # group (ANSI divide-by-zero; sample sd undefined) — NULL,
            # matching the oracle's CASE.
            F.when(
                F.col("n") < 2, F.lit(None).cast("double")
            )
            .otherwise(
                F.sqrt(
                    F.expr(
                        "cast(n * _s2 - cast(_s1 as decimal(38,0)) * _s1 as double)"
                    )
                    / F.expr("cast(n * (n - 1) as double)")
                )
                / 10000.0
            )
            .alias("sd_value"),
            (F.col("_mn").cast("double") / 10000.0).alias("min_value"),
            (F.col("_mx").cast("double") / 10000.0).alias("max_value"),
            (F.col("_p50") / 10000.0).alias("p50"),
            (F.col("_p95") / 10000.0).alias("p95"),
        )
    )


@register(
    "rel_approx_distinct",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_rsd
FROM events
GROUP BY event_type
""",
    doc="approx_count_distinct (HyperLogLog++) per event_type — the 100 TB "
    "path for cardinality. Sketch values are engine-specific, so the "
    "query returns the error-bound CHECK itself: abs(approx-exact)/exact "
    "within 3x the configured rsd, which the oracle asserts as TRUE — a "
    "value-gated sketch instead of a rows-only pass.",
)
def rel_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    exact = F.countDistinct("user_id")
    approx = F.expr("approx_count_distinct(user_id, 0.05)")
    return ev.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (
            F.abs(approx - exact) / exact < F.lit(0.15)
        ).alias("hll_within_rsd"),
    )


@register(
    "rel_approx_percentile",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS exact_p50,
       TRUE AS sketch_within_tol
FROM lineitem
GROUP BY l_returnflag
""",
    doc="percentile_approx (KLL-style sketch) vs exact percentile: the "
    "query emits the relative-error check (<5%) as a value the oracle "
    "asserts, pairing the scalable sketch with its accuracy contract.",
)
def rel_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    exact = F.expr("percentile(l_quantity, 0.5)")
    approx = F.expr("percentile_approx(l_quantity, 0.5, 1000)")
    return li.groupBy("l_returnflag").agg(
        F.round(exact, 6).alias("exact_p50"),
        (F.abs(approx - exact) / exact < F.lit(0.05)).alias("sketch_within_tol"),
    )


@register(
    "rel_pivot",
    oracle="""
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Pivot (wide conditional aggregation) with explicit value list — "
    "bounded output columns, safe at any scale.",
)
def rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


@register(
    "rel_json_props",
    oracle="""
SELECT event_type,
       count(*) AS n,
       ((20000 * sum(CAST(props->>'$.k' AS INTEGER))
         + count(CAST(props->>'$.k' AS INTEGER)))
        // (2 * count(CAST(props->>'$.k' AS INTEGER)))) / 10000.0 AS avg_k,
       max(CAST(props->>'$.k' AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
""",
    doc="JSON scalar extraction from events.props (get_json_object ≡ "
    "DuckDB ->>) + aggregation; the engine's from_json path for the "
    "reference's NDJSON records (A9).",
)
def rel_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    # r10 shape audit: extract $.k ONCE in a projection below the
    # aggregate instead of repeating get_json_object inside sum/count/
    # max (the plan showed the parse expression three times in the
    # partial agg; codegen subexpression elimination mostly hides it —
    # sf20 A/B 3.36 -> 3.07 s — but the single-parse projection is
    # strictly no worse and the honest shape). The residual ~3 s at
    # sf20 is the per-row JSON parse itself (decomposition receipt in
    # the perf index).
    # avg at 4dp by integer half-up division (sum/count of ints are
    # exact; no engine-level round of a computed double quotient).
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("_k").alias("_sk"),
            F.count("_k").alias("_nk"),
            F.max("_k").alias("max_k"),
        )
        .select(
            "event_type",
            "n",
            (
                F.expr("(20000 * _sk + _nk) div (2 * _nk)").cast("double")
                / 10000.0
            ).alias("avg_k"),
            "max_k",
        )
    )


@register(
    "rel_nested_struct",
    oracle="""
SELECT CAST(doc_id AS VARCHAR) AS pmid, text AS abstract, length(text) AS abs_len
FROM documents
WHERE text IS NOT NULL AND source = 'src1'
""",
    doc="Nested-record path (A9-A11): build the reference's "
    "{pmid, medent:{abstract}} struct from documents, filter on the nested "
    "field, project it back out. Oracle checks the flattened result.",
)
def rel_nested_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    nested = docs.select(
        F.col("doc_id").cast("string").alias("pmid"),
        F.struct(F.col("text").alias("abstract"), F.col("source").alias("source")).alias(
            "medent"
        ),
    )
    return (
        nested.filter(
            F.col("medent.abstract").isNotNull() & (F.col("medent.source") == "src1")
        )
        .select(
            "pmid",
            F.col("medent.abstract").alias("abstract"),
            F.length(F.col("medent.abstract")).alias("abs_len"),
        )
    )


@register(
    "rel_asof_join",
    oracle="""
SELECT c.event_id, c.user_id, c.ts, v.ts AS last_view_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND v.ts <= c.ts
""",
    doc="As-of join (no native Spark operator): for each click, the latest "
    "view at-or-before it per user. Implemented scalably as union + "
    "last_value(ignoreNulls) over a single time-ordered window — one "
    "shuffle on user_id, no range-join blowup (SURVEY.md §2 Part B).",
)
def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(0).alias("src"), "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("src"), "event_id"
    )
    merged = views.unionByName(clicks)
    # views sort before clicks at equal ts (src asc) → '<=' semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_last = merged.withColumn(
        "last_view_ts",
        F.last(F.when(F.col("src") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return with_last.filter(F.col("src") == 1).select(
        "event_id", "user_id", "ts", "last_view_ts"
    )


@register(
    "rel_q18_big_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
    doc="TPC-H Q18 shape (large-volume orders): HAVING subquery realized "
    "as aggregate-then-join — the per-order quantity agg runs once and "
    "feeds both the filter and the output column, instead of TPC-H's "
    "re-aggregation after an IN subquery. One shuffle on l_orderkey; "
    "the surviving order keys are a selective but corpus-growing set, "
    "so it is never force-broadcast; only the 20-row top result "
    "carries a broadcast hint. r11: the orders join carries a "
    "SHUFFLE_HASH hint instead of SMJ — the build side (the qty>250 "
    "tail) is a scale-invariant ~1.5% of the probe side's bytes per "
    "partition, so the hash build is partition-bounded at any corpus "
    "size, and skipping the orders-side sort wins ~8% at sf20 "
    "(AB_r11_q18_sf20.json: 7.66→7.04 s; a hand-rolled bitmap Bloom "
    "pre-filter measured the same 7.0 s with far more plan, and the "
    "automatic runtime Bloom cannot fire — the creation side is an "
    "aggregate, not a selective scan filter; `might_contain` is not "
    "SQL-registered in Spark 4.1, probed UNRESOLVED_ROUTINE). The "
    "residual is the 120M-row qty aggregate that defines the query.",
)
def rel_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 250)
        .select("l_orderkey", F.round("qty", 2).alias("total_qty"))
    )
    # r9: top-20 hoists ABOVE the customer join — c_name is display-only
    # (requires orders.o_custkey ⊆ customer.c_custkey, which the
    # fixtures guarantee and rel_data_quality's orphan check asserts),
    # so TakeOrdered runs on the orders×big slice and the 3M-customer
    # dim joins 20 broadcast rows instead of SMJ-ing the whole slice
    # (sf20 A/B 10.5 -> 9.5 s; the remaining cost is the 120M-row qty
    # aggregate, which defines the query). r10: big (the qty>250 tail,
    # 457k rows at sf20) is a lineitem-derived slice — linear in the
    # corpus — so it is never force-broadcast (the q4 precedent). r11:
    # it is the SHUFFLE_HASH build side of the orders join — a
    # scale-invariant ~1.5% of the orders side's bytes per partition,
    # so the hash build stays partition-bounded at any corpus size, and
    # skipping the orders-side SMJ sort won ~8% at sf20
    # (AB_r11_q18_sf20.json).
    top = (
        orders.join(big.hint("shuffle_hash"), orders.o_orderkey == big.l_orderkey)
        .select(
            "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty"
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )
    return (
        F.broadcast(top)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


@register(
    "rel_q16_supplier_variety",
    oracle="""
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#2'
  AND p_size <= 15
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
""",
    doc="TPC-H Q16 shape (adapted to the fixture's partsupp-free schema): "
    "distinct-supplier count per (brand, size) with a NOT IN exclusion "
    "list realized as a left-anti join. Both the exclusion set (a "
    "supplier slice) and the filtered part dim grow with the corpus, so "
    "neither carries a forced broadcast hint — AQE picks broadcast "
    "while they fit (r10 broadcast-policy sweep); count(DISTINCT) is "
    "Spark's two-phase expand+agg.",
)
def rel_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#2") & (F.col("p_size") <= 15)
    )
    bad_supp = load_table(spark, "supplier", sf_dir).filter(F.col("s_acctbal") < 0)
    return (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


ASOF_TOLERANCE_MIN = 30  # max lookback gap (minutes) for a valid match


@register(
    "rel_asof_tolerance",
    oracle="""
SELECT event_id, user_id, ts,
       CASE WHEN ts - last_view_ts <= INTERVAL '30 minutes'
            THEN last_view_ts END AS last_view_ts,
       CASE WHEN ts - last_view_ts <= INTERVAL '30 minutes'
            THEN CAST(date_diff('second', last_view_ts, ts) AS BIGINT)
            END AS gap_sec
FROM (
  SELECT c.event_id, c.user_id, c.ts, v.ts AS last_view_ts
  FROM (SELECT * FROM events WHERE event_type = 'click') c
  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
    ON c.user_id = v.user_id AND v.ts <= c.ts
)
""",
    doc="As-of join with tolerance (pandas merge_asof(tolerance=...) / "
    "kdb wj semantics): each click matches the latest prior view per "
    "user ONLY if it is within 30 minutes, else NULL — stale state "
    "must not attribute. Same single-shuffle union + last_value("
    "ignoreNulls) time-ordered window as rel_asof_join (no range-join "
    "blowup); the tolerance is a post-window CASE, so it adds zero "
    "exchanges and the window state stays one remembered view per "
    "user.",
)
def rel_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(0).alias("src"), "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("src"), "event_id"
    )
    merged = views.unionByName(clicks)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_last = merged.withColumn(
        "raw_view_ts",
        F.last(F.when(F.col("src") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    in_tol = (
        F.col("ts").cast("long") - F.col("raw_view_ts").cast("long")
    ) <= ASOF_TOLERANCE_MIN * 60
    return with_last.filter(F.col("src") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.when(in_tol, F.col("raw_view_ts")).alias("last_view_ts"),
        F.when(
            in_tol,
            F.col("ts").cast("long") - F.col("raw_view_ts").cast("long"),
        ).alias("gap_sec"),
    )


ATTR_CHANNELS = ("organic", "paid", "social", "email")


@register(
    "rel_touch_attribution",
    oracle="""
WITH base AS (
  SELECT c.user_id,
         CASE WHEN cl.props IS NULL THEN NULL
              WHEN CAST(cl.props->>'$.k' AS INTEGER) % 4 = 0 THEN 'organic'
              WHEN CAST(cl.props->>'$.k' AS INTEGER) % 4 = 1 THEN 'paid'
              WHEN CAST(cl.props->>'$.k' AS INTEGER) % 4 = 2 THEN 'social'
              ELSE 'email' END AS click_channel,
         c.value
  FROM (SELECT * FROM events WHERE event_type = 'purchase') c
  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') cl
    ON c.user_id = cl.user_id AND cl.ts <= c.ts
)
SELECT coalesce(click_channel, 'direct') AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0
         AS attributed_value
FROM base
GROUP BY coalesce(click_channel, 'direct')
""",
    doc="Last-touch marketing attribution: every purchase's value rolls "
    "up to the channel of the user's latest prior click ('direct' when "
    "no click precedes it) — the standard conversion-attribution "
    "query, built on the same single-shuffle union + last_value "
    "time-ordered window as rel_asof_join (no range-join blowup; the "
    "as-of carries the click's channel instead of its timestamp). The "
    "channel derives deterministically from the click's JSON payload. "
    "Attributed value sums in exact integer micro-units — the "
    "sf1-sweep lesson that float sums round divergently at scale.",
)
def rel_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    # NULL-props clicks carry no channel → they attribute to 'direct'
    # (mirrors the oracle's explicit props-IS-NULL guard; without it the
    # .otherwise() branch would silently claim them for 'email').
    channel = (
        F.when(F.col("props").isNull(), F.lit(None).cast("string"))
        .when(k % 4 == 0, "organic")
        .when(k % 4 == 1, "paid")
        .when(k % 4 == 2, "social")
        .otherwise("email")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("src"), "event_id",
        channel.alias("channel"), F.lit(None).cast("double").alias("value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("src"), "event_id",
        F.lit(None).cast("string").alias("channel"), "value",
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = merged.withColumn(
        "click_channel",
        F.last(F.when(F.col("src") == 0, F.col("channel")), ignorenulls=True).over(w),
    ).filter(F.col("src") == 1)
    micro = F.round(F.col("value") * 10000).cast("long")
    return (
        attributed.groupBy(
            F.coalesce(F.col("click_channel"), F.lit("direct")).alias("channel")
        )
        .agg(
            F.count("*").alias("n_purchases"),
            (F.sum(micro) / 10000.0).alias("attributed_value"),
        )
    )


# --- linear multi-touch attribution -----------------------------------------

MTA_LOOKBACK_US = 7 * 24 * 3600 * 1000000  # 7-day click lookback


@register(
    "rel_multitouch_attribution",
    oracle=f"""
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS t_c, event_id AS click_id,
         CASE WHEN props IS NULL THEN 'email'
              WHEN CAST(props->>'$.k' AS INTEGER) % 4 = 0 THEN 'organic'
              WHEN CAST(props->>'$.k' AS INTEGER) % 4 = 1 THEN 'paid'
              WHEN CAST(props->>'$.k' AS INTEGER) % 4 = 2 THEN 'social'
              ELSE 'email' END AS channel
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, epoch_us(ts) AS t_p, event_id AS purchase_id,
         CAST(round(value * 10000) AS BIGINT) AS v_u4
  FROM events WHERE event_type = 'purchase'
),
touched AS (
  SELECT p.purchase_id, p.v_u4, c.channel,
         count(*) OVER w_n AS n_touch,
         row_number() OVER w_r AS touch_rank
  FROM purchases p JOIN clicks c
    ON p.user_id = c.user_id
   AND c.t_c <= p.t_p AND c.t_c > p.t_p - {MTA_LOOKBACK_US}
  WINDOW w_n AS (PARTITION BY p.purchase_id),
         w_r AS (PARTITION BY p.purchase_id ORDER BY c.t_c, c.click_id)
),
split AS (
  SELECT channel,
         v_u4 // n_touch
           + CASE WHEN touch_rank = 1 THEN v_u4 % n_touch ELSE 0 END
           AS share_u4
  FROM touched
),
direct AS (
  SELECT 'direct' AS channel, p.v_u4 AS share_u4
  FROM purchases p
  WHERE NOT EXISTS (
    SELECT 1 FROM clicks c
    WHERE c.user_id = p.user_id
      AND c.t_c <= p.t_p AND c.t_c > p.t_p - {MTA_LOOKBACK_US}
  )
)
SELECT channel,
       count(*) AS n_touches,
       CAST(sum(share_u4) AS BIGINT) AS attributed_u4
FROM (SELECT * FROM split UNION ALL SELECT * FROM direct)
GROUP BY channel
""",
    doc="Linear multi-touch attribution: each purchase's value splits "
    "EQUALLY across every click the user made in the prior 7 days "
    "(purchases with no lookback click attribute to 'direct') — the "
    "multi-touch counterpart of rel_touch_attribution's last-touch "
    "model. Exactness: the split is integer division of 1e-4-unit "
    "value with the REMAINDER granted to the earliest touch "
    "(deterministic tie order (t, click_id)), so per-channel sums "
    "reconcile to the total to the last micro-unit on any engine — a "
    "float split never does. Scale shape: the touch join is an "
    "equi-join on user_id with the time band as a residual filter "
    "(no range-join blowup; fan-out is bounded by clicks-per-user-"
    "week), the two per-purchase windows share one purchase_id "
    "exchange, and the no-touch purchases arrive via the same-shaped "
    "anti-join. Channel rollup is a 5-row agg with map-side partials.",
)
def rel_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    channel = (
        F.when(F.col("props").isNull(), F.lit("email"))
        .when(k % 4 == 0, "organic")
        .when(k % 4 == 1, "paid")
        .when(k % 4 == 2, "social")
        .otherwise("email")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("t_c"),
        F.col("event_id").alias("click_id"),
        channel.alias("channel"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("t_p"),
        F.col("event_id").alias("purchase_id"),
        F.round(F.col("value") * 10000).cast("long").alias("v_u4"),
    )
    in_window = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("t_c") <= F.col("t_p"))
        & (F.col("t_c") > F.col("t_p") - F.lit(MTA_LOOKBACK_US))
    )
    # ONE left-outer range join: unmatched purchases are the 'direct'
    # bucket (they sit alone in their purchase_id window, so count=1
    # and the whole v_u4 lands on them) — the previous inner+anti pair
    # executed the same user-keyed range join twice (the
    # duplicated-subtree class; r8 A/B at sf20: 4.6 -> 2.9 s)
    touched = purchases.join(clicks, in_window, "left")
    w_n = Window.partitionBy("purchase_id")
    w_r = Window.partitionBy("purchase_id").orderBy("t_c", "click_id")
    split = touched.select(
        F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
        (
            F.expr("v_u4 div count(*) over (partition by purchase_id)")
            + F.when(
                F.row_number().over(w_r) == 1,
                F.col("v_u4") % F.count("*").over(w_n),
            ).otherwise(F.lit(0))
        ).alias("share_u4"),
    )
    return (
        split.groupBy("channel")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum("share_u4").cast("long").alias("attributed_u4"),
        )
    )


# --- as-of join, direction='nearest' ----------------------------------------


@register(
    "rel_asof_nearest",
    oracle="""
WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us
  FROM events WHERE event_type = 'click'
),
v AS (
  SELECT user_id, epoch_us(ts) AS t_us
  FROM events WHERE event_type = 'view'
),
prior AS (
  SELECT c.event_id, max(v.t_us) AS prior_us
  FROM c JOIN v ON v.user_id = c.user_id AND v.t_us <= c.t_us
  GROUP BY c.event_id
),
nxt AS (
  SELECT c.event_id, min(v.t_us) AS next_us
  FROM c JOIN v ON v.user_id = c.user_id AND v.t_us > c.t_us
  GROUP BY c.event_id
)
SELECT c.event_id, c.user_id, c.t_us, p.prior_us, n.next_us,
       CASE WHEN p.prior_us IS NULL THEN n.next_us
            WHEN n.next_us IS NULL THEN p.prior_us
            WHEN c.t_us - p.prior_us <= n.next_us - c.t_us THEN p.prior_us
            ELSE n.next_us END AS nearest_us,
       CASE WHEN p.prior_us IS NULL AND n.next_us IS NULL THEN NULL
            WHEN n.next_us IS NULL THEN 'prior'
            WHEN p.prior_us IS NULL THEN 'next'
            WHEN c.t_us - p.prior_us <= n.next_us - c.t_us THEN 'prior'
            ELSE 'next' END AS direction
FROM c
LEFT JOIN prior p USING (event_id)
LEFT JOIN nxt n USING (event_id)
""",
    doc="As-of join with direction='nearest' (pandas merge_asof "
    "nearest / kdb aj variants): each click matches whichever view is "
    "CLOSER in time — latest at-or-before or earliest strictly-after, "
    "ties to prior — completing the as-of family (backward: "
    "rel_asof_join; backward+tolerance: rel_asof_tolerance). "
    "Implemented as the same single-shuffle union trick run in BOTH "
    "directions over ONE (user_id, time)-ordered window: "
    "last_value(ignoreNulls) with an unbounded-preceding frame gives "
    "the prior view, first_value(ignoreNulls) with an "
    "unbounded-following frame the next view — the (ts, src) sort "
    "key (views before clicks at equal instants) makes at-or-before "
    "vs strictly-after exact at boundaries, and both frames share "
    "the one exchange. The definitional oracle runs the quadratic "
    "per-user pairwise join; the window form is the one that "
    "survives per-user activity at scale.",
)
def rel_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    base = ev.where(F.col("event_type").isin("view", "click")).select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts)").alias("t_us"),
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("src"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "src", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    view_t = F.when(F.col("src") == 0, F.col("t_us"))
    marked = base.select(
        "event_id",
        "user_id",
        "t_us",
        "src",
        F.last(view_t, ignorenulls=True).over(wb).alias("prior_us"),
        F.first(view_t, ignorenulls=True).over(wf).alias("next_us"),
    )
    clicks = marked.where(F.col("src") == 1)
    nearest = F.when(F.col("prior_us").isNull(), F.col("next_us")).when(
        F.col("next_us").isNull(), F.col("prior_us")
    ).when(
        F.col("t_us") - F.col("prior_us") <= F.col("next_us") - F.col("t_us"),
        F.col("prior_us"),
    ).otherwise(F.col("next_us"))
    direction = (
        F.when(
            F.col("prior_us").isNull() & F.col("next_us").isNull(),
            F.lit(None).cast("string"),
        )
        .when(F.col("next_us").isNull(), "prior")
        .when(F.col("prior_us").isNull(), "next")
        .when(
            F.col("t_us") - F.col("prior_us")
            <= F.col("next_us") - F.col("t_us"),
            "prior",
        )
        .otherwise("next")
    )
    return clicks.select(
        "event_id",
        "user_id",
        "t_us",
        "prior_us",
        "next_us",
        nearest.alias("nearest_us"),
        direction.alias("direction"),
    )


# --- HLL sketch partial merge (re-aggregable approx distinct) ---------------


@register(
    "rel_hll_partial_merge",
    oracle="""
WITH weekly AS (
  SELECT epoch_us(ts) // 604800000000 AS week,
         count(DISTINCT user_id) AS exact_users
  FROM events GROUP BY 1
)
SELECT CAST(week AS BIGINT) AS week,
       CAST(exact_users AS BIGINT) AS exact_users,
       TRUE AS merged_within_tol
FROM weekly
""",
    doc="HLL sketch RE-AGGREGATION (Datasketches hll_sketch_agg / "
    "hll_union_agg, Spark 3.5+): per-day user sketches union into "
    "weekly estimates WITHOUT rescanning events — the pre-aggregated "
    "distinct-count serving pattern (store daily sketches, answer "
    "any-window questions by merge), the approximate sibling of "
    "rel_bitmap_distinct's exact bitmap OR (sketches are fixed-size "
    "at any cardinality; bitmaps grow with the id range — pick by "
    "id-space density). Sketch bytes are engine-specific, so the "
    "contract is the rel_approx_distinct form: the query emits the "
    "merged estimate's error check vs the exact weekly distinct "
    "(within 10%), which the oracle asserts TRUE; week and exact "
    "counts are exact integers. Scale shape: one (day)-keyed sketch "
    "agg with map-side partials, a |days|-row merge to weeks, exact "
    "check only at test scale.",
)
def rel_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    weekly = daily.groupBy(
        F.expr("day div 7").alias("week")
    ).agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
    exact = ev.groupBy(
        F.expr("unix_micros(ts) div 604800000000").alias("week")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        exact.join(weekly, "week")
        .select(
            F.col("week").cast("long").alias("week"),
            F.col("exact_users").cast("long").alias("exact_users"),
            (
                F.abs(F.col("est") - F.col("exact_users"))
                / F.col("exact_users")
                < F.lit(0.10)
            ).alias("merged_within_tol"),
        )
    )

"""Coverage-completing queries for SURVEY.md §2 Part B: outer joins,
theta/range join, collect_set, full ranking-window suite, range frames,
map functions, and the Python UDF surface (pandas_udf scalar / grouped
agg / applyInPandas grouped map) — each with a SQL oracle proving the
Python path preserves relational semantics."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mrc_spark_jobs_pubmed_spark.plans.registry import register
from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table
from mrc_spark_jobs_pubmed_spark.streaming.jobs import ROLL_DAYS  # shared with the streaming twin


@register(
    "rel_outer_joins",
    oracle="""
SELECT c_custkey, n_orders, status
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
FULL JOIN (SELECT DISTINCT o_custkey AS fk, 'seen' AS status FROM orders) s
  ON c_custkey = fk
""",
    doc="Left outer (customers keep 0-order rows) + full outer join; "
    "NULL-extension semantics on both sides.",
)
def rel_outer_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    seen = orders.select(F.col("o_custkey").alias("fk")).distinct().withColumn(
        "status", F.lit("seen")
    )
    return per_cust.join(seen, per_cust.c_custkey == seen.fk, "full").select(
        "c_custkey", "n_orders", "status"
    )


@register(
    "rel_range_join",
    oracle="""
WITH bands(band, lo, hi) AS (
  VALUES ('small', 0, 15), ('mid', 16, 35), ('large', 36, 100)
)
SELECT band, count(*) AS n_parts,
       ((200 * sum(CAST(round(p_retailprice * 100) AS BIGINT)) + count(*))
        // (2 * count(*))) / 10000.0 AS avg_price
FROM part JOIN bands ON p_size BETWEEN lo AND hi
GROUP BY band
""",
    doc="Theta/range join: parts binned into size bands via a BETWEEN "
    "predicate against a tiny broadcast bands table (broadcast "
    "nested-loop; at scale the small side is always the broadcast side).",
)
def rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir)
    bands = spark.createDataFrame(
        [("small", 0, 15), ("mid", 16, 35), ("large", 36, 100)], ["band", "lo", "hi"]
    )
    return (
        part.join(
            F.broadcast(bands),
            (F.col("p_size") >= F.col("lo")) & (F.col("p_size") <= F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(F.round(F.col("p_retailprice") * 100).cast("long")).alias("_pc"),
        )
        .select(
            "band",
            "n_parts",
            (
                F.expr("(200 * _pc + n_parts) div (2 * n_parts)").cast("double")
                / 10000.0
            ).alias("avg_price"),
        )
    )


@register(
    "rel_collect_set",
    oracle="""
SELECT c_nationkey,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments,
       count(DISTINCT c_mktsegment) AS n_segments
FROM customer
GROUP BY c_nationkey
""",
    doc="collect_set as a first-class aggregate (sort_array makes the "
    "set deterministic for comparison) — the real inverted-index "
    "posting-list shape from SURVEY.md §1.4. The registered boundary "
    "emits the set as a '|'-joined scalar: the driver's pandas-based "
    "canonicalizer cannot sort list cells (r01 ERR row), so array "
    "outputs are stringified at the contract edge only.",
)
def rel_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    return cust.groupBy("c_nationkey").agg(
        F.concat_ws("|", F.sort_array(F.collect_set("c_mktsegment"))).alias(
            "segments"
        ),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


@register(
    "rel_window_rank_suite",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       rank()       OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4)     OVER w AS quartile,
       lead(o_orderkey) OVER w AS next_key,
       first_value(o_orderkey) OVER w AS first_key
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
""",
    doc="Ranking/analytic window suite: rank, dense_rank, ntile, lead, "
    "first_value over one deterministic window spec.",
)
def rel_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.first("o_orderkey").over(w).alias("first_key"),
    )


@register(
    "rel_window_range_frame",
    oracle="""
SELECT o_orderkey, o_custkey,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) / 100.0
         AS spend_90d
FROM orders
""",
    doc="RANGE frame: per-customer rolling 90-day spend — rangeBetween "
    "over the epoch-seconds ordering key (90d = 7,776,000 s). This row "
    "certifies the bounded-RANGE-frame operator surface itself; exact "
    "integer cents so the frame sum is engine-exact. Skew caveat "
    "(r8): Spark evaluates bounded sliding frames by re-aggregating "
    "the in-frame buffer per output row — O(rows x in-frame rows) on "
    "a hot key. Safe here because TPC-H customers hold ~10 orders "
    "(frames stay account-sized at any corpus scale); for a key whose "
    "90-day frame can hold millions of rows, use the REGISTERED "
    "escape hatch rel_window_range_frame_diff (same oracle, +x/-x "
    "difference-stream plan, linear per row — skew A/B receipt "
    "RANGE_FRAME_AB_r9.json; jstack receipt in PERF.md r8).",
)
def rel_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 24 * 3600, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .over(w)
            .cast("double")
            / 100.0
        ).alias("spend_90d"),
    )


@register(
    "rel_window_range_frame_diff",
    oracle="""
SELECT o_orderkey, o_custkey,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) / 100.0
         AS spend_90d
FROM orders
WHERE o_orderdate IS NOT NULL
""",
    doc="Hot-key escape hatch for rel_window_range_frame: the SAME "
    "rolling-90-day-spend semantics (oracle is the identical RANGE-"
    "frame SQL), computed WITHOUT a bounded sliding frame. Spark "
    "re-aggregates a bounded frame's whole buffer per output row "
    "(O(rows x in-frame rows) on a hot key — the r8 rate-limiter "
    "probe pinned a core >30 min on one 2.5M-event key, jstack "
    "receipt in PERF.md r8). Here each order's cents contribute +c "
    "at its instant and -c at instant + 90d, and every order row "
    "reads the per-customer running UNBOUNDED PRECEDING sum — the "
    "one frame Spark evaluates incrementally in O(1)/row — ordered "
    "(tm, pri): arrivals (0) before readouts (1) before expiries "
    "(2), so a row expires strictly AFTER the boundary readout, "
    "matching RANGE's inclusive lower bound. Integer cents, so the "
    "running +-c sum equals the frame re-aggregation bit-for-bit. "
    "Same-instant peers aggregate once per (cust, instant) before "
    "the union, so peer rows all read the full peer-group sum, "
    "exactly as RANGE peers do. Linear per key at any skew: the "
    "skew A/B (RANGE_FRAME_AB_r9.json) shows the crossover vs the "
    "bounded-frame plan on a hot-key fixture. Non-null contract: "
    "RANGE treats null order dates as one peer group, the "
    "difference stream cancels them — both sides filter them "
    "explicitly so the equivalence is unconditional.",
)
def rel_window_range_frame_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_s = 90 * 24 * 3600
    orders = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey",
            "o_custkey",
            F.unix_timestamp("o_orderdate").alias("t_s"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    # same-instant peers contribute once, as one peer group
    inst = orders.groupBy("o_custkey", "t_s").agg(
        F.sum("cents").alias("c")
    )
    null_key = F.lit(None).cast("long")
    diff = (
        inst.select(
            "o_custkey",
            F.col("t_s").alias("tm"),
            F.lit(0).alias("pri"),
            F.col("c").alias("contrib"),
            null_key.alias("o_orderkey"),
        )
        .unionByName(
            orders.select(
                "o_custkey",
                F.col("t_s").alias("tm"),
                F.lit(1).alias("pri"),
                F.lit(0).cast("long").alias("contrib"),
                "o_orderkey",
            )
        )
        .unionByName(
            inst.select(
                "o_custkey",
                (F.col("t_s") + w_s).alias("tm"),
                F.lit(2).alias("pri"),
                (-F.col("c")).alias("contrib"),
                null_key.alias("o_orderkey"),
            )
        )
    )
    wrun = (
        Window.partitionBy("o_custkey")
        .orderBy("tm", "pri")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        diff.select(
            "o_orderkey",
            "o_custkey",
            "pri",
            F.sum("contrib").over(wrun).alias("cents_90d"),
        )
        .where(F.col("pri") == 1)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("cents_90d").cast("double") / 100.0).alias("spend_90d"),
        )
    )


@register(
    "rel_map_funcs",
    oracle="""
SELECT event_id,
       json_keys(props)[1] AS first_key,
       CAST(props->>'$.k' AS INTEGER) AS k_value,
       len(json_keys(props)) AS n_keys
FROM events
""",
    doc="Map/JSON surface: props parsed to MAP<string,int> with "
    "map_keys/size/element access (DuckDB mirrors via json_keys/->>) — "
    "the engine's path for the reference's duck-typed dicts (A9).",
)
def rel_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    m = F.from_json("props", T.MapType(T.StringType(), T.IntegerType()))
    return ev.select(
        "event_id",
        F.element_at(F.map_keys(m), 1).alias("first_key"),
        F.element_at(m, "k").alias("k_value"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@register(
    "udf_pandas_scalar",
    oracle="""
SELECT event_id, value, value * 1.1 + 1.0 AS adjusted
FROM events
""",
    doc="Vectorized scalar pandas_udf (Arrow Series→Series): the declared "
    "Python seam of SURVEY.md §2 UDF surface; oracle proves numeric "
    "equivalence with the SQL expression.",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf(T.DoubleType())
    def adjust(s: pd.Series) -> pd.Series:
        return s * 1.1 + 1.0

    ev = load_table(spark, "events", sf_dir)
    return ev.select("event_id", "value", adjust("value").alias("adjusted"))


@register(
    "udf_grouped_agg",
    oracle="""
SELECT event_type,
       ((200 * sum(CAST(round(value * 10000) AS BIGINT) * (user_id + 1))
         + sum(user_id + 1)) // (2 * sum(user_id + 1))) / 1000000.0
         AS weighted_avg
FROM events
GROUP BY event_type
""",
    doc="UDAF via pandas_udf GROUPED_AGG: weighted mean per event_type; "
    "oracle is the algebraic SQL form. The UDAF accumulates exact "
    "integers (value in 1e-4 units x integer weights, int64 partials "
    "then Python ints for the closing division) and emits the 6-dp "
    "mean via integer half-up division, so the Arrow seam carries no "
    "summation-order sensitivity.",
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf(T.DoubleType())
    def wavg(v4: pd.Series, w: pd.Series) -> float:
        # object dtype = Python-int accumulation: Σ v4·w reaches ~4.5e19
        # at sf1 (user ids up to 9e8), past int64 — a silent-wrap bug the
        # sf1 oracle sweep caught; DuckDB promotes to int128, so the UDAF
        # must accumulate exactly too.
        num = int((v4.astype(object) * w.astype(object)).sum())
        den = int(w.astype("int64").sum())
        return float((200 * num + den) // (2 * den)) / 1000000.0

    ev = load_table(spark, "events", sf_dir).withColumn(
        "v4", F.round(F.col("value") * 10000).cast("long")
    ).withColumn("w", (F.col("user_id") + 1).cast("long"))
    return ev.groupBy("event_type").agg(
        wavg("v4", "w").alias("weighted_avg")
    )


@register(
    "udf_grouped_zscore",
    oracle="""
WITH s AS (
  SELECT event_id, event_type,
         CAST(round(value * 10000) AS BIGINT) AS u4
  FROM events
),
g AS (
  SELECT event_type, count(*) AS n, sum(u4) AS s1, sum(u4 * u4) AS s2
  FROM s GROUP BY event_type
)
SELECT event_id, event_type,
       CASE WHEN n < 2 THEN NULL
            ELSE CAST(n * u4 - s1 AS DOUBLE)
                 / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) * n / (n - 1))
       END AS zscore
FROM s JOIN g USING (event_type)
""",
    doc="Grouped-map applyInPandas: per-group pandas z-score; oracle is "
    "the algebraic window rewrite. Both sides use the exact-integer "
    "moment identity z = (n·x − S1)/sqrt((n·S2 − S1²)·n/(n−1)) over "
    "1e-4-unit ints (S1/S2 exact, the same three IEEE double ops close "
    "it), so the pandas path and the SQL path are bit-identical — no "
    "order-dependent mean/std and no engine-level rounding.",
)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("zscore", T.DoubleType()),
        ]
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        u4 = (pdf["value"] * 10000).round().astype("int64")
        if n < 2:
            z = pd.Series([None] * n, dtype="float64")
        else:
            s1 = int(u4.sum())
            # object dtype: Σ u4² is ~3e13 per row — an int64 sum wraps
            # once groups pass ~300k rows (same class as the wavg bug)
            s2 = int((u4.astype(object) * u4).sum())
            a = n * s2 - s1 * s1  # Python int: exact past int64
            den = math.sqrt(float(a) * n / (n - 1))
            z = (n * u4 - s1).astype("float64") / den
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "zscore": z,
            }
        )

    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").applyInPandas(zscore, schema)


@register(
    "rel_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.50) AS p50,
       quantile_cont(l_quantity, 0.95) AS p95
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Exact percentiles (linear interpolation) per group; the "
    "approximate HLL/sketch path is rel_approx_distinct — this is the "
    "exact counterpart the oracle can value-match.",
)
def rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("p25"),
        F.expr("percentile(l_quantity, 0.50)").alias("p50"),
        F.expr("percentile(l_quantity, 0.95)").alias("p95"),
    )


@register(
    "rel_subqueries",
    oracle="""
SELECT c_custkey, round(c_acctbal, 2) AS acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
  AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer)
""",
    doc="SQL subquery surface: correlated EXISTS (→ left-semi join), "
    "uncorrelated IN, and a scalar subquery — run through spark.sql so "
    "the parser/analyzer path is exercised, decorrelated by Catalyst.",
)
def rel_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders", "nation"):
        load_table(spark, t, sf_dir).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        FROM v_customer c
        WHERE EXISTS (SELECT 1 FROM v_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
          AND c_nationkey IN (SELECT n_nationkey FROM v_nation WHERE n_regionkey = 1)
          AND c_acctbal > (SELECT avg(c_acctbal) FROM v_customer)
        """
    )


@register(
    "udtf_split_words",
    oracle="""
SELECT doc_id,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
         AS word
FROM documents
""",
    doc="Python UDTF (table function) via LATERAL join: one text row → "
    "N word rows; oracle is the regexp-split/unnest rewrite, proving the "
    "UDTF row-expansion contract against plain SQL.",
)
def udtf_split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").split():
                yield (w,)

    spark.udtf.register("split_words_q", SplitWords)
    load_table(spark, "documents", sf_dir).createOrReplaceTempView("v_documents_udtf")
    return spark.sql(
        "SELECT d.doc_id, s.word "
        "FROM v_documents_udtf d, LATERAL split_words_q(d.text) s"
    )


@register(
    "rel_set_ops_all",
    oracle="""
SELECT 'both_all' AS tag, n FROM (
  SELECT c_nationkey AS n FROM customer
  INTERSECT ALL
  SELECT s_nationkey AS n FROM supplier WHERE s_acctbal > 5000)
UNION ALL
SELECT 'cust_only_all' AS tag, n FROM (
  SELECT c_nationkey AS n FROM customer
  EXCEPT ALL
  SELECT s_nationkey AS n FROM supplier WHERE s_acctbal > 5000)
""",
    doc="Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL): duplicate "
    "multiplicity must survive, unlike the set-semantics rel_set_ops.",
)
def rel_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_nationkey").alias("n")
    )
    supp = (
        load_table(spark, "supplier", sf_dir)
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("n"))
    )
    both = cust.intersectAll(supp).select(F.lit("both_all").alias("tag"), "n")
    only = cust.exceptAll(supp).select(F.lit("cust_only_all").alias("tag"), "n")
    return both.unionByName(only)


@register(
    "rel_unpivot",
    oracle="""
SELECT p_partkey, metric, val
FROM (
  SELECT p_partkey,
         CAST(p_retailprice AS DOUBLE) AS p_retailprice,
         CAST(p_size AS DOUBLE) AS p_size
  FROM part
) UNPIVOT (val FOR metric IN (p_retailprice, p_size))
""",
    doc="unpivot/melt: wide metric columns to long (entity, metric, "
    "value) rows — the inverse of rel_pivot, a narrow rewrite with no "
    "shuffle.",
)
def rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir).select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    )
    return part.unpivot(
        "p_partkey", ["p_retailprice", "p_size"], "metric", "val"
    )


@register(
    "rel_null_semantics",
    oracle="""
SELECT c_custkey,
       nullif(c_mktsegment, 'BUILDING') AS seg_n,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'suppressed') AS seg_c,
       (nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL) AS is_supp
FROM customer
""",
    doc="NULL semantics surface: nullif / coalesce / null-safe equality "
    "(<=> vs IS NOT DISTINCT FROM) — three-valued logic pinned against "
    "the oracle.",
)
def rel_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    seg_n = F.expr("nullif(c_mktsegment, 'BUILDING')")
    return cust.select(
        "c_custkey",
        seg_n.alias("seg_n"),
        F.coalesce(seg_n, F.lit("suppressed")).alias("seg_c"),
        F.expr("nullif(c_mktsegment, 'BUILDING') <=> CAST(NULL AS STRING)").alias(
            "is_supp"
        ),
    )


@register(
    "rel_salted_agg",
    oracle="""
SELECT l_returnflag,
       array_to_string(list_sort(list(DISTINCT l_linestatus)), '|')
         AS l_linestatus_set
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Skew-safe collect_set: two-phase salted aggregation (per-(key, "
    "salt) partial sets, flatten+distinct at the final reduce) — the "
    "explicit lever for hot-key groupBys whose per-key state AQE cannot "
    "split. Oracle is the plain one-phase form, proving the rewrite is "
    "semantics-preserving.",
)
def rel_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mrc_spark_jobs_pubmed_spark.operators import skew

    li = load_table(spark, "lineitem", sf_dir)
    sets = skew.salted_collect_set(
        li, key="l_returnflag", value="l_linestatus", salt_from=F.col("l_orderkey")
    )
    # driver-comparator boundary: emit the (already-sorted) set as a scalar
    return sets.withColumn(
        "l_linestatus_set", F.concat_ws("|", F.col("l_linestatus_set"))
    )


@register(
    "src_pubmed_pages",
    oracle="""
WITH months AS (
  SELECT CAST(y AS INTEGER) AS year, CAST(m AS INTEGER) AS month
  FROM unnest(range(1998, 2000)) t(y), unnest(range(1, 13)) u(m)
),
work AS (
  SELECT year, month,
         5000 + CAST('0x' || substr(md5(year || '-' || month), 1, 8) AS BIGINT)
                % 30000 AS total
  FROM months
),
pages AS (
  SELECT year, month, unnest(range(0, total, 10000)) AS page_offset FROM work
)
SELECT year || '_' || month || '_num_' || page_offset AS page_key,
       year, month, page_offset, 1 AS n_attempts, TRUE AS has_payload
FROM pages
""",
    doc="Custom Spark 4 Python DataSource (`format('pubmed')`): the "
    "reference's esearch/efetch ingest as a real scan node — one "
    "InputPartition per (year, month), executor-side 10k-page "
    "enumeration, bounded retry. Oracle replays the deterministic "
    "discovery/pagination arithmetic in SQL (payload bodies are checked "
    "structurally via has_payload; their content is pinned by pytest).",
)
def src_pubmed_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mrc_spark_jobs_pubmed_spark.sources import pubmed_datasource

    pubmed_datasource.register(spark)
    df = (
        spark.read.format("pubmed")
        .option("begin_year", "1998")
        .option("end_year", "1999")
        .load()
    )
    return df.select(
        "page_key",
        "year",
        "month",
        F.col("offset").alias("page_offset"),
        "n_attempts",
        F.col("payload").isNotNull().alias("has_payload"),
    )


@register(
    "rel_funnel_steps",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.t1
  WHERE e.event_type = 'click'
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.t2
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase,
       round((SELECT count(*) FROM c) * 1.0 / (SELECT count(*) FROM v), 6)
         AS view_to_click,
       round((SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM c), 6)
         AS click_to_purchase
""",
    doc="Ordered funnel analysis over the event stream: per user, first "
    "view, then the earliest click at-or-after it, then the earliest "
    "purchase at-or-after that — stage populations and conversion "
    "rates. Each stage is one filtered hash-agg on user_id joined to "
    "the previous stage's anchor time; all three shuffles share the "
    "user_id key, so at scale AQE/co-partitioning lines them up and "
    "the stage joins are exchange-reusing equi-joins (the classic "
    "sessionized-funnel shape, never a self-cross of the event log). "
    "Counts are exact integers; the two rates are single float "
    "divisions of those integers, bit-identical across engines.",
)
def rel_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click"))
    np_ = p.agg(F.count("*").alias("n_purchase"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            # try_divide: on an empty stream (incremental run with no new
            # events) the stage counts are 0 and the rates are honestly
            # NULL instead of a DIVIDE_BY_ZERO abort; identical to plain
            # division whenever any events exist.
            F.round(
                F.try_divide(F.col("n_click") * F.lit(1.0), F.col("n_view")), 6
            ).alias("view_to_click"),
            F.round(
                F.try_divide(F.col("n_purchase") * F.lit(1.0), F.col("n_click")),
                6,
            ).alias("click_to_purchase"),
        )
    )


SALT_N = 4


@register(
    "rel_skew_salted_join",
    oracle="""
SELECT s_name,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_c4,
       count(*) AS n_lines
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
""",
    doc="Skew-safe JOIN via salting — the join-side counterpart of "
    "rel_salted_agg's aggregation fix: the big (fact) side gets a "
    "deterministic salt pmod(xxhash64(row key), 4) and the small side "
    "is replicated once per salt value (explode(sequence)), so the "
    "join key becomes (suppkey, salt) and a pathologically hot "
    "supplier's rows spread across 4 tasks instead of one straggler. "
    "The oracle is the UNSALTED plain join — proving the rewrite is "
    "exactly semantics-preserving, which is the entire point of the "
    "lever. Revenue is EXACT integer arithmetic in 10^-4-dollar units: "
    "price and discount are 2-dp decimals stored as doubles, so "
    "round(x*100) recovers the exact integer (never a halfway case — "
    "the double is within ~1e-10 of the integer) and the per-line "
    "product cents*(100-disc_bp) is a plain BIGINT. No round() of a "
    "computed double anywhere, so the aggregate is independent of "
    "engine, summation order, and partitioning (the salted plan's "
    "whole purpose is to change partitioning). The r3 form rounded "
    "price*(1-disc)*100 per row — a double whose shortest decimal "
    "repr can sit exactly on .5, where Spark (HALF_UP on the decimal "
    "string) and DuckDB (round of the binary value) disagree on "
    "specific data draws. At 100 TB the salt fan-out N scales with "
    "observed skew; AQE's skew-join handles moderate cases, this "
    "explicit lever handles the per-key hot spots it can't split.",
)
def rel_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    big = li.select(
        "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (100 - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("c4"),
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_N)).alias(
            "salt"
        ),
    )
    small = supp.select("s_suppkey", "s_name").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_N - 1)))
    )
    return (
        big.join(
            small,
            (big.l_suppkey == small.s_suppkey) & (big.salt == small.salt),
        )
        .groupBy("s_name")
        .agg(
            F.sum("c4").alias("revenue_c4"),
            F.count("*").alias("n_lines"),
        )
    )


ZORDER_BITS = 16


def _zorder_terms(x_expr: str, y_expr: str, dialect: str) -> str:
    """Bit-interleave of two 16-bit ints: z = Σ_i bit_i(x)·4^i + 2·bit_i(y)·4^i.
    Pure integer arithmetic ((v // 2^i) % 2), identical in any dialect."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(({x_expr}) // {1 << i} % 2) * {1 << (2 * i)}")
        terms.append(f"(({y_expr}) // {1 << i} % 2) * {1 << (2 * i + 1)}")
    joined = " + ".join(terms)
    if dialect == "spark":
        joined = joined.replace("//", "div")
    return f"({joined})"


@register(
    "rel_zorder_layout",
    oracle=f"""
WITH t AS (
  SELECT o_orderkey,
         o_custkey % 65536 AS xk,
         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) % 65536
           AS yk
  FROM orders
)
SELECT o_orderkey,
       {_zorder_terms('xk', 'yk', 'duckdb')} AS zkey
FROM t
""",
    doc="Z-order (Morton) clustering key over (customer, order date): "
    "16-bit normalized coordinates bit-interleaved into one BIGINT by "
    "pure integer arithmetic — the multi-dimensional sort key behind "
    "Delta/Iceberg OPTIMIZE ZORDER. Writing 100 TB sorted by zkey "
    "co-locates rows close in BOTH dimensions into the same files, so "
    "min/max file statistics prune scans for predicates on either "
    "column (a single-column sort only prunes one). The key itself is "
    "a zero-shuffle narrow computation; the layout write is one "
    "range-partitioned sort by zkey. Value-checked per row on both "
    "engines (bit math has no float or ordering hazards).",
)
def rel_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    t = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("xk"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
            .cast("long")
            % 65536
        ).alias("yk"),
    )
    return t.select(
        "o_orderkey", F.expr(_zorder_terms("xk", "yk", "spark")).alias("zkey")
    )


@register(
    "rel_event_pattern",
    oracle="""
WITH j AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey
  FROM events
  GROUP BY user_id
)
SELECT user_id,
       length(journey) AS n_events,
       (length(journey) - length(replace(journey, 'vcp', ''))) // 3 AS n_vcp,
       (length(journey) - length(replace(journey, 'vc', ''))) // 2 AS n_vc
FROM j
""",
    doc="Sequential pattern matching over the event stream (the "
    "MATCH_RECOGNIZE use case): each user's events collapse to an "
    "ordered journey string (one char per event, deterministic "
    "(ts, event_id) order), and patterns — view→click→purchase runs "
    "and view→click runs — are counted with the replace-length trick, "
    "whose left-to-right non-overlap semantics are identical on every "
    "engine. Scale shape: ONE shuffle on user_id; the journey build is "
    "a sort-free array_sort(collect_list(struct)) whose per-user state "
    "is the user's own event count, and the pattern counts are pure "
    "per-row string arithmetic afterwards. The same shape handles any "
    "regex-free subsequence pattern; true regex patterns drop in via "
    "regexp_count on the same journey column.",
)
def rel_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    journey = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("i"))
                )
            ),
            lambda s: s["i"],
        ),
        "",
    )
    def _nruns(pat: str, ln: int):
        return (
            (F.length("journey") - F.length(F.replace(F.col("journey"), F.lit(pat), F.lit(""))))
            / ln
        ).cast("long")

    return (
        ev.groupBy("user_id")
        .agg(journey.alias("journey"))
        .select(
            "user_id",
            F.length("journey").alias("n_events"),
            _nruns("vcp", 3).alias("n_vcp"),
            _nruns("vc", 2).alias("n_vc"),
        )
    )


@register(
    "rel_histogram",
    oracle="""
SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bin,
       count(*) AS n,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY 1
""",
    doc="Equi-width histogram (the profiling primitive behind optimizer "
    "statistics and data-quality dashboards): fixed 25k-wide bins of "
    "order value with per-bin count, extrema, and an exact integer-"
    "cents total (per-row rounding before the sum keeps the aggregate "
    "summation-order-independent). One hash-agg whose output is the "
    "bin-count domain — constant-size regardless of input scale; the "
    "map-side partials do all the work.",
)
def rel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 25000).cast("long").alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
    )


# --- fuzzy record linkage (entity resolution) -------------------------------


@register(
    "rel_fuzzy_linkage",
    oracle="""
WITH keys AS (
  SELECT c_custkey, c_name, t.i AS i,
         substr(c_name, 1, (t.i - 1)::INT) || '_' ||
         substr(c_name, (t.i + 1)::INT) AS k
  FROM customer, unnest(generate_series(1, length(c_name))) t(i)
)
SELECT CAST(a.i AS BIGINT) AS pos, count(*) AS n_pairs
FROM keys a JOIN keys b
  ON a.i = b.i AND a.k = b.k AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) = 1
GROUP BY a.i
""",
    doc="Fuzzy record linkage (entity resolution): pairs of customer "
    "names within edit distance 1 found by substitution-neighborhood "
    "blocking (the SymSpell idea) — each name emits length(name) "
    "wildcard keys (position i blanked), candidates come from an "
    "equi-join on (position, key), and levenshtein verifies "
    "candidates only. Output: matched-pair count per differing "
    "position. Scale shape: NEVER all-pairs — keys per row are "
    "O(len), the join is a plain hash equi-join whose block sizes "
    "are bounded by near-duplicate density, and the verify touches "
    "candidates only; the same plan runs record linkage at any "
    "corpus size (extend keys with deletions for full edit-distance-1 "
    "coverage across lengths).",
)
def rel_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    # explode ONLY the position index; the wildcard key is then plain
    # codegen'd string ops in the next projection. Building (i, k)
    # structs inside a transform() lambda is interpreted per element
    # (higher-order functions never reach whole-stage codegen) and
    # measured 4.2 s for 270k keys at sf0.1 vs ~0.3 s for this form —
    # the same interpreted-HOF lesson as the shingle pass.
    # Distribute BEFORE the key fan-out: the blocking explode (x len)
    # and candidate verify dwarf the dim scan, and a single-file dim
    # otherwise runs the whole linkage in one task (measured 3.9 s ->
    # 1.6 s at sf0.1). The count must be EXPLICIT: AQE sizes a keyed
    # repartition on the exchange's input bytes — ~1 MB of raw names
    # here — and coalesces it back to one partition, blind to the x18
    # fan-out and the candidate join behind it.
    keys = cust.repartition(
        spark.sparkContext.defaultParallelism, F.col("c_custkey")
    ).select(
        "c_custkey",
        "c_name",
        F.explode(F.sequence(F.lit(1), F.length("c_name"))).alias("i"),
    ).select(
        "c_custkey",
        "c_name",
        "i",
        F.expr(
            "concat(substring(c_name, 1, i - 1), '_', "
            "substring(c_name, i + 1, length(c_name)))"
        ).alias("k"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.k") == F.col("b.k"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .where(F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) == 1)
        .groupBy(F.col("a.i").cast("long").alias("pos"))
        .agg(F.count("*").alias("n_pairs"))
    )


# --- cohort retention -------------------------------------------------------


@register(
    "rel_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
  FROM events
),
cohort_sizes AS (
  SELECT cohort_week, count(*) AS cohort_n FROM firsts GROUP BY cohort_week
)
SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT)
         AS week_offset,
       count(*) AS n_active,
       round(count(*)::DOUBLE / any_value(s.cohort_n), 6) AS retention
FROM firsts f
JOIN active a ON a.user_id = f.user_id
JOIN cohort_sizes s ON s.cohort_week = f.cohort_week
GROUP BY f.cohort_week, week_offset
""",
    doc="Cohort retention over the event stream: users grouped by the "
    "week of their first event; for each (cohort_week, week_offset) the "
    "count and fraction of the cohort still active — the standard "
    "product-analytics retention triangle. Scale shape: every stage "
    "keys on user_id (first-event agg, per-week activity distinct, "
    "the cohort join), so the three shuffles share one partitioning "
    "and AQE lines them up; the final (cohort, offset) agg has a "
    "bounded output domain (weeks x offsets) and ships map-side "
    "partials. Integer day/7 offset arithmetic and week truncation "
    "are bit-identical across engines (both truncate to Monday).",
)
def rel_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("active_week")
    ).distinct()
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_n"))
    return (
        firsts.join(active, "user_id")
        .join(F.broadcast(sizes), "cohort_week")
        .groupBy(
            # STRING week key: a Spark DATE canonicalizes as a pandas
            # object cell while DuckDB's date_trunc is datetime64 — the
            # driver's type-sensitive comparator needs one shared dtype
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(
            F.count("*").alias("n_active"),
            F.round(
                F.count("*").cast("double") / F.any_value(F.col("cohort_n")), 6
            ).alias("retention"),
        )
    )


@register(
    "rel_scd2_history",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts AS valid_from, event_id
  FROM ordered
  WHERE prev_type IS DISTINCT FROM event_type
),
versioned AS (
  SELECT user_id, event_type, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from, event_id) AS valid_to,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY valid_from, event_id) AS version
  FROM changes
)
SELECT user_id, event_type AS state,
       CAST(version AS BIGINT) AS version,
       valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM versioned
""",
    doc="Slowly-changing-dimension type 2 build: collapse each user's "
    "event stream into versioned state intervals — a row per change of "
    "event_type with [valid_from, valid_to) bounds, a monotone version "
    "number, and an is_current flag on the open interval. The standard "
    "way a warehouse tracks attribute history from an append-only "
    "event log. One hash exchange on user_id serves all three window "
    "functions (lag, lead, row_number share the partition spec); "
    "per-key state is a single previous row, so memory is O(1) per "
    "user regardless of history length. Change detection is NULL-safe "
    "(IS DISTINCT FROM), tie-broken deterministically by event_id.",
)
def rel_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(~F.col("prev_type").eqNullSafe(F.col("event_type")))
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    wv = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    versioned = changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.row_number().over(wv).cast("long").alias("version"),
    )
    return versioned.select(
        "user_id",
        F.col("event_type").alias("state"),
        "version",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


@register(
    "rel_data_quality",
    oracle="""
SELECT 'documents_text_null' AS check_name,
       CAST(count(*) FILTER (WHERE text IS NULL) AS BIGINT) AS n_violations,
       CAST(count(*) AS BIGINT) AS n_checked,
       round(count(*) FILTER (WHERE text IS NULL)::DOUBLE / nullif(count(*), 0), 6)
         AS violation_rate
FROM documents
UNION ALL
SELECT 'documents_id_duplicate',
       CAST(count(*) - count(DISTINCT doc_id) AS BIGINT),
       CAST(count(*) AS BIGINT),
       round((count(*) - count(DISTINCT doc_id))::DOUBLE / nullif(count(*), 0), 6)
FROM documents
UNION ALL
SELECT 'documents_nchars_mismatch',
       CAST(count(*) FILTER (WHERE length(text) IS DISTINCT FROM n_chars) AS BIGINT),
       CAST(count(*) AS BIGINT),
       round(count(*) FILTER (WHERE length(text) IS DISTINCT FROM n_chars)::DOUBLE
             / nullif(count(*), 0), 6)
FROM documents
UNION ALL
SELECT 'events_ts_null',
       CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT),
       CAST(count(*) AS BIGINT),
       round(count(*) FILTER (WHERE ts IS NULL)::DOUBLE / nullif(count(*), 0), 6)
FROM events
UNION ALL
SELECT 'events_value_negative',
       CAST(count(*) FILTER (WHERE value < 0) AS BIGINT),
       CAST(count(*) AS BIGINT),
       round(count(*) FILTER (WHERE value < 0)::DOUBLE / nullif(count(*), 0), 6)
FROM events
UNION ALL
SELECT 'embeddings_dim_mismatch',
       CAST(count(*) FILTER (WHERE len(embedding) <> 64) AS BIGINT),
       CAST(count(*) AS BIGINT),
       round(count(*) FILTER (WHERE len(embedding) <> 64)::DOUBLE
             / nullif(count(*), 0), 6)
FROM embeddings
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       round((SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))::DOUBLE
             / nullif((SELECT count(*) FROM lineitem), 0), 6)
UNION ALL
SELECT 'orders_orphan_custkey',
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       round((SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))::DOUBLE
             / nullif((SELECT count(*) FROM orders), 0), 6)
""",
    doc="Declarative data-quality validation (Deequ-style constraint "
    "suite): completeness (NULL counts), uniqueness (key duplicates), "
    "consistency (n_chars matches length(text)), range (non-negative "
    "values), shape (embedding dimensionality), and referential "
    "integrity (orphan foreign keys) — reported as one (check, "
    "violations, checked, rate) table. The gate a training pipeline "
    "runs before consuming a snapshot. Scale shape (replanned r9 — "
    "the sf20 decade-check caught the old form): each table is "
    "scanned ONCE with all of its checks as conditional aggregates "
    "in a single pass, unpivoted to check rows afterwards (the old "
    "plan scanned documents three times — once per check); "
    "referential integrity pre-aggregates the child to (key, count) "
    "with a map-side partial, LEFT-joins the parent's distinct keys "
    "on the shared hash partitioning, and folds orphan/total counts "
    "in one aggregate — the old plan FORCE-BROADCAST the parent's "
    "distinct keys (30M o_orderkeys = hundreds of MB through the "
    "driver at sf20, unbounded at corpus scale) and scanned the "
    "child twice for the violation/total counts. No broadcast of "
    "anything unbounded; every join key is shuffled once. "
    "sf20 A/B: 23.6 s -> ~7 s.",
)
def rel_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    events = load_table(spark, "events", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)

    def unpivot(agged: DataFrame, checks: list[str]) -> DataFrame:
        """One aggregated row carrying <check>_v numerators + n ->
        one output row per check (explode of a literal struct array:
        no extra scan, no shuffle)."""
        rows = F.array(
            *[
                F.struct(
                    F.lit(c).alias("check_name"),
                    F.col(f"{c}_v").cast("long").alias("n_violations"),
                )
                for c in checks
            ]
        )
        return agged.select(
            F.explode(rows).alias("r"), F.col("n").cast("long").alias("n_checked")
        ).select(
            F.col("r.check_name").alias("check_name"),
            F.col("r.n_violations").alias("n_violations"),
            "n_checked",
            F.round(
                F.try_divide(
                    F.col("r.n_violations").cast("double"), F.col("n_checked")
                ),
                6,
            ).alias("violation_rate"),
        )

    def cnt(bad) -> object:
        return F.sum(F.when(bad, 1).otherwise(0))

    docs_checks = unpivot(
        docs.agg(
            cnt(F.col("text").isNull()).alias("documents_text_null_v"),
            (F.count("*") - F.count_distinct("doc_id")).alias(
                "documents_id_duplicate_v"
            ),
            cnt(~F.length("text").eqNullSafe(F.col("n_chars"))).alias(
                "documents_nchars_mismatch_v"
            ),
            F.count("*").alias("n"),
        ),
        [
            "documents_text_null",
            "documents_id_duplicate",
            "documents_nchars_mismatch",
        ],
    )
    events_checks = unpivot(
        events.agg(
            cnt(F.col("ts").isNull()).alias("events_ts_null_v"),
            cnt(F.col("value") < 0).alias("events_value_negative_v"),
            F.count("*").alias("n"),
        ),
        ["events_ts_null", "events_value_negative"],
    )
    emb_checks = unpivot(
        emb.agg(
            cnt(F.size("embedding") != 64).alias("embeddings_dim_mismatch_v"),
            F.count("*").alias("n"),
        ),
        ["embeddings_dim_mismatch"],
    )

    def orphans(child: DataFrame, name: str, key, parent: DataFrame, pkey) -> DataFrame:
        # child pre-aggregated to (key, count) — map-side partial cuts
        # the shuffle to the key domain; parent reduced to distinct
        # keys on the SAME partitioning; one left join, one fold.
        ckeys = child.groupBy(key.alias("_k")).agg(F.count("*").alias("_c"))
        pk = parent.select(pkey.alias("_pk")).distinct()
        return (
            ckeys.join(pk, F.col("_k") == F.col("_pk"), "left")
            .agg(
                F.sum(F.when(F.col("_pk").isNull(), F.col("_c")).otherwise(0))
                .cast("long")
                .alias("n_violations"),
                F.sum("_c").cast("long").alias("n_checked"),
            )
            .select(
                F.lit(name).alias("check_name"),
                "n_violations",
                "n_checked",
                F.round(
                    F.try_divide(
                        F.col("n_violations").cast("double"), F.col("n_checked")
                    ),
                    6,
                ).alias("violation_rate"),
            )
        )

    parts = [
        docs_checks,
        events_checks,
        emb_checks,
        orphans(li, "lineitem_orphan_orderkey", F.col("l_orderkey"), orders, F.col("o_orderkey")),
        orphans(orders, "orders_orphan_custkey", F.col("o_custkey"), cust, F.col("c_custkey")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- time-series gap fill + linear interpolation ----------------------------

GAP_BUCKET_SEC = 300  # 5-minute buckets


@register(
    "rel_gap_fill_interpolate",
    oracle=f"""
WITH buckets AS (
  SELECT event_type,
         epoch_us(ts) // ({GAP_BUCKET_SEC} * 1000000) AS b,
         count(*) AS n_events,
         CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v_u4
  FROM events
  GROUP BY 1, 2
),
spine AS (
  SELECT event_type, unnest(range(min(b), max(b) + 1)) AS b
  FROM buckets GROUP BY event_type
),
joined AS (
  SELECT s.event_type, s.b, buckets.n_events, buckets.v_u4
  FROM spine s LEFT JOIN buckets USING (event_type, b)
),
carried AS (
  SELECT event_type, b, n_events, v_u4,
         last_value(v_u4 IGNORE NULLS) OVER w_prev AS prev_v,
         last_value(CASE WHEN v_u4 IS NOT NULL THEN b END IGNORE NULLS)
           OVER w_prev AS prev_b,
         first_value(v_u4 IGNORE NULLS) OVER w_next AS next_v,
         first_value(CASE WHEN v_u4 IS NOT NULL THEN b END IGNORE NULLS)
           OVER w_next AS next_b
  FROM joined
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       b * {GAP_BUCKET_SEC} AS bucket_epoch,
       (v_u4 IS NULL) AS is_gap,
       coalesce(n_events, 0) AS n_events,
       CASE
         WHEN v_u4 IS NOT NULL THEN v_u4
         WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
           prev_v + (CASE WHEN (next_v - prev_v) * (b - prev_b) < 0
                          THEN -((-((next_v - prev_v) * (b - prev_b)))
                                 // (next_b - prev_b))
                          ELSE ((next_v - prev_v) * (b - prev_b))
                                 // (next_b - prev_b) END)
       END AS value_u4_filled
FROM carried
""",
    doc="Time-series gap filling with linear interpolation (the "
    "hypertable `time_bucket_gapfill` + `interpolate` op): 5-min "
    "value sums per event type on a DENSE per-type bucket spine "
    "(sequence+explode), missing buckets linearly interpolated "
    "between the nearest real neighbors via last/first_value(IGNORE "
    "NULLS) carries. All arithmetic is exact integer micro-units with "
    "sign-aware truncating division, so interpolated values are bit-"
    "identical across engines and partitionings; leading/trailing "
    "gaps stay NULL (no extrapolation). Scale shape: one hash-agg on "
    "(type, bucket), a per-type spine that is |types| x |range| rows, "
    "and two windows sharing ONE event_type exchange — the dense "
    "spine join is an equi-join on the same key. At 100 TB the bucket "
    "domain is time-bounded (rows/bucket grows, spine does not), so "
    "the fill cost is constant in data volume.",
)
def rel_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    buckets = (
        ev.groupBy(
            "event_type",
            (F.unix_timestamp("ts") / GAP_BUCKET_SEC)
            .cast("long")
            .alias("b"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias("v_u4"),
        )
    )
    spine = (
        buckets.groupBy("event_type")
        .agg(F.min("b").alias("_lo"), F.max("b").alias("_hi"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("b"),
        )
    )
    joined = spine.join(buckets, ["event_type", "b"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the forward carry runs over a REVERSED cumulative frame, not
    # [current row, unbounded following]: Spark's UnboundedFollowing
    # window frame re-scans the rest of the partition for EVERY row
    # (O(n^2) — measured 10 s vs 0.7 s at sf0.01); a running frame over
    # the descending sort is the same value in O(n), at the cost of one
    # extra sort on the already-partitioned data
    w_next = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = joined.select(
        "event_type",
        "b",
        "n_events",
        "v_u4",
        F.last("v_u4", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(
            F.when(F.col("v_u4").isNotNull(), F.col("b")), ignorenulls=True
        )
        .over(w_prev)
        .alias("prev_b"),
        F.last("v_u4", ignorenulls=True).over(w_next).alias("next_v"),
        F.last(
            F.when(F.col("v_u4").isNotNull(), F.col("b")), ignorenulls=True
        )
        .over(w_next)
        .alias("next_b"),
    )
    interp = F.col("prev_v") + F.expr(
        "CASE WHEN (next_v - prev_v) * (b - prev_b) < 0"
        " THEN -((-((next_v - prev_v) * (b - prev_b))) div (next_b - prev_b))"
        " ELSE ((next_v - prev_v) * (b - prev_b)) div (next_b - prev_b) END"
    )
    return carried.select(
        "event_type",
        (F.col("b") * GAP_BUCKET_SEC).alias("bucket_epoch"),
        F.col("v_u4").isNull().alias("is_gap"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.when(F.col("v_u4").isNotNull(), F.col("v_u4"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(), interp
        )
        .alias("value_u4_filled"),
    )


# --- robust time-series anomaly detection (median/MAD) ----------------------

MAD_K = 3.0  # flag buckets beyond K * MAD from the median


@register(
    "rel_ts_anomaly_mad",
    oracle=f"""
WITH buckets AS (
  SELECT event_type,
         epoch_us(ts) // ({GAP_BUCKET_SEC} * 1000000) AS b,
         count(*) AS n_events,
         CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v_u4
  FROM events
  GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(v_u4, 0.5) AS med
  FROM buckets GROUP BY event_type
),
stats AS (
  SELECT b.event_type,
         any_value(m.med) AS med,
         quantile_cont(abs(b.v_u4 - m.med), 0.5) AS mad
  FROM buckets b JOIN med m USING (event_type)
  GROUP BY b.event_type
)
SELECT b.event_type,
       b.b * {GAP_BUCKET_SEC} AS bucket_epoch,
       b.n_events,
       b.v_u4,
       s.med AS median_u4,
       s.mad AS mad_u4,
       (b.v_u4 - s.med) / nullif(s.mad, 0) AS deviation_mads
FROM buckets b JOIN stats s USING (event_type)
WHERE s.mad > 0 AND abs(b.v_u4 - s.med) > {MAD_K} * s.mad
""",
    doc="Robust time-series anomaly detection: 5-min value sums per "
    "event type flagged when they sit more than {}x the median absolute "
    "deviation from the per-type median — the outlier monitor that, "
    "unlike mean/sigma, is not dragged by the outliers it hunts. "
    "Exactness: bucket sums are exact integer micro-units; median and "
    "MAD interpolate on the integer (then half-integer) grid, so both "
    "are exactly-representable doubles and the threshold compare is "
    "bit-identical across engines — no rounding anywhere. Scale shape: "
    "one (type, bucket) hash-agg over the events stream, then the "
    "percentile pair runs on the BOUNDED bucket domain (time x types, "
    "constant in row volume) and broadcasts back to it — the expensive "
    "part never touches raw events twice.".format(MAD_K),
)
def rel_ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    buckets = (
        ev.groupBy(
            "event_type",
            (F.unix_timestamp("ts") / GAP_BUCKET_SEC).cast("long").alias("b"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias("v_u4"),
        )
        .localCheckpoint(eager=True)
    )
    med = buckets.groupBy("event_type").agg(
        F.expr("percentile(v_u4, 0.5)").alias("med")
    )
    mad = (
        buckets.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(abs(v_u4 - med), 0.5)").alias("mad"),
            F.first("med").alias("med"),
        )
    )
    return (
        buckets.join(F.broadcast(mad), "event_type")
        .where(
            (F.col("mad") > 0)
            & (F.abs(F.col("v_u4") - F.col("med")) > MAD_K * F.col("mad"))
        )
        .select(
            "event_type",
            (F.col("b") * GAP_BUCKET_SEC).alias("bucket_epoch"),
            "n_events",
            "v_u4",
            F.col("med").alias("median_u4"),
            F.col("mad").alias("mad_u4"),
            (
                (F.col("v_u4") - F.col("med"))
                / F.nullif(F.col("mad"), F.lit(0.0))
            ).alias("deviation_mads"),
        )
    )


# --- equi-depth histogram -----------------------------------------------------

EDH_BUCKETS = 8


@register(
    "rel_histogram_equidepth",
    oracle=f"""
WITH ranked AS (
  SELECT o_totalprice,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         ntile({EDH_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey)
           AS bucket
  FROM orders
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       count(*) AS n,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM ranked
GROUP BY bucket
""",
    doc="Equi-depth histogram (the other optimizer-statistics "
    "primitive): {b} buckets holding equal row counts, with per-bucket "
    "bounds and exact integer-cents totals — equal-width bins hide "
    "skew, equal-depth bins expose the quantile structure selectivity "
    "estimation needs. Bucket assignment is ntile over a fully "
    "deterministic (value, key) order. Scale shape: at fixture scale "
    "one global sort; at 100 TB the bucket boundaries come from "
    "approx_percentile cutpoints broadcast into a per-row bucket "
    "expression (the corpus_curriculum_order idiom) — same output "
    "contract, no total order.".format(b=EDH_BUCKETS),
)
def rel_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_totalprice",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.ntile(EDH_BUCKETS).over(w).alias("bucket"),
        )
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


@register(
    "rel_scd2_point_in_time",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type AS state, ts, event_id
  FROM ordered
  WHERE prev_type IS DISTINCT FROM event_type
),
merged AS (
  SELECT user_id, ts, 1 AS src, event_id, state,
         CAST(NULL AS BIGINT) AS v_u4
  FROM changes
  UNION ALL
  SELECT user_id, ts, 0 AS src, event_id, CAST(NULL AS VARCHAR) AS state,
         CAST(round(value * 10000) AS BIGINT) AS v_u4
  FROM events WHERE event_type = 'purchase'
),
carried AS (
  SELECT user_id, src, v_u4,
         last_value(state IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, src, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS state
  FROM merged
)
SELECT coalesce(state, 'none') AS state,
       count(*) AS n_purchases,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(v_u4) AS BIGINT) AS value_u4
FROM carried WHERE src = 0
GROUP BY coalesce(state, 'none')
""",
    doc="Point-in-time (temporal) join against the SCD2 history — the "
    "consumption pattern rel_scd2_history exists for: every purchase "
    "carries the state version valid IMMEDIATELY BEFORE its timestamp "
    "(at-instant semantics would degenerately match the purchase's own "
    "transition; the sort key (ts, src) puts each purchase before any "
    "same-instant change, so the carry is strictly-before by "
    "construction), rolled up to purchases/users/exact-1e-4-unit value "
    "per state; purchases before any change carry 'none'. The naive "
    "latest-value join answers this WRONG (lookahead bias), and the "
    "naive interval join is QUADRATIC in per-user activity (purchases "
    "x versions per user — measured 97 s at sf1); this is the "
    "single-shuffle as-of carry instead (the rel_touch_attribution "
    "shape): one union, ONE user_id window, linear — 97 s -> ~5 s at "
    "sf1, identical result.",
)
def rel_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(~F.col("prev_type").eqNullSafe(F.col("event_type")))
        .select(
            "user_id",
            F.col("ts").alias("ts"),
            F.lit(1).alias("src"),
            "event_id",
            F.col("event_type").alias("state"),
            F.lit(None).cast("long").alias("v_u4"),
        )
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("src"),
        "event_id",
        F.lit(None).cast("string").alias("state"),
        F.round(F.col("value") * 10000).cast("long").alias("v_u4"),
    )
    w_carry = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        changes.unionByName(purchases)
        .withColumn(
            "state", F.last("state", ignorenulls=True).over(w_carry)
        )
        .where(F.col("src") == 0)
    )
    return carried.groupBy(
        F.coalesce(F.col("state"), F.lit("none")).alias("state")
    ).agg(
        F.count("*").alias("n_purchases"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("v_u4").cast("long").alias("value_u4"),
    )


@register(
    "rel_funnel_latency",
    oracle="""
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) >= v.t1
  WHERE e.event_type = 'click'
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) >= c.t2
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
),
lat AS (
  SELECT p.user_id,
         (c.t2 - v.t1) // 1000 AS d1_ms,
         (p.t3 - c.t2) // 1000 AS d2_ms
  FROM p JOIN c USING (user_id) JOIN v USING (user_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       quantile_cont(d1_ms, 0.5) AS view_click_p50_ms,
       quantile_cont(d1_ms, 0.9) AS view_click_p90_ms,
       quantile_cont(d2_ms, 0.5) AS click_purchase_p50_ms,
       quantile_cont(d2_ms, 0.9) AS click_purchase_p90_ms
FROM lat
""",
    doc="Funnel time-to-convert: for users completing the ordered "
    "view -> click -> purchase funnel (first qualifying occurrence of "
    "each step, the rel_funnel_steps sequence), the p50/p90 latency "
    "between steps — conversion RATE says whether the funnel works, "
    "latency says where it drags; this is the other half of funnel "
    "analysis. Exactness: step timestamps are exact min-aggregates, "
    "deltas are floor-millisecond integers, and the percentiles "
    "interpolate on the integer (half-integer) grid — exactly-"
    "representable doubles, the rel_ts_anomaly_mad discipline, no "
    "rounding anywhere. Scale shape: three min-aggs on user_id whose "
    "exchanges all reuse one partitioning, step ordering enforced by "
    "residual time predicates on same-key joins, and the percentile "
    "close runs on the converted-user domain.",
)
def rel_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("t_us") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t2"), F.first("t1").alias("t1"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("t_us") >= F.col("t2"))
        .groupBy("user_id")
        .agg(
            F.min("t_us").alias("t3"),
            F.first("t1").alias("t1"),
            F.first("t2").alias("t2"),
        )
    )
    lat = p.select(
        F.expr("(t2 - t1) div 1000").alias("d1_ms"),
        F.expr("(t3 - t2) div 1000").alias("d2_ms"),
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.expr("percentile(d1_ms, 0.5)").alias("view_click_p50_ms"),
        F.expr("percentile(d1_ms, 0.9)").alias("view_click_p90_ms"),
        F.expr("percentile(d2_ms, 0.5)").alias("click_purchase_p50_ms"),
        F.expr("percentile(d2_ms, 0.9)").alias("click_purchase_p90_ms"),
    )


@register(
    "rel_revenue_pareto",
    oracle="""
WITH spend AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cust, cents,
         ntile(10) OVER (ORDER BY cents DESC, cust) AS decile
  FROM spend
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM spend)
SELECT CAST(decile AS BIGINT) AS decile,
       count(*) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS cents,
       -- two-step integer share: cents // (t // 1e6) — cents * 1e6
       -- overflows int64 once total revenue passes ~9e12 cents (sf1
       -- already does); dividing by the pre-scaled total is exact
       -- int arithmetic at any corpus size on both engines
       CAST(sum(cents) // nullif((SELECT t FROM tot) // 1000000, 0)
            AS BIGINT) AS revenue_share_u6,
       CAST(sum(sum(cents)) OVER (
              ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) // nullif((SELECT t FROM tot) // 1000000, 0) AS BIGINT)
         AS cum_share_u6
FROM ranked
GROUP BY decile
""",
    doc="Revenue concentration (Pareto/Lorenz deciles): customers "
    "ranked by exact-cents lifetime spend into deciles, each decile's "
    "revenue share and the cumulative share in exact 1e-6 integer "
    "units — the 80/20 question ('what fraction of revenue do the top "
    "10% carry') behind account-tiering and risk-concentration "
    "analysis. Deterministic ntile tie-break on (spend, custkey); all "
    "arithmetic exact integers. Scale shape (replanned r9 — the sf20 "
    "decade-check caught it): ntile() over an EMPTY partitionBy "
    "collapses the whole customer domain into ONE window task after a "
    "global sort — a single-core bottleneck at any cluster size. The "
    "exact rank now computes distributed: repartitionByRange on the "
    "ntile ordering (parallel range sort), per-range row_number, "
    "range-level counts rolled into broadcast offsets (the classic "
    "zipWithIndex idiom in pure DataFrame ops), global rank = offset "
    "+ local row number, and ntile's first-buckets-larger allocation "
    "applied as an exact integer CASE on (rank, n). sf20 A/B 7.7 -> "
    "4.3 s value-identical, and every stage is parallel.",
)
def rel_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    spend = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    srt = spend.repartitionByRange(
        64, F.desc("cents"), F.asc("cust")
    ).withColumn("pid", F.spark_partition_id())
    wloc = Window.partitionBy("pid").orderBy(F.desc("cents"), F.asc("cust"))
    loc = srt.withColumn("lrn", F.row_number().over(wloc))
    cnts = loc.groupBy("pid").agg(F.count("*").alias("c"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = cnts.select(
        "pid", F.coalesce(F.sum("c").over(woff), F.lit(0)).alias("off")
    )
    ntot = cnts.agg(F.sum("c").cast("long").alias("n"))
    # Spark/DuckDB ntile allocation: the first (n mod k) buckets hold
    # (n div k + 1) rows; CASE is lazy, so the div-by-(n div 10) branch
    # never evaluates when n < 10 (all ranks land in the first branch)
    ranked = (
        loc.join(F.broadcast(offs), "pid")
        .withColumn("rank", (F.col("off") + F.col("lrn")).cast("long"))
        .crossJoin(F.broadcast(ntot))
        .withColumn(
            "decile",
            F.expr(
                "CASE WHEN rank <= (n div 10 + 1) * (n % 10)"
                " THEN (rank - 1) div (n div 10 + 1) + 1"
                " ELSE (n % 10)"
                "  + (rank - 1 - (n % 10) * (n div 10 + 1)) div (n div 10)"
                "  + 1 END"
            ),
        )
    )
    tot = spend.agg(F.sum("cents").cast("long").alias("t"))
    per_decile = (
        ranked.groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .crossJoin(F.broadcast(tot))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_decile.withColumn("cum_cents", F.sum("cents").over(w))
        .select(
            "decile",
            "n_customers",
            "cents",
            # two-step integer share (cents div (t div 1e6)): the
            # cents*1e6 product overflows int64 at sf1 revenue totals,
            # and a double divide + cast truncates a rounded float
            # (the r2/r3 class) — this form is exact int at any scale
            F.expr(
                "CAST(cents div nullif(t div 1000000, 0) AS LONG)"
            ).alias("revenue_share_u6"),
            F.expr(
                "CAST(cum_cents div nullif(t div 1000000, 0) AS LONG)"
            ).alias("cum_share_u6"),
        )
    )


BASKET_TOP = 50


@register(
    "rel_basket_lift",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ord, l_partkey AS part FROM lineitem
),
n_orders AS (SELECT count(DISTINCT ord) AS n FROM items),
part_n AS (SELECT part, count(*) AS n FROM items GROUP BY part),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, count(*) AS n_both
  FROM items a JOIN items b ON a.ord = b.ord AND a.part < b.part
  GROUP BY a.part, b.part
)
SELECT p.part_a, p.part_b,
       CAST(p.n_both AS BIGINT) AS n_both,
       CAST(na.n AS BIGINT) AS n_a,
       CAST(nb.n AS BIGINT) AS n_b,
       CAST((p.n_both * 1000000) // na.n AS BIGINT) AS confidence_u6,
       CAST((p.n_both * (SELECT n FROM n_orders) * 1000000)
            // (na.n * nb.n) AS BIGINT) AS lift_u6
FROM pairs p
JOIN part_n na ON na.part = p.part_a
JOIN part_n nb ON nb.part = p.part_b
ORDER BY lift_u6 DESC, p.part_a, p.part_b
LIMIT {BASKET_TOP}
""",
    doc="Market-basket association (support/confidence/lift): part "
    "pairs co-ordered in the same order, scored by confidence "
    "P(b|a) and lift P(a,b)/(P(a)P(b)) in exact 1e-6 integer units — "
    "the classic association-rule primitive behind 'frequently bought "
    "together'. Top-k by (lift, pair) with full deterministic ties. "
    "Scale shape: the self-join fans out within ORDERS, whose item "
    "count is bounded (TPC-H <= 7 lines), so pair volume is "
    "C(items/order, 2) * orders — LINEAR in order count, the same "
    "bounded-fan-out argument as the triangle count's vocab cap; "
    "part marginals join back as dimension-sized broadcasts and the "
    "lift product n_both * n_orders * 1e6 stays under int64 through "
    "petabyte order volumes (n_both <= n_orders, both < 3e9 at 100 "
    "TB; the two-step div guard applies beyond that).",
)
def rel_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    items = li.select(
        F.col("l_orderkey").alias("ord"), F.col("l_partkey").alias("part")
    ).distinct()
    n_orders = items.agg(F.countDistinct("ord").alias("n_ord"))
    part_n = items.groupBy("part").agg(F.count("*").alias("n"))
    a = items.select("ord", F.col("part").alias("part_a"))
    b = items.select("ord", F.col("part").alias("part_b"))
    pairs = (
        a.join(b, "ord")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
    )
    na = F.broadcast(
        part_n.select(F.col("part").alias("part_a"), F.col("n").alias("n_a"))
    )
    nb = F.broadcast(
        part_n.select(F.col("part").alias("part_b"), F.col("n").alias("n_b"))
    )
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("CAST((n_both * 1000000) div n_a AS LONG)").alias(
                "confidence_u6"
            ),
            F.expr(
                "CAST((n_both * n_ord * 1000000) div (n_a * n_b) AS LONG)"
            ).alias("lift_u6"),
        )
        .orderBy(F.desc("lift_u6"), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


# --- bitmap-index distinct counting -----------------------------------------

DAY_US = 86_400_000_000


@register(
    "rel_bitmap_distinct",
    oracle=f"""
WITH bits AS (
  SELECT epoch_us(ts) // {DAY_US} AS day,
         user_id // 64 AS word_id,
         -- UBIGINT: DuckDB's signed << faults on bit 63; Spark's
         -- shiftleft wraps to the sign bit instead. Only popcounts are
         -- output, so the representations need not match bit-for-bit.
         bit_or(CAST(1 AS UBIGINT) << CAST(user_id % 64 AS INTEGER)) AS bm
  FROM events
  GROUP BY 1, 2
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(bit_count(bm)) AS BIGINT) AS n_users_bitmap
FROM bits
GROUP BY day
""",
    doc="EXACT distinct-user counts per day via bitmap aggregation (the "
    "roaring/ClickHouse groupBitmap idiom): user ids bucket into 64-bit "
    "words (word = id div 64), each word OR-accumulates 1<<(id mod 64), "
    "and the distinct count is the popcount sum — an exact distinct "
    "that, unlike COUNT(DISTINCT), is RE-AGGREGABLE: daily bitmaps OR "
    "into weekly/monthly rollups without rescanning events, which is "
    "how a 100 TB events store serves distinct-count dashboards. Both "
    "the OR and the popcount are bitwise (order-independent, no float "
    "anywhere). Scale shape: one partial-aggregating shuffle on "
    "(day, word) — map-side OR collapses each partition to at most "
    "|active id-range|/64 words before the exchange — then a narrow "
    "day rollup; 8 bytes per 64 users versus the full id list a "
    "COUNT(DISTINCT) repartition ships.",
)
def rel_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one shared sketch-build with the streaming maintainer
    # (streaming/jobs.py run_bitmap_distinct_to_files), so the replay
    # test proves stream == batch on the identical code path
    from mrc_spark_jobs_pubmed_spark.streaming.jobs import (
        bitmap_distinct_rollup,
        bitmap_words,
    )

    ev = load_table(spark, "events", sf_dir)
    return bitmap_distinct_rollup(bitmap_words(ev))


# --- item-item collaborative filtering --------------------------------------

CF_TOP_NEIGHBORS = 3


@register(
    "rel_item_item_cf",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ord, l_partkey AS part FROM lineitem
),
part_n AS (SELECT part, count(*) AS n FROM items GROUP BY part),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, count(*) AS n_both
  FROM items a JOIN items b ON a.ord = b.ord AND a.part < b.part
  GROUP BY a.part, b.part
),
sym AS (
  SELECT part_a AS part, part_b AS neighbor, n_both FROM pairs
  UNION ALL
  SELECT part_b AS part, part_a AS neighbor, n_both FROM pairs
),
scored AS (
  SELECT s.part, s.neighbor,
         CAST(s.n_both AS BIGINT) AS n_both,
         CAST((s.n_both * s.n_both * 1000000) // (np.n * nn.n) AS BIGINT)
           AS cos2_u6
  FROM sym s
  JOIN part_n np ON np.part = s.part
  JOIN part_n nn ON nn.part = s.neighbor
)
SELECT part, neighbor, n_both, cos2_u6, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY part
           ORDER BY cos2_u6 DESC, n_both DESC, neighbor
         ) AS rnk
  FROM scored
) WHERE rnk <= {CF_TOP_NEIGHBORS}
""",
    doc="Item-item collaborative filtering (the 'customers also bought' "
    "serving table): binary item co-occurrence over orders scored by "
    "SQUARED cosine n_both^2/(n_a*n_b) in exact 1e-6 integer units — "
    "squaring keeps the Ochiai/cosine ORDERING while avoiding a "
    "float sqrt, so the per-item top-" f"{CF_TOP_NEIGHBORS} "
    "neighbor list is bit-reproducible (ties close by support then "
    "neighbor id). Differs from rel_basket_lift in output contract: "
    "this is the dense per-item serving table a recommender reads at "
    "request time, not a global rule list. Scale shape: pair fan-out "
    "is C(items-per-order, 2) x orders — linear in orders with "
    "TPC-H's bounded basket size; marginals broadcast; the per-item "
    "rank partitions by item. Overflow: n_both^2*1e6 needs n_both < "
    "3e6 (co-order count of ONE pair), far above any real "
    "co-purchase density; beyond that the two-step div idiom "
    "(rel_revenue_pareto) applies.",
)
def rel_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    items = li.select(
        F.col("l_orderkey").alias("ord"), F.col("l_partkey").alias("part")
    ).distinct()
    part_n = items.groupBy("part").agg(F.count("*").alias("n"))
    a = items.select("ord", F.col("part").alias("part_a"))
    b = items.select("ord", F.col("part").alias("part_b"))
    pairs = (
        a.join(b, "ord")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
    )
    sym = pairs.select(
        F.col("part_a").alias("part"),
        F.col("part_b").alias("neighbor"),
        "n_both",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("part"),
            F.col("part_a").alias("neighbor"),
            "n_both",
        )
    )
    np_ = F.broadcast(
        part_n.select(F.col("part"), F.col("n").alias("n_p"))
    )
    nn_ = F.broadcast(
        part_n.select(F.col("part").alias("neighbor"), F.col("n").alias("n_n"))
    )
    scored = (
        sym.join(np_, "part")
        .join(nn_, "neighbor")
        .select(
            "part",
            "neighbor",
            F.col("n_both").cast("long").alias("n_both"),
            F.expr(
                "CAST((n_both * n_both * 1000000) div (n_p * n_n) AS LONG)"
            ).alias("cos2_u6"),
        )
    )
    w = Window.partitionBy("part").orderBy(
        F.desc("cos2_u6"), F.desc("n_both"), "neighbor"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= CF_TOP_NEIGHBORS)
    )


# --- largest-remainder proportional allocation ------------------------------

ALLOC_BUDGET = 10_000  # basis points to distribute


@register(
    "rel_budget_allocation",
    oracle=f"""
WITH w AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM w),
base AS (
  SELECT nationkey, cents,
         ({ALLOC_BUDGET} * cents) // total AS base_alloc,
         ({ALLOC_BUDGET} * cents) % total AS rem
  FROM w CROSS JOIN tot
),
leftover AS (
  SELECT {ALLOC_BUDGET} - sum(base_alloc) AS k FROM base
)
SELECT n.n_name AS nation, b.cents,
       CAST(b.base_alloc AS BIGINT) AS base_alloc,
       CAST(CASE WHEN row_number() OVER (ORDER BY b.rem DESC, b.nationkey)
                 <= (SELECT k FROM leftover) THEN 1 ELSE 0 END AS BIGINT)
         AS extra,
       CAST(b.base_alloc
            + CASE WHEN row_number() OVER (ORDER BY b.rem DESC, b.nationkey)
                   <= (SELECT k FROM leftover) THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_bp
FROM base b JOIN nation n ON n.n_nationkey = b.nationkey
""",
    doc="Proportional budget allocation by the largest-remainder "
    "(Hamilton) method: " f"{ALLOC_BUDGET} " "basis points split across "
    "nations by exact-cents revenue weight — floor shares first, then "
    "the undistributed units go to the largest remainders (ties by "
    "key), so the allocations RECONCILE EXACTLY to the budget, the "
    "property every finance allocation (cost attribution, quota "
    "split, index weighting) must have and naive rounding does not. "
    "Same exact-integer split-with-remainder contract as "
    "rel_multitouch_attribution, promoted to a standalone operator. "
    "Scale shape: one orders-sized agg keyed by nation (map-side "
    "partials), then all remainder logic runs on the nation-domain "
    "table with a 1-row broadcast total; the budget*weight product "
    "stays in int64 up to ~1e14 revenue cents — beyond that the "
    "two-step div idiom applies.",
)
def rel_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    w = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = w.agg(F.sum("cents").cast("long").alias("total"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "nationkey",
        "cents",
        F.expr(f"({ALLOC_BUDGET} * cents) div total").alias("base_alloc"),
        F.expr(f"({ALLOC_BUDGET} * cents) % total").alias("rem"),
    )
    leftover = base.agg(
        (F.lit(ALLOC_BUDGET) - F.sum("base_alloc")).alias("k")
    )
    ranked = base.crossJoin(F.broadcast(leftover)).withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("rem"), "nationkey"))
    )
    return (
        ranked.join(
            F.broadcast(nation), ranked.nationkey == nation.n_nationkey
        )
        .select(
            F.col("n_name").alias("nation"),
            "cents",
            F.col("base_alloc").cast("long").alias("base_alloc"),
            F.when(F.col("rn") <= F.col("k"), 1)
            .otherwise(0)
            .cast("long")
            .alias("extra"),
            (
                F.col("base_alloc")
                + F.when(F.col("rn") <= F.col("k"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_bp"),
        )
    )


# --- gaps & islands over an id sequence -------------------------------------

ISLANDS_TOP = 20


@register(
    "rel_gaps_islands",
    oracle=f"""
WITH p AS (
  SELECT event_id,
         event_id - row_number() OVER (ORDER BY event_id) AS grp
  FROM events WHERE event_type = 'purchase'
),
isl AS (
  SELECT min(event_id) AS island_start,
         max(event_id) AS island_end,
         count(*) AS island_len
  FROM p GROUP BY grp
)
SELECT island_start, island_end,
       CAST(island_len AS BIGINT) AS island_len
FROM isl
ORDER BY island_len DESC, island_start
LIMIT {ISLANDS_TOP}
""",
    doc="Gaps-and-islands: maximal runs of consecutive event_ids within "
    "the purchase stream, via the classic id - row_number() constant-"
    "difference trick — one window pass turns every run into a group "
    "key, one agg closes the intervals. The sequence-integrity "
    "primitive behind missing-data audits (dropped LSNs, lost "
    "messages, broken id ranges): the gaps are the complement of the "
    "reported islands. Top-k longest runs with deterministic ties. "
    "Scale note: the global ORDER BY window is a single total order — "
    "at 100 TB the same trick runs per partition key (user, shard, "
    "day) exactly as written, and Spark's range-partitioned window "
    "sort is the standard physical shape either way; everything "
    "downstream is integer aggs on the run domain.",
)
def rel_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        (
            F.col("event_id")
            - F.row_number().over(Window.orderBy("event_id"))
        ).alias("grp"),
    )
    return (
        p.groupBy("grp")
        .agg(
            F.min("event_id").alias("island_start"),
            F.max("event_id").alias("island_end"),
            F.count("*").cast("long").alias("island_len"),
        )
        .select("island_start", "island_end", "island_len")
        .orderBy(F.desc("island_len"), "island_start")
        .limit(ISLANDS_TOP)
    )


# --- join-skew profile (salting decision table) -----------------------------

SKEW_PROFILE_TOP = 20


@register(
    "rel_join_skew_profile",
    oracle=f"""
WITH k AS (
  SELECT l_partkey AS key, count(*) AS n_rows FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_rows * n_rows) AS BIGINT) AS pair_total FROM k
),
ranked AS (
  SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
         CAST(n_rows * n_rows AS BIGINT) AS pair_rows
  FROM k ORDER BY n_rows * n_rows DESC, key LIMIT {SKEW_PROFILE_TOP}
)
SELECT r.key, r.n_rows, r.pair_rows,
       CAST((sum(r.pair_rows) OVER (ORDER BY r.pair_rows DESC, r.key)
             * 1000000) // t.pair_total AS BIGINT) AS cum_share_u6
FROM ranked r CROSS JOIN tot t
""",
    doc="Join-skew profile: for a planned self-equi-join on l_partkey "
    "(the item co-occurrence shape behind rel_item_item_cf / "
    "rel_basket_lift), the per-key pair volume n_k^2 for the top "
    f"{SKEW_PROFILE_TOP} heaviest keys plus each key's CUMULATIVE "
    "share of total join output in exact 1e-6 units — the table that "
    "DECIDES whether to salt: a top key owning >> 1/partitions of "
    "the pair volume will straggle one reducer, and this profile "
    "prices that before the join runs (the explicit lever of "
    "rel_skew_salted_join, with graph_degree_distribution as the "
    "graph-side sibling). One key-count agg with map-side partials, "
    "a 1-row pair-volume total, TakeOrdered top-k, and the running "
    "share on the k-row result — profiling cost is one scan "
    "regardless of join size.",
)
def rel_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    k = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count("*").alias("n_rows")
    )
    tot = k.agg(
        F.sum(F.col("n_rows") * F.col("n_rows"))
        .cast("long")
        .alias("pair_total")
    )
    ranked = (
        k.select(
            "key",
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col("n_rows") * F.col("n_rows")).cast("long").alias("pair_rows"),
        )
        .orderBy(F.desc("pair_rows"), "key")
        .limit(SKEW_PROFILE_TOP)
    )
    w = Window.orderBy(F.desc("pair_rows"), "key").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "key",
        "n_rows",
        "pair_rows",
        F.expr(
            "CAST((sum(pair_rows) OVER (ORDER BY pair_rows DESC, key"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " * 1000000) div pair_total AS LONG)"
        ).alias("cum_share_u6"),
    )


# --- session path analysis ---------------------------------------------------

PATH_GAP_US = 1_800_000_000  # 30 min session gap
PATH_LEN = 4
PATH_TOP = 20


@register(
    "rel_path_analysis",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {PATH_GAP_US}
                OR lag(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT user_id, event_type, t_us, event_id,
         sum(new_s) OVER (PARTITION BY user_id
                          ORDER BY t_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM seq
),
ranked AS (
  SELECT user_id, sid, event_type,
         row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY t_us, event_id) AS rn
  FROM sess
),
paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {PATH_LEN}
  GROUP BY user_id, sid
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOP}
""",
    doc="Session path analysis: sessionize each user's event stream on "
    "a 30-minute inactivity gap (the lag-flag + running-sum idiom of "
    "rel_scd2_history), take each session's first "
    f"{PATH_LEN} event types as its navigation path, and rank the "
    "most common paths with session and user counts — the "
    "product-analytics 'top user journeys' view that funnels (fixed "
    "step order) cannot express, since paths are DISCOVERED, not "
    "declared. Deterministic throughout: (t_us, event_id) total "
    "order, bounded path length. Scale shape: ONE shuffle on user_id "
    "feeds the gap window, the session numbering, and the per-"
    "session ranking (same partition spec, Catalyst shares the "
    "exchange); path assembly aggregates <= " f"{PATH_LEN} rows per "
    "session; the final path count is a hash-agg on the observed "
    "path domain with TakeOrdered top-k.",
)
def rel_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    wo = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("t_us"),
        "event_id",
    ).withColumn(
        "new_s",
        F.when(
            (F.col("t_us") - F.lag("t_us").over(wo) > PATH_GAP_US)
            | F.lag("t_us").over(wo).isNull(),
            1,
        ).otherwise(0),
    )
    sess = seq.withColumn(
        "sid",
        F.sum("new_s").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ranked = sess.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "sid").orderBy("t_us", "event_id")
        ),
    ).where(F.col("rn") <= PATH_LEN)
    paths = ranked.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOP)
    )


# --- revenue bridge (waterfall decomposition) -------------------------------

BRIDGE_OLD = ("1994-01-01", "1995-01-01")
BRIDGE_NEW = ("1995-01-01", "1996-01-01")


@register(
    "rel_waterfall_bridge",
    oracle=f"""
WITH seg AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN o.o_orderdate >= DATE '{BRIDGE_OLD[0]}'
               AND o.o_orderdate < DATE '{BRIDGE_OLD[1]}' THEN 'old'
              ELSE 'new' END AS period,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderdate >= DATE '{BRIDGE_OLD[0]}'
    AND o.o_orderdate < DATE '{BRIDGE_NEW[1]}'
),
agg AS (
  SELECT segment, period, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
  FROM seg GROUP BY 1, 2
),
wide AS (
  SELECT segment,
         CAST(coalesce(max(CASE WHEN period = 'old' THEN n END), 0)
              AS BIGINT) AS n_old,
         CAST(coalesce(max(CASE WHEN period = 'new' THEN n END), 0)
              AS BIGINT) AS n_new,
         CAST(coalesce(max(CASE WHEN period = 'old' THEN cents END), 0)
              AS BIGINT) AS cents_old,
         CAST(coalesce(max(CASE WHEN period = 'new' THEN cents END), 0)
              AS BIGINT) AS cents_new
  FROM agg GROUP BY segment
)
SELECT segment, n_old, n_new, cents_old, cents_new,
       cents_new - cents_old AS delta_cents,
       (n_new - n_old) * (CASE WHEN n_old = 0 THEN 0
                               ELSE cents_old // n_old END)
         AS volume_effect_cents,
       (cents_new - cents_old)
         - (n_new - n_old) * (CASE WHEN n_old = 0 THEN 0
                                   ELSE cents_old // n_old END)
         AS price_effect_cents
FROM wide
""",
    doc="Revenue bridge (waterfall): year-over-year revenue change per "
    "market segment decomposed into a VOLUME effect (order-count "
    "change x prior-year average ticket) and a PRICE/MIX effect — "
    "computed as the RESIDUAL, so volume + price == delta EXACTLY by "
    "construction (the reconciliation property finance requires; a "
    "both-sides-formula decomposition leaks rounding). All exact "
    "cents; the only division is the prior-average (integer, "
    "zero-guarded). Scale shape: one orders-sized scan with the date "
    "filter PUSHED to parquet, a (segment x 2)-domain agg with "
    "map-side partials, and the pivot/decompose on the 5-row segment "
    "domain. The pivot is conditional max-aggregation (the rel_pivot "
    "primitive), not a join.",
)
def rel_waterfall_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    seg = (
        orders.where(
            (F.col("o_orderdate") >= F.lit(BRIDGE_OLD[0]).cast("date"))
            & (F.col("o_orderdate") < F.lit(BRIDGE_NEW[1]).cast("date"))
        )
        .join(cust.select("c_custkey", "c_mktsegment"),
              orders.o_custkey == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(
                F.col("o_orderdate") < F.lit(BRIDGE_NEW[0]).cast("date"),
                "old",
            )
            .otherwise("new")
            .alias("period"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    agg = seg.groupBy("segment", "period").agg(
        F.count("*").alias("n"), F.sum("cents").cast("long").alias("cents")
    )
    wide = agg.groupBy("segment").agg(
        F.coalesce(F.max(F.when(F.col("period") == "old", F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n_old"),
        F.coalesce(F.max(F.when(F.col("period") == "new", F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n_new"),
        F.coalesce(
            F.max(F.when(F.col("period") == "old", F.col("cents"))), F.lit(0)
        )
        .cast("long")
        .alias("cents_old"),
        F.coalesce(
            F.max(F.when(F.col("period") == "new", F.col("cents"))), F.lit(0)
        )
        .cast("long")
        .alias("cents_new"),
    )
    avg_old = F.expr(
        "CASE WHEN n_old = 0 THEN 0 ELSE cents_old div n_old END"
    )
    return wide.select(
        "segment",
        "n_old",
        "n_new",
        "cents_old",
        "cents_new",
        (F.col("cents_new") - F.col("cents_old")).alias("delta_cents"),
        ((F.col("n_new") - F.col("n_old")) * avg_old).alias(
            "volume_effect_cents"
        ),
        (
            (F.col("cents_new") - F.col("cents_old"))
            - (F.col("n_new") - F.col("n_old")) * avg_old
        ).alias("price_effect_cents"),
    )


# --- FIFO queue matching ----------------------------------------------------


@register(
    "rel_fifo_matching",
    oracle="""
WITH v AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT v.user_id, (p.t_us - v.t_us) // 1000 AS wait_ms
  FROM v JOIN p ON v.user_id = p.user_id AND v.rn = p.rn
),
counts AS (
  SELECT (SELECT count(*) FROM v) AS n_views,
         (SELECT count(*) FROM p) AS n_purchases,
         (SELECT count(*) FROM m) AS n_matched,
         (SELECT count(*) FROM m WHERE wait_ms < 0) AS n_inverted
)
SELECT CAST(n_views AS BIGINT) AS n_views,
       CAST(n_purchases AS BIGINT) AS n_purchases,
       CAST(n_matched AS BIGINT) AS n_matched,
       CAST(n_inverted AS BIGINT) AS n_inverted,
       (SELECT quantile_cont(wait_ms, 0.5) FROM m WHERE wait_ms >= 0)
         AS wait_p50_ms,
       (SELECT quantile_cont(wait_ms, 0.9) FROM m WHERE wait_ms >= 0)
         AS wait_p90_ms
FROM counts
""",
    doc="FIFO queue matching: each user's k-th purchase settles against "
    "their k-th view — rank both sides per key, equi-join on (key, "
    "rank) — the first-in-first-out pairing behind inventory cost "
    "layers, payment-to-invoice settlement, and demand-supply queue "
    "audits, done WITHOUT an order-dependent loop: two row_number "
    "windows over one shared user_id exchange and a co-partitioned "
    "join, the classic set-based FIFO rewrite. Unmatched tail = the "
    "open queue; inverted matches (purchase before its FIFO view) "
    "are surfaced, not silently clamped. Waits are floor-ms integers "
    "and the percentiles interpolate on the integer grid (Spark "
    "`percentile` = DuckDB quantile_cont — the rel_funnel_latency "
    "contract). Scale shape: one shuffle on user_id serves both "
    "rankings AND the join; 1 row out.",
)
def rel_fifo_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    base = ev.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("t_us"),
        "event_id",
    )
    v = (
        base.where(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(w))
        .select("user_id", F.col("t_us").alias("v_us"), "rn")
    )
    p = (
        base.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .select("user_id", F.col("t_us").alias("p_us"), "rn")
    )
    m = v.join(p, ["user_id", "rn"]).select(
        F.expr("(p_us - v_us) div 1000").alias("wait_ms")
    ).localCheckpoint(eager=True)
    nv = v.agg(F.count("*").cast("long").alias("n_views"))
    np_ = p.agg(F.count("*").cast("long").alias("n_purchases"))
    stats = m.agg(
        F.count("*").cast("long").alias("n_matched"),
        F.sum(F.when(F.col("wait_ms") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_inverted"),
    )
    pct = m.where(F.col("wait_ms") >= 0).agg(
        F.expr("percentile(wait_ms, 0.5)").alias("wait_p50_ms"),
        F.expr("percentile(wait_ms, 0.9)").alias("wait_p90_ms"),
    )
    return (
        nv.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(pct))
    )


# --- Benford first-digit audit ----------------------------------------------

# round(log10(1 + 1/d) * 1e6) for d = 1..9 — fixed constants of the law,
# not computed at query time (no float log in the contract)
BENFORD_U6 = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)


@register(
    "rel_benford_audit",
    oracle=f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS d
  FROM orders
),
counts AS (
  SELECT d, count(*) AS n FROM digits GROUP BY d
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts)
SELECT d AS digit,
       CAST(n AS BIGINT) AS n,
       CAST((n * 1000000) // t AS BIGINT) AS observed_u6,
       CAST(CASE d {' '.join(f'WHEN {i + 1} THEN {v}' for i, v in enumerate(BENFORD_U6))}
            END AS BIGINT) AS benford_u6,
       CAST((n * 1000000) // t
            - CASE d {' '.join(f'WHEN {i + 1} THEN {v}' for i, v in enumerate(BENFORD_U6))}
              END AS BIGINT) AS delta_u6
FROM counts CROSS JOIN tot
""",
    doc="Benford first-digit audit over order totals: observed leading-"
    "digit shares vs the Benford expectation log10(1+1/d), deltas in "
    "exact 1e-6 units — the classic forensic screen for fabricated or "
    "systematically-biased numeric columns, run as a data-quality "
    "gate beside rel_data_quality. The Benford probabilities are "
    "FIXED integer constants of the law (no float log at query "
    "time); the leading digit comes from the exact-cents integer "
    "(first char of its decimal string — identical on both engines), "
    "so every output column is exact BIGINT arithmetic. One scan, "
    "one 9-row hash-agg with map-side partials, a 1-row total "
    "broadcast. (TPC-H prices are uniform, not scale-invariant, so "
    "the fixture FAILS Benford — large deltas — which is exactly "
    "what the audit is for.)",
)
def rel_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    benford_case = "CASE digit " + " ".join(
        f"WHEN {i + 1} THEN {v}L" for i, v in enumerate(BENFORD_U6)
    ) + " END"
    digits = orders.select(
        F.expr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS LONG)"
            " AS STRING), 1, 1) AS LONG)"
        ).alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").cast("long").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.expr("CAST((n * 1000000) div t AS LONG)").alias("observed_u6"),
        F.expr(f"CAST({benford_case} AS LONG)").alias("benford_u6"),
        F.expr(
            f"CAST((n * 1000000) div t - {benford_case} AS LONG)"
        ).alias("delta_u6"),
    )


# --- receivables aging report -----------------------------------------------

AGING_EDGES = (30, 60, 90, 180)  # bucket upper edges in days outstanding


def _aging_bucket(dialect: str) -> str:
    arms = []
    lo = 0
    for e in AGING_EDGES:
        arms.append(f"WHEN age_d <= {e} THEN '{lo:03d}-{e:03d}'")
        lo = e + 1
    arms.append(f"ELSE '{AGING_EDGES[-1] + 1:03d}+'")
    return "CASE " + " ".join(arms) + " END"


@register(
    "rel_receivables_aging",
    oracle=f"""
WITH ref AS (SELECT max(o_orderdate) AS r FROM orders),
open_o AS (
  SELECT date_diff('day', o_orderdate, ref.r) AS age_d,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders CROSS JOIN ref
  WHERE o_orderstatus IN ('O', 'P')
),
b AS (
  SELECT {_aging_bucket('duckdb')} AS bucket, count(*) AS n,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM open_o GROUP BY 1
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM b)
SELECT bucket,
       CAST(n AS BIGINT) AS n_orders,
       cents,
       CAST((cents * 1000) // (t // 1000) AS BIGINT) AS share_u6
FROM b CROSS JOIN tot
""",
    doc="Receivables aging: open orders (status O/P) bucketed by days "
    "outstanding at the ledger's reference date (its own max order "
    "date — self-contained, no wall clock), with order counts, exact "
    "cents, and 1e-6-unit value shares per bucket — the working-"
    "capital report every finance close runs, and the canonical "
    "bucket-by-derived-age shape (dunning tiers, SLA breach bands). "
    "Share uses the two-step div (cents*1e3 over t/1e3): cents*1e6 "
    "would overflow int64 at ~9e12 cents, the rel_revenue_pareto "
    "lesson. Scale shape: a 1-row reference-date broadcast, one "
    "status-filtered scan (predicate pushed), a 5-bucket hash-agg "
    "with map-side partials.",
)
def rel_receivables_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    ref = orders.agg(F.max("o_orderdate").alias("r"))
    open_o = (
        orders.where(F.col("o_orderstatus").isin("O", "P"))
        .crossJoin(F.broadcast(ref))
        .select(
            F.datediff(F.col("r"), F.col("o_orderdate")).alias("age_d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    b = open_o.select(
        F.expr(_aging_bucket("spark")).alias("bucket"), "cents"
    ).groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
    )
    tot = b.agg(F.sum("cents").cast("long").alias("t"))
    return b.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_orders",
        "cents",
        F.expr("CAST((cents * 1000) div (t div 1000) AS LONG)").alias(
            "share_u6"
        ),
    )


# --- winsorized / trimmed robust statistics ---------------------------------

WINSOR_PCT = 5  # percent clipped at EACH tail


@register(
    "rel_winsorized_stats",
    oracle=f"""
WITH ranked AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                                     o_orderkey) AS r,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
),
flagged AS (
  SELECT priority, cents, r, n, n * {WINSOR_PCT} // 100 AS c FROM ranked
)
SELECT priority,
       CAST(max(n) AS BIGINT) AS n_orders,
       CAST(max(c) AS BIGINT) AS clipped_each_side,
       CAST(max(CASE WHEN r <= c + 1 THEN cents END) AS BIGINT) AS lo_cents,
       CAST(max(CASE WHEN r <= n - c THEN cents END) AS BIGINT) AS hi_cents,
       CAST((sum(CASE WHEN r > c AND r <= n - c THEN cents ELSE 0 END)
             + max(c) * max(CASE WHEN r <= c + 1 THEN cents END)
             + max(c) * max(CASE WHEN r <= n - c THEN cents END))
            // max(n) AS BIGINT) AS winsor_mean_cents,
       CAST(sum(CASE WHEN r > c AND r <= n - c THEN cents ELSE 0 END)
            // (max(n) - 2 * max(c)) AS BIGINT) AS trimmed_mean_cents
FROM flagged
GROUP BY priority
""",
    doc=f"Winsorized and trimmed means of order value per priority class "
    f"({WINSOR_PCT}% clipped at each tail): the robust-location pair "
    "that survives the fat-tailed revenue distributions a plain mean "
    "drowns in. Tail cuts are RANK-based (row_number over (cents, "
    "orderkey) — a total order, so ties at the cut value resolve "
    "identically on every engine), not value-based quantile "
    "interpolation, and the winsorized sum decomposes exactly as "
    "trim_sum + c*lo + c*hi in BIGINT cents — no float path at all. "
    "Scale shape: one window pass partitioned by the group key, one "
    "hash-agg; the per-group sort is the unavoidable cost of exact "
    "order statistics and shards by group.",
)
def rel_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    wp = Window.partitionBy("priority")
    ranked = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.expr("CAST(round(o_totalprice * 100) AS LONG)").alias("cents"),
        "o_orderkey",
    ).select(
        "priority",
        "cents",
        F.row_number()
        .over(
            Window.partitionBy("priority").orderBy("cents", "o_orderkey")
        )
        .alias("r"),
        F.count("*").over(wp).alias("n"),
    )
    flagged = ranked.withColumn("c", F.expr(f"n * {WINSOR_PCT} div 100"))
    lo = F.max(F.expr("CASE WHEN r <= c + 1 THEN cents END"))
    hi = F.max(F.expr("CASE WHEN r <= n - c THEN cents END"))
    return flagged.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max("c").cast("long").alias("clipped_each_side"),
        lo.cast("long").alias("lo_cents"),
        hi.cast("long").alias("hi_cents"),
        F.expr(
            "CAST((sum(CASE WHEN r > c AND r <= n - c THEN cents ELSE 0 END)"
            " + max(c) * max(CASE WHEN r <= c + 1 THEN cents END)"
            " + max(c) * max(CASE WHEN r <= n - c THEN cents END))"
            " div max(n) AS LONG)"
        ).alias("winsor_mean_cents"),
        F.expr(
            "CAST(sum(CASE WHEN r > c AND r <= n - c THEN cents ELSE 0 END)"
            " div (max(n) - 2 * max(c)) AS LONG)"
        ).alias("trimmed_mean_cents"),
    )


# --- ABC inventory classification -------------------------------------------


@register(
    "rel_abc_classification",
    oracle="""
WITH rev AS (
  SELECT l_partkey AS part,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
cum AS (
  SELECT part, cents,
         CAST(sum(cents) OVER (ORDER BY cents DESC, part
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              // nullif((SELECT t FROM tot) // 1000000, 0) AS BIGINT)
           AS cum_u6
  FROM rev
)
SELECT CASE WHEN cum_u6 <= 700000 THEN 'A'
            WHEN cum_u6 <= 900000 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       CAST(sum(cents) // nullif((SELECT t FROM tot) // 1000000, 0)
            AS BIGINT) AS revenue_share_u6,
       CAST(min(cum_u6) AS BIGINT) AS min_cum_u6,
       CAST(max(cum_u6) AS BIGINT) AS max_cum_u6
FROM cum
GROUP BY 1
""",
    doc="ABC inventory classification: parts ranked by exact-cents "
    "revenue, class A = items inside the first 70% of cumulative "
    "revenue, B to 90%, C the tail — the standard stock-policy "
    "segmentation (count A items tightly, C loosely). Cumulative "
    "share uses the two-step integer division idiom "
    "(cum_cents // (total // 1e6)) so the share is exact int "
    "arithmetic at any corpus size — cents*1e6 overflows int64 past "
    "~9e12 total cents, which sf1 already exceeds. Deterministic "
    "(cents, partkey) rank order. Scale shape: one partkey hash-agg "
    "over lineitem (the only corpus-sized pass), then a part-domain "
    "ranked cumulative window (at 100 TB: range-partitioned sort on "
    "the compact per-part aggregate) and a 3-row rollup.",
)
def rel_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS LONG)"))
        .cast("long")
        .alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    cum = (
        rev.join(F.broadcast(tot))
        .select(
            "part",
            "cents",
            F.expr(
                "CAST(sum(cents) OVER (ORDER BY cents DESC, part"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                " div nullif(t div 1000000, 0) AS LONG)"
            ).alias("cum_u6"),
            "t",
        )
    )
    return (
        cum.withColumn(
            "abc_class",
            F.when(F.col("cum_u6") <= 700000, "A")
            .when(F.col("cum_u6") <= 900000, "B")
            .otherwise("C"),
        )
        .groupBy("abc_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.expr(
                "CAST(sum(cents) div nullif(max(t) div 1000000, 0) AS LONG)"
            ).alias("revenue_share_u6"),
            F.min("cum_u6").cast("long").alias("min_cum_u6"),
            F.max("cum_u6").cast("long").alias("max_cum_u6"),
        )
    )


# --- rolling exact distinct (bitmap window) ----------------------------------

@register(
    "rel_rolling_distinct_bitmap",
    oracle=f"""
WITH bits AS (
  SELECT epoch_us(ts) // {DAY_US} AS day,
         user_id // 64 AS word_id,
         bit_or(CAST(1 AS UBIGINT) << CAST(user_id % 64 AS INTEGER)) AS bm
  FROM events
  GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM bits),
spread AS (
  SELECT t.tday, b.word_id, bit_or(b.bm) AS bm7
  FROM bits b,
       unnest(generate_series(b.day, b.day + {ROLL_DAYS - 1})) AS t(tday)
  GROUP BY t.tday, b.word_id
)
SELECT CAST(s.tday AS BIGINT) AS day,
       CAST(sum(bit_count(s.bm7)) AS BIGINT) AS n_users_{ROLL_DAYS}d
FROM spread s JOIN days d ON d.day = s.tday
GROUP BY s.tday
ORDER BY day
""",
    doc=f"EXACT trailing-{ROLL_DAYS}-day distinct users per day via "
    "bitmap words — the rolling-MAU/WAU dashboard query that "
    "COUNT(DISTINCT) over a RANGE frame cannot express (distinct "
    "aggregates are not frameable) and approx sketches only estimate. "
    "Each (day, word) bitmap is FANNED OUT to the "
    f"{ROLL_DAYS} target days it covers, then OR-collapsed per "
    "(target_day, word) and popcount-summed — the fan-out is the "
    "standard sparse-rolling fix: a per-word RANGE window would "
    "silently drop a word's users from days where that word had no new "
    "activity. Output days are restricted to days present in the data "
    "(no trailing phantom days). Cost: {ROLL_DAYS}x the daily-word "
    "sketch volume (8 bytes per 64 active users per day), shuffled on "
    "(day, word) with map-side OR partials — never the raw id list; "
    "re-aggregable to any wider window by the same OR. Composes with "
    "the streaming maintainer (run_bitmap_distinct_to_files): the state "
    "copy it maintains is exactly the `bits` input here.",
)
def rel_rolling_distinct_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one shared sketch-build + rollup with the streaming maintainer
    # (streaming/jobs.py run_rolling_distinct_to_files), so the replay
    # test proves stream == batch on the identical code path
    from mrc_spark_jobs_pubmed_spark.streaming.jobs import (
        bitmap_words,
        rolling_distinct_rollup,
    )

    ev = load_table(spark, "events", sf_dir)
    return rolling_distinct_rollup(bitmap_words(ev))


# --- 2-D skyline (Pareto-dominance frontier) ----------------------------------


@register(
    "rel_skyline_dominance",
    oracle="""
WITH pts AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_c2,
         CAST(p_size AS BIGINT) AS p_size
  FROM part
),
per_price AS (
  SELECT price_c2, min(p_size) AS m_eq FROM pts GROUP BY price_c2
),
cheaper AS (
  SELECT price_c2, m_eq,
         min(m_eq) OVER (
           ORDER BY price_c2 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS m_lt
  FROM per_price
)
SELECT p.p_partkey, p.price_c2, p.p_size
FROM pts p JOIN cheaper c USING (price_c2)
WHERE (c.m_lt IS NULL OR p.p_size < c.m_lt) AND p.p_size <= c.m_eq
ORDER BY p.price_c2, p.p_size, p.p_partkey
""",
    doc="2-D skyline / Pareto frontier over part (minimize price AND "
    "size): the non-dominated set — every part for which no other part "
    "is <= on both dimensions and < on at least one. Computed WITHOUT "
    "the naive O(n^2) NOT-EXISTS self-join: collapse to per-price "
    "minimum size (|distinct prices| rows), one running-min window "
    "ordered by price gives the best size among STRICTLY cheaper "
    "points, and a point survives iff it beats that bound strictly and "
    "ties the best within its own price group (equal (price, size) "
    "duplicates do not dominate each other, so all survive — the "
    "standard strict-dominance contract). Prices compared in exact "
    "cents. Scale shape: one hash-agg + one window over the collapsed "
    "price domain + a broadcast-sized join back — the skyline of a "
    "100 TB table costs one agg-shuffle; the frontier itself is "
    "output-bounded.",
)
def rel_skyline_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = load_table(spark, "part", sf_dir)
    pts = part.select(
        "p_partkey",
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("price_c2"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    per_price = pts.groupBy("price_c2").agg(F.min("p_size").alias("m_eq"))
    w = (
        Window.orderBy("price_c2")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cheaper = per_price.withColumn("m_lt", F.min("m_eq").over(w))
    return (
        pts.join(cheaper, "price_c2")
        .where(
            (F.col("m_lt").isNull() | (F.col("p_size") < F.col("m_lt")))
            & (F.col("p_size") <= F.col("m_eq"))
        )
        .select("p_partkey", "price_c2", "p_size")
        .orderBy("price_c2", "p_size", "p_partkey")
    )


# --- bitmap segment-overlap matrix --------------------------------------------


@register(
    "rel_bitmap_segment_overlap",
    oracle="""
WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
tc AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
ix AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(ca.n AS BIGINT) AS n_a,
       CAST(cb.n AS BIGINT) AS n_b,
       CAST(n_both * 1000000 // (ca.n + cb.n - n_both) AS BIGINT)
         AS jaccard_u6
FROM ix
JOIN tc ca ON ca.event_type = ix.type_a
JOIN tc cb ON cb.event_type = ix.type_b
ORDER BY type_a, type_b
""",
    doc="Audience/segment overlap matrix via BITMAP INTERSECTION: for "
    "every pair of event types, the exact count of users in BOTH "
    "segments plus the Jaccard similarity (exact 1e-6 integer units) — "
    "the ad-tech/audience-builder primitive ('how much does segment A "
    "overlap segment B'). The companion to rel_bitmap_distinct's OR-"
    "rollup: users bucket into 64-bit words (word = id div 64), each "
    "(type, word) OR-accumulates a bitmap, and the intersection is "
    "sum(bit_count(bm_a AND bm_b)) over an EQUI-join on word_id — the "
    "segments never materialize as id lists and never re-scan events. "
    "The oracle computes the same matrix definitionally (distinct "
    "user-type pairs self-joined). Zero-overlap pairs are absent from "
    "both outputs by contract (inner semantics). Scale shape: one "
    "partial-aggregating shuffle on (type, word) — 8 bytes per 64 "
    "users — then a word-aligned equi-join whose fan-out is "
    "|type-pairs| x |words|, linear in the user-id range with a tiny "
    "type-pair constant; per-type totals broadcast back. At 100 TB "
    "this is how audience-overlap dashboards stay interactive: the "
    "word-bitmap table is the re-aggregable sketch, built once, "
    "AND/OR-composable for any segment algebra.",
)
def rel_bitmap_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    words = (
        ev.select(
            "event_type",
            F.expr("user_id div 64").alias("word_id"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("event_type", "word_id")
        .agg(F.expr("bit_or(bit)").alias("bm"))
    )
    a = words.alias("a")
    b = words.alias("b")
    inter = (
        a.join(
            b,
            on=[
                F.col("a.word_id") == F.col("b.word_id"),
                F.col("a.event_type") < F.col("b.event_type"),
            ],
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.expr("bit_count(a.bm & b.bm)").alias("n_word"),
        )
        .groupBy("type_a", "type_b")
        .agg(F.sum("n_word").cast("long").alias("n_both"))
        .where(F.col("n_both") > 0)
    )
    totals = words.groupBy("event_type").agg(
        F.sum(F.expr("bit_count(bm)")).cast("long").alias("n")
    )
    return (
        inter.join(
            F.broadcast(totals.withColumnRenamed("event_type", "type_a")).withColumnRenamed(
                "n", "n_a"
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                totals.withColumnRenamed("event_type", "type_b")
            ).withColumnRenamed("n", "n_b"),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr(
                "CAST((n_both * 1000000) div (n_a + n_b - n_both) AS BIGINT)"
            ).alias("jaccard_u6"),
        )
        .orderBy("type_a", "type_b")
    )


# --- zone-map pruning audit ----------------------------------------------------

ZM_KEY_CHUNK = 4096  # ~rows per key-range chunk (orderkey div)
ZM_DAY_LO = 9282  # 1995-06-01 as epoch days
ZM_DAY_HI = 9374  # 1995-09-01 (exclusive)


@register(
    "rel_zone_map_pruning",
    oracle=f"""
WITH rows_ AS (
  SELECT l_orderkey // {ZM_KEY_CHUNK} AS key_chunk,
         epoch_us(l_shipdate) // 86400000000 AS ship_day
  FROM lineitem
),
layouts AS (
  SELECT 'keyrange' AS layout, key_chunk AS chunk, ship_day FROM rows_
  UNION ALL
  SELECT 'datepart' AS layout, ship_day // 7 AS chunk, ship_day FROM rows_
),
zones AS (
  SELECT layout, chunk,
         count(*) AS n_rows,
         min(ship_day) AS d_min,
         max(ship_day) AS d_max,
         count(*) FILTER (
           ship_day >= {ZM_DAY_LO} AND ship_day < {ZM_DAY_HI}
         ) AS n_match
  FROM layouts GROUP BY 1, 2
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(*) FILTER (
         d_max >= {ZM_DAY_LO} AND d_min < {ZM_DAY_HI}
       ) AS BIGINT) AS n_chunks_scanned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(n_rows) FILTER (
         d_max >= {ZM_DAY_LO} AND d_min < {ZM_DAY_HI}
       ) AS BIGINT) AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matching,
       CAST(sum(n_rows) FILTER (
         d_max >= {ZM_DAY_LO} AND d_min < {ZM_DAY_HI}
       ) * 1000000 // sum(n_rows) AS BIGINT) AS scan_pct_u6
FROM zones
GROUP BY layout
ORDER BY layout
""",
    doc="Zone-map (min/max statistics) pruning audit: simulates file-"
    "level data skipping for a 3-month ship-date predicate under two "
    "physical layouts — 'keyrange' (files chunked by orderkey, the "
    "insertion-order proxy: dates are scattered, so min/max spans are "
    "wide and almost nothing prunes) vs 'datepart' (files clustered "
    "by week: the predicate prunes all but the matching weeks). "
    "Reports, per layout, chunks and rows that a zone-map-aware scan "
    "must read vs the rows actually matching — the measured "
    "why-layout-matters number that justifies rel_zorder_layout's "
    "clustering at 100 TB, where scan_pct IS the query bill. All "
    "integer arithmetic (epoch days, exact 1e-6 scan share). Scale "
    "shape: one pass computes both chunk keys, a union fans rows to "
    "the two layout labels (bounded 2x), one (layout, chunk) hash-agg "
    "with map-side partials builds the zone maps, then a 2-row "
    "rollup; nothing sorts and nothing is quadratic. (Chunks here are "
    "key-ranges, not exact equal-size row groups — the honest "
    "approximation that keeps the audit window-free and "
    "embarrassingly parallel.)",
)
def rel_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    rows = li.select(
        F.expr(f"l_orderkey div {ZM_KEY_CHUNK}").alias("key_chunk"),
        F.expr("unix_micros(l_shipdate) div 86400000000").alias("ship_day"),
    )
    layouts = rows.select(
        F.lit("keyrange").alias("layout"),
        F.col("key_chunk").alias("chunk"),
        "ship_day",
    ).unionAll(
        rows.select(
            F.lit("datepart").alias("layout"),
            F.expr("ship_day div 7").alias("chunk"),
            "ship_day",
        )
    )
    in_pred = (F.col("ship_day") >= ZM_DAY_LO) & (
        F.col("ship_day") < ZM_DAY_HI
    )
    zones = layouts.groupBy("layout", "chunk").agg(
        F.count("*").alias("n_rows"),
        F.min("ship_day").alias("d_min"),
        F.max("ship_day").alias("d_max"),
        F.sum(F.when(in_pred, 1).otherwise(0)).alias("n_match"),
    )
    scanned = (F.col("d_max") >= ZM_DAY_LO) & (F.col("d_min") < ZM_DAY_HI)
    return (
        zones.groupBy("layout")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(scanned, 1).otherwise(0))
            .cast("long")
            .alias("n_chunks_scanned"),
            F.sum("n_rows").cast("long").alias("rows_total"),
            F.sum(F.when(scanned, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("n_match").cast("long").alias("rows_matching"),
            F.expr(
                f"CAST(sum(CASE WHEN d_max >= {ZM_DAY_LO} AND "
                f"d_min < {ZM_DAY_HI} THEN n_rows ELSE 0 END) "
                "* 1000000 div sum(n_rows) AS BIGINT)"
            ).alias("scan_pct_u6"),
        )
        .orderBy("layout")
    )


# --- l-diversity privacy audit --------------------------------------------------

LDIV_L = 3  # require >= 3 distinct users per released cell
LDIV_VAL_BUCKET = 200_000  # value bucket width in 1e-4 units (= $20)


@register(
    "rel_l_diversity",
    oracle=f"""
WITH cells AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(round(value * 10000) AS BIGINT) // {LDIV_VAL_BUCKET}
           AS val_bucket,
         count(*) AS n_events,
         count(DISTINCT user_id) AS n_users,
         min(user_id) AS sample_user
  FROM events
  GROUP BY 1, 2, 3
)
SELECT event_type, CAST(day AS BIGINT) AS day,
       CAST(val_bucket AS BIGINT) AS val_bucket,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_users AS BIGINT) AS n_users,
       sample_user
FROM cells
WHERE n_users < {LDIV_L}
ORDER BY event_type, day, val_bucket
""",
    doc=f"l-diversity audit (l={LDIV_L}): corpus_k_anonymity's "
    "companion on the event log — a quasi-identifier cell "
    "(event_type, day, value bucket) is UNSAFE to release when all "
    "its events come from fewer than l distinct users, because cell "
    "membership then links straight back to individuals even though "
    "the cell may contain many EVENTS (k-anonymity on row count "
    "passes while the sensitive attribute — who — has no diversity; "
    "that gap is exactly what l-diversity was introduced to close). "
    "Flags the cells to suppress or generalize before an event-level "
    "dataset ships. Pure integer bucketing (exact 1e-4 value units, "
    "epoch days), one hash-agg with a distinct on the (cell, user) "
    "domain — partial_count + distinct-partials ship map-side — and "
    "output bounded by violating cells only. At 100 TB the cell "
    "domain is |types| x |days| x |buckets|: metadata-sized, so the "
    "audit is one cheap pass regardless of event volume.",
)
def rel_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.expr(
                f"CAST(round(value * 10000) AS BIGINT) div {LDIV_VAL_BUCKET}"
            ).alias("val_bucket"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("user_id").alias("sample_user"),
        )
        .where(F.col("n_users") < LDIV_L)
        .orderBy("event_type", "day", "val_bucket")
    )


# --- distribution window functions: percent_rank / cume_dist ----------------


@register(
    "rel_window_distribution",
    oracle="""
SELECT o_orderkey,
       o_orderpriority,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume_d
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY CAST(round(o_totalprice * 100) AS BIGINT))
""",
    doc="Distribution window functions — percent_rank and cume_dist of "
    "each order's price inside its priority class, the remaining "
    "ranking-window surface beyond rel_window_rank_suite's row_number/"
    "rank/dense_rank/ntile: 'this order is more expensive than X% of "
    "its class' without materializing a histogram. Both functions are "
    "pure rank arithmetic over exact-cents BIGINT ordering ((rank-1)/"
    "(n-1) and peers/n — single IEEE divisions of integers, bit-"
    "identical cross-engine; ties share a rank so the values are "
    "partitioning-independent). Scale shape: one shuffle on the "
    "partition key, one sort per partition — identical cost to any "
    "ranking window; nothing extra materializes.",
)
def rel_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy(cents)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_d"),
    )


# --- weighted median (cumulative-weight window, exact) ----------------------


@register(
    "rel_weighted_median",
    oracle="""
WITH t AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
),
cum AS (
  SELECT l_returnflag, cents, w,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM t
)
SELECT l_returnflag,
       CAST(min(cents) AS BIGINT) AS wmedian_cents,
       CAST(min(tw) AS BIGINT) AS total_weight
FROM cum
WHERE 2 * cw >= tw
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Weighted median: the smallest price whose cumulative quantity "
    "weight reaches half the group's total — the inventory-weighted "
    "'typical price' that an unweighted median misstates when cheap "
    "items ship in bulk. The lower weighted median over exact cents "
    "needs NO interpolation, so every step is integer. The ORACLE runs "
    "the definitional RANGE-frame cumulative window; the engine plan "
    "deliberately does NOT (a per-flag window is key-bounded to "
    "|flags|=3 partitions — measured 32 s at sf5, the narrow-key trap) "
    "and instead runs the classic DISTRIBUTED two-pass selection: "
    "(1) weight totals per flag (broadcast); (2) a (flag, price-"
    "bucket) hash-agg with map-side partials + a cumulative window on "
    "the tiny bucket domain locates the single bucket containing the "
    "median crossing (unique: first bucket with 2·cum ≥ total); "
    "(3) only rows in that bucket re-aggregate per exact cents, and a "
    "window on the in-bucket cents domain (≤ bucket width) closes "
    "with the carry weight from below. Every corpus-sized pass is an "
    "embarrassingly parallel hash-agg; no window ever sees more than "
    "the bucket-domain rows. Ties aggregate per cents BEFORE any "
    "cumulative, so the cut is tie-order- and partitioning-exact.",
)
def rel_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    BUCKET = 100_000  # $1k price buckets; in-bucket cents domain <= 1e5
    li = load_table(spark, "lineitem", sf_dir)
    t = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    ).withColumn("bucket", F.expr(f"cents div {BUCKET}"))

    tot = t.groupBy("l_returnflag").agg(F.sum("w").alias("tw"))

    wb = (
        Window.partitionBy("l_returnflag")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bcum = (
        t.groupBy("l_returnflag", "bucket")
        .agg(F.sum("w").alias("bw"))
        .withColumn("cumb", F.sum("bw").over(wb))
        .join(F.broadcast(tot), "l_returnflag")
    )
    target = bcum.where(
        (2 * F.col("cumb") >= F.col("tw")) & (2 * (F.col("cumb") - F.col("bw")) < F.col("tw"))
    ).select(
        "l_returnflag",
        "bucket",
        (F.col("cumb") - F.col("bw")).alias("below"),
        "tw",
    )

    cand = t.join(F.broadcast(target), ["l_returnflag", "bucket"])
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sel = (
        cand.groupBy("l_returnflag", "cents", "below", "tw")
        .agg(F.sum("w").alias("cw0"))
        .withColumn("cum", F.col("below") + F.sum("cw0").over(wc))
        .where(2 * F.col("cum") >= F.col("tw"))
    )
    return (
        sel.groupBy("l_returnflag")
        .agg(
            F.min("cents").cast("long").alias("wmedian_cents"),
            F.min("tw").cast("long").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# --- exact mode with deterministic tie-break --------------------------------


@register(
    "rel_mode_stats",
    oracle="""
WITH counts AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
         count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT l_returnflag, qty, n,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY n DESC, qty ASC) AS rn
  FROM counts
)
SELECT l_returnflag,
       CAST(qty AS BIGINT) AS mode_qty,
       CAST(n AS BIGINT) AS mode_count,
       CAST((SELECT count(*) FROM counts c
             WHERE c.l_returnflag = ranked.l_returnflag) AS BIGINT)
         AS n_distinct_qty
FROM ranked WHERE rn = 1
ORDER BY l_returnflag
""",
    doc="Exact statistical mode per group with a DETERMINISTIC tie-break "
    "(max count, then smallest value) — engines' built-in mode() leaves "
    "ties implementation-defined, which is exactly the kind of silent "
    "nondeterminism the registry exists to exclude; this plan makes the "
    "tie rule part of the contract. Scale shape: one (group, value) "
    "hash-agg with map-side partials collapses the corpus to the "
    "bounded value domain, then the ranking window and the distinct "
    "count run on that collapsed table — constant in row count, the "
    "ta_char_entropy shape. The mode is the discrete companion to "
    "rel_weighted_median in the robust-statistics family.",
)
def rel_mode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    counts = (
        li.select("l_returnflag", F.col("l_quantity").cast("long").alias("qty"))
        .groupBy("l_returnflag", "qty")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), F.asc("qty"))
    ranked = counts.withColumn("rn", F.row_number().over(w))
    ndist = counts.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_distinct_qty")
    )
    return (
        ranked.where(F.col("rn") == 1)
        .join(F.broadcast(ndist), "l_returnflag")
        .select(
            "l_returnflag",
            F.col("qty").cast("long").alias("mode_qty"),
            F.col("n").cast("long").alias("mode_count"),
            "n_distinct_qty",
        )
        .orderBy("l_returnflag")
    )


# --- join-cardinality estimation audit (optimizer-stats surface) -------------

JCE_BUCKETS = 64


@register(
    "rel_join_cardinality_estimate",
    oracle=f"""
WITH a AS (
  SELECT user_id, count(*) AS na FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
b AS (
  SELECT user_id, count(*) AS nb FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
k AS (
  SELECT coalesce(a.user_id, b.user_id) AS user_id,
         coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
  FROM a FULL JOIN b USING (user_id)
),
bkt AS (
  SELECT user_id % {JCE_BUCKETS} AS bucket,
         CAST(sum(na) AS BIGINT) AS rows_a,
         CAST(sum(nb) AS BIGINT) AS rows_b,
         CAST(count(*) AS BIGINT) AS d_keys,
         CAST(sum(na * nb) AS BIGINT) AS actual_pairs
  FROM k GROUP BY 1
)
SELECT bucket, rows_a, rows_b, d_keys, actual_pairs,
       CAST(rows_a * rows_b // d_keys AS BIGINT) AS est_pairs,
       -- sign-aware close: // floors but Spark div truncates, so the
       -- division runs on the absolute difference and the sign applies after
       CAST(CASE WHEN rows_a * rows_b // d_keys >= actual_pairs THEN 1 ELSE -1 END
            * (abs(rows_a * rows_b // d_keys - actual_pairs) * 1000000
               // greatest(actual_pairs, 1)) AS BIGINT) AS rel_err_u6
FROM bkt
ORDER BY bucket
""",
    doc="Join-cardinality estimation audit — the optimizer-statistics "
    "surface made a first-class query: for the view x purchase self-"
    "join on user_id, each key bucket carries the classic uniform-"
    "within-bucket estimate |A|·|B|/d (what histogram-based planners "
    "and AQE-style runtime stats compute) NEXT TO the exact join size "
    "sum(na·nb), with the signed relative error in 1e-6 units — the "
    "measured case for why skewed keys break plan estimates (hot "
    "buckets under-estimate, the exact reason rel_skew_salted_join "
    "exists). All integer: per-key counts are exact, the estimate is "
    "integer division, the error closes after the non-negative "
    "division (the sign-aware // rule). Scale shape: one (user) "
    "hash-agg per side sharing a partitioning with the full join, a "
    f"{JCE_BUCKETS}-row bucket close — the stats pass costs one scan, "
    "which is the whole point of maintaining them.",
)
def rel_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    a = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count("*").alias("na"))
    )
    b = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("nb"))
    )
    k = (
        a.join(b, "user_id", "full")
        .select(
            "user_id",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
    )
    bkt = (
        k.groupBy((F.col("user_id") % JCE_BUCKETS).alias("bucket"))
        .agg(
            F.sum("na").cast("long").alias("rows_a"),
            F.sum("nb").cast("long").alias("rows_b"),
            F.count("*").cast("long").alias("d_keys"),
            F.sum(F.col("na") * F.col("nb")).cast("long").alias("actual_pairs"),
        )
    )
    return bkt.select(
        "bucket",
        "rows_a",
        "rows_b",
        "d_keys",
        "actual_pairs",
        F.expr("CAST(rows_a * rows_b div d_keys AS BIGINT)").alias("est_pairs"),
        F.expr(
            "CAST(CASE WHEN rows_a * rows_b div d_keys >= actual_pairs"
            " THEN 1 ELSE -1 END"
            " * (abs(rows_a * rows_b div d_keys - actual_pairs) * 1000000"
            " div greatest(actual_pairs, 1)) AS BIGINT)"
        ).alias("rel_err_u6"),
    ).orderBy("bucket")

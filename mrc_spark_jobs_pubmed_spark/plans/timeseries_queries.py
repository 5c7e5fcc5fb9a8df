"""Time-series / event-stream analytics beyond windowed aggregation:
time-weighted averages (LOCF), interval-concurrency sweep-line, M4
visualization downsampling, and event-sequence Markov transitions.

These are the hypertable-style operators a monitoring or product-
analytics user of the reference stack would reach for next after
`rel_gap_fill_interpolate` / `rel_ts_anomaly_mad`. All arithmetic is
exact integer micro-units (the codebase-wide discipline): no output
column is produced by rounding an order-dependent double accumulation,
so results are bit-identical across engines, partitionings, and cluster
sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark.plans.registry import register
from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table
from mrc_spark_jobs_pubmed_spark.streaming.jobs import (  # shared with the streaming twins
    BURST_BASE_H,
    BURST_MULT,
    DOUBLE_FIRE_S,
    EWMA_K,
    HB_GAP_S,
    Q_SVC_PER_U4,
    RATE_LIMIT_K,
    RATE_WINDOW_S,
)

# --- time-weighted average (LOCF) -------------------------------------------


@register(
    "rel_time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT event_type,
         epoch_us(ts) AS t_us,
         CAST(round(value * 10000) AS BIGINT) AS v_u4,
         lead(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY epoch_us(ts), event_id
         ) AS nxt_us
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(coalesce((nxt_us - t_us) // 1000, 0)) AS BIGINT)
         AS dur_ms_total,
       CAST(sum(v_u4 * coalesce((nxt_us - t_us) // 1000, 0)) AS BIGINT)
         AS twa_numer,
       CAST(sum(v_u4 * coalesce((nxt_us - t_us) // 1000, 0))
            // nullif(sum(coalesce((nxt_us - t_us) // 1000, 0)), 0)
            AS BIGINT) AS twa_u4
FROM seq
GROUP BY event_type
""",
    doc="Time-weighted average per event type (the hypertable "
    "`time_weight('LOCF')` op): each observation's value holds until "
    "the next observation, so the average weights values by how long "
    "they were current, not by how often they were sampled — the "
    "correct mean for irregularly-sampled gauges. Exactness: values "
    "are 1e-4-unit BIGINTs, durations are floor-millisecond BIGINTs "
    "(floor of a nonnegative integer diff — identical on both "
    "engines), numerator and denominator are exact BIGINT sums, and "
    "the closing division is integer, so the result carries zero "
    "float accumulation. Overflow headroom: numer <= v_max * span_ms "
    "~ 1.3e16 at a 30-day span, ~1e18 at a decade — inside int64 at "
    "any realistic retention. Scale shape: ONE shuffle on event_type "
    "(the lead window), then the agg reuses that partitioning "
    "(map-side partials). At 100 TB the same plan partitions by "
    "(type, day) with per-boundary correction rows — the LOCF carry "
    "crosses chunk edges with one extra row per partition, the "
    "standard hypertable chunking idiom.",
)
def rel_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("t_us", "event_id")
    seq = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 10000).cast("long").alias("v_u4"),
    ).withColumn("nxt_us", F.lead("t_us").over(w))
    dur_ms = F.coalesce(
        F.expr("(nxt_us - t_us) div 1000"), F.lit(0).cast("long")
    )
    return (
        seq.select("event_type", "v_u4", dur_ms.alias("dur_ms"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("dur_ms").alias("dur_ms_total"),
            F.sum(F.col("v_u4") * F.col("dur_ms")).alias("twa_numer"),
        )
        .select(
            "event_type",
            "n_events",
            "dur_ms_total",
            "twa_numer",
            F.expr("twa_numer div nullif(dur_ms_total, 0)").alias("twa_u4"),
        )
    )


# --- interval concurrency (sweep-line) --------------------------------------

# deterministic synthetic interval length: 60 s base + id-spread up to 4 min
CONC_BASE_S = 60
CONC_SPREAD_S = 240


@register(
    "rel_concurrency_sweep",
    oracle=f"""
WITH iv AS (
  SELECT event_type,
         epoch_us(ts) AS s_us,
         epoch_us(ts)
           + ({CONC_BASE_S} + event_id % {CONC_SPREAD_S}) * 1000000 AS e_us
  FROM events
),
deltas AS (
  SELECT event_type, s_us AS t, 1 AS d FROM iv
  UNION ALL
  SELECT event_type, e_us AS t, -1 AS d FROM iv
),
net AS (
  SELECT event_type, t, CAST(sum(d) AS BIGINT) AS d
  FROM deltas GROUP BY event_type, t
),
running AS (
  SELECT event_type, t,
         CAST(sum(d) OVER (
           PARTITION BY event_type ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS conc
  FROM net
),
peak AS (
  SELECT event_type, max(conc) AS peak_concurrency FROM running
  GROUP BY event_type
)
SELECT r.event_type,
       (SELECT count(*) FROM iv WHERE iv.event_type = r.event_type)
         AS n_intervals,
       p.peak_concurrency,
       min(r.t) AS peak_t_us
FROM running r JOIN peak p
  ON r.event_type = p.event_type AND r.conc = p.peak_concurrency
GROUP BY r.event_type, p.peak_concurrency
""",
    doc="Peak-concurrency sweep-line: each event opens a deterministic "
    "interval (60 s + id-spread), and the classic +1/-1 endpoint sweep "
    "with a running sum finds the maximum number of simultaneously-open "
    "intervals per event type and the first instant it is reached — the "
    "'max concurrent sessions' question that naive self-joins answer in "
    "O(n^2) and this plan in O(n log n). Endpoint ties at the same "
    "microsecond net out in a per-(type, t) pre-agg, so the running sum "
    "is defined on a strictly-increasing time axis and the result is "
    "partitioning-independent; all quantities are integer. Scale shape: "
    "the endpoint table is 2x events but only (type, t, +-1) wide; one "
    "hash-agg nets ties, one window runs the sweep, and both share the "
    "event_type exchange. Peak extraction joins the tiny per-type max "
    "back by broadcast. At 100 TB, partition the sweep by (type, day) "
    "and carry one open-interval offset per boundary — the same "
    "chunked-carry idiom as the LOCF average.",
)
def rel_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + (
                F.lit(CONC_BASE_S)
                + F.col("event_id") % F.lit(CONC_SPREAD_S)
            )
            * F.lit(1000000)
        ).alias("e_us"),
    )
    deltas = ev.select(
        "event_type", F.col("s_us").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        ev.select(
            "event_type", F.col("e_us").alias("t"), F.lit(-1).alias("d")
        )
    )
    net = deltas.groupBy("event_type", "t").agg(
        F.sum("d").cast("long").alias("d")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = net.select(
        "event_type", "t", F.sum("d").over(w).cast("long").alias("conc")
    )
    peak = running.groupBy("event_type").agg(
        F.max("conc").alias("peak_concurrency")
    )
    n_iv = ev.groupBy("event_type").agg(F.count("*").alias("n_intervals"))
    return (
        running.join(
            F.broadcast(peak),
            ["event_type"],
        )
        .where(F.col("conc") == F.col("peak_concurrency"))
        .groupBy("event_type", "peak_concurrency")
        .agg(F.min("t").alias("peak_t_us"))
        .join(F.broadcast(n_iv), ["event_type"])
        .select(
            "event_type", "n_intervals", "peak_concurrency", "peak_t_us"
        )
    )


# --- M4 visualization downsampling ------------------------------------------

M4_PIXELS = 64  # target pixel-column count per series


@register(
    "rel_ts_downsample_m4",
    oracle=f"""
WITH pts AS (
  SELECT event_type, event_id,
         epoch_us(ts) AS t_us,
         CAST(round(value * 10000) AS BIGINT) AS v_u4
  FROM events
),
bnd AS (
  SELECT min(t_us) AS mn, max(t_us) AS mx FROM pts
),
bucketed AS (
  SELECT p.event_type, p.event_id, p.t_us, p.v_u4,
         CAST(((p.t_us - b.mn) * {M4_PIXELS}) // (b.mx - b.mn + 1)
              AS BIGINT) AS px
  FROM pts p, bnd b
),
ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY event_type, px ORDER BY t_us, event_id
         ) AS rn_a,
         row_number() OVER (
           PARTITION BY event_type, px ORDER BY t_us DESC, event_id DESC
         ) AS rn_d
  FROM bucketed
)
SELECT event_type, px,
       count(*) AS n_points,
       min(v_u4) AS v_min_u4,
       max(v_u4) AS v_max_u4,
       max(CASE WHEN rn_a = 1 THEN v_u4 END) AS v_first_u4,
       max(CASE WHEN rn_d = 1 THEN v_u4 END) AS v_last_u4,
       min(t_us) AS t_first_us,
       max(t_us) AS t_last_us
FROM ranked
GROUP BY event_type, px
""",
    doc="M4 visualization downsampling: per series (event type) and "
    "per pixel column of a {px}-wide plot, keep min, max, first, and "
    "last — the four points that make the downsampled line pixel-"
    "identical to the full-resolution rendering (Jugel et al., VLDB "
    "2014). first/last are tie-broken on (t, event_id) via asc/desc "
    "row_number, so every output value is a deterministic selection of "
    "an input integer — no arithmetic at all beyond the integer pixel "
    "bucketing against the global time range. Scale shape: the global "
    "[min, max] is a 1-row broadcast; then ONE shuffle on (type, px) "
    "serves both row_number windows and the closing agg (same key, "
    "exchange reused). Output is |types| x {px} rows regardless of "
    "input volume — this is the query that lets a dashboard scan 100 "
    "TB and ship 4 KB.".format(px=M4_PIXELS),
)
def rel_ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 10000).cast("long").alias("v_u4"),
    )
    bnd = ev.agg(F.min("t_us").alias("mn"), F.max("t_us").alias("mx"))
    bucketed = ev.crossJoin(F.broadcast(bnd)).select(
        "event_type",
        "event_id",
        "t_us",
        "v_u4",
        F.expr(
            f"CAST(((t_us - mn) * {M4_PIXELS}) div (mx - mn + 1) AS LONG)"
        ).alias("px"),
    )
    w_a = Window.partitionBy("event_type", "px").orderBy("t_us", "event_id")
    w_d = Window.partitionBy("event_type", "px").orderBy(
        F.desc("t_us"), F.desc("event_id")
    )
    ranked = bucketed.select(
        "event_type",
        "px",
        "t_us",
        "v_u4",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "px").agg(
        F.count("*").alias("n_points"),
        F.min("v_u4").alias("v_min_u4"),
        F.max("v_u4").alias("v_max_u4"),
        F.max(F.when(F.col("rn_a") == 1, F.col("v_u4"))).alias("v_first_u4"),
        F.max(F.when(F.col("rn_d") == 1, F.col("v_u4"))).alias("v_last_u4"),
        F.min("t_us").alias("t_first_us"),
        F.max("t_us").alias("t_last_us"),
    )


# --- event-sequence Markov transitions --------------------------------------


@register(
    "rel_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS dst
  FROM events
),
trans AS (
  SELECT src, dst, count(*) AS n_trans
  FROM seq WHERE dst IS NOT NULL
  GROUP BY src, dst
),
tot AS (
  SELECT src, CAST(sum(n_trans) AS BIGINT) AS n_src FROM trans GROUP BY src
)
SELECT t.src, t.dst, t.n_trans, o.n_src,
       CAST((t.n_trans * 1000000) // o.n_src AS BIGINT) AS p_u6
FROM trans t JOIN tot o USING (src)
""",
    doc="First-order Markov transition matrix over per-user event "
    "sequences: for each (current type -> next type) pair, the count "
    "and the transition probability in exact 1e-6 units (integer "
    "division of exact counts — no float ratio). The 'what do users do "
    "next' primitive behind funnel discovery, next-action prediction "
    "baselines, and session modeling. Ordering within a user is "
    "(event time, event_id) — total and deterministic. Scale shape: "
    "ONE shuffle on user_id for the lead window (sequences stay "
    "whole), then the transition agg runs on the |types|^2 domain — "
    "constant-size output and map-side partials, with the per-source "
    "totals joined back by broadcast. No part of the plan grows faster "
    "than the input.",
)
def rel_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    trans = (
        seq.where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_trans"))
    )
    tot = trans.groupBy("src").agg(
        F.sum("n_trans").cast("long").alias("n_src")
    )
    return trans.join(F.broadcast(tot), ["src"]).select(
        "src",
        "dst",
        "n_trans",
        "n_src",
        F.expr("CAST((n_trans * 1000000) div n_src AS LONG)").alias("p_u6"),
    )


# --- cross-series correlation -----------------------------------------------

CORR_BUCKET_SEC = 300  # 5-minute buckets, same grid as the gap-fill family


@register(
    "rel_ts_correlation",
    oracle=f"""
WITH buckets AS (
  SELECT event_type,
         epoch_us(ts) // ({CORR_BUCKET_SEC} * 1000000) AS b,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS nb
  FROM events
  GROUP BY 1, 2
),
avgs AS (SELECT event_type, b, s // nb AS v FROM buckets),
paired AS (
  SELECT a.event_type AS type_a, bb.event_type AS type_b,
         a.v AS x, bb.v AS y
  FROM avgs a JOIN avgs bb
    ON a.b = bb.b AND a.event_type < bb.event_type
),
means AS (
  SELECT type_a, type_b,
         count(*) AS n,
         CAST(sum(x) AS BIGINT) // count(*) AS mx,
         CAST(sum(y) AS BIGINT) // count(*) AS my
  FROM paired GROUP BY type_a, type_b
),
moments AS (
  SELECT p.type_a, p.type_b, any_value(m.n) AS n,
         CAST(sum((p.x - m.mx) * (p.y - m.my)) AS BIGINT) AS sxy,
         CAST(sum((p.x - m.mx) * (p.x - m.mx)) AS BIGINT) AS sxx,
         CAST(sum((p.y - m.my) * (p.y - m.my)) AS BIGINT) AS syy
  FROM paired p JOIN means m USING (type_a, type_b)
  GROUP BY p.type_a, p.type_b
)
SELECT type_a, type_b, n,
       -- CAST, not "* 1.0": DuckDB types the 1.0 literal as DECIMAL,
       -- so BIGINT * 1.0 * BIGINT runs exact decimal arithmetic and
       -- sqrt() rounds ONCE from the exact product, while Spark's
       -- double path rounds at the intermediate multiply — a 1-ulp
       -- divergence (caught by the bone-stock exact repro)
       sxy / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)) AS pearson_r
FROM moments
WHERE sxx > 0 AND syy > 0
""",
    doc="Cross-series Pearson correlation: every pair of event types "
    "compared on the shared 5-min bucket grid (inner join on bucket — "
    "only co-observed buckets count), the 'do these two metrics move "
    "together' primitive behind alert correlation and metric-graph "
    "discovery. Exactness AND overflow discipline: the correlate is "
    "the bucket AVERAGE in exact cent units (bounded by the value "
    "domain, ~5e4 — NOT the bucket sum, which grows with rows/bucket "
    "and overflows second moments at scale), centered by exact-"
    "integer pair means in a two-pass plan, so every moment is an "
    "exact BIGINT with |dx·dy| <= 2.4e9/bucket — int64-safe past a "
    "century of 5-min buckets — and the closing r is two IEEE ops "
    "over exact integers, emitted unrounded (round()-at-6dp flips "
    "1-ulp edges between engines; the r2/r3 bug class). Scale shape: "
    "one (type, bucket) hash-agg shrinks the stream to the bounded "
    "bucket domain; pair join, means, and centered moments all run on "
    "that time-bounded table with the tiny means broadcast back.",
)
def rel_ts_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    avgs = (
        ev.groupBy(
            "event_type",
            (F.unix_micros("ts") / F.lit(CORR_BUCKET_SEC * 1000000))
            .cast("long")
            .alias("b"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
            F.count("*").alias("nb"),
        )
        .select("event_type", "b", F.expr("s div nb").alias("v"))
    )
    a = avgs.select(
        F.col("event_type").alias("type_a"), "b", F.col("v").alias("x")
    )
    bb = avgs.select(
        F.col("event_type").alias("type_b"), "b", F.col("v").alias("y")
    )
    paired = a.join(
        bb, (a.b == bb.b) & (F.col("type_a") < F.col("type_b"))
    )
    means = paired.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n"),
        F.expr("CAST(sum(x) AS LONG) div count(*)").alias("mx"),
        F.expr("CAST(sum(y) AS LONG) div count(*)").alias("my"),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    moments = (
        paired.join(F.broadcast(means), ["type_a", "type_b"])
        .groupBy("type_a", "type_b")
        .agg(
            F.first("n").alias("n"),
            F.sum(dx * dy).cast("long").alias("sxy"),
            F.sum(dx * dx).cast("long").alias("sxx"),
            F.sum(dy * dy).cast("long").alias("syy"),
        )
    )
    return moments.where((F.col("sxx") > 0) & (F.col("syy") > 0)).select(
        "type_a",
        "type_b",
        "n",
        # unrounded: exact integer moments + two IEEE ops — bit-stable
        (F.col("sxy") / F.sqrt(F.col("sxx") * F.lit(1.0) * F.col("syy")))
        .alias("pearson_r"),
    )


# --- daily new users + cumulative distinct ----------------------------------

DAY_US = 86400 * 1000000


@register(
    "rel_new_users_daily",
    oracle=f"""
WITH first_seen AS (
  SELECT user_id, min(epoch_us(ts)) AS f_us FROM events GROUP BY user_id
),
daily AS (
  SELECT f_us // {DAY_US} AS day, count(*) AS new_users
  FROM first_seen GROUP BY 1
)
SELECT CAST(day * 86400 AS BIGINT) AS day_epoch,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(sum(new_users) OVER (
         ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_users
FROM daily
""",
    doc="Daily new users and cumulative distinct users — the growth "
    "curve. COUNT(DISTINCT) over an expanding window is quadratic and "
    "unshippable; the first-seen rewrite (min event time per user, "
    "then count first-seens per day + running sum) computes the exact "
    "same curve with one user_id hash-agg and a day-domain window. "
    "All integer. Scale shape: the only stream-sized operation is the "
    "min-per-user agg (map-side partials ship one (user, ts) pair per "
    "partition); the daily rollup and the cumulative window run on "
    "the bounded day domain. This is the standard incremental-"
    "materialization trick for distinct-growth metrics at any volume.",
)
def rel_new_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("f_us")
    )
    daily = first_seen.groupBy(
        F.expr(f"f_us div {DAY_US}").alias("day")
    ).agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        (F.col("day") * 86400).cast("long").alias("day_epoch"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


# --- RFM customer segmentation ----------------------------------------------

RFM_TILES = 4


@register(
    "rel_rfm_segmentation",
    oracle=f"""
WITH purchases AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         CAST(round(value * 10000) AS BIGINT) AS v_u4
  FROM events WHERE event_type = 'purchase'
),
horizon AS (SELECT max(t_us) AS h FROM purchases),
rfm AS (
  SELECT p.user_id,
         (hh.h - max(p.t_us)) // {DAY_US} AS r_days,
         count(*) AS f_n,
         CAST(sum(p.v_u4) AS BIGINT) AS m_u4
  FROM purchases p CROSS JOIN horizon hh
  GROUP BY p.user_id, hh.h
)
SELECT user_id,
       CAST(r_days AS BIGINT) AS r_days,
       CAST(f_n AS BIGINT) AS f_n, m_u4,
       CAST(ntile({RFM_TILES}) OVER (ORDER BY r_days, user_id)
            AS BIGINT) AS r_q,
       CAST(ntile({RFM_TILES}) OVER (ORDER BY f_n DESC, user_id)
            AS BIGINT) AS f_q,
       CAST(ntile({RFM_TILES}) OVER (ORDER BY m_u4 DESC, user_id)
            AS BIGINT) AS m_q
FROM rfm
""",
    doc="RFM customer segmentation: per purchasing user, recency in "
    "days from the corpus horizon, purchase frequency, and exact "
    "1e-4-unit monetary total, each quartiled by ntile({t}) with a "
    "deterministic user_id tie-break (best quartile = 1: most recent, "
    "most frequent, highest spend). The standard marketing "
    "segmentation primitive. Scale shape: the purchases agg is one "
    "user_id hash-agg; the three ntile windows run on the USER domain "
    "(not the event stream) — at fixture scale a single sort each, at "
    "100 TB the quartile boundaries come from approx_percentile "
    "cutpoints broadcast back (the corpus_curriculum_order idiom) "
    "with the same output contract.".format(t=RFM_TILES),
)
def rel_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 10000).cast("long").alias("v_u4"),
    )
    horizon = purchases.agg(F.max("t_us").alias("h"))
    rfm = (
        purchases.crossJoin(F.broadcast(horizon))
        .groupBy("user_id", "h")
        .agg(
            F.expr(f"(any_value(h) - max(t_us)) div {DAY_US}").alias(
                "r_days"
            ),
            F.count("*").alias("f_n"),
            F.sum("v_u4").cast("long").alias("m_u4"),
        )
        .drop("h")
    )
    return rfm.select(
        "user_id",
        F.col("r_days").cast("long").alias("r_days"),
        F.col("f_n").cast("long").alias("f_n"),
        "m_u4",
        F.ntile(RFM_TILES)
        .over(Window.orderBy("r_days", "user_id"))
        .cast("long")
        .alias("r_q"),
        F.ntile(RFM_TILES)
        .over(Window.orderBy(F.desc("f_n"), F.asc("user_id")))
        .cast("long")
        .alias("f_q"),
        F.ntile(RFM_TILES)
        .over(Window.orderBy(F.desc("m_u4"), F.asc("user_id")))
        .cast("long")
        .alias("m_q"),
    )


# --- heartbeat gap detection -------------------------------------------------

@register(
    "rel_heartbeat_gaps",
    oracle=f"""
WITH seq AS (
  SELECT user_id, epoch_us(ts) AS t_us, event_id,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS prev_us
  FROM events
)
SELECT user_id,
       prev_us AS gap_start_us,
       t_us AS gap_end_us,
       (t_us - prev_us) // 1000000 AS gap_s
FROM seq
WHERE prev_us IS NOT NULL AND t_us - prev_us > {HB_GAP_S * 1000000}
""",
    doc="Heartbeat-gap detection: every silence longer than an hour in "
    "a user's event stream, with its bounds and duration — the "
    "liveness/outage monitor (device offline, instrumentation dropped, "
    "user churn-risk signal) that windowed counts blur and this "
    "lag-based scan pinpoints. All integer microsecond arithmetic on a "
    "deterministic (ts, event_id) order. Scale shape: ONE shuffle on "
    "user_id (the lag window), then a pure filter — output is "
    "gap-count-sized, not stream-sized. The STREAMING twin is "
    "implemented: streaming/jobs.py stateful_heartbeat_gaps "
    "(applyInPandasWithState, one long of state per user, max-robust "
    "against late batches), replay-tested equal to this batch form in "
    "tests/test_streaming.py.",
)
def rel_heartbeat_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
    ).withColumn("prev_us", F.lag("t_us").over(w))
    return seq.where(
        F.col("prev_us").isNotNull()
        & (F.col("t_us") - F.col("prev_us") > HB_GAP_S * 1000000)
    ).select(
        "user_id",
        F.col("prev_us").alias("gap_start_us"),
        F.col("t_us").alias("gap_end_us"),
        F.expr("(t_us - prev_us) div 1000000").alias("gap_s"),
    )


# --- event-time disorder / late-data metrics --------------------------------

LATE_WATERMARK_US = 10 * 60 * 1_000_000  # mirror of streaming WATERMARK
# Carry-chunk width for the sharded running-max (event_id units). 2^22
# ids/chunk keeps the chunk-domain table broadcast-small at any shipped
# sf (sf20's 20 replica id-blocks -> ~100 (type, chunk) rows) while the
# bench SFs' dense 0..1e5 ids collapse to one chunk (plan == the narrow
# window there). At 100 TB the constant derives from the id-allocation
# scheme the same way lindley_sharded's day does; the carries stay exact
# at ANY width because running max is associative.
OOO_CHUNK_IDS = 1 << 22
# hard cap on the broadcast carry-table cardinality per type: the chunk
# width grows with the observed id span so |chunks| never exceeds this,
# whatever the id-allocation scheme (r10 ADVICE item 1)
OOO_MAX_CHUNKS = 4096


@register(
    "rel_out_of_order_metrics",
    oracle=f"""
WITH seq AS (
  SELECT event_type,
         epoch_us(ts) AS t_us,
         max(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_max_us
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN t_us < prev_max_us THEN 1 ELSE 0 END) AS BIGINT)
         AS n_out_of_order,
       CAST(sum(CASE WHEN t_us < prev_max_us - {LATE_WATERMARK_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(max(CASE WHEN t_us < prev_max_us THEN prev_max_us - t_us
                     ELSE 0 END) AS BIGINT) AS max_disorder_us
FROM seq
GROUP BY event_type
""",
    doc="Event-time disorder audit: per type, how many events arrive "
    "behind the high-water mark of event time (arrival order = the "
    "event_id log sequence), how many arrive LATER than the streaming "
    "watermark (10 min — the rows the streaming jobs would drop), and "
    "the worst disorder seen. This is the measurement that VALIDATES a "
    "watermark choice instead of guessing it: n_late is exactly the "
    "data-loss budget the streaming family's `withWatermark` accepts, "
    "and max_disorder_us says what watermark would make it zero. All "
    "integer; the running max is a cumulative frame (O(n), the "
    "gap-fill lesson — never a FOLLOWING frame). Scale shape (r10 — "
    "the narrow plan windowed over |types|=5 partitions, five "
    "single-threaded multi-M-row sorts at sf20, the revenue_pareto "
    "class): the running max is prefix-ASSOCIATIVE, so the window "
    "shards by (type, event_id div 2^22) exactly like "
    "rel_queue_wait_lindley_sharded — a local exclusive prefix max "
    "inside each chunk, a tiny chunk-domain carry table (per-chunk "
    "max, running-max'd exclusively per type), and a broadcast "
    "stitch: prev_max = greatest(carry, local prefix max), NULL for "
    "the very first rows exactly as the empty narrow frame. One "
    "fact shuffle on (type, chunk) with |types| x |chunks| "
    "parallelism; the carry branch moves only map-side-combined "
    "chunk rows; output is |types| rows.",
)
def rel_out_of_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    # r11 (ADVICE r10 item 1): the carry table is broadcast, so its
    # cardinality must be bounded by CONSTRUCTION, not by assumption —
    # with a sparse id-allocation scheme (e.g. timestamp-prefixed ids)
    # a fixed 2^22 width makes |chunks| approach |events| and the
    # broadcast OOMs. The width now derives from the observed id span
    # (one bounded 1-row min/max job, the mine_triplets adaptive-sizing
    # precedent): never below 2^22 — every shipped fixture keeps the
    # identical chunk keys, plan, and values — and never more than
    # OOO_MAX_CHUNKS chunks per type at any id density. The stitching
    # stays exact at ANY width (running max is associative; the chunk
    # key is monotone in event_id for any fixed width).
    bounds = ev.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    span = (
        int(bounds["hi"]) - int(bounds["lo"]) + 1
        if bounds["hi"] is not None
        else 1
    )
    width = max(OOO_CHUNK_IDS, -(-span // OOO_MAX_CHUNKS))
    seq = ev.select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
    ).withColumn("chunk", F.expr(f"event_id div {width}"))
    # Local exclusive prefix max inside each (type, chunk) shard — the
    # chunk key is a monotone function of the ORDER key, so chunk order
    # extends event_id order and the carries compose exactly.
    wl = (
        Window.partitionBy("event_type", "chunk")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = seq.withColumn("lm_excl", F.max("t_us").over(wl))
    # Chunk-domain carries: per-chunk max (map-side combined — this
    # branch shuffles |types| x |chunks| rows, not facts), then the
    # exclusive running max over preceding chunks per type.
    wc = (
        Window.partitionBy("event_type")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunks = (
        seq.groupBy("event_type", "chunk")
        .agg(F.max("t_us").alias("c_max"))
        .withColumn("p_carry", F.max("c_max").over(wc))
        .select("event_type", "chunk", "p_carry")
    )
    # greatest() skips NULLs: first chunk (p_carry NULL) falls back to
    # the local prefix; first row of a later chunk (lm_excl NULL) falls
    # back to the carry; the very first row of a type has both NULL and
    # stays NULL — identically the narrow plan's empty frame.
    stitched = local.join(F.broadcast(chunks), ["event_type", "chunk"])
    prev_max = F.greatest(F.col("p_carry"), F.col("lm_excl"))
    late = F.col("t_us") < prev_max - F.lit(LATE_WATERMARK_US)
    ooo = F.col("t_us") < prev_max
    return stitched.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(ooo, 1).otherwise(0)).cast("long").alias("n_out_of_order"),
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late"),
        F.max(F.when(ooo, prev_max - F.col("t_us")).otherwise(F.lit(0)))
        .cast("long")
        .alias("max_disorder_us"),
    )


# --- rolling active users (DAU / WAU / stickiness) ---------------------------

WAU_DAYS = 7


@register(
    "rel_active_users_rolling",
    oracle=f"""
WITH activity AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
),
spread AS (
  SELECT DISTINCT user_id, day + t.i AS target_day
  FROM activity CROSS JOIN range(0, {WAU_DAYS}) t(i)
),
days AS (SELECT DISTINCT day FROM activity),
wau AS (
  SELECT s.target_day AS day, count(DISTINCT s.user_id) AS wau
  FROM spread s JOIN days d ON d.day = s.target_day
  GROUP BY s.target_day
),
dau AS (
  SELECT day, count(*) AS dau FROM activity GROUP BY day
)
SELECT CAST(d.day * 86400 AS BIGINT) AS day_epoch,
       CAST(d.dau AS BIGINT) AS dau,
       CAST(w.wau AS BIGINT) AS wau,
       CAST((d.dau * 1000000) // w.wau AS BIGINT) AS stickiness_u6
FROM dau d JOIN wau w USING (day)
""",
    doc="Rolling active users: DAU, trailing-{w}-day WAU, and the "
    "DAU/WAU stickiness ratio per day (exact 1e-6 integer units) — "
    "the engagement triple every product dashboard leads with. The "
    "scalable rewrite: COUNT(DISTINCT) OVER a rolling window "
    "re-scans {w} days per day; the r7 form exploded each activity "
    "row to its {w} target days and ran countDistinct(user) per day "
    "— linear, but a x{w} fan-out (105M rows at sf20) into a "
    "distinct-count shuffle. The r9 form (sf20 decade-check) removes "
    "the distinct count entirely: per user, each activity day d "
    "covers target days [d, d+{wm1}] CAPPED at the next activity "
    "day - 1 (one lead() window over the user-day domain), which "
    "makes the per-user coverage intervals disjoint by construction "
    "— so WAU(day) is a +1/-1 interval-boundary difference stream "
    "read through ONE running sum over the (tiny) day domain, the "
    "same incremental-frame idiom as rel_rate_limit_audit. Scale "
    "shape: one (user, day) distinct, one user-partitioned lead, "
    "one day-domain rollup — no x{w} fan-out, no distinct count; "
    "sf20 A/B 5.6 -> 3.8 s same-session, value-identical.".format(
        w=WAU_DAYS, wm1=WAU_DAYS - 1
    ),
)
def rel_active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    activity = ev.select(
        "user_id", F.expr(f"unix_micros(ts) div {DAY_US}").alias("day")
    ).distinct()
    wl = Window.partitionBy("user_id").orderBy("day")
    iv = activity.select(
        "day", F.lead("day").over(wl).alias("nxt")
    ).select(
        F.col("day").alias("s"),
        F.least(
            F.col("day") + (WAU_DAYS - 1),
            F.coalesce(F.col("nxt") - 1, F.col("day") + (WAU_DAYS - 1)),
        ).alias("e"),
    )
    diff = iv.select(F.col("s").alias("day"), F.lit(1).alias("d")).unionByName(
        iv.select((F.col("e") + 1).alias("day"), F.lit(-1).alias("d"))
    )
    byday = diff.groupBy("day").agg(F.sum("d").alias("d"))
    wrun = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    days = activity.select("day").distinct()
    wau = (
        byday.select("day", F.sum("d").over(wrun).alias("wau"))
        .join(F.broadcast(days), "day")
    )
    dau = activity.groupBy("day").agg(F.count("*").alias("dau"))
    return dau.join(wau, "day").select(
        (F.col("day") * 86400).cast("long").alias("day_epoch"),
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        F.expr("CAST((dau * 1000000) div wau AS LONG)").alias(
            "stickiness_u6"
        ),
    )


# --- A/B experiment evaluation ----------------------------------------------


@register(
    "rel_ab_test_eval",
    oracle="""
WITH assigned AS (
  SELECT user_id, user_id % 2 AS arm FROM (
    SELECT DISTINCT user_id FROM events
  )
),
conv AS (
  SELECT a.arm,
         a.user_id,
         count(e.event_id) AS n_purch,
         CAST(coalesce(sum(CAST(round(e.value * 10000) AS BIGINT)), 0)
              AS BIGINT) AS v_u4
  FROM assigned a LEFT JOIN events e
    ON e.user_id = a.user_id AND e.event_type = 'purchase'
  GROUP BY a.arm, a.user_id
)
SELECT CAST(arm AS BIGINT) AS arm,
       count(*) AS n_users,
       CAST(sum(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_converted,
       CAST((sum(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS conversion_u6,
       CAST(sum(v_u4) AS BIGINT) AS value_u4,
       CAST(sum(v_u4) // count(*) AS BIGINT) AS value_per_user_u4
FROM conv
GROUP BY arm
""",
    doc="A/B experiment readout: deterministic 50/50 arm assignment "
    "(user id parity — in production, the hash-bucket assignment of "
    "corpus_sample_hash), per arm the user count, converted-user "
    "count, conversion rate, total and per-user purchase value — all "
    "exact integers (1e-6 rates, 1e-4 money, integer divisions), so "
    "two runs of the readout can be diffed bit-for-bit while the "
    "z-test runs downstream on the exact counts. Users without "
    "purchases stay in the denominator via the LEFT join — dropping "
    "them is the classic conversion-rate bug. Scale shape: one "
    "distinct on user, one user-keyed left join with map-side "
    "partials, a 2-row rollup.",
)
def rel_ab_test_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    assigned = ev.select("user_id").distinct().select(
        "user_id", (F.col("user_id") % 2).alias("arm")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 10000).cast("long").alias("v_u4"),
    )
    conv = (
        assigned.join(purchases, "user_id", "left")
        .groupBy("arm", "user_id")
        .agg(
            F.count("event_id").alias("n_purch"),
            F.coalesce(F.sum("v_u4"), F.lit(0)).cast("long").alias("v_u4"),
        )
    )
    return conv.groupBy(F.col("arm").cast("long").alias("arm")).agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("n_purch") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_converted"),
        F.expr(
            "CAST((sum(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) * 1000000)"
            " div count(*) AS LONG)"
        ).alias("conversion_u6"),
        F.sum("v_u4").cast("long").alias("value_u4"),
        F.expr("CAST(sum(v_u4) div count(*) AS LONG)").alias(
            "value_per_user_u4"
        ),
    )


# --- seasonal profile --------------------------------------------------------


@register(
    "rel_ts_seasonal_profile",
    oracle=f"""
SELECT CAST(((epoch_us(ts) // {DAY_US}) + 4) % 7 AS BIGINT) AS dow,
       CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hour,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v_u4
FROM events
GROUP BY 1, 2
""",
    doc="Seasonality profile: event counts and exact 1e-4-unit value "
    "by (UTC day-of-week, hour-of-day) — the base heat-map behind "
    "capacity planning, anomaly baselining (rel_ts_anomaly_mad per "
    "cell at scale), and send-time optimization. Timezone discipline: "
    "the cells derive from PURE EPOCH ARITHMETIC (dow = epoch-day + 4 "
    "mod 7, Sunday = 0; hour = epoch-hour mod 24), NOT calendar "
    "extract() — Spark applies the session timezone inside hour()/"
    "dayofweek(), so a non-UTC driver host would shift every cell "
    "against the oracle (the r2 events-timestamp bug family); epoch "
    "math is engine- and session-tz-independent by construction. One "
    "hash-agg with map-side partials onto the fixed 7x24 cell domain "
    "— constant output at any volume.",
)
def rel_ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(
        F.expr(f"CAST(((unix_micros(ts) div {DAY_US}) + 4) % 7 AS LONG)")
        .alias("dow"),
        F.expr("CAST((unix_micros(ts) div 3600000000) % 24 AS LONG)")
        .alias("hour"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 10000).cast("long"))
        .cast("long")
        .alias("v_u4"),
    )


# --- cohort LTV curve --------------------------------------------------------

WEEK_US = 7 * DAY_US


@register(
    "rel_cohort_ltv",
    oracle=f"""
WITH first_seen AS (
  SELECT user_id, min(epoch_us(ts)) // {WEEK_US} AS cohort_week
  FROM events GROUP BY user_id
),
purchases AS (
  SELECT user_id, epoch_us(ts) // {WEEK_US} AS week,
         CAST(round(value * 10000) AS BIGINT) AS v_u4
  FROM events WHERE event_type = 'purchase'
),
cells AS (
  SELECT f.cohort_week,
         p.week - f.cohort_week AS weeks_since,
         CAST(sum(p.v_u4) AS BIGINT) AS v_u4,
         count(*) AS n_purchases
  FROM purchases p JOIN first_seen f USING (user_id)
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, count(*) AS cohort_users FROM first_seen
  GROUP BY cohort_week
)
SELECT CAST(c.cohort_week AS BIGINT) AS cohort_week,
       CAST(c.weeks_since AS BIGINT) AS weeks_since,
       CAST(s.cohort_users AS BIGINT) AS cohort_users,
       CAST(c.n_purchases AS BIGINT) AS n_purchases,
       c.v_u4,
       CAST(sum(c.v_u4) OVER (
              PARTITION BY c.cohort_week ORDER BY c.weeks_since
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) // s.cohort_users AS BIGINT) AS cum_ltv_per_user_u4
FROM cells c JOIN sizes s USING (cohort_week)
""",
    doc="Cohort LTV curve: per signup-week cohort and weeks-since-"
    "signup, purchase value and the CUMULATIVE lifetime value per "
    "cohort user in exact 1e-4 units — the revenue companion to "
    "rel_cohort_retention, and the payback-period curve growth "
    "finance actually plans against. All integer: week bucketing is "
    "epoch arithmetic (tz-independent), the cum sum runs over exact "
    "BIGINTs, and the per-user close is integer division. Scale "
    "shape: one first-seen agg on user_id whose partitioning the "
    "purchases join reuses, a (cohort, week) cell agg on the bounded "
    "time-grid domain, and the cumulative window runs on that "
    "grid — constant in event volume.",
)
def rel_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.expr(f"min(unix_micros(ts)) div {WEEK_US}").alias("cohort_week")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr(f"unix_micros(ts) div {WEEK_US}").alias("week"),
        F.round(F.col("value") * 10000).cast("long").alias("v_u4"),
    )
    cells = (
        purchases.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(
            F.sum("v_u4").cast("long").alias("v_u4"),
            F.count("*").alias("n_purchases"),
        )
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .withColumn("cum_v", F.sum("v_u4").over(w))
        .select(
            F.col("cohort_week").cast("long").alias("cohort_week"),
            F.col("weeks_since").cast("long").alias("weeks_since"),
            F.col("cohort_users").cast("long").alias("cohort_users"),
            F.col("n_purchases").cast("long").alias("n_purchases"),
            "v_u4",
            F.expr("CAST(cum_v div cohort_users AS LONG)").alias(
                "cum_ltv_per_user_u4"
            ),
        )
    )


# --- exact dyadic EWMA ------------------------------------------------------

def _ewma_terms(dialect: str) -> tuple[str, str]:
    """(numerator, denominator) SQL over lag columns g0..g{K-1}.

    Lag i carries weight 2^(K-1-i); absent lags (short histories)
    contribute 0 to both sides, so the close is a true weighted mean
    over the available history. Identical text on both engines apart
    from the integer-division close (div vs //).
    """
    num = " + ".join(
        f"coalesce(g{i}, 0) * {1 << (EWMA_K - 1 - i)}" for i in range(EWMA_K)
    )
    den = " + ".join(
        f"(CASE WHEN g{i} IS NOT NULL THEN {1 << (EWMA_K - 1 - i)} ELSE 0 END)"
        for i in range(EWMA_K)
    )
    return num, den


def _ewma_sql() -> str:
    num, den = _ewma_terms("duckdb")
    lags = ",\n         ".join(
        f"lag(v_u4, {i}) OVER w AS g{i}" for i in range(EWMA_K)
    )
    return f"""
WITH seq AS (
  SELECT user_id,
         CAST(round(value * 10000) AS BIGINT) AS v_u4,
         {lags},
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_events,
       g0 AS last_v_u4,
       CAST(({num}) // ({den}) AS BIGINT) AS ewma_u4
FROM seq
WHERE rn = n
"""


@register(
    "rel_ewma_smoothing",
    oracle=_ewma_sql(),
    doc="Exponentially-weighted moving average of each user's metric at "
    "their latest event, with alpha=1/2 truncated to the last "
    f"{EWMA_K} observations and DYADIC weights 2^(K-1-i): numerator "
    "and denominator are exact BIGINT sums of 1e-4-unit values times "
    "powers of two, closed by one integer division — an EWMA with "
    "zero float accumulation, bit-identical on any engine or "
    "partitioning (a float alpha^i recursion is not: its rounding "
    "differs by evaluation order). Short histories renormalize over "
    "the available lags, so the result is a true weighted mean from "
    "the first event on. Scale shape: one shuffle on user_id, one "
    "window pass computing the K lags + row count in a single frame, "
    "output one row per user. Overflow: v_max*1e4 * 2^8 * 8 ~ 1e10 — "
    "five orders inside int64 even at 1e6x larger values.",
)
def rel_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 10000).cast("long").alias("v_u4"),
        F.expr("unix_micros(ts)").alias("t_us"),
        "event_id",
    )
    for i in range(EWMA_K):
        seq = seq.withColumn(f"g{i}", F.lag("v_u4", i).over(w))
    seq = seq.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("user_id"))
    )
    num, den = _ewma_terms("spark")
    return seq.where(F.col("rn") == F.col("n")).select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.col("g0").alias("last_v_u4"),
        F.expr(f"CAST(({num}) div ({den}) AS LONG)").alias("ewma_u4"),
    )


# --- CUSUM changepoint detection --------------------------------------------


@register(
    "rel_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v_u4
  FROM events
  GROUP BY 1, 2
),
m AS (
  SELECT event_type, count(*) AS n, CAST(sum(v_u4) AS BIGINT) AS s
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT d.event_type, d.day,
         -- n*x - s: the mean-centered deviation SCALED BY n, keeping
         -- everything integer (x - s/n would need a lossy division)
         sum(d.v_u4 * m.n - m.s) OVER (
           PARTITION BY d.event_type ORDER BY d.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cusum_n
  FROM daily d JOIN m USING (event_type)
),
peak AS (
  SELECT event_type, day, cusum_n, abs(cusum_n) AS mag,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(cusum_n) DESC, day) AS rn
  FROM dev
)
SELECT event_type,
       CAST(day AS BIGINT) AS change_day,
       CAST(cusum_n AS BIGINT) AS cusum_n_u4,
       CAST(mag AS BIGINT) AS magnitude_u4
FROM peak WHERE rn = 1
""",
    doc="CUSUM changepoint detection per metric stream: cumulative sum "
    "of mean-centered daily values, peak |CUSUM| marks the most "
    "likely level-shift day — the classic offline changepoint screen "
    "(did the metric's regime change, and when?) beside "
    "rel_ts_anomaly_mad's point outliers. EXACT-integer trick: the "
    "deviation is scaled by n (n*x - sum instead of x - sum/n), so "
    "the running sum is pure BIGINT — no float mean, no rounding "
    "drift, bit-identical peak day on any engine/partitioning; "
    "magnitude is in n-scaled 1e-4 units (the ORDERING and argmax "
    "day are what the operator contracts). Scale shape: a (type, "
    "day) pre-agg collapses the stream to the bounded time grid; "
    "mean, window, and argmax all run on that grid — constant in "
    "event volume. Overflow: |n*x - s| <= 2*n*max_daily ~ 1e13 at "
    "a decade of days x 1e5-unit daily sums.",
)
def rel_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 10000).cast("long"))
        .cast("long")
        .alias("v_u4")
    )
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("v_u4").cast("long").alias("s")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = daily.join(F.broadcast(m), "event_type").withColumn(
        "cusum_n",
        F.sum(F.col("v_u4") * F.col("n") - F.col("s")).over(w),
    )
    peak = dev.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("cusum_n")).desc(), "day"
            )
        ),
    )
    return peak.where(F.col("rn") == 1).select(
        "event_type",
        F.col("day").cast("long").alias("change_day"),
        F.col("cusum_n").cast("long").alias("cusum_n_u4"),
        F.abs(F.col("cusum_n")).cast("long").alias("magnitude_u4"),
    )


# --- Kaplan-Meier churn survival --------------------------------------------


@register(
    "rel_survival_curve",
    oracle=f"""
WITH spans AS (
  SELECT user_id,
         min(epoch_us(ts)) // {DAY_US} AS first_w,
         max(epoch_us(ts)) // {DAY_US} AS last_w
  FROM events GROUP BY user_id
),
horizon AS (SELECT max(epoch_us(ts)) // {DAY_US} AS w_max FROM events),
obs AS (
  SELECT user_id,
         CASE WHEN s.last_w < h.w_max THEN s.last_w - s.first_w
              ELSE h.w_max - s.first_w END AS tenure,
         CASE WHEN s.last_w < h.w_max THEN 1 ELSE 0 END AS churned
  FROM spans s CROSS JOIN horizon h
),
grid AS (SELECT DISTINCT tenure AS t FROM obs),
km AS (
  SELECT g.t,
         (SELECT count(*) FROM obs WHERE obs.tenure >= g.t) AS n_at_risk,
         (SELECT count(*) FROM obs
          WHERE obs.tenure = g.t AND obs.churned = 1) AS n_churned
  FROM grid g
),
hz AS (
  SELECT t, n_at_risk, n_churned,
         CAST((n_churned * 1000000) // n_at_risk AS BIGINT) AS hazard_u6,
         CASE WHEN n_churned < n_at_risk
              THEN CAST(round(-ln(1.0 - n_churned::DOUBLE / n_at_risk)
                              * 1000000) AS BIGINT)
              END AS nl_u6
  FROM km
)
SELECT CAST(t AS BIGINT) AS tenure_d,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(n_churned AS BIGINT) AS n_churned,
       hazard_u6,
       CAST(sum(nl_u6) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_neg_log_u6,
       exp(-(sum(nl_u6) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           / 1000000.0) AS survival
FROM hz
""",
    doc="Kaplan-Meier churn survival: per tenure DAY, users at risk, "
    "churn events (users whose LAST activity fell that many weeks "
    "after their first — users still active at the corpus horizon are "
    "CENSORED, not churned, the distinction naive churn rates get "
    "wrong), the discrete hazard in exact 1e-6 units, and the KM "
    "survival estimate — the product over days of (1 - hazard) "
    "carried as a SUM of per-day 1e-6-unit rounded logs (the "
    "corpus_unigram_logprob discipline: round each single-op log "
    "once, sum exactly — order-independent), closed by one exp at "
    "the contract edge. Scale shape: one user-domain span agg, a "
    "1-row horizon broadcast, and the KM table lives on the bounded "
    "tenure grid (the oracle's correlated counts are the definitional "
    "spec; the plan computes at-risk as a reversed cumulative sum on "
    "the grid — no per-day rescans).",
)
def rel_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    spans = ev.groupBy("user_id").agg(
        F.expr(f"min(unix_micros(ts)) div {DAY_US}").alias("first_w"),
        F.expr(f"max(unix_micros(ts)) div {DAY_US}").alias("last_w"),
    )
    horizon = ev.agg(
        F.expr(f"max(unix_micros(ts)) div {DAY_US}").alias("w_max")
    )
    obs = spans.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("last_w") < F.col("w_max"),
            F.col("last_w") - F.col("first_w"),
        )
        .otherwise(F.col("w_max") - F.col("first_w"))
        .alias("tenure"),
        F.when(F.col("last_w") < F.col("w_max"), 1).otherwise(0).alias(
            "churned"
        ),
    )
    cells = obs.groupBy("tenure").agg(
        F.count("*").alias("n_here"),
        F.sum("churned").alias("n_churned"),
    )
    # at-risk = users with tenure >= t: reversed cumulative sum over the
    # bounded tenure grid (no per-day rescans of the user table)
    w_rev = (
        Window.orderBy(F.desc("tenure"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    km = cells.withColumn("n_at_risk", F.sum("n_here").over(w_rev))
    hz = km.select(
        F.col("tenure").alias("t"),
        "n_at_risk",
        "n_churned",
        F.expr("CAST((n_churned * 1000000) div n_at_risk AS LONG)").alias(
            "hazard_u6"
        ),
        F.when(
            F.col("n_churned") < F.col("n_at_risk"),
            F.round(
                -F.log(
                    F.lit(1.0)
                    - F.col("n_churned").cast("double") / F.col("n_at_risk")
                )
                * 1e6
            ).cast("long"),
        ).alias("nl_u6"),
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hz.select(
        F.col("t").cast("long").alias("tenure_d"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_churned").cast("long").alias("n_churned"),
        "hazard_u6",
        F.sum("nl_u6").over(w_cum).cast("long").alias("cum_neg_log_u6"),
        F.exp(
            -F.sum("nl_u6").over(w_cum).cast("double") / F.lit(1000000.0)
        ).alias("survival"),
    )


# --- seasonal-naive forecast backtest ---------------------------------------

FC_SEASON_D = 7  # seasonal-naive lag, days


@register(
    "rel_forecast_backtest",
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v_u4
  FROM events GROUP BY 1, 2
),
joined AS (
  SELECT a.event_type, a.day, a.v_u4, f.v_u4 AS fc_u4
  FROM daily a JOIN daily f
    ON f.event_type = a.event_type AND f.day = a.day - {FC_SEASON_D}
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(abs(v_u4 - fc_u4)) // count(*) AS BIGINT) AS mae_u4,
       CAST(sum(abs(v_u4 - fc_u4) * 1000000 // greatest(v_u4, 1))
            // count(*) AS BIGINT) AS mape_u6,
       CAST(max(abs(v_u4 - fc_u4)) AS BIGINT) AS worst_abs_err_u4
FROM joined
GROUP BY event_type
""",
    doc=f"Forecast backtest against the seasonal-naive baseline (predict "
    f"each day = same weekday {FC_SEASON_D} days earlier): per metric "
    "stream, MAE, MAPE, and worst error over the whole backtest "
    "window in exact integer units — the accuracy floor every real "
    "forecaster must beat, and the backtest harness shape (align "
    "actuals with lagged predictions, score exactly) that fancier "
    "models plug into. Per-day percentage errors are individually "
    "integer-divided THEN averaged (order-independent; a float MAPE "
    "accumulation is not). Scale shape: the stream collapses to the "
    "(type, day) grid first; the self-join aligns on (type, day-lag) "
    "within the grid — both sides from one pre-agg, partitioned "
    "alike; scoring is a grid-domain agg.",
)
def rel_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 10000).cast("long"))
        .cast("long")
        .alias("v_u4")
    ).localCheckpoint(eager=True)
    fc = daily.select(
        "event_type",
        (F.col("day") + FC_SEASON_D).alias("day"),
        F.col("v_u4").alias("fc_u4"),
    )
    joined = daily.join(fc, ["event_type", "day"])
    err = F.abs(F.col("v_u4") - F.col("fc_u4"))
    return joined.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr(
            "CAST(sum(abs(v_u4 - fc_u4)) div count(*) AS LONG)"
        ).alias("mae_u4"),
        F.expr(
            "CAST(sum(abs(v_u4 - fc_u4) * 1000000 div greatest(v_u4, 1))"
            " div count(*) AS LONG)"
        ).alias("mape_u6"),
        F.max(err).cast("long").alias("worst_abs_err_u4"),
    )


# --- exact-moment OLS trend line per metric stream --------------------------


@register(
    "rel_ols_trend",
    oracle="""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(round(value * 10000) AS BIGINT))
              // count(*) AS BIGINT) AS y_u4
  FROM events GROUP BY 1, 2
),
rebased AS (
  SELECT event_type,
         day - min(day) OVER (PARTITION BY event_type) AS x,
         y_u4
  FROM daily
),
moments AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y_u4) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y_u4) AS BIGINT) AS sxy
  FROM rebased GROUP BY event_type HAVING count(*) >= 2
)
SELECT event_type, n_days,
       CAST(n_days * sxy - sx * sy AS DOUBLE)
         / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope_u4pd,
       (CAST(sy AS DOUBLE)
        - (CAST(n_days * sxy - sx * sy AS DOUBLE)
           / CAST(n_days * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
         / CAST(n_days AS DOUBLE) AS intercept_u4
FROM moments
""",
    doc="Per-stream OLS trend line (slope + intercept of daily average "
    "value against day index): the drift monitor behind every "
    "'is this metric trending' alert. All four moments (Sx, Sy, Sxx, "
    "Sxy) accumulate as EXACT BIGINTs over the rebased day index and "
    "the integer daily-average (u4 units, bounded — summing raw "
    "daily SUMS instead overflows the cross moment at scale), so the "
    "closed-form slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) is one "
    "deterministic IEEE division of exact integers; the intercept "
    "reuses the identical expression tree on both engines. Scale "
    "shape: the stream collapses to the (type, day) grid in one "
    "partial-agg pass; rebasing is a per-type window over the tiny "
    "grid; moments are a second hash-agg — nothing downstream of the "
    "first agg is corpus-sized.",
)
def rel_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(value * 10000) AS LONG)) div count(*) AS LONG)"
        ).alias("y_u4")
    )
    w_min = Window.partitionBy("event_type")
    rebased = daily.select(
        "event_type",
        (F.col("day") - F.min("day").over(w_min)).alias("x"),
        "y_u4",
    )
    m = (
        rebased.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y_u4").cast("long").alias("sy"),
            F.sum(F.expr("x * x")).cast("long").alias("sxx"),
            F.sum(F.expr("x * y_u4")).cast("long").alias("sxy"),
        )
        .where(F.col("n_days") >= 2)
    )
    num = "CAST(n_days * sxy - sx * sy AS DOUBLE)"
    den = "CAST(n_days * sxx - sx * sx AS DOUBLE)"
    return m.select(
        "event_type",
        "n_days",
        F.expr(f"{num} / {den}").alias("slope_u4pd"),
        F.expr(
            f"(CAST(sy AS DOUBLE) - ({num} / {den}) * CAST(sx AS DOUBLE))"
            " / CAST(n_days AS DOUBLE)"
        ).alias("intercept_u4"),
    )


# --- nearest-rank SLO percentile bands --------------------------------------


@register(
    "rel_latency_slo_bands",
    oracle="""
WITH ranked AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(round(value * 10000) AS BIGINT) AS v_u4,
         row_number() OVER (PARTITION BY event_type, epoch_us(ts) // 86400000000
                            ORDER BY CAST(round(value * 10000) AS BIGINT),
                                     event_id) AS r,
         count(*) OVER (PARTITION BY event_type,
                                     epoch_us(ts) // 86400000000) AS n
  FROM events
)
SELECT event_type, CAST(day AS BIGINT) AS day,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(max(CASE WHEN r <= (50 * n + 99) // 100 THEN v_u4 END)
            AS BIGINT) AS p50_u4,
       CAST(max(CASE WHEN r <= (95 * n + 99) // 100 THEN v_u4 END)
            AS BIGINT) AS p95_u4,
       CAST(max(CASE WHEN r <= (99 * n + 99) // 100 THEN v_u4 END)
            AS BIGINT) AS p99_u4,
       CAST(max(v_u4) AS BIGINT) AS max_u4
FROM ranked
GROUP BY event_type, day
""",
    doc="Daily p50/p95/p99 SLO bands per metric stream using NEAREST-RANK "
    "percentiles (value at rank ceil(q*n), ties broken by event id): "
    "the latency-dashboard contract where the reported percentile must "
    "be an actually-observed value — interpolated percentiles "
    "(rel_percentiles) invent values between samples and float-diverge "
    "across engines; rank selection is exact BIGINT end to end. "
    "Scale shape: one window pass partitioned by the (type, day) grid "
    "cell — partitions are day-sized so the per-cell sort is bounded "
    "and embarrassingly parallel — then one hash-agg per cell; at "
    "100 TB the same plan shards by cell with no global sort.",
)
def rel_latency_slo_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    base = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("CAST(round(value * 10000) AS LONG)").alias("v_u4"),
        "event_id",
    )
    wp = Window.partitionBy("event_type", "day")
    ranked = base.select(
        "event_type",
        "day",
        "v_u4",
        F.row_number().over(wp.orderBy("v_u4", "event_id")).alias("r"),
        F.count("*").over(wp).alias("n"),
    )
    def at_q(q: int) -> F.Column:
        return F.max(
            F.expr(f"CASE WHEN r <= ({q} * n + 99) div 100 THEN v_u4 END")
        ).cast("long")

    return ranked.groupBy("event_type", "day").agg(
        F.max("n").cast("long").alias("n_events"),
        at_q(50).alias("p50_u4"),
        at_q(95).alias("p95_u4"),
        at_q(99).alias("p99_u4"),
        F.max("v_u4").cast("long").alias("max_u4"),
    )


# --- burst detection (trailing-baseline ratio) -------------------------------

@register(
    "rel_burst_detection",
    oracle=f"""
WITH hourly AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 AS hour,
         count(*) AS n
  FROM events
  GROUP BY 1, 2
),
scored AS (
  SELECT event_type, hour, n,
         CAST(coalesce(sum(n) OVER (
           PARTITION BY event_type ORDER BY hour
           RANGE BETWEEN {BURST_BASE_H} PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS base_n
  FROM hourly
)
SELECT event_type, CAST(hour AS BIGINT) AS hour, CAST(n AS BIGINT) AS n, base_n
FROM scored
WHERE base_n > 0 AND n * {BURST_BASE_H} > {BURST_MULT} * base_n
ORDER BY event_type, hour
""",
    doc="Burst detection (Kleinberg-style, integer form): an hour is a "
    f"burst for an event type when its count exceeds {BURST_MULT}x the "
    f"trailing-{BURST_BASE_H}h average — the comparison runs as "
    f"n*{BURST_BASE_H} > {BURST_MULT}*sum(trailing), pure BIGINT, so no "
    "division and no float threshold to diverge between engines. The "
    "RANGE frame is over the integer epoch-hour (not row offsets), so "
    "silent hours count as zero in the baseline rather than stretching "
    "the window backwards — the sparse-series correctness trap of "
    "ROWS-frame baselines. One hash-agg (map-side partials) + one "
    "window sort per event_type; at 100 TB the hourly rollup is "
    "cardinality |types| x |hours| — tiny — so the window never sees "
    "raw events. The monitoring/alerting primitive of the time-series "
    "family; hours with an empty baseline are excluded by contract "
    "(a type's first hour is not a burst).",
)
def rel_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("hour"),
        )
        .groupBy("event_type", "hour")
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rangeBetween(-BURST_BASE_H, -1)
    )
    scored = hourly.select(
        "event_type",
        F.col("hour").cast("long").alias("hour"),
        F.col("n").cast("long").alias("n"),
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias("base_n"),
    )
    return scored.where(
        (F.col("base_n") > 0)
        & (F.col("n") * BURST_BASE_H > BURST_MULT * F.col("base_n"))
    ).orderBy("event_type", "hour")


# --- seasonality strength (hour-of-day profile) ------------------------------


@register(
    "rel_seasonality_strength",
    oracle="""
WITH hod AS (
  SELECT event_type,
         (epoch_us(ts) // 3600000000) % 24 AS h,
         count(*) AS c
  FROM events
  GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(abs(c * 24 - (SELECT sum(c2.c) FROM hod c2
                                WHERE c2.event_type = hod.event_type)))
              AS BIGINT) AS dev_x24
  FROM hod GROUP BY event_type
),
peak AS (
  SELECT event_type, h AS peak_hod, c AS peak_c
  FROM (
    SELECT event_type, h, c,
           row_number() OVER (
             PARTITION BY event_type ORDER BY c DESC, h ASC
           ) AS rn
    FROM hod
  ) WHERE rn = 1
)
SELECT t.event_type,
       t.total,
       t.dev_x24,
       CAST(p.peak_hod AS BIGINT) AS peak_hod,
       CAST(p.peak_c * 1000000 // t.total AS BIGINT) AS peak_share_u6
FROM tot t JOIN peak p USING (event_type)
ORDER BY t.event_type
""",
    doc="Seasonality-strength profile per event type: hour-of-day counts "
    "(pure epoch arithmetic — `(epoch_us div 3600e6) % 24`, never a "
    "session-timezone calendar extract, the r4 cross-engine lesson), "
    "L1 deviation from the uniform profile in x24 integer units "
    "(sum |24*c_h - total|, zero for perfectly flat traffic, "
    "2*total*(24-1)/24 max for a single-hour spike), and the peak hour "
    "with its 1e-6-unit share. All BIGINT, so engine- and partitioning-"
    "exact. Scale shape: one hash-agg to |types| x 24 rows; everything "
    "after is constant-size. The profile DECIDES whether downstream "
    "time-features (hour-of-day embeddings, per-hour mixing caps) are "
    "worth their cost — the measured-knob pattern of "
    "sim_ivf_nprobe_recall applied to time features.",
)
def rel_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hod = (
        ev.select(
            "event_type",
            F.expr("(unix_micros(ts) div 3600000000) % 24").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("c"))
    )
    wt = Window.partitionBy("event_type")
    scored = hod.select(
        "event_type",
        "h",
        "c",
        F.sum("c").over(wt).alias("total"),
        F.row_number()
        .over(wt.orderBy(F.desc("c"), F.asc("h")))
        .alias("rn"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.max("total").cast("long").alias("total"),
            F.sum(F.abs(F.col("c") * 24 - F.col("total")))
            .cast("long")
            .alias("dev_x24"),
            F.max(F.when(F.col("rn") == 1, F.col("h")))
            .cast("long")
            .alias("peak_hod"),
            F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("_peak_c"),
        )
        .select(
            "event_type",
            "total",
            "dev_x24",
            "peak_hod",
            F.expr("CAST(_peak_c * 1000000 div total AS BIGINT)").alias(
                "peak_share_u6"
            ),
        )
        .orderBy("event_type")
    )


# --- duplicate-fire (rapid-repeat) detection ---------------------------------

@register(
    "rel_double_fire_events",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         CAST(round(value * 10000) AS BIGINT) AS v_u4,
         epoch_us(ts) AS t_us,
         event_id,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id
         ) AS prev_us,
         lag(event_id) OVER (
           PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id
         ) AS prev_event,
         lag(CAST(round(value * 10000) AS BIGINT)) OVER (
           PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id
         ) AS prev_v_u4
  FROM events
)
SELECT user_id, event_type,
       prev_event AS first_event, event_id AS dup_event,
       CAST((t_us - prev_us) // 1000 AS BIGINT) AS gap_ms,
       CAST(CASE WHEN v_u4 = prev_v_u4 THEN 1 ELSE 0 END AS BIGINT)
         AS same_value
FROM seq
WHERE prev_us IS NOT NULL
  AND t_us - prev_us <= CAST({DOUBLE_FIRE_S} AS BIGINT) * 1000000
ORDER BY user_id, event_type, dup_event
""",
    doc="Rapid-repeat / double-fire detection: consecutive events from "
    "the same (user, type) landing within "
    f"{DOUBLE_FIRE_S} s — the double-click/retry-without-idempotency-"
    "key signature that inflates metrics and poisons training labels. "
    "Emits (first_event, dup_event, gap_ms, same_value) so the "
    "consumer separates true double-submits (same exact 1e-4-unit "
    "value) from rapid distinct actions. One window over the "
    "(user, type) key — narrow sort key, small partitions even for "
    "power users; (t_us, event_id) total-orders ties, making pair "
    "identity exact on any engine or partitioning. Scale: one shuffle "
    "on the composite key with uniform hash distribution; the CDC/LSN "
    "machinery (stream_cdc_apply) consumes the exclusion list as "
    "delete ops.",
)
def rel_double_fire_events(
    spark: SparkSession, sf_dir: str, gap_s: int = DOUBLE_FIRE_S
) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    base = ev.select(
        "user_id",
        "event_type",
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("v_u4"),
        F.expr("unix_micros(ts)").alias("t_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "t_us", "event_id"
    )
    seq = base.select(
        "user_id",
        "event_type",
        "v_u4",
        "t_us",
        "event_id",
        F.lag("t_us").over(w).alias("prev_us"),
        F.lag("event_id").over(w).alias("prev_event"),
        F.lag("v_u4").over(w).alias("prev_v_u4"),
    )
    return (
        seq.where(
            F.col("prev_us").isNotNull()
            & (F.col("t_us") - F.col("prev_us") <= gap_s * 1_000_000)
        )
        .select(
            "user_id",
            "event_type",
            F.col("prev_event").alias("first_event"),
            F.col("event_id").alias("dup_event"),
            F.expr("CAST((t_us - prev_us) div 1000 AS BIGINT)").alias(
                "gap_ms"
            ),
            F.when(F.col("v_u4") == F.col("prev_v_u4"), 1)
            .otherwise(0)
            .cast("long")
            .alias("same_value"),
        )
        .orderBy("user_id", "event_type", "dup_event")
    )


# --- interval overlap join (binned, non-quadratic) ---------------------------

OVL_VIEW_S = 43200  # each view opens a 12 h attention interval
OVL_CLICK_S = 14400  # each click opens a 4 h action interval
OVL_CHUNK_US = OVL_VIEW_S * 1_000_000  # bin width >= max duration => fanout <= 2
OVL_TOPK = 100


@register(
    "rel_interval_overlap_join",
    oracle=f"""
WITH v AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + CAST({OVL_VIEW_S} AS BIGINT) * 1000000 AS e
  FROM events WHERE event_type = 'view'
),
c AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + CAST({OVL_CLICK_S} AS BIGINT) * 1000000 AS e
  FROM events WHERE event_type = 'click'
),
pairs AS (
  SELECT v.user_id,
         (least(v.e, c.e) - greatest(v.s, c.s)) // 1000 AS ovl_ms
  FROM v JOIN c ON v.user_id = c.user_id
  WHERE v.s < c.e AND c.s < v.e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(ovl_ms) AS BIGINT) AS overlap_ms,
       CAST(max(ovl_ms) AS BIGINT) AS max_overlap_ms
FROM pairs
GROUP BY user_id
ORDER BY n_pairs DESC, overlap_ms DESC, user_id
LIMIT {OVL_TOPK}
""",
    doc="Interval OVERLAP join (the temporal-join primitive behind "
    "ad-attribution, on-call/incident overlap, and session-vs-campaign "
    "analysis): every view opens a 12 h interval, every click a 4 h "
    "interval, and the join finds all (view, click) interval pairs per "
    "user that truly overlap, reporting pair count and exact overlap "
    "milliseconds per user. The ORACLE is the definitional quadratic "
    "per-user theta-join; the Spark plan is the BINNED rewrite that "
    "survives 100 TB: time is cut into chunks of width >= the longer "
    "duration, each interval fans out to the <= 2 chunks it touches "
    "(bounded explode, linear), the join runs as an EQUI-join on "
    "(user_id, chunk) — hash-partitionable, no range-join blowup — "
    "and each overlapping pair is counted EXACTLY once by the "
    "chunk-of-overlap-start rule (the chunk containing "
    "greatest(a.s, b.s) claims the pair), so no post-join dedup "
    "and no double counting across chunks. All arithmetic is integer "
    "microseconds. Scale shape: one bounded fan-out projection per "
    "side, one equi-join shuffle on a uniform composite key, one "
    "user-keyed agg with map-side partials, TakeOrdered top-"
    f"{OVL_TOPK}.",
)
def rel_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)

    def intervals(etype: str, dur_s: int) -> DataFrame:
        base = ev.where(F.col("event_type") == etype).select(
            "user_id",
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + F.lit(dur_s * 1_000_000).cast("long")).alias(
                "e"
            ),
        )
        # fan out to every chunk the interval touches: floor(s/W) ..
        # floor((e-1)/W); W >= duration bounds the explode at 2 rows
        return base.select(
            "user_id",
            "s",
            "e",
            F.explode(
                F.sequence(
                    F.expr(f"s div {OVL_CHUNK_US}"),
                    F.expr(f"(e - 1) div {OVL_CHUNK_US}"),
                )
            ).alias("chunk"),
        )

    v = intervals("view", OVL_VIEW_S)
    c = intervals("click", OVL_CLICK_S)
    pairs = (
        v.alias("v")
        .join(
            c.alias("c"),
            on=[
                F.col("v.user_id") == F.col("c.user_id"),
                F.col("v.chunk") == F.col("c.chunk"),
                F.col("v.s") < F.col("c.e"),
                F.col("c.s") < F.col("v.e"),
                # count the pair only in the chunk where the overlap
                # starts — exactly-once across chunks, no dedup pass
                F.expr(
                    f"greatest(v.s, c.s) div {OVL_CHUNK_US}"
                )
                == F.col("v.chunk"),
            ],
        )
        .select(
            F.col("v.user_id").alias("user_id"),
            F.expr(
                "CAST((least(v.e, c.e) - greatest(v.s, c.s)) div 1000"
                " AS BIGINT)"
            ).alias("ovl_ms"),
        )
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("ovl_ms").cast("long").alias("overlap_ms"),
            F.max("ovl_ms").cast("long").alias("max_overlap_ms"),
        )
        .orderBy(F.desc("n_pairs"), F.desc("overlap_ms"), F.asc("user_id"))
        .limit(OVL_TOPK)
    )


# --- sliding-window rate-limit audit ------------------------------------------

@register(
    "rel_rate_limit_audit",
    oracle=f"""
WITH seq AS (
  SELECT event_type, user_id,
         count(*) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN {RATE_WINDOW_S * 1_000_000 - 1} PRECEDING
                     AND CURRENT ROW
         ) AS win_n
  FROM events
  WHERE ts IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (win_n > {RATE_LIMIT_K}) AS BIGINT)
         AS n_throttled,
       CAST(count(DISTINCT user_id) FILTER (win_n > {RATE_LIMIT_K})
         AS BIGINT) AS n_users_throttled,
       CAST(max(win_n) AS BIGINT) AS peak_window_count
FROM seq
GROUP BY event_type
ORDER BY event_type
""",
    doc="Sliding-window rate-limit audit (the API-gateway / abuse-"
    f"control policy: at most {RATE_LIMIT_K} events per user per "
    f"trailing {RATE_WINDOW_S // 3600} h): replays the whole event "
    "log against the limiter and reports, per event type, how many "
    "events WOULD have been rejected, how many users ever hit the "
    "limit, and the peak observed window count — the capacity-"
    "planning readout before enabling enforcement. Sliding-window "
    "counting (every arrival counts, as in nginx/envoy "
    "rate limiting) is counted on integer microseconds with all "
    "same-instant arrivals as peers, so the result is partitioning- "
    "and engine-exact with no sequential token-bucket state needed. "
    "Scale shape — deliberately NOT the definitional bounded RANGE "
    "frame: Spark's SlidingWindowFunctionFrame re-aggregates the "
    "whole in-frame buffer for every output row once rows start "
    "leaving the frame, so a trailing-count window is O(rows x "
    "in-window rows) on a hot key (a 2.5M-event user on the skew5m "
    "fixture pinned an executor core for >30 min — jstack receipt in "
    "PERF.md r8; and a hot key is this query's OPERATING REGIME: "
    "rate limiters exist because of abusive keys). Instead the count "
    "is a difference stream: +n at each distinct (user, instant), -n "
    "at instant + W, win_n = running UNBOUNDED PRECEDING sum read "
    "out at instant positions — the incremental frame Spark "
    "evaluates in O(1) per row, keeping every operator linear and "
    "one sort per user partition, then the same tiny per-type "
    "rollup with map-side partials. Integer counts, so the running "
    "+-n sum is exactly the per-frame re-aggregation's value. "
    "Null-ts contract: a RANGE frame would treat null-key rows as "
    "one peer group while the difference stream cancels them "
    "(null + W = null), so both sides EXPLICITLY exclude null "
    "timestamps (an undated event is meaningless to a trailing-"
    "window limiter) — the oracle equivalence is unconditional, "
    "not fixture-dependent (r8 ADVICE).",
)
def rel_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    w_us = RATE_WINDOW_S * 1_000_000
    # per (user, instant, type) event counts — readout granularity
    te = (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("t_us"),
            "event_type",
        )
        .groupBy("user_id", "t_us", "event_type")
        .agg(F.count("*").alias("n_te"))
    )
    # per (user, instant) totals — the window-count contributions
    inst = te.groupBy("user_id", "t_us").agg(
        F.sum("n_te").cast("long").alias("n")
    )
    null_ty = F.lit(None).cast("string")
    null_n = F.lit(None).cast("long")
    # difference stream, ordered by (tm, pri) per user:
    #   pri 0 — expiry: an arrival at s leaves the trailing window
    #           (t - W, t] at decision time s + W, BEFORE that
    #           instant's own arrivals are counted;
    #   pri 1 — arrival: +n at the instant;
    #   pri 2 — readout: zero-contribution row per (instant, type)
    #           observing the running sum AFTER this instant's adds.
    diff = (
        inst.select(
            "user_id",
            (F.col("t_us") + w_us).alias("tm"),
            F.lit(0).alias("pri"),
            (-F.col("n")).alias("contrib"),
            null_ty.alias("event_type"),
            null_n.alias("n_te"),
        )
        .unionByName(
            inst.select(
                "user_id",
                F.col("t_us").alias("tm"),
                F.lit(1).alias("pri"),
                F.col("n").alias("contrib"),
                null_ty.alias("event_type"),
                null_n.alias("n_te"),
            )
        )
        .unionByName(
            te.select(
                "user_id",
                F.col("t_us").alias("tm"),
                F.lit(2).alias("pri"),
                F.lit(0).cast("long").alias("contrib"),
                "event_type",
                F.col("n_te").cast("long").alias("n_te"),
            )
        )
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("tm", "pri")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = (
        diff.select(
            "user_id",
            "event_type",
            "n_te",
            "pri",
            F.sum("contrib").over(wrun).alias("win_n"),
        )
        .where(F.col("pri") == 2)
    )
    throttled = F.col("win_n") > RATE_LIMIT_K
    return (
        seq.groupBy("event_type")
        .agg(
            F.sum("n_te").cast("long").alias("n_events"),
            F.sum(F.when(throttled, F.col("n_te")).otherwise(0))
            .cast("long")
            .alias("n_throttled"),
            F.countDistinct(
                F.when(throttled, F.col("user_id"))
            ).alias("n_users_throttled"),
            F.max("win_n").cast("long").alias("peak_window_count"),
        )
        .orderBy("event_type")
    )


# --- rolling exact median (robust smoothing) ----------------------------------

MED_FRAME = 7  # trailing 7 daily points


@register(
    "rel_rolling_median",
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // {DAY_US} AS day,
         CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
           AS rev_u4
  FROM events
  GROUP BY 1, 2
)
SELECT event_type,
       CAST(day AS BIGINT) AS day,
       rev_u4,
       CAST(count(*) OVER w AS BIGINT) AS n_frame,
       CAST(round(quantile_cont(rev_u4, 0.5) OVER w * 2) AS BIGINT)
         AS med2x_u4
FROM daily
WINDOW w AS (
  PARTITION BY event_type ORDER BY day
  ROWS BETWEEN {MED_FRAME - 1} PRECEDING AND CURRENT ROW
)
ORDER BY event_type, day
""",
    doc=f"Rolling EXACT median over the trailing {MED_FRAME} daily "
    "revenue points per event type — the robust smoother dashboards "
    "use where one outlier day would drag an EWMA or moving average "
    "(rel_ewma_smoothing's L2 twin). Exactness across engines: daily "
    "revenue is an exact 1e-4 integer; the interpolated median of "
    "integers is either an integer or an exact .5 — both binary-"
    "representable — so DOUBLING it (med2x_u4) returns to exact "
    "BIGINT with no float round-trip (Spark percentile == DuckDB "
    "quantile_cont on the integer grid). Scale shape: the corpus-"
    "sized pass is one (type, day) hash-agg with map-side partials; "
    "the ROWS-frame median then runs on the tiny rollup domain — "
    "|types| x |days| — so the O(frame log frame) per-row cost never "
    "touches raw events.",
)
def rel_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.expr(f"unix_micros(ts) div {DAY_US}").alias("day"),
            F.expr("CAST(round(value * 10000) AS BIGINT)").alias("v_u4"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v_u4").cast("long").alias("rev_u4"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(MED_FRAME - 1), 0)
    )
    return daily.select(
        "event_type",
        "day",
        "rev_u4",
        F.count("*").over(w).cast("long").alias("n_frame"),
        F.round(F.expr("percentile(rev_u4, 0.5)").over(w) * 2)
        .cast("long")
        .alias("med2x_u4"),
    ).orderBy("event_type", "day")


# --- queueing delay via the Lindley running-min identity ------------------------

@register(
    "rel_queue_wait_lindley",
    oracle=f"""
WITH jobs AS (
  SELECT event_type,
         epoch_us(ts) AS a_us,
         CAST(round(value * 10000) AS BIGINT) * {Q_SVC_PER_U4} AS s_us,
         event_id
  FROM events
),
seq AS (
  SELECT event_type, s_us,
         coalesce(sum(s_us) OVER (
           PARTITION BY event_type ORDER BY a_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) - a_us AS d_n,
         a_us, event_id
  FROM jobs
),
waits AS (
  SELECT event_type,
         greatest(d_n - coalesce(min(d_n) OVER (
           PARTITION BY event_type ORDER BY a_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), d_n), 0) AS w_us
  FROM seq
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_jobs,
       CAST(count(*) FILTER (w_us > 0) AS BIGINT) AS n_delayed,
       CAST(max(w_us) // 1000 AS BIGINT) AS max_wait_ms,
       CAST((2 * sum(w_us // 1000) + count(*)) // (2 * count(*))
         AS BIGINT) AS avg_wait_ms
FROM waits
GROUP BY event_type
ORDER BY event_type
""",
    doc="Single-server FIFO queueing delay per event type (each event "
    "is a job: arrival = its timestamp, service = value-proportional "
    f"µs at {Q_SVC_PER_U4} µs per 1e-4 unit), computed WITHOUT the "
    "sequential Lindley recursion W(n+1) = max(0, W(n) + S(n) - dA): "
    "unrolling gives W(n) = max(0, D(n) - min(k<n) D(k)) with "
    "D(n) = sum(S(1..n-1)) - A(n) — ONE running sum and ONE running "
    "min over the same (type, arrival) window. The prefix-extreme "
    "rewrite family (waterfall, gaps&islands) applied to queueing "
    "theory, and the reason this computes on a cluster at all: the "
    "recursion is inherently serial, the prefix form is a window "
    "scan. All integer microseconds; (a_us, event_id) total-orders "
    "ties so FIFO order is engine-exact; the first job's empty "
    "min-frame coalesces to its own D (wait 0) identically on both "
    "engines. Output: the capacity-planning readout (jobs, delayed "
    "count, max/avg wait in ms, integer half-up mean) behind SLO "
    "sizing of ingest workers. Overflow headroom: the service prefix "
    "sum stays under int64 to ~1.8e10 jobs x 500 s services — "
    "partition the queue by (server, day) long before that, as real "
    "ingest does.",
)
def rel_queue_wait_lindley(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    jobs = ev.select(
        "event_type",
        F.unix_micros("ts").alias("a_us"),
        (
            F.expr("CAST(round(value * 10000) AS BIGINT)")
            * Q_SVC_PER_U4
        ).alias("s_us"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("a_us", "event_id")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    seq = jobs.select(
        "event_type",
        "a_us",
        "event_id",
        (
            F.coalesce(F.sum("s_us").over(wp), F.lit(0)) - F.col("a_us")
        ).alias("d_n"),
    )
    waits = seq.select(
        "event_type",
        F.greatest(
            F.col("d_n")
            - F.coalesce(F.min("d_n").over(wp), F.col("d_n")),
            F.lit(0),
        ).alias("w_us"),
    )
    return (
        waits.groupBy("event_type")
        .agg(
            F.count("*").alias("n_jobs"),
            F.sum(F.when(F.col("w_us") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_delayed"),
            F.expr("CAST(max(w_us) div 1000 AS BIGINT)").alias("max_wait_ms"),
            F.expr(
                "CAST((2 * sum(w_us div 1000) + count(*)) div (2 * count(*))"
                " AS BIGINT)"
            ).alias("avg_wait_ms"),
        )
        .orderBy("event_type")
    )


@register(
    "rel_queue_wait_lindley_sharded",
    oracle=f"""
WITH jobs AS (
  SELECT event_type,
         epoch_us(ts) AS a_us,
         CAST(round(value * 10000) AS BIGINT) * {Q_SVC_PER_U4} AS s_us,
         event_id
  FROM events
),
seq AS (
  SELECT event_type, s_us,
         coalesce(sum(s_us) OVER (
           PARTITION BY event_type ORDER BY a_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) - a_us AS d_n,
         a_us, event_id
  FROM jobs
),
waits AS (
  SELECT event_type,
         greatest(d_n - coalesce(min(d_n) OVER (
           PARTITION BY event_type ORDER BY a_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), d_n), 0) AS w_us
  FROM seq
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_jobs,
       CAST(count(*) FILTER (w_us > 0) AS BIGINT) AS n_delayed,
       CAST(max(w_us) // 1000 AS BIGINT) AS max_wait_ms,
       CAST((2 * sum(w_us // 1000) + count(*)) // (2 * count(*))
         AS BIGINT) AS avg_wait_ms
FROM waits
GROUP BY event_type
ORDER BY event_type
""",
    doc="rel_queue_wait_lindley on the PRODUCTION key — the same Lindley "
    "prefix-extreme identity, sharded by (event_type, day) with a "
    "chunk-carry combine, so window parallelism is |types| x |days| "
    "instead of |types| (the narrow plan's 5 key-bounded partitions, "
    "its 3.52x sf5 weakness). Both D(n) = prefix-service - A(n) and "
    "min(k<n) D(k) are prefix-ASSOCIATIVE, so each day-chunk computes "
    "its local prefix sum/min in a wide window, a tiny chunk-domain "
    "table (|types| x |days| rows) running-sums the per-chunk service "
    "totals (c_prev) and running-mins the per-chunk global-D minima "
    "(m_prev), and a broadcast join stitches the carries back: "
    "global D = c_prev + local_d, prior-min = least(m_prev, c_prev + "
    "local running min) — exactly the chunked-carry idiom "
    "rel_concurrency_sweep documents for its 100 TB posture. The "
    "oracle runs the DEFINITIONAL single-window Lindley, so the "
    "driver gate proves the sharded carries reproduce the serial "
    "queue bit-for-bit; tests/test_plans.py additionally pins this "
    "plan == the narrow plan. All arithmetic stays the narrow plan's "
    "exact integer microseconds.",
)
def rel_queue_wait_lindley_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    jobs = ev.select(
        "event_type",
        F.unix_micros("ts").alias("a_us"),
        (
            F.expr("CAST(round(value * 10000) AS BIGINT)")
            * Q_SVC_PER_U4
        ).alias("s_us"),
        "event_id",
    ).withColumn("day", F.expr(f"a_us div {DAY_US}"))

    # Stage 1 — local prefix ops inside each (type, day) shard.
    wl = Window.partitionBy("event_type", "day").orderBy("a_us", "event_id")
    wlp = wl.rowsBetween(Window.unboundedPreceding, -1)
    local = jobs.select(
        "event_type",
        "day",
        "a_us",
        "event_id",
        "s_us",
        F.coalesce(F.sum("s_us").over(wlp), F.lit(0)).alias("p_excl"),
    ).withColumn("local_d", F.col("p_excl") - F.col("a_us"))
    local = local.withColumn("m_excl", F.min("local_d").over(wlp))

    # Stage 2 — chunk-domain carries (|types| x |days| rows, broadcastable).
    wc = Window.partitionBy("event_type").orderBy("day")
    wcp = wc.rowsBetween(Window.unboundedPreceding, -1)
    chunks = (
        local.groupBy("event_type", "day")
        .agg(
            F.sum("s_us").alias("c_sum"),
            F.min("local_d").alias("c_min_local"),
        )
        .select(
            "event_type",
            "day",
            F.coalesce(F.sum("c_sum").over(wcp), F.lit(0)).alias("c_prev"),
            "c_min_local",
        )
        .withColumn("g_chunk_min", F.col("c_prev") + F.col("c_min_local"))
        .withColumn("m_prev", F.min("g_chunk_min").over(wcp))
        .select("event_type", "day", "c_prev", "m_prev")
    )

    # Stage 3 — stitch: global D and the global prior-min per row.
    # F.least skips NULLs (first chunk / first row in chunk); a job with
    # no predecessor anywhere coalesces to its own D (wait 0), as the
    # narrow plan does.
    stitched = local.join(F.broadcast(chunks), ["event_type", "day"])
    d_g = F.col("c_prev") + F.col("local_d")
    prior_min = F.least(
        F.col("m_prev"), F.col("c_prev") + F.col("m_excl")
    )
    waits = stitched.select(
        "event_type",
        F.greatest(d_g - F.coalesce(prior_min, d_g), F.lit(0)).alias("w_us"),
    )
    return (
        waits.groupBy("event_type")
        .agg(
            F.count("*").alias("n_jobs"),
            F.sum(F.when(F.col("w_us") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_delayed"),
            F.expr("CAST(max(w_us) div 1000 AS BIGINT)").alias("max_wait_ms"),
            F.expr(
                "CAST((2 * sum(w_us div 1000) + count(*)) div (2 * count(*))"
                " AS BIGINT)"
            ).alias("avg_wait_ms"),
        )
        .orderBy("event_type")
    )


# --- interval coalescing (merge overlapping intervals) ----------------------


@register(
    "rel_interval_coalesce",
    oracle=f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) AS a_us,
         epoch_us(ts) + CAST(round(value * 10000) AS BIGINT) * {Q_SVC_PER_U4}
           AS e_us,
         event_id
  FROM events
),
flagged AS (
  SELECT user_id, a_us, e_us,
         CASE WHEN a_us <= coalesce(max(e_us) OVER (
                PARTITION BY user_id ORDER BY a_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ), -1) THEN 0 ELSE 1 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, a_us, e_us,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY a_us, e_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island_id
  FROM flagged
),
merged AS (
  SELECT user_id, island_id,
         max(e_us) - min(a_us) AS covered_us
  FROM islands GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(covered_us) AS BIGINT) AS covered_us,
       CAST(max(covered_us) AS BIGINT) AS longest_us
FROM merged
GROUP BY user_id
ORDER BY user_id
""",
    doc="Interval coalescing (merge overlapping intervals) per user: each "
    "event opens a service interval [ts, ts + value-proportional µs) "
    "(the Lindley job model), overlapping-or-touching intervals merge "
    "into islands, and the readout is islands / total covered time / "
    "longest island per user — the time-coverage dedup behind billable-"
    "hours, uptime, and session-coverage metrics, where summing raw "
    "durations double-counts overlaps. The classic sweep: a running "
    "max(end) over prior rows flags island starts (start > every prior "
    "end), a running sum of flags numbers islands. All integer µs; "
    "(a_us, event_id) total-orders the sweep so island ids are engine-"
    "exact. The r7 plan collapses the classic three-pass form (flag "
    "window -> island-id window -> island groupBy -> user groupBy) to "
    "ONE window pass + ONE user agg via closed-form identities: when a "
    "flag row fires, the island it CLOSES has end exactly m_excl (the "
    "open island always owns the running prefix-max of ends, because a "
    "new island's end necessarily exceeds every prior end) and start "
    "prev_flag_a (the latest prior flagged a_us — a prefix max, since "
    "starts are nondecreasing). So each closing row knows its closed "
    "island's LENGTH m_excl - prev_flag_a, and covered = sum(closed "
    "lengths) + (max(e) - last start) for the tail, n_islands = "
    "sum(flag), longest = max of the same lengths — every term a "
    "plain conditional aggregate, no island-domain groupBy of "
    "corpus-sized data. Summing lengths (differences), never "
    "epoch-scale absolutes, is load-bearing: sum(starts) overflows "
    "int64 once one user exceeds ~5400 islands. Scale "
    "shape: ONE shuffle on user_id, two stacked Window nodes sharing "
    "the exchange and sort, then a user-domain hash agg on the same "
    "partitioning; per-user state is the user's own event count. At "
    "100 TB a pathological single user bounds the sort run — "
    "rel_interval_coalesce_sharded is the skew-proof range-sharded "
    "form of the same identities.",
)
def rel_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("a_us"),
        (
            F.unix_micros("ts")
            + F.expr("CAST(round(value * 10000) AS BIGINT)") * Q_SVC_PER_U4
        ).alias("e_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("a_us", "event_id")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    flagged = iv.select(
        "user_id",
        "a_us",
        "e_us",
        "event_id",
        F.max("e_us").over(wp).alias("m_excl"),
    ).withColumn(
        "flag",
        F.when(
            F.col("a_us") <= F.coalesce("m_excl", F.lit(-1)), F.lit(0)
        ).otherwise(F.lit(1)),
    )
    # second Window node, same partition/order spec: reuses the exchange
    # AND the sort (the planner stacks it on the same sorted run)
    starts = flagged.withColumn(
        "prev_flag_a",
        F.max(F.when(F.col("flag") == 1, F.col("a_us"))).over(wp),
    )
    is_start = F.col("flag") == 1
    closes = is_start & F.col("m_excl").isNotNull()
    return (
        starts.groupBy("user_id")
        .agg(
            F.sum("flag").cast("long").alias("n_islands"),
            # sum LENGTHS (m_excl - prev_flag_a per closed island), never
            # epoch-scale absolutes: sum(starts) overflows int64 once a
            # user exceeds ~5400 islands (epoch-µs ~1.7e15 each) — the
            # hot-user test caught exactly that
            (
                F.coalesce(
                    F.sum(F.when(closes, F.col("m_excl") - F.col("prev_flag_a"))),
                    F.lit(0),
                )
                + F.max("e_us")
                - F.max(F.when(is_start, F.col("a_us")))
            )
            .cast("long")
            .alias("covered_us"),
            F.greatest(
                F.max(F.when(closes, F.col("m_excl") - F.col("prev_flag_a"))),
                F.max("e_us") - F.max(F.when(is_start, F.col("a_us"))),
            )
            .cast("long")
            .alias("longest_us"),
        )
        # The final global sort's range sampling re-executes its child;
        # without a shuffle boundary here that child is the whole
        # sort+window+agg chain (the agg reuses the window's
        # partitioning), doubling the query (1.80 -> 1.52 s at sf5).
        # A cheap exchange of the compact user-domain result bounds the
        # sample's recompute to one small shuffle read.
        .repartition("user_id")
        .orderBy("user_id")
    )


# --- time-decayed engagement score (exact dyadic half-life) -----------------

DECAY_HL_US = 7 * DAY_US  # half-life: one week
DECAY_K = 20  # ages beyond K half-lives contribute 0 weight
DECAY_TOPK = 100


@register(
    "rel_decayed_engagement",
    oracle=f"""
WITH jobs AS (
  SELECT user_id, epoch_us(ts) AS a_us,
         CAST(round(value * 10000) AS BIGINT) AS v_u4
  FROM events
),
ref AS (SELECT max(a_us) AS t_ref FROM jobs),
weighted AS (
  SELECT user_id,
         v_u4 * (CAST(1 AS BIGINT) << ({DECAY_K} - CAST(least(
             {DECAY_K}, (t_ref - a_us) // {DECAY_HL_US}) AS INTEGER)))
           AS num
  FROM jobs, ref
)
SELECT user_id,
       CAST(sum(num) AS BIGINT) AS score_num,
       CAST(sum(num) // (CAST(1 AS BIGINT) << {DECAY_K}) AS BIGINT)
         AS score_u4
FROM weighted
GROUP BY user_id
ORDER BY score_num DESC, user_id
LIMIT {DECAY_TOPK}
""",
    doc="Time-decayed engagement score per user with a one-week half-life "
    "— the recency-weighted ranking behind 'active user' leaderboards "
    "and churn-risk ordering, computed with ZERO float accumulation: "
    "ages bucket into whole half-lives k (integer µs division against "
    "the corpus max timestamp, a 1-row broadcast), the weight is the "
    f"exact dyadic 2^({DECAY_K}-k) (ages past {DECAY_K} half-lives "
    "contribute 0), so the score numerator is a pure BIGINT sum — "
    "order-independent, bit-identical on any engine or partitioning, "
    "the rel_ewma_smoothing discipline applied to the decayed-counter "
    "serving pattern. Top-100 by (numerator, user) is fully "
    "deterministic. Scale shape: one scalar broadcast, one user-keyed "
    "hash-agg with map-side partials, one TakeOrdered — no window, no "
    "sort of the corpus. Overflow headroom: |v_u4| <= 1e7 x 2^20 x "
    "events/user — int64-safe to ~8e5 events per user; beyond that "
    "split the sum by age bucket (the weight is constant within one, "
    "so partials stay exact).",
)
def rel_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    jobs = ev.select(
        "user_id",
        F.unix_micros("ts").alias("a_us"),
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("v_u4"),
    )
    ref = jobs.agg(F.max("a_us").alias("t_ref"))
    k = F.least(
        F.lit(DECAY_K),
        F.expr(f"(t_ref - a_us) div {DECAY_HL_US}"),
    ).cast("int")
    num = F.col("v_u4") * F.expr(f"shiftleft(CAST(1 AS BIGINT), {DECAY_K} - _k)")
    return (
        jobs.join(F.broadcast(ref))
        .withColumn("_k", k)
        .withColumn("num", num)
        .groupBy("user_id")
        .agg(F.sum("num").cast("long").alias("score_num"))
        .select(
            "user_id",
            "score_num",
            F.expr(f"CAST(score_num div shiftleft(CAST(1 AS BIGINT), {DECAY_K}) AS BIGINT)").alias(
                "score_u4"
            ),
        )
        .orderBy(F.desc("score_num"), "user_id")
        .limit(DECAY_TOPK)
    )


@register(
    "rel_interval_coalesce_sharded",
    oracle=f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) AS a_us,
         epoch_us(ts) + CAST(round(value * 10000) AS BIGINT) * {Q_SVC_PER_U4}
           AS e_us,
         event_id
  FROM events
),
flagged AS (
  SELECT user_id, a_us, e_us,
         CASE WHEN a_us <= coalesce(max(e_us) OVER (
                PARTITION BY user_id ORDER BY a_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ), -1) THEN 0 ELSE 1 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, a_us, e_us,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY a_us, e_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island_id
  FROM flagged
),
merged AS (
  SELECT user_id, island_id,
         max(e_us) - min(a_us) AS covered_us
  FROM islands GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(covered_us) AS BIGINT) AS covered_us,
       CAST(max(covered_us) AS BIGINT) AS longest_us
FROM merged
GROUP BY user_id
ORDER BY user_id
""",
    doc="rel_interval_coalesce in the SKEW-PROOF range-sharded form — "
    "the plan that survives a single pathological user owning an "
    "unbounded share of the corpus. The r6 (user, day) chunk-carry "
    "design was measured into retirement this round: on the events "
    "table the (user, day) domain is ~40% of the ROW count (~2.5 "
    "events per chunk), so its 'tiny' carry tables were 2M-row "
    "broadcasts — an anti-scale plan. The r7 shape: "
    "repartitionByRange(N, user, a_us, event_id) slices the corpus "
    "into N contiguous runs (a user's rows occupy consecutive pids, "
    "times increasing across them), one (pid, user) window pass "
    "computes the local sweep (m_excl, flag, island-start prefix), "
    "and one localCheckpoint pins the pid assignment and the sorted "
    "partitioning for both consumers. Users wholly inside one pid — "
    "all but at most N-1 of them, at ANY corpus size — finish with "
    "the narrow plan's closed-form aggregate identities on their "
    "chunk stats alone. Only boundary-CROSSING users need stitching, "
    "and everything stitched is O(N): their carry table (m_prev = "
    "carried island end = running max of chunk end-maxima; s_prev = "
    "carried island start = running max of per-chunk last GLOBAL "
    "island starts) broadcasts at <= 2N rows, and the pass-B window "
    "re-reads the checkpoint through a broadcast semi-filter, no "
    "row-domain shuffle. Absorption is exact by the prefix argument: "
    "a local flag row is a global island start iff its a_us exceeds "
    "m_prev (the carried prefix-max of ends, which always belongs to "
    "the open island). The oracle is the DEFINITIONAL single-window "
    "sweep, so the driver gate proves the decomposition bit-for-bit "
    "at four scales; tests/test_plans.py pins sharded == narrow and "
    "a synthetic hot-user test pins the crossing path. All integer "
    "µs.",
)
def rel_interval_coalesce_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("a_us"),
        (
            F.unix_micros("ts")
            + F.expr("CAST(round(value * 10000) AS BIGINT)") * Q_SVC_PER_U4
        ).alias("e_us"),
        "event_id",
    )
    n_parts = max(spark.sparkContext.defaultParallelism, 2)

    # Stage 1 — range-slice the corpus; pid is the shard key. The ONE
    # corpus-sized window pass computes the local sweep per (pid, user):
    # m_excl (prefix max of ends), the flag, and the island-start
    # prefixes the closed-form identities need. localCheckpoint pins
    # the sampled pid assignment and preserves partitioning + ordering
    # for every consumer below.
    base = iv.repartitionByRange(n_parts, "user_id", "a_us", "event_id").withColumn(
        "pid", F.spark_partition_id()
    )
    wl = Window.partitionBy("pid", "user_id").orderBy("a_us", "event_id")
    wlp = wl.rowsBetween(Window.unboundedPreceding, -1)
    rows = (
        base.select(
            "pid",
            "user_id",
            "a_us",
            "e_us",
            "event_id",
            F.max("e_us").over(wlp).alias("m_excl"),
        )
        .withColumn(
            "flag",
            F.when(
                F.col("a_us") <= F.coalesce("m_excl", F.lit(-1)), F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "pfa", F.max(F.when(F.col("flag") == 1, F.col("a_us"))).over(wlp)
        )
        .localCheckpoint()
    )

    # Stage 2 — per-(pid, user) chunk stats (no exchange: the checkpoint
    # kept the hash(pid, user) partitioning).
    is_start = F.col("flag") == 1
    closes = is_start & F.col("m_excl").isNotNull()
    # lengths (differences), never epoch-scale sums: see the narrow
    # plan's int64-headroom note
    chunk = rows.groupBy("pid", "user_id").agg(
        F.max("e_us").alias("c_max"),
        F.sum("flag").alias("c_n"),
        F.sum(F.when(closes, F.col("m_excl") - F.col("pfa"))).alias("c_sum_len"),
        F.max(F.when(closes, F.col("m_excl") - F.col("pfa"))).alias("c_maxlen"),
        F.max(F.when(is_start, F.col("a_us"))).alias("c_last_s"),
    )
    wcu = Window.partitionBy("user_id")
    chunk = chunk.withColumn("n_chunks", F.count("*").over(wcu))

    # Stage 3 — single-chunk users (all but <= N-1): the chunk IS the
    # user; the narrow plan's closed-form identities finish them here.
    singles = chunk.where(F.col("n_chunks") == 1).select(
        "user_id",
        F.col("c_n").cast("long").alias("n_islands"),
        (F.coalesce("c_sum_len", F.lit(0)) + F.col("c_max") - F.col("c_last_s"))
        .cast("long")
        .alias("covered_us"),
        F.greatest("c_maxlen", F.col("c_max") - F.col("c_last_s"))
        .cast("long")
        .alias("longest_us"),
    )

    # Stage 4 — carries for the <= N-1 crossing users (table <= 2N rows
    # at ANY scale): m_prev = carried island end, s_prev = its start.
    wcp = Window.partitionBy("user_id").orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cross = (
        chunk.where(F.col("n_chunks") > 1)
        .withColumn("m_prev", F.max("c_max").over(wcp))
        .withColumn(
            "g_last_s",
            F.when(
                F.col("c_last_s") > F.coalesce("m_prev", F.lit(-1)),
                F.col("c_last_s"),
            ),
        )
        .withColumn("s_prev", F.max("g_last_s").over(wcp))
    )
    carr = cross.select("pid", "user_id", "m_prev", "s_prev")

    # Stage 5 — pass B: re-read the checkpoint through a broadcast
    # filter-join (crossing rows only), resolve GLOBAL flags against
    # m_prev, and fold the same identities per chunk. gm = the global
    # prefix max of ends; pgfa = the closed island's start.
    rowsB = rows.join(F.broadcast(carr), ["pid", "user_id"])
    gflag = is_start & (F.col("a_us") > F.coalesce("m_prev", F.lit(-1)))
    gcloses = gflag & (F.col("m_excl").isNotNull() | F.col("m_prev").isNotNull())
    gm = F.greatest("m_prev", "m_excl")
    wlb = (
        Window.partitionBy("pid", "user_id")
        .orderBy("a_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rowsB = rowsB.withColumn(
        "l_pgfa", F.max(F.when(gflag, F.col("a_us"))).over(wlb)
    )
    pgfa = F.greatest("s_prev", "l_pgfa")
    chb = rowsB.groupBy("pid", "user_id").agg(
        F.sum(F.when(gflag, 1).otherwise(0)).alias("g_n"),
        F.sum(F.when(gcloses, gm - pgfa)).alias("g_sum_len"),
        F.max(F.when(gcloses, gm - pgfa)).alias("g_maxlen"),
        F.max("e_us").alias("c_max"),
        F.max(F.when(gflag, F.col("a_us"))).alias("g_last_s"),
    )
    crossed = chb.groupBy("user_id").agg(
        F.sum("g_n").cast("long").alias("n_islands"),
        (
            F.coalesce(F.sum("g_sum_len"), F.lit(0))
            + F.max("c_max")
            - F.max("g_last_s")
        )
        .cast("long")
        .alias("covered_us"),
        F.greatest(
            F.max("g_maxlen"), F.max("c_max") - F.max("g_last_s")
        )
        .cast("long")
        .alias("longest_us"),
    )

    return (
        singles.unionByName(crossed)
        .repartition("user_id")
        .orderBy("user_id")
    )

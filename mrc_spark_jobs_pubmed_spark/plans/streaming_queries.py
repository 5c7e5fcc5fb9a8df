"""Batch-equivalent forms of the streaming jobs, oracle-checked per
SURVEY.md §5 (streaming-specific behavior — watermarks, incremental state —
is covered by deterministic replay tests in tests/test_streaming.py; the
SQL oracle checks the window semantics themselves).

The query fns call the SAME transformation bodies as the streaming jobs
(streaming/jobs.py) on a batch DataFrame — one definition, two runtimes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mrc_spark_jobs_pubmed_spark.plans.registry import register
from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table
from mrc_spark_jobs_pubmed_spark.streaming import jobs as J


@register(
    "stream_tumbling_counts",
    oracle="""
SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS wstart,
       CAST(time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS TIMESTAMP) AS wend,
       event_type,
       count(*) AS n,
       round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4) AS value_sum
FROM events
GROUP BY 1, 2, 3
""",
    doc="Tumbling 5-min windows per event_type (batch form of the "
    "streaming job; epoch-aligned buckets match DuckDB time_bucket).",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return J.tumbling_counts(load_table(spark, "events", sf_dir), with_watermark=False)


@register(
    "stream_sliding_avg",
    oracle="""
SELECT CAST(wstart AS TIMESTAMP) AS wstart, event_type,
       count(*) AS n,
       CAST((2 * sum(CAST(round(value * 10000) AS BIGINT)) + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0 AS avg_value
FROM (
  SELECT e.*, u.wstart
  FROM (SELECT *, time_bucket(INTERVAL '5 minutes', ts) AS b FROM events) e,
       unnest([e.b, e.b - INTERVAL '5 minutes']) AS u(wstart)
)
GROUP BY 1, 2
""",
    doc="Sliding 10-min/5-min windows: each event expands to its two "
    "member windows (the unnest mirrors Spark's internal window "
    "replication for overlapping windows).",
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return J.sliding_avg(load_table(spark, "events", sf_dir), with_watermark=False)


@register(
    "stream_session_windows",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '5 minutes' AS session_end,
       count(*) AS n_events,
       round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4) AS value_sum
FROM sessions
GROUP BY user_id, sid
""",
    doc="Per-user session windows, 5-min gap (batch session_window vs the "
    "classic gaps-and-islands rewrite: session end = last event + gap).",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return J.session_windows(load_table(spark, "events", sf_dir), with_watermark=False)


@register(
    "stream_stateful_sessions",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, CAST(round(value * 10000) AS BIGINT) AS v4,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
       CAST(sid AS BIGINT) AS session_seq,
       CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS start_epoch,
       CAST(epoch_us(max(ts)) // 1000000 + 300 AS BIGINT) AS end_epoch,
       count(*) AS n_events,
       sum(v4) / 10000.0 AS value_sum
FROM sessions
GROUP BY user_id, sid
""",
    doc="Arbitrary-state sessionization (the custom-stateful-operator "
    "row): per-user sessions with a 5-min gap AND a per-user session "
    "sequence number — an output the built-in session_window cannot "
    "produce, which is exactly when the applyInPandas(WithState) seam "
    "earns its keep. This registered batch form runs fold_sessions "
    "(streaming/jobs.py) over each user's history via applyInPandas; "
    "the STREAMING twin stateful_sessionize runs the SAME fold under "
    "applyInPandasWithState with EventTimeTimeout (update mode, "
    "bounded per-active-user state, watermark-reaped) and is "
    "replay-tested batch-equivalent in tests/test_streaming.py. "
    "Epoch-seconds outputs keep the value contract free of timestamp "
    "canonicalization; value sums are exact 1e-4-unit integers. Scale: "
    "one shuffle on user_id; per-group Arrow batches are one user's "
    "events — bounded by the heaviest user, the same bound the "
    "stateful runtime carries.",
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return J.sessionize_batch(load_table(spark, "events", sf_dir))


@register(
    "stream_chained_rollup",
    oracle="""
WITH lvl1 AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS b5, event_type,
         count(*) AS n
  FROM events
  GROUP BY 1, 2
)
SELECT CAST(epoch(time_bucket(INTERVAL '15 minutes', b5)) AS BIGINT)
         AS wstart_epoch,
       event_type,
       CAST(sum(n) AS BIGINT) AS n_events,
       max(n) AS peak_5min_n,
       count(*) AS n_subwindows
FROM lvl1
GROUP BY 1, 2
""",
    doc="Chained windowed aggregation (Spark 3.5+ window_time): 5-min "
    "tumbling counts rolled up into 15-min windows — total events, peak "
    "sub-window, live sub-window count per type. The window start is "
    "emitted as epoch SECONDS (BIGINT) so every output column is an "
    "integer or string — no timestamp objects to collect, which makes "
    "the value contract independent of session timezone, parquet "
    "timestamp unit, and datetime canonicalization in any harness. "
    "Integer-only outputs "
    "so the two-level rollup is order-independent; in the stream "
    "runtime both levels run in ONE query with bounded per-level state "
    "(the coarse level sees one row per fine window, not the raw "
    "stream). The 5-min buckets nest exactly in 15-min buckets, so the "
    "oracle re-buckets the fine window starts directly.",
)
def stream_chained_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return J.chained_window_rollup(
        load_table(spark, "events", sf_dir), with_watermark=False
    )


@register(
    "stream_dedup_counts",
    oracle="""
SELECT event_type, count(*) AS n
FROM (SELECT DISTINCT ON (event_id) * FROM events ORDER BY event_id, ts)
GROUP BY event_type
""",
    doc="Streaming dedup on event_id (batch form: dropDuplicates) with a "
    "per-type count; state bounded by the watermark in the stream runtime.",
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = J.dedup_events(load_table(spark, "events", sf_dir), with_watermark=False)
    from pyspark.sql import functions as F

    return ev.groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "stream_interval_join",
    oracle="""
SELECT c.event_id AS click_id,
       v.event_id AS view_id,
       c.user_id AS c_user,
       c.ts AS click_ts,
       v.ts AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON v.user_id = c.user_id
 AND v.ts <= c.ts
 AND v.ts >= c.ts - INTERVAL '10 minutes'
""",
    doc="Stream-stream interval join (batch form): clicks joined to "
    "same-user views in the preceding 10 minutes. In streaming both "
    "sides carry watermarks and the two-sided time bound makes join "
    "state finite; the replay test drives the same body as two streams.",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return J.click_view_interval_join(load_table(spark, "events", sf_dir))


@register(
    "stream_interval_left_join",
    oracle="""
SELECT c.event_id AS click_id,
       v.event_id AS view_id,
       c.user_id AS c_user,
       c.ts AS click_ts,
       v.ts AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON v.user_id = c.user_id
 AND v.ts <= c.ts
 AND v.ts >= c.ts - INTERVAL '10 minutes'
""",
    doc="Stream-stream LEFT OUTER interval join: every click with its "
    "preceding-10-min same-user views, NULL-extended when none exist. "
    "In the stream runtime the NULL emission is itself watermark-gated "
    "— an unmatched left row is released only when the watermark "
    "proves no matching right row can still arrive, so outer-join "
    "state stays finite. Batch form value-checked here; the inner "
    "variant's replay test drives the same join body as two streams.",
)
def stream_interval_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return J.click_view_interval_join(
        load_table(spark, "events", sf_dir), "left_outer"
    )


@register(
    "stream_static_enrich",
    oracle="""
SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS wstart,
       n_name,
       count(*) AS n,
       round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4) AS value_sum
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2
""",
    doc="Stream-static enrichment (batch form): events joined to the "
    "broadcast customer→nation dimension, then tumbling 5-min counts "
    "per nation. In the stream runtime the static side is rebroadcast "
    "per micro-batch and the stream side never shuffles for the join; "
    "the replay test drives this same body as a stream.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return J.enriched_nation_counts(
        load_table(spark, "events", sf_dir),
        load_table(spark, "customer", sf_dir),
        load_table(spark, "nation", sf_dir),
        with_watermark=False,
    )


@register(
    "stream_topk_per_window",
    oracle="""
WITH counts AS (
  SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS wstart,
         event_type, count(*) AS n
  FROM events
  GROUP BY 1, 2
),
ranked AS (
  SELECT wstart, event_type, n,
         row_number() OVER (PARTITION BY wstart
                            ORDER BY n DESC, event_type) AS rnk
  FROM counts
)
SELECT wstart, event_type, CAST(n AS BIGINT) AS n, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
""",
    doc="Windowed top-k: the 3 busiest event types per tumbling 5-min "
    "window (batch form of the foreachBatch streaming job — rank over "
    "a streaming agg is not expressible in one streaming query, so the "
    "stream maintains the windowed counts and each micro-batch ranks "
    "the aggregate, which is (window, type)-sized, not event-sized; "
    "see streaming/jobs.py run_topk_to_files and the replay test).",
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return J.rank_topk(
        J.windowed_type_counts(load_table(spark, "events", sf_dir), with_watermark=False)
    )


@register(
    "stream_cdc_apply",
    oracle="""
WITH log AS (
  SELECT user_id, epoch_us(ts) AS t_us, event_id,
         CASE WHEN event_type = 'purchase' THEN 'delete'
              ELSE 'upsert' END AS op,
         event_type AS last_type,
         CAST(round(value * 10000) AS BIGINT) AS v_u4
  FROM events
),
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY t_us DESC, event_id DESC) AS rn
  FROM log
)
SELECT user_id, t_us, event_id, last_type, v_u4
FROM latest WHERE rn = 1 AND op = 'upsert'
""",
    doc="CDC changelog apply (streaming materialized view): the events "
    "stream read as a change feed on a per-user row — 'purchase' is a "
    "DELETE, everything else an UPSERT — reduced latest-wins on the "
    "total (t_us, event_id) change order, tombstoned keys dropped. "
    "This batch form is the full-replay materialization the DuckDB "
    "oracle checks; the STREAMING twin (streaming/jobs.py "
    "run_cdc_apply_to_files) maintains the same table incrementally "
    "via a foreachBatch MERGE with per-batch latest-wins pre-reduction "
    "(associative, so stream and batch provably agree — the replay "
    "test asserts it). Tombstones persist in the state copy so "
    "out-of-order older upserts cannot resurrect deleted keys. Scale: "
    "one shuffle on user_id; streaming state is the key domain, not "
    "the stream volume.",
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return J.cdc_apply_batch(load_table(spark, "events", sf_dir))

"""Structured Streaming jobs over the events stream (SURVEY.md §2
streaming-only block).

The reference has no streaming; its closest analogue is the idempotent
skip-if-exists resume loop (A5), which Structured Streaming's checkpoint +
exactly-once file sink subsumes. Each job here is a transformation from a
streaming DataFrame to a streaming DataFrame, so the SAME function body
runs in batch mode for the DuckDB oracle (plans/streaming_queries.py) and
in streaming mode under a watermark — one definition, two runtimes.

File-source replay of events.parquet drives deterministic tests
(tests/test_streaming.py): `format("memory")` + `processAllAvailable()`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark.sources.catalog import events_read_plan


# --- crash-safe serving state for the foreachBatch MERGE jobs ---------------
#
# Batch N writes `{path}_state/v{N}`; readers take the latest version <= N
# that has a _SUCCESS marker, so a crash mid-write leaves the last good
# version in place. Two conditions make this safe:
# - Structured Streaming replays a failed batch with the SAME batch id, so
#   each job's merge must be idempotent per key (left-anti upsert,
#   latest-wins by LSN, bitmap OR all are);
# - older versions are pruned only after the new _SUCCESS exists.
# Every filesystem call goes to the path's own Hadoop FileSystem, so the
# state works on any URI Spark can write to (file:, hdfs:, s3a:). Read
# errors propagate: only an absent version means "first batch".


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _state_versions(spark: SparkSession, state_dir: str) -> list[int]:
    fs, root = _fs(spark, state_dir)
    if not fs.exists(root):
        return []
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return sorted(
        int(name[1:])
        for st in fs.listStatus(root)
        if (name := st.getPath().getName()).startswith("v")
        and name[1:].isdigit()
        and fs.exists(Path(st.getPath(), "_SUCCESS"))
    )


def read_state(spark: SparkSession, state_dir: str, batch_id: int) -> DataFrame | None:
    """Latest complete state version written by a batch <= batch_id, or
    None on a true first batch. Versions > batch_id (possible only if a
    checkpoint was deleted while state was kept) are ignored rather
    than merged twice."""
    versions = [v for v in _state_versions(spark, state_dir) if v <= batch_id]
    if not versions:
        return None
    return spark.read.parquet(f"{state_dir}/v{versions[-1]}")


def write_state(df: DataFrame, state_dir: str, batch_id: int) -> None:
    """Publish state version batch_id, then prune older versions. The
    overwrite of v{batch_id} only ever replaces a partial attempt of the
    SAME batch; completed older versions are untouched until the new
    _SUCCESS exists."""
    df.write.mode("overwrite").parquet(f"{state_dir}/v{batch_id}")
    spark = df.sparkSession
    fs, root = _fs(spark, state_dir)
    for v in _state_versions(spark, state_dir):
        if v != batch_id:
            fs.delete(spark._jvm.org.apache.hadoop.fs.Path(root, f"v{v}"), True)


def _run_versioned(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    reduce: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    publish: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
):
    """foreachBatch serving job over versioned state: per micro-batch,
    `reduce` the batch, `merge(state, batch)` it into the latest complete
    state version (the reduced batch alone on a first batch), write the
    result as version batch_id, and overwrite `path` with `publish(merged)`.
    """
    state_dir = path + "_state"

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = reduce(batch_df).localCheckpoint(eager=True)
        state = read_state(batch_df.sparkSession, state_dir, batch_id)
        merged = batch if state is None else merge(state, batch)
        merged = merged.localCheckpoint(eager=True)
        write_state(merged, state_dir, batch_id)
        publish(merged).write.mode("overwrite").parquet(path)

    return (
        stream.writeStream.outputMode(output_mode)
        .foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


WATERMARK = "10 minutes"
TUMBLE = "5 minutes"
SLIDE_SIZE = "10 minutes"
SLIDE_STEP = "5 minutes"
SESSION_GAP = "5 minutes"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the events table as a stream.

    maxFilesPerTrigger=1 gives deterministic micro-batch replay in tests;
    on a real deployment the source would be Kafka/files-in-arrival with
    the same downstream plan.
    """
    # The file source requires a directory; pathGlobFilter narrows the
    # listing to the events table within the fixture dir. The read schema
    # (and whether a ns→µs truncation is needed) comes from the parquet
    # footer via events_read_plan, same as the batch loader.
    schema, needs_ns_conversion = events_read_plan(sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if needs_ns_conversion:
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw


def value_micro() -> "F.Column":
    """events.value as exact BIGINT micro-units (1e-4).

    The fixture's values carry <= 4 decimal places, so the per-row
    round-to-int is exact and the SUM is an integer on any engine and
    any partitioning — round(sum(double), 4) diverged at sf1, where
    window groups grow large enough for float accumulation order to
    flip the 4th decimal (caught by the sf1 oracle sweep)."""
    return F.round(F.col("value") * 10000).cast("long")


def tumbling_counts(events: DataFrame, with_watermark: bool = True) -> DataFrame:
    """Tumbling 5-minute windows per event_type: count + value sum."""
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    return (
        src.groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(value_micro()) / 10000.0, 4).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def sliding_avg(events: DataFrame, with_watermark: bool = True) -> DataFrame:
    """Sliding 10-minute windows every 5 minutes: per-window avg value."""
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    return (
        src.groupBy(F.window("ts", SLIDE_SIZE, SLIDE_STEP).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(value_micro()).alias("_sum_micro"),
        )
        .select(
            F.col("w.start").alias("wstart"),
            "event_type",
            "n",
            # ALL-INTEGER mean: (2s + n) div 2n is round-half-up of s/n
            # in micro-units (values are non-negative). Spark's round()
            # rounds the double's SHORTEST DECIMAL string while DuckDB
            # rounds the binary value, so any mean landing exactly on
            # x.xxxx5 diverges (58 windows did at sf1); integer
            # arithmetic never rounds a float at all. Spark's avg() is
            # also out: it accumulates integral input in DOUBLE, which
            # re-introduces order dependence.
            (
                F.expr("(2 * _sum_micro + n) div (2 * n)").cast("double") / 10000.0
            ).alias("avg_value"),
        )
    )


def session_windows(events: DataFrame, with_watermark: bool = True) -> DataFrame:
    """Per-user session windows with a 5-minute inactivity gap."""
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    return (
        src.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_micro()) / 10000.0, 4).alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


SESSION_GAP_SEC = 300  # == SESSION_GAP, as integer seconds for the fold
_GAP_US = SESSION_GAP_SEC * 1_000_000


def fold_sessions(ts_us, v4):
    """Fold a user's time-sorted events into sessions (5-min gap).

    Pure-Python core shared by the batch applyInPandas plan and the
    streaming applyInPandasWithState operator, so the two runtimes are
    the same algorithm by construction. Input: int64 epoch-micros and
    exact 1e-4-unit values. Returns (closed_sessions, open_session)
    where each session is (start_us, last_us, n, v4_sum) — the caller
    decides whether the trailing open session is final (batch: yes;
    streaming: only via event-time timeout).
    """
    closed = []
    cur = None
    for t, v in zip(ts_us, v4):
        t, v = int(t), int(v)
        if cur is None:
            cur = (t, t, 1, v)
        elif t - cur[1] < _GAP_US:
            # strict <: session windows are [start, last+gap), so an
            # event landing exactly at the gap boundary starts a NEW
            # session — the same end-exclusive convention as Spark's
            # built-in session_window and the gaps-and-islands oracle.
            cur = (cur[0], max(cur[1], t), cur[2] + 1, cur[3] + v)
        else:
            closed.append(cur)
            cur = (t, t, 1, v)
    return closed, cur


def stateful_sessionize(events: DataFrame) -> DataFrame:
    """Custom sessionization as an ARBITRARY-STATE streaming operator
    (applyInPandasWithState + EventTimeTimeout) — the protobuf-free
    Spark 4 path, unlike transformWithStateInPandas whose state-server
    protocol needs google.protobuf.

    Per-user GroupState holds the open session (start, last-seen, count,
    exact value sum). A session closes either when a later event for the
    same user arrives beyond the gap (emitted in that micro-batch) or
    when the event-time watermark passes last_ts + gap (emitted by the
    timeout callback, state removed). Update mode; emitted rows are
    final. State is bounded: one fixed-width tuple per ACTIVE user, and
    the timeout reaps users who go quiet — this is the operator shape
    for sessionization semantics the built-in session_window can't
    express (e.g. carrying exact integer sums through custom logic).
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("value_sum", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("v4", T.LongType()),
        ]
    )

    def _to_frame(uid, sessions):
        return pd.DataFrame(
            {
                "user_id": [uid] * len(sessions),
                "session_start": pd.to_datetime(
                    [s[0] for s in sessions], unit="us"
                ),
                "session_end": pd.to_datetime(
                    [s[1] + _GAP_US for s in sessions], unit="us"
                ),
                "n_events": [s[2] for s in sessions],
                "value_sum": [float(s[3]) / 10000.0 for s in sessions],
            }
        )

    def update(key, pdfs, state):
        uid = key[0]
        if state.hasTimedOut:
            start_us, last_us, n, v4 = state.get
            state.remove()
            yield _to_frame(uid, [(start_us, last_us, n, v4)])
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values("ts")
        ts_us = rows["ts"].astype("int64") // 1000
        v4 = (rows["value"] * 10000).round().astype("int64")
        prior = list(state.get) if state.exists else None
        if prior is not None:
            # seed the fold with the open session from state
            closed, cur = fold_sessions(ts_us, v4)
            first_t = int(ts_us.iloc[0])
            if first_t - prior[1] < _GAP_US:
                # batch's first session continues the stored one
                head = closed[0] if closed else cur
                merged = (
                    prior[0],
                    max(prior[1], head[1]),
                    prior[2] + head[2],
                    prior[3] + head[3],
                )
                if closed:
                    closed[0] = merged
                else:
                    cur = merged
            else:
                closed.insert(0, tuple(prior))
        else:
            closed, cur = fold_sessions(ts_us, v4)
        state.update(tuple(cur))
        # reap via event time: fires once the watermark passes gap-end
        # (clamped above the current watermark — a session whose gap-end
        # is already behind the watermark must still time out, just on
        # the next advance, and an at-or-below-watermark timestamp is an
        # error)
        state.setTimeoutTimestamp(
            max((cur[1] + _GAP_US) // 1000, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield _to_frame(uid, closed)

    src = events.withWatermark("ts", WATERMARK)
    return src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "EventTimeTimeout"
    )


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Batch twin of stateful_sessionize: the SAME fold_sessions core
    over each user's full history via applyInPandas, emitting every
    session (trailing one included) plus its 1-based per-user sequence
    number — the session_seq output is what the built-in session_window
    cannot produce and the custom-state path exists for."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_seq", T.LongType()),
            T.StructField("start_epoch", T.LongType()),
            T.StructField("end_epoch", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("value_sum", T.DoubleType()),
        ]
    )

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        ts_us = pdf["ts"].astype("int64") // 1000
        v4 = (pdf["value"] * 10000).round().astype("int64")
        closed, cur = fold_sessions(ts_us, v4)
        if cur is not None:
            closed.append(cur)
        uid = int(pdf["user_id"].iloc[0])
        return pd.DataFrame(
            {
                "user_id": [uid] * len(closed),
                "session_seq": list(range(1, len(closed) + 1)),
                "start_epoch": [s[0] // 1_000_000 for s in closed],
                "end_epoch": [(s[1] + _GAP_US) // 1_000_000 for s in closed],
                "n_events": [s[2] for s in closed],
                "value_sum": [float(s[3]) / 10000.0 for s in closed],
            }
        )

    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(per_user, schema)
    )


def chained_window_rollup(events: DataFrame, with_watermark: bool = True) -> DataFrame:
    """Chained windowed aggregation: 5-minute tumbling counts rolled up
    into 15-minute windows (total events, peak 5-min sub-window, number
    of live sub-windows) per event_type.

    Uses `window_time()` over the first aggregation's window column —
    the Spark 3.5+ chained-time-window feature, which lets a streaming
    query stack windowed aggs without an intermediate sink. All outputs
    are integers, so the rollup is summation-order-independent and
    value-checkable across engines. In streaming, each level keeps its
    own bounded state under the same watermark; the coarse level's
    input is one row per (5-min window, type) — tiny regardless of
    event volume, which is exactly why rollups chain this way at scale
    instead of re-aggregating the raw stream twice.
    """
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    lvl1 = src.groupBy(F.window("ts", TUMBLE).alias("w"), "event_type").agg(
        F.count("*").alias("n")
    )
    return (
        lvl1.groupBy(
            F.window(F.window_time("w"), "15 minutes").alias("w2"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.max("n").alias("peak_5min_n"),
            F.count("*").alias("n_subwindows"),
        )
        .select(
            # Epoch seconds, not a timestamp object: integer outputs are
            # immune to session-timezone / datetime-canonicalization
            # differences between collection harnesses.
            F.unix_timestamp(F.col("w2.start")).alias("wstart_epoch"),
            "event_type",
            "n_events",
            "peak_5min_n",
            "n_subwindows",
        )
    )


def dedup_events(events: DataFrame, with_watermark: bool = True) -> DataFrame:
    """Streaming dedup on event_id under the watermark (state is bounded
    by the watermark horizon — the streaming form of exact dedup)."""
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    return src.dropDuplicates(["event_id"])


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming DataFrame to completion against a memory sink.

    Returns the started query; caller does processAllAvailable() + stop().
    """
    return (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )


def run_to_files(stream_df: DataFrame, path: str, checkpoint: str):
    """Durable streaming sink: parquet output + checkpoint, drained with
    the availableNow trigger.

    This is the engine's form of the reference's skip-if-exists resume
    (A5, job_pubmed_submit.py:41-43): the checkpoint records committed
    batches, so restarting the same query against the same checkpoint
    writes nothing twice — exactly-once file output without per-object
    existence checks.
    """
    return (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def click_view_interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each click joined to same-user views
    within the preceding 10 minutes.

    Both sides carry watermarks and the join condition bounds event time
    on both ends, so state is provably finite — Spark evicts outlived
    rows instead of buffering streams forever. Works identically on a
    batch DataFrame (the oracle-able form) and two streaming readers.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .withWatermark("ts", WATERMARK)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", WATERMARK)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    return clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select("click_id", "view_id", "c_user", "click_ts", "view_ts")


def click_view_interval_left_join(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, with its
    matching same-user views in the preceding 10 minutes — or NULLs if
    none arrived.

    Outer stream-stream joins need watermarks on BOTH sides plus the
    two-sided time bound: a left row can only be emitted as unmatched
    once the watermark proves no matching right row can still arrive,
    so the NULL-extension itself is watermark-gated state eviction.
    Same body runs in batch (the oracle-able form) and as two streams.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .withWatermark("ts", WATERMARK)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", WATERMARK)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    return clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select("click_id", "view_id", "c_user", "click_ts", "view_ts")


def enriched_nation_counts(
    events: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    with_watermark: bool = True,
) -> DataFrame:
    """Stream-static enrichment: events joined to the (static) customer→
    nation dimension, then tumbling-windowed per nation.

    The dimension side is bounded and slowly-changing, so it broadcasts —
    the stream never shuffles for the join, and each micro-batch pays
    only the windowed aggregation. The same plan body serves batch
    (with_watermark=False) and stream.
    """
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    dim = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "n_name")
    return (
        src.join(F.broadcast(dim), src.user_id == dim.c_custkey)
        .groupBy(F.window("ts", TUMBLE).alias("w"), "n_name")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(value_micro()) / 10000.0, 4).alias("value_sum"),
        )
        .select(F.col("w.start").alias("wstart"), "n_name", "n", "value_sum")
    )


# --- windowed top-k (foreachBatch post-ranking) -----------------------------

TOPK_K = 3


def windowed_type_counts(events: DataFrame, with_watermark: bool = True) -> DataFrame:
    """Tumbling 5-minute event_type counts — the streamable half of the
    windowed top-k job (pure windowed agg, bounded state)."""
    src = events.withWatermark("ts", WATERMARK) if with_watermark else events
    return (
        src.groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )


def rank_topk(counts: DataFrame, k: int = TOPK_K) -> DataFrame:
    """Rank the windowed counts: top-k event types per window, ties
    broken by event_type for determinism."""
    from pyspark.sql import Window

    w = Window.partitionBy("wstart").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("wstart", "event_type", "n", "rnk")
    )


def run_topk_to_files(
    stream_counts: DataFrame, path: str, checkpoint: str, k: int = TOPK_K
):
    """Streaming windowed top-k via foreachBatch: rank-over-aggregate is
    not expressible inside a single streaming query (window functions
    cannot stack on a streaming agg), so the aggregation runs
    incrementally in the stream and the (tiny) rank is applied per
    micro-batch over a MERGED serving copy of the aggregate.

    UPDATE mode, not complete: complete mode ignores the watermark and
    retains every window ever seen in engine state — unbounded for a
    long-running stream. In update mode the engine emits only the
    (window, type) rows each batch changed and evicts windows the
    watermark has passed, so engine state stays bounded; the full
    history lives in the versioned `{path}_state` copy, where foreachBatch
    upserts the deltas (left-anti on the key + union — the MERGE INTO
    pattern; on a transactional table format this would be a real
    MERGE). The per-batch input is delta-aggregate volume, not event
    volume; the rank runs over the merged copy, which is one row per
    (window, type) — vocabulary-sized, not stream-sized.
    """

    def upsert(state: DataFrame, batch: DataFrame) -> DataFrame:
        keep = state.join(batch, ["wstart", "event_type"], "left_anti")
        return keep.unionByName(batch)

    return _run_versioned(
        stream_counts,
        path,
        checkpoint,
        reduce=lambda batch: batch,
        merge=upsert,
        publish=lambda merged: rank_topk(merged, k),
        output_mode="update",
    )


# --- CDC changelog apply (streaming materialized upsert/delete) -------------


def cdc_changelog(events: DataFrame) -> DataFrame:
    """Project the events stream as a CDC changelog on a per-user row.

    Every event is a change record for its user's profile row: a
    'purchase' clears the row (DELETE — the cart is consumed), any other
    type UPSERTs it with the event's type and exact 1e-4-unit value.
    (t_us, event_id) is the total change order — deterministic and
    gap-free, the role a binlog LSN plays in a real CDC feed.
    """
    return events.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("event_type").alias("last_type"),
        value_micro().alias("v_u4"),
    )


def cdc_latest(changelog: DataFrame) -> DataFrame:
    """Latest-wins reduction of a changelog: one row per key carrying the
    most recent change (by LSN = (t_us, event_id)), tombstones included."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("t_us"), F.desc("event_id")
    )
    return (
        changelog.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def cdc_apply_batch(events: DataFrame) -> DataFrame:
    """Batch twin of the streaming CDC apply: the materialized table a
    full changelog replay produces (latest-wins, tombstones dropped)."""
    return cdc_latest(cdc_changelog(events)).where(
        F.col("op") == "upsert"
    ).drop("op")


def run_cdc_apply_to_files(
    events_stream: DataFrame, path: str, checkpoint: str
):
    """Streaming CDC apply via foreachBatch MERGE: maintain a serving
    parquet copy of the materialized table as the changelog streams in.

    Per micro-batch: reduce the batch to its per-key latest change
    (latest-wins is associative, so reducing before merging is exact),
    then merge into the state copy with the newer LSN winning — the
    MERGE INTO ... WHEN MATCHED pattern on a plain parquet path (a
    transactional table format would make the merge a real MERGE).
    Tombstones stay IN the state copy so a late-replayed older upsert
    can never resurrect a deleted key; the published serving table
    filters them out. State size is the key domain (live + deleted
    keys), never the stream volume; per-batch cost is one
    state-vs-batch merge — the standard CDC materialization shape.
    Append mode with a pass-through projection: the merge logic lives
    entirely in foreachBatch, so no engine aggregation state is held.
    """
    return _run_versioned(
        cdc_changelog(events_stream),
        path,
        checkpoint,
        reduce=cdc_latest,
        merge=lambda state, batch: cdc_latest(state.unionByName(batch)),
        publish=lambda merged: merged.where(F.col("op") == "upsert").drop("op"),
    )


# --- streaming heartbeat-gap detection --------------------------------------

HB_GAP_S = 3600  # report silences longer than an hour
_HB_GAP_US = HB_GAP_S * 1_000_000


def stateful_heartbeat_gaps(events: DataFrame) -> DataFrame:
    """Streaming twin of rel_heartbeat_gaps: per-user silence detection
    as an arbitrary-state operator (applyInPandasWithState).

    State is ONE long per user — the last event time seen. Each
    micro-batch folds its (sorted) events against that carry and emits
    every closed gap (> 1 h between consecutive events); the new last
    time goes back to state. Closed-gap semantics need no timers, so
    the operator runs with NoTimeout and its state is key-domain
    bounded (8 bytes per ever-seen user, the same bound as the CDC
    apply); a production deployment adds a TTL reap and accepts losing
    gaps longer than the TTL, or an EventTimeTimeout variant that also
    emits still-open silences as alerts. Emitted rows are final
    (update mode): a gap is closed by the event that ends it, in the
    batch where that event arrives.
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("gap_start_us", T.LongType()),
            T.StructField("gap_end_us", T.LongType()),
            T.StructField("gap_s", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last_us", T.LongType())])

    def update(key, pdfs, state):
        uid = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        ts_us = sorted((rows["ts"].astype("int64") // 1000).tolist())
        prior = state.get[0] if state.exists else None
        # ENFORCED closed-gap contract (r4 ADVICE): events at or before
        # the carried high-water mark fall inside intervals whose gap
        # verdict was already emitted as final — folding them again
        # could re-derive or split covered intervals, so they are
        # dropped, not merged. In-order replay never trips this; a
        # disordered source trades those events' gaps for the
        # emitted-rows-are-final guarantee (update mode cannot retract).
        if prior is not None:
            ts_us = [t for t in ts_us if t > prior]
            if not ts_us:
                return
        seq = ([prior] if prior is not None else []) + ts_us
        gaps = [
            (uid, a, b, (b - a) // 1_000_000)
            for a, b in zip(seq, seq[1:])
            if b - a > _HB_GAP_US
        ]
        state.update((int(seq[-1]),))
        if gaps:
            yield pd.DataFrame(
                gaps,
                columns=["user_id", "gap_start_us", "gap_end_us", "gap_s"],
            )

    src = events.withWatermark("ts", WATERMARK)
    return src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


# --- streaming exact-distinct maintenance (bitmap OR-merge) -----------------

_BM_DAY_US = 86_400_000_000


def bitmap_words(events: DataFrame) -> DataFrame:
    """(day, word_id, bm): 64-bit OR-bitmap words over distinct user ids
    — the re-aggregable exact-distinct sketch of
    plans.extra_queries.rel_bitmap_distinct, shared by the batch query
    and the streaming maintainer below."""
    return (
        events.select(
            F.expr(f"unix_micros(ts) div {_BM_DAY_US}").alias("day"),
            F.expr("user_id div 64").alias("word_id"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("day", "word_id")
        .agg(F.expr("bit_or(bit)").alias("bm"))
    )


def bitmap_distinct_rollup(words: DataFrame) -> DataFrame:
    """(day, n_words, n_users_bitmap): popcount rollup of bitmap words."""
    return words.groupBy("day").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(F.expr("bit_count(bm)")).cast("long").alias("n_users_bitmap"),
    )


def _bitmap_or(state: DataFrame, words: DataFrame) -> DataFrame:
    """OR-merge two (day, word_id, bm) word sets; idempotent, so a
    replayed batch merges to the same state."""
    return (
        state.unionByName(words)
        .groupBy("day", "word_id")
        .agg(F.expr("bit_or(bm)").alias("bm"))
    )


def run_bitmap_distinct_to_files(
    events_stream: DataFrame, path: str, checkpoint: str
):
    """Streaming exact-distinct dashboard via foreachBatch bitmap merge:
    maintain per-day distinct-user counts as events stream in, WITHOUT
    ever recounting history.

    This is the claim rel_bitmap_distinct's docstring makes ('daily
    bitmaps OR into rollups without rescanning'), exercised: per
    micro-batch, the batch collapses to its (day, word) bitmap words
    (map-side OR), those OR-merge into the state copy, and the
    published serving table is the popcount rollup of the state. OR is
    associative, commutative, and IDEMPOTENT, so any micro-batch
    split — including replays of overlapping data — produces exactly
    the batch-replay table (the replay test asserts it; idempotence is
    what makes this safe under at-least-once delivery, a property the
    CDC merge needs LSNs for). State is |days| x |id-range|/64 words —
    8 bytes per 64 users of the ACTIVE id space per day, never the
    stream volume.
    """
    return _run_versioned(
        events_stream,
        path,
        checkpoint,
        reduce=bitmap_words,
        merge=_bitmap_or,
        publish=bitmap_distinct_rollup,
    )


# --- streaming EWMA (arbitrary state: bounded value history) ----------------

EWMA_K = 8  # truncation depth; alpha = 1/2 => weight 2^(K-1-i) for lag i


def stateful_ewma(events: DataFrame) -> DataFrame:
    """Streaming twin of rel_ewma_smoothing: per-user exact dyadic EWMA
    maintained incrementally via applyInPandasWithState.

    State per user is the last <= K 1e-4-unit values (oldest-first) plus
    the running event count — bounded at K longs per ever-seen user
    regardless of stream length. Each micro-batch folds its events (in
    (ts, event_id) order, the time-ordered replay contract of
    stateful_heartbeat_gaps) onto that carry and emits the user's
    refreshed (n_events, last value, EWMA); update mode — the LATEST
    emitted row per user is the serving value and, after a full replay,
    equals the batch query exactly (integer dyadic arithmetic has no
    accumulation error to drift on, which is what makes this
    stream/batch equivalence EXACT rather than approximate — the replay
    test asserts tuple equality, not closeness). All folding runs in
    Python ints (a pandas int64 fold silently wraps — the round-4
    grouped-UDF lesson).
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("last_v_u4", T.LongType()),
            T.StructField("ewma_u4", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("vals", T.ArrayType(T.LongType())),
        ]
    )

    def update(key, pdfs, state):
        uid = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values(["t_us", "event_id"])
        new_vals = [int(v) for v in rows["v_u4"].tolist()]
        if state.exists:
            n, vals = int(state.get[0]), [int(v) for v in state.get[1]]
        else:
            n, vals = 0, []
        n += len(new_vals)
        vals = (vals + new_vals)[-EWMA_K:]
        # batch form: sum_lag v_lag * 2^(K-1-lag) / sum_lag 2^(K-1-lag);
        # the common factor 2^(K-m) divides numerator and denominator
        # exactly, so with oldest-first index i (lag = m-1-i) this
        # reduces to sum_i v_i*2^i over denominator 2^m - 1 — identical
        # integer quotient, K-free state
        num = sum(v << i for i, v in enumerate(vals))
        den = (1 << len(vals)) - 1  # sum of 2^0..2^(m-1)
        # truncate toward zero, matching Spark's `div` in the batch twin
        q = abs(num) // den
        ewma = q if num >= 0 else -q
        state.update((n, vals))
        yield pd.DataFrame(
            [(uid, n, vals[-1], ewma)],
            columns=["user_id", "n_events", "last_v_u4", "ewma_u4"],
        )

    # no watermark: NoTimeout closed-fold semantics, as heartbeat_gaps
    src = events.select(
        "user_id",
        F.expr("unix_micros(ts)").alias("t_us"),
        "event_id",
        F.round(F.col("value") * 10000).cast("long").alias("v_u4"),
    )
    return src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


ROLL_DAYS = 7  # trailing window width, days


def rolling_distinct_rollup(words: DataFrame) -> DataFrame:
    """(day, n_users_7d): trailing-ROLL_DAYS exact distinct users from
    (day, word_id, bm) bitmap words — each word fans out to the days it
    covers, OR-collapses per (target day, word), popcount-sums. Output
    days restricted to days present in the input. Shared by
    rel_rolling_distinct_bitmap (batch) and
    run_rolling_distinct_to_files (streaming serving copy)."""
    days = words.select("day").distinct()
    spread = (
        words.select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (ROLL_DAYS - 1))
            ).alias("tday"),
            "word_id",
            "bm",
        )
        .groupBy("tday", "word_id")
        .agg(F.expr("bit_or(bm)").alias("bm7"))
    )
    return (
        spread.join(days, spread.tday == days.day, "left_semi")
        .groupBy("tday")
        .agg(
            F.sum(F.expr("bit_count(bm7)"))
            .cast("long")
            .alias(f"n_users_{ROLL_DAYS}d")
        )
        .select(
            F.col("tday").cast("long").alias("day"),
            f"n_users_{ROLL_DAYS}d",
        )
        .orderBy("day")
    )


def run_rolling_distinct_to_files(
    events_stream: DataFrame, path: str, checkpoint: str
):
    """Streaming rolling-WAU dashboard via foreachBatch bitmap merge:
    maintain the per-day bitmap-word state exactly as
    run_bitmap_distinct_to_files does (idempotent OR into versioned
    crash-safe state), but publish the trailing-window rollup — the
    rel_rolling_distinct_bitmap contract served incrementally. The
    rollup recomputes from sketch state (|days| x active-words rows),
    never from events, so per-batch publish cost is sketch-sized and a
    full replay equals the batch query exactly (OR idempotence)."""
    return _run_versioned(
        events_stream,
        path,
        checkpoint,
        reduce=bitmap_words,
        merge=_bitmap_or,
        publish=rolling_distinct_rollup,
    )


# --- streaming double-fire detection (arbitrary state) ------------------------

DOUBLE_FIRE_S = 300  # same user+type within 300 s = suspected double fire
_DF_GAP_US = DOUBLE_FIRE_S * 1_000_000


def stateful_double_fire(
    events: DataFrame, gap_s: int = DOUBLE_FIRE_S
) -> DataFrame:
    """Streaming twin of rel_double_fire_events: rapid-repeat detection
    per (user, type) as an arbitrary-state operator
    (applyInPandasWithState).

    State is THREE longs per key — the last event's (t_us, event_id,
    v_u4). Each micro-batch folds its events in (t_us, event_id) order
    against that carry and emits a row for every consecutive pair
    within the window; the new last event goes back to state. Same
    time-ordered replay contract as stateful_heartbeat_gaps: events at
    or before the carried timestamp are dropped (emitted pairs are
    final; update mode cannot retract), so a full in-order replay
    equals the batch query exactly. State is key-domain bounded
    (24 bytes per ever-seen (user, type))."""
    import pandas as pd
    from pyspark.sql import types as T

    gap_us = gap_s * 1_000_000
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("first_event", T.LongType()),
            T.StructField("dup_event", T.LongType()),
            T.StructField("gap_ms", T.LongType()),
            T.StructField("same_value", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("last_event", T.LongType()),
            T.StructField("last_v4", T.LongType()),
        ]
    )

    def update(key, pdfs, state):
        uid, etype = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        evs = sorted(
            (
                int(t) // 1000,
                int(e),
                int(v),
            )
            for t, e, v in zip(
                rows["ts"].astype("int64"),
                rows["event_id"],
                (rows["value"] * 10000).round().astype("int64"),
            )
        )
        if state.exists:
            last_us, last_event, last_v4 = (
                int(state.get[0]),
                int(state.get[1]),
                int(state.get[2]),
            )
            evs = [e for e in evs if e[0] > last_us]
            if not evs:
                return
            prev = (last_us, last_event, last_v4)
        else:
            prev = None
        out = []
        for t_us, eid, v4 in evs:
            if prev is not None and t_us - prev[0] <= gap_us:
                out.append(
                    (
                        uid,
                        etype,
                        prev[1],
                        eid,
                        (t_us - prev[0]) // 1000,
                        1 if v4 == prev[2] else 0,
                    )
                )
            prev = (t_us, eid, v4)
        state.update((prev[0], prev[1], prev[2]))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id",
                    "event_type",
                    "first_event",
                    "dup_event",
                    "gap_ms",
                    "same_value",
                ],
            )

    src = events.withWatermark("ts", WATERMARK)
    return src.groupBy("user_id", "event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


# --- streaming sliding-window rate limiter (arbitrary state) -------------------

RATE_WINDOW_S = 43200  # 12 h sliding window
RATE_LIMIT_K = 2  # allow K events per window per user


def stateful_rate_limit(
    events: DataFrame,
    window_s: int = RATE_WINDOW_S,
    k: int = RATE_LIMIT_K,
) -> DataFrame:
    """Streaming twin of rel_rate_limit_audit: the sliding-window rate
    limiter as an arbitrary-state operator (applyInPandasWithState),
    emitting the per-event allow/throttle decision an enforcing
    gateway would make.

    Semantics match the batch RANGE-frame exactly: an event's window
    count is the number of arrivals in (t - W, t] for its user, where
    ALL arrivals at the same microsecond are peers (they share one
    count — order within an instant never matters, so the decision is
    partitioning- and engine-independent). State per user is the
    arrival (timestamp, count) pairs still inside the trailing window
    — bounded by W x the user's actual rate, which is exactly what
    the limiter exists to keep small — stored as two parallel long
    arrays. Same time-ordered replay contract as
    stateful_heartbeat_gaps / stateful_double_fire: batch events at or
    before the carried max timestamp are dropped (decisions are final;
    update mode cannot retract), so an in-order replay equals the
    batch window bit-for-bit."""
    import pandas as pd
    from pyspark.sql import types as T

    w_us = window_s * 1_000_000
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("t_us", T.LongType()),
            T.StructField("win_n", T.LongType()),
            T.StructField("throttled", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("arr_ts", T.ArrayType(T.LongType())),
            T.StructField("arr_n", T.ArrayType(T.LongType())),
        ]
    )

    def update(key, pdfs, state):
        (uid,) = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        evs = sorted(
            (int(t) // 1000, int(e), str(ty))
            for t, e, ty in zip(
                rows["ts"].astype("int64"), rows["event_id"], rows["event_type"]
            )
        )
        if state.exists:
            ts_arr = list(state.get[0])
            n_arr = list(state.get[1])
            last_us = ts_arr[-1]
            evs = [e for e in evs if e[0] > last_us]
            if not evs:
                return
        else:
            ts_arr = []
            n_arr = []
        out = []
        # two-pointer sliding window: arrivals are time-ordered, so the
        # window's left edge only ever advances — a running total plus
        # one monotone pointer makes the whole batch O(events + state),
        # where the per-instant rebuild-and-resum it replaces was
        # O(events x in-window instants): quadratic on a hot key (the
        # skew5m probe caught a single 312k-event micro-batch taking
        # ~30 min; this form replays the same batch in seconds).
        tot = sum(n_arr)
        left = 0
        i = 0
        while i < len(evs):
            t = evs[i][0]
            j = i
            while j < len(evs) and evs[j][0] == t:
                j += 1
            # all arrivals at instant t are peers: count them together
            ts_arr.append(t)
            n_arr.append(j - i)
            tot += j - i
            lo = t - w_us
            while ts_arr[left] <= lo:
                tot -= n_arr[left]
                left += 1
            win_n = tot
            for t_us, eid, ty in evs[i:j]:
                out.append(
                    (uid, eid, ty, t_us, win_n, 1 if win_n > k else 0)
                )
            i = j
        state.update((ts_arr[left:], n_arr[left:]))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "event_id",
                "event_type",
                "t_us",
                "win_n",
                "throttled",
            ],
        )

    src = events.withWatermark("ts", WATERMARK)
    return src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


# --- streaming burst detection (arbitrary state) -------------------------------

BURST_MULT = 3  # burst when hourly count > 3x the trailing-24h average
BURST_BASE_H = 24
_HOUR_US = 3_600_000_000


def stateful_burst_detection(
    events: DataFrame,
    mult: int = BURST_MULT,
    base_h: int = BURST_BASE_H,
) -> DataFrame:
    """Streaming twin of rel_burst_detection: per event type, flag an
    hour whose count exceeds `mult`x the trailing-`base_h`-hour average
    (integer comparison n*base_h > mult*base, silent hours count zero).

    An hour's decision is FINAL only once the hour is CLOSED — a
    strictly later event for the type has arrived — because until then
    more events could still raise its count; the currently-open hour
    stays in state. State per type is the trailing (hour, count) pairs
    inside the baseline window plus the open hour: at most base_h + 1
    pairs, trimmed on every fold. Same time-ordered replay contract as
    the other stateful twins (events at or before the carried max
    timestamp are dropped; update mode cannot retract), so an in-order
    replay — with every hour eventually closed by a later event —
    reproduces the batch query's burst rows exactly."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("hour", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("base_n", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("hrs", T.ArrayType(T.LongType())),
            T.StructField("cnts", T.ArrayType(T.LongType())),
        ]
    )

    def update(key, pdfs, state):
        (etype,) = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        t_us = sorted(int(t) // 1000 for t in rows["ts"].astype("int64"))
        if state.exists:
            arr = list(zip(state.get[0], state.get[1]))
            last_h = arr[-1][0]
            # drop pre-carry events: hours before the open hour are
            # closed and already decided (replay contract)
            t_us = [t for t in t_us if t // _HOUR_US >= last_h]
            if not t_us:
                return
        else:
            arr = []
        out = []
        for h, n_new in pd.Series(
            [t // _HOUR_US for t in t_us]
        ).value_counts().sort_index().items():
            h, n_new = int(h), int(n_new)
            if arr and arr[-1][0] == h:
                arr[-1] = (h, arr[-1][1] + n_new)
                continue
            # a strictly later hour arrived: every earlier hour in
            # state is now closed — decide the newest closed one
            if arr:
                ch, cn = arr[-1]
                base = sum(
                    n for hh, n in arr[:-1] if ch - base_h <= hh <= ch - 1
                )
                if base > 0 and cn * base_h > mult * base:
                    out.append((etype, ch, cn, base))
            arr.append((h, n_new))
            arr = [(hh, n) for hh, n in arr if hh >= h - base_h]
        state.update(([h for h, _ in arr], [n for _, n in arr]))
        if out:
            yield pd.DataFrame(
                out, columns=["event_type", "hour", "n", "base_n"]
            )

    src = events.withWatermark("ts", WATERMARK)
    return src.groupBy("event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


# --- streaming queueing delay (arbitrary state, O(1) per key) -------------------

Q_SVC_PER_U4 = 100  # service microseconds per 1e-4 value unit


def stateful_queue_wait(
    events: DataFrame, svc_per_u4: int = Q_SVC_PER_U4
) -> DataFrame:
    """Streaming twin of rel_queue_wait_lindley: per-event FIFO waiting
    time with THREE longs of state per event type — the prefix service
    sum, the running min of D(n) = prefix - A(n), and the last arrival
    (for the replay-order contract). The batch query's running-min
    identity is exactly what makes the streaming form O(1): the
    sequential Lindley recursion would need the same two accumulators,
    but the identity proves the fold emits the SAME waits as the batch
    window on any in-order replay. Events at or before the carried
    arrival are dropped (decisions are final; update mode cannot
    retract)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("a_us", T.LongType()),
            T.StructField("w_us", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("pre_sum", T.LongType()),
            T.StructField("min_d", T.LongType()),
            T.StructField("last_key", T.ArrayType(T.LongType())),
        ]
    )

    def update(key, pdfs, state):
        (etype,) = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        evs = sorted(
            (
                int(t) // 1000,
                int(e),
                int(round(float(v) * 10000)) * svc_per_u4,
            )
            for t, e, v in zip(
                rows["ts"].astype("int64"), rows["event_id"], rows["value"]
            )
        )
        if state.exists:
            pre_sum, min_d = int(state.get[0]), int(state.get[1])
            lk = list(state.get[2])
            evs = [e for e in evs if (e[0], e[1]) > (lk[0], lk[1])]
            if not evs:
                return
            has_min = True
        else:
            pre_sum, min_d, has_min = 0, 0, False
        out = []
        for a_us, eid, s_us in evs:
            d = pre_sum - a_us
            if not has_min:
                w = 0
                min_d, has_min = d, True
            else:
                w = max(0, d - min_d)
                min_d = min(min_d, d)
            pre_sum += s_us
            out.append((etype, eid, a_us, w))
        state.update((pre_sum, min_d, [evs[-1][0], evs[-1][1]]))
        yield pd.DataFrame(
            out, columns=["event_type", "event_id", "a_us", "w_us"]
        )

    src = events.withWatermark("ts", WATERMARK)
    return src.groupBy("event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def stateful_interval_coalesce(
    events: DataFrame, svc_per_u4: int = Q_SVC_PER_U4
) -> DataFrame:
    """Streaming twin of rel_interval_coalesce: merge-overlapping-intervals
    per user with TWO longs of open-island state (start, max end) plus the
    replay cursor. Each event opens [a_us, a_us + s_us); an arrival at or
    under the carried max end EXTENDS the open island, an arrival beyond
    it CLOSES the island (emit) and opens a new one — the sweep-line flag
    of the batch window, folded. Emitted islands are final (update mode
    cannot retract); the currently-open island emits only when a later
    event closes it, so a sentinel event per user drains the tail in
    replay tests, exactly the burst-detection contract.

    INPUT-ORDER CONTRACT (r6 ADVICE): cross-batch events are replayed
    in nondecreasing (a_us, event_id) order per user. The carried
    replay cursor drops any arrival at or below the cursor — for the
    queue-wait twins that is pure idempotent dedup, but for a MERGE a
    genuinely out-of-order late event (inside the watermark, behind
    the cursor) could have extended or bridged islands and is lost
    instead. This is the documented final-decision semantics: emitted
    islands are immutable, so feeds that can reorder across batches
    must sort upstream (the replay tests do). test_streaming asserts
    the contract explicitly."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("start_us", T.LongType()),
            T.StructField("end_us", T.LongType()),
            T.StructField("covered_us", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("open_start", T.LongType()),
            T.StructField("open_end", T.LongType()),
            T.StructField("last_key", T.ArrayType(T.LongType())),
        ]
    )

    def update(key, pdfs, state):
        (user,) = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        evs = sorted(
            (
                int(t) // 1000,
                int(e),
                int(round(float(v) * 10000)) * svc_per_u4,
            )
            for t, e, v in zip(
                rows["ts"].astype("int64"), rows["event_id"], rows["value"]
            )
        )
        if state.exists:
            o_start, o_end = int(state.get[0]), int(state.get[1])
            lk = list(state.get[2])
            evs = [e for e in evs if (e[0], e[1]) > (lk[0], lk[1])]
            if not evs:
                return
            has_open = True
        else:
            o_start = o_end = 0
            has_open = False
        out = []
        for a_us, eid, s_us in evs:
            e_us = a_us + s_us
            if not has_open:
                o_start, o_end, has_open = a_us, e_us, True
            elif a_us <= o_end:
                o_end = max(o_end, e_us)
            else:
                out.append((user, o_start, o_end, o_end - o_start))
                o_start, o_end = a_us, e_us
        state.update((o_start, o_end, [evs[-1][0], evs[-1][1]]))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "start_us", "end_us", "covered_us"]
            )

    src = events.withWatermark("ts", WATERMARK)
    return src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )

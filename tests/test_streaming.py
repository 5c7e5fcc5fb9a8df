"""Structured Streaming replay tests (SURVEY.md §5 item "streaming via
file-source replay"): the streaming jobs must agree with their batch
forms when the whole fixture is replayed through micro-batches."""

from __future__ import annotations

import datetime
import os
import signal
import subprocess
import sys
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mrc_spark_jobs_pubmed_spark.plans.timeseries_queries import rel_interval_coalesce
from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table
from mrc_spark_jobs_pubmed_spark.streaming import jobs as J

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch_events(spark):
    return load_table(spark, "events", SF)


def _drain(q):
    q.processAllAvailable()
    q.stop()


_T0 = datetime.datetime(2024, 1, 1, 12, tzinfo=datetime.timezone.utc)


def _events(spark, rows):
    """Events of user 7, type view, from (event_id, seconds after _T0,
    value) rows."""
    return spark.createDataFrame(
        [
            (eid, _T0 + datetime.timedelta(seconds=dt), 7, "view", val, "{}")
            for eid, dt, val in rows
        ],
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )


def _tertiles(ev):
    """The events split into three time ranges, in time order."""
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cuts = [lo, lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3, hi]
    return [
        ev.where(
            (F.col("ts") >= F.lit(cuts[i]))
            & (
                F.col("ts") <= F.lit(cuts[i + 1])
                if i == 2
                else F.col("ts") < F.lit(cuts[i + 1])
            )
        )
        for i in range(3)
    ]


def _write_feed(src, frames):
    """Write `frames` under `src` as one single-file micro-batch each.

    The file source takes files in mtime order, so each file gets an mtime
    one second after the previous one's."""
    now = time.time()
    for i, df in enumerate(frames):
        df.coalesce(1).write.parquet(str(src / f"t{i}"))
        for f in (src / f"t{i}").iterdir():
            os.utime(f, (now - len(frames) + i,) * 2)


def _feed_stream(spark, src, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )


def _replay(spark, tmp_path, name, job, frames):
    """Replay `frames` through `job`, one single-file micro-batch each and
    in list order, into the update-mode memory sink `name`; returns the
    stopped query."""
    src = tmp_path / f"{name}_src"
    _write_feed(src, frames)
    q = (
        job(_feed_stream(spark, src, frames[0].schema))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .start()
    )
    _drain(q)
    return q


def _islands(df):
    """The (user_id, n_islands, covered_us, longest_us) rows of `df`."""
    return {
        (r.user_id, r.n_islands, r.covered_us, r.longest_us)
        for r in df.collect()
    }


def _island_rollup(df):
    """interval_coalesce twin output rolled up to the batch query's rows."""
    return df.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum("covered_us").alias("covered_us"),
        F.max("covered_us").alias("longest_us"),
    )


def _state_rows(q):
    """stateOperators[0].numRowsTotal in the last progress of `q`."""
    return q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"]


def _user_sentinel(ev):
    """One zero-length event per user, 30 days past the user's last
    event: beyond any open island's max end, so it closes the user's last
    real island (interval_coalesce); its own island never emits."""
    return (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("mx"))
        .select(
            F.lit(10**9).cast("long").alias("event_id"),
            (F.col("mx") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
            "user_id",
            F.lit("view").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        .select([f.name for f in ev.schema.fields])
    )


def test_tumbling_stream_equals_batch(spark):
    stream = J.tumbling_counts(J.read_events_stream(spark, SF))
    q = J.run_to_memory(stream, "t_tumble", "complete")
    _drain(q)
    got = {
        (r.wstart, r.event_type): (r.n, r.value_sum)
        for r in spark.sql("SELECT * FROM t_tumble").collect()
    }
    want = {
        (r.wstart, r.event_type): (r.n, r.value_sum)
        for r in J.tumbling_counts(_batch_events(spark), with_watermark=False).collect()
    }
    assert got == want and len(got) > 0


def test_chained_rollup_stream_emits_finalized_subset(spark):
    # Chained stateful aggs must run in append mode (finalized windows
    # only); complete mode trips the global-watermark correctness check.
    stream = J.chained_window_rollup(J.read_events_stream(spark, SF))
    q = J.run_to_memory(stream, "t_chain", "append")
    _drain(q)
    got = {
        (r.wstart_epoch, r.event_type): (r.n_events, r.peak_5min_n, r.n_subwindows)
        for r in spark.sql("SELECT * FROM t_chain").collect()
    }
    want = {
        (r.wstart_epoch, r.event_type): (r.n_events, r.peak_5min_n, r.n_subwindows)
        for r in J.chained_window_rollup(
            _batch_events(spark), with_watermark=False
        ).collect()
    }
    # Append emits only windows finalized by the watermark — every
    # emitted row must match the batch result exactly, and the replay
    # must have finalized a non-trivial share of them.
    assert len(got) > 0 and set(got).issubset(set(want))
    assert all(got[k] == want[k] for k in got)


def test_dedup_stream_passes_unique_rows(spark):
    stream = J.dedup_events(J.read_events_stream(spark, SF))
    q = J.run_to_memory(stream.select("event_id"), "t_dedup", "append")
    _drain(q)
    got = spark.sql("SELECT count(*) AS n FROM t_dedup").first().n
    want = _batch_events(spark).select("event_id").distinct().count()
    assert got == want


def test_session_stream_emits_finalized_subset(spark):
    stream = J.session_windows(J.read_events_stream(spark, SF))
    q = J.run_to_memory(stream, "t_sess", "append")
    _drain(q)
    got = {
        (r.user_id, r.session_start): (r.n_events, r.value_sum)
        for r in spark.sql("SELECT * FROM t_sess").collect()
    }
    want = {
        (r.user_id, r.session_start): (r.n_events, r.value_sum)
        for r in J.session_windows(_batch_events(spark), with_watermark=False).collect()
    }
    # append mode only emits sessions finalized below the watermark —
    # a subset of the batch result, and every emitted value must match.
    assert len(got) > 0
    for k, v in got.items():
        assert want.get(k) == v


def test_stateful_running_count(spark):
    """Arbitrary stateful op: per-user cumulative event count via
    applyInPandasWithState (the engine's custom-stateful-operator seam)."""
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_total", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_total": [n]})

    stream = (
        J.read_events_stream(spark, SF)
        .groupBy("user_id")
        .applyInPandasWithState(update, out_schema, state_schema, "update", "NoTimeout")
    )
    q = J.run_to_memory(stream, "t_state", "update")
    _drain(q)
    final = {
        r.user_id: r.n_total
        for r in spark.sql(
            "SELECT user_id, max(n_total) AS n_total FROM t_state GROUP BY user_id"
        ).collect()
    }
    want = {
        r.user_id: r.n
        for r in _batch_events(spark).groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert final == want


def test_file_sink_checkpoint_resume_is_idempotent(spark, tmp_path):
    # A5 generalized: re-running a finished query against the same
    # checkpoint must not duplicate output — the checkpoint, not
    # per-object existence checks, carries the resume semantics
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n_events = load_table(spark, "events", SF).count()

    for _ in range(2):  # second run replays nothing
        stream = J.dedup_events(J.read_events_stream(spark, SF))
        q = J.run_to_files(stream.select("event_id", "ts"), out, ckpt)
        q.awaitTermination(120)
    written = spark.read.parquet(out)
    assert written.count() == n_events  # fixture has unique event_ids
    assert written.select("event_id").distinct().count() == n_events


def test_interval_join_stream_equals_batch(spark):
    events = J.read_events_stream(spark, SF)
    q = J.run_to_memory(J.click_view_interval_join(events), "t_ssj", "append")
    _drain(q)
    got = {
        (r.click_id, r.view_id)
        for r in spark.sql("SELECT * FROM t_ssj").collect()
    }
    want = {
        (r.click_id, r.view_id)
        for r in J.click_view_interval_join(_batch_events(spark)).collect()
    }
    # append-mode stream may hold back rows not yet watermark-final, but
    # replay-to-exhaustion of a finite fixture emits everything
    assert got == want and len(want) > 0


def test_stateful_sessionize_stream_equals_batch(spark, tmp_path):
    """Arbitrary-state sessionization (applyInPandasWithState +
    EventTimeTimeout): every session the stream finalizes — by a
    later-than-gap event or by the watermark-driven timeout — must
    exactly match the batch fold (sessionize_batch, the oracle-checked
    registered query). Sessions whose gap-end the final watermark never
    passes stay open in state and are legitimately unemitted."""
    stream = J.stateful_sessionize(J.read_events_stream(spark, SF))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_sess")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    _drain(q)
    got = {
        (r.user_id, r.se): (r.ee, r.n_events, r.value_sum)
        for r in spark.sql(
            "SELECT user_id, unix_timestamp(session_start) AS se, "
            "unix_timestamp(session_end) AS ee, n_events, value_sum "
            "FROM t_sess"
        ).collect()
    }
    want = {
        (r.user_id, r.start_epoch): (r.end_epoch, r.n_events, r.value_sum)
        for r in J.sessionize_batch(_batch_events(spark)).collect()
    }
    assert len(got) > 0
    for k, v in got.items():
        assert want.get(k) == v, (k, v, want.get(k))
    # the replay must finalize a non-trivial share (timeouts fired)
    assert len(got) > len(want) * 0.5


def test_transform_with_state_running_count(spark, tmp_path):
    """Spark 4 arbitrary state V2 (transformWithStateInPandas): a
    per-user running event counter with explicit ValueState, emitting
    one row per micro-batch update.

    The state-server protocol needs google.protobuf, which this
    container lacks — the test skips there (applyInPandasWithState
    coverage above does not depend on it); on a protobuf-equipped
    cluster it runs.
    """
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("transformWithStateInPandas requires google.protobuf")
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.count = handle.getValueState(
                "count", T.StructType([T.StructField("n", T.LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            n = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self.count.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    stream = J.read_events_stream(spark, SF)
    counted = (
        stream.groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningCount(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("t_tws")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _drain(q)
    # last update per user == total batch count per user
    final = spark.sql(
        "SELECT user_id, max(n_events) AS n FROM t_tws GROUP BY user_id"
    )
    got = {(r.user_id, r.n) for r in final.collect()}
    want = {
        (r.user_id, r.n)
        for r in _batch_events(spark).groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and len(want) > 0


def test_static_enrich_stream_equals_batch(spark):
    cust = load_table(spark, "customer", SF)
    nation = load_table(spark, "nation", SF)
    stream = J.enriched_nation_counts(J.read_events_stream(spark, SF), cust, nation)
    q = J.run_to_memory(stream, "t_enrich", "complete")
    _drain(q)
    got = {
        (r.wstart, r.n_name): (r.n, r.value_sum)
        for r in spark.sql("SELECT * FROM t_enrich").collect()
    }
    want = {
        (r.wstart, r.n_name): (r.n, r.value_sum)
        for r in J.enriched_nation_counts(
            _batch_events(spark), cust, nation, with_watermark=False
        ).collect()
    }
    assert got == want and len(got) > 0


def test_windowed_topk_stream_equals_batch(spark, tmp_path):
    """foreachBatch top-k: after draining the replay, the ranked serving
    copy must equal the batch rank over the full history — update-mode
    deltas merged (anti-join upsert) into the counts serving copy
    reconstruct the batch aggregate exactly."""
    out = str(tmp_path / "topk_out")
    ckpt = str(tmp_path / "topk_ckpt")
    stream = J.windowed_type_counts(J.read_events_stream(spark, SF))
    q = J.run_topk_to_files(stream, out, ckpt)
    _drain(q)
    got = {
        (r.wstart, r.event_type): (r.n, r.rnk)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.wstart, r.event_type): (r.n, r.rnk)
        for r in J.rank_topk(
            J.windowed_type_counts(_batch_events(spark), with_watermark=False)
        ).collect()
    }
    assert got == want and len(got) > 0
    per_window: dict = {}
    for (_w, _t), (_n, rnk) in got.items():
        per_window.setdefault(_w, []).append(rnk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_window.values())
    assert all(len(v) <= J.TOPK_K for v in per_window.values())


def test_cdc_apply_stream_equals_batch(spark, tmp_path):
    """Streaming CDC apply (foreachBatch latest-wins MERGE) must
    materialize exactly the table the batch full-replay produces —
    regardless of how the changelog is split into micro-batches, since
    latest-wins on the (t_us, event_id) LSN is associative and
    tombstones persist in the state copy. Replays the fixture as THREE
    files (one per micro-batch) in hash order, i.e. not time order."""
    src = str(tmp_path / "cdc_src")
    # split by hash, NOT by time: batches arrive with interleaved LSNs,
    # so the merge must actually resolve cross-batch conflicts
    _batch_events(spark).repartition(3, "event_id").write.parquet(src)
    stream = (
        spark.readStream.schema(_batch_events(spark).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "cdc_serving")
    q = J.run_cdc_apply_to_files(
        stream, out, str(tmp_path / "cdc_ckpt")
    )
    _drain(q)
    got = {
        (r.user_id): (r.t_us, r.event_id, r.last_type, r.v_u4)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.user_id): (r.t_us, r.event_id, r.last_type, r.v_u4)
        for r in J.cdc_apply_batch(_batch_events(spark)).collect()
    }
    assert got == want and len(got) > 0
    # the state copy holds exactly one row per user ever seen, live or
    # deleted: the key domain, never the stream volume
    state = J.read_state(spark, out + "_state", q.lastProgress["batchId"])
    users = [r.user_id for r in state.collect()]
    n_users = _batch_events(spark).select("user_id").distinct().count()
    assert len(users) == len(set(users)) == n_users
    # tombstones stay in state (no resurrection by a late older upsert)
    # while the serving table leaves them out
    tombs = {r.user_id for r in state.where(F.col("op") == "delete").collect()}
    assert tombs and not tombs & got.keys()
    assert len(got) == n_users - len(tombs)


def test_heartbeat_gaps_stream_equals_batch(spark, tmp_path):
    """Streaming heartbeat-gap detection (applyInPandasWithState,
    one-long-per-user state) must emit exactly the closed gaps the
    batch query (rel_heartbeat_gaps, oracle-checked) reports, when the
    fixture replays as time-ordered micro-batches (range-split files —
    a heartbeat monitor's arrival order)."""
    from mrc_spark_jobs_pubmed_spark.plans.timeseries_queries import (
        rel_heartbeat_gaps,
    )

    # the three time-tertiles replay as time-ordered micro-batches — a
    # heartbeat monitor's arrival order
    ev = _batch_events(spark)
    _replay(spark, tmp_path, "t_hb", J.stateful_heartbeat_gaps, _tertiles(ev))
    got = {
        (r.user_id, r.gap_start_us, r.gap_end_us, r.gap_s)
        for r in spark.sql("SELECT * FROM t_hb").collect()
    }
    want = {
        (r.user_id, r.gap_start_us, r.gap_end_us, r.gap_s)
        for r in rel_heartbeat_gaps(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_cdc_apply_resumes_from_checkpoint(spark, tmp_path):
    """Stop-and-restart recovery: the CDC apply must resume from its
    checkpoint — files that arrive after a stop are merged on restart
    (same checkpoint, same state path) and the final serving table
    equals the batch full-replay. This is the A5 skip-if-exists resume
    contract, upgraded to exactly-once by the streaming checkpoint."""
    import os

    src = str(tmp_path / "cdcr_src")
    os.makedirs(src)
    ev = _batch_events(spark)
    half = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    ev.where(F.col("event_id") <= half).coalesce(1).write.parquet(
        f"{src}/part0"
    )
    out = str(tmp_path / "cdcr_serving")
    ckpt = str(tmp_path / "cdcr_ckpt")

    def _start():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return J.run_cdc_apply_to_files(stream, out, ckpt)

    q = _start()
    _drain(q)  # first half processed, query STOPPED
    ev.where(F.col("event_id") > half).coalesce(1).write.parquet(
        f"{src}/part1"
    )
    q2 = _start()  # restart against the same checkpoint
    _drain(q2)
    got = {
        (r.user_id): (r.t_us, r.event_id, r.last_type, r.v_u4)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.user_id): (r.t_us, r.event_id, r.last_type, r.v_u4)
        for r in J.cdc_apply_batch(ev).collect()
    }
    assert got == want and len(got) > 0


# the serving state lives on the path's own Hadoop filesystem, so a URI
# path must behave exactly like a bare local path
_PATH_FORMS = pytest.mark.parametrize(
    "as_path", [str, lambda p: p.as_uri()], ids=["local", "file_uri"]
)


@_PATH_FORMS
def test_bitmap_distinct_stream_equals_batch(spark, tmp_path, as_path):
    """Streaming exact-distinct maintenance (foreachBatch bitmap
    OR-merge) must serve exactly the batch rollup rel_bitmap_distinct
    computes, for ANY micro-batch split — OR is associative and
    commutative. Replays the fixture as three hash-split files, so
    every day's users arrive scattered across batches."""
    src = str(tmp_path / "bm_src")
    _batch_events(spark).repartition(3, "event_id").write.parquet(src)
    stream = (
        spark.readStream.schema(_batch_events(spark).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = as_path(tmp_path / "bm_serving")
    q = J.run_bitmap_distinct_to_files(
        stream, out, as_path(tmp_path / "bm_ckpt")
    )
    _drain(q)
    got = {
        r.day: (r.n_words, r.n_users_bitmap)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.day: (r.n_words, r.n_users_bitmap)
        for r in J.bitmap_distinct_rollup(
            J.bitmap_words(_batch_events(spark))
        ).collect()
    }
    assert got == want and len(got) > 0


def test_bitmap_distinct_merge_is_idempotent(spark, tmp_path):
    """Replaying the SAME data twice (at-least-once delivery) must not
    change the bitmap state: OR is idempotent, so duplicate deliveries
    are absorbed — the property that distinguishes this sketch from a
    count-based rollup (which double-counts without an LSN merge)."""
    src = str(tmp_path / "bmi_src")
    ev = _batch_events(spark)
    # the same rows written twice = two overlapping micro-batches
    ev.write.parquet(src)
    ev.write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "bmi_serving")
    q = J.run_bitmap_distinct_to_files(
        stream, out, str(tmp_path / "bmi_ckpt")
    )
    _drain(q)
    got = {
        r.day: (r.n_words, r.n_users_bitmap)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.day: (r.n_words, r.n_users_bitmap)
        for r in J.bitmap_distinct_rollup(J.bitmap_words(ev)).collect()
    }
    assert got == want and len(got) > 0


def test_stateful_ewma_stream_equals_batch(spark, tmp_path):
    """Streaming dyadic EWMA (applyInPandasWithState, <= K longs of
    state per user) must converge to exactly the batch query
    (rel_ewma_smoothing, oracle-checked) after a full time-ordered
    replay — EXACT tuple equality, possible because the dyadic integer
    arithmetic has no accumulation error. The latest emitted row per
    user (max n_events) is the serving value."""
    from mrc_spark_jobs_pubmed_spark.plans.timeseries_queries import (
        rel_ewma_smoothing,
    )

    ev = _batch_events(spark)
    _replay(spark, tmp_path, "t_ewma", J.stateful_ewma, _tertiles(ev))
    got = {}
    for r in spark.sql("SELECT * FROM t_ewma").collect():
        prev = got.get(r.user_id)
        if prev is None or r.n_events > prev[0]:
            got[r.user_id] = (r.n_events, r.last_v_u4, r.ewma_u4)
    want = {
        r.user_id: (r.n_events, r.last_v_u4, r.ewma_u4)
        for r in rel_ewma_smoothing(spark, SF).collect()
    }
    assert got == want and len(got) > 0


@_PATH_FORMS
def test_versioned_state_survives_partial_write(spark, tmp_path, as_path):
    """Crash-safety contract of the foreachBatch serving state: a
    partial (no _SUCCESS) version directory — the artifact a crash
    mid-write leaves behind — must be IGNORED by read_state, and
    write_state must prune only after the new version is complete, so
    the last good state can never be destroyed."""
    import os

    state_dir = as_path(tmp_path / "state")

    df1 = spark.range(3).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    J.write_state(df1, state_dir, batch_id=0)
    assert J.read_state(spark, state_dir, 5).count() == 3

    # simulate a crash mid-write of v1: parquet files present, no _SUCCESS
    df2 = spark.range(7).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    df2.write.mode("overwrite").parquet(f"{state_dir}/v1")
    os.remove(str(tmp_path / "state" / "v1" / "_SUCCESS"))

    got = J.read_state(spark, state_dir, 5)
    assert got.count() == 3, "partial v1 must be ignored, v0 served"

    # the replayed batch 1 overwrites its own partial attempt and prunes v0
    J.write_state(df2, state_dir, batch_id=1)
    assert J.read_state(spark, state_dir, 5).count() == 7
    assert sorted(os.listdir(tmp_path / "state")) == ["v1"]

    # a version NEWER than the replaying batch id is never served
    assert J.read_state(spark, state_dir, 0) is None


def test_rolling_distinct_stream_equals_batch(spark, tmp_path):
    """The streaming rolling-WAU maintainer must serve exactly the
    batch rel_rolling_distinct_bitmap rollup after a full replay, for
    any micro-batch split (bitmap OR is associative, commutative, and
    idempotent; the rollup recomputes from sketch state)."""
    src = str(tmp_path / "rd_src")
    _batch_events(spark).repartition(3, "event_id").write.parquet(src)
    stream = (
        spark.readStream.schema(_batch_events(spark).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "rd_serving")
    q = J.run_rolling_distinct_to_files(
        stream, out, str(tmp_path / "rd_ckpt")
    )
    _drain(q)
    got = {
        r.day: r[f"n_users_{J.ROLL_DAYS}d"]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.day: r[f"n_users_{J.ROLL_DAYS}d"]
        for r in J.rolling_distinct_rollup(
            J.bitmap_words(_batch_events(spark))
        ).collect()
    }
    assert got == want and len(got) > 0


def test_double_fire_stream_equals_batch(spark, tmp_path):
    """Streaming double-fire detection (applyInPandasWithState, three
    longs per (user, type)) must emit exactly the pairs the batch
    query (rel_double_fire_events, oracle-checked) reports under a
    time-ordered micro-batch replay."""
    from mrc_spark_jobs_pubmed_spark.plans.timeseries_queries import (
        rel_double_fire_events,
    )

    ev = _batch_events(spark)
    _replay(
        spark,
        tmp_path,
        "t_df",
        lambda stream: J.stateful_double_fire(stream, gap_s=3600),
        _tertiles(ev),
    )
    got = {
        (r.user_id, r.event_type, r.first_event, r.dup_event, r.gap_ms, r.same_value)
        for r in spark.sql("SELECT * FROM t_df").collect()
    }
    want = {
        (r.user_id, r.event_type, r.first_event, r.dup_event, r.gap_ms, r.same_value)
        for r in rel_double_fire_events(spark, SF, gap_s=3600).collect()
    }
    assert got == want and len(want) > 0


def test_rate_limit_stream_equals_batch(spark, tmp_path):
    """Streaming sliding-window rate limiter (applyInPandasWithState,
    per-user arrival window in state) must reproduce the batch
    RANGE-frame window count and throttle decision for every event
    under a time-ordered micro-batch replay."""
    from pyspark.sql import Window

    W_S, K = 43200, 2
    ev = _batch_events(spark)
    _replay(
        spark,
        tmp_path,
        "t_rl",
        lambda stream: J.stateful_rate_limit(stream, window_s=W_S, k=K),
        _tertiles(ev),
    )
    got = {
        (r.user_id, r.event_id, r.event_type, r.t_us, r.win_n, r.throttled)
        for r in spark.sql("SELECT * FROM t_rl").collect()
    }
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-(W_S * 1_000_000 - 1), 0)
    )
    batch = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
    ).select(
        "user_id",
        "event_id",
        "event_type",
        "t_us",
        F.count("*").over(w).alias("win_n"),
    )
    want = {
        (
            r.user_id,
            r.event_id,
            r.event_type,
            r.t_us,
            r.win_n,
            1 if r.win_n > K else 0,
        )
        for r in batch.collect()
    }
    assert got == want and len(want) > 0
    assert any(t[5] == 1 for t in want)  # policy actually throttles


def test_burst_detection_stream_equals_batch(spark, tmp_path):
    """Streaming burst detection (applyInPandasWithState, trailing
    hourly counts per type) must emit exactly the batch query's burst
    rows once every real hour is closed by a later event (a sentinel
    event per type, 48 h after the fixture's end, closes the last open
    hour without entering any baseline)."""
    from mrc_spark_jobs_pubmed_spark.plans.timeseries_queries import (
        rel_burst_detection,
    )

    ev = _batch_events(spark)
    # sentinel: one event per type, 48 h past the end — closes the last
    # real hour; its own hour never closes and never emits
    sent = (
        ev.groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .select(
            F.lit(10**9).cast("long").alias("event_id"),
            (F.col("mx") + F.expr("INTERVAL 48 HOURS")).alias("ts"),
            F.lit(0).cast("long").alias("user_id"),
            "event_type",
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    sent = sent.select([f.name for f in ev.schema.fields])
    _replay(
        spark, tmp_path, "t_bd", J.stateful_burst_detection, _tertiles(ev) + [sent]
    )
    got = {
        (r.event_type, r.hour, r.n, r.base_n)
        for r in spark.sql("SELECT * FROM t_bd").collect()
    }
    want = {
        (r.event_type, r.hour, r.n, r.base_n)
        for r in rel_burst_detection(spark, SF).collect()
    }
    assert got == want and len(want) > 0


def test_queue_wait_stream_equals_batch(spark, tmp_path):
    """Streaming Lindley queue (applyInPandasWithState, three longs per
    type) must emit the identical per-event waits as the batch
    running-min window under a time-ordered replay."""
    from pyspark.sql import Window

    ev = _batch_events(spark)
    q = _replay(spark, tmp_path, "t_qw", J.stateful_queue_wait, _tertiles(ev))
    got = {
        (r.event_type, r.event_id, r.a_us, r.w_us)
        for r in spark.sql("SELECT * FROM t_qw").collect()
    }
    jobs = ev.select(
        "event_type",
        F.unix_micros("ts").alias("a_us"),
        (F.expr("CAST(round(value * 10000) AS BIGINT)") * J.Q_SVC_PER_U4).alias(
            "s_us"
        ),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("a_us", "event_id")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    seq = jobs.select(
        "event_type",
        "event_id",
        "a_us",
        (F.coalesce(F.sum("s_us").over(wp), F.lit(0)) - F.col("a_us")).alias(
            "d_n"
        ),
    )
    batch = seq.select(
        "event_type",
        "event_id",
        "a_us",
        F.greatest(
            F.col("d_n") - F.coalesce(F.min("d_n").over(wp), F.col("d_n")),
            F.lit(0),
        ).alias("w_us"),
    )
    want = {
        (r.event_type, r.event_id, r.a_us, r.w_us) for r in batch.collect()
    }
    assert got == want and len(want) > 0
    assert any(t[3] > 0 for t in want)  # queue actually backs up somewhere
    # three longs per event type: the state is the type domain, however
    # many events stream through
    assert _state_rows(q) == ev.select("event_type").distinct().count()


def test_interval_coalesce_stream_equals_batch(spark, tmp_path):
    """Streaming interval coalescing (applyInPandasWithState, two longs
    of open-island state per user) must emit exactly the batch query's
    merged islands once a later arrival closes each one — a sentinel
    event per user, far past the end, drains the final open islands;
    the sentinel's own island never emits."""
    ev = _batch_events(spark)
    q = _replay(
        spark,
        tmp_path,
        "t_ic",
        J.stateful_interval_coalesce,
        _tertiles(ev) + [_user_sentinel(ev)],
    )
    want = _islands(rel_interval_coalesce(spark, SF))
    assert _islands(_island_rollup(spark.table("t_ic"))) == want and want
    # two longs (+ the replay cursor) per user: the state is the user
    # domain; the sentinel's own open island keeps every user in it
    assert _state_rows(q) == ev.select("user_id").distinct().count()


def test_interval_coalesce_cursor_drops_behind_cursor_late_event(spark, tmp_path):
    """Input-order contract (r6 ADVICE): an out-of-order cross-batch
    arrival that sorts at or below the carried replay cursor is DROPPED,
    even inside the watermark — emitted islands are final and cannot be
    retracted in update mode. The late event here would have BRIDGED the
    two islands into one; the contract says it must not."""
    _replay(
        spark,
        tmp_path,
        "t_icc",
        J.stateful_interval_coalesce,
        [
            # batch 0: island A [0s,10s) closed by the event at 100s
            # (cursor -> 100s)
            _events(spark, [(1, 0, 10.0), (2, 100, 10.0)]),
            # batch 1: late event at 50s, inside the 10-min watermark but
            # behind the (100s, 2) cursor; service 200s would bridge A
            # into [0s,250s)
            _events(spark, [(3, 50, 200.0)]),
            # batch 2: sentinel far past the end drains island B [100s,110s)
            _events(spark, [(9, 3000, 0.0)]),
        ],
    )
    base = int(_T0.timestamp()) * 1_000_000
    got = {
        (r.user_id, r.start_us - base, r.end_us - base, r.covered_us)
        for r in spark.sql("SELECT * FROM t_icc").collect()
    }
    # final-decision semantics: two separate 10 s islands; the behind-
    # cursor bridge event leaves no trace
    assert got == {
        (7, 0, 10_000_000, 10_000_000),
        (7, 100_000_000, 110_000_000, 10_000_000),
    }


# Per twin: batch 0, which sets the replay cursor; batch 1 without its late
# event; and that late event, inside the 10-min watermark but behind the
# cursor. Rows are (event_id, seconds after _T0, value) of user 7's views.
_CURSOR_CASES = {
    # the gap (5000s, 9000s); folded, 4800s would make it (4800s, 9000s)
    "heartbeat_gaps": (
        J.stateful_heartbeat_gaps,
        [(1, 0, 1.0), (2, 5000, 1.0)],
        [(4, 9000, 1.0)],
        (3, 4800, 1.0),
    ),
    # the pair (2, 4); folded, 900s would pair 2 with 3 and 3 with 4
    "double_fire": (
        J.stateful_double_fire,
        [(1, 0, 1.0), (2, 1000, 1.0)],
        [(4, 1100, 1.0)],
        (3, 900, 1.0),
    ),
    # event 4 sees 3 arrivals in its window; folded, 50s would be a fourth
    "rate_limit": (
        J.stateful_rate_limit,
        [(1, 0, 1.0), (2, 100, 1.0)],
        [(4, 200, 1.0)],
        (3, 50, 1.0),
    ),
    # batch 0 decides hour 1 and leaves hour 2 open; folded, an event of
    # the decided hour 1 would decide hour 1 a second time
    "burst_detection": (
        J.stateful_burst_detection,
        [(1, 100, 1.0), (2, 3700, 1.0), (3, 7210, 1.0)],
        [(5, 10810, 1.0)],
        (4, 7140, 1.0),
    ),
    # folded, the 200s job arriving at 50s would queue event 4 behind it
    "queue_wait": (
        J.stateful_queue_wait,
        [(1, 0, 10.0), (2, 100, 1.0)],
        [(4, 200, 0.0)],
        (3, 50, 200.0),
    ),
}


@pytest.mark.parametrize("twin", sorted(_CURSOR_CASES))
def test_replay_cursor_drops_behind_cursor_event(spark, tmp_path, twin):
    """Replay-cursor contract of the NoTimeout twins: a batch-1 event at or
    behind the cursor batch 0 left in state is dropped, so the emitted rows
    equal those of the same replay without it (emitted rows are final;
    update mode cannot retract)."""
    job, first, second, late = _CURSOR_CASES[twin]

    def emitted(name, batch1):
        _replay(
            spark,
            tmp_path,
            name,
            job,
            [_events(spark, first), _events(spark, batch1)],
        )
        return sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect())

    want = emitted(f"t_cur_{twin}", second)
    assert emitted(f"t_cur_late_{twin}", [late] + second) == want and want


# --- hard kill and restart ---------------------------------------------------

_KILL_AT = 1  # the micro-batch a crashing run dies inside


def _coalesce_to_files(stream, out, ckpt, kill_at=None):
    """interval_coalesce into one parquet directory per micro-batch, which
    a re-executed batch overwrites, so at-least-once delivery cannot
    duplicate rows. With `kill_at`, the process dies right after writing
    that batch's output, before the batch commits."""

    def sink(bdf, bid):
        bdf.write.mode("overwrite").parquet(f"{out}/b{bid:05d}")
        if bid == kill_at:
            os._exit(9)

    return (
        J.stateful_interval_coalesce(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _bitmap_to_files(stream, out, ckpt, kill_at=None):
    """run_bitmap_distinct_to_files. With `kill_at`, the process dies right
    after publishing that batch's state version, before the serving table
    and the commit: the restart merges the batch into a state that already
    holds it."""
    if kill_at is not None:
        write_state = J.write_state

        def write_then_die(df, state_dir, batch_id):
            write_state(df, state_dir, batch_id)
            if batch_id == kill_at:
                os._exit(9)

        J.write_state = write_then_die
    return J.run_bitmap_distinct_to_files(stream, out, ckpt)


# job -> (feed frames, start, served rows of an output dir, batch rows)
_CRASH_JOBS = {
    "interval_coalesce": (
        lambda ev: _tertiles(ev) + [_user_sentinel(ev)],
        _coalesce_to_files,
        lambda spark, out: _islands(
            _island_rollup(
                spark.read.option("recursiveFileLookup", "true").parquet(out)
            )
        ),
        lambda spark: _islands(rel_interval_coalesce(spark, SF)),
    ),
    "bitmap_distinct": (
        _tertiles,
        _bitmap_to_files,
        lambda spark, out: {tuple(r) for r in spark.read.parquet(out).collect()},
        lambda spark: {
            tuple(r)
            for r in J.bitmap_distinct_rollup(
                J.bitmap_words(_batch_events(spark))
            ).collect()
        },
    ),
}


def _crash_child(job, src, out, ckpt):
    """Child-process body: run `job` over the feed in `src` and die inside
    micro-batch _KILL_AT (no query stop, no JVM shutdown)."""
    from mrc_spark_jobs_pubmed_spark.session import get_session

    spark = get_session(app_name="crash-child", shuffle_partitions=8)
    start = _CRASH_JOBS[job][1]
    stream = _feed_stream(spark, src, _batch_events(spark).schema)
    start(stream, out, ckpt, _KILL_AT).processAllAvailable()


@pytest.mark.parametrize("job", sorted(_CRASH_JOBS))
def test_hard_kill_mid_batch_resumes_exactly(spark, tmp_path, job):
    """A child process dies by os._exit inside micro-batch _KILL_AT, after
    that batch wrote its output (or state) and before it committed. This
    process, which never ran the query, restarts it from the same
    checkpoint: the killed batch must re-execute (and no committed one),
    and the final output must equal both a clean run's and the batch
    query's. The file-sink resume tests above stop cleanly; this one
    crosses a real crash boundary."""
    frames, start, served, batch = _CRASH_JOBS[job]
    src = tmp_path / "src"
    _write_feed(src, frames(_batch_events(spark)))
    out, ckpt = str(tmp_path / "crashed_out"), str(tmp_path / "crashed_ckpt")
    log = tmp_path / "child.log"
    with open(log, "w") as f:
        child = subprocess.Popen(
            [
                sys.executable,
                "-c",
                "import sys; from tests.test_streaming import _crash_child;"
                " _crash_child(*sys.argv[1:])",
                job, str(src), out, ckpt,
            ],
            cwd=REPO, stdout=f, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            rc = child.wait(timeout=600)
        finally:
            # the child's JVM is in its process group: kill what is left
            try:
                os.killpg(child.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    assert rc == 9, log.read_text()[-3000:]

    schema = _batch_events(spark).schema
    q = start(_feed_stream(spark, src, schema), out, ckpt)
    _drain(q)
    resumed = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
    assert resumed and min(resumed) == _KILL_AT, resumed

    clean = str(tmp_path / "clean_out")
    _drain(start(_feed_stream(spark, src, schema), clean, str(tmp_path / "clean_ckpt")))
    recovered = served(spark, out)
    assert recovered == served(spark, clean) == batch(spark) and recovered

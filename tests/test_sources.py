"""Source surface tests: the `format("pubmed")` data source (batch and
streaming), the events-fixture loader's timestamp handling, and the
Python UDTF table-function seam."""

from __future__ import annotations

import pytest
from pyspark.sql.functions import udtf


def test_python_udtf_lateral_join(spark):
    @udtf(returnType="word: string, wlen: int")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").split():
                yield w, len(w)

    spark.udtf.register("split_words", SplitWords)
    df = spark.createDataFrame([(1, "big data"), (2, "spark")], ["id", "txt"])
    df.createOrReplaceTempView("t_udtf_in")
    out = spark.sql(
        "SELECT t.id, s.word, s.wlen FROM t_udtf_in t, LATERAL split_words(t.txt) s"
    )
    got = {(r.id, r.word, r.wlen) for r in out.collect()}
    assert got == {(1, "big", 3), (1, "data", 4), (2, "spark", 5)}


def test_pubmed_datasource_scan(spark):
    from mrc_spark_jobs_pubmed_spark.pipeline.ingest import mock_fetcher, mock_search
    from mrc_spark_jobs_pubmed_spark.sources import pubmed_datasource

    pubmed_datasource.register(spark)
    df = (
        spark.read.format("pubmed")
        .option("begin_year", "2019")
        .option("end_year", "2019")
        .load()
    )
    rows = df.collect()
    # 12 months, ceil(total/10000) pages each; every page fetched once
    assert {(r.year, r.month) for r in rows} == {(2019, m) for m in range(1, 13)}
    assert all(r.n_attempts == 1 and r.payload for r in rows)
    # page math and payload bytes match the pipeline-stage mocks exactly
    url, total = mock_search(2019, 1)
    jan = sorted(r.offset for r in rows if r.month == 1)
    assert jan == list(range(0, total, 10_000))
    first = next(r for r in rows if r.month == 1 and r.offset == 0)
    assert first.payload == mock_fetcher(f"{url}&retstart=0")
    assert first.page_key == "2019_1_num_0"


def test_pubmed_datasource_partition_per_month(spark):
    from mrc_spark_jobs_pubmed_spark.sources.pubmed_datasource import PubmedReader

    reader = PubmedReader({"begin_year": "2000", "end_year": "2001"})
    parts = reader.partitions()
    assert len(parts) == 24  # concurrency unit = (year, month)


def test_pubmed_datasource_streaming_microbatches(spark, tmp_path):
    from mrc_spark_jobs_pubmed_spark.sources import pubmed_datasource

    pubmed_datasource.register(spark)
    opts = {"begin_year": "2019", "end_year": "2019", "months_per_batch": "4"}
    stream = spark.readStream.format("pubmed").options(**opts).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("t_pubmed_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM t_pubmed_stream")
    batch = (
        spark.read.format("pubmed")
        .option("begin_year", "2019")
        .option("end_year", "2019")
        .load()
    )
    # stream replay == batch scan, delivered over >=3 micro-batches (12mo/4)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in batch.collect()}
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3


def test_pubmed_stream_offsets_monotonic_across_restart():
    """latestOffset must never fall behind a committed/checkpointed
    offset: a fresh reader instance (restart) that replays committed
    state through partitions()/commit() resumes there, not at 0."""
    from mrc_spark_jobs_pubmed_spark.sources.pubmed_datasource import (
        PubmedStreamReader,
    )

    opts = {"begin_year": "2019", "end_year": "2020", "months_per_batch": "5"}
    r1 = PubmedStreamReader(opts)
    assert r1.initialOffset() == {"idx": 0}
    assert r1.latestOffset() == {"idx": 5}
    assert r1.latestOffset() == {"idx": 10}
    r1.commit({"idx": 10})

    # simulated restart: new instance, engine replays the committed range
    r2 = PubmedStreamReader(opts)
    parts = r2.partitions({"idx": 5}, {"idx": 10})
    assert len(parts) == 5
    r2.commit({"idx": 10})
    nxt = r2.latestOffset()
    assert nxt == {"idx": 15}  # resumes AFTER the committed month, not at 5
    assert len(r2.partitions({"idx": 10}, nxt)) == 5

    # offsets are clamped at the end of the work list (24 months)
    for _ in range(10):
        last = r2.latestOffset()
    assert last == {"idx": 24}


@pytest.mark.parametrize("sf_dir", [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
])
def test_events_ts_unit_matches_duckdb(spark, duck, sf_dir):
    """Guard against timestamp-unit drift in the events fixture.

    The fixture's parquet timeUnit changed between rounds (nanos -> micros)
    and silently broke every time-window query. This invariant pins the
    loader to whatever the footer actually says: Spark's min/max ts must
    equal DuckDB's read of the same file, at every fixture scale.
    """
    from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table

    row = load_table(spark, "events", sf_dir).selectExpr(
        "min(ts) AS lo", "max(ts) AS hi"
    ).first()
    d_lo, d_hi = duck.execute(
        f"SELECT min(ts), max(ts) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    assert row["lo"].replace(tzinfo=None) == d_lo.replace(tzinfo=None)
    assert row["hi"].replace(tzinfo=None) == d_hi.replace(tzinfo=None)


def test_events_nanos_fixture_fallback(spark, tmp_path):
    """The ns→µs fallback path: a TIMESTAMP(NANOS) events.parquet must load
    with the same values a micros file would carry (truncation, DuckDB
    semantics), driven purely by the footer sniff."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mrc_spark_jobs_pubmed_spark.sources.catalog import events_read_plan, load_table

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = {
        "event_id": [1, 2],
        "ts": [base, base + datetime.timedelta(minutes=90, microseconds=123456)],
        "user_id": [10, 11],
        "event_type": ["view", "click"],
        "value": [1.0, 2.0],
        "props": ["{}", "{}"],
    }
    table = pa.table(
        rows,
        schema=pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("ns")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
    )
    pq.write_table(table, str(tmp_path / "events.parquet"), store_schema=False)

    schema, needs_conversion = events_read_plan(str(tmp_path))
    assert needs_conversion
    got = sorted(
        (r["event_id"], r["ts"].replace(tzinfo=None))
        for r in load_table(spark, "events", str(tmp_path)).collect()
    )
    assert got == [(1, base), (2, base + datetime.timedelta(minutes=90, microseconds=123456))]


def test_events_reload_roundtrip_int96(spark, tmp_path):
    """Events WRITTEN by the engine (Spark's default INT96 timestamp
    encoding) must re-load through load_table: pyarrow reports INT96 as
    timestamp[ns], and the footer sniffer must not route it down the
    int64-nanos raw-read path (physical-type mismatch abort)."""
    import os

    from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table

    src = load_table(spark, "events", "/root/testdata/sf0.001").limit(5)
    out = str(tmp_path / "events.parquet")
    src.write.parquet(out)
    # sibling tables aren't needed — load_table reads only events here
    back = load_table(spark, "events", str(tmp_path))
    rows = back.collect()
    assert len(rows) == 5
    got = {r.event_id: r.ts for r in rows}
    want = {r.event_id: r.ts for r in src.collect()}
    assert got == want

"""`format("pubmed")` — the reference's ingest job as a Spark 4 Python
DataSource (SURVEY.md §2 A1-A3 alternative packaging).

The reference drives NCBI esearch/efetch with a driver loop + RDD
foreach side effects (spark-pubmed/job_pubmed_submit.py:63-100). As a
``pyspark.sql.datasource.DataSource`` the same ingest becomes a real
scan node: one ``InputPartition`` per (year, month) — so fetch
concurrency is partition scheduling, the declarative form of the
reference's 4-worker cap (spark-pubmed/README.md:20) — and each
partition pages through its record count in 10k steps with BOUNDED
retry (the reference retried forever, bug B5).

HTTP is represented by the same deterministic mocks the pipeline stage
uses (`pipeline.ingest.mock_search` / `mock_fetcher`); a real deployment
replaces those two module functions with requests-backed ones — the
DataSource surface (schema, partitioning, retry, pagination) is
identical either way.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from mrc_spark_jobs_pubmed_spark.pipeline.ingest import (
    PAGE_SIZE,
    fetch_with_retry,
    mock_fetcher,
    mock_search,
)

SCHEMA_DDL = (
    "page_key string, year int, month int, offset bigint, "
    "payload string, n_attempts int"
)


class MonthPartition(InputPartition):
    def __init__(self, year: int, month: int):
        self.year = year
        self.month = month


class PubmedReader(DataSourceReader):
    def __init__(self, options: dict):
        self.begin_year = int(options.get("begin_year", "2019"))
        self.end_year = int(options.get("end_year", "2020"))
        self.page_size = int(options.get("page_size", str(PAGE_SIZE)))
        self.max_retries = int(options.get("max_retries", "5"))

    def partitions(self):
        return [
            MonthPartition(y, m)
            for y in range(self.begin_year, self.end_year + 1)
            for m in range(1, 13)
        ]

    def read(self, partition: MonthPartition):
        y, m = partition.year, partition.month
        url, total = mock_search(y, m)
        for offset in range(0, total, self.page_size):
            payload, attempts = fetch_with_retry(
                mock_fetcher, f"{url}&retstart={offset}", self.max_retries
            )
            yield (f"{y}_{m}_num_{offset}", y, m, offset, payload, attempts)


class PubmedStreamReader(DataSourceStreamReader):
    """Micro-batch ingest: the offset is an index into the (year, month)
    work list, so each batch fetches the next `months_per_batch` months —
    incremental, checkpointable replay of the same ingest the batch
    reader does in one pass. Restart-from-checkpoint resumes at the
    committed month, the streaming-native form of the reference's
    skip-if-exists resume (A5).
    """

    def __init__(self, options: dict):
        self._batch = PubmedReader(options)
        self.months = [
            (y, m)
            for y in range(self._batch.begin_year, self._batch.end_year + 1)
            for m in range(1, 13)
        ]
        self.months_per_batch = int(options.get("months_per_batch", "3"))
        # in-memory progress; after a checkpoint restart the engine replays
        # the committed offset through partitions()/commit(), which re-seed
        # these so latestOffset stays monotonic (never behind the committed
        # start — a fresh instance starting at 0 would otherwise hand the
        # engine reversed/empty batch ranges)
        self._cur = 0
        self._committed = 0

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def latestOffset(self) -> dict:
        # advance a bounded window per micro-batch, monotonic w.r.t. both
        # this instance's progress and any offset committed/replayed from a
        # checkpoint; a real HTTP source would report server-side
        # availability here instead
        base = max(self._cur, self._committed)
        self._cur = min(base + self.months_per_batch, len(self.months))
        return {"idx": self._cur}

    def partitions(self, start: dict, end: dict):
        # seeing a start beyond our counter means we restarted from a
        # checkpoint — adopt it so the next latestOffset resumes there
        self._cur = max(self._cur, start["idx"], end["idx"])
        return [
            MonthPartition(y, m) for (y, m) in self.months[start["idx"] : end["idx"]]
        ]

    def read(self, partition: MonthPartition):
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        self._committed = max(self._committed, end["idx"])


class PubmedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pubmed"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema) -> PubmedReader:
        return PubmedReader(self.options)

    def streamReader(self, schema) -> PubmedStreamReader:
        return PubmedStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(PubmedDataSource)

"""End-to-end pipeline tests with deterministic mock HTTP (SURVEY.md §7
step 5): work table → pagination → bounded-retry fetch → NDJSON parse →
keywords v1/v2 → idempotent partitioned sinks."""

from __future__ import annotations

import json
import threading

import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark.pipeline import (
    ingest,
    keywords,
    parse,
    sinks,
)
from mrc_spark_jobs_pubmed_spark.pipeline.run import run_pipeline


def test_work_table_schema_and_coverage(spark):
    work = ingest.build_work_table(spark, 2019, 2020)
    assert work.columns == ["year", "month", "fetch_url", "total_records"]
    assert work.count() == 24  # 2 years × 12 months — fixes reference bug B1
    assert work.filter(F.col("total_records") <= 0).count() == 0


def test_pagination_covers_every_offset(spark):
    work = ingest.build_work_table(spark, 2020, 2020)
    pages = ingest.expand_pages(work)
    got = pages.groupBy("year", "month").agg(
        F.count("*").alias("n_pages"), F.max("offset").alias("max_off")
    )
    joined = work.join(got, ["year", "month"])
    bad = joined.filter(
        (F.col("n_pages") != F.ceil(F.col("total_records") / ingest.PAGE_SIZE))
        | (F.col("max_off") >= F.col("total_records"))
    )
    assert bad.count() == 0
    key = pages.select("page_key").first().page_key
    assert key.count("_") == 3 and "num" in key  # {year}_{month}_num_{offset}


def test_fetch_bounded_retry_succeeds_after_transients(spark):
    attempts: dict[str, int] = {}

    def flaky(url: str) -> str:
        n = attempts.get(url, 0) + 1
        attempts[url] = n
        if n <= 2:
            return "API rate limit exceeded"
        return ingest.mock_fetcher(url)

    work = ingest.build_work_table(spark, 2020, 2020).limit(1)
    pages = ingest.expand_pages(work).limit(2)
    out = ingest.fetch_pages(pages, flaky, max_retries=5).collect()
    assert all(r.payload is not None and r.n_attempts == 3 for r in out)


def test_fetch_gives_up_after_max_retries(spark):
    def always_limited(url: str) -> str:
        return "Exception from Backend"

    work = ingest.build_work_table(spark, 2020, 2020).limit(1)
    pages = ingest.expand_pages(work).limit(1)
    out = ingest.fetch_pages(pages, always_limited, max_retries=3).collect()
    assert out[0].payload is None and out[0].n_attempts == 3


def test_parse_filters_missing_abstract_and_derives_year(spark):
    payload = "\n".join(
        [
            json.dumps({"pmid": "1", "medent": {"abstract": "Cats and dogs."}}),
            json.dumps({"pmid": "2", "medent": {}}),
            "not json at all",
        ]
    )
    fetched = spark.createDataFrame(
        [("2020_1_num_0", 2020, 1, 0, payload, 1)],
        ["page_key", "year", "month", "offset", "payload", "n_attempts"],
    )
    rows = parse.parse_articles(fetched).collect()
    assert [(r.pmid, r.year) for r in rows] == [("1", 2020)]
    good, _ = parse.parse_articles_quarantine(fetched)
    assert {r.pmid for r in good.collect()} == {"1", "2"}


def test_keywords_v1_golden(spark):
    articles = spark.createDataFrame(
        [("123456", 2020, "This article is a review of the different publications "
          "on breast cancer in men.")],
        ["pmid", "year", "abstract"],
    )
    got = {(r.word, r.pmid) for r in keywords.keywords_v1(articles).collect()}
    want_words = {"article", "review", "different", "publication", "breast", "cancer", "man"}
    assert got == {(w, "123456") for w in want_words}


def test_keywords_v2_shape(spark):
    articles = spark.createDataFrame(
        [("7", 2019, "Cats chase mice daily.")], ["pmid", "year", "abstract"]
    )
    row = keywords.keywords_v2(articles).first()
    assert (row.pmid, row.year) == ("7", 2019)
    assert row.keywords == "cat chase daily mouse"


def test_idempotent_write_skips_done_keys(spark, tmp_path):
    out = str(tmp_path / "sink")
    values = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    received = []

    def produce(todo):
        received.append(sorted(r.k for r in todo.collect()))
        return todo.join(values, "k")

    keys = spark.createDataFrame([(1,), (2,)], ["k"])
    sink, appended, ledgered = sinks.idempotent_write(keys, produce, spark, out, "k", values.schema)
    assert appended and not ledgered and sink.count() == 2
    # re-run with one new key: only the new key is produced, and it lands
    keys2 = spark.createDataFrame([(2,), (3,)], ["k"])
    sink, appended, _ = sinks.idempotent_write(keys2, produce, spark, out, "k", values.schema)
    assert received == [[1, 2], [3]]
    assert appended and sink.count() == 3 and spark.read.parquet(out).count() == 3
    assert sink.columns == ["k", "v"]


def _n_pages(year: int) -> int:
    return sum(
        -(-ingest.mock_search(year, m)[1] // ingest.PAGE_SIZE) for m in range(1, 13)
    )


def _counting_fetcher(calls, limited_url: str, limited_attempts: int):
    """mock_fetcher that counts its calls in an accumulator and answers
    `limited_url` with a rate-limit marker for its first
    `limited_attempts` calls within a task."""
    seen: dict[str, int] = {}

    def fetcher(url: str) -> str:
        calls.add(1)
        seen[url] = seen.get(url, 0) + 1
        if url == limited_url and seen[url] <= limited_attempts:
            return "API rate limit exceeded"
        return ingest.mock_fetcher(url)

    return fetcher


_FIRST_PAGE = ingest.mock_search(2020, 1)[0] + "&retstart=0"

# the keyword sinks' markers live on the path's own Hadoop filesystem, so
# a URI output dir must behave exactly like a bare local path
_PATH_FORMS = pytest.mark.parametrize(
    "as_path", [str, lambda p: p.as_uri()], ids=["local", "file_uri"]
)


def _pmids(df) -> list[str]:
    return sorted(r.pmid for r in df.select("pmid").collect())


def _keyword_parts(out_dir) -> dict[str, float]:
    """{part file: mtime} of both keyword sinks under a local out_dir."""
    return {
        f"{p.parent.name}/{p.name}": p.stat().st_mtime
        for sink in ("keywords_v1", "keywords_v2")
        for p in (out_dir / sink).glob("part-*")
    }


def test_full_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "pm")
    dfs = run_pipeline(spark, out, 2020, 2020)
    arts = spark.read.parquet(f"{out}/articles")
    assert arts.count() > 0
    assert "year=2020" in str(
        [p.name for p in (tmp_path / "pm" / "articles").iterdir()]
    )
    kw1 = spark.read.parquet(f"{out}/keywords_v1")
    assert kw1.columns == ["word", "pmid"] and kw1.count() > 0
    kw2 = spark.read.csv(f"{out}/keywords_v2")
    assert kw2.count() == dfs["articles"].count()
    # idempotent resume: second run appends nothing to articles
    n_before = arts.count()
    run_pipeline(spark, out, 2020, 2020)
    assert spark.read.parquet(f"{out}/articles").count() == n_before


@_PATH_FORMS
def test_fetch_once_per_page_and_resume_fetches_nothing(spark, tmp_path, as_path):
    out = as_path(tmp_path / "pm")
    n_pages = _n_pages(2020)
    calls = spark.sparkContext.accumulator(0)
    fetcher = _counting_fetcher(calls, _FIRST_PAGE, limited_attempts=1)
    fresh = run_pipeline(spark, out, 2020, 2020, fetcher=fetcher)
    # one call per page plus the one rate-limited attempt, across all
    # four sink writes: the fetch lineage runs once
    assert calls.value == n_pages + 1
    assert fresh["ingest"] == {"pages": n_pages, "failed": 0, "attempts": n_pages + 1, "barren": 0}
    n_articles = spark.read.parquet(f"{out}/articles").count()

    resume = run_pipeline(spark, out, 2020, 2020, fetcher=fetcher)
    assert calls.value == n_pages + 1  # every page is done: no fetch at all
    assert resume["ingest"] == {"pages": 0, "failed": 0, "attempts": 0, "barren": 0}
    assert spark.read.parquet(f"{out}/articles").count() == n_articles
    assert resume["keywords_v2"].count() == n_articles


def test_resume_refetches_page_whose_retries_ran_out(spark, tmp_path):
    out = str(tmp_path / "pm")
    n_pages = _n_pages(2020)
    calls = spark.sparkContext.accumulator(0)
    down = _counting_fetcher(calls, _FIRST_PAGE, limited_attempts=99)
    first = run_pipeline(spark, out, 2020, 2020, fetcher=down)
    assert first["ingest"] == {"pages": n_pages, "failed": 1, "attempts": n_pages + 4, "barren": 0}
    arts = spark.read.parquet(f"{out}/articles")
    assert arts.filter(F.col("page_key") == "2020_1_num_0").count() == 0
    assert arts.select("page_key").distinct().count() == n_pages - 1

    c0 = calls.value
    healthy = _counting_fetcher(calls, _FIRST_PAGE, limited_attempts=0)
    resume = run_pipeline(spark, out, 2020, 2020, fetcher=healthy)
    assert calls.value - c0 == 1  # only the failed page is fetched again
    assert resume["ingest"] == {"pages": 1, "failed": 0, "attempts": 1, "barren": 0}
    arts = spark.read.parquet(f"{out}/articles")
    assert arts.filter(F.col("page_key") == "2020_1_num_0").count() > 0
    assert arts.select("page_key").distinct().count() == n_pages
    assert arts.count() == arts.select("pmid").distinct().count()
    assert resume["keywords"] == {"keywords_v1": "rewritten", "keywords_v2": "rewritten"}
    kw2 = _pmids(spark.read.schema(keywords.V2_SCHEMA).csv(f"{out}/keywords_v2"))
    assert set(_pmids(arts.filter(F.col("page_key") == "2020_1_num_0"))) <= set(kw2)
    assert kw2 == _pmids(arts)


@_PATH_FORMS
def test_resume_that_lands_nothing_rewrites_no_keyword_table(spark, tmp_path, as_path):
    out = as_path(tmp_path / "pm")
    fresh = run_pipeline(spark, out, 2020, 2020)
    assert fresh["keywords"] == {"keywords_v1": "rewritten", "keywords_v2": "rewritten"}
    parts = _keyword_parts(tmp_path / "pm")
    assert parts

    resume = run_pipeline(spark, out, 2020, 2020)
    assert resume["ingest"]["pages"] == 0
    assert resume["keywords"] == {"keywords_v1": "current", "keywords_v2": "current"}
    assert _keyword_parts(tmp_path / "pm") == parts  # not one file rewritten
    for name in ("keywords_v1", "keywords_v2"):
        # the sink read back has the schema of the frame that wrote it
        assert [(f.name, f.dataType) for f in resume[name].schema] == [
            (f.name, f.dataType) for f in fresh[name].schema
        ]
        assert resume[name].count() == fresh[name].count()


@_PATH_FORMS
def test_resume_after_crash_before_keyword_writes_rewrites_them(spark, tmp_path, as_path):
    out = as_path(tmp_path / "pm")
    run_pipeline(spark, out, 2020, 2020)
    # a run that appended one new page's articles and died before its
    # keyword writes: the articles sink changed behind the keyword tables
    page = ingest.expand_pages(ingest.build_work_table(spark, 2021, 2021)).limit(1)
    arts, _, _ = sinks.idempotent_write(
        page, lambda todo: parse.parse_articles(ingest.fetch_pages(todo)), spark,
        f"{out}/articles", "page_key", parse.ARTICLES_SCHEMA, partition_by=("year",),
    )
    assert arts.filter(F.col("year") == 2021).count() > 0

    resume = run_pipeline(spark, out, 2020, 2020)
    assert resume["ingest"]["pages"] == 0
    assert resume["keywords"] == {"keywords_v1": "rewritten", "keywords_v2": "rewritten"}
    for sink in ("keywords_v1", "keywords_v2"):  # the overwrite took the old marker
        assert len(list((tmp_path / "pm" / sink).glob("_from-*"))) == 1
    want = _pmids(spark.read.parquet(f"{out}/articles"))
    assert _pmids(spark.read.schema(keywords.V2_SCHEMA).csv(f"{out}/keywords_v2")) == want
    assert set(_pmids(spark.read.parquet(f"{out}/keywords_v1"))) <= set(want)


def test_pipeline_with_no_pages_writes_empty_sinks(spark, tmp_path):
    # every month empty: the write still runs (so the counters arrive)
    # and the sink reads back empty with the articles schema
    out = str(tmp_path / "pm")
    for _ in range(2):
        dfs = run_pipeline(spark, out, 2020, 2020, search=lambda y, m: (f"x://{y}-{m}", 0))
        assert dfs["ingest"] == {"pages": 0, "failed": 0, "attempts": 0, "barren": 0}
        assert dfs["articles"].count() == 0 and dfs["keywords_v2"].count() == 0


def test_work_table_is_scanned_by_the_jvm(spark):
    """The work table is a LocalRelation, so neither it nor the page list
    built on it starts a Python worker when scanned. A `createDataFrame`
    that fell back to a Python list would plan `Scan ExistingRDD`, an RDD
    whose every scan runs Python tasks."""
    work = ingest.build_work_table(spark, 2019, 2020)
    for df in (work, ingest.expand_pages(work)):
        plan = _physical(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert ingest.build_work_table(spark, 2021, 2020).count() == 0


def _files(root) -> dict[str, float]:
    """{path relative to root: mtime} of every file under a local dir."""
    return {str(p.relative_to(root)): p.stat().st_mtime for p in root.rglob("*") if p.is_file()}


def _within(seconds: float, fn):
    """fn(), failing instead of hanging when it does not return in time."""
    box: dict = {}

    def run():
        try:
            box["out"] = fn()
        except BaseException as exc:  # re-raised below, on the test's thread
            box["err"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    if "err" in box:
        raise box["err"]
    assert "out" in box, f"still running after {seconds} s"
    return box["out"]


@_PATH_FORMS
def test_resume_with_no_missing_page_fetches_and_appends_nothing(spark, tmp_path, as_path):
    out = as_path(tmp_path / "pm")
    calls = spark.sparkContext.accumulator(0)
    fetcher = _counting_fetcher(calls, _FIRST_PAGE, limited_attempts=0)
    run_pipeline(spark, out, 2020, 2020, fetcher=fetcher)
    articles = tmp_path / "pm" / "articles"
    before, c0 = _files(articles), calls.value
    assert any(name.startswith("year=") and "/part-" in name for name in before)

    # `ingest` must not wait on a fetch job that never ran
    resume = _within(120, lambda: run_pipeline(spark, out, 2020, 2020, fetcher=fetcher))
    assert calls.value == c0
    assert resume["ingest"] == {"pages": 0, "failed": 0, "attempts": 0, "barren": 0}
    assert _files(articles) == before  # no part file added, _SUCCESS untouched
    assert resume["articles"].count() == spark.read.parquet(f"{out}/articles").count()


@_PATH_FORMS
def test_resume_fetches_only_the_missing_page_once(spark, tmp_path, as_path):
    out = as_path(tmp_path / "pm")
    calls = spark.sparkContext.accumulator(0)
    fetcher = _counting_fetcher(calls, _FIRST_PAGE, limited_attempts=0)

    def december(total):  # a month whose records appear after the first run
        def search(year, month):
            url, records = ingest.mock_search(year, month)
            return url, total if month == 12 else records

        return search

    run_pipeline(spark, out, 2020, 2020, search=december(0), fetcher=fetcher)
    articles = tmp_path / "pm" / "articles"
    parts = {k: v for k, v in _files(articles).items() if "/part-" in k}
    c0 = calls.value

    resume = run_pipeline(spark, out, 2020, 2020, search=december(5_000), fetcher=fetcher)
    assert calls.value - c0 == 1
    assert resume["ingest"] == {"pages": 1, "failed": 0, "attempts": 1, "barren": 0}
    assert parts.items() <= _files(articles).items()  # appended, nothing rewritten
    arts = spark.read.parquet(f"{out}/articles")
    assert arts.filter(F.col("page_key") == "2020_12_num_0").count() > 0
    assert arts.count() == arts.select("pmid").distinct().count()


@_PATH_FORMS
def test_page_that_lands_no_article_is_fetched_once(spark, tmp_path, as_path):
    """A page whose only article has no abstract, and an empty page, land
    no article; the sink's ledger records them, so no resume fetches them
    again, and readers of the sink do not see the ledger."""
    out = as_path(tmp_path / "pm")
    n_pages = _n_pages(2020)
    calls = spark.sparkContext.accumulator(0)
    no_abstract = ingest.mock_search(2020, 1)[0] + "&retstart=0"
    empty = ingest.mock_search(2020, 2)[0] + "&retstart=0"

    def fetcher(url: str) -> str:
        calls.add(1)
        if url == no_abstract:
            return json.dumps({"pmid": "1", "medent": {}})
        return "" if url == empty else ingest.mock_fetcher(url)

    fresh = run_pipeline(spark, out, 2020, 2020, fetcher=fetcher)
    assert calls.value == n_pages
    assert fresh["ingest"] == {"pages": n_pages, "failed": 0, "attempts": n_pages, "barren": 2}
    barren = ["2020_1_num_0", "2020_2_num_0"]
    ledger = spark.read.parquet(f"{out}/articles/{sinks.LEDGER}/part-*")
    assert sorted(r.page_key for r in ledger.collect()) == barren
    articles = tmp_path / "pm" / "articles"
    before = _files(articles)

    for _ in range(2):
        resume = run_pipeline(spark, out, 2020, 2020, fetcher=fetcher)
        assert calls.value == n_pages
        assert resume["ingest"] == {"pages": 0, "failed": 0, "attempts": 0, "barren": 0}
        assert _files(articles) == before

    arts = spark.read.parquet(f"{out}/articles")
    assert arts.select("page_key").distinct().count() == n_pages - 2
    assert not any(sinks.LEDGER in f for f in pads.dataset(
        str(articles), format="parquet", partitioning="hive").files)


def test_page_whose_body_does_not_parse_is_fetched_again(spark, tmp_path):
    """A body that is not NDJSON records (an HTML error page with no
    retry marker) lands no article but goes to no ledger either: each
    resume fetches it again, until a good body lands its articles."""
    out = str(tmp_path / "pm")
    n_pages = _n_pages(2020)
    calls = spark.sparkContext.accumulator(0)
    html = ingest.mock_search(2020, 3)[0] + "&retstart=0"

    def fetcher(url: str) -> str:
        calls.add(1)
        return "<html><body>502 Bad Gateway</body></html>" if url == html else (
            ingest.mock_fetcher(url))

    fresh = run_pipeline(spark, out, 2020, 2020, fetcher=fetcher)
    assert fresh["ingest"] == {"pages": n_pages, "failed": 0, "attempts": n_pages, "barren": 0}
    assert not (tmp_path / "pm" / "articles" / sinks.LEDGER).exists()
    parts = {k: v for k, v in _files(tmp_path / "pm" / "articles").items() if "/part-" in k}

    resume = run_pipeline(spark, out, 2020, 2020, fetcher=fetcher)
    assert calls.value == n_pages + 1
    assert resume["ingest"] == {"pages": 1, "failed": 0, "attempts": 1, "barren": 0}
    assert {k: v for k, v in _files(tmp_path / "pm" / "articles").items()
            if "/part-" in k} == parts

    run_pipeline(spark, out, 2020, 2020)  # the source recovered
    arts = spark.read.parquet(f"{out}/articles")
    assert arts.filter(F.col("page_key") == "2020_3_num_0").count() > 0
    assert arts.select("page_key").distinct().count() == n_pages


def test_parse_yields_the_declared_articles_schema(spark):
    pages = ingest.expand_pages(ingest.build_work_table(spark, 2020, 2020)).limit(1)
    assert parse.parse_articles(ingest.fetch_pages(pages)).schema == parse.ARTICLES_SCHEMA


def test_resume_on_corrupt_sink_raises_instead_of_reappending(spark, tmp_path):
    out = tmp_path / "pm"
    (out / "articles").mkdir(parents=True)
    (out / "articles" / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_pipeline(spark, str(out), 2020, 2020)
    left = sorted(p.name for p in (out / "articles").iterdir() if not p.name.startswith("."))
    assert left == ["part-0.parquet"]


def _physical(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    # partitionBy(year) layout → a year predicate prunes at the file
    # index, never touching other partitions (the declarative form of the
    # reference's year-prefix blob listing, job_pubmed_jsons.py:49-50)
    from mrc_spark_jobs_pubmed_spark.pipeline import sinks

    df = spark.createDataFrame(
        [(i, 2018 + i % 3, f"doc {i}") for i in range(30)], ["doc_id", "year", "text"]
    )
    out = str(tmp_path / "by_year")
    sinks.write_partitioned(df, out, partition_by=("year",), mode="overwrite")
    back = spark.read.parquet(out).filter(F.col("year") == 2019)
    plan = _physical(back)
    assert "PartitionFilters: [isnotnull(year" in plan or "year#" in plan.split(
        "PartitionFilters"
    )[1].splitlines()[0]
    assert back.count() == 10


def test_parse_quarantine_splits_good_and_bad(spark):
    from mrc_spark_jobs_pubmed_spark.pipeline.parse import parse_articles_quarantine

    payload = "\n".join(
        [
            '{"pmid": "1", "medent": {"abstract": "good one"}}',
            "this is not json at all {{{",
            '{"no_pmid": true}',
            '{"pmid": "2", "medent": {}}',
        ]
    )
    fetched = spark.createDataFrame(
        [("2019_1_num_0", 2019, payload)], ["page_key", "year", "payload"]
    )
    good, bad = parse_articles_quarantine(fetched)
    assert {r.pmid for r in good.collect()} == {"1", "2"}
    raws = [r.raw_line for r in bad.collect()]
    assert len(raws) == 2 and any("not json" in r for r in raws)


def test_pagination_empty_month_yields_zero_pages(spark):
    """A month with total_records == 0 must produce no pages, not a
    sequence() bounds error (the reference's range(0, 0) was a no-op)."""
    from mrc_spark_jobs_pubmed_spark.pipeline import ingest

    work = ingest.build_work_table(
        spark, 2019, 2019, search=lambda y, m: (f"http://x/{y}-{m}", 0)
    )
    assert ingest.expand_pages(work).count() == 0


def test_pagination_mixed_empty_and_nonempty_months(spark):
    from mrc_spark_jobs_pubmed_spark.pipeline import ingest

    work = ingest.build_work_table(
        spark,
        2019,
        2019,
        search=lambda y, m: (f"http://x/{y}-{m}", 25000 if m == 3 else 0),
    )
    pages = ingest.expand_pages(work).collect()
    assert {(p.year, p.month, p.offset) for p in pages} == {
        (2019, 3, 0),
        (2019, 3, 10000),
        (2019, 3, 20000),
    }


def test_http_adapters_with_canned_responses(spark):
    """The requests-backed seams, driven end to end on canned responses:
    esearch JSON -> work table; efetch bodies with one transient
    rate-limit response -> retry classification in fetch_pages."""
    import json as _json

    from mrc_spark_jobs_pubmed_spark.pipeline import ingest

    class Resp:
        def __init__(self, body):
            self.text = body

        def json(self):
            return _json.loads(self.text)

    calls = []

    def canned_post(url):
        calls.append(url)
        if "esearch" in url:
            return Resp(
                '{"esearchresult": {"webenv": "WE_1", "count": "15000"}}'
            )
        # first efetch attempt per URL is rate-limited, then succeeds
        if calls.count(url) == 1:
            return Resp("API rate limit exceeded")
        return Resp('{"pmid": "1", "medent": {"abstract": "ok"}}')

    def search(year, month):
        return ingest.http_search(year, month, post=canned_post)

    def fetcher(url):
        return ingest.http_fetcher(url, post=canned_post)

    # esearch builds the reference URL shape, December wraps the year
    assert "mindate=2019/12/01" in ingest.esearch_url(2019, 12)
    assert "maxdate=2020/01/01" in ingest.esearch_url(2019, 12)
    # months unpadded, matching the reference's str(month) URL building
    assert "maxdate=2019/3/01" in ingest.esearch_url(2019, 2)

    work = ingest.build_work_table(spark, 2019, 2019, search=search)
    row = work.first()
    assert row.total_records == 15000
    assert "webenv=WE_1" in row.fetch_url

    pages = ingest.expand_pages(work.limit(1))
    fetched = ingest.fetch_pages(pages, fetcher=fetcher, max_retries=3).collect()
    assert len(fetched) == 2  # 15000 records -> offsets 0 and 10000
    for r in fetched:
        assert r.payload is not None and "pmid" in r.payload
        assert r.n_attempts == 2  # one rate-limited attempt, one success

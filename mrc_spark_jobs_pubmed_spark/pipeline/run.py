"""End-to-end pipeline: the reference's 4 jobs as one declarative flow.

ingest (work table → pages) → resume → fetch → parse → partitioned
articles sink → keywords. Resume happens at the fetch boundary: pages
whose key is already in the articles sink, or in its ledger of pages the
parser read whole that held no article with an abstract, are dropped
before any fetch, so each page is fetched at most once per run and a
resume fetches only the pages still unsettled: those whose retries ran
out, or whose body did not parse as NDJSON articles. A resume with no
page left starts no fetch, no Python worker and no write.
Both keyword tables are derived from the articles sink, not from the
fetch, so they describe exactly the articles that landed, and each is
rewritten only when the articles sink holds other files than the ones it
was last derived from: a resume that lands no new article writes nothing.
All I/O seams are injectable, so tests drive the whole thing with
deterministic mocks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession

from mrc_spark_jobs_pubmed_spark.pipeline import ingest, keywords, parse, sinks


def run_pipeline(
    spark: SparkSession,
    out_dir: str,
    begin_year: int = 2019,
    end_year: int = 2020,
    search: Callable = ingest.mock_search,
    fetcher: Callable = ingest.mock_fetcher,
) -> dict:
    """Run ingest→parse→keywords, writing keyword tables under out_dir.

    The pages not yet settled in `{out_dir}/articles` are fetched, parsed
    and appended in one write job; a fetched page that yields no article
    goes to the sink's ledger instead, if the parser read it whole
    (`sinks.idempotent_write`). Each
    keyword table is then rewritten from the whole articles sink, unless
    it was already derived from the articles files that are there now
    (`sinks.derived_write`); a table not rewritten is returned as a read
    of its sink. Returns the stage DataFrames for inspection; under
    "ingest" the fetch counters of this run (pages fetched, pages
    `failed` after exhausting their retries, fetch `attempts`, and the
    `barren` pages, read whole but with no article, that went to the
    ledger; all 0 when no page was left to fetch); and under "keywords"
    whether each keyword
    table was "rewritten" or already "current".
    Output layout:
      {out_dir}/articles/   parquet, partitioned by year
      {out_dir}/keywords_v1/ parquet (word, pmid)
      {out_dir}/keywords_v2/ csv headerless (pmid, keywords, year) — the
      reference's exact v2 output contract (
      extract_keywords_from_all_abstracts.py:103: index=False,header=False)
    """
    work = ingest.build_work_table(spark, begin_year, end_year, search)
    pages = ingest.expand_pages(work)
    counts = Observation()

    def fetch_and_parse(todo: DataFrame) -> DataFrame:
        fetched = ingest.observe_fetch(ingest.fetch_pages(todo, fetcher), counts)
        return parse.parse_articles(fetched)

    articles, appended, barren = sinks.idempotent_write(
        pages, fetch_and_parse, spark, f"{out_dir}/articles", "page_key",
        parse.ARTICLES_SCHEMA, partition_by=("year",),
        settled=lambda: counts.get["settled_keys"],
    )
    # `counts.get` waits for the job the fetch ran in: ask only if it ran
    fetch_counts = {k: counts.get[k] if appended else 0 for k in ingest.FETCH_COUNTS}
    fetch_counts["barren"] = len(barren)
    kw1, new1 = sinks.derived_write(
        keywords.keywords_v1, articles, spark,
        f"{out_dir}/keywords_v1", keywords.V1_SCHEMA, n_chunks=5,
    )
    kw2, new2 = sinks.derived_write(
        keywords.keywords_v2, articles, spark,
        f"{out_dir}/keywords_v2", keywords.V2_SCHEMA, fmt="csv",
    )
    state = {True: "rewritten", False: "current"}
    return {"work": work, "pages": pages, "articles": articles,
            "keywords_v1": kw1, "keywords_v2": kw2, "ingest": fetch_counts,
            "keywords": {"keywords_v1": state[new1], "keywords_v2": state[new2]}}

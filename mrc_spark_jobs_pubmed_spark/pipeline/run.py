"""End-to-end pipeline: the reference's 4 jobs as one declarative flow.

ingest (work table → pages) → resume → fetch → parse → partitioned
articles sink → keywords. Resume happens at the fetch boundary: pages
whose key is already in the articles sink are dropped before any fetch,
so each page is fetched at most once per run and a resume fetches none.
Both keyword tables are derived from the articles sink, not from the
fetch, so they describe exactly the articles that landed. All I/O seams
are injectable, so tests drive the whole thing with deterministic mocks.
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

    The pages not yet in `{out_dir}/articles` are fetched, parsed and
    appended in one write job; the keyword tables are then rewritten from
    the whole articles sink. Returns the stage DataFrames for inspection,
    and under "ingest" the fetch counters of this run (pages fetched,
    pages `failed` after exhausting their retries, fetch `attempts`).
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

    articles = sinks.idempotent_write(
        pages, fetch_and_parse, spark, f"{out_dir}/articles", "page_key",
        partition_by=("year",),
    )
    kw1 = keywords.keywords_v1(articles)
    sinks.write_partitioned(kw1, f"{out_dir}/keywords_v1", mode="overwrite", n_chunks=5)
    kw2 = keywords.keywords_v2(articles)
    sinks.write_partitioned(kw2, f"{out_dir}/keywords_v2", fmt="csv", mode="overwrite")
    return {"work": work, "pages": pages, "articles": articles,
            "keywords_v1": kw1, "keywords_v2": kw2, "ingest": counts.get}

"""End-to-end pipeline: the reference's 4 jobs as one declarative flow.

ingest (work table → pages → fetch) → parse → keywords → partitioned
sink, with idempotent resume at the fetch boundary. All I/O seams are
injectable, so tests drive the whole thing with deterministic mocks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mrc_spark_jobs_pubmed_spark.pipeline import ingest, keywords, parse, sinks


def run_pipeline(
    spark: SparkSession,
    out_dir: str,
    begin_year: int = 2019,
    end_year: int = 2020,
    search: Callable = ingest.mock_search,
    fetcher: Callable = ingest.mock_fetcher,
) -> dict[str, DataFrame]:
    """Run ingest→parse→keywords, writing keyword tables under out_dir.

    Returns the stage DataFrames for inspection. Output layout:
      {out_dir}/articles/   parquet, partitioned by year
      {out_dir}/keywords_v1/ parquet (word, pmid)
      {out_dir}/keywords_v2/ csv headerless (pmid, keywords, year) — the
      reference's exact v2 output contract (
      extract_keywords_from_all_abstracts.py:103: index=False,header=False)
    """
    work = ingest.build_work_table(spark, begin_year, end_year, search)
    pages = ingest.expand_pages(work)
    fetched = ingest.fetch_pages(pages, fetcher)
    articles = parse.parse_articles(fetched)

    sinks.idempotent_write(
        articles, spark, f"{out_dir}/articles", "page_key", partition_by=("year",)
    )
    kw1 = keywords.keywords_v1(articles)
    sinks.write_partitioned(kw1, f"{out_dir}/keywords_v1", mode="overwrite", n_chunks=5)
    kw2 = keywords.keywords_v2(articles)
    sinks.write_partitioned(
        kw2.select("pmid", "keywords", "year"),
        f"{out_dir}/keywords_v2",
        fmt="csv",
        mode="overwrite",
    )
    return {"work": work, "pages": pages, "fetched": fetched, "articles": articles,
            "keywords_v1": kw1, "keywords_v2": kw2}

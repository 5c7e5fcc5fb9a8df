"""Keyword-extraction stage: the reference's two keyword jobs.

v1 (spark-pubmed-word-count/word_count.py): abstracts → distinct cleaned
lemmatized non-stopword tokens → (word, pmid) pairs (README golden
example: spark-pubmed-word-count/README.md:4-15).

v2 (extract-keywords-from-abstracts/extract_keywords_from_all_abstracts.py):
NDJSON articles → (pmid, keywords, year) CSV rows, POS-aware lemmas.

Both are one `select` over the text pipeline's keyword expressions
(functions/text.py) — the per-file Python closures (word_count.py:41-65)
become Catalyst expressions end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mrc_spark_jobs_pubmed_spark.functions import text as TX

# The output schemas, for reading a written keyword sink back without an
# inference job.
V1_SCHEMA = T.StructType(
    [T.StructField("word", T.StringType()), T.StructField("pmid", T.StringType())]
)
V2_SCHEMA = T.StructType(
    [
        T.StructField("pmid", T.StringType()),
        T.StructField("keywords", T.StringType()),
        T.StructField("year", T.IntegerType()),
    ]
)


def keywords_v1(articles: DataFrame) -> DataFrame:
    """(word, pmid) pairs — the reference v1 output shape (A25)."""
    return articles.select(
        F.explode(TX.keywords("abstract")).alias("word"), "pmid"
    )


def keywords_v2(articles: DataFrame, use_nltk: bool = False) -> DataFrame:
    """(pmid, keywords, year) — the reference v2 output shape: one row per
    article, POS-aware lemmas filtered against the 224-word mrc domain
    list, joined with ' ' (the pandas-accumulated CSV of
    extract_keywords_from_all_abstracts.py:93-103, minus the driver-side
    accumulation). POS path: suffix tagger → Penn→WordNet map → tagged
    detachment rules (functions/text.py A18/A19/A21); `use_nltk=True`
    swaps in the reference's exact nltk backend when installed."""
    kw = TX.keywords_v2("abstract", use_nltk=use_nltk)
    return articles.select(
        "pmid",
        F.concat_ws(" ", F.array_sort(kw)).alias("keywords"),
        "year",
    )

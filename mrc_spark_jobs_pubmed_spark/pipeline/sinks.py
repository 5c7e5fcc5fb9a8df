"""Sinks: partitioned writes + idempotent resume.

Reference mechanisms replaced here:
* A4  blob-per-key uploads (job_pubmed_submit.py:21-28)   → partitioned
  parquet/csv writes with deterministic paths.
* A5  skip-if-exists guards (4 copies across the jobs)    → an anti-join
  of the work list against the sink's already-written keys, ahead of the
  fetch — one declarative resume rule instead of a per-task HTTP
  existence check.
* A29 manual 5-chunk CSV splitting (word_count.py:85-103) → output
  partitioning (`repartition(n)`), which is what chunking was.
* A31 input!=output config guard (3 copies)               → validate().
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def validate(input_path: str, output_path: str) -> None:
    """A31: fail fast when a job would read and write the same path."""
    if os.path.abspath(input_path) == os.path.abspath(output_path):
        raise ValueError(
            f"input_path == output_path ({input_path!r}); refusing to overwrite input"
        )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    fmt: str = "parquet",
    mode: str = "append",
    n_chunks: int | None = None,
) -> None:
    """Partitioned write; `n_chunks` reproduces A29's chunked output as
    output-file parallelism instead of driver-side list slicing."""
    if n_chunks:
        df = df.repartition(n_chunks)
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def existing_keys(spark: SparkSession, path: str, key: T.StructField) -> DataFrame | None:
    """The `key` column of the parquet sink at `path`; None when nothing
    was ever written there.

    Absent means the path does not exist, asked of the path's own Hadoop
    filesystem, so the check holds on any store Spark can write to. The
    schema is given, so a directory that holds no data files reads as an
    empty frame and no schema-inference job runs. Every other error — a
    corrupt part file, a permission error — raises, here or in the job
    that reads the keys: a damaged sink read as empty would re-fetch every
    page and append duplicates.
    """
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return None
    return spark.read.schema(T.StructType([key])).parquet(path)


def idempotent_write(
    keys: DataFrame,
    produce: Callable[[DataFrame], DataFrame],
    spark: SparkSession,
    path: str,
    key_col: str,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """A5 as dataflow: produce and append rows only for keys not yet in
    the sink, and return the whole sink.

    `keys` is anti-joined against the sink's `key_col` values *before*
    `produce` sees it, so on a resume the expensive stage behind
    `produce` (the page fetch) runs only for the missing keys — the
    reference's skip-if-exists guard ahead of the HTTP call, as one join
    instead of a per-task existence check. `produce(todo)` is appended in
    a single write job with no counting action, so its lineage runs once.
    The sink is read back with `produce`'s schema: downstream stages read
    what landed, not a second evaluation of `produce`. A key whose
    `produce` rows are all filtered out leaves no trace in the sink, so
    the next run produces it again (a page whose retries ran out is
    fetched again; so is a page with no article that has an abstract).

    Works at any scale: the done-key set is a column-pruned parquet scan,
    and the anti-join broadcasts it when small.
    """
    done = existing_keys(spark, path, keys.schema[key_col])
    todo = keys if done is None else keys.join(done, key_col, "left_anti")
    out = produce(todo)
    write_partitioned(out, path, partition_by, mode="append")
    return spark.read.schema(out.schema).parquet(path)

"""Sinks: partitioned writes + idempotent resume.

Reference mechanisms replaced here:
* A4  blob-per-key uploads (job_pubmed_submit.py:21-28)   → partitioned
  parquet/csv writes with deterministic paths.
* A5  skip-if-exists guards (4 copies across the jobs)    → an anti-join
  of the work list against the sink's already-written keys, ahead of the
  fetch — one declarative resume rule instead of a per-task HTTP
  existence check. The keyword jobs' copies (word_count.py:78-81,
  extract_keywords_from_all_abstracts.py:85-87) become `derived_write`:
  a table derived from a sink is rewritten only when that sink's files
  changed since the table was last written.
* A29 manual 5-chunk CSV splitting (word_count.py:85-103) → output
  partitioning (`repartition(n)`), which is what chunking was.

Every existence check and marker write asks the path's own Hadoop
filesystem, so the sinks hold on any store Spark can write to.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path`, on the filesystem its scheme names."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


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

    Absent means the path does not exist on its own filesystem. The
    schema is given, so a directory that holds no data files reads as an
    empty frame and no schema-inference job runs. Every other error — a
    corrupt part file, a permission error — raises, here or in the job
    that reads the keys: a damaged sink read as empty would re-fetch every
    page and append duplicates.
    """
    fs, jpath = _hadoop_path(spark, path)
    if not fs.exists(jpath):
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


def derived_write(
    derive: Callable[[DataFrame], DataFrame],
    source: DataFrame,
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    n_chunks: int | None = None,
) -> tuple[DataFrame, bool]:
    """Overwrite `path` with `derive(source)` unless the sink there is
    already derived from exactly `source`'s data files; return (table,
    rewritten).

    Each committed overwrite is followed by an empty `_from-<digest>`
    marker inside `path`, the digest a hash of `source.inputFiles()`
    sorted. Spark, pyarrow and `part-*` globs skip `_`-prefixed names; the
    next overwrite deletes the marker with the rest of the sink, and a
    crash during the write leaves none. So the marker is found only when
    the last write of `path` committed and `source` holds the same files
    now: a run that appended to `source` and crashed before rewriting
    `path` changes the digest, and the next run rewrites. When the marker
    is found nothing is built or written, and the sink is read back with
    `schema`, so no inference job runs.
    """
    files = "\n".join(sorted(source.inputFiles()))
    fs, jpath = _hadoop_path(spark, path)
    marker = spark._jvm.org.apache.hadoop.fs.Path(
        jpath, "_from-" + hashlib.sha256(files.encode()).hexdigest()
    )
    if fs.exists(marker):
        return spark.read.schema(schema).format(fmt).load(path), False
    df = derive(source)
    write_partitioned(df, path, fmt=fmt, mode="overwrite", n_chunks=n_chunks)
    fs.create(marker, True).close()
    return df, True

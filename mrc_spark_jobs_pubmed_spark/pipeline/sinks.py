"""Sinks: partitioned writes + idempotent resume.

Reference mechanisms replaced here:
* A4  blob-per-key uploads (job_pubmed_submit.py:21-28)   → partitioned
  parquet/csv writes with deterministic paths.
* A5  skip-if-exists guards (4 copies across the jobs)    → an anti-join
  of the work list against the sink's already-written keys, ahead of the
  fetch — one declarative resume rule instead of a per-task HTTP
  existence check. Keys whose fetch is settled but yielded no row are
  kept in a small ledger inside the sink, so they are not fetched again; when no
  key is missing the resume costs one JVM-side `isEmpty` and no fetch or
  write. The keyword jobs' copies (word_count.py:78-81,
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
from collections.abc import Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from mrc_spark_jobs_pubmed_spark.session import hadoop_path

# The directory inside an idempotent sink that lists the keys that were
# produced but yielded no row. Spark, pyarrow and `part-*` globs skip
# `_`-prefixed names, so readers of the sink never see it.
LEDGER = "_keys_without_rows"


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
    """The `key` values settled at the parquet sink at `path`: those of
    its rows, and those its `LEDGER` records as having yielded none; None
    when nothing was ever written there.

    Absent means the path does not exist on its own filesystem. The
    schema is given, so a directory that holds no data files reads as an
    empty frame and no schema-inference job runs. Every other error — a
    corrupt part file, a permission error — raises, here or in the job
    that reads the keys: a damaged sink read as empty would re-fetch every
    page and append duplicates.
    """
    fs, jpath = hadoop_path(spark, path)
    if not fs.exists(jpath):
        return None
    schema = T.StructType([key])
    done = spark.read.schema(schema).parquet(path).select(key.name)
    ledger = spark._jvm.org.apache.hadoop.fs.Path(jpath, LEDGER)
    if fs.exists(spark._jvm.org.apache.hadoop.fs.Path(ledger, "_SUCCESS")):
        # Spark skips a `_`-named path even when asked for it, so name its files
        parts = f"{ledger.toString()}/part-*"
        done = done.unionByName(spark.read.schema(schema).parquet(parts))
    return done


def idempotent_write(
    keys: DataFrame,
    produce: Callable[[DataFrame], DataFrame],
    spark: SparkSession,
    path: str,
    key_col: str,
    schema: T.StructType,
    partition_by: tuple[str, ...] = (),
    settled: Callable[[], Iterable] = tuple,
) -> tuple[DataFrame, bool, frozenset]:
    """A5 as dataflow: produce and append rows only for keys not yet
    settled at the sink; return (the whole sink, appended, the keys
    ledgered by this call).

    `keys` is anti-joined against the sink's settled keys *before*
    `produce` sees it, so on a resume the expensive stage behind
    `produce` (the page fetch) runs only for the missing keys — the
    reference's skip-if-exists guard ahead of the HTTP call, as one join
    instead of a per-task existence check. When the sink exists and no
    key is missing, one JVM-side `isEmpty` over the anti-join says so, and
    nothing is produced or appended. Otherwise `produce(todo)` is appended
    in a single write job with no counting action, so its lineage runs
    once; a sink that did not exist is written even with no key, so it
    reads back empty. Either way the sink is read back with `schema`, the
    schema of `produce`'s rows: downstream stages read what landed, not a
    second evaluation of `produce`, and no inference job runs.

    `settled`, called after the append, names the keys `produce` is done
    with whether or not they yielded rows (for the pipeline: pages the
    parser read whole, unlike a page whose retries ran out or whose body
    is not NDJSON, which the next run fetches again). Those that landed no
    row are appended to the sink's `LEDGER`, which the next anti-join also
    reads, so such a key is produced once, not on every run. The keys that
    landed are collected by an `observe` on the append itself, so when
    every settled key landed a row the ledger costs no job.

    Works at any scale: the settled-key set is a column-pruned parquet
    scan, and the anti-join broadcasts it when small.
    """
    done = existing_keys(spark, path, keys.schema[key_col])
    todo = keys if done is None else keys.join(done, key_col, "left_anti")
    if done is not None and todo.isEmpty():
        return spark.read.schema(schema).parquet(path), False, frozenset()
    landed = Observation()
    rows = produce(todo).observe(landed, F.collect_set(key_col).alias("keys"))
    write_partitioned(rows, path, partition_by, mode="append")
    barren = frozenset(settled()) - frozenset(landed.get["keys"])
    if barren:
        ledger_schema = T.StructType([keys.schema[key_col]])
        ledger = pa.Table.from_pylist(
            [{key_col: k} for k in sorted(barren)], schema=to_arrow_schema(ledger_schema)
        )
        write_partitioned(spark.createDataFrame(ledger, ledger_schema), f"{path}/{LEDGER}")
    return spark.read.schema(schema).parquet(path), True, barren


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
    fs, jpath = hadoop_path(spark, path)
    marker = spark._jvm.org.apache.hadoop.fs.Path(
        jpath, "_from-" + hashlib.sha256(files.encode()).hexdigest()
    )
    if fs.exists(marker):
        return spark.read.schema(schema).format(fmt).load(path), False
    df = derive(source)
    write_partitioned(df, path, fmt=fmt, mode="overwrite", n_chunks=n_chunks)
    fs.create(marker, True).close()
    return df, True

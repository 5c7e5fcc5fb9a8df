"""SparkSession factory.

The reference hand-tuned parallelism with ``repartition(12)`` ("3x cores",
spark-pubmed/job_pubmed_submit.py:84,96) and debugged skew with driver-side
``glom`` dumps (job_pubmed_submit.py:92,98). The engine replaces all of that
with AQE: runtime partition coalescing, skew-join splitting, and
broadcast-join conversion. Arrow is enabled so every pandas_udf seam is
vectorized batch transfer, and the session timezone is pinned to UTC so
timestamp semantics match the DuckDB correctness oracle.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

import pyspark
from pyspark.sql import SparkSession

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_NIO_FS_SOURCE = os.path.join(_JVM_DIR, "NioLocalFs.java")
_BUILD_DIR = os.path.join(_JVM_DIR, ".build")
_NIO_FS_CLASS = "mrc_spark_jobs_pubmed_spark.jvm.NioLocalFs"


def hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path`, on the filesystem its scheme names."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _default_driver_mem() -> str:
    """16g, or half of physical RAM on a smaller host."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, phys_mb // 2)}m"


def nio_fs_jar() -> str:
    """The compiled NioLocalFs jar, built on first use.

    Cached under ``jvm/.build/`` by the source's sha256 and published with
    an atomic rename, so concurrent sessions never see a partial jar.
    """
    with open(_NIO_FS_SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    jar = os.path.join(_BUILD_DIR, f"nio-local-fs-{digest}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(_BUILD_DIR, exist_ok=True)
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            f"local Spark sessions compile {_NIO_FS_SOURCE} and need a JDK: no javac on PATH")
    (hadoop_api,) = glob.glob(os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    with tempfile.TemporaryDirectory(dir=_BUILD_DIR) as tmp:
        classes = os.path.join(tmp, "classes")
        done = subprocess.run(
            [javac, "--release", "17", "-cp", hadoop_api, "-d", classes, _NIO_FS_SOURCE],
            capture_output=True, text=True,
        )
        if done.returncode != 0:
            raise RuntimeError(f"javac failed on {_NIO_FS_SOURCE}:\n{done.stderr}")
        staged = os.path.join(tmp, "nio-local-fs.jar")
        with zipfile.ZipFile(staged, "w") as z:
            for root, _, files in os.walk(classes):
                for name in files:
                    path = os.path.join(root, name)
                    z.write(path, os.path.relpath(path, classes))
        os.replace(staged, jar)
    return jar


def get_session(
    app_name: str = "mrc-spark-jobs-pubmed-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster the same builder is used without ``master`` so
    spark-submit supplies it; locally we default to ``local[N]`` with
    N = SPARK_GRAFT_CPUS. Shuffle partitions default to the core count —
    AQE coalesces down when partitions are small and splits skewed ones,
    so this is an upper bound, not a hand-tuned constant.

    A local master's ``file:`` filesystem is ``jvm/NioLocalFs.java``
    (compiled with javac on first use): Hadoop's local filesystem minus
    the ``chmod``/``readlink`` child processes it starts per file when,
    as here, its native library is absent. Other masters keep Hadoop's.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # local[N] runs all N executor threads in the driver JVM; Spark's 1g
    # default heap OOMs around sf1 (6M-row lineitem + 32 concurrent
    # hash-agg partitions). Must be set before the JVM launches, hence
    # here and not per-query. On a real cluster spark-submit overrides.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        # the oracle harness collects full results; pair-enumeration
        # outputs at sf>=1 exceed the 1g default (engine paths never
        # collect — this bounds only the verification harness)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # If a fixture generation ships events.ts as TIMESTAMP(NANOS) (no
        # Spark equivalent type), sources/catalog.py detects it from the
        # parquet footer and reads the raw int64 under this flag, truncating
        # to micros. Harmless when the fixture is micros (the current one):
        # the flag only changes how ns columns surface.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Parquet writes default to zstd (guide §6): r10 A/B on events
        # sf1 — 9.1 MB snappy vs 4.5 MB zstd at equal-or-faster write
        # time (AB_r10_parquet_codec.json). Read paths are codec-
        # agnostic, so bench/oracle results are unchanged; at 100 TB
        # the halved output bytes are NIC/storage headroom. The SHUFFLE
        # codec stays lz4: the same round's three-session bracket A/B
        # (AB_r10_codec_sf20.json) measured zstd inside lz4's drift
        # band on local[32] — decide that one on a real network.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Runtime Bloom-filter join pre-filtering (SPARK-32268, guide
        # §3.2): semantics-preserving — the filter only drops rows that
        # provably cannot match, orders of magnitude fewer fact bytes
        # shuffle when a selective dim/slice gates a fact scan. The
        # 10 MB creation-side default almost never fires after the r10
        # broadcast-policy sweep (the selective sides are fact slices
        # above 10 MB at any real sf), so: creation side up to 256 MB
        # (the filter itself stays <= maxNumBits/8 = 64 MB broadcast —
        # executor-safe at any cluster size), application-side scan
        # >= 1 GB (default 10 GB never engaged; at bench sf0.1 every
        # scan is < 1 GB so local plans and plan-fp pins are untouched
        # — the knob engages exactly where shuffle bytes dominate).
        # sf20 same-session A/B (AB_r10_conf_sf20.json): q3 37->26 s,
        # q10 5.2->4.2 s, q16 10->5.1 s, q5/q9/q18/q21 unchanged.
        .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "256m")
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1g",
        )
        .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", str(64 * 1024 * 1024))
        .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", str(512 * 1024 * 1024))
        # NO spark.sql.files.minPartitionNum floor (r5). The r4 floor
        # (2x cores) regressed small scans ~1.3-2.2x (TPC-H Q1 sf0.1:
        # 0.30 -> 0.44 s; even sf1: 0.26 -> 0.35 s, A/B median-of-3,
        # warm) while winning nothing: Spark's own split formula
        # min(maxPartitionBytes, max(openCost, bytes/parallelism))
        # already yields ~1 split per core once a table exceeds
        # openCost x cores, and the one genuine under-parallelization
        # case — CPU-heavy per-row work over a compact single-row-group
        # file — is handled by the volume-gated fan_out() in
        # sources/catalog.py (>= 4 MB corpus tables only). At 100 TB
        # file volume alone saturates the cluster and a floor is moot.
        .config("spark.ui.enabled", "false")
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    if master == "local" or (master or "").startswith("local["):
        # executors are threads of the driver JVM, so the driver's class
        # path reaches every task
        builder = (
            builder.config("spark.driver.extraClassPath", nio_fs_jar())
            .config("spark.hadoop.fs.file.impl", _NIO_FS_CLASS)
            .config("spark.hadoop.fs.AbstractFileSystem.file.impl", _NIO_FS_CLASS + "$Fs")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

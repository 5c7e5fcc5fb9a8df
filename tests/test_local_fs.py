"""The local `file:` filesystem (`jvm/NioLocalFs.java`): Hadoop's local
filesystem with its `chmod`/`readlink` child processes replaced by
java.nio. Writes, checkpoints and sinks must start no process, and modes,
`.crc` checksums and symlink reports must be what Hadoop's own code gives.
"""

from __future__ import annotations

import os
import re
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import StreamingQueryException

from mrc_spark_jobs_pubmed_spark import session as S
from mrc_spark_jobs_pubmed_spark.streaming import jobs as J
from tests.conftest import SF_SMOKE as SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHELLED = ("chmod", "readlink", "stat", "ls")

# Runs in a fresh process, so the session's JVM is launched with the shims
# first on PATH. Every check of the outputs happens here; the caller checks
# the exit code and that no shim ran.
_NO_SPAWN_SCRIPT = textwrap.dedent(
    """
    import os, sys
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from mrc_spark_jobs_pubmed_spark.session import get_session
    from mrc_spark_jobs_pubmed_spark.sources.catalog import events_read_plan, load_table
    from mrc_spark_jobs_pubmed_spark.streaming import jobs as J
    from mrc_spark_jobs_pubmed_spark.pipeline.run import run_pipeline

    sf, work = sys.argv[1], sys.argv[2]
    spark = get_session(app_name="no-spawn", shuffle_partitions=2)

    df = spark.range(100).withColumn("p", F.col("id") % 3)
    df.write.partitionBy("p").parquet(f"{work}/parts")
    back = spark.read.parquet(f"{work}/parts")
    assert back.count() == 100 and back.agg(F.sum("id")).first()[0] == 4950
    df.write.csv(f"{work}/csv")
    assert spark.read.schema("id long, p long").csv(f"{work}/csv").count() == 100

    events = pq.read_table(f"{sf}/events.parquet").sort_by("ts")
    half = events.num_rows // 2
    os.makedirs(f"{work}/stream")
    pq.write_table(events.slice(0, half), f"{work}/stream/0.parquet")
    pq.write_table(events.slice(half), f"{work}/stream/1.parquet")
    def replay():
        src = (spark.readStream.schema(events_read_plan(sf)[0])
               .option("maxFilesPerTrigger", "1").parquet(f"{work}/stream"))
        q = J.run_to_files(J.session_windows(src), f"{work}/sessions", f"{work}/ckpt")
        q.awaitTermination()
        return [p for p in q.recentProgress if p["numInputRows"] > 0]
    batches = replay()
    assert [p["numInputRows"] for p in batches] == [half, events.num_rows - half]
    cols = ["user_id", "session_start", "session_end", "n_events", "value_sum"]
    got = {tuple(r) for r in spark.read.parquet(f"{work}/sessions").select(cols).collect()}
    want = {tuple(r) for r in J.session_windows(load_table(spark, "events", sf),
                                                 with_watermark=False).select(cols).collect()}
    assert got and got <= want, (len(got), len(got - want))
    assert replay() == []  # the checkpoint holds both files
    assert {tuple(r) for r in spark.read.parquet(f"{work}/sessions").collect()} == got

    fresh = run_pipeline(spark, f"{work}/pm", 2020, 2020)
    n = spark.read.parquet(f"{work}/pm/articles").count()
    assert n > 0 and fresh["keywords_v2"].count() == n
    resume = run_pipeline(spark, f"{work}/pm", 2020, 2020)
    assert resume["ingest"]["pages"] == 0
    assert resume["keywords"] == {"keywords_v1": "current", "keywords_v2": "current"}
    assert spark.read.parquet(f"{work}/pm/articles").count() == n
    print("NO_SPAWN_OK")
    """
)


def test_local_writes_start_no_process(tmp_path):
    """Parquet, CSV, a checkpointed stream replay and a pipeline run plus
    resume, with `chmod`/`readlink`/`stat`/`ls` on PATH replaced by
    scripts that leave a marker and fail."""
    shims, markers, work = tmp_path / "shims", tmp_path / "markers", tmp_path / "work"
    for d in (shims, markers, work):
        d.mkdir()
    for name in SHELLED:
        shim = shims / name
        shim.write_text(f'#!/bin/sh\necho "$*" >> "{markers}/{name}"\nexit 1\n')
        shim.chmod(0o755)
    env = dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}",
               PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    done = subprocess.run(
        [sys.executable, "-c", _NO_SPAWN_SCRIPT, SF, str(work)],
        cwd=work, env=env, capture_output=True, text=True, timeout=600,
    )
    spawned = {p.name: p.read_text().splitlines()[:3] for p in markers.iterdir()}
    assert spawned == {}, spawned
    assert done.returncode == 0 and "NO_SPAWN_OK" in done.stdout, done.stderr[-4000:]


def _fs_pair(spark, umask: str):
    """Hadoop's LocalFileSystem and NioLocalFs, each uncached and
    initialised from the same configuration."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.set("fs.permissions.umask-mode", umask)
    uri = jvm.java.net.URI("file:///")
    hadoop = jvm.org.apache.hadoop.fs.LocalFileSystem()
    nio = jvm.mrc_spark_jobs_pubmed_spark.jvm.NioLocalFs()
    for fs in (hadoop, nio):
        fs.initialize(uri, conf)
    return hadoop, nio


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_local_sessions_use_the_nio_filesystem(spark, tmp_path):
    conf = spark._jsc.hadoopConfiguration()
    path = spark._jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri())
    assert path.getFileSystem(conf).getClass().getName() == S._NIO_FS_CLASS
    fc = spark._jvm.org.apache.hadoop.fs.FileContext.getFileContext(path.toUri(), conf)
    assert fc.getDefaultFileSystem().getClass().getName() == S._NIO_FS_CLASS + "$Fs"


@pytest.mark.parametrize("umask,file_mode,dir_mode", [
    ("022", 0o644, 0o755),
    ("027", 0o640, 0o750),
])
def test_modes_match_hadoop_chmod(spark, tmp_path, umask, file_mode, dir_mode):
    Path = spark._jvm.org.apache.hadoop.fs.Path
    for name, fs in zip(("hadoop", "nio"), _fs_pair(spark, umask)):
        root = tmp_path / name
        assert fs.mkdirs(Path(str(root / "a" / "b")))
        fs.create(Path(str(root / "a" / "b" / "f"))).close()
        assert [_mode(root / "a"), _mode(root / "a" / "b")] == [dir_mode, dir_mode]
        assert _mode(root / "a" / "b" / "f") == file_mode
        assert _mode(root / "a" / "b" / ".f.crc") == file_mode
        fs.setPermission(Path(str(root / "a" / "b" / "f")),
                         spark._jvm.org.apache.hadoop.fs.permission.FsPermission("0604"))
        assert _mode(root / "a" / "b" / "f") == 0o604


def test_spark_writes_default_modes_and_crc_files(spark, tmp_path):
    out = tmp_path / "t"
    spark.range(10).write.parquet(str(out))
    parts = list(out.glob("part-*.parquet"))
    assert parts and _mode(out) == 0o755
    for p in parts:
        assert _mode(p) == 0o644
        assert (out / f".{p.name}.crc").exists()


def _read_all(spark, stream) -> None:
    spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
        stream, spark._jvm.java.io.OutputStream.nullOutputStream(), 4096, True)


def _flip_byte(path) -> None:
    data = bytearray(path.read_bytes())
    data[len(data) // 2] ^= 0xFF
    path.write_bytes(bytes(data))


def _raises_checksum(spark, read) -> None:
    with pytest.raises(Py4JJavaError) as err:
        read()
    assert err.value.java_exception.getClass().getName() == \
        "org.apache.hadoop.fs.ChecksumException"


def test_flipped_byte_fails_the_checksum(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    table = tmp_path / "t"
    spark.range(1000).write.parquet(str(table))
    part = next(table.glob("part-*.parquet"))
    _flip_byte(part)
    path = jvm.org.apache.hadoop.fs.Path(str(part))
    _raises_checksum(spark, lambda: _read_all(spark, path.getFileSystem(conf).open(path)))

    # a streaming checkpoint goes through FileContext (fs.AbstractFileSystem)
    src_dir = tmp_path / "src"
    spark.range(5).write.parquet(str(src_dir))
    src = spark.readStream.schema("id long").parquet(str(src_dir))
    J.run_to_files(src, str(tmp_path / "out"), str(tmp_path / "ckpt")).awaitTermination()
    offset = tmp_path / "ckpt" / "offsets" / "0"
    assert (offset.parent / ".0.crc").exists()
    _flip_byte(offset)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == S._NIO_FS_CLASS + "$Fs"
    offset_path = jvm.org.apache.hadoop.fs.Path(str(offset))
    _raises_checksum(spark, lambda: _read_all(spark, fc.open(offset_path, 4096)))
    # Hadoop 3.4's one-argument FileContext.open goes through FilterFs
    # straight to the raw filesystem; NioLocalFs$Fs verifies it too
    _raises_checksum(spark, lambda: _read_all(spark, fc.open(offset_path)))


def test_restart_refuses_a_corrupt_checkpoint_offset(spark, tmp_path):
    """A restarted availableNow sink reads its offset log through the
    one-argument FileContext.open. A digit changed in `offsets/0` leaves
    valid JSON, so only the `.crc` check can refuse it."""
    src_dir, out, ckpt = tmp_path / "src", str(tmp_path / "out"), str(tmp_path / "ckpt")
    spark.range(10).write.parquet(str(src_dir / "a"))

    def start():
        src = (spark.readStream.schema("id long")
               .option("recursiveFileLookup", "true").parquet(str(src_dir)))
        return J.run_to_files(src, out, ckpt)

    start().awaitTermination()
    assert spark.read.parquet(out).count() == 10
    offset = tmp_path / "ckpt" / "offsets" / "0"
    text = offset.read_text()
    changed = re.sub(r'("batchTimestampMs":\d*)(\d)',
                     lambda m: m[1] + str((int(m[2]) + 1) % 10), text, count=1)
    assert changed != text
    offset.write_text(changed)
    spark.range(10, 30).write.parquet(str(src_dir / "b"))
    with pytest.raises(StreamingQueryException, match=r"Checksum error: \S*/ckpt/offsets/0 "):
        start().awaitTermination()
    assert spark.read.parquet(out).count() == 10


def test_link_status_matches_hadoop(spark, tmp_path):
    Path = spark._jvm.org.apache.hadoop.fs.Path
    target = tmp_path / "target"
    target.write_text("x")
    (tmp_path / "link").symlink_to(target)
    hadoop, nio = _fs_pair(spark, "022")
    for name in ("target", "link"):
        want, got = (fs.getFileLinkStatus(Path(str(tmp_path / name))) for fs in (hadoop, nio))
        assert got.isSymlink() == want.isSymlink() == (name == "link")
        assert got.isFile() == want.isFile() and got.getLen() == want.getLen()
        if name == "link":
            assert got.getSymlink().equals(want.getSymlink())
    with pytest.raises(Py4JJavaError, match="FileNotFoundException"):
        nio.getFileLinkStatus(Path(str(tmp_path / "absent")))


def test_jar_is_compiled_once_and_reused(spark, tmp_path, monkeypatch):
    jar = S.nio_fs_jar()
    assert spark.sparkContext.getConf().get("spark.driver.extraClassPath") == jar
    assert os.path.basename(jar).startswith("nio-local-fs-")

    def no_javac(*args, **kwargs):
        raise AssertionError("javac ran for a cached jar")

    monkeypatch.setattr(S.subprocess, "run", no_javac)
    assert S.nio_fs_jar() == jar
    assert S.get_session(app_name="engine-tests", shuffle_partitions=8) is spark


def test_fresh_build_dir_compiles_and_missing_javac_raises(tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_BUILD_DIR", str(tmp_path / "a"))
    jar = S.nio_fs_jar()
    assert os.path.dirname(jar) == str(tmp_path / "a")
    assert os.listdir(tmp_path / "a") == [os.path.basename(jar)]  # no temp dir left
    with zipfile.ZipFile(jar) as z:
        assert "mrc_spark_jobs_pubmed_spark/jvm/NioLocalFs$Raw.class" in z.namelist()

    monkeypatch.setattr(S, "_BUILD_DIR", str(tmp_path / "b"))
    monkeypatch.setenv("PATH", str(tmp_path / "empty"))
    with pytest.raises(RuntimeError, match="javac"):
        S.nio_fs_jar()

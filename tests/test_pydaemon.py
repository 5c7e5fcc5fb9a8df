"""The Python-worker daemon of local sessions (`pydaemon.py`): a task's
`importlib.invalidate_caches()` re-reads no zip archive that has not
changed, and still re-reads one that has.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from mrc_spark_jobs_pubmed_spark import pydaemon as D
from mrc_spark_jobs_pubmed_spark import session as S

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, module: str, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", source)


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """(archive, module name) of a one-module zip on sys.path, with
    `pydaemon`'s `invalidate_caches` installed and fresh stamps; the
    import caches are cleaned up afterwards."""
    archive, name = str(tmp_path / "probe.zip"), "pydaemon_probe_mod"
    _write_zip(archive, name, "VALUE = 1\n")
    monkeypatch.setattr(D, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", D.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    yield archive, name
    sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_only_a_changed_archive_is_read_again(zip_module, monkeypatch):
    archive, name = zip_module
    assert importlib.import_module(name).VALUE == 1
    importlib.invalidate_caches()  # stamps the archive, as the daemon does
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read(path))
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0

    before = os.stat(archive)
    _write_zip(archive, name, "VALUE = 'rewritten in place'\n")
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))  # only the size differs
    assert os.stat(archive).st_ino == before.st_ino
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    del sys.modules[name]
    assert importlib.import_module(name).VALUE == "rewritten in place"


def test_a_missing_archive_is_read_every_time(zip_module, monkeypatch):
    archive, name = zip_module
    importlib.import_module(name)
    importlib.invalidate_caches()
    os.remove(archive)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read(path))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert archive not in zipimport._zip_directory_cache


# Runs in a fresh process from a directory outside the repo, with the
# package on the driver's sys.path only: the workers must reach the daemon
# module through the session's own settings.
_SESSION_SCRIPT = textwrap.dedent(
    """
    import sys, zipfile
    repo, work = sys.argv[1], sys.argv[2]
    sys.path.insert(0, repo)
    from mrc_spark_jobs_pubmed_spark import pydaemon
    from mrc_spark_jobs_pubmed_spark.session import get_session

    spark = get_session(app_name="pydaemon", master="local[1]", shuffle_partitions=1)
    assert spark.conf.get("spark.python.daemon.module") == "mrc_spark_jobs_pubmed_spark.pydaemon"

    def probe(batches):
        # first task: count directory reads from here on; later tasks
        # report the reads their own setup made
        import os, zipimport
        import pandas as pd
        for _ in batches:
            pass
        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:
            zipimport._probe_reads = []
            read = zipimport._read_directory
            zipimport._read_directory = lambda p: zipimport._probe_reads.append(p) or read(p)
            n = -1
        else:
            n = len(reads)
            reads.clear()
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame({"pid": [os.getpid()], "patch": [code.co_filename], "reads": [n]})

    def run():
        return spark.range(1, numPartitions=1).mapInPandas(
            probe, "pid long, patch string, reads long").collect()[0]

    first, second = run(), run()
    assert first.patch == pydaemon.__file__, first.patch
    # local[1] reuses its worker once a task has read all of its output
    assert second.pid == first.pid, (first, second)
    assert second.reads == 0, second

    late = f"{work}/late.zip"
    with zipfile.ZipFile(late, "w") as z:
        z.writestr("pydaemon_late_mod.py", "VALUE = 42\\n")
    spark.sparkContext.addPyFile(late)

    def late_value(batches):
        import pandas as pd
        import pydaemon_late_mod
        for _ in batches:
            pass
        yield pd.DataFrame({"v": [pydaemon_late_mod.VALUE]})

    assert spark.range(1, numPartitions=1).mapInPandas(late_value, "v long").collect()[0].v == 42
    print("PYDAEMON_OK")
    """
)


def test_session_workers_skip_unchanged_archives(tmp_path):
    """A local session's task runs the engine's `invalidate_caches`, its
    worker's second task reads no archive directory, and a zip added with
    `addPyFile` after the workers started imports inside a UDF."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", _SESSION_SCRIPT, REPO, str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0 and "PYDAEMON_OK" in done.stdout, done.stderr[-4000:]


@pytest.mark.parametrize("master", [None, "spark://host:7077", "yarn", "k8s://https://host:443"])
def test_other_masters_keep_the_pyspark_daemon(master):
    assert "spark.python.daemon.module" not in S.local_conf(master)


@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]"])
def test_local_masters_name_the_daemon(master):
    assert S.local_conf(master)["spark.python.daemon.module"] == D.__name__

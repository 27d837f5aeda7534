"""Python workers fork from ``sparkfuse.daemon``: archives on ``sys.path`` at
daemon start keep their zip index across tasks; zips added later keep the
stock per-task re-read, so ``addPyFile`` still works."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PRE_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13 re-reads zip indexes lazily"
)


def _write_zip(path, module, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", source)
    return str(path)


@PRE_313
def test_worker_keeps_pyspark_zip_index_across_tasks(spark):
    @F.pandas_udf("string")
    def pyspark_zip_index(ids: pd.Series) -> pd.Series:
        """'<pid> <seen before> <same index as this worker's last task>'."""
        import os
        import zipimport

        key = next(k for k in zipimport._zip_directory_cache
                   if os.path.basename(k) == "pyspark.zip")
        index = zipimport._zip_directory_cache[key]
        prev = getattr(zipimport, "_sparkfuse_test_index", None)
        zipimport._sparkfuse_test_index = index  # strong ref: no id reuse
        return pd.Series([f"{os.getpid()} {int(prev is not None)} {int(prev is index)}"]
                         * len(ids))

    # the idle-worker pool hands tasks out FIFO, so run one-partition tasks
    # until some worker serves a second one
    one = spark.range(1, numPartitions=1)
    repeats = []
    for _ in range(2 * spark.sparkContext.defaultParallelism + 4):
        pid, seen, same = one.select(pyspark_zip_index("id")).first()[0].split()
        if seen == "1":
            repeats.append((pid, same))
        if len(repeats) >= 2:
            break
    assert repeats, "no worker served two tasks"
    assert all(same == "1" for _, same in repeats), repeats


def test_zip_added_after_session_start_imports(spark, tmp_path):
    path = _write_zip(tmp_path / "late_pkg.zip", "sparkfuse_late_mod", "VALUE = 41\n")
    spark.sparkContext.addPyFile(path)

    @F.pandas_udf("long")
    def late_value(ids: pd.Series) -> pd.Series:
        import sparkfuse_late_mod

        return ids + sparkfuse_late_mod.VALUE

    got = spark.range(3, numPartitions=1).select(late_value("id")).collect()
    assert [r[0] for r in got] == [41, 42, 43]


@PRE_313
def test_only_startup_archives_skip_the_reread(tmp_path):
    """In a fresh interpreter: an archive on sys.path (reached through a
    symlink, so paths must be resolved) keeps its index; one added after
    the hook is installed is re-read as before."""
    early = _write_zip(tmp_path / "early.zip", "early_mod", "X = 1\n")
    late = _write_zip(tmp_path / "late.zip", "late_mod", "X = 2\n")
    link = tmp_path / "link.zip"
    link.symlink_to(early)
    script = textwrap.dedent(f"""
        import importlib, sys, zipimport
        sys.path[:0] = [{str(link)!r}]
        from sparkfuse.daemon import keep_startup_archive_indexes
        keep_startup_archive_indexes()
        sys.path.append({late!r})
        import early_mod, late_mod
        assert early_mod.X == 1 and late_mod.X == 2
        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        print(int(after[{str(link)!r}] is before[{str(link)!r}]),
              int(after[{late!r}] is before[{late!r}]))
    """)
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=str(tmp_path),
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["1", "0"]

"""The Python worker daemon prelude (`watermill_spark/pyworker.py`).

PySpark calls `importlib.invalidate_caches()` before every Python task; on
CPython < 3.12 that re-reads every zip archive on the worker's `sys.path`
(about 0.2 s per task). `get_spark` starts the workers from a prelude that
re-reads an archive only when it changed on disk.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parents[1]


def _worker_zip_reads(pdf: pd.DataFrame) -> pd.DataFrame:
    import importlib
    import zipimport

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    return pd.DataFrame({"reads": [len(reads)]})


def test_worker_keeps_zip_directories_across_invalidate_caches(spark):
    assert spark.conf.get("spark.python.daemon.module") == "watermill_spark.pyworker"
    rows = (
        spark.createDataFrame([(1,)], "g int")
        .groupBy("g")
        .applyInPandas(_worker_zip_reads, "reads long")
        .collect()
    )
    assert [r["reads"] for r in rows] == [0]


def test_changed_zip_is_reread(tmp_path):
    """An archive that gains a module after it was imported from is read
    again, and the new module imports; an unchanged one is not re-read."""
    code = textwrap.dedent(
        """
        import importlib, sys, zipfile, zipimport
        from watermill_spark import pyworker

        pyworker.install()
        archive = sys.argv[1]
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod_a.py", "A = 1\\n")
        sys.path.insert(0, archive)
        import zmod_a

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        importlib.invalidate_caches()
        if sys.version_info < (3, 12):
            assert reads == [], reads
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zmod_b.py", "B = 2\\n")
        importlib.invalidate_caches()
        import zmod_b

        assert zmod_b.B == 2
        print("ok")
        """
    )
    env = {**os.environ, "PYTHONPATH": str(ROOT)}
    res = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "mods.zip")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "ok"


def test_get_spark_runs_python_tasks_from_any_cwd(tmp_path):
    """The daemon module must import on the workers even when the driver was
    started outside the repo with no PYTHONPATH: a daemon that cannot start
    fails every Python task."""
    code = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        from watermill_spark.session import get_spark

        spark = get_spark("pyworker-cwd")
        try:
            rows = spark.range(3).mapInPandas(
                lambda it: (pdf * 2 for pdf in it), "id long"
            ).collect()
            print(sorted(r["id"] for r in rows))
        finally:
            spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", code, str(ROOT)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.strip().splitlines()[-1] == "[0, 2, 4]"

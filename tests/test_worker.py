"""Worker bootstrap: stat-guarded zip importers (full_lattice_search_spark/worker.py).

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task; the guard keeps that from re-parsing unchanged zip archives.  The
import-system checks run in subprocesses so this process's importers stay
untouched.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, tmp_path) -> str:
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    return res.stdout


def test_guard_skips_unchanged_archive_and_rereads_rewritten(tmp_path):
    out = _run(
        """
        import importlib, os, sys, zipfile, zipimport

        def write(names):
            with zipfile.ZipFile("mods.zip", "w") as z:
                z.writestr("zpkg/__init__.py", "")
                for n in names:
                    z.writestr(f"zpkg/{n}.py", f"NAME = {n!r}")

        write(["a"])
        sys.path.insert(0, os.path.abspath("mods.zip"))
        import zpkg.a

        reads = []
        orig = zipimport._read_directory
        def counted(archive):
            reads.append(archive)
            return orig(archive)
        zipimport._read_directory = counted

        importlib.invalidate_caches()
        assert len(reads) >= 2, reads  # plain importers re-read every time

        from full_lattice_search_spark.worker import (
            StatGuardedZipImporter, install_zip_guard)
        install_zip_guard()
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        assert zips and all(type(f) is StatGuardedZipImporter for f in zips)
        assert StatGuardedZipImporter in sys.path_hooks
        assert zipimport.zipimporter not in sys.path_hooks

        del reads[:]
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == [], reads

        write(["a", "b"])  # the extra entry changes the archive's size
        importlib.invalidate_caches()
        assert len(reads) == 1, reads  # once per archive, not per importer
        import zpkg.b
        assert zpkg.b.NAME == "b"
        print("ok")
        """,
        tmp_path,
    )
    assert out.strip() == "ok"


def test_driver_import_leaves_import_system_alone(tmp_path):
    out = _run(
        """
        import os, sys, zipfile
        with zipfile.ZipFile("mods.zip", "w") as z:
            z.writestr("zmod.py", "")
        sys.path.insert(0, os.path.abspath("mods.zip"))
        import zmod

        def snapshot():
            return (list(sys.path_hooks),
                    {k: type(v) for k, v in sys.path_importer_cache.items()})

        hooks, types = snapshot()
        import full_lattice_search_spark
        hooks2, types2 = snapshot()
        assert hooks2 == hooks
        assert {k: types2[k] for k in types} == types
        assert "full_lattice_search_spark.worker" not in sys.modules
        print("ok")
        """,
        tmp_path,
    )
    assert out.strip() == "ok"


def test_reused_worker_tasks_skip_archive_rereads(spark):
    """Each task reports the plain zipimporters it sees and how many archive
    directory reads happened in its worker since that worker's previous
    probe task (that is, in this task's setup).  Without the guard every
    task re-reads ~16 directories."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import full_lattice_search_spark  # noqa: F401 (installs the guard)
        from pyspark import TaskContext

        for _ in batches:
            pass
        read = zipimport._read_directory
        since_last = -1
        if hasattr(read, "calls"):
            since_last = read.calls
        else:
            def counted(archive, _orig=read):
                counted.calls += 1
                return _orig(archive)
            zipimport._read_directory = read = counted
        read.calls = 0
        plain = sum(type(f) is zipimport.zipimporter
                    for f in sys.path_importer_cache.values())
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "task": [TaskContext.get().taskAttemptId()],
            "plain": [plain],
            "reads": [since_last],
        })

    schema = "pid long, task long, plain long, reads long"
    df = spark.range(0, 8, numPartitions=4)
    rows = []
    for _ in range(6):
        rows += df.mapInPandas(probe, schema).collect()
    assert rows and all(r["plain"] == 0 for r in rows), rows
    repeat = [r for r in rows if r["reads"] >= 0]
    assert repeat, rows  # some worker ran more than one probe task
    assert all(r["reads"] == 0 for r in repeat), rows

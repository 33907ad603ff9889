"""The Python worker module (``pyspark_graft_worker``) and how sessions use it.

Reused Python workers must not re-read an unchanged zip archive on every
task, yet must still import from an archive that changes or arrives
mid-session (``sc.addPyFile``).
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import time
import uuid
import zipfile
import zipimport

import pytest

from movie_rankings_spark.session import REPO_ROOT, WORKER_MODULE


@pytest.fixture
def worker_module(monkeypatch):
    mod = importlib.import_module(WORKER_MODULE)
    monkeypatch.setattr(mod, "_last_read", {})
    # importing patched the class for the whole process; undo it after
    zipimport.zipimporter.invalidate_caches = mod.invalidate_caches
    yield mod
    zipimport.zipimporter.invalidate_caches = mod._reread


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _settle(path, mod) -> None:
    """Age the archive's mtime past the window in which reads are not
    remembered."""
    past = time.time_ns() - 2 * mod._SETTLED_NS
    os.utime(path, ns=(past, past))


def test_unchanged_zip_is_not_reread(worker_module, tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    first, second = f"graft_zip_a_{tag}", f"graft_zip_b_{tag}"
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {first: "X = 1\n"})
    _settle(archive, worker_module)
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(first).X == 1

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()  # the first read on record
    assert reads == [str(archive)]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [str(archive)]

    _write_zip(archive, {first: "X = 1\n", second: "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(second).Y == 2
    # a fresh mtime is not remembered: a rewrite within the file
    # system's timestamp granularity could reuse it
    importlib.invalidate_caches()
    assert len(reads) == 3

    archive.unlink()
    importlib.invalidate_caches()  # stat fails: re-read, as without the module
    assert len(reads) == 4


def test_worker_module_runs_pyspark_worker_as_script():
    # without the daemon, Spark starts the worker module as a script; it
    # must run pyspark.worker's entry point, which here fails to connect
    env = {**os.environ, "PYTHONPATH": REPO_ROOT, "PYTHON_WORKER_FACTORY_PORT": "1"}
    env.pop("PYTHON_WORKER_FACTORY_SOCK_PATH", None)
    proc = subprocess.run(
        [sys.executable, "-m", WORKER_MODULE],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "local_connect_and_auth" in proc.stderr


def test_python_tasks_run_through_worker_module(spark):
    def worker_state(_):
        import os
        import sys
        import zipimport

        mod = sys.modules.get("pyspark_graft_worker")
        yield (
            mod is not None
            and zipimport.zipimporter.invalidate_caches is mod.invalidate_caches,
            os.environ.get("PYTHONPATH", ""),
        )

    sc = spark.sparkContext
    states = sc.parallelize(range(8), 8).mapPartitions(worker_state).collect()
    assert len(states) == 8 and all(patched for patched, _ in states)
    pythonpath = states[0][1].split(os.pathsep)
    assert REPO_ROOT in pythonpath
    vendor = os.path.join(REPO_ROOT, "vendor")
    if vendor in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        assert vendor in pythonpath  # _ensure_protobuf's path survives


def test_sql_python_tasks_run_through_worker_module(spark):
    def patched(batches):
        import sys
        import zipimport

        import pandas as pd

        fn = sys.modules["pyspark_graft_worker"].invalidate_caches
        for b in batches:
            yield pd.DataFrame(
                {"ok": [zipimport.zipimporter.invalidate_caches is fn] * len(b)}
            )

    rows = spark.range(8).mapInPandas(patched, "ok boolean").collect()
    assert len(rows) == 8 and all(r.ok for r in rows)


def test_reused_workers_import_zip_added_mid_session(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(8), 8).count()  # start the workers first
    name = f"graft_pyfile_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    sc.addPyFile(str(archive))

    def use(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert sc.parallelize(range(8), 8).mapPartitions(use).collect() == [42] * 8

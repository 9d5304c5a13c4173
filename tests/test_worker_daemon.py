"""The Python worker daemon: zip archives are re-read only when they
change, every ``get_spark`` session starts its workers from the daemon,
and the daemon imports whatever the JVM's working directory is."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyarrow as pa
import pytest

from spotify_podcasts_airflow_batch_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "spotify_podcasts_airflow_batch_spark.worker_daemon"


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write ``modules`` to a fresh file and move it over ``path``, the
    way a redeploy replaces an archive."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)
    os.replace(tmp, path)


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, name
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture()
def reads(monkeypatch):
    """Calls to the original ``zipimporter.invalidate_caches``, with the
    daemon's keys and the class method restored afterwards."""
    calls = []
    original = worker_daemon._reread

    def counting(self):
        calls.append(self.archive)
        original(self)

    monkeypatch.setattr(worker_daemon, "_reread", counting)
    monkeypatch.setattr(worker_daemon, "_read_keys", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    return calls


@pytest.mark.fast
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "kernels.zip")
    _write_zip(archive, {"mod_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    worker_daemon.install()  # seeds the key of the directory just read

    for _ in range(3):
        importer.invalidate_caches()
    assert reads == []
    assert _load(importer, "mod_a").VALUE == 1


@pytest.mark.fast
def test_rewritten_archive_is_reread(tmp_path, reads):
    archive = str(tmp_path / "kernels.zip")
    _write_zip(archive, {"mod_a": "VALUE = 1\n"})
    first = zipimport.zipimporter(archive)
    second = zipimport.zipimporter(archive)  # a second package prefix
    worker_daemon.install()

    _write_zip(archive, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"})
    first.invalidate_caches()
    second.invalidate_caches()
    assert reads == [archive]  # one read per change, shared by both
    assert _load(first, "mod_b").VALUE == 2
    assert _load(second, "mod_b").VALUE == 2

    second.invalidate_caches()
    assert reads == [archive]


@pytest.mark.fast
def test_directory_finders_are_still_invalidated(tmp_path, reads, monkeypatch):
    """A file shipped into a directory on the path after the first
    lookup (``addPyFile``, ``spark_files_dir``) is still found."""
    monkeypatch.syspath_prepend(str(tmp_path))
    worker_daemon.install()
    assert importlib.util.find_spec("shipped_after_start") is None
    (tmp_path / "shipped_after_start.py").write_text("VALUE = 3\n")
    importlib.invalidate_caches()
    assert importlib.util.find_spec("shipped_after_start") is not None


def test_get_spark_workers_run_the_daemon(spark):
    """A Python kernel's worker was forked by the package daemon: its
    zip cache invalidation is the stat-guarded one."""

    def report(batches):  # nested: pickled by value, not by module
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"module": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    rows = (
        spark.range(4, numPartitions=1)
        .mapInArrow(report, "module string")
        .collect()
    )
    assert [r.module for r in rows] == [DAEMON]


def test_daemon_imports_from_any_working_directory(tmp_path):
    """``get_spark`` from a directory that does not hold the package,
    with the package reachable only through ``sys.path``: a Python UDF
    runs in a worker started by the daemon."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from spotify_podcasts_airflow_batch_spark.session import get_spark

        spark = get_spark("daemon-cwd", shuffle_partitions=1)
        spark.sparkContext.setLogLevel("ERROR")

        def report(x):
            import zipimport
            return zipimport.zipimporter.invalidate_caches.__module__

        udf = F.udf(report, "string")
        print("MODULE", spark.range(1).select(udf("id")).first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"MODULE {DAEMON}" in out.stdout.splitlines(), out.stdout

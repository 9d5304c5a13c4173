"""Python worker daemon: ``pyspark.daemon`` with a stat-guarded zip
cache invalidation.

``session.get_spark`` names this module as ``spark.python.daemon.module``,
so the JVM starts it as ``python -m <this module> <worker module>``.

Why it exists: PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` once per task. On Python 3.11 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
whole archive directory, and a worker holds one per package directory
it imported from: over ``pyspark.zip``, the py4j zip and the
``spark-core`` jar Spark puts on the worker's ``PYTHONPATH``. That is
about 170–190 ms of fixed setup per Python-evaluated task on a 4-core
host, and the event log does not show it (``exec_cpu_s`` counts JVM
threads only).

The daemon patches ``zipimporter.invalidate_caches`` to re-read an
archive's directory only when the archive changed since its last read,
"changed" meaning its ``(st_ino, st_size, st_mtime_ns)`` differs. The
keys of the archives already read are seeded before the daemon forks
its workers, then ``pyspark.daemon.manager()`` runs unchanged. Directory
finders are still invalidated on every call, so files shipped with
``addPyFile`` or into ``spark_files_dir``, and a rewritten zip, are
still picked up.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat key of the archive when its directory was last read
_read_keys: dict[str, tuple[int, int, int] | None] = {}


def _stat_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory
    re-read while the archive is unchanged. Every importer over one
    archive then shares the directory its last read left in
    ``zipimport._zip_directory_cache``."""
    key = _stat_key(self.archive)  # before the read: a racing rewrite re-reads next time
    if key is not None and _read_keys.get(self.archive) == key:
        self._files = zipimport._zip_directory_cache.get(self.archive, {})
        return
    _reread(self)
    _read_keys[self.archive] = key


def install() -> None:
    """Patch ``zipimporter`` and seed the key of every archive whose
    directory this process has read (the zips and jars on ``sys.path``
    that imports went through)."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for archive in zipimport._zip_directory_cache:
        _read_keys[archive] = _stat_key(archive)


def main() -> None:
    from pyspark import daemon

    install()
    daemon.manager()


if __name__ == "__main__":
    # Run under the module's import name, so the patched method names
    # this module rather than ``__main__``.
    from spotify_podcasts_airflow_batch_spark.worker_daemon import main as _main

    _main()

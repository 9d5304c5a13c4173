"""Build the package's local-filesystem jar from its Java sources.

    python tools/build_jar.py

compiles every ``.java`` file in ``spotify_podcasts_airflow_batch_spark/jvm/``
with ``javac --release 17`` against the jars of the installed pyspark
and packs the classes into the jar that ``session.get_spark`` puts on
the driver's class path (entries carry a fixed date, so a rebuild of an
unchanged source gives the same jar). ``tests/test_local_fs.py``
recompiles the sources and checks each class against the committed jar.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spotify_podcasts_airflow_batch_spark.session import LOCAL_FS_JAR  # noqa: E402

JVM_DIR = os.path.dirname(LOCAL_FS_JAR)
SOURCES = sorted(
    os.path.join(JVM_DIR, f) for f in os.listdir(JVM_DIR) if f.endswith(".java")
)
JAR_DATE = "2026-01-01T00:00:00Z"


def compile_classes(out_dir: str) -> list[str]:
    """Compile ``SOURCES`` into ``out_dir``; the ``.class`` files written,
    relative to ``out_dir`` (as they are named in the jar)."""
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    subprocess.run(
        ["javac", "--release", "17", "-cp", jars, "-d", out_dir, *SOURCES],
        check=True,
    )
    return sorted(
        os.path.relpath(os.path.join(d, f), out_dir)
        for d, _, files in os.walk(out_dir)
        for f in files
        if f.endswith(".class")
    )


def main() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_classes(tmp)
        subprocess.run(
            ["jar", "--create", "--file", LOCAL_FS_JAR, "--date", JAR_DATE, *classes],
            cwd=tmp,
            check=True,
        )
    print(LOCAL_FS_JAR, os.path.getsize(LOCAL_FS_JAR), "bytes:", ", ".join(classes))


if __name__ == "__main__":
    main()

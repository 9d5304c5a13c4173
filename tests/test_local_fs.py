"""The ``file://`` filesystem of ``get_spark`` sessions: Hadoop's
checksummed local filesystem whose chmod is a system call. Writes fork
no ``chmod`` process, keep Hadoop's modes and checksum files, and the
committed jar is what its source compiles to."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.session import (
    LOCAL_AFS_CLASS,
    LOCAL_FS_CLASS,
    LOCAL_FS_JAR,
)
from spotify_podcasts_airflow_batch_spark.sinks.writers import write_daily_partitioned
from tools.build_jar import compile_classes
from tools.subprocess_census import install_shims, spawns

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hadoop(spark):
    return spark.sparkContext._jvm.org.apache.hadoop, spark.sparkContext._jsc.hadoopConfiguration()


@pytest.mark.fast
def test_committed_jar_matches_its_source(tmp_path):
    classes = compile_classes(str(tmp_path))
    assert classes
    with zipfile.ZipFile(LOCAL_FS_JAR) as jar:
        committed = sorted(n for n in jar.namelist() if n.endswith(".class"))
        assert committed == classes
        for name in classes:
            assert jar.read(name) == (tmp_path / name).read_bytes(), name


def test_file_scheme_is_the_syscall_filesystem(spark):
    hadoop, conf = _hadoop(spark)
    uri = spark.sparkContext._jvm.java.net.URI("file:///")
    assert hadoop.fs.FileSystem.get(uri, conf).getClass().getName() == LOCAL_FS_CLASS
    local = hadoop.fs.FileSystem.getLocal(conf)  # casts to LocalFileSystem
    assert local.getClass().getName() == LOCAL_FS_CLASS
    assert local.getRaw().getClass().getName() == f"{LOCAL_FS_CLASS}$Raw"
    # FileContext (streaming checkpoints) resolves file:// on its own
    context = hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert context.getDefaultFileSystem().getClass().getName() == LOCAL_AFS_CLASS


def test_written_tree_keeps_hadoop_modes_and_checksums(spark, tmp_path):
    """Directories and files get Hadoop's default modes under its umask
    (755 and 644 under the default 022), and every file its ``.crc``."""
    hadoop, conf = _hadoop(spark)
    umask = hadoop.fs.permission.FsPermission.getUMask(conf).toShort()
    out = tmp_path / "daily"
    write_daily_partitioned(
        spark.range(20).select("id", (F.col("id") % 3).alias("snapshot_date")),
        str(out),
    )
    dirs, files = [str(out)], []
    for d, subdirs, names in os.walk(out):
        dirs += [os.path.join(d, s) for s in subdirs]
        files += [os.path.join(d, n) for n in names]
    assert len(dirs) == 4
    for d in dirs:
        assert stat.S_IMODE(os.stat(d).st_mode) == 0o777 & ~umask, d
    for f in files:
        assert stat.S_IMODE(os.stat(f).st_mode) == 0o666 & ~umask, f
    data = [f for f in files if not os.path.basename(f).startswith(".")]
    assert len(data) > 3
    for f in data:
        head, name = os.path.split(f)
        assert os.path.join(head, f".{name}.crc") in files, f


def test_set_permission_sets_every_mode_bit(spark, tmp_path):
    hadoop, conf = _hadoop(spark)
    fs = hadoop.fs.FileSystem.getLocal(conf)
    sticky = tmp_path / "sticky"
    sticky.mkdir()
    fs.setPermission(
        hadoop.fs.Path(str(sticky)), hadoop.fs.permission.FsPermission.valueOf("drwxrwxrwt")
    )
    assert stat.S_IMODE(os.stat(sticky).st_mode) == 0o1777
    private = tmp_path / "private"
    private.write_text("x")
    fs.setPermission(
        hadoop.fs.Path(str(private)), hadoop.fs.permission.FsPermission.valueOf("-rw-r-----")
    )
    assert stat.S_IMODE(os.stat(private).st_mode) == 0o640


def test_rename_never_replaces_a_file(spark, tmp_path):
    """Hive's rule for ``file://``, which sessions had before the class."""
    hadoop, conf = _hadoop(spark)
    fs = hadoop.fs.FileSystem.getLocal(conf)
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.write_text("new")
    dst.write_text("old")
    assert not fs.rename(hadoop.fs.Path(str(src)), hadoop.fs.Path(str(dst)))
    assert (src.read_text(), dst.read_text()) == ("new", "old")
    dst.unlink()
    assert fs.rename(hadoop.fs.Path(str(src)), hadoop.fs.Path(str(dst)))
    assert dst.read_text() == "new" and not src.exists()


def test_writes_fork_no_chmod(tmp_path):
    """A 30-date partitioned write plus the one-file CSV, then a
    checkpointed parquet-to-parquet ``availableNow`` stream (whose
    checkpoint goes through Hadoop's ``FileContext``), in a session
    whose caller puts its own entry on ``spark.driver.extraClassPath``
    and whose ``PATH`` starts with a logging ``chmod``: the caller's
    entry is on the class path, and neither the writes nor the stream
    fork ``chmod``. Hadoop's own raw local filesystem, asked for one
    chmod in the same JVM, goes through the shim."""
    shims, log = tmp_path / "shims", tmp_path / "spawns.log"
    install_shims(str(shims), str(log))
    caller = tmp_path / "caller-classpath"
    caller.mkdir()
    (caller / "caller-marker.txt").write_text("caller\n")
    out = tmp_path / "out"
    script = textwrap.dedent(
        f"""
        import json, os, sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from spotify_podcasts_airflow_batch_spark.session import get_spark
        from spotify_podcasts_airflow_batch_spark.sinks.writers import (
            write_consolidated_csv,
            write_daily_partitioned,
        )
        from spotify_podcasts_airflow_batch_spark.sources.readers import read_parquet
        from tools.subprocess_census import spawns

        out, log = {str(out)!r}, {str(log)!r}
        spark = get_spark("local-fs-spawns", shuffle_partitions=4)
        spark.sparkContext.setLogLevel("ERROR")
        jvm = spark.sparkContext._jvm
        start = F.lit("2024-01-01").cast("date")
        days = spark.range(300).select(
            "id", F.date_add(start, (F.col("id") % 30).cast("int")).alias("snapshot_date")
        )
        write_daily_partitioned(days, os.path.join(out, "daily"))
        csv = write_consolidated_csv(
            read_parquet(spark, os.path.join(out, "daily")),
            os.path.join(out, "csv"),
            single_file=True,
        )
        written = spawns(log).get("chmod", 0)
        spark.range(100).write.parquet(os.path.join(out, "stream_in"))
        stream = (
            spark.readStream.schema("id long")
            .parquet(os.path.join(out, "stream_in"))
            .writeStream.format("parquet")
            .option("checkpointLocation", os.path.join(out, "checkpoint"))
            .trigger(availableNow=True)
            .start(os.path.join(out, "stream_out"))
        )
        stream.awaitTermination()
        streamed = spawns(log).get("chmod", 0) - written
        raw = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
        raw.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
        raw.setPermission(
            jvm.org.apache.hadoop.fs.Path(csv),
            jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf("-rw-r--r--"),
        )
        result = dict(
            written=written,
            streamed=streamed,
            stream_rows=read_parquet(spark, os.path.join(out, "stream_out")).count(),
            control=spawns(log).get("chmod", 0) - written - streamed,
            caller=jvm.java.lang.ClassLoader.getSystemResource("caller-marker.txt") is not None,
            dates=len([d for d in os.listdir(os.path.join(out, "daily")) if d.startswith("snapshot_date=")]),
            csv=os.path.basename(csv),
        )
        print("RESULT", json.dumps(result))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PATH=f"{shims}{os.pathsep}{os.environ['PATH']}",
        PYSPARK_SUBMIT_ARGS=f"--conf spark.driver.extraClassPath={caller} pyspark-shell",
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    (line,) = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    result = json.loads(line.removeprefix("RESULT "))
    assert result == dict(
        written=0,
        streamed=0,
        stream_rows=100,
        control=1,
        caller=True,
        dates=30,
        csv="consolidated.csv",
    ), spawns(str(log))

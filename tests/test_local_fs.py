"""The engine's local filesystem (session.LOCAL_FS_CLASS) sets file modes in
the JVM. Without libhadoop, stock RawLocalFileSystem forks a chmod for every
file, .crc file and directory a write creates. The engine's filesystem must
leave the same modes and .crc files as stock Hadoop, fork nothing, and stay
a LocalFileSystem. Where it cannot load, the session keeps the stock
filesystem and, for a local master, warns with the reason and names Hadoop's
LocalFileSystem, whose rename replaces an existing file as the engine's
does."""

import os
import re
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_JAVA_BIN = os.path.join(os.environ.get("JAVA_HOME", ""), "bin")
needs_javac = pytest.mark.skipif(
    shutil.which("javac", path=os.pathsep.join((_JAVA_BIN, os.environ.get("PATH", ""))))
    is None,
    reason="no javac: the session keeps the stock local filesystem")

# Write this many one-row crawl_date partitions: the stock filesystem forks
# ~3 chmods per partition, ~1 s of the driver JVM's reaped-children CPU for
# 120 partitions on a 4-vCPU host.
PARTITIONS = 120
MAX_CHILD_CPU_S = 0.05


def _partitioned_write(spark, path, partitions):
    (spark.range(partitions)
     .withColumn("crawl_date", F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")))
     .write.mode("overwrite").partitionBy("crawl_date").parquet(path))


def _mode(path):
    return stat.S_IMODE(os.stat(path).st_mode)


def _reaped_children_cpu_s(pid):
    fields = open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def test_partitioned_write_keeps_stock_modes(spark, tmp_path):
    out = str(tmp_path / "table")
    _partitioned_write(spark, out, 3)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("crawl_date="))
    assert len(dirs) == 3
    assert _mode(out) == 0o755
    for d in dirs:
        part_dir = os.path.join(out, d)
        assert _mode(part_dir) == 0o755
        names = os.listdir(part_dir)
        parts = [n for n in names if n.startswith("part-")]
        assert parts
        for n in parts:
            assert f".{n}.crc" in names
        for n in names:
            assert _mode(os.path.join(part_dir, n)) == 0o644, n


@needs_javac
def test_write_forks_nothing(spark, tmp_path):
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    out = str(tmp_path / "table")
    before = _reaped_children_cpu_s(pid)
    _partitioned_write(spark, out, PARTITIONS)
    grown = _reaped_children_cpu_s(pid) - before
    assert len([d for d in os.listdir(out) if d.startswith("crawl_date=")]) == PARTITIONS
    assert grown < MAX_CHILD_CPU_S, f"reaped-children CPU s of one write: {grown:.2f}"


@needs_javac
def test_loaded_filesystem_is_still_local(spark, tmp_path):
    from scrubah_pii_spark.session import LOCAL_FS_CLASS

    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.file.impl") == LOCAL_FS_CLASS
    local = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert local.getClass().getName() == LOCAL_FS_CLASS
    text = tmp_path / "lines.txt"
    text.write_text("a\nb\nc\n")
    assert sorted(spark.sparkContext.textFile(str(text)).collect()) == ["a", "b", "c"]


@needs_javac
def test_sticky_and_non_posix_modes_fall_back(spark, tmp_path):
    jvm = spark._jvm
    fs_class = jvm.scrubah_pii_spark.jvm.PosixLocalFileSystem
    raw = fs_class.Raw()
    raw.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())

    # a sticky bit: only chmod sets it, so Raw hands it to stock Hadoop
    sticky = tmp_path / "sticky"
    sticky.mkdir()
    assert not fs_class.setMode(jvm.java.io.File(str(sticky)).toPath(), 0o1777)
    raw.setPermission(jvm.org.apache.hadoop.fs.Path(str(sticky)),
                      jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    assert _mode(sticky) == 0o1777

    plain = tmp_path / "plain"
    plain.write_text("x")
    assert fs_class.setMode(jvm.java.io.File(str(plain)).toPath(), 0o640)
    assert _mode(plain) == 0o640

    # a zip filesystem keeps no POSIX modes
    archive = tmp_path / "a.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a.txt", "x")
    zfs = jvm.java.nio.file.FileSystems.newFileSystem(jvm.java.io.File(str(archive)).toPath())
    try:
        no_more = spark.sparkContext._gateway.new_array(jvm.String, 0)
        assert not fs_class.setMode(zfs.getPath("/a.txt", no_more), 0o644)
    finally:
        zfs.close()


# Prints the session's fs.file.impl, whether getLocal returns the engine's
# class (getLocal casts what it returns to LocalFileSystem), the row count of
# a partitioned file:// table written through the session, and `report`.
_WRITE_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
{prefix}
from scrubah_pii_spark.session import LOCAL_FS_CLASS, build_session
spark = build_session(master="local[1]", shuffle_partitions=1,
                      extra_conf={{"spark.driver.memory": "1g"}})
conf = spark.sparkContext._jsc.hadoopConfiguration()
local = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
spark.range(4).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet({out!r})
print(conf.get("fs.file.impl"), local.getClass().getName() == LOCAL_FS_CLASS,
      spark.read.parquet({out!r}).count(), {report})
spark.stop()
"""


def _write_script(tmp_path, prefix="", report="''"):
    return _WRITE_SCRIPT.format(repo=REPO, prefix=prefix, report=report,
                                out=str(tmp_path / "table"))


def _run(cmd, cwd, env=None):
    """(the last stdout line's fields, stdout + stderr). spark-submit hands
    the Python job's stderr to its own stdout."""
    env = {**os.environ, **(env or {})}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.strip().splitlines()[-1].split(), proc.stdout + proc.stderr


# local_fs_conf's fallback warning: the running JVM lacks the class
# directory (or, on a host without a JDK, there is no javac)
_STOCK_FS_WARNING = r"keeping Hadoop's stock local filesystem.*(class path lacks|no javac)"
HADOOP_LOCAL_FS = "org.apache.hadoop.fs.LocalFileSystem"


def _rename_report(tmp_path):
    """A report expression for _WRITE_SCRIPT: the session's local
    filesystem renames file 'src' onto the existing file 'dst'; it prints
    rename's result."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.write_text("new")
    dst.write_text("old")
    path = "spark._jvm.org.apache.hadoop.fs.Path"
    return f"local.rename({path}({str(src)!r}), {path}({str(dst)!r}))"


# A gateway JVM started before build_session has a fixed class path without
# the engine's class directory: the session must fall back to Hadoop's
# LocalFileSystem, not to whichever class the "file" scheme's service entries
# name first (in a Spark build with Hive, Hive's ProxyLocalFileSystem, whose
# rename onto an existing file returns false).
_GATEWAY_FIRST = """
from pyspark.sql import SparkSession
SparkSession.builder.master("local[1]").config("spark.driver.memory", "1g").getOrCreate().stop()
from scrubah_pii_spark.session import local_fs_conf
assert local_fs_conf({"spark.master": "local[1]"}) == {
    "spark.master": "local[1]", "spark.hadoop.fs.file.impl": %r}
""" % HADOOP_LOCAL_FS


def test_gateway_started_first_keeps_stock_filesystem(tmp_path):
    script = _write_script(tmp_path, prefix=_GATEWAY_FIRST, report=_rename_report(tmp_path))
    out, err = _run([sys.executable, "-c", script], tmp_path)
    assert out == [HADOOP_LOCAL_FS, "False", "4", "True"]
    assert (tmp_path / "dst").read_text() == "new"
    assert re.search(_STOCK_FS_WARNING, err), err[-3000:]


def test_spark_submit_keeps_stock_filesystem(tmp_path):
    # spark-submit starts the driver JVM, without the class directory, before
    # the job's Python code runs, and hands it over through PYSPARK_GATEWAY_PORT
    job = tmp_path / "job.py"
    job.write_text(_write_script(tmp_path, report=_rename_report(tmp_path)))
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    out, err = _run([submit, "--master", "local[1]", "--driver-memory", "1g", str(job)], tmp_path,
                    {"PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable})
    assert out == [HADOOP_LOCAL_FS, "False", "4", "True"]
    assert (tmp_path / "dst").read_text() == "new"
    assert re.search(_STOCK_FS_WARNING, err), err[-3000:]


_CLASS_PATHS = """(spark._jvm.java.lang.System.getProperty("java.class.path"),
      spark.sparkContext.getConf().get("spark.executor.extraClassPath"))"""


@needs_javac
def test_default_class_paths_are_kept(tmp_path):
    # spark-submit's --conf beats spark-defaults.conf: the engine's class
    # directory must join the defaults' class path entries, not replace them
    from scrubah_pii_spark.session import LOCAL_FS_CLASS

    driver_dir, executor_dir, conf_dir = (tmp_path / d for d in ("driver", "executor", "conf"))
    for d in (driver_dir, executor_dir, conf_dir):
        d.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        "# class paths a deployment relies on\n"
        f"spark.driver.extraClassPath  {driver_dir}\n"
        f"spark.executor.extraClassPath={executor_dir}\n")
    script = _write_script(tmp_path, report=f"*{_CLASS_PATHS}")
    (impl, is_engine_fs, rows, driver_path, executor_path), _ = _run(
        [sys.executable, "-c", script], tmp_path, {"SPARK_CONF_DIR": str(conf_dir)})
    assert (impl, is_engine_fs, rows) == (LOCAL_FS_CLASS, "True", "4")
    # the launcher writes directory entries with a trailing separator
    driver_path = [os.path.normpath(p) for p in driver_path.split(os.pathsep)]
    executor_path = executor_path.split(os.pathsep)
    assert driver_path[0] == str(driver_dir)
    assert executor_path[0] == str(executor_dir)
    assert executor_path[1] in driver_path
    assert os.path.basename(os.path.dirname(executor_path[1])) == ".jvm_classes"


def test_only_local_masters_use_engine_filesystem(recwarn):
    # executors of any other master may run where the class directory is not;
    # that is their normal path, not a fallback, so it warns of nothing
    from scrubah_pii_spark.session import local_fs_conf

    for master in ("yarn", "spark://host:7077", "k8s://https://host:443", "local-clusterx"):
        assert local_fs_conf({"spark.master": master}) == {"spark.master": master}
    assert not [w for w in recwarn if "stock local filesystem" in str(w.message)]


def test_no_javac_warns_and_keeps_stock_filesystem(spark, tmp_path, monkeypatch):
    from scrubah_pii_spark import session

    monkeypatch.setattr(session, "_JVM_CLASSES_DIR", str(tmp_path / "classes"))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no_jdk"))
    monkeypatch.setenv("PATH", str(tmp_path / "no_bin"))
    conf = {"spark.master": "local[2]"}
    with pytest.warns(UserWarning, match="stock local filesystem.*no javac"):
        fallback = session.local_fs_conf(conf)
    assert fallback == {**conf, "spark.hadoop.fs.file.impl": HADOOP_LOCAL_FS}
    # a caller's class still wins
    mine = {**conf, "spark.hadoop.fs.file.impl": "my.FileSystem"}
    with pytest.warns(UserWarning, match="stock local filesystem.*no javac"):
        assert session.local_fs_conf(mine) == mine

    # the fallback class renames onto an existing file by replacing it
    jvm = spark._jvm
    hadoop_conf = jvm.org.apache.hadoop.conf.Configuration(
        spark.sparkContext._jsc.hadoopConfiguration())
    hadoop_conf.set("fs.file.impl", fallback["spark.hadoop.fs.file.impl"])
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), hadoop_conf)
    try:
        assert fs.getClass().getName() == HADOOP_LOCAL_FS
        src, dst = tmp_path / "src", tmp_path / "dst"
        src.write_text("new")
        dst.write_text("old")
        path = jvm.org.apache.hadoop.fs.Path
        assert fs.rename(path(str(src)), path(str(dst)))
    finally:
        fs.close()
    assert dst.read_text() == "new"
    assert not src.exists()


@needs_javac
def test_failed_compile_warns_and_keeps_stock_filesystem(tmp_path, monkeypatch):
    from scrubah_pii_spark import session

    broken = tmp_path / "PosixLocalFileSystem.java"
    broken.write_text("class PosixLocalFileSystem {")
    monkeypatch.setattr(session, "_LOCAL_FS_SOURCE", str(broken))
    monkeypatch.setattr(session, "_JVM_CLASSES_DIR", str(tmp_path / "classes"))
    conf = {"spark.master": "local-cluster[1,1,1024]"}
    with pytest.warns(UserWarning, match="stock local filesystem.*javac failed"):
        assert session.local_fs_conf(conf) == {**conf, "spark.hadoop.fs.file.impl": HADOOP_LOCAL_FS}
    assert os.listdir(tmp_path / "classes") == []


@needs_javac
def test_compile_removes_classes_of_earlier_sources(tmp_path, monkeypatch):
    # a changed Java source compiles into a new hash directory; the old one
    # is never loaded again. A name that is not a source hash stays, and so
    # do dot-named directories: another session's compile in flight.
    from scrubah_pii_spark import session

    classes = tmp_path / "classes"
    for name in ("0123456789abcdef", "keep", ".inflight"):
        (classes / name).mkdir(parents=True)
    monkeypatch.setattr(session, "_JVM_CLASSES_DIR", str(classes))
    target, reason = session._local_fs_classes()
    assert reason == ""
    assert sorted(os.listdir(classes)) == sorted([".inflight", "keep", os.path.basename(target)])

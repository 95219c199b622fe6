"""SparkSession builder with the engine's tuned defaults.

Scale posture (100 TB / 1000 executors) is set here once:
  - AQE on (runtime skew-join splitting + shuffle coalescing)
  - Arrow on (all pandas UDFs are Arrow-batched; no per-row Python)
  - explicit shuffle partitions (callers override per data size)
  - broadcast threshold raised so dimension-sized corpora (template corpus,
    term tables) broadcast instead of shuffling
  - the generated-class cache sized to the engine's working set
    (CODEGEN_CACHE_ENTRIES), so a warm query reuses its compiled classes
    instead of recompiling them; the conf is static, so it is set here,
    where the session is created
  - the engine's Python worker daemon (PYTHON_DAEMON_MODULE, see pyworker),
    which stops every Python task from re-reading Spark's own archives
    (~0.22 s of worker CPU per task on a 4-vCPU host). Executors must be able
    to import the engine when the daemon starts, or no Python worker starts,
    so spark.executorEnv.PYTHONPATH names the engine's root (the directory
    that holds the package): workers on this machine import it from any
    working directory. A caller's extra_conf value for it wins; a cluster
    whose executors cannot see that path ships the engine itself (README).
  - a local Hadoop filesystem that sets file modes inside the JVM
    (LOCAL_FS_CLASS, jvm/PosixLocalFileSystem.java). Without libhadoop, stock
    RawLocalFileSystem forks a chmod for every file, .crc file and directory a
    file:// write creates (~450 per flagship write). The source is compiled
    once with the JDK's javac into a directory named by its content hash,
    under .jvm_classes/ in the engine's root, and added to the driver and
    executor class paths. Checksums, .crc files and FileSystem.getLocal stay
    as stock. The stock filesystem stays where the class may not load: no
    javac, a master whose executors may run on other machines (only local
    and local-cluster use it), or a driver JVM that started without that
    directory on its class path, as spark-submit's does (local_fs_conf). For
    a local or local-cluster master that fallback is a warning that names
    its reason, and Hadoop's LocalFileSystem (HADOOP_LOCAL_FS_CLASS), so
    rename has the same POSIX semantics on both paths.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import warnings

from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries. One pass of all 46 queries leaves
# 591-633 generated classes; Spark's default of 100 held almost none of them,
# so a warm repeat recompiled nearly every class. Guava splits the cap over 4
# segments and evicts per segment at about a quarter of it, so a cap near
# the working set still evicts live classes: ~3x the working set does not.
CODEGEN_CACHE_ENTRIES = 2000

# spark.python.daemon.module: pyspark.daemon minus the per-task
# importlib.invalidate_caches() re-read of pyspark.zip and the spark-core jar.
PYTHON_DAEMON_MODULE = "scrubah_pii_spark.pyworker"

# spark.hadoop.fs.file.impl: LocalFileSystem over a RawLocalFileSystem whose
# setPermission calls Files.setPosixFilePermissions instead of forking chmod.
LOCAL_FS_CLASS = "scrubah_pii_spark.jvm.PosixLocalFileSystem"
# The fallback for a local master. Left unset, the "file" scheme is whichever
# class its service entries name first: in a Spark build with Hive, Hive's
# ProxyLocalFileSystem, whose rename onto an existing file returns false
# where LocalFileSystem (and LOCAL_FS_CLASS) replaces it.
HADOOP_LOCAL_FS_CLASS = "org.apache.hadoop.fs.LocalFileSystem"
# A javac that has not finished by then (~2.5 s is usual) leaves the session
# on the stock filesystem instead of holding up its start.
_JAVAC_TIMEOUT_S = 60
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_LOCAL_FS_SOURCE = os.path.join(_ENGINE_ROOT, "scrubah_pii_spark", "jvm", "PosixLocalFileSystem.java")
_JVM_CLASSES_DIR = os.path.join(_ENGINE_ROOT, ".jvm_classes")


def _local_fs_classes() -> tuple[str | None, str]:
    """(the directory that holds LOCAL_FS_CLASS, compiled on first use, "")
    or (None, why it is missing): no javac, or a source that cannot be read
    or compiled. The directory is named by the source's hash and renamed
    into place whole, so concurrent sessions never load a half-written
    class; a compile deletes the directories of earlier sources."""
    try:
        with open(_LOCAL_FS_SOURCE, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
    except OSError as e:
        return None, f"cannot read {_LOCAL_FS_SOURCE}: {e}"
    target = os.path.join(_JVM_CLASSES_DIR, digest)
    if os.path.isdir(target):
        return target, ""
    java_home = os.environ.get("JAVA_HOME")
    javac = shutil.which("javac", path=os.pathsep.join(
        p for p in (java_home and os.path.join(java_home, "bin"), os.environ.get("PATH")) if p))
    if javac is None:
        return None, "no javac in $JAVA_HOME/bin or on PATH"
    try:
        os.makedirs(_JVM_CLASSES_DIR, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".", dir=_JVM_CLASSES_DIR)
    except OSError as e:
        return None, f"cannot write {_JVM_CLASSES_DIR}: {e}"
    failure = ""
    try:
        built = subprocess.run(
            [javac, "--release", "17", "-cp", os.path.join(_find_spark_home(), "jars", "*"),
             "-d", tmp, _LOCAL_FS_SOURCE],
            capture_output=True, text=True, timeout=_JAVAC_TIMEOUT_S,
        )
        if built.returncode == 0:
            os.rename(tmp, target)
            # classes of an earlier source are never loaded again; dot-named
            # directories are compiles still in flight
            for name in os.listdir(_JVM_CLASSES_DIR):
                if name != digest and re.fullmatch(r"[0-9a-f]{16}", name):
                    shutil.rmtree(os.path.join(_JVM_CLASSES_DIR, name), ignore_errors=True)
        else:
            failure = built.stderr.strip()[-500:]
    except subprocess.TimeoutExpired:
        failure = f"no result within {_JAVAC_TIMEOUT_S} s"
    except OSError as e:
        failure = str(e)  # javac would not start, or another session renamed its copy in first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if os.path.isdir(target):
        return target, ""
    return None, f"javac failed on {_LOCAL_FS_SOURCE}: {failure}"


def _stock_filesystem(conf: dict, reason: str) -> dict:
    warnings.warn(
        f"{conf['spark.master']}: keeping Hadoop's stock local filesystem "
        f"({HADOOP_LOCAL_FS_CLASS}), so every file:// write forks a chmod per "
        f"file ({reason})",
        stacklevel=3)
    return {"spark.hadoop.fs.file.impl": HADOOP_LOCAL_FS_CLASS, **conf}


# Masters whose executors run on this machine and so find the class directory
# at the driver's path: local (the driver's JVM) and local-cluster (executor
# JVMs started with spark.executor.extraClassPath). Executors elsewhere may not
# have it, and a fs.file.impl they cannot load breaks every "file" scheme use
# there (S3A's disk buffers included), so other masters keep the stock class.
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?|local-cluster\[[^\]]*\]")
_CLASS_PATH_KEYS = ("spark.driver.extraClassPath", "spark.executor.extraClassPath")


def _spark_defaults() -> dict:
    """spark-defaults.conf as spark-submit reads it, from SPARK_CONF_DIR or
    the Spark home's conf/; {} when there is none."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            lines = [line.strip() for line in f]
    except OSError:
        return {}
    pairs = (re.split(r"\s*[=:\s]\s*", line, maxsplit=1)
             for line in lines if line and line[0] not in "#!")
    return {kv[0]: kv[1] if len(kv) > 1 else "" for kv in pairs}


def local_fs_conf(conf: dict) -> dict:
    """conf (which names spark.master) plus what makes file:// writes set
    modes in the JVM: LOCAL_FS_CLASS's directory added to the driver and
    executor class paths and spark.hadoop.fs.file.impl naming it. A caller's
    fs.file.impl in conf wins; class path entries from conf, or else from
    spark-defaults.conf or a running JVM, are kept ahead of the directory.

    The driver's class path is fixed when its JVM starts, so this starts the
    gateway JVM with those class paths, or joins the one already running (a
    session built earlier in this process, or spark-submit's JVM), and reads
    its class path. conf comes back unchanged for a master other than local
    or local-cluster. When the class cannot load for a local master (no
    javac, a failed compile or a running JVM without the directory), it
    warns with the reason and sets spark.hadoop.fs.file.impl to
    HADOOP_LOCAL_FS_CLASS (a caller's value still wins)."""
    if not _LOCAL_MASTER.fullmatch(conf.get("spark.master", "")):
        return conf
    classes, missing = _local_fs_classes()
    if classes is None:
        return _stock_filesystem(conf, missing)
    fresh = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    if fresh:
        given = _spark_defaults()
    else:
        SparkContext._ensure_initialized()
        system = SparkContext._jvm.java.lang.System
        given = {k: system.getProperty(k) for k in _CLASS_PATH_KEYS}
    out = dict(conf)
    for key in _CLASS_PATH_KEYS:
        entries = [p for p in (out.get(key) or given.get(key) or "").split(os.pathsep) if p]
        if classes not in map(os.path.normpath, entries):
            entries.append(classes)
        out[key] = os.pathsep.join(entries)
    if fresh:
        SparkContext._ensure_initialized(conf=SparkConf(loadDefaults=False).setAll(out.items()))
    class_path = SparkContext._jvm.java.lang.System.getProperty("java.class.path")
    if classes not in {os.path.normpath(p) for p in class_path.split(os.pathsep)}:
        return _stock_filesystem(
            conf, f"the running driver JVM's class path lacks {classes}; it "
                  "started before this session (spark-submit, or an earlier "
                  "SparkSession), so pass --driver-class-path with it")
    out.setdefault("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
    return out


def build_session(
    app_name: str = "scrubah_pii_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    conf = {
        "spark.app.name": app_name,
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.python.daemon.module": PYTHON_DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": _ENGINE_ROOT,
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    return SparkSession.builder.config(map=local_fs_conf(conf)).getOrCreate()

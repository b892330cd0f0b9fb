"""SparkSession construction tuned for the engine.

Defaults are chosen for correctness-vs-oracle first (UTC session
timezone, ANSI off so arithmetic matches DuckDB's permissive mode) and
for scale second: AQE on (runtime re-planning, skew-join splitting,
partition coalescing) so the same logical plans survive a 1000-executor
cluster, and Arrow enabled so any Pandas-UDF path is batch-transferred.

The driver JVM starts from a class-data-sharing archive of the classes
a session loads (:func:`_cds_java_options`); the first session records
it when its JVM exits.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import sys

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: Launcher inputs that can put a directory on the driver's classpath
#: or change its command line, like ``spark.driver.extraClassPath``. A
#: JVM that records an archive refuses to start with a non-empty
#: directory on its classpath.
_LAUNCHER_ENV = (
    "SPARK_CONF_DIR",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "PYSPARK_SUBMIT_ARGS",
)

#: The first word of a complete JDK dynamic archive. The JVM writes the
#: header last, so a recording cut short starts with zeros.
_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "duckdb_gsheets_spark")


def _alive(pid: str) -> bool:
    if not pid.isdigit():
        return False
    try:
        os.kill(int(pid), 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _loads(java: str, archive: str, cache: str) -> bool:
    """Whether ``archive`` is complete and a JVM starts from it: a
    truncated archive crashes the JVM, where any other mismatch only
    makes it start without the archive."""
    try:
        with open(archive, "rb") as fh:
            if fh.read(4) != _ARCHIVE_MAGIC:
                return False
    except OSError:
        return False
    crash_log = archive + ".hs_err"
    try:
        return subprocess.run(
            [java, "-Xshare:auto", f"-XX:SharedArchiveFile={archive}",
             f"-XX:ErrorFile={crash_log}", "-XX:-CreateCoredumpOnCrash",
             "-version"],
            cwd=cache, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=60,
        ).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False
    finally:
        with contextlib.suppress(OSError):
            os.remove(crash_log)


def _publish_recordings(cache: str, archive: str, java: str) -> None:
    """Promote the recording ``<archive>.tmp-<pid>`` of a session whose
    process has exited, if a JVM starts from it, and delete every other
    archive; delete any other recording whose process has exited."""
    for tmp in glob.glob(os.path.join(cache, "driver-*.jsa.tmp-*")):
        target, _, pid = tmp.rpartition(".tmp-")
        if _alive(pid):
            continue
        try:
            if target != archive or not _loads(java, tmp, cache):
                os.remove(tmp)
                continue
            os.replace(tmp, archive)
            for other in glob.glob(os.path.join(cache, "driver-*.jsa")):
                if other != archive:
                    os.remove(other)
        except OSError:
            # Another session starting now moved or deleted it first.
            continue


def _cds_java_options(extra_conf: dict[str, str]) -> str | None:
    """Driver JVM options that start it from a class-data-sharing
    archive, or record one at exit when there is none; ``None`` when
    this process already has a driver JVM or the launcher has inputs
    this cannot see through.

    The archive lives in ``$XDG_CACHE_HOME/duckdb_gsheets_spark/``
    (``~/.cache`` by default), named for the launcher's ``java`` and
    the jars in ``$SPARK_HOME/jars``. Spark puts its conf directory on
    the driver's classpath, so options come only when it holds nothing
    but ``*.template`` files, which Spark never reads, and then
    ``SPARK_CONF_DIR`` is pointed at an empty directory in the cache. A
    missing, stale or unusable archive costs start-up time, never the
    start: the JVM skips an archive that does not match its classpath,
    a recording is published only after a JVM has started from it, and
    :func:`get_spark` starts a JVM that failed with the options again
    without them.
    """
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or {"spark.driver.defaultJavaOptions", "spark.driver.extraClassPath"}
        & extra_conf.keys()
        or any(os.environ.get(name) for name in _LAUNCHER_ENV)
    ):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = (
        os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    )
    spark_home = _find_spark_home()
    cache = _cache_dir()
    # The options are split on whitespace and quotes.
    if not java or any(ch in cache for ch in " \t\n'\"\\"):
        return None
    try:
        if any(
            not name.endswith(".template")
            for name in os.listdir(os.path.join(spark_home, "conf"))
        ):
            return None
        java = os.path.realpath(java)
        key = repr((java, os.stat(java).st_mtime_ns,
                    sorted(os.listdir(os.path.join(spark_home, "jars")))))
        empty_conf = os.path.join(cache, "conf")
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return None
    archive = os.path.join(
        cache, f"driver-{hashlib.sha1(key.encode()).hexdigest()[:16]}.jsa"
    )
    _publish_recordings(cache, archive, java)
    os.environ["SPARK_CONF_DIR"] = empty_conf
    if os.path.exists(archive):
        option = f"-XX:SharedArchiveFile={archive}"
    else:
        option = f"-XX:ArchiveClassesAtExit={archive}.tmp-{os.getpid()}"
    # Without this, recording warns once per signed jar class and a
    # mismatched archive warns that it is unused.
    return f"{option} -Xlog:cds*=off"


def get_spark(
    app_name: str = "duckdb_gsheets_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster pass ``None`` and let spark-submit decide.  Configs set
    here are safe cluster-side defaults, not local hacks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Correctness knobs: deterministic cross-engine comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Scale knobs: AQE re-plans shuffles at runtime (coalesces tiny
        # partitions, splits skewed ones, converts SMJ->BHJ when a side
        # turns out small). These are the settings we'd run at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-UDF / toPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Read timestamps without timezone as TIMESTAMP_NTZ, matching
        # DuckDB's naive-timestamp semantics for the test parquet.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # Some test parquet files carry TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read them as long and convert in
        # the catalog loader (micros precision is preserved).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    extra_conf = extra_conf or {}
    for key, value in extra_conf.items():
        builder = builder.config(key, value)
    cds = _cds_java_options(extra_conf)
    if cds is None:
        return builder.getOrCreate()
    try:
        return builder.config("spark.driver.defaultJavaOptions", cds).getOrCreate()
    except PySparkRuntimeError as exc:
        if exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        # The JVM could not start, e.g. from a truncated archive: start
        # it again without one, and let a later session record anew.
        del os.environ["SPARK_CONF_DIR"]
        flag, _, archive = cds.split()[0].partition("=")
        if flag == "-XX:SharedArchiveFile":
            with contextlib.suppress(OSError):
                os.remove(archive)
        return builder.config("spark.driver.defaultJavaOptions", "").getOrCreate()

"""SparkSession construction tuned for the engine.

What :func:`get_spark` sets, and why:

- a UTC session timezone, so results compare exactly with the DuckDB
  oracles (naive parquet timestamps already read as ``TIMESTAMP_NTZ``
  and AQE is already on: both are Spark's defaults);
- Arrow transfer, which the pandas-UDF operators and ``toPandas`` use;
- a generated-class cache (:data:`CODEGEN_CACHE_ENTRIES`) large
  enough that a session repeating a pass of corpus queries compiles
  each class once, not on every pass;
- local mode over the CPUs this process may run on, unless
  ``SPARK_GRAFT_CPUS`` says otherwise;
- for a new driver JVM (:func:`_driver_java_options`): start-up from a
  class-data-sharing archive of the classes a session loads, which the
  first session records when its JVM exits (:func:`_cds_options`), and
  a heap that follows live data (:func:`_heap_options`).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
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

#: Environment variables the driver JVM reads options from, in which a
#: user may select its collector.
_JAVA_OPTIONS_ENV = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")

#: An option that selects a collector, like ``-XX:+UseG1GC``. A JVM
#: given two collectors refuses to start.
_COLLECTOR = re.compile(r"-XX:\+Use\w+GC\b")

#: The first word of a complete JDK dynamic archive. The JVM writes the
#: header last, so a recording cut short starts with zeros.
_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)

#: ``spark.sql.codegen.cache.maxEntries``: how many compiled classes
#: the driver keeps (Spark's default is 100). One pass over
#: perfbench's ``corpus_ops`` queries compiles 137 distinct classes
#: with Janino; a cache smaller than the cycle it serves keeps none of
#: them for the next pass, which then compiles again. The cache is a
#: Guava cache that splits its maximum over 4 segments and evicts per
#: segment, so 256 (64 a segment) holds a pass whose classes hash
#: unevenly across segments (34 a segment on average).
CODEGEN_CACHE_ENTRIES = 256


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


def _driver_java_options(conf: dict[str, str]) -> str | None:
    """``spark.driver.defaultJavaOptions`` for a new driver JVM whose
    session has the settings ``conf`` beyond Spark's defaults: the CDS
    options of :func:`_cds_options`, if any, then the heap policy of
    :func:`_heap_options`. ``None`` when this process already has a
    driver JVM or the launcher has inputs this cannot see through: the
    user's own driver options or classpath, a launcher environment
    variable, or a conf directory with a file Spark reads.

    A JVM that fails to start with these options is started again by
    :func:`get_spark` without any.
    """
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or {"spark.driver.defaultJavaOptions", "spark.driver.extraClassPath"}
        & conf.keys()
        or any(os.environ.get(name) for name in _LAUNCHER_ENV)
    ):
        return None
    spark_home = _find_spark_home()
    try:
        if any(
            not name.endswith(".template")
            for name in os.listdir(os.path.join(spark_home, "conf"))
        ):
            return None
    except OSError:
        return None
    return " ".join(filter(None, (_cds_options(spark_home), _heap_options(conf))))


def _heap_options(conf: dict[str, str]) -> str:
    """The driver heap policy: the Parallel collector, and a young
    generation of 512 MB, or a quarter of ``spark.driver.memory`` if
    that is less.

    Under G1, the JVM's default, the driver keeps far more heap than it
    has live data. With a 2 GB heap and a 512 MB young generation,
    passes of the corpus operators left G1 with 386-606 MB of old
    generation committed and the JVM at 1.4-1.7 GB resident; the
    Parallel collector kept 153 MB committed and the JVM at 1.15-1.26
    GB. Parallel's young generation, left to size itself, grows pass
    after pass in a large heap, so it is fixed.

    The collector flag is left out when the user selects a collector in
    ``spark.driver.extraJavaOptions`` or in one of
    :data:`_JAVA_OPTIONS_ENV`. A ``-Xmn`` in
    ``spark.driver.extraJavaOptions`` or ``_JAVA_OPTIONS`` comes later
    than this one and wins.
    """
    options = []
    user = [conf.get("spark.driver.extraJavaOptions", "")]
    user += [os.environ.get(name, "") for name in _JAVA_OPTIONS_ENV]
    if not any(_COLLECTOR.search(value) for value in user):
        options.append("-XX:+UseParallelGC")
    heap = re.fullmatch(
        r"(\d+)([kmgt]?)", conf.get("spark.driver.memory", "").strip(), re.IGNORECASE
    )
    if heap:
        # A JVM memory size: no suffix means bytes.
        number, unit = heap.groups()
        heap_mb = int(number) * 1024 ** "bkmgt".index(unit.lower() or "b") // 1024**2
        options.append(f"-Xmn{min(512, heap_mb // 4)}m")
    return " ".join(options)


def _cds_options(spark_home: str) -> str | None:
    """Driver JVM options that start it from a class-data-sharing
    archive, or record one at exit when there is none; ``None`` when
    there is no ``java`` to name it for, or the cache cannot be made or
    its path passed in the options.

    The archive lives in ``$XDG_CACHE_HOME/duckdb_gsheets_spark/``
    (``~/.cache`` by default), named for the launcher's ``java`` and
    the jars in ``$SPARK_HOME/jars``. Spark puts its conf directory on
    the driver's classpath, so ``SPARK_CONF_DIR`` is pointed at an
    empty directory in the cache (:func:`_driver_java_options` has
    checked that the real one holds only ``*.template`` files, which
    Spark never reads). A missing, stale or unusable archive costs
    start-up time, never the start: the JVM skips an archive that does
    not match its classpath, and a recording is published only after a
    JVM has started from it.
    """
    java_home = os.environ.get("JAVA_HOME")
    java = (
        os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    )
    cache = _cache_dir()
    # The options are split on whitespace and quotes.
    if not java or any(ch in cache for ch in " \t\n'\"\\"):
        return None
    try:
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

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, or to local
    mode over the CPUs this process may run on when that is unset; on a
    real cluster pass ``None`` and let spark-submit decide.  Configs set
    here are safe cluster-side defaults, not local hacks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Correctness knobs: deterministic cross-engine comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE (on by default: partition coalescing, skew-join splits,
        # SMJ->BHJ) sizes shuffles from this starting width.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-UDF / toPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # A static conf: it sizes the cache once per JVM.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Without it, inferring the schema of a parquet file with a
        # TIMESTAMP(NANOS) column fails; with it, the column reads as
        # long. catalog.load_table does not infer, and converts such a
        # column itself.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    extra_conf = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        **(extra_conf or {}),
    }
    for key, value in extra_conf.items():
        builder = builder.config(key, value)
    options = _driver_java_options(extra_conf)
    if options is None:
        return builder.getOrCreate()
    try:
        return builder.config("spark.driver.defaultJavaOptions", options).getOrCreate()
    except PySparkRuntimeError as exc:
        if exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        # The JVM could not start, e.g. from a truncated archive: start
        # it again with no options, and let a later session record anew.
        os.environ.pop("SPARK_CONF_DIR", None)
        for option in options.split():
            flag, _, archive = option.partition("=")
            if flag == "-XX:SharedArchiveFile":
                with contextlib.suppress(OSError):
                    os.remove(archive)
        return builder.config("spark.driver.defaultJavaOptions", "").getOrCreate()

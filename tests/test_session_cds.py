"""``plans.session._driver_java_options``: when the driver JVM starts
from a class-data-sharing archive, when it records one, how a recording
becomes the archive, and when it gets the heap policy. A stub
``$JAVA_HOME/bin/java`` stands in for the JVM that checks a recording,
so no JVM starts here."""

import os
import stat
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from duckdb_gsheets_spark.plans import session

MAGIC = session._ARCHIVE_MAGIC


@pytest.fixture()
def cds(tmp_path, monkeypatch):
    """A Spark home whose conf directory holds only a template, a stub
    ``java`` that logs its cwd and arguments and exits with the code in
    ``java_rc``, and an empty cache; no driver JVM in this process."""
    spark_home = tmp_path / "spark"
    (spark_home / "conf").mkdir(parents=True)
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    (spark_home / "jars").mkdir()
    (spark_home / "jars" / "spark-core.jar").write_text("")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_text(
        "#!/bin/sh\n"
        f'echo "$PWD $*" >> {tmp_path / "java.log"}\n'
        f'exit "$(cat {tmp_path / "java_rc"})"\n'
    )
    java.chmod(java.stat().st_mode | stat.S_IXUSR)
    (tmp_path / "java_rc").write_text("0")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for name in (
        session._LAUNCHER_ENV + session._JAVA_OPTIONS_ENV
        + ("PYSPARK_GATEWAY_PORT", "SPARK_GRAFT_DRIVER_MEM")
    ):
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)

    class Env:
        conf = spark_home / "conf"
        cache = tmp_path / "xdg" / "duckdb_gsheets_spark"
        log = tmp_path / "java.log"

        @staticmethod
        def java_rc(rc: int) -> None:
            (tmp_path / "java_rc").write_text(str(rc))

        @staticmethod
        def options(conf: dict[str, str] | None = None) -> str | None:
            """The options for a session with ``conf`` and, unless that
            says otherwise, a 16 GB driver heap."""
            monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
            return session._driver_java_options(
                {"spark.driver.memory": "16g", **(conf or {})}
            )

        @staticmethod
        def archive() -> str:
            """The archive path the options name, recorded or not."""
            option = Env.options().split()[0]
            return option.split("=", 1)[1].rsplit(".tmp-", 1)[0]

        @staticmethod
        def children() -> list[str]:
            return Env.log.read_text().splitlines() if Env.log.exists() else []

    return Env


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", ""])
    proc.wait()
    return proc.pid


def test_templates_only_conf_dir_gives_options_and_an_empty_conf_dir(cds):
    options = cds.options()
    assert options.split()[1:] == [
        "-Xlog:cds*=off", "-XX:+UseParallelGC", "-Xmn512m"
    ]
    assert os.environ["SPARK_CONF_DIR"] == str(cds.cache / "conf")
    assert os.listdir(os.environ["SPARK_CONF_DIR"]) == []


def test_a_non_template_conf_file_skips_cds(cds):
    (cds.conf / "log4j2.properties").write_text("")
    assert cds.options() is None
    assert "SPARK_CONF_DIR" not in os.environ


def test_a_preset_spark_conf_dir_is_left_alone(cds, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert session._driver_java_options({}) is None
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path)


@pytest.mark.parametrize("key, value", [
    ("spark.driver.defaultJavaOptions", "-Dx=1"),
    ("spark.driver.extraClassPath", "lib/classes"),
])
def test_user_driver_options_win(cds, key, value):
    """Neither CDS nor the heap policy: the user's options are left as
    they are."""
    assert session._driver_java_options({key: value, "spark.driver.memory": "16g"}) is None
    assert "SPARK_CONF_DIR" not in os.environ


def test_a_running_driver_jvm_skips_cds(cds, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._driver_java_options({}) is None
    assert "SPARK_CONF_DIR" not in os.environ


def test_records_when_absent_and_starts_from_it_when_present(cds):
    archive = cds.archive()
    assert cds.options().split()[0] == (
        f"-XX:ArchiveClassesAtExit={archive}.tmp-{os.getpid()}"
    )
    assert os.path.dirname(archive) == str(cds.cache)
    open(archive, "wb").close()
    assert cds.options().split()[0] == f"-XX:SharedArchiveFile={archive}"
    assert cds.children() == []


def test_a_finished_recording_is_checked_then_published(cds):
    archive = cds.archive()
    old = cds.cache / "driver-0000000000000000.jsa"
    old.write_bytes(MAGIC)
    tmp = f"{archive}.tmp-{_dead_pid()}"
    with open(tmp, "wb") as fh:
        fh.write(MAGIC)
    assert cds.options().split()[0] == f"-XX:SharedArchiveFile={archive}"
    assert not os.path.exists(tmp)
    assert not old.exists()
    [child] = cds.children()
    # The check runs in the cache, so a crash log cannot land in the
    # user's working directory.
    assert child.startswith(f"{cds.cache} -Xshare:auto -XX:SharedArchiveFile={tmp} ")
    assert f"-XX:ErrorFile={tmp}.hs_err" in child


def test_a_recording_the_jvm_crashes_on_is_deleted(cds):
    archive = cds.archive()
    tmp = f"{archive}.tmp-{_dead_pid()}"
    with open(tmp, "wb") as fh:
        fh.write(MAGIC)
    cds.java_rc(134)
    assert cds.options().split()[0].startswith("-XX:ArchiveClassesAtExit=")
    assert not os.path.exists(tmp)
    assert not os.path.exists(archive)
    assert len(cds.children()) == 1


def test_a_recording_cut_short_is_deleted_unchecked(cds):
    """The JVM writes the header last, so a recording whose JVM was
    killed starts with zeros, and a JVM would start from it without
    using it."""
    archive = cds.archive()
    tmp = f"{archive}.tmp-{_dead_pid()}"
    with open(tmp, "wb") as fh:
        fh.write(bytes(4096))
    cds.options()
    assert not os.path.exists(tmp)
    assert not os.path.exists(archive)
    assert cds.children() == []


def test_a_recording_of_a_live_process_is_left_alone(cds):
    archive = cds.archive()
    tmp = f"{archive}.tmp-{os.getppid()}"
    with open(tmp, "wb") as fh:
        fh.write(MAGIC)
    assert cds.options().split()[0].startswith("-XX:ArchiveClassesAtExit=")
    assert os.path.exists(tmp)
    assert cds.children() == []


def test_a_recording_for_another_java_or_jar_set_is_deleted(cds):
    cds.options()
    tmp = cds.cache / f"driver-0000000000000000.jsa.tmp-{_dead_pid()}"
    tmp.write_bytes(MAGIC)
    cds.options()
    assert not tmp.exists()
    assert cds.children() == []


def test_a_jvm_that_cannot_start_from_the_archive_starts_without_it(
    cds, monkeypatch
):
    """A truncated archive crashes the JVM as it starts: the session
    starts again with neither the archive nor the conf directory, and
    the archive is gone so that a later session records a new one."""
    archive = cds.archive()
    open(archive, "wb").close()
    monkeypatch.delenv("SPARK_CONF_DIR")
    launches = []

    def get_or_create(builder):
        options = builder._options["spark.driver.defaultJavaOptions"]
        launches.append((options, os.environ.get("SPARK_CONF_DIR")))
        if options:
            raise PySparkRuntimeError(
                errorClass="JAVA_GATEWAY_EXITED", messageParameters={}
            )
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert session.get_spark(master="local[1]") == "session"
    assert launches == [
        (f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off -XX:+UseParallelGC -Xmn256m",
         str(cds.cache / "conf")),
        ("", None),
    ]
    assert not os.path.exists(archive)


HEAP = ["-XX:+UseParallelGC", "-Xmn512m"]


def test_the_heap_policy_comes_with_an_archive_and_with_a_recording(cds):
    assert cds.options().split()[0].startswith("-XX:ArchiveClassesAtExit=")
    assert cds.options().split()[2:] == HEAP
    open(cds.archive(), "wb").close()
    assert cds.options().split()[0].startswith("-XX:SharedArchiveFile=")
    assert cds.options().split()[2:] == HEAP


def test_a_cache_path_the_options_cannot_carry_skips_only_cds(
    cds, monkeypatch, tmp_path
):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "my cache"))
    assert cds.options().split() == HEAP
    assert "SPARK_CONF_DIR" not in os.environ


@pytest.mark.parametrize("memory, young", [
    ("16g", "512m"), ("2g", "512m"), ("1g", "256m"), ("1536m", "384m"),
    ("1073741824", "256m"),
])
def test_the_young_generation_is_at_most_a_quarter_of_the_heap(cds, memory, young):
    assert cds.options({"spark.driver.memory": memory}).split()[-1] == f"-Xmn{young}"


@pytest.mark.parametrize("env", [None, *session._JAVA_OPTIONS_ENV])
def test_a_collector_the_user_selects_is_not_doubled(cds, monkeypatch, env):
    """The JVM refuses two collectors, and a JVM that fails to start
    would cost the archive: the user's choice stands alone."""
    if env is None:
        options = cds.options({"spark.driver.extraJavaOptions": "-Dx=1 -XX:+UseG1GC"})
    else:
        monkeypatch.setenv(env, "-XX:+UseZGC -Dx=1")
        options = cds.options()
    assert options.split()[2:] == ["-Xmn512m"]

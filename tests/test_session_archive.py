"""The driver JVM's class-data archive (``session.ClassDataArchive``).

A first ``get_spark`` session in an empty cache writes the archive when its
JVM exits, and the next session's JVM maps it. Everything that decides
whether a launch uses an archive runs without a JVM. The two sessions run
in subprocesses whose ``XDG_CACHE_HOME`` is a private directory.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from incubator_flink_old_spark import session
from incubator_flink_old_spark.session import ClassDataArchive, archive_key

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SESSION = """
import json, sys
sys.path.insert(0, {root!r})
from incubator_flink_old_spark import get_spark
spark = get_spark("archive-test")
spark.range(1).write.format("noop").mode("overwrite").save()
jvm = spark._jvm
bean = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({{
    "args": list(bean.getInputArguments()),
    "pid": bean.getPid(),
    "class_path": jvm.java.lang.System.getProperty("java.class.path"),
}}))
"""


def _session(cache, java_tool_options=""):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    }
    env.update(
        XDG_CACHE_HOME=str(cache),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        JAVA_TOOL_OPTIONS=java_tool_options,
    )
    done = subprocess.run(
        [sys.executable, "-c", _SESSION.format(root=ROOT)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def two_sessions(tmp_path_factory):
    """A first session in an empty cache, then a second one whose JVM
    logs where each class came from."""
    root = tmp_path_factory.mktemp("archive")
    cache = root / "cache"
    first = _session(cache)
    after_first = sorted(os.listdir(cache / "incubator_flink_old_spark"))
    log = root / "class-load-%p.log"
    second = _session(cache, f"-Xlog:class+load=info:file={log}")
    return {
        "cache": cache / "incubator_flink_old_spark",
        "first": first,
        "after_first": after_first,
        "second": second,
        "log": root / f"class-load-{second['pid']}.log",
    }


def test_first_session_writes_the_archive_the_second_maps(two_sessions):
    archives = [n for n in two_sessions["after_first"] if n.endswith(".jsa")]
    assert len(archives) == 1, two_sessions["after_first"]
    assert not [n for n in two_sessions["after_first"] if n.endswith(".tmp")]
    archive = str(two_sessions["cache"] / archives[0])
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in two_sessions["first"]["args"])
    assert f"-XX:SharedArchiveFile={archive}" in two_sessions["second"]["args"]
    with open(two_sessions["log"]) as f:
        top = sum("source: shared objects file (top)" in line for line in f)
    # Thousands of Spark's classes come from the archive, not from the jars.
    assert top > 5000, top


def test_promote_refuses_a_failed_or_truncated_dump(two_sessions, tmp_path):
    """A temp file whose JVM exited non-zero, or a truncated one whose JVM
    exited 0, is deleted and never becomes the archive. The whole file
    passed the same check when the first session promoted it."""

    class Exited:
        stdin = None

        def __init__(self, code):
            self.returncode = code

        def poll(self):
            return self.returncode

    cache = str(two_sessions["cache"])
    name = [n for n in os.listdir(cache) if n.endswith(".jsa")][0]
    with open(os.path.join(cache, name), "rb") as f:
        whole = f.read()
    class_path = two_sessions["second"]["class_path"]
    archive = ClassDataArchive(str(tmp_path), name[: -len(".jsa")], session.java_binary(), "1g")
    for code, content in ((1, whole), (0, whole[: len(whole) // 2])):
        archive.tmp = str(tmp_path / f"{archive.key}.{os.getpid()}.tmp")
        with open(archive.tmp, "wb") as f:
            f.write(content)
        assert not archive.promote(Exited(code), class_path)
        assert os.listdir(tmp_path) == []


def test_heap_modes_get_different_keys():
    java = session.java_binary()
    keys = {m: archive_key(java, _find_spark_home(), m) for m in ("2g", "8g", "48g")}
    assert keys["2g"] != keys["48g"]
    assert keys["2g"] == keys["8g"]


# -- the launch without a JVM -------------------------------------------------


class _Launched(Exception):
    pass


@pytest.fixture
def launch(monkeypatch, tmp_path):
    """``get_spark`` with no JVM: ``getOrCreate`` records the driver's
    JVM options and the environment it would launch with, then raises.
    SPARK_HOME is a copy of the layout spark-class reads: ``conf`` with
    templates only and ``jars``."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars").mkdir()
    (home / "jars" / "a.jar").write_bytes(b"PK")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in session._CLASS_PATH_VARS + ("PYSPARK_GATEWAY_PORT",):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    seen = {}

    def get_or_create(builder):
        seen["java_options"] = builder._options["spark.driver.extraJavaOptions"]
        seen["environ"] = dict(os.environ)
        raise _Launched

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)

    def run():
        before = dict(os.environ)
        with pytest.raises(_Launched):
            session.get_spark("archive-test")
        assert dict(os.environ) == before
        return seen

    run.home = home
    run.cache = tmp_path / "cache"
    return run


def _unchanged(seen):
    assert "-XX:SharedArchiveFile" not in seen["java_options"]
    assert "-XX:ArchiveClassesAtExit" not in seen["java_options"]
    assert "Xlog:cds" not in seen["java_options"]


def test_launch_uses_an_empty_conf_dir_only_while_launching(launch):
    seen = launch()
    assert "-XX:ArchiveClassesAtExit=" in seen["java_options"]
    conf = seen["environ"]["SPARK_CONF_DIR"]
    assert conf == str(launch.cache / "incubator_flink_old_spark" / "empty-conf")
    assert os.listdir(conf) == []
    # The failed launch leaves no temp file behind.
    assert os.listdir(launch.cache / "incubator_flink_old_spark") == ["empty-conf"]


def test_launch_unchanged_when_spark_conf_dir_is_set(launch, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    seen = launch()
    _unchanged(seen)
    assert seen["environ"]["SPARK_CONF_DIR"] == str(tmp_path)


def test_launch_unchanged_when_conf_dir_has_a_real_file(launch):
    (launch.home / "conf" / "spark-defaults.conf").write_text("")
    seen = launch()
    _unchanged(seen)
    assert "SPARK_CONF_DIR" not in seen["environ"]


def test_launch_unchanged_when_the_cache_is_unwritable(launch, monkeypatch, tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    seen = launch()
    _unchanged(seen)
    assert "SPARK_CONF_DIR" not in seen["environ"]


@pytest.mark.parametrize("running", ["gateway", "port"])
def test_launch_unchanged_when_no_jvm_is_launched(launch, monkeypatch, running):
    """A JVM that get_spark does not launch keeps its flags and
    environment: an existing gateway, or one named by
    PYSPARK_GATEWAY_PORT."""
    if running == "gateway":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    else:
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    seen = launch()
    _unchanged(seen)
    assert "SPARK_CONF_DIR" not in seen["environ"]
    assert not (launch.cache / "incubator_flink_old_spark").exists()


def test_launch_sweeps_temp_files_of_dead_processes(launch):
    cache = launch.cache / "incubator_flink_old_spark"
    cache.mkdir(parents=True)
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True).stdout.strip()
    (cache / f"k-coops.{dead}.tmp").write_bytes(b"partial")
    (cache / f"k-coops.{os.getppid()}.tmp").write_bytes(b"still writing")
    launch()
    assert sorted(os.listdir(cache)) == ["empty-conf", f"k-coops.{os.getppid()}.tmp"]

"""The driver JVM's class-data-sharing archive (``session._class_archive``):
when sessions record and map it, and when they must start without it."""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from swat_mapreduce_spark import session

REPO = str(Path(__file__).resolve().parents[1])
CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


@pytest.fixture
def fake_install(tmp_path, monkeypatch):
    """A JDK 17 and a Spark home with two jars and a template-only conf
    dir, no gateway yet, and an empty cache."""
    jdk, spark_home = tmp_path / "jdk", tmp_path / "spark"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_bytes(b"java")
    (jdk / "release").write_text('IMPLEMENTOR="x"\nJAVA_VERSION="17.0.20"\n')
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    for name in ("a.jar", "b.jar"):
        (spark_home / "jars" / name).write_bytes(b"jar")
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for name in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", *CLASSPATH_ENV):
        monkeypatch.delenv(name, raising=False)
    return jdk, spark_home, tmp_path / "cache" / "swat_mapreduce_spark"


def _key(jdk, spark_home):
    java = str(jdk / "bin" / "java")
    return session._archive_key(java, session._java_version(java), str(spark_home))


def test_archive_key_tracks_jars_and_java(fake_install):
    jdk, spark_home, _ = fake_install
    keys = [_key(jdk, spark_home)]
    jar = spark_home / "jars" / "a.jar"
    jar.write_bytes(b"jar!")  # size
    keys.append(_key(jdk, spark_home))
    os.utime(jar, ns=(0, 10**18))  # mtime
    keys.append(_key(jdk, spark_home))
    (jdk / "bin" / "java").write_bytes(b"javac")  # the java binary
    keys.append(_key(jdk, spark_home))
    assert len(set(keys)) == 4
    assert _key(jdk, spark_home) == keys[-1]


def test_first_session_records_then_sessions_map(fake_install):
    _, spark_home, cache = fake_install
    shutil.rmtree(spark_home / "conf")  # as in pip's pyspark
    conf_dir, flag, recording = session._class_archive({})
    assert conf_dir == str(cache / "conf") and os.listdir(conf_dir) == []
    java, tmp, jsa, lock = recording
    assert flag.split()[0] == f"-XX:ArchiveClassesAtExit={tmp}"
    assert tmp == jsa[: -len(".jsa")] + f".{os.getpid()}.tmp"
    assert int(Path(lock).read_text()) == os.getpid()
    assert session._class_archive({}) is None  # one recorder per key
    os.remove(lock)
    Path(jsa).write_bytes(b"")
    assert session._class_archive({}) == (
        conf_dir, f"-XX:SharedArchiveFile={jsa} -Xlog:cds*=off", None
    )


def test_lock_of_a_dead_recorder_is_stale(fake_install):
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    _, tmp, _, lock = session._class_archive({})[2]
    Path(lock).write_text(str(dead.pid))
    left = tmp.replace(f".{os.getpid()}.", f".{dead.pid}.")
    Path(left).write_bytes(b"partial dump")
    assert session._class_archive({})[2] is not None
    assert not os.path.exists(left)
    assert int(Path(lock).read_text()) == os.getpid()


@pytest.mark.parametrize(
    "case",
    ["conf_file", *CLASSPATH_ENV, "extra_class_path", "jdk11", "jdk8", "cache_unwritable"],
)
def test_no_archive_flags_when_the_classpath_could_hold_a_directory(
    fake_install, monkeypatch, tmp_path, case
):
    jdk, spark_home, _ = fake_install
    conf = {}
    if case == "conf_file":
        (spark_home / "conf" / "spark-defaults.conf").write_text("")
    elif case in CLASSPATH_ENV:
        monkeypatch.setenv(case, str(tmp_path))
    elif case == "extra_class_path":
        conf["spark.driver.extraClassPath"] = str(tmp_path)
    elif case in ("jdk11", "jdk8"):
        version = "11.0.2" if case == "jdk11" else "1.8.0_392"
        (jdk / "release").write_text(f'JAVA_VERSION="{version}"\n')
    else:
        (tmp_path / "not_a_dir").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "not_a_dir"))
    assert session._class_archive(conf) is None


def test_caller_java_options_are_kept(fake_install, monkeypatch):
    _, _, cache = fake_install
    cache.mkdir(parents=True)
    jsa = cache / f"{_key(*fake_install[:2])}.jsa"
    jsa.write_bytes(b"")
    seen = {}

    def create(conf, conf_dir=None):
        seen.update(conf, conf_dir=conf_dir)

    monkeypatch.setattr(session, "_create", create)
    monkeypatch.setattr(session, "_cap_file_splits", lambda spark: spark)
    extra = {"spark.driver.extraJavaOptions": "-Dcaller=1 -XX:-UsePerfData"}
    session.get_spark("t", master="local[1]", extra_conf=extra)
    assert extra == {"spark.driver.extraJavaOptions": "-Dcaller=1 -XX:-UsePerfData"}
    assert seen["spark.driver.extraJavaOptions"] == (
        f"-Dcaller=1 -XX:-UsePerfData -XX:SharedArchiveFile={jsa} -Xlog:cds*=off"
    )
    assert seen["conf_dir"] == str(cache / "conf")


_SESSION = textwrap.dedent("""
    import json, os, sys
    sys.path.insert(0, {repo!r})
    from swat_mapreduce_spark.session import get_spark

    before = dict(os.environ)
    spark = get_spark("archive-probe", master="local[1]", shuffle_partitions=1)
    after = dict(os.environ)
    jvm = spark.sparkContext._jvm
    print(json.dumps({{
        "env_before": before,
        "env_after": after,
        "jvm_pid": spark.sparkContext._gateway.proc.pid,
        "jvm_args": list(
            jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        ),
        "rows": spark.range(5).selectExpr("sum(id)").first()[0],
    }}))
""")

# SparkContext itself exports these two for its serializers. They are kept
# out of the child's env too: this pytest process has them once an
# earlier test started a session.
_PYSPARK_ENV = ("SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE")


def _run_session(tmp_path) -> dict:
    script = tmp_path / "probe.py"
    script.write_text(_SESSION.format(repo=REPO))
    dropped = ("SPARK_CONF_DIR", *CLASSPATH_ENV, *_PYSPARK_ENV)
    env = {k: v for k, v in os.environ.items() if k not in dropped}
    env["XDG_CACHE_HOME"] = str(tmp_path / "cache")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.splitlines()[-1])
    after = {k: v for k, v in result["env_after"].items() if k not in _PYSPARK_ENV}
    assert after == result["env_before"]
    assert result["rows"] == 10
    return result


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def test_recorded_archive_is_published_and_mapped(tmp_path, monkeypatch):
    java = session._java()
    if not java or session._java_major(session._java_version(java) or "0") < 13:
        pytest.skip("no JDK 13+: sessions start without the archive")
    if not session._only_templates(os.path.join(_find_spark_home(), "conf")):
        pytest.skip("$SPARK_HOME/conf holds a file: sessions start without the archive")
    cache = tmp_path / "cache" / "swat_mapreduce_spark"

    first = _run_session(tmp_path)
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["jvm_args"])
    assert not _alive(first["jvm_pid"])
    (jsa,) = cache.glob("*.jsa")
    assert sorted(p.name for p in cache.iterdir()) == ["conf", jsa.name]

    second = _run_session(tmp_path)
    assert f"-XX:SharedArchiveFile={jsa}" in second["jvm_args"]
    assert not any(a.startswith("-XX:ArchiveClassesAtExit") for a in second["jvm_args"])

    # a truncated copy fails the publish check and never becomes a .jsa
    tmp = cache / "truncated.1.tmp"
    with open(jsa, "rb") as src:
        tmp.write_bytes(src.read(jsa.stat().st_size // 2))
    assert not session._archive_maps(java, str(tmp))

    class Exited:  # a recording JVM that exited 0
        stdin = io.BytesIO()

        @staticmethod
        def wait(timeout=None):
            return 0

    target = cache / "truncated.jsa"
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    rec = session._Recording(java, str(tmp), str(target), str(cache / "t.lock"))
    session._publish_archive(Exited, rec)
    assert not target.exists() and not tmp.exists()
    assert jsa.exists()
    assert sorted(p.name for p in cache.iterdir()) == ["conf", jsa.name]

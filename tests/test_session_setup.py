"""What ``get_spark`` takes off session set-up: spark-mllib's classpath
session extension is skipped, and pyspark's converter dependencies are
imported in a thread while the driver JVM boots."""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from swat_mapreduce_spark import session

REPO = str(Path(__file__).resolve().parents[1])


def _scala_object(package, name: str):
    return getattr(getattr(package, name + "$"), "MODULE$")


def test_classpath_session_extensions_are_skipped(spark):
    """spark-mllib's InternalFunctionRegistration would register
    vector_to_array into the internal function registry; the static conf
    keeps it out. Spark documents the conf as a test flag: if an upgrade
    renames or drops it, the key check fails here rather than set-up
    silently slowing down again."""
    jvm = spark.sparkContext._jvm
    static = _scala_object(jvm.org.apache.spark.sql.internal, "StaticSQLConf")
    key = static.LOAD_SESSION_EXTENSIONS_FROM_CLASSPATH().key()
    assert key == session._LOAD_EXTENSIONS_FROM_CP
    assert spark.sparkContext.getConf().get(key) == "false"
    registry = _scala_object(jvm.org.apache.spark.sql.catalyst.analysis, "FunctionRegistry")
    ident = jvm.org.apache.spark.sql.catalyst.FunctionIdentifier.apply("vector_to_array")
    assert not registry.internal().functionExists(ident)


_SMOKE = textwrap.dedent("""
    import sys, threading
    sys.path.insert(0, {repo!r})
    from swat_mapreduce_spark.session import get_spark

    started = []
    _start = threading.Thread.start

    def start(self):
        started.append(self.name)
        _start(self)

    threading.Thread.start = start
    spark = get_spark("setup-smoke", master="local[2]", shuffle_partitions=2)
    threading.Thread.start = _start

    def double(batches):
        for pdf in batches:
            yield pdf * 2

    rows = spark.range(4).mapInPandas(double, "id long").collect()
    total = spark.sql("SELECT sum(id) AS s FROM range(10)").first().s
    print("preload-pyspark.testing.utils" in started, sorted(r.id for r in rows), total)
""")


@pytest.mark.parametrize("run", range(3))
def test_fresh_session_runs_while_converter_deps_import(tmp_path, run):
    """A fresh interpreter imports ``pyspark.testing.utils`` in a thread
    while its main thread makes the set-up's Py4J calls; a lock-order
    fault between the two would hang here."""
    script = tmp_path / "smoke.py"
    script.write_text(_SMOKE.format(repo=REPO))
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path,
        capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.splitlines()[-1] == "True [0, 2, 4, 6] 45"

"""Python worker start-up: ``get_spark`` workers fork from
``site_pyspark_daemon``, which loads the site-packages pyspark so the
per-task ``importlib.invalidate_caches()`` has no archive to re-read."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

import pyspark

from site_pyspark_daemon import _archives, _site_version, use_site_pyspark

REPO = str(Path(__file__).resolve().parents[1])


def test_daemon_version_guard():
    assert use_site_pyspark("4.1.2", "4.1.2")
    assert not use_site_pyspark("4.1.2", "4.0.1")
    assert not use_site_pyspark("4.1.2", None)  # no site-packages pyspark
    assert not use_site_pyspark(None, None)


def test_daemon_drops_only_spark_archives():
    lib = "/spark/python/lib"
    spark_archives = {
        f"{lib}/pyspark.zip",
        f"{lib}/py4j-0.10.9.9-src.zip",
        "/spark/jars/spark-core_2.13-4.1.2.jar",
    }
    path = ["/repo", *sorted(spark_archives), "/py/lib/python311.zip", "/site"]
    assert _archives(path) == (f"{lib}/pyspark.zip", spark_archives)
    assert _archives(["/repo", "/site"]) == (None, set())


def test_daemon_reads_site_version_and_needs_py4j(tmp_path):
    pkg = tmp_path / "pyspark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text("__version__: str = '9.9.9'\n")
    assert _site_version([str(tmp_path)]) is None  # py4j missing
    (tmp_path / "py4j").mkdir()
    (tmp_path / "py4j" / "__init__.py").write_text("")
    assert _site_version([str(tmp_path)]) == "9.9.9"
    assert _site_version([str(tmp_path / "empty")]) is None


def test_get_spark_workers_import_site_packages_pyspark(spark):
    """Counts, not timings: with stock workers the same probe reads
    pyspark from pyspark.zip and 16 zipimporters."""
    if pyspark.__version__ != spark.version:
        pytest.skip("site-packages pyspark differs from the JVM's: stock daemon")

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        spark_archives = [
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
            and (f.archive.endswith("pyspark.zip") or f.archive.endswith(".jar"))
        ]
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"file": [pyspark.__file__], "zipimporters": [len(spark_archives)]}
        )

    rows = (
        spark.range(8, numPartitions=4)
        .mapInPandas(probe, "file string, zipimporters long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert not any(p.endswith((".zip", ".jar")) for p in Path(r.file).parts)
        assert r.zipimporters == 0


def test_get_spark_workers_start_from_any_cwd(tmp_path):
    """The daemon module is found through spark.executorEnv.PYTHONPATH,
    not the driver's cwd, and a caller's own PYTHONPATH entry is kept."""
    lib = tmp_path / "lib"
    lib.mkdir()
    (lib / "cwd_probe_helper.py").write_text("ANSWER = 42\n")
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from swat_mapreduce_spark.session import get_spark

        spark = get_spark(
            "cwd-probe", master="local[1]", shuffle_partitions=1,
            extra_conf={{"spark.executorEnv.PYTHONPATH": {str(lib)!r}}},
        )

        def f(batches):
            import cwd_probe_helper
            for pdf in batches:
                yield pdf + cwd_probe_helper.ANSWER

        print(sum(r.id for r in spark.range(3).mapInPandas(f, "id long").collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == str(0 + 1 + 2 + 3 * 42)

"""Python worker daemon that runs the site-packages pyspark.

Spark starts each executor's Python daemon as ``python -m <daemon
module> <worker module>`` with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar at the head of ``PYTHONPATH``.
Workers fork from the daemon, and pyspark's per-task
``setup_spark_files`` calls ``importlib.invalidate_caches()``, which
re-reads the central directory of every cached zipimporter: 16 of them
in a worker, one per ``pyspark.zip`` subpackage at ~6 ms each plus
~23 ms for the 5,359-entry spark-core jar, 0.14-0.22 s CPU per task.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
When site-packages holds a pyspark of the same version as the
``pyspark.zip`` on ``sys.path``, the daemon drops the archive entries
from ``sys.path``, evicts their cached zipimporters and then runs the
stock ``pyspark.daemon.manager()``, so its workers import the
site-packages pyspark and ``invalidate_caches()`` has no archive left
to re-read. Otherwise it runs the stock daemon unchanged. Nothing in
pyspark is patched.

This module must stay top-level and must not import pyspark before the
decision: ``python -m swat_mapreduce_spark.<mod>`` would first run the
package ``__init__``, which imports pyspark from the zip.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

_VERSION_RE = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def use_site_pyspark(zip_version: str | None, site_version: str | None) -> bool:
    """Strip the archives only when site-packages holds the pyspark
    release the JVM shipped in ``pyspark.zip``."""
    return zip_version is not None and site_version == zip_version


def _parse_version(text: str) -> str | None:
    m = _VERSION_RE.search(text)
    return m.group(1) if m else None


def _archives(path: list[str]) -> tuple[str | None, set[str]]:
    """The ``pyspark.zip`` entry of ``path`` and the entries to drop with
    it: every ``.zip`` in its directory (pyspark, py4j) and every
    ``.jar`` (spark-core)."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return None, set()
    lib = os.path.dirname(zips[0])
    return zips[0], {
        p for p in path
        if p.endswith(".jar") or (p.endswith(".zip") and os.path.dirname(p) == lib)
    }


def _zip_version(pyspark_zip: str) -> str | None:
    try:
        with zipfile.ZipFile(pyspark_zip) as zf:
            return _parse_version(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _site_version(path: list[str]) -> str | None:
    """Version of the pyspark found on ``path``; None when it, or the
    py4j it imports, is missing there."""
    spec = PathFinder.find_spec("pyspark", path)
    if PathFinder.find_spec("py4j", path) is None or spec is None:
        return None
    for d in spec.submodule_search_locations or ():
        try:
            with open(os.path.join(d, "version.py")) as f:
                return _parse_version(f.read())
        except OSError:
            pass
    return None


def _use_site_packages() -> None:
    pyspark_zip, dropped = _archives(sys.path)
    plain = [p for p in sys.path if p not in dropped]
    if pyspark_zip is None or not use_site_pyspark(
        _zip_version(pyspark_zip), _site_version(plain)
    ):
        return
    sys.path[:] = plain
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in dropped:
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _use_site_packages()
    from pyspark.daemon import manager

    manager()

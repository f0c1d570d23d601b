"""SparkSession factory with scale-oriented defaults.

Replaces the reference's hand-wired Hadoop ``Job`` configuration
(``java/PredictDriverCluster.java:14-56``): one declarative session,
AQE on, Arrow enabled for the pandas-UDF inference path.

Task counts track cores, not input counts. Shuffle partitions follow
``$SPARK_GRAFT_CPUS`` in ``get_spark``; file-scan splits are capped at
``sparkContext.defaultParallelism`` (``_cap_file_splits``), which on a
cluster is the total executor cores. Spark otherwise charges each file
a 4 MB open cost and packs 1,000 objects of 4-32 KiB into 32 splits,
and every split feeding a Python stage pays the worker's fixed
per-task set-up (CLAUDE.md gotcha 16).

That set-up is pyspark's per-task ``importlib.invalidate_caches()``,
which re-reads every archive a worker imported pyspark from: 0.14-0.22 s
CPU per task with stock workers. ``get_spark`` sessions start their
Python workers from ``site_pyspark_daemon`` (a top-level module next to
this package), which loads the site-packages pyspark when its version
matches the JVM's ``pyspark.zip``, so that re-read finds no archive.
``spark.python.daemon.module`` is a static conf: a session created
elsewhere and handed to ``ensure_engine_conf`` (the correctness
driver's vanilla session) keeps stock workers and still pays the
set-up on every task.

Session set-up is mostly the driver JVM loading and verifying Spark's
classes. Timed inside ``get_spark`` on 4 vCPU (two sessions): gateway
launch 1.7-2.4 s, ``JavaSparkContext`` 1.25-1.5 s, the JVM
``SparkSession`` 2.1-2.2 s and ``_cap_file_splits`` 0.4 s, 6.3-6.5 s in
all. A new driver JVM therefore starts from a class-data-sharing
archive of those classes (``_class_archive``, CLAUDE.md gotcha 20):
0.9 s, 0.6 s, 0.9-1.0 s and 0.1 s, 2.8-3.0 s in all. The first session
records the archive and is slower (~10 s, plus ~10 s at process exit).
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import re
import shutil
import subprocess
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Top-level module the Python daemon runs (site_pyspark_daemon.py); its
# directory goes on the workers' path so any driver cwd finds it.
_DAEMON_MODULE = "site_pyspark_daemon"
_DAEMON_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Tuned for local[$SPARK_GRAFT_CPUS] testing; on a real cluster the same
# settings hold except shuffle partitions, which should track cluster
# cores (AQE coalesces the excess at runtime anyway).
_DEFAULTS = {
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # broadcast-join demotion/promotion. Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs (the inference path). The reference
    # micro-batches 32 images (java/PredictBatchMapperCluster.java:19);
    # we use a larger Arrow batch because our model singleton is loaded
    # once per worker, not once per batch (SURVEY.md §4 fix (a)).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # events.parquet uses TIMESTAMP(NANOS) which Spark 4 rejects by
    # default; read as long nanos and convert (sources/readers.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics across Spark and the DuckDB
    # oracle: everything in UTC.
    "spark.sql.session.timeZone": "UTC",
    # get_spark always overrides this from $SPARK_GRAFT_CPUS; the
    # literal is what ensure_engine_conf gives an externally-created
    # session (the correctness driver's default would otherwise be 200).
    # AQE coalesces below it at runtime.
    "spark.sql.shuffle.partitions": "32",
    # Keep stderr clean for harnesses that capture output tails (the
    # stage progress bar interleaves carriage returns into logs).
    "spark.ui.showConsoleProgress": "false",
    # Let custom Python data sources receive pushFilters() (Spark 4.1;
    # runtime-settable, off by default).
    "spark.sql.python.filterPushdown.enabled": "true",
    # InferFiltersFromGenerate adds size(arr)>0 above every non-outer
    # explode; predicate pushdown then re-inlines the generator's FULL
    # derivation pipeline (tokenize/shingle/distinct) into the scan,
    # where it runs serially on single-split inputs and again in the
    # post-exchange projection (gotcha 13; measured 3.69 s -> 0.81 s on
    # the shapley mask subtree, r13). Every exploded array in this
    # engine is an expensive DERIVED pipeline — never a cheap stored
    # column the rule could usefully prune — so the inferred filter is
    # a net loss engine-wide. Hot paths additionally use
    # functions/arrays.explode_nonnull, which stays safe under foreign
    # sessions where this conf is absent. Runtime-settable, so the
    # driver's vanilla session picks it up via ensure_engine_conf.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def get_spark(
    app_name: str = "swat_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured. A new driver JVM starts from
    the class-data-sharing archive when its classpath allows one
    (``_class_archive``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None and "MASTER" not in os.environ:
        master = f"local[{cpus}]"
    conf = {"spark.app.name": app_name}
    if master:
        conf["spark.master"] = master
    conf.update(_DEFAULTS)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    conf["spark.python.daemon.module"] = _DAEMON_MODULE
    conf[_PY_PATH] = _join(conf.get(_PY_PATH), _DAEMON_DIR, os.pathsep)
    archive = _class_archive(conf)
    if archive is not None:
        conf_dir, flag, recording = archive
        try:
            spark = _create({**conf, _JAVA_OPTS: _join(conf.get(_JAVA_OPTS), flag)}, conf_dir)
        except PySparkRuntimeError:
            if recording is None or SparkContext._gateway is not None:
                raise
            # the recording JVM did not start (JAVA_GATEWAY_EXITED): start
            # as without the archive; the next session tries again
            _remove(recording.tmp, recording.lock)
        else:
            return _cap_file_splits(spark)
        finally:
            # a recording JVM, once started, is stopped and its dump
            # published or deleted when this process exits
            if recording is not None and SparkContext._gateway is not None:
                atexit.register(_publish_archive, SparkContext._gateway.proc, recording)
    return _cap_file_splits(_create(conf))


def _create(conf: dict[str, str], conf_dir: str | None = None) -> SparkSession:
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    if conf_dir is None:
        return builder.getOrCreate()
    # spark-class puts $SPARK_CONF_DIR first on the driver's classpath; it
    # is read only while the gateway launches
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _join(old: str | None, new: str, sep: str = " ") -> str:
    """Append ``new`` to a caller's list-valued conf, never replace it."""
    return sep.join(filter(None, [old, new]))


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the correctness driver hands us its own SparkSession).
    Static confs such as the Python daemon module cannot be set here, so
    such a session keeps stock Python workers."""
    for k, v in _DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — non-runtime-settable conf: keep going
            pass
    return _cap_file_splits(spark)


def _cap_file_splits(spark: SparkSession) -> SparkSession:
    """At most one file-scan split per core. When a scan would produce
    more splits than that, Spark re-packs its files by bytes into about
    ``defaultParallelism`` splits; smaller scans keep their layout.
    1,000 objects of 4-32 KiB on 4 cores: 32 -> 4 payload-scorer tasks
    (CLAUDE.md gotcha 16). Setting a conf builds the session's SQL state
    here rather than at the first query (~0.4 s on 4 cores, moved into
    session start, not added)."""
    spark.conf.set(
        "spark.sql.files.maxPartitionNum",
        str(spark.sparkContext.defaultParallelism),
    )
    return spark


# --- Class-data-sharing archive of the driver JVM's classes ----------------
#
# Most of a session's set-up is the driver JVM loading and verifying
# Spark's classes. A dynamic AppCDS archive (JDK 13+) holds them already
# parsed and verified. JDK 17 cannot create one on its own, so the first
# session records it (-XX:ArchiveClassesAtExit) and later sessions map it
# (-XX:SharedArchiveFile). Two hazards shape the code (CLAUDE.md gotcha
# 20): a recording JVM refuses to start with a non-empty directory on its
# classpath, and a JVM that maps a partly written archive crashes.

_JAVA_OPTS = "spark.driver.extraJavaOptions"
_PY_PATH = "spark.executorEnv.PYTHONPATH"
# Put on the driver's classpath by Spark's launcher when set.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_CACHE_NAME = "swat_mapreduce_spark"
# A recording JVM dumps 110-150 MB on exit, 7-11 s on 4 vCPU.
_DUMP_TIMEOUT_S = 300


class _Recording(NamedTuple):
    java: str
    tmp: str  # where the JVM dumps: <key>.<pid>.tmp
    jsa: str  # where the dump is published: <key>.jsa
    lock: str


def _class_archive(conf: dict[str, str]) -> tuple[str, str, _Recording | None] | None:
    """How to start a new driver JVM from the archive: ``(conf dir, JVM
    flag, recording)``, where ``recording`` is set when this session
    records the archive. None starts the JVM as usual:
    a gateway already exists, the classpath could hold a non-empty
    directory, the JDK is older than 13 or the cache is not writable."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if "spark.driver.extraClassPath" in conf or any(map(os.environ.get, _CLASSPATH_ENV)):
        return None
    java = _java()
    version = java and _java_version(java)
    if not version or _java_major(version) < 13:
        return None
    spark_home = os.path.realpath(_find_spark_home())
    if not _only_templates(os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")):
        return None
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), _CACHE_NAME
    )
    if re.search(r"[\s'\"\\]", cache):  # Spark splits extraJavaOptions on these
        return None
    # the recording and every later session put this empty directory
    # where $SPARK_CONF_DIR was: the same classpath, and an empty one
    conf_dir = os.path.join(cache, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
    except OSError:
        return None
    base = os.path.join(cache, _archive_key(java, version, spark_home))
    jsa, lock = base + ".jsa", base + ".lock"
    if os.path.exists(jsa):
        return conf_dir, _cds_flag("SharedArchiveFile", jsa), None
    if not _take_lock(base):
        return None  # another process is recording it
    if os.path.exists(jsa):  # published just before the lock was taken
        _remove(lock)
        return conf_dir, _cds_flag("SharedArchiveFile", jsa), None
    tmp = f"{base}.{os.getpid()}.tmp"
    return conf_dir, _cds_flag("ArchiveClassesAtExit", tmp), _Recording(java, tmp, jsa, lock)


def _cds_flag(option: str, path: str) -> str:
    # the JVM logs CDS warnings to the process's stdout: the recording JVM
    # each class it leaves out (~60 lines), a JVM whose options do not
    # match the archive's that it runs without it
    return f"-XX:{option}={path} -Xlog:cds*=off"


def _java() -> str | None:
    """The java spark-class runs, fully resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _java_version(java: str) -> str | None:
    """``JAVA_VERSION`` from the ``release`` file of ``java``'s JDK."""
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    try:
        with open(release) as fh:
            for line in fh:
                if line.startswith("JAVA_VERSION="):
                    return line.split("=", 1)[1].strip().strip('"')
    except OSError:
        pass
    return None


def _java_major(version: str) -> int:
    """17 for "17.0.20", 8 for "1.8.0_392"."""
    nums = re.findall(r"\d+", version) or ["0"]
    return int(nums[1] if nums[0] == "1" and len(nums) > 1 else nums[0])


def _only_templates(conf_dir: str) -> bool:
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:  # pip's pyspark ships no conf dir
        return True
    except OSError:
        return False


def _archive_key(java: str, version: str, spark_home: str) -> str:
    """Digest of what the archive's classes come from: the JVM and every
    Spark jar (a JVM refuses an archive whose jars changed)."""
    h = hashlib.sha256(f"{version}\0{spark_home}".encode())
    for path in [java, *sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))]:
        st = os.stat(path)
        h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def _take_lock(base: str) -> bool:
    """One recorder per key: ``<key>.lock``, created O_EXCL, holds the
    recorder's pid. A lock whose pid is dead is stale; it goes, with the
    dump its recorder left."""
    lock = base + ".lock"
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                with open(lock) as fh:
                    pid = int(fh.read())
                os.kill(pid, 0)
            except ProcessLookupError:
                _remove(lock, f"{base}.{pid}.tmp")
                continue
            except (OSError, ValueError):  # half written, or gone meanwhile
                pass
            return False
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _stop_jvm(proc) -> int:
    """Stop the active context, close the gateway's stdin and wait for
    the driver JVM ``proc`` to exit; return its exit code. A recording
    JVM dumps its archive while it exits, so it is killed only after
    ``_DUMP_TIMEOUT_S``."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        with contextlib.suppress(Exception):
            sc.stop()
    proc.stdin.close()
    try:
        return proc.wait(timeout=_DUMP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        return proc.wait()


def _publish_archive(proc, rec: _Recording) -> None:
    """atexit hook of the recording process. Stop the JVM and wait while
    it dumps (``_stop_jvm``), so no JVM outlives this process. Publish
    the dump as ``<key>.jsa`` with one rename only when the JVM exited 0
    and a JVM maps the dump cleanly: no session ever maps a file still
    being written. Other keys' archives are deleted."""
    try:
        if _stop_jvm(proc) == 0 and _archive_maps(rec.java, rec.tmp):
            os.replace(rec.tmp, rec.jsa)
            old = glob.glob(os.path.join(os.path.dirname(rec.jsa), "*.jsa"))
            _remove(*(p for p in old if p != rec.jsa))
    finally:
        _remove(rec.tmp, rec.lock)


def _archive_maps(java: str, path: str) -> bool:
    """Whether a JVM starts from ``path``: a truncated archive crashes it
    (rc 134). Its crash report goes next to the dump and is removed."""
    err = path + ".hs_err"
    try:
        return os.path.isfile(path) and subprocess.run(
            [java, f"-XX:SharedArchiveFile={path}", f"-XX:ErrorFile={err}",
             "-XX:-CreateCoredumpOnCrash", "-version"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120,
        ).returncode == 0
    except subprocess.TimeoutExpired:
        return False
    finally:
        _remove(err)


def _remove(*paths: str) -> None:
    for path in paths:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)

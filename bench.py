"""Benchmark harness: runs every registered query (``load_all()``, in
name order) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Timing excludes session startup; each query is executed REPEATS times
as a noop-sink write (``run_query(..., "noop")``), which computes every
output column the correctness driver checks — not a count-style
action, whose plan Catalyst prunes of the output projections. Every
rep starts from a cleared cache and the per-query number is the best
rep — a warmed steady-state figure, not the first run's plan compile
and codegen (BASELINE.md). Captures before the noop harness timed
``count()`` and are not comparable with noop ones (BASELINE.md
count-vs-noop table); captures before the full registry covered a
329-query subset.

The capture (BENCH_full.json) also records each query's work — Spark
jobs, stages, tasks, input/shuffle/spill bytes, executor CPU and task
run time, read from the status store — and gates it against BENCH_BASE.json
(tools/benchdiff.py). Wall time is the reported headline, not what the
gate judges: it moves with the machine's load, while plan counts and
bytes do not, and the gate's time rules need a 2x move.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from py4j.protocol import Py4JJavaError  # noqa: E402

from perfbench.tracing import SparkStatus  # noqa: E402

REPEATS = 2
# a stream_* rep this slow is not repeated: it bounds run time, and a
# replay's cost is state-store init + micro-batches, steady from rep 1
STREAM_CUT_S = 12.0


def warm_up(spark, reg, sf_dir: str) -> None:
    """Untimed warm-up before the first timed query."""
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.queries import run_query

    # Warm up the execution machinery on unrelated trivial jobs so
    # per-query timings reflect steady state, not one-time init:
    # codegen/JIT, the broadcast-join path, Py4J createDataFrame, and
    # the Arrow + Python-worker pool (pandas UDF path).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    tiny = spark.createDataFrame([(i, f"w{i}") for i in range(8)], "k int, v string")
    spark.range(1000).join(
        F.broadcast(tiny), F.col("id") % 8 == F.col("k")
    ).count()

    def _pd_identity(it):
        yield from it

    spark.range(10_000).mapInPandas(_pd_identity, "id long").count()

    # Session pre-warm on a REAL query (untimed): the generic warmups
    # above don't touch the parquet scan path / committer / larger
    # codegen shapes, so the first timed query historically absorbed
    # 0.5-2.5 s of residual session warmup (VERDICT r5 #1). One
    # throwaway run of the paper's own query retires that cost.
    run_query(spark, reg["flagship_classify"], sf_dir, "noop")


class _Status(SparkStatus):
    """``SparkStatus`` read by job id, not by job group: ``work()``
    totals every job submitted since the last call. A streaming query's
    micro-batches run under the stream's own job group (its run id), so
    a group read would miss them; bench runs one query at a time, so
    the jobs since the last read are all the current rep's."""

    def __init__(self, spark) -> None:
        super().__init__(spark)
        self._last_job = self._newest_job()

    def _newest_job(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def work(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        out: dict[str, float] = defaultdict(float)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            out["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                self._add_stage(int(ids.apply(k)), out)
        if out["jobs"]:
            self._last_job = jobs.apply(0).jobId()
        return out

    def _add_stage(self, sid: int, out: dict[str, float]) -> None:
        # Past ``spark.ui.retainedStages`` the status store evicts
        # skipped stages first (they have no completion time), so a job
        # can list a stage the store no longer holds; a skipped stage
        # counts for nothing either way.
        try:
            super()._add_stage(sid, out)
        except Py4JJavaError as e:
            name = e.java_exception.getClass().getName()
            if name != "java.util.NoSuchElementException":
                raise


def time_query(spark, q, sf_dir: str) -> tuple[list[float], dict]:
    """Wall seconds of each noop run of ``q`` (``REPEATS`` runs; a
    stream_* query stops after a run slower than ``STREAM_CUT_S``) and
    the work they did. Each run is job group ``<query>#<rep>``; its
    work, every job it submitted, is read from Spark's status store
    after its timed window. Jobs, stages, tasks and bytes are rep 1's,
    which always runs and builds every staged fixture the query uses
    (``sources/staging``, cleared first, so the count does not depend
    on which query ran before); ``cpu_s`` and ``run_s`` are the least
    of any rep, like wall."""
    from swat_mapreduce_spark.queries import run_query
    from swat_mapreduce_spark.sources.staging import clear_staged
    from tools.benchdiff import BYTES, COUNTS, TIMES

    clear_staged()
    status = _Status(spark)
    times: list[float] = []
    totals: list[dict] = []
    for rep in range(1, REPEATS + 1):
        with status.group(f"{q.name}#{rep}"):
            t0 = time.time()
            run_query(spark, q, sf_dir, "noop")
            times.append(round(time.time() - t0, 3))
        totals.append(status.work())
        if q.name.startswith("stream_") and times[-1] > STREAM_CUT_S:
            break
    work = {k: int(totals[0][k]) for k in COUNTS + BYTES}
    work.update({k: round(min(t[k] for t in totals), 3) for k in TIMES})
    return times, work


def main() -> None:
    from swat_mapreduce_spark.queries import load_all
    from swat_mapreduce_spark.sources.readers import DEFAULT_SF_DIR
    from swat_mapreduce_spark.session import get_spark
    from tools.benchdiff import report

    sf_dir = DEFAULT_SF_DIR
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    names = sorted(reg)

    warm_up(spark, reg, sf_dir)

    timings: dict[str, float] = {}
    work: dict[str, dict] = {}
    for name in names:
        reps, work[name] = time_query(spark, reg[name], sf_dir)
        timings[name] = min(reps)
        print(
            f"# {name}: {timings[name]:.3f}s (best of {len(reps)})",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    # DuckDB wall-time anchor (VERDICT r6 #3): the reference publishes
    # no numbers, so "within 2x of baseline" needs a falsifiable local
    # anchor — every registered query already has a DuckDB oracle over
    # the SAME parquet, so time it on the same machine. Streaming rows
    # are skipped: their Spark figure is a micro-batch REPLAY (state
    # store init + per-batch fixed cost — FIXTURES.md pins), not a
    # batch scan, so a batch-SQL ratio would compare different work.
    duck_timings: dict[str, float] = {}
    try:
        from tools.selfcheck import duck_con, duck_result

        con = duck_con(sf_dir)
        for name in names:
            q = reg[name]
            if q.oracle is None or name.startswith("stream_"):
                continue
            best = None
            try:
                for _ in range(REPEATS):
                    t0 = time.time()
                    duck_result(con, q.oracle)
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
            except Exception as e:  # noqa: BLE001
                print(f"# duckdb {name}: ERROR {str(e)[:120]}", file=sys.stderr)
                continue
            duck_timings[name] = round(best, 3)
    except Exception as e:  # noqa: BLE001
        print(f"# duckdb anchor skipped: {str(e)[:120]}", file=sys.stderr)
    duck_total = round(sum(duck_timings.values()), 3)
    spark_on_common = round(
        sum(timings[n] for n in duck_timings), 3
    )
    # Full per-query detail goes to a pointer file; the stdout line
    # stays compact (total + top-10 slowest) so the driver's tail
    # buffer can always capture and parse it (r3's 92-query line
    # outgrew the buffer → BENCH_r03 recorded parsed: null).
    here = os.path.dirname(os.path.abspath(__file__))
    doc = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "work": work,
        "duckdb": duck_timings,
        "duckdb_total": duck_total,
        "spark_total_on_duckdb_common": spark_on_common,
        "cpus": spark.sparkContext.defaultParallelism,
        "sf": sf_val,
    }

    # Standing cross-round gate (VERDICT r7 #1): this capture's work
    # against the previous round's final capture (BENCH_BASE.json,
    # promoted at every round end, release checklist in CLAUDE.md).
    # Diffing final-vs-final keeps small per-round drift from
    # compounding unseen.
    base_path = os.path.join(here, "BENCH_BASE.json")
    if os.path.exists(base_path):
        with open(base_path) as f:
            base = json.load(f)
        doc["gate"] = {"base": "BENCH_BASE.json", **report(base, doc, sys.stderr)[1]}

    with open(os.path.join(here, "BENCH_full.json"), "w") as f:
        json.dump(doc, f)
    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    line = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": top10,
        "n_queries": len(timings),
        "duckdb_total": duck_total,
        "spark_total_on_duckdb_common": spark_on_common,
        "detail": "BENCH_full.json",
        "sf": sf_val,
    }
    if "gate" in doc:
        line["gate"] = {
            k: doc["gate"][k]
            for k in ("common_ratio", "regressions", "refused")
            if k in doc["gate"]
        }
    print(json.dumps(line))


if __name__ == "__main__":
    main()

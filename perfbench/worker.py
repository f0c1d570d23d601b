"""One workload in one fresh process: set up a Spark session, run jobs
back to back, check every output, report timings.

Started by run.py as ``python3 perfbench/worker.py <config.json>``; writes
its result to the config's ``result_path``. A fresh process per workload
keeps session state apart: ``cli.main`` sets
``spark.sql.execution.arrow.maxRecordsPerBatch=32`` on its session, which
must not reach fetch_infer's Arrow batches.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import proctree  # noqa: E402
import tracing  # noqa: E402


def noop(df) -> None:
    """Materialise every column of ``df`` without shipping rows."""
    df.write.format("noop").mode("overwrite").save()


class ClassifyTsv:
    """The paper's job: manifest → clean → score → top-1 → labels →
    key-sorted TSV, through the same entry point as
    ``python -m swat_mapreduce_spark``."""

    def __init__(self, cfg: dict) -> None:
        from swat_mapreduce_spark import cli  # noqa: F401

        self.manifest = cfg["manifest"]
        self.out = os.path.join(cfg["work_dir"], "out_tsv")
        self.expected = cfg["expected"]

    def job(self, spark) -> None:
        from swat_mapreduce_spark import cli

        if cli.main([self.manifest, self.out]) != 0:
            raise RuntimeError("cli.main returned non-zero")

    def check(self) -> bool:
        lines, ordered = inputs.read_tsv_output(self.out)
        return ordered and inputs.summary(lines) == self.expected

    def layers(self, spark):
        """Noop-materialised prefixes of the pipeline, then the sink."""
        from swat_mapreduce_spark.operators import classify
        from swat_mapreduce_spark.sources.readers import read_manifest
        from swat_mapreduce_spark.sources.sinks import write_predictions_tsv

        manifest = read_manifest(spark, self.manifest)
        cleaned = classify.clean_manifest(manifest)
        scored = classify.score(cleaned)
        top1 = classify.predict_top1(scored)
        labeled = classify.attach_labels(top1, spark)
        prefixes = [
            ("sources", manifest),
            ("classify.clean", cleaned),
            ("classify.score", scored),
            ("classify.top1", top1),
            ("classify.labels", labeled),
        ]

        def sink():
            write_predictions_tsv(
                labeled.select("image_path", "class", "prob"), self.out, sort=True
            )

        return prefixes, sink


class FetchInfer:
    """Per-object fetch plus batched model call: binary objects →
    doc_id from the object name → payload scorer → unsorted parquet."""

    def __init__(self, cfg: dict) -> None:
        from swat_mapreduce_spark.operators import inference  # noqa: F401
        from swat_mapreduce_spark.sources import readers, sinks  # noqa: F401

        self.glob = os.path.join(cfg["obj_dir"], "*.bin")
        self.out = os.path.join(cfg["work_dir"], "out_parquet")
        self.expected = cfg["expected"]

    def _plan(self, spark):
        from pyspark.sql import functions as F

        from swat_mapreduce_spark.operators.inference import predict_batch_from_payload
        from swat_mapreduce_spark.sources.readers import read_binary_objects

        objects = read_binary_objects(spark, self.glob).withColumn(
            "doc_id",
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long"),
        )
        return objects, predict_batch_from_payload(objects)

    def job(self, spark) -> None:
        from swat_mapreduce_spark.sources.sinks import write_parquet

        write_parquet(self._plan(spark)[1], self.out)

    def check(self) -> bool:
        return inputs.summary(inputs.read_parquet_output(self.out)) == self.expected

    def layers(self, spark):
        from swat_mapreduce_spark.sources.sinks import write_parquet

        objects, preds = self._plan(spark)
        return [("sources", objects), ("inference", preds)], lambda: write_parquet(
            preds, self.out
        )


WORKLOADS = {"classify_tsv": ClassifyTsv, "fetch_infer": FetchInfer}


def start_session(cfg: dict):
    from swat_mapreduce_spark.session import get_spark

    # JVM temp files go to the work directory; no hsperfdata file in /tmp
    tmp = os.path.join(cfg["work_dir"], "tmp")
    return get_spark(
        f"perfbench-{cfg['workload']}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when the
    gateway's stdin closes)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runner:
    def __init__(self, spark, workload, cfg: dict) -> None:
        self.spark = spark
        self.wl = workload
        self.cfg = cfg
        self.tree = proctree.ProcTree(os.getpid())
        self.ops: list[dict] = []

    def op(self, phase: str, fn, check=None) -> dict:
        """Run one operation; time it, take its tree CPU, then (untimed)
        check its output. A raise or a failed check marks it failed."""
        cpu0 = self.tree.cpu_s()
        t0 = time.perf_counter()
        error = None
        try:
            fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            error = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        cpu = self.tree.cpu_s() - cpu0
        ok = error is None
        if ok and check is not None:
            try:
                ok = check()
                error = None if ok else "output check failed"
            except Exception:  # noqa: BLE001
                ok, error = False, traceback.format_exc(limit=3)
        rec = {"phase": phase, "wall_s": wall, "cpu_s": cpu, "ok": ok, "error": error}
        print(
            f"[perfbench] {phase} op: {wall:.3f} s wall, {cpu:.2f} s cpu"
            + (f", FAILED: {error}" if error else ""),
            file=sys.stderr,
        )
        self.ops.append(rec)
        return rec

    def job(self, phase: str) -> dict:
        return self.op(phase, lambda: self.wl.job(self.spark), self.wl.check)

    def warm_up(self) -> None:
        for _ in range(self.cfg["warmup_jobs"]):
            self.job("warmup")

    def run_timed(self) -> None:
        """Jobs back to back until ``seconds`` have passed and at least
        ``min_timed_jobs`` have run."""
        self.warm_up()
        deadline = time.perf_counter() + self.cfg["seconds"]
        for n in itertools.count():
            if n >= self.cfg["min_timed_jobs"] and time.perf_counter() >= deadline:
                return
            self.job("timed")

    def run_traced(self, setup_s: float) -> dict:
        """Per rep: one untraced job, one traced job, then each layer's
        prefix and the sink under their own job groups."""
        self.warm_up()
        status = tracing.SparkStatus(self.spark)
        spans = tracing.Spans()
        reps: list[dict] = []
        deadline = time.perf_counter() + self.cfg["seconds"]
        while not reps or time.perf_counter() < deadline:
            rep = len(reps)
            with spans.span(f"rep{rep}"):
                reps.append(self._traced_rep(rep, status, spans))
        spans.write(self.cfg["spans_path"])
        metrics = {k: statistics.median(r[k] for r in reps) for k in reps[0]}
        metrics["session.start_s"] = setup_s
        return metrics

    def _traced_rep(self, rep: int, status, spans) -> dict:
        m: dict[str, float] = {}
        untraced = self.job("trace")["wall_s"]
        with status.group(f"job.{rep}"), spans.span("job"):
            job_s = self.job("trace")["wall_s"]
        engine = status.totals(f"job.{rep}")
        m["spark.jobs"] = engine["jobs"]
        m["spark.stages"] = engine["stages"]
        m["spark.executor_run_s"] = engine["run_s"]
        m["spark.executor_cpu_s"] = engine["cpu_s"]
        m["spark.gc_s"] = engine["gc_s"]
        m["spark.spill_bytes"] = engine["spill_bytes"]
        m["spark.shuffle_write_bytes"] = engine["shuffle_write_bytes"]
        m["spark.max_task_s"] = engine["max_task_s"]
        m["spark.busy_cores"] = engine["run_s"] / job_s
        m["trace.overhead_s"] = job_s - untraced

        prefixes, sink = self.wl.layers(self.spark)
        prev_wall = prev_cpu = prev_jvm = 0.0
        walls = {}
        for layer, df in prefixes:
            before = proctree.split_cpu(self.tree.snapshot())
            with status.group(f"{layer}.{rep}"), spans.span(layer):
                wall = self.op("trace", functools.partial(noop, df))["wall_s"]
            after = proctree.split_cpu(self.tree.snapshot())
            tot = status.totals(f"{layer}.{rep}")
            walls[layer] = wall - prev_wall
            jvm = after["jvm"] - before["jvm"]
            if layer == "sources":
                m["sources.scan_tasks"] = tot["tasks"]
                m["sources.input_bytes"] = tot["input_bytes"]
                m["sources.files"] = len(df.inputFiles())
            elif layer == "classify.score":
                m["classify.score_cpu_s"] = tot["cpu_s"] - prev_cpu
            elif layer == "inference":
                m["inference.python_cpu_s"] = (
                    after["python_workers"] - before["python_workers"]
                )
                m["inference.jvm_cpu_s"] = jvm - prev_jvm
                m["inference.tasks"] = tot["tasks"]
                m["inference.rows_per_task"] = self.cfg["n_items"] / tot["tasks"]
            prev_wall, prev_cpu, prev_jvm = wall, tot["cpu_s"], jvm
        with status.group(f"sinks.{rep}"), spans.span("sinks"):
            walls["sinks"] = self.op("trace", sink, self.wl.check)["wall_s"] - prev_wall
        tot = status.totals(f"sinks.{rep}")
        m["sinks.jobs"] = tot["jobs"]
        m["sinks.input_passes"] = tot["input_bytes"] / self.cfg["input_bytes"]
        m["sinks.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
        m["sinks.output_bytes"] = tot["output_bytes"]

        names = {
            "sources": "sources.scan_s",
            "classify.clean": "classify.clean_s",
            "classify.score": "classify.score_s",
            "classify.top1": "classify.top1_s",
            "classify.labels": "classify.labels_s",
            "inference": "inference.infer_s",
            "sinks": "sinks.write_s",
        }
        for layer, self_s in walls.items():
            m[names[layer]] = self_s
        m["trace.unattributed_s"] = job_s - sum(walls.values())
        return m


def main(config_path: str) -> int:
    with open(config_path) as fh:
        cfg = json.load(fh)
    workload = WORKLOADS[cfg["workload"]](cfg)
    spark = start_session(cfg)
    setup_s = time.time() - cfg["t_spawn"]
    print(f"[perfbench] set-up: {setup_s:.3f} s", file=sys.stderr)
    result: dict = {"setup_s": setup_s}
    try:
        if not cfg["setup_only"]:
            spark.sparkContext.setLogLevel("ERROR")
            runner = Runner(spark, workload, cfg)
            if cfg["trace"]:
                result["layers"] = runner.run_traced(setup_s)
            else:
                runner.run_timed()
            result["ops"] = runner.ops
            result["peak_rss_mb"] = runner.tree.peak_rss_mb()
    finally:
        stop_session(spark)
    with open(cfg["result_path"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))

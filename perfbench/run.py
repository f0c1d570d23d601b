"""The repository benchmark: one workload per invocation, one JSON line out.

Usage (from the repository root)::

    python3 perfbench/run.py --workload classify_tsv --seed 1 --seconds 20 --trace 0

It builds the workload's inputs from ``--seed``, computes the expected
output without Spark, and runs the workload as one closed-loop client
(jobs back to back, no concurrency) in a fresh worker process on
``local[<cores>]``. Warm-up jobs are not timed; every job's output is
checked. ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import proctree  # noqa: E402

# Input size and untimed warm-up jobs per workload: after the first job
# (class loading, code generation) job CPU keeps falling for several jobs
# while the JIT compiles the scoring paths, so every run warms up by the
# same number of jobs and its timed jobs start at the same point.
WORKLOADS = {
    "classify_tsv": {"n_items": 12_000, "warmup_jobs": 4},
    "fetch_infer": {"n_items": 1_000, "warmup_jobs": 2},
}
MIN_TIMED_JOBS = 3
SETUP_SAMPLES = 3  # the worker's own set-up plus two set-up-only processes
RUN_DEADLINE_S = 170  # a whole run, set-up samples included, ends within this

END_TO_END = {
    "job_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.scan_tasks": "count",
    "sources.input_bytes": "bytes",
    "sources.files": "count",
    "classify.clean_s": "s",
    "classify.score_s": "s",
    "classify.top1_s": "s",
    "classify.labels_s": "s",
    "classify.score_cpu_s": "s",
    "inference.infer_s": "s",
    "inference.python_cpu_s": "s",
    "inference.jvm_cpu_s": "s",
    "inference.tasks": "count",
    "inference.rows_per_task": "count",
    "sinks.write_s": "s",
    "sinks.jobs": "count",
    "sinks.input_passes": "ratio",
    "sinks.shuffle_write_bytes": "bytes",
    "sinks.output_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.max_task_s": "s",
    "spark.busy_cores": "count",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}


def prepare(workload: str, seed: int, work_dir: str) -> dict:
    """Inputs and expected output for one seed (not timed)."""
    from swat_mapreduce_spark.labels import CLASS_NAMES

    n = WORKLOADS[workload]["n_items"]
    if workload == "classify_tsv":
        path = os.path.join(work_dir, "manifest")
        inputs.write_manifest(path, inputs.manifest_lines(seed, n, CLASS_NAMES))
        return {
            "manifest": path,
            "input_bytes": sum(e.stat().st_size for e in os.scandir(path)),
            "expected": inputs.summary(inputs.expected_tsv_lines(path)),
        }
    obj_dir = os.path.join(work_dir, "objects")
    total = inputs.write_objects(obj_dir, seed, n)
    return {
        "obj_dir": obj_dir,
        "input_bytes": total,
        "expected": inputs.summary(inputs.expected_prediction_lines(obj_dir, CLASS_NAMES)),
    }


def run_worker(cfg: dict, tag: str, deadline: float) -> dict:
    """Run worker.py on ``cfg`` in its own session and wait until it and
    every process it started have ended; kill the session if the run
    deadline (``time.monotonic()``) passes or this process is stopped."""
    cfg = dict(cfg, result_path=os.path.join(cfg["work_dir"], f"result-{tag}.json"))
    cfg_path = os.path.join(cfg["work_dir"], f"config-{tag}.json")
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        stdout=sys.stderr,
        env=worker_env(cfg["work_dir"]),
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(deadline - time.monotonic(), 0))
    except BaseException:  # timeout, SIGTERM or Ctrl-C
        proctree.reap_session(proc.pid, grace_s=0)
        raise
    finally:
        proc.wait()
        proctree.reap_session(proc.pid)
    if rc != 0:
        raise RuntimeError(f"worker {tag} exited with {rc}")
    with open(cfg["result_path"]) as fh:
        return json.load(fh)


def worker_env(work_dir: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    env["TMPDIR"] = os.path.join(work_dir, "tmp")
    return env


def end_to_end(result: dict, setup: list[float], n_items: int) -> dict:
    timed = [op for op in result["ops"] if op["phase"] == "timed"]
    job_s = statistics.median(op["wall_s"] for op in timed)
    return {
        "job_s": job_s,
        "rows_per_s": n_items / job_s,
        "cpu_s": statistics.median(op["cpu_s"] for op in timed),
        "setup_s": statistics.median(setup),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_DEADLINE_S
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "tmp"))
    try:
        shape = WORKLOADS[args.workload]
        cfg = {
            "workload": args.workload,
            "work_dir": work_dir,
            "seconds": args.seconds,
            "trace": args.trace,
            "n_items": shape["n_items"],
            "warmup_jobs": shape["warmup_jobs"],
            "min_timed_jobs": MIN_TIMED_JOBS,
            "spans_path": os.path.join(
                ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"
            ),
            **prepare(args.workload, args.seed, work_dir),
        }
        setup = []
        if not args.trace:
            for i in range(SETUP_SAMPLES - 1):
                cfg_i = dict(cfg, setup_only=True)
                setup.append(run_worker(cfg_i, f"setup{i}", deadline)["setup_s"])
        result = run_worker(dict(cfg, setup_only=False), "main", deadline)
        setup.append(result["setup_s"])
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    ops = result["ops"]
    failed = sum(not op["ok"] for op in ops)
    if args.trace:
        values = {k: result["layers"].get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = end_to_end(result, setup, shape["n_items"])
        units = END_TO_END
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in values.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

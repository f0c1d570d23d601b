"""Self-tests of the benchmark: seeded inputs, metric names, the
expected-output oracles against the engine, and process-tree accounting.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402

from swat_mapreduce_spark.labels import CLASS_NAMES  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def _inputs(tmp_path, seed: int, tag: str) -> tuple[str, str]:
    manifest = str(tmp_path / f"manifest-{tag}")
    inputs.write_manifest(manifest, inputs.manifest_lines(seed, 500, CLASS_NAMES))
    obj_dir = str(tmp_path / f"objects-{tag}")
    inputs.write_objects(obj_dir, seed, 20)
    return manifest, obj_dir


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_same_seed_gives_identical_inputs(tmp_path):
    m1, o1 = _inputs(tmp_path, 7, "a")
    m2, o2 = _inputs(tmp_path, 7, "b")
    m3, o3 = _inputs(tmp_path, 8, "c")
    assert _same_tree(m1, m2)
    assert _same_tree(o1, o2)
    assert not _same_tree(m1, m3)
    assert not _same_tree(o1, o3)


def test_manifest_shape():
    lines = inputs.manifest_lines(3, 700, CLASS_NAMES)
    assert len(lines) == 700
    for wart in inputs.WART_LINES:
        assert wart in lines
    paths = [ln for ln in lines if ln.startswith("/data/img/")]
    repeats = len(paths) - len(set(paths))
    assert len(paths) // inputs.DUP_EVERY - 2 <= repeats <= len(paths) // inputs.DUP_EVERY


def test_emitted_names_are_valid_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = (
        [w["name"] for w in spec["workloads"]]
        + list(run.END_TO_END)
        + list(run.PER_LAYER)
    )
    assert all(NAME.match(n) and len(n) <= 64 for n in names)
    assert [w["name"] for w in spec["workloads"]] == sorted(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_tree_cpu_survives_child_exit():
    """CPU of a child that exits and is reaped stays in the tree total."""
    tree = proctree.ProcTree(os.getpid())
    before = tree.cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"]
    )
    time.sleep(0.2)
    during = tree.cpu_s()
    child.wait()
    after = tree.cpu_s()
    assert during >= before
    assert after - before >= 0.45
    assert tree.peak_rss_mb() > 0


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from swat_mapreduce_spark.session import get_spark

    session = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2)
    yield session
    session.stop()


def test_classify_oracle_agrees_with_engine(spark, tmp_path):
    import worker

    manifest, _ = _inputs(tmp_path, 5, "x")
    expected = inputs.expected_tsv_lines(manifest)
    wl = worker.ClassifyTsv(
        {
            "manifest": manifest,
            "work_dir": str(tmp_path),
            "expected": inputs.summary(expected),
        }
    )
    wl.job(spark)
    lines, ordered = inputs.read_tsv_output(wl.out)
    assert ordered
    assert sorted(lines) == sorted(expected)
    assert wl.check()
    # each file's leading BOM is stripped, the mid-file one is kept
    first = inputs.manifest_lines(5, 500, CLASS_NAMES)[0]
    assert any(ln.startswith(first + "\t") for ln in lines)
    assert len(os.listdir(manifest)) == inputs.MANIFEST_FILES
    assert [ln.split("\t")[0] for ln in lines if ln.startswith(inputs.BOM)] == [
        inputs.BOM + "/data/img/shoes/bom_mid.jpg"
    ]
    # a perturbed expectation must fail the check
    wl.expected = inputs.summary(expected[1:] + ["x"])
    assert not wl.check()


def test_fetch_oracle_agrees_with_engine(spark, tmp_path):
    import worker

    _, obj_dir = _inputs(tmp_path, 5, "y")
    expected = inputs.expected_prediction_lines(obj_dir, CLASS_NAMES)
    wl = worker.FetchInfer(
        {
            "obj_dir": obj_dir,
            "work_dir": str(tmp_path),
            "expected": inputs.summary(expected),
        }
    )
    wl.job(spark)
    assert sorted(inputs.read_parquet_output(wl.out)) == sorted(expected)
    assert wl.check()
    wl.expected = inputs.summary(expected + expected[:1])
    assert not wl.check()

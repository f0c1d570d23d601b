"""tools/benchdiff.py: the registry bench's gate on each query's work."""

from __future__ import annotations

import json
import os

import pytest

from tools.benchdiff import gate, main

WORK = {
    "jobs": 3,
    "stages": 4,
    "tasks": 12,
    "input_bytes": 10_000,
    "shuffle_write_bytes": 50_000,
    "spill_bytes": 0,
    "cpu_s": 1.2,
    "run_s": 2.0,
}


def _capture(work: dict, wall: float = 1.0, cpus: int = 4) -> dict:
    return {
        "queries": {q: wall for q in work},
        "work": work,
        "cpus": cpus,
        "sf": 0.1,
    }


def _regressions(new_work: dict, old_work: dict = WORK) -> set[str]:
    g = gate(_capture({"q": old_work}), _capture({"q": {**old_work, **new_work}}))
    return {r["metric"] for r in g["regressions"]}


def _exit_code(tmp_path, old: dict, new: dict) -> int:
    paths = []
    for name, doc in (("old.json", old), ("new.json", new)):
        paths.append(str(tmp_path / name))
        with open(paths[-1], "w") as f:
            json.dump(doc, f)
    return main(paths)


@pytest.mark.parametrize("metric", ["jobs", "stages", "tasks"])
def test_one_more_job_stage_or_task_is_regression(metric):
    assert _regressions({metric: WORK[metric] + 1}) == {metric}


def test_shuffle_bytes_tolerance():
    assert _regressions({"shuffle_write_bytes": 50_250}) == set()
    assert _regressions({"shuffle_write_bytes": 51_000}) == {"shuffle_write_bytes"}


def test_cpu_above_2x_over_1s_base_is_regression():
    assert _regressions({"cpu_s": 2.52}) == {"cpu_s"}


def test_cpu_rule_ignores_sub_second_base():
    assert _regressions({"cpu_s": 0.9}, {**WORK, "cpu_s": 0.3}) == set()


def test_cpu_move_over_half_second_base_is_regression():
    """The floor is on the move: a 0.5 s query that takes 2.5 s of CPU
    (a per-row blow-up on a small query) is caught."""
    assert _regressions({"cpu_s": 2.5}, {**WORK, "cpu_s": 0.5}) == {"cpu_s"}


def test_tiny_base_needs_a_one_second_move():
    assert _regressions({"cpu_s": 0.9}, {**WORK, "cpu_s": 0.01}) == set()
    assert _regressions({"cpu_s": 1.1}, {**WORK, "cpu_s": 0.05}) == {"cpu_s"}


def test_slower_python_worker_shows_in_run_s():
    """Time a task waits on its Python worker is run time, not JVM CPU."""
    assert _regressions({"run_s": 5.0}) == {"run_s"}
    assert _regressions({"run_s": 3.5}) == set()


def test_non_movers_not_reported():
    """Wall time is reported, never judged; changes inside the byte and
    CPU bounds are neither regressions nor improvements."""
    old = _capture({"q": WORK})
    new = _capture(
        {"q": {**WORK, "input_bytes": 10_050, "cpu_s": 2.3, "run_s": 3.9}}, wall=3.0
    )
    g = gate(old, new)
    assert g["regressions"] == g["improvements"] == []
    assert g["common_ratio"] == 3.0


def test_uniform_hot_capture_passes(tmp_path):
    """A whole capture running hot (every wall 1.5x, CPU 1.4x) with the
    same plans gates clean: heat moves no count."""
    work = {f"q{i}": WORK for i in range(20)}
    hot = {q: {**w, "cpu_s": 1.68} for q, w in work.items()}
    assert _exit_code(tmp_path, _capture(work), _capture(hot, wall=1.5)) == 0


def test_decreases_never_fail_and_are_listed():
    less = {**WORK, "stages": 3, "shuffle_write_bytes": 10_000, "run_s": 0.5}
    g = gate(_capture({"q": WORK}), _capture({"q": less}))
    assert g["regressions"] == []
    assert {r["metric"] for r in g["improvements"]} == {
        "stages", "shuffle_write_bytes", "run_s"
    }


def test_queries_only_in_one_capture_ignored(tmp_path):
    big = {k: v * 10 for k, v in WORK.items()}
    old = _capture({"old_only": WORK, "both": WORK})
    new = _capture({"new_only": big, "both": WORK})
    g = gate(old, new)
    assert (g["only_base"], g["only_new"]) == (["old_only"], ["new_only"])
    assert g["regressions"] == []
    assert _exit_code(tmp_path, old, new) == 0


def test_cpus_mismatch_refused(tmp_path):
    old = _capture({"q": WORK}, cpus=4)
    assert _exit_code(tmp_path, old, _capture({"q": WORK}, cpus=8)) == 2


def test_capture_without_work_refused(tmp_path):
    old = _capture({"q": WORK})
    wall_only = {k: v for k, v in old.items() if k != "work"}
    assert _exit_code(tmp_path, old, wall_only) == 2
    assert _exit_code(tmp_path, wall_only, old) == 2


def test_capture_missing_a_metric_refused(tmp_path):
    """A capture from before run_s was recorded cannot be gated."""
    no_run = {k: v for k, v in WORK.items() if k != "run_s"}
    assert _exit_code(tmp_path, _capture({"q": no_run}), _capture({"q": WORK})) == 2


def _repo_base() -> dict:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_BASE.json")) as f:
        return json.load(f)


def test_capture_gated_against_itself_is_clean(tmp_path):
    base = _repo_base()
    assert _exit_code(tmp_path, base, base) == 0


def test_repo_base_flags_perturbed_copy():
    """One more stage on one query of the committed base is caught."""
    base = _repo_base()
    victim = sorted(base["work"])[0]
    new = json.loads(json.dumps(base))
    new["work"][victim]["stages"] += 1
    assert [(r["query"], r["metric"]) for r in gate(base, new)["regressions"]] == [
        (victim, "stages")
    ]


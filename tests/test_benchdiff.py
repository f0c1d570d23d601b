"""tools/benchdiff.py mover classification (VERDICT r5 #1)."""

from __future__ import annotations

import json
import os

from tools.benchdiff import classify

PINS = {
    "ratio_threshold": 1.3,
    "jitter_floor_sec": 1.0,
    "pins": {
        "pinned_q": {
            "kind": "warmup_absorber",
            "steady_sec": 1.2,
            "noise_ceiling_sec": 2.0,
            "evidence": "test",
        }
    },
}


def _classes(old, new):
    return {m["query"]: m["class"] for m in classify(old, new, PINS)}


def test_non_movers_not_reported():
    assert _classes({"a": 1.0, "b": 2.0}, {"a": 1.25, "b": 1.5}) == {}


def test_subsecond_jitter():
    c = _classes({"a": 0.2}, {"a": 0.9})
    assert c == {"a": "subsecond-jitter"}


def test_pinned_noise_within_ceiling():
    c = _classes({"pinned_q": 1.2}, {"pinned_q": 1.9})
    assert c == {"pinned_q": "pinned-noise:warmup_absorber"}


def test_pinned_but_above_ceiling_is_unexplained():
    c = _classes({"pinned_q": 1.2}, {"pinned_q": 2.4})
    assert c == {"pinned_q": "UNEXPLAINED"}


def test_unpinned_above_floor_is_unexplained():
    c = _classes({"x": 1.5}, {"x": 2.5})
    assert c == {"x": "UNEXPLAINED"}


def test_queries_only_in_one_capture_ignored():
    assert _classes({"old_only": 1.0}, {"new_only": 9.0}) == {}


def test_repo_pins_file_parses_and_adjudicates_r5():
    """The committed BENCH_PINS.json must classify the six known r4->r5
    movers (VERDICT r5 'What's wrong' #2) as noise, end-to-end."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_PINS.json")) as f:
        pins = json.load(f)
    old = {
        "funnel_signup_click_purchase": 0.178,
        "zorder_cluster_stats": 0.221,
        "flagship_classify": 1.359,
        "tfidf_top_terms": 0.802,
        "ann_lsh_buckets": 0.572,
        "semdedup_embeddings": 1.330,
    }
    new = {
        "funnel_signup_click_purchase": 0.272,
        "zorder_cluster_stats": 0.325,
        "flagship_classify": 1.923,
        "tfidf_top_terms": 1.105,
        "ann_lsh_buckets": 0.772,
        "semdedup_embeddings": 1.742,
    }
    movers = classify(old, new, pins)
    assert len(movers) == 6
    assert all(m["class"] != "UNEXPLAINED" for m in movers)


# --- box-drift normalization (VERDICT r9 #2) -------------------------------

def _drift_capture(n=40, hot=1.2, extras=None):
    """A same-commit recapture shape: every query reads `hot`x with a
    spread, so P75 > 1.15 triggers drift mode."""
    old = {f"q{i:02d}": 2.0 for i in range(n)}
    new = {k: v * (hot + 0.25 * (i % 3)) for i, (k, v) in enumerate(old.items())}
    if extras:
        old.update({k: a for k, (a, _) in extras.items()})
        new.update({k: b for k, (_, b) in extras.items()})
    return old, new


def test_clean_capture_2x_regression_still_flags():
    """No drift (ratios ~1.0) -> a genuine 2x mover is UNEXPLAINED."""
    old = {f"q{i:02d}": 2.0 for i in range(40)}
    new = dict(old)
    new["q07"] = 4.0
    assert _classes(old, new) == {"q07": "UNEXPLAINED"}


def test_uniform_hot_box_normalizes_to_box_drift():
    """Whole capture 1.2-1.7x hot (the r9 driver-recapture shape):
    participants in the distribution classify as box-drift, exit clean."""
    old, new = _drift_capture()
    c = _classes(old, new)
    assert c, "the 1.45x rows must still be movers"
    assert set(c.values()) == {"box-drift"}


def test_outlier_in_hot_capture_still_unexplained():
    """A genuine 3x regression is an outlier even against a hot
    capture's P90 band - must remain UNEXPLAINED."""
    old, new = _drift_capture(extras={"regressed": (2.0, 6.0)})
    c = _classes(old, new)
    assert c["regressed"] == "UNEXPLAINED"
    assert all(v == "box-drift" for k, v in c.items() if k != "regressed")


def test_pinned_queries_exempt_from_drift_normalization():
    """Drift mode never loosens a pin: a pinned query above its
    absolute ceiling stays UNEXPLAINED even in a hot capture."""
    old, new = _drift_capture(extras={"pinned_q": (1.2, 2.4)})
    assert _classes(old, new)["pinned_q"] == "UNEXPLAINED"


def _fixture(name):
    here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    with open(os.path.join(here, name)) as f:
        return json.load(f)


def test_r9_driver_recapture_gates_clean_end_to_end():
    """The exact VERDICT r9 #2 acceptance: the r9-era pins + drift
    normalization adjudicate the r9 driver recapture (zero code delta)
    to 0 UNEXPLAINED. Frozen onto fixture copies of the capture pair
    (VERDICT r10 #1 / task 2): the live BENCH_full.json is overwritten
    by every driver recapture, so asserting on it made the suite red
    whenever the driver ran on a hot box."""
    pins = _fixture("r9_pins.json")
    old = _fixture("r9_recapture_old.json")["queries"]
    new = _fixture("r9_recapture_new.json")["queries"]
    movers = classify(old, new, pins)
    unexplained = [m for m in movers if m["class"] == "UNEXPLAINED"]
    assert unexplained == [], unexplained


def test_drift_disabled_for_cross_source_captures():
    """ADVICE r10 #1: with allow_drift=False (captures from different
    engine source), a capture-wide 1.45x slowdown does NOT
    self-normalize — every mover is UNEXPLAINED and needs a commit
    explanation. This is the shared-helper-regression scenario the
    P75 trigger alone could not distinguish from a hot box."""
    old, new = _drift_capture()
    c = {
        m["query"]: m["class"]
        for m in classify(old, new, PINS, allow_drift=False)
    }
    assert c, "the 1.45x rows must still be movers"
    assert set(c.values()) == {"UNEXPLAINED"}


def test_drift_default_preserves_same_source_behavior():
    old, new = _drift_capture()
    assert set(_classes(old, new).values()) == {"box-drift"}


def test_source_sha_stamp_is_stable_and_content_sensitive(tmp_path):
    from tools.benchdiff import source_sha

    pkg = tmp_path / "swat_mapreduce_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text("x = 1\n")
    (tmp_path / "bench.py").write_text("pass\n")
    s1 = source_sha(str(tmp_path))
    assert s1 == source_sha(str(tmp_path))
    (pkg / "a.py").write_text("x = 2\n")
    assert source_sha(str(tmp_path)) != s1


def test_frozen_gate_still_flags_perturbed_recapture():
    """Perturbing a query in the recapture (the 'driver wrote a hot
    BENCH_full.json' scenario) must flag UNEXPLAINED in classify() —
    proving the fixture freeze didn't neuter the gate — while the
    pytest suite itself stays green because no test reads the live
    BENCH_full.json anymore."""
    pins = _fixture("r9_pins.json")
    old = _fixture("r9_recapture_old.json")["queries"]
    new = dict(_fixture("r9_recapture_new.json")["queries"])
    victim = next(q for q, t in old.items() if t > 1.0 and q not in pins["pins"])
    new[victim] = old[victim] * 10.0
    movers = classify(old, new, pins)
    assert any(
        m["query"] == victim and m["class"] == "UNEXPLAINED" for m in movers
    ), movers

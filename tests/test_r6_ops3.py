"""Invariant tests for the survival/time-series, classifier-eval and
entity-resolution packs — semantic properties plus independent
ground-truth recomputations (pure-Python KM / Holt / AUC) that the
oracle hash-compare can't express."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from swat_mapreduce_spark.queries import load_all
from tools.selfcheck import duck_con


def _q(name):
    return load_all()[name]


def test_km_matches_pure_python_estimator(spark, sf_dir):
    """Recompute the Kaplan-Meier curve from raw durations with an
    independent pure-Python implementation (Decimal arithmetic
    mirroring the engine's per-step rounding)."""
    rows = _q("survival_km_weekly").spark_fn(spark, sf_dir).collect()
    assert rows
    con = duck_con(sf_dir)
    durs = con.execute(
        """
        WITH o AS (
            SELECT o_custkey, o_orderdate::DATE AS d,
                   lead(o_orderdate::DATE) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate::DATE, o_orderkey) AS nd
            FROM orders),
        mx AS (SELECT max(o_orderdate::DATE) AS m FROM orders)
        SELECT (nd IS NOT NULL) AS ev,
               CASE WHEN nd IS NOT NULL
                    THEN date_diff('day', d, nd)
                    ELSE date_diff('day', d, m) END // 7 AS w
        FROM o, mx
        """
    ).fetchall()
    from collections import Counter

    d_cnt, c_cnt = Counter(), Counter()
    for ev, w in durs:
        (d_cnt if ev else c_cnt)[int(w)] += 1
    weeks = sorted(set(d_cnt) | set(c_cnt))
    at_risk = sum(d_cnt.values()) + sum(c_cnt.values())
    surv = Decimal(1)
    expect = {}
    for w in weeks:
        d, c = d_cnt.get(w, 0), c_cnt.get(w, 0)
        if d > 0:
            f = Decimal(
                str(round((1.0 - d / at_risk) * 1e8) / 1e8)
            ).quantize(Decimal("1E-10"))
            surv = (surv * f).quantize(
                Decimal("1E-10"), rounding=ROUND_HALF_UP
            )
            if w <= 52:
                expect[w] = (at_risk, d, c, float(surv))
        at_risk -= d + c
    got = {r["dur_week"]: r for r in rows}
    assert set(got) == set(expect)
    prev = 1.0
    for w in sorted(expect):
        n, d, c, s = expect[w]
        r = got[w]
        assert (r["n_risk"], r["n_churn"], r["n_censor"]) == (n, d, c)
        assert abs(r["survival"] - round(s * 1e4) / 1e4) < 1e-9
        assert r["survival"] <= prev + 1e-12  # monotone non-increasing
        prev = r["survival"]


def test_holt_matches_pure_python_recursion(spark, sf_dir):
    rows = _q("holt_linear_forecast").spark_fn(spark, sf_dir).collect()
    assert len(rows) == 3
    con = duck_con(sf_dir)
    ys = [
        Decimal(str(v)).quantize(Decimal("1E-6"))
        for (v,) in con.execute(
            """
            SELECT round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2)::DOUBLE
            FROM orders GROUP BY date_trunc('month', o_orderdate)
            ORDER BY date_trunc('month', o_orderdate)
            """
        ).fetchall()
    ]
    a, b = Decimal("0.5"), Decimal("0.3")
    lvl, tr = ys[0], Decimal(0)
    q = Decimal("1E-6")
    for y in ys[1:]:
        nl = (a * y + a * (lvl + tr)).quantize(q, rounding=ROUND_HALF_UP)
        tr = (b * (nl - lvl) + (1 - b) * tr).quantize(
            q, rounding=ROUND_HALF_UP
        )
        lvl = nl
    for r in sorted(rows, key=lambda r: r["h"]):
        want = float(lvl + r["h"] * tr)
        assert abs(r["forecast_revenue"] - round(want * 100) / 100) < 1e-6
        assert abs(r["level"] - round(float(lvl) * 100) / 100) < 1e-6
        assert abs(r["trend"] - round(float(tr) * 100) / 100) < 1e-6


def test_seasonal_decompose_shape(spark, sf_dir):
    rows = _q("seasonal_decompose_dow").spark_fn(spark, sf_dir).collect()
    assert sorted(r["dow"] for r in rows) == [1, 2, 3, 4, 5, 6, 7]
    for r in rows:
        assert r["resid_rmse"] >= 0
        assert r["n_days"] > 0
    # additive decomposition: the n-weighted mean of the dow indices
    # is the mean detrended value — centered near zero RELATIVE to the
    # revenue scale (exact zero isn't guaranteed: calendar edges drop
    # partial MA windows asymmetrically)
    tot = sum(r["seasonal_index"] * r["n_days"] for r in rows)
    n = sum(r["n_days"] for r in rows)
    con = duck_con(sf_dir)
    (mean_rev,) = con.execute(
        "SELECT avg(rev) FROM (SELECT sum(o_totalprice) AS rev "
        "FROM orders GROUP BY o_orderdate::DATE)"
    ).fetchone()
    assert abs(tot / n) < 0.05 * mean_rev


def test_calibration_ece_self_consistent(spark, sf_dir):
    rows = _q("calibration_reliability_ece").spark_fn(spark, sf_dir).collect()
    assert rows
    n = sum(r["n"] for r in rows)
    ece = sum(r["n"] * r["abs_gap"] for r in rows) / n
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["mean_pred"] <= 1.0
        assert 0.0 <= r["obs_rate"] <= 1.0
        assert abs(r["abs_gap"] - abs(r["obs_rate"] - r["mean_pred"])) < 1e-9
        assert abs(r["ece"] - round(ece * 1e4) / 1e4) < 2e-4
        # scores inside a decile bin must average inside the bin
        lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0 + 1e-9
        assert lo - 1e-9 <= r["mean_pred"] <= (1.0 if r["bin"] == 9 else hi)


def test_auc_matches_numpy(spark, sf_dir):
    import numpy as np

    row = _q("classifier_auc_ranksum").spark_fn(spark, sf_dir).collect()[0]
    con = duck_con(sf_dir)
    sc = con.execute(
        r"""
        WITH t AS (
            SELECT (lang = 'en') AS pos,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               x -> len(x) > 0) AS toks
            FROM documents)
        SELECT pos,
               round((1.0 / (1.0 + exp(-(-3.0 + 20.0
                   * len(list_filter(toks, x -> list_contains(
                         ['the','a','of','and','to','in','is'], x)))
                     * 1.0 / len(toks))))) * 10000) / 10000 AS s
        FROM t WHERE len(toks) > 0
        """
    ).fetchall()
    pos = np.array([s for p, s in sc if p])
    neg = np.array([s for p, s in sc if not p])
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    # exact tie-aware AUC by pair counting on the small test corpus
    gt = (pos[:, None] > neg[None, :]).sum()
    eq = (pos[:, None] == neg[None, :]).sum()
    auc = (gt + 0.5 * eq) / (len(pos) * len(neg))
    assert abs(row["auc"] - round(auc * 1e6) / 1e6) < 1e-9
    assert abs(row["gini"] - (2 * row["auc"] - 1)) < 1e-5


def test_padding_sorted_never_beats_arrival(spark, sf_dir):
    rows = _q("padding_waste_bucketing").spark_fn(spark, sf_dir).collect()
    by = {r["strategy"]: r for r in rows}
    assert set(by) == {"arrival", "length_sorted"}
    a, s = by["arrival"], by["length_sorted"]
    # same docs, same token mass, same batch count
    assert a["n_tokens"] == s["n_tokens"]
    assert a["n_batches"] == s["n_batches"]
    # contiguous groups over the sorted order minimize the sum of
    # per-group maxima among all partitions into the same group sizes
    assert s["padded_tokens"] <= a["padded_tokens"]
    for r in rows:
        assert r["padded_tokens"] >= r["n_tokens"]
        assert 0.0 <= r["waste_pct"] < 1.0


def test_entity_resolution_clusters(spark, sf_dir):
    rows = _q("entity_resolution_parts").spark_fn(spark, sf_dir).collect()
    assert rows, "ER must find clusters at every scale factor"
    from swat_mapreduce_spark.sources.readers import read_table

    part = {
        r["p_partkey"]: r
        for r in read_table(spark, sf_dir, "part").collect()
    }
    for r in rows:
        assert r["n_members"] >= 2
        assert r["n_brands"] >= 1
        canon = part[r["cluster_id"]]
        # canonical record is the min-id member: its name and size
        # must be the elected ones
        assert r["canonical_name"] == canon["p_name"]
        assert r["size"] == canon["p_size"]

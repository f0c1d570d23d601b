"""Round-7 operators: Spark 4.1 SQL-language surfaces and
nonparametric statistics, pinned against independent recomputation.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tools.selfcheck import duck_con


def _q(name):
    from swat_mapreduce_spark.queries import load_all

    return load_all()[name]


def test_recursive_cte_covers_every_part(spark, sf_dir):
    rows = _q("recursive_cte_part_rollup").spark_fn(spark, sf_dir).collect()
    con = duck_con(sf_dir)
    (n_parts,) = con.sql("SELECT count(*) FROM part").fetchall()[0]
    assert sum(r["n_parts"] for r in rows) == n_parts
    # roots are the sub-10 keys; every part reaches one in log10 steps
    assert all(0 <= r["root"] < 10 for r in rows)
    (maxk,) = con.sql("SELECT max(p_partkey) FROM part").fetchall()[0]
    assert max(r["max_depth"] for r in rows) == len(str(maxk)) - 1


def test_sql_udf_inlines_no_python_stage(spark, sf_dir):
    df = _q("sql_udf_margin_rollup").spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, "SQL UDF must inline, not hit Python"
    rows = {(r["l_returnflag"], r["band"]): r for r in df.collect()}
    assert {b for _, b in rows} == {"deep", "light", "none"}


def test_tvf_instalments_conserve_totals(spark, sf_dir):
    rows = _q("sql_tvf_instalments").spark_fn(spark, sf_dir).collect()
    con = duck_con(sf_dir)
    truth = dict(
        con.sql(
            "SELECT o_orderpriority, round(sum(CAST(o_totalprice AS "
            "DECIMAL(30,8))), 2)::DOUBLE FROM orders GROUP BY 1"
        ).fetchall()
    )
    for r in rows:
        # penny-exact proration: 4 instalments re-sum to the original
        assert abs(r["total_paid"] - truth[r["priority"]]) < 1e-9
        assert r["n_instalments"] % 4 == 0
    assert sum(r["n_remainder_pennies"] for r in rows) > 0, (
        "remainder path never exercised — proration vacuous"
    )


def test_collation_groups_mixed_case(spark, sf_dir):
    rows = _q("collated_event_type_stats").spark_fn(spark, sf_dir).collect()
    assert all(r["event_type"] == r["event_type"].lower() for r in rows)
    assert all(0 < r["n_upper"] < r["n"] for r in rows), (
        "case perturbation must land inside every group (gotcha 5)"
    )


def test_scripting_threshold_is_minimal_power_of_two(spark, sf_dir):
    rows = _q("sql_scripting_threshold").spark_fn(spark, sf_dir).collect()
    t = rows[0]["threshold"]
    assert t & (t - 1) == 0  # power of two
    n_days = len(rows)
    busy = sum(1 for r in rows if r["n_events"] >= t)
    assert 2 * busy < n_days
    if t > 1:
        busy_half = sum(1 for r in rows if r["n_events"] >= t // 2)
        assert 2 * busy_half >= n_days, "threshold not minimal"
    assert all(r["busy"] == (r["n_events"] >= t) for r in rows)


def test_mann_kendall_matches_bruteforce(spark, sf_dir):
    row = _q("mann_kendall_daily_value").spark_fn(spark, sf_dir).collect()[0]
    con = duck_con(sf_dir)
    daily = con.sql(
        "SELECT ts::DATE d, sum(CAST(value AS DECIMAL(30,8))) x "
        "FROM events GROUP BY 1 ORDER BY 1"
    ).fetchall()
    xs = [x for _, x in daily]
    n = len(xs)
    s = sum(
        (xs[j] > xs[i]) - (xs[j] < xs[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    assert row["s_stat"] == s and row["n_days"] == n
    var_s = n * (n - 1) * (2 * n + 5) / 18.0  # ties absent in practice
    if len(set(xs)) == n:
        assert abs(row["var_s"] - var_s) < 1e-9
    num = s - 1 if s > 0 else (s + 1 if s < 0 else 0)
    assert abs(row["z"] - round(num / math.sqrt(row["var_s"]), 6)) < 1e-6


def test_theil_sen_matches_bruteforce(spark, sf_dir):
    row = _q("theil_sen_daily_trend").spark_fn(spark, sf_dir).collect()[0]
    con = duck_con(sf_dir)
    daily = con.sql(
        "SELECT ts::DATE d, sum(CAST(value AS DECIMAL(30,8)))::DOUBLE x "
        "FROM events GROUP BY 1 ORDER BY 1"
    ).fetchall()
    slopes = sorted(
        (xb - xa) / (db - da).days
        for i, (da, xa) in enumerate(daily)
        for db, xb in daily[i + 1 :]
    )
    n = len(slopes)
    med = (slopes[(n + 1) // 2 - 1] + slopes[(n + 2) // 2 - 1]) / 2.0
    assert row["n_pairs"] == n
    assert abs(row["sen_slope"] - round(med * 1e6) / 1e6) < 1e-9
    assert row["n_positive_pairs"] == sum(1 for s in slopes if s > 0)


def test_fdr_bh_step_up_rule(spark, sf_dir):
    rows = sorted(
        _q("fdr_bh_source_length_tests").spark_fn(spark, sf_dir).collect(),
        key=lambda r: r["bh_rank"],
    )
    m = len(rows)
    assert m == 20
    ps = [r["p_value"] for r in rows]
    assert ps == sorted(ps)
    k = max(
        (r["bh_rank"] for r in rows if r["p_value"] * m <= r["bh_rank"] * 0.05),
        default=0,
    )
    for r in rows:
        assert r["rejected"] == (r["bh_rank"] <= k)
        assert 0.0 <= r["d_stat"] <= 1.0 and 0.0 <= r["p_value"] <= 1.0


def test_boilerplate_flags_cross_doc_segments(spark, sf_dir):
    rows = (
        _q("boilerplate_segment_removal").spark_fn(spark, sf_dir).collect()
    )
    assert len(rows) > 0
    flagged = [r for r in rows if r["n_boiler_segments"] > 0]
    assert flagged, "no boilerplate flagged — query vacuous (gotcha 5)"
    for r in rows:
        assert r["n_tokens_clean"] == (
            r["n_tokens"] - 10 * r["n_boiler_segments"]
        )
        assert r["n_boiler_segments"] <= r["n_segments"]
        if r["n_boiler_segments"] == 0:
            assert r["first_boiler_seg"] is None
        else:
            assert 0 <= r["first_boiler_seg"] < r["n_segments"]


def test_mmr_greedy_properties(spark, sf_dir):
    rows = sorted(
        _q("mmr_diversified_topk").spark_fn(spark, sf_dir).collect(),
        key=lambda r: r["step"],
    )
    assert [r["step"] for r in rows] == [1, 2, 3, 4, 5]
    assert len({r["vec_id"] for r in rows}) == 5
    # step 1 is pure relevance: score = lambda * rel exactly
    assert abs(rows[0]["mmr_score"] - round(0.7 * rows[0]["rel"], 6)) < 2e-6
    # later steps add a redundancy term bounded by (1-lambda)*|cos|<=0.3
    # (cosines can be NEGATIVE, so the score may exceed lambda*rel)
    for r in rows[1:]:
        assert abs(r["mmr_score"] - 0.7 * r["rel"]) <= 0.3 + 1e-9
    # greedy selection scores are non-increasing: step t+1's winner was
    # available at step t with a no-larger penalty set
    scores = [r["mmr_score"] for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(scores, scores[1:]))
    # step 1 has the max rel of the emitted set
    assert rows[0]["rel"] == max(r["rel"] for r in rows)


def test_runs_test_matches_bruteforce(spark, sf_dir):
    row = _q("runs_test_daily_updown").spark_fn(spark, sf_dir).collect()[0]
    con = duck_con(sf_dir)
    daily = con.sql(
        "SELECT ts::DATE d, sum(CAST(value AS DECIMAL(30,8))) x "
        "FROM events GROUP BY 1 ORDER BY 1"
    ).fetchall()
    signs = []
    for (da, xa), (db, xb) in zip(daily, daily[1:]):
        if (db - da).days == 1 and xb != xa:
            signs.append(1 if xb > xa else -1)
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n, npos = len(signs), sum(1 for s in signs if s == 1)
    assert row["n_moves"] == n and row["n_plus"] == npos
    assert row["runs"] == runs
    e = 1.0 + 2.0 * npos * (n - npos) / n
    v = (
        2.0 * npos * (n - npos) * (2.0 * npos * (n - npos) - n)
        / (1.0 * n * n * (n - 1))
    )
    assert abs(row["z"] - round((runs - e) / math.sqrt(v), 6)) < 1e-6


def test_ccnet_buckets_partition_each_lang(spark, sf_dir):
    rows = _q("ccnet_quality_buckets").spark_fn(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, buckets in by_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}, (lang, buckets)
        n = sum(b["n_docs"] for b in buckets.values())
        # value-level terciles: each bucket within one value-group of n/3
        for b in buckets.values():
            assert 0 < b["n_docs"] < n
        # head holds the LOWEST perplexities
        assert buckets["head"]["max_nll"] <= buckets["middle"]["min_nll"]
        assert buckets["middle"]["max_nll"] <= buckets["tail"]["min_nll"]


def test_tfidf_cosine_pairs_nonvacuous_and_bounded(spark, sf_dir):
    rows = _q("neardup_tfidf_cosine").spark_fn(spark, sf_dir).collect()
    assert rows, "no tf-idf near-dup pairs — threshold vacuous (gotcha 5)"
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["n_common"] >= 1
        assert 0.35 <= r["cosine"] <= 1.0 + 1e-9


def test_kcore_peeling_monotone_and_consistent(spark, sf_dir):
    rows = sorted(
        _q("kcore_peel_rounds").spark_fn(spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == [1, 2, 3]
    k = rows[0]["k"]
    assert k >= 1 and all(r["k"] == k for r in rows)
    # peeling is monotone: node and edge sets only shrink
    for a, b in zip(rows, rows[1:]):
        assert b["n_nodes"] <= a["n_nodes"]
        assert b["n_edges"] <= a["n_edges"]
    # round 1 must actually remove something (k = Q1 degree, gotcha 5)
    assert rows[0]["n_nodes"] > 0
    assert rows[1]["n_nodes"] < rows[0]["n_nodes"] or (
        rows[0]["n_edges"] > rows[1]["n_edges"]
    )


def test_conformal_coverage_guarantee(spark, sf_dir):
    row = (
        _q("conformal_interval_coverage").spark_fn(spark, sf_dir).collect()[0]
    )
    assert row["n_cal"] > 0 and row["n_test"] > 0
    assert row["q_rank"] == (9 * (row["n_cal"] + 1) + 9) // 10
    assert 0.0 <= row["q_hat"] <= 1.0
    # split-conformal marginal guarantee: coverage >= 1 - alpha holds
    # in expectation; exchangeable synthetic data sits at/above it
    assert row["coverage"] >= 0.85, row
    assert row["n_covered"] <= row["n_test"]


def test_kcenter_greedy_maxmin_property(spark, sf_dir):
    rows = sorted(
        _q("kcenter_greedy_coreset").spark_fn(spark, sf_dir).collect(),
        key=lambda r: r["step"],
    )
    assert [r["step"] for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0]["vec_id"] == 0 and rows[0]["min_dist2"] is None
    assert len({r["vec_id"] for r in rows}) == 5
    # greedy max-min distances are non-increasing
    d = [r["min_dist2"] for r in rows[1:]]
    assert all(a >= b - 1e-9 for a, b in zip(d, d[1:]))
    # independent numpy check of step 2: farthest point from the seed
    import numpy as np

    con = duck_con(sf_dir)
    X = {
        int(v): np.array(e, dtype=np.float64)
        for v, e in con.execute(
            "SELECT vec_id, embedding FROM embeddings"
        ).fetchall()
    }
    seed = X[0]
    far = max(
        ((np.sum((x - seed) ** 2), -v) for v, x in X.items() if v != 0)
    )
    assert rows[1]["vec_id"] == -far[1]
    assert abs(rows[1]["min_dist2"] - far[0]) < 1e-4


def test_bootstrap_ci_brackets_rate(spark, sf_dir):
    row = _q("bootstrap_ci_keep_rate").spark_fn(spark, sf_dir).collect()[0]
    assert row["n_resamples"] == 40
    assert 0.0 <= row["boot_lo"] <= row["boot_hi"] <= 1.0
    # the percentile CI straddles the point estimate on exchangeable data
    assert row["boot_lo"] <= row["keep_rate"] + 0.05
    assert row["boot_hi"] >= row["keep_rate"] - 0.05
    assert row["n_docs"] > 0


def test_gini_matches_bruteforce(spark, sf_dir):
    row = _q("gini_source_concentration").spark_fn(spark, sf_dir).collect()[0]
    con = duck_con(sf_dir)
    xs = sorted(
        con.sql(
            "SELECT source, sum(n_chars) FROM documents GROUP BY 1"
        ).fetchall(),
        key=lambda t: (t[1], t[0]),
    )
    n = len(xs)
    tot = sum(x for _, x in xs)
    ix = sum((i + 1) * x for i, (_, x) in enumerate(xs))
    g = 2.0 * ix / (n * 1.0 * tot) - (n + 1.0) / n
    assert row["n_sources"] == n and row["total_chars"] == tot
    assert abs(row["gini"] - round(g * 1e6) / 1e6) < 1e-9
    assert 0.0 <= row["gini"] < 0.5  # balanced synthetic mix


def test_pmi_ranks_and_bounds(spark, sf_dir):
    rows = sorted(
        _q("pmi_top_bigrams").spark_fn(spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    assert all(r["c_xy"] >= 5 for r in rows)


def test_hits_normalization_and_roles(spark, sf_dir):
    rows = _q("hits_hubs_authorities").spark_fn(spark, sf_dir).collect()
    by_role = {}
    for r in rows:
        by_role.setdefault(r["role"], []).append(r)
    assert set(by_role) == {"hub", "authority"}
    for role, rs in by_role.items():
        rs.sort(key=lambda r: r["rank"])
        assert rs[0]["score"] == 1.0, f"{role} max must normalize to 1"
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(0.0 <= s <= 1.0 for s in scores)


def test_label_propagation_spreads(spark, sf_dir):
    rows = _q("label_propagation_semisup").spark_fn(spark, sf_dir).collect()
    assert len(rows) == 5  # one per lang
    assert sum(r["n_seed"] for r in rows) > 0
    # at least one round actually labels new docs (non-vacuous)
    assert sum(r["n_round1"] for r in rows) > 0


def test_sliding_p50_matches_bruteforce(spark, sf_dir):
    rows = {
        r["day"]: r
        for r in _q("sliding_p50_value_7d").spark_fn(spark, sf_dir).collect()
    }
    con = duck_con(sf_dir)
    ev = con.sql(
        "SELECT ts::DATE d, CAST(round(value*100) AS BIGINT) c FROM events"
    ).fetchall()
    import collections
    import datetime

    by_day = collections.defaultdict(list)
    for d, c in ev:
        by_day[d].append(c)
    days = sorted(by_day)
    for day, r in rows.items():
        vals = sorted(
            c
            for off in range(7)
            for c in by_day.get(day - datetime.timedelta(days=off), [])
        )
        n = len(vals)
        assert r["n_events_7d"] == n
        lower_med = vals[(n + (n % 2)) // 2 - 1]  # ceil(n/2)-th smallest
        assert abs(r["p50_value"] - lower_med / 100.0) < 1e-9
    # gap-day rule: only real event days with a full window are emitted
    assert set(rows) <= set(days)
    assert min(rows) >= days[0] + datetime.timedelta(days=6)


def test_permutation_test_definitions(spark, sf_dir):
    row = (
        _q("permutation_test_mean_diff").spark_fn(spark, sf_dir).collect()[0]
    )
    assert row["n0"] > 0 and row["n1"] > 0
    assert abs(abs(row["mean0"] - row["mean1"]) - row["obs_diff"]) < 2e-4
    # p in {k/100: k=1..100}; reject iff p <= 0.05 exactly
    assert 0.01 <= row["p_value"] <= 1.0
    assert row["reject_5pct"] == (row["p_value"] <= 0.05 + 1e-12)


def _paired_truth(sf_dir):
    con = duck_con(sf_dir)
    rows = con.sql(
        r"""
        WITH toks AS (
            SELECT doc_id, n_chars,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               x -> len(x) > 0) AS tk
            FROM documents
        ),
        med AS (
            SELECT min(v) AS m FROM (
                SELECT v, sum(c) OVER (ORDER BY v) AS cum, tot.n
                FROM (SELECT n_chars AS v, count(*) c FROM documents
                      GROUP BY 1),
                     (SELECT count(*) n FROM documents) tot
            ) WHERE cum * 2 >= n
        )
        SELECT (t.n_chars >= med.m) AS a,
               (len(list_filter(t.tk, x -> list_contains(
                    ['the','a','of','and','to','in','is'], x))) * 100
                >= len(t.tk) * 8) AS b
        FROM toks t, med WHERE len(t.tk) > 0
        """
    ).fetchall()
    return rows


def test_mcnemar_and_kappa_match_bruteforce(spark, sf_dir):
    truth = _paired_truth(sf_dir)
    n11 = sum(1 for a, b in truth if a and b)
    n10 = sum(1 for a, b in truth if a and not b)
    n01 = sum(1 for a, b in truth if not a and b)
    n00 = sum(1 for a, b in truth if not a and not b)
    m = _q("mcnemar_two_filters").spark_fn(spark, sf_dir).collect()[0]
    assert (m["n11"], m["n10"], m["n01"], m["n00"]) == (n11, n10, n01, n00)
    assert n10 + n01 > 0, "no discordant pairs — test vacuous (gotcha 5)"
    chi2 = (n10 - n01) ** 2 / (n10 + n01)
    assert abs(m["chi2"] - round(chi2 * 1e4) / 1e4) < 1e-9
    assert m["reject_5pct"] == (100 * (n10 - n01) ** 2 > 384 * (n10 + n01))
    k = _q("cohens_kappa_filters").spark_fn(spark, sf_dir).collect()[0]
    n = n11 + n10 + n01 + n00
    pe_num = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
    kappa = (n * (n11 + n00) - pe_num) / (n * n - pe_num)
    assert abs(k["kappa"] - round(kappa * 1e6) / 1e6) < 1e-9
    assert -1.0 <= k["kappa"] <= 1.0


def test_cochran_armitage_real_buckets(spark, sf_dir):
    row = _q("cochran_armitage_trend").spark_fn(spark, sf_dir).collect()[0]
    assert row["n_docs"] > 0
    assert 0 < row["n_pass"] < row["n_docs"], "pass label vacuous"
    assert isinstance(row["trend_5pct"], bool)


def test_stream_sliding_p50_equals_batch(spark, sf_dir):
    batch = sorted(
        tuple(r)
        for r in _q("sliding_p50_value_7d").spark_fn(spark, sf_dir).collect()
    )
    streamed = sorted(
        tuple(r)
        for r in _q("stream_sliding_p50_value")
        .spark_fn(spark, sf_dir)
        .collect()
    )
    # grid-count state is a monoid: drained result == one-shot batch
    assert streamed == batch


def test_jackknife_matches_bruteforce(spark, sf_dir):
    import math as _m

    row = (
        _q("jackknife_keep_rate_stderr").spark_fn(spark, sf_dir).collect()[0]
    )
    con = duck_con(sf_dir)
    per = con.sql(
        r"""
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               t -> len(t) > 0) AS tk
            FROM documents
        )
        SELECT source, count(*) n_i,
               sum(CASE WHEN round((1.0/(1.0+exp(-(-3.0 + 20.0 *
                     len(list_filter(tk, x -> list_contains(
                        ['the','a','of','and','to','in','is'], x)))
                     * 1.0 / len(tk))))) * 10000)/10000 >= 0.5
                   THEN 1 ELSE 0 END) k_i
        FROM toks WHERE len(tk) > 0 GROUP BY 1
        """
    ).fetchall()
    n = sum(ni for _, ni, _ in per)
    k = sum(ki for _, _, ki in per)
    m = len(per)
    reps = [
        round((k - ki) / (n - ni) * 1e8) / 1e8 for _, ni, ki in per
    ]
    mu = sum(round(r * 1e8) for r in reps) / 1e8 / m
    ss = sum(round((r - mu) ** 2 * 1e12) for r in reps) / 1e12
    se = _m.sqrt((m - 1) / m * ss)
    assert row["n_groups"] == m
    assert abs(row["jack_se"] - round(se * 1e8) / 1e8) < 1e-7
    assert row["jack_se"] > 0


def test_acf_lag_properties(spark, sf_dir):
    rows = sorted(
        _q("acf_daily_lags").spark_fn(spark, sf_dir).collect(),
        key=lambda r: r["lag"],
    )
    assert [r["lag"] for r in rows] == list(range(1, 8))
    assert all(-1.0 - 1e-9 <= r["acf"] <= 1.0 + 1e-9 for r in rows)
    # independent numpy recompute (unquantized, tolerance covers units)
    import numpy as np

    con = duck_con(sf_dir)
    xs = np.array(
        [
            float(x)
            for _, x in con.sql(
                "SELECT ts::DATE d, sum(CAST(value AS DECIMAL(30,8))) "
                "FROM events GROUP BY 1 ORDER BY 1"
            ).fetchall()
        ]
    )
    mu = xs.mean()
    den = ((xs - mu) ** 2).sum()
    for r in rows:
        k = r["lag"]
        ref = ((xs[:-k] - mu) * (xs[k:] - mu)).sum() / den
        assert abs(r["acf"] - ref) < 1e-4


def test_trimmed_mean_matches_bruteforce(spark, sf_dir):
    rows = _q("trimmed_mean_priority").spark_fn(spark, sf_dir).collect()
    con = duck_con(sf_dir)
    for r in rows:
        vals = sorted(
            int(v)
            for (v,) in con.sql(
                "SELECT CAST(round(o_totalprice*100) AS BIGINT) FROM orders "
                f"WHERE o_orderpriority = '{r['priority']}'"
            ).fetchall()
        )
        n = len(vals)
        k = n // 10
        assert r["n"] == n and r["n_trimmed_each_side"] == k
        kept = vals[k : n - k]
        tm = sum(kept) / len(kept) / 100
        assert abs(r["trimmed_mean"] - round(tm * 1e4) / 1e4) < 1e-9
        assert k > 0, "trim never engaged — vacuous (gotcha 5)"

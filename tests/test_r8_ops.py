"""Round-8 operators: layout/selection/eval audits pinned against
independent invariants (not just the DuckDB oracle hash).
"""

from __future__ import annotations

from tools.selfcheck import duck_con


def _q(name):
    from swat_mapreduce_spark.queries import load_all

    return load_all()[name]


def test_zone_map_bounds_and_row_conservation(spark, sf_dir):
    rows = _q("zone_map_skipping_audit").spark_fn(spark, sf_dir).collect()
    con = duck_con(sf_dir)
    (n_orders,) = con.sql("SELECT count(*) FROM orders").fetchall()[0]
    assert sum(r["n_rows"] for r in rows) == n_orders
    for r in rows:
        assert 1 <= r["nat_blocks_scanned"] <= r["n_blocks"]
        assert 1 <= r["sorted_blocks_scanned"] <= r["n_blocks"]
        assert 0.0 <= r["nat_skip_rate"] <= 1.0
        assert 0.0 <= r["sorted_skip_rate"] <= 1.0
        # a sorted layout never scans more blocks than the month's
        # rows could span plus one boundary block
        assert r["sorted_blocks_scanned"] <= r["n_rows"] // 1024 + 2


def test_facility_location_objective_monotone(spark, sf_dir):
    rows = sorted(
        _q("facility_location_greedy").spark_fn(spark, sf_dir).collect(),
        key=lambda r: r["step"],
    )
    assert [r["step"] for r in rows] == [1, 2, 3, 4]
    # greedy coverage objective is monotone nondecreasing (submodular
    # maximization never loses coverage by adding an exemplar)
    objs = [r["objective"] for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(objs, objs[1:]))
    # all chosen ids come from the fixed-count hash-ordered candidate
    # pool (r9 rework of the r8 vec_id%25 fraction pool) and are
    # distinct
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.functions import hashing as _H
    from swat_mapreduce_spark.queries.data_selection import _FL_CANDS
    from swat_mapreduce_spark.sources.readers import read_table

    pool = {
        r["vec_id"]
        for r in read_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy(_H.hash_uint(F.col("vec_id"), "fl", 8), "vec_id")
        .limit(_FL_CANDS)
        .collect()
    }
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == 4
    assert all(v in pool for v in ids)


def test_bcubed_bounds_and_f1_consistency(spark, sf_dir):
    (r,) = _q("bcubed_cluster_quality").spark_fn(spark, sf_dir).collect()
    assert 0.0 < r["bcubed_precision"] <= 1.0
    assert 0.0 < r["bcubed_recall"] <= 1.0
    p, rr = r["bcubed_precision"], r["bcubed_recall"]
    f1 = 2 * p * rr / (p + rr)
    assert abs(r["bcubed_f1"] - f1) < 1e-4
    assert r["n_pred_clusters"] <= r["n_docs"]
    assert r["n_truth_groups"] <= r["n_docs"]


def test_jsd_symmetric_bounded_and_complete(spark, sf_dir):
    rows = _q("jsd_source_divergence").spark_fn(spark, sf_dir).collect()
    con = duck_con(sf_dir)
    (n_src,) = con.sql(
        "SELECT count(DISTINCT source) FROM documents"
    ).fetchall()[0]
    assert len(rows) == n_src * (n_src - 1) // 2
    for r in rows:
        assert r["src_a"] < r["src_b"]
        # JSD with log2 is bounded by 1 bit
        assert 0.0 <= r["jsd"] <= 1.0


def test_lsh_scurve_rates_bounded_and_high_bin_caught(spark, sf_dir):
    rows = _q("lsh_scurve_audit").spark_fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0 <= r["n_candidates"] <= r["n_pairs"]
        assert 0.0 <= r["observed_rate"] <= 1.0
        assert 0.0 <= r["expected_rate"] <= 1.0
    top = {r["bin"]: r for r in rows}.get(9)
    if top is not None:
        # planted near-dups at jaccard >= 0.9: the S-curve expects
        # ~1.0 and the fixed hash tables should catch them all
        assert top["observed_rate"] >= 0.99
        assert top["expected_rate"] >= 0.98


def test_neyman_allocation_sums_to_budget(spark, sf_dir):
    rows = _q("stratified_neyman_allocation").spark_fn(
        spark, sf_dir
    ).collect()
    assert len(rows) == 5  # orders priorities
    assert sum(r["final_alloc"] for r in rows) == 1000
    for r in rows:
        assert r["base_alloc"] <= r["final_alloc"] <= r["base_alloc"] + 1
        assert r["stddev"] > 0
        assert 0.0 <= r["weight_share"] <= 1.0
    # shares sum to ~1
    assert abs(sum(r["weight_share"] for r in rows) - 1.0) < 1e-3


def test_alignment_uniformity_ranges(spark, sf_dir):
    (r,) = _q("alignment_uniformity_audit").spark_fn(
        spark, sf_dir
    ).collect()
    # d^2 = 2 - 2cos is in [0, 4]
    assert 0.0 <= r["alignment"] <= 4.0
    # uniformity = log E[exp(-2 d^2)] is in [-8, 0]
    assert -8.0 <= r["uniformity"] <= 0.0
    assert r["n_pairs"] == r["n_sample"] * (r["n_sample"] - 1) // 2
    assert 0 < r["n_pos_pairs"] < r["n_pairs"]


def test_cuped_adjustment_and_theta(spark, sf_dir):
    rows = _q("cuped_variance_reduction").spark_fn(spark, sf_dir).collect()
    assert sorted(r["variant"] for r in rows) == [0, 1]
    for r in rows:
        assert r["n_users"] > 0
        assert 0.0 <= r["rho2"] <= 1.0
        # theta and rho2 are global, identical across variant rows
    assert rows[0]["theta"] == rows[1]["theta"]
    # adjustment conserves the GRAND mean: weighted adjusted means
    # equal weighted post means (the theta correction is mean-zero
    # over the whole population)
    n = sum(r["n_users"] for r in rows)
    post = sum(r["mean_post"] * r["n_users"] for r in rows) / n
    adj = sum(r["adjusted_mean"] * r["n_users"] for r in rows) / n
    assert abs(post - adj) < 1e-3


def test_shapley_efficiency_axiom(spark, sf_dir):
    rows = _q("shapley_coverage_attribution").spark_fn(
        spark, sf_dir
    ).collect()
    assert len(rows) == 5
    con = duck_con(sf_dir)
    # efficiency: Shapley values sum to the grand coalition's coverage
    # = total distinct shingles in the corpus
    (total,) = con.sql(
        """SELECT count(DISTINCT s) FROM (
             SELECT unnest(list_transform(
                 generate_series(1, greatest(0,
                     len(string_split_regex(trim(text), '\\s+')) - 2)),
                 i -> array_to_string(
                     string_split_regex(trim(text), '\\s+')[i:i+2], ' ')
             )) AS s FROM documents)"""
    ).fetchall()[0]
    assert abs(sum(r["shapley_value"] for r in rows) - total) < 0.01
    for r in rows:
        # a group's Shapley value never exceeds its own coverage
        assert 0 < r["shapley_value"] <= r["own_coverage"] + 1e-9


def test_propensity_match_balances_propensity(spark, sf_dir):
    (r,) = _q("propensity_caliper_match_att").spark_fn(
        spark, sf_dir
    ).collect()
    assert r["n_treated"] > 0 and r["n_control"] > 0
    assert 0 < r["n_matched"] <= r["n_treated"]
    # caliper matching balances the propensity distributions: matched
    # controls sit within one centile of their treated units, so the
    # means differ by at most ~0.01 plus rounding
    assert (
        abs(r["mean_prop_treated"] - r["mean_prop_matched_control"])
        <= 0.0201
    )
    assert 0.0 <= r["mean_prop_treated"] <= 1.0


def test_stream_cms_matches_batch_sketch_and_bounds(spark, sf_dir):
    rows = _q("stream_cms_user_counts").spark_fn(spark, sf_dir).collect()
    assert len(rows) == 10
    con = duck_con(sf_dir)
    # CM guarantee: estimate never undercounts; overestimate bounded
    # by eps*N with eps = e/w (loose check at 4x the bound)
    (n_total,) = con.sql("SELECT count(*) FROM events").fetchall()[0]
    for r in rows:
        assert r["est_count"] >= r["true_count"]
        assert r["overestimate"] == r["est_count"] - r["true_count"]
        assert r["overestimate"] <= 4 * 2.7183 * n_total / 256 + 1


def test_ndcg_bounded_and_consistent_with_overlap(spark, sf_dir):
    rows = _q("ndcg_truncation_eval").spark_fn(spark, sf_dir).collect()
    assert len(rows) == 16
    for r in rows:
        if r["ndcg_at_10"] is not None:
            assert 0.0 <= r["ndcg_at_10"] <= 1.0
            assert 0 <= r["dcg_u"] <= r["idcg_u"]


def test_isotonic_fit_is_monotone_and_conserves_mass(spark, sf_dir):
    rows = sorted(
        _q("isotonic_calibration_pava").spark_fn(spark, sf_dir).collect(),
        key=lambda r: r["score_centi"],
    )
    assert rows
    rates = [r["iso_rate"] for r in rows]
    # PAVA output is nondecreasing in the score
    assert all(b >= a - 1e-9 for a, b in zip(rates, rates[1:]))
    for r in rows:
        assert 0.0 <= r["iso_rate"] <= 1.0
    # isotonic regression preserves the weighted mean (projection
    # onto the monotone cone keeps the grand total)
    n = sum(r["n_docs"] for r in rows)
    pos = sum(r["n_pos"] for r in rows)
    fit = sum(r["iso_rate"] * r["n_docs"] for r in rows)
    assert abs(fit - pos) / n < 1e-4


def test_dp_noise_within_bounds_and_reproducible(spark, sf_dir):
    rows = _q("dp_noisy_counts_audit").spark_fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["abs_err"] >= 0.0
        assert abs((r["noisy_count"] - r["n_docs"]) - (
            r["abs_err"] if r["noisy_count"] >= r["n_docs"]
            else -r["abs_err"]
        )) < 2e-4
    # Laplace(1): ~95% of draws inside 3b; with 20 deterministic
    # draws allow up to 3 outside
    assert sum(1 for r in rows if not r["within_3b"]) <= 3


def test_mi_information_inequalities(spark, sf_dir):
    (r,) = _q("mi_lang_source_dependence").spark_fn(
        spark, sf_dir
    ).collect()
    # 0 <= I(X;Y) <= min(H(X), H(Y)); entropies bounded by log2(k)
    assert -1e-6 <= r["mi_bits"] <= min(
        r["h_lang_bits"], r["h_source_bits"]
    ) + 1e-6
    assert 0.0 <= r["h_lang_bits"] <= 2.33  # log2(5 langs)
    assert 0.0 <= r["h_source_bits"] <= 4.33  # log2(20 sources)
    assert -1e-6 <= r["nmi"] <= 1.0 + 1e-6

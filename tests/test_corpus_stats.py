"""Planted-fixture tests for the round-12 corpus-statistics pack.

Planted corpus (10 docs):
- doc 0 (src0) is the BENCHMARK: 30 words w0..w29.
- doc 1 (src1) lifts a VERBATIM 12-word span (w5..w16) into noise →
  10 consecutive matching 3-gram shingles.
- doc 2 (src1) contains the same benchmark words but SCATTERED (every
  match separated by noise) → runs of length 1 only.
- docs 3 and 4 (src1) are byte-identical ("dup dup ...") → one
  exact-dup cluster of size 2; docs 5-9 unique filler.

Every assertion runs the REAL registered query AND its REAL DuckDB
oracle over the same parquet and requires identical hashes (the
test_wedge_cap discipline), then pins the planted semantics.
"""

from __future__ import annotations

import pytest

from swat_mapreduce_spark.queries import load_all
from tools.selfcheck import assert_matches_oracle

REG = load_all()

_BENCH_WORDS = [f"w{i}" for i in range(30)]


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("corpusstats")
    bench = " ".join(_BENCH_WORDS)
    lifted = (
        "n0 n1 n2 "
        + " ".join(_BENCH_WORDS[5:17])  # verbatim 12-word span
        + " n3 n4 n5"
    )
    # benchmark words present but never 3 consecutive ones
    scattered = " ".join(
        f"{w} x{i}a x{i}b" for i, w in enumerate(_BENCH_WORDS[:10])
    )
    dup = "dup one two three four five six seven eight nine"
    rows = [
        (0, bench, "en", "src0", len(bench)),
        (1, lifted, "en", "src1", len(lifted)),
        (2, scattered, "en", "src1", len(scattered)),
        (3, dup, "en", "src1", len(dup)),
        (4, dup, "en", "src2", len(dup)),
    ] + [
        (i, f"unique doc {i} alpha beta gamma delta epsilon", "de",
         "src2", 40)
        for i in range(5, 10)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp}/documents.parquet"
    )
    return str(tmp)


def test_longest_run_separates_verbatim_from_scattered(spark, planted):
    rows = assert_matches_oracle(
        spark, REG["contamination_longest_run"], planted
    )
    by_doc = {r["doc_id"]: r for r in rows}
    # 12 lifted words -> 10 consecutive 3-gram shingles; the flanking
    # noise trigrams don't match
    assert by_doc[1]["longest_run"] == 10
    assert by_doc[1]["n_matched"] == 10
    # scattered doc: benchmark words never adjacent -> no matching
    # 3-gram shingle at all (w_i x_i_a x_i_b trigrams aren't in bench)
    assert 2 not in by_doc
    # the benchmark doc itself (src0) is excluded from the train side
    assert 0 not in by_doc


def test_dup_cluster_histogram_counts_the_pair(spark, planted):
    rows = assert_matches_oracle(
        spark, REG["dup_cluster_size_histogram"], planted
    )
    by_size = {r["cluster_size"]: r for r in rows}
    assert by_size[2]["n_clusters"] == 1
    assert by_size[2]["n_docs"] == 2
    assert by_size[1]["n_clusters"] == 8
    assert abs(by_size[2]["share_docs"] - 0.2) < 1e-9


def test_dedup_yield_marks_only_the_second_copy(spark, planted):
    rows = assert_matches_oracle(spark, REG["dedup_yield_by_decile"], planted)
    total_dups = sum(r["n_dups"] for r in rows)
    assert total_dups == 1  # doc 4 duplicates doc 3; doc 3 is first
    assert sum(r["n_docs"] for r in rows) == 10


def test_fertility_exact_integers(spark, planted):
    rows = assert_matches_oracle(
        spark, REG["tokenizer_fertility_by_lang"], planted
    )
    de = next(r for r in rows if r["lang"] == "de")
    # 5 docs x 8 words
    assert de["n_docs"] == 5 and de["n_words"] == 40


def test_burstiness_and_wilson_hash_match(spark, planted):
    assert_matches_oracle(spark, REG["token_burstiness_topk"], planted)
    assert_matches_oracle(spark, REG["wilson_ci_keep_rate"], planted)

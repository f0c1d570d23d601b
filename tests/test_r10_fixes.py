"""Round-10 regression pins.

1. Gotcha-10 edge fixture: a planted documents.parquet with 0-, 1- and
   2-char docs must produce IDENTICAL results from the guarded Spark
   bigram/trigram queries and their DuckDB oracles (VERDICT r9 #1 —
   before the guards, Spark's ``sequence(1, 0)`` descended and emitted
   spurious rows where DuckDB's ``generate_series(1, 0)`` is empty).
2. ljung_box degenerate-input guard: a constant daily series (variance
   denominator d = 0) must yield NULL acf on both engines, not NaN
   (ADVICE r9).
"""

from __future__ import annotations

import pytest

from tools.selfcheck import assert_matches_oracle, duck_con

# the queries VERDICT r9 flagged as carrying the unguarded bound
EDGE_QUERIES = [
    "charlm_perplexity_proxy",
    "doremi_domain_reweight",
    "loso_source_value",
    "rho_loss_selection",
    "sql_table_function_lateral",
]


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    """documents.parquet with degenerate rows the real testdata lacks
    (its min text length is 44): empty, 1-char and 2-char docs, plus a
    few normal ones so the queries have non-trivial output. doc_ids
    include multiples of 31 so the TVF's sample predicate selects the
    degenerate rows too."""
    d = tmp_path_factory.mktemp("edge_sf")
    rows = [
        (0, "", "en", "web", 0),                    # empty (and 0 % 31 == 0)
        (31, "x", "en", "web", 1),                  # 1-char, sampled by TVF
        (62, "ab", "en", "books", 2),               # 2-char, sampled
        (93, "the cat sat on the mat", "en", "web", 22),
        (5, "a", "fr", "code", 1),
        (7, "to be or not to be that is the question", "en", "books", 40),
        (11, "aa bb aa bb aa", "en", "web", 14),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).repartition(1).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def test_gotcha10_edge_docs_match_oracle(spark, edge_dir):
    from swat_mapreduce_spark.queries import load_all

    reg = load_all()
    con = duck_con(edge_dir)
    for name in EDGE_QUERIES:
        # a mismatch here means the sequence guard regressed
        assert_matches_oracle(spark, reg[name], edge_dir, con)


def test_ljung_box_constant_series_nulls(spark):
    """d = 0 (constant series) must give NULL r_u on the Spark side,
    mirroring the oracle's CASE WHEN d <> 0 guard."""
    import pyspark.sql.functions as F

    # reproduce the query's ratio shape directly on a degenerate frame
    df = spark.createDataFrame([(10, 3, 0.0, 0)], "n long, lag long, d double, num long")
    out = df.select(
        F.when(
            (F.col("n") > F.col("lag")) & (F.col("d") != F.lit(0.0)),
            F.round(F.col("num").cast("double") / F.lit(1e8) / F.col("d") * F.lit(1e6)),
        )
        .cast("long")
        .alias("r_u")
    ).collect()
    assert out[0]["r_u"] is None

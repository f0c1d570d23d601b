"""The shared oracle check in tools/selfcheck.py: the type-aware hash
must see the HUGEINT a DuckDB sum() returns, the views must cover
both testdata layouts (one file, or a Spark directory of part files),
and the tie audit must flag bit-different floats near a 4dp tie."""

from __future__ import annotations

import math
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from swat_mapreduce_spark.queries import QueryEntry
from swat_mapreduce_spark.sources.readers import read_table
from tools.selfcheck import (
    DANGER_SCALED,
    NEAR_SCALED,
    TieOffense,
    assert_matches_oracle,
    check_oracle,
    count_fragile_casts,
    duck_con,
    duck_result,
)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("selfcheck")
    # region: a Spark write, i.e. a directory of several part files
    spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "r_regionkey long, r_name string"
    ).repartition(2).write.parquet(str(d / "region.parquet"))
    # nation: one plain parquet file, like the testdata tables
    pq.write_table(
        pa.table({"n_nationkey": [7, 8], "n_name": ["X", "Y"]}),
        str(d / "nation.parquet"),
    )
    return str(d)


def _key_sum(oracle):
    return QueryEntry(
        "key_sum",
        lambda spark, sf_dir: read_table(spark, sf_dir, "region").agg(
            F.sum("r_regionkey").alias("s")
        ),
        oracle,
    )


def test_hugeint_oracle_sum_does_not_match_bigint(spark, tables):
    """DuckDB's sum() over BIGINT is HUGEINT; Spark's is bigint. The
    values are equal but the row hash is type-aware, so the check
    must fail until the oracle casts back to BIGINT."""
    hugeint = "SELECT sum(r_regionkey) AS s FROM region"
    with pytest.raises(AssertionError, match="key_sum"):
        assert_matches_oracle(spark, _key_sum(hugeint), tables)
    bigint = "SELECT sum(r_regionkey)::BIGINT AS s FROM region"
    rows = assert_matches_oracle(spark, _key_sum(bigint), tables)
    assert [r["s"] for r in rows] == [6]


def test_duck_con_reads_part_file_dirs_and_skips_missing_tables(tables):
    con = duck_con(tables)
    _, views = duck_result(
        con, "SELECT view_name FROM duckdb_views() WHERE NOT internal"
    )
    assert sorted(v for (v,) in views) == ["nation", "region"]
    _, rows = duck_result(con, "SELECT r_regionkey FROM region")
    assert sorted(k for (k,) in rows) == [1, 2, 3]
    _, rows = duck_result(con, "SELECT n_name FROM nation")
    assert sorted(n for (n,) in rows) == ["X", "Y"]


# --- tie audit: hand-built rows, no Spark ----------------------------------
_TIE = 0.12345  # exact binary value sits ~4e-14 above the 4dp boundary
_TIE_Q = QueryEntry("tie_q", None, "SELECT 1")


def test_bitdiff_near_a_tie_is_an_offender_and_fails():
    nudged = math.nextafter(_TIE, 1.0)
    assert round(nudged, 4) == round(_TIE, 4)  # the value hash agrees
    spark_res, duck_res = (["x"], [(_TIE,)]), (["x"], [(nudged,)])
    with pytest.raises(TieOffense) as e:
        check_oracle(_TIE_Q, spark_res, duck_res)
    rec = e.value.record
    assert rec["bitdiff"] == 1 and len(rec["offenders"]) == 1
    assert rec["offenders"][0]["row"] == 0
    assert Decimal(rec["offenders"][0]["tie_scaled"]) < DANGER_SCALED


def test_bit_identical_near_tie_is_not_an_offender():
    res = (["x", "k"], [(_TIE, 1), (0.5, 2)])
    rec = check_oracle(_TIE_Q, res, res)
    assert rec["float_cells"] == 2
    assert rec["bitdiff"] == 0 and rec["offenders"] == []
    assert rec["near_ties"] == 1
    assert Decimal(rec["min_tie_scaled"]) < NEAR_SCALED


def test_signed_zero_is_not_a_bitdiff():
    """Spark 0.0 against DuckDB -0.0 hashes equal (norm_value folds the
    sign), so the audit counts no bitdiff and the query is not fragile."""
    spark_res, duck_res = (["x"], [(0.0,), (-0.0,)]), (["x"], [(-0.0,), (0.0,)])
    rec = check_oracle(_TIE_Q, spark_res, duck_res)
    assert rec["float_cells"] == 2
    assert rec["bitdiff"] == 0 and rec["fragile_samples"] == []


def test_count_fragile_casts():
    assert count_fragile_casts("SELECT CAST(a*b AS DECIMAL(18,4)) FROM t") == 1
    assert count_fragile_casts("SELECT CAST(round(x) AS DECIMAL(18,0))") == 0
    assert count_fragile_casts("SELECT (x/y)::DECIMAL(18,4) FROM t") == 1


def test_row_count_mismatch_fails_before_tie_analysis():
    """Unequal row counts must fail the check itself; pairing rows for
    the tie analysis would otherwise truncate to the shorter side."""
    nudged = math.nextafter(_TIE, 1.0)
    spark_res = (["x"], [(_TIE,), (_TIE,)])
    with pytest.raises(AssertionError, match=r"spark\(2,") as e:
        check_oracle(_TIE_Q, spark_res, (["x"], [(nudged,)]))
    assert not isinstance(e.value, TieOffense)
    assert not hasattr(e.value, "record")

"""The shared oracle check in tools/selfcheck.py: the type-aware hash
must see the HUGEINT a DuckDB sum() returns, and the views must cover
both testdata layouts (one file, or a Spark directory of part files)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from swat_mapreduce_spark.queries import QueryEntry
from swat_mapreduce_spark.sources.readers import read_table
from tools.selfcheck import assert_matches_oracle, duck_con, duck_result


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

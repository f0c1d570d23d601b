"""Round-7 regression pins: the r6 verdict/advice fixes.

* pca_power_iteration — driver red in r6 (DuckDB-version-dependent
  double→DECIMAL cast / Python round() emulation). The rewrite makes
  every quantization the shared multiply→round-to-integer→divide
  procedure; the correct invariant is BIT-IDENTITY of every float
  cell vs the oracle (ties are then irrelevant at any hash
  precision), asserted here, plus the numpy direction cross-check in
  test_r6_ops5.py.
* approx_topk_sketch_tokens — capacity raised 50 → 10000 (ADVICE r6);
  exactness vs the exact-count oracle needs distinct tokens to stay
  under capacity — guarded here at all three SFs.
* sliding_distinct_users_bitmap — the fan-out used to emit gap days
  the oracle's days CTE never emits (ADVICE r6); pinned with a
  synthetic gap-day events table.
* probe max_by key — 1e7 → 1e10 multiplier keeps the key ordered by m
  for ids up to 1e10 and exact under 2^53 (ADVICE r6).
"""

from __future__ import annotations

import datetime
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from tools.selfcheck import duck_con, duck_result


def _q(name):
    from swat_mapreduce_spark.queries import load_all

    return load_all()[name]


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def test_pca_bit_identical_to_oracle(spark, sf_dir):
    q = _q("pca_power_iteration")
    srows = {
        r["dim"]: (r["loading"], r["explained_var"])
        for r in q.spark_fn(spark, sf_dir).collect()
    }
    con = duck_con(sf_dir)
    drows = {
        int(d): (lo, ev) for d, lo, ev in duck_result(con, q.oracle)[1]
    }
    assert set(srows) == set(drows) and len(srows) == 64
    for dim in srows:
        s, d = srows[dim], drows[dim]
        # bitwise, not approx: identical doubles round identically at
        # EVERY hash precision in every driver environment
        assert _bits(s[0]) == _bits(d[0]), (dim, s, d)
        assert _bits(s[1]) == _bits(d[1]), (dim, s, d)


def test_approx_topk_capacity_headroom():
    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        (n,) = con.sql(
            "SELECT count(DISTINCT tok) FROM (SELECT unnest(list_filter("
            "string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) "
            f"AS tok FROM read_parquet('/root/testdata/{sf}/documents.parquet'))"
        ).fetchall()[0]
        # sketch capacity 10000 (llm_text5.approx_topk_sketch_tokens);
        # exact-vs-oracle holds while the vocabulary fits with headroom
        assert n < 5000, (sf, n)


def test_sliding_bitmap_skips_gap_days(spark, tmp_path):
    # days 1,2 then a gap on day 8 window tail: events on d1..d7 and
    # d9; d8 has no events but users within its trailing 7-day window
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for off in list(range(7)) + [8]:
        for u in range(off + 1):
            rows.append(
                (off * 100 + u, base + datetime.timedelta(days=off), u)
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    ).withColumn("event_type", F.lit("x")).withColumn(
        "value", F.lit(1.0)
    ).withColumn("props", F.lit("{}"))
    df.repartition(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r["day"]: r["n_users_7d"]
        for r in _q("sliding_distinct_users_bitmap")
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    d7 = datetime.date(2024, 1, 7)
    d8 = datetime.date(2024, 1, 8)
    d9 = datetime.date(2024, 1, 9)
    assert d8 not in out, "gap day must not be emitted (oracle parity)"
    assert out[d7] == 7  # users 0..6 across d1..d7
    assert out[d9] == 9  # users 0..8 across d3..d9 (d9 has 9 users)
    assert set(out) == {d7, d9}


@pytest.mark.parametrize("mult", [10_000_000_000])
def test_probe_max_by_key_monotone_in_m(mult):
    # key = m*mult - corpus_id must order by m first for any id < mult
    # and stay exact under 2^53 for m <= 16
    worst_hi = 16 * mult - 0
    assert worst_hi < 2**53
    lo_id, hi_id = 1, mult - 1
    for m in range(16):
        assert (m + 1) * mult - hi_id > m * mult - lo_id

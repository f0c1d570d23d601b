"""Self-check harness mimicking the correctness driver: run every
registered Spark query and its DuckDB oracle on the same parquet,
compare row-count + column names + order-insensitive value hash
(floats rounded to 4dp, mirroring FIXTURES.md §C).

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_value(v):
    """Normalize one cell for hashing.

    Deliberately TYPE-PRESERVING: the external driver hashes values
    type-aware (a DuckDB HUGEINT/DECIMAL result does NOT match a Spark
    bigint even when numerically equal — see VERDICT.md round 1), so a
    Decimal here keeps a distinct tag instead of being folded into
    float/int. Local green must predict driver green; when in doubt be
    STRICTER than the driver, never looser.
    """
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, Decimal):
        # canonical scale-free form, but tagged so it can never collide
        # with an int64/double from the other engine
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return "dec:" + s
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 4) + 0.0  # fold IEEE -0.0 into +0.0
        # NOTE: no int-folding — a whole double stays "1.0" so that an
        # int64-vs-double divergence between Spark and the oracle fails
        # here instead of only under the driver.
        return repr(r)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        # distinct from datetime: Spark DateType vs TIMESTAMP must not
        # silently compare equal
        return "date:" + v.strftime("%Y-%m-%d")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def row_lines(cols: list[str], rows: list[tuple]) -> list[str]:
    """One normalized line per row, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["\x01".join(norm_value(r[i]) for i in order) for r in rows]


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    lines = sorted(row_lines(cols, rows))
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(rows)


def duck_con(sf_dir: str):
    """A DuckDB connection with one view per testdata table under
    ``sf_dir`` — the only tables an oracle may read.
    ``<table>.parquet`` is either one file or a directory of part
    files (a Spark write); tables with neither are skipped."""
    import duckdb

    from swat_mapreduce_spark.sources.readers import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.isfile(path):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def spark_result(spark, q, sf_dir: str) -> tuple[list[str], list]:
    """Build and collect ``q``'s Spark side: ``(columns, Rows)``."""
    try:
        sdf = q.spark_fn(spark, sf_dir)
        return sdf.columns, sdf.collect()
    finally:
        # per-query persist() blocks (LSH/minhash/charlm) would
        # otherwise accumulate for the session lifetime
        spark.catalog.clearCache()


def duck_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    """Run an oracle: ``(columns, rows)``. Fetched via Arrow, NOT
    fetchall(): duckdb's fetchall folds HUGEINT into plain int, masking
    the decimal128-vs-int64 drift a type-aware hash catches."""
    tbl = con.sql(sql).arrow()
    return tbl.column_names, list(zip(*(c.to_pylist() for c in tbl.columns)))


def assert_matches_oracle(spark, q, sf_dir: str, con=None) -> list:
    """Oracle check: sorted column names, row count and value
    hash of ``q`` equal its oracle's over the same parquet. Returns the
    Spark Rows so callers can pin extra semantics on them."""
    scols, srows = spark_result(spark, q, sf_dir)
    dcols, drows = duck_result(con or duck_con(sf_dir), q.oracle)
    # raise, not assert: the check must survive python -O
    if sorted(scols) != sorted(dcols):
        raise AssertionError(
            f"{q.name}: cols spark={sorted(scols)} duck={sorted(dcols)}"
        )
    (sh, sn), (dh, dn) = table_hash(scols, srows), table_hash(dcols, drows)
    if (sn, sh) != (dn, dh):
        sset, dset = set(row_lines(scols, srows)), set(row_lines(dcols, drows))
        diff = [f"spark-only: {x[:200]}" for x in list(sset - dset)[:3]]
        diff += [f"duck-only : {x[:200]}" for x in list(dset - sset)[:3]]
        raise AssertionError(
            f"{q.name}: spark({sn},{sh}) duck({dn},{dh})\n      "
            + "\n      ".join(diff)
        )
    return srows


def run(sf_dir: str, only: list[str] | None = None) -> int:
    from swat_mapreduce_spark.queries import load_all
    from swat_mapreduce_spark.session import get_spark

    spark = get_spark("selfcheck", shuffle_partitions=8)
    con = duck_con(sf_dir)
    reg = load_all()
    names = only or sorted(reg)
    failures = 0
    for name in names:
        q = reg[name]
        t0 = time.time()
        try:
            if q.oracle is None:
                n = len(spark_result(spark, q, sf_dir)[1])
                tag = "rows  "
            else:
                n = len(assert_matches_oracle(spark, q, sf_dir, con))
                tag = "OK    "
        except Exception as e:  # noqa: BLE001
            failures += 1
            # a mismatch keeps its diff sample; an error its first line
            msg = str(e)
            if not isinstance(e, AssertionError):
                msg = msg.splitlines()[0][:160]
            print(f"FAIL  {name:28s} {type(e).__name__}: {msg}")
            continue
        print(f"{tag}{name:28s} {n:6d} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - failures}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = args[1:] if args and os.path.isdir(args[0]) else args
    sys.exit(run(sf_dir, only or None))

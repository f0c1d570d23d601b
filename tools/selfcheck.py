"""Self-check harness mimicking the correctness driver: run every
registered Spark query and its DuckDB oracle on the same parquet,
compare row-count + column names + order-insensitive value hash
(floats rounded to 4dp, mirroring FIXTURES.md §C), then audit the
matched rows for tie proximity.

Why the tie audit: the driver hashes float cells rounded to 4dp. A
hash flip therefore needs the two engines to emit DIFFERENT doubles
that happen to agree at 4dp locally, and then drift across a tie in
the driver's environment (its DuckDB version may resolve double→DECIMAL
casts / round() ties differently than local 1.0.0; that class produced
the r1 ``json_extract_agg`` and r6 ``pca_power_iteration`` reds, and the
r6 one was invisible to the hash alone). Per oracle query the audit
records:

* ``bitdiff`` — float cells where Spark and DuckDB agree at 4dp but are
  NOT bit-identical: any engine drift larger than their tie distance
  flips the hash.
* ``min_tie_scaled`` — the minimum distance (in 1e-4-scaled units) of
  any float cell to a ``.5`` rounding boundary at 4dp, computed on the
  exact binary value via ``Decimal``. Bit-identical near-tie cells are
  safe (the same double rounds the same way on both sides) but are
  counted in ``near_ties`` so oracle constructs can be eyeballed.
* ``frag_casts`` — static count of double→DECIMAL casts over computed
  expressions in the oracle SQL. DuckDB changed their tie behavior
  across versions; prefer the multiply-round-divide procedure
  (``functions/rounding.r`` / ``round(x*10^k)/10^k``).

A query FAILS on a mismatch, an error, or an offender: a bitdiff cell
within 1e-7 of a 4dp boundary (tie distance < 1e-3 scaled units).
A run over the whole registry writes the records to TIEAUDIT.json at
the repo root; a run over named queries writes nothing.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import struct
import sys
import time
from datetime import date, datetime
from decimal import ROUND_FLOOR, Decimal

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

_P = Decimal(10) ** 4  # the driver's 4dp hash precision
# a bitdiff cell closer than this (scaled units) to a .5 boundary fails
DANGER_SCALED = Decimal("1e-3")
# any float cell closer than this is counted as a near-tie for review
NEAR_SCALED = Decimal("1e-5")


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


def duck_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    """Run an oracle: ``(columns, rows)``. Fetched via Arrow, NOT
    fetchall(): duckdb's fetchall folds HUGEINT into plain int, masking
    the decimal128-vs-int64 drift a type-aware hash catches."""
    tbl = con.sql(sql).arrow()
    return tbl.column_names, list(zip(*(c.to_pylist() for c in tbl.columns)))


def check_rows(name: str, spark_res, duck_res) -> None:
    """Raise AssertionError unless the two ``(columns, rows)`` results
    agree on sorted column names, row count and value hash."""
    (scols, srows), (dcols, drows) = spark_res, duck_res
    # raise, not assert: the check must survive python -O
    if sorted(scols) != sorted(dcols):
        raise AssertionError(
            f"{name}: cols spark={sorted(scols)} duck={sorted(dcols)}"
        )
    (sh, sn), (dh, dn) = table_hash(scols, srows), table_hash(dcols, drows)
    if (sn, sh) != (dn, dh):
        sset, dset = set(row_lines(scols, srows)), set(row_lines(dcols, drows))
        diff = [f"spark-only: {x[:200]}" for x in list(sset - dset)[:3]]
        diff += [f"duck-only : {x[:200]}" for x in list(dset - sset)[:3]]
        raise AssertionError(
            f"{name}: spark({sn},{sh}) duck({dn},{dh})\n      "
            + "\n      ".join(diff)
        )


def assert_matches_oracle(spark, q, sf_dir: str, con=None) -> list:
    """Oracle check: sorted column names, row count and value
    hash of ``q`` equal its oracle's over the same parquet. Returns the
    Spark Rows so callers can pin extra semantics on them."""
    from swat_mapreduce_spark.queries import run_query

    spark_res = run_query(spark, q, sf_dir, "collect")
    check_rows(q.name, spark_res, duck_result(con or duck_con(sf_dir), q.oracle))
    return spark_res[1]


# --- tie audit ---------------------------------------------------------------


def tie_distance_scaled(v: float) -> Decimal:
    """Distance of the EXACT binary value of ``v`` (scaled by 10^4)
    from the nearest ``.5`` rounding boundary, in scaled units.

    Python's hash-time ``round(v, 4)`` rounds the exact decimal
    expansion of the double, so the boundary is the real number
    ``k + 0.5`` after scaling by 1e4 — measured here with exact
    Decimal arithmetic (no float noise in the audit itself).
    """
    s = Decimal(v) * _P
    frac = s - s.to_integral_value(rounding=ROUND_FLOOR)
    return abs(frac - Decimal("0.5"))


def _float_bits(v: float) -> str:
    return struct.pack(">d", v).hex()


def count_fragile_casts(sql: str) -> int:
    """Count double→DECIMAL casts over COMPUTED expressions (heuristic:
    the text inside the cast contains an operator or function call, so
    plain-column casts of already-decimal data don't count)."""
    n = 0
    for m in re.finditer(r"CAST\s*\(", sql, re.IGNORECASE):
        depth, j = 1, m.end()
        while j < len(sql) and depth:
            depth += {"(": 1, ")": -1}.get(sql[j], 0)
            j += 1
        inner = sql[m.end() : j - 1]
        if re.match(r"\s*round\s*\(", inner, re.IGNORECASE):
            continue  # round-to-integer then DECIMAL cast is exact
        if re.search(r"AS\s+DECIMAL", inner, re.IGNORECASE) and re.search(
            r"[*/+]|\(", inner.rsplit(" AS ", 1)[0]
        ):
            n += 1
    return n + len(re.findall(r"\)\s*::\s*DECIMAL", sql, re.IGNORECASE))


def sorted_rows(cols, rows):
    """``(column order by name, rows sorted by their hash line)``: the
    pairing under which two matching results line up cell for cell."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keyed = sorted(zip(row_lines(cols, rows), rows), key=lambda kv: kv[0])
    return order, [r for _, r in keyed]


def tie_record(name: str, oracle: str, spark_res, duck_res) -> dict:
    """The tie-audit record of two results that passed ``check_rows``."""
    rec = {
        "name": name,
        "float_cells": 0,
        "bitdiff": 0,
        "near_ties": 0,
        "min_tie_scaled": None,
        "frag_casts": count_fragile_casts(oracle),
        "offenders": [],
        "fragile_samples": [],
    }
    (scols, srows), (dcols, drows) = spark_res, duck_res
    sorder, ssorted = sorted_rows(scols, srows)
    dorder, dsorted = sorted_rows(dcols, drows)
    min_tie = None
    for ri, (sr, dr) in enumerate(zip(ssorted, dsorted)):
        for si, di in zip(sorder, dorder):
            sv, dv = sr[si], dr[di]
            if not isinstance(sv, float):
                continue
            rec["float_cells"] += 1
            d = tie_distance_scaled(sv)
            if min_tie is None or d < min_tie:
                min_tie = d
            if d < NEAR_SCALED:
                rec["near_ties"] += 1
            if not isinstance(dv, float):
                continue
            # + 0.0 folds -0.0 into 0.0, as norm_value does: a signed
            # zero can never flip the value hash
            if _float_bits(sv + 0.0) == _float_bits(dv + 0.0):
                continue
            if math.isnan(sv) and math.isnan(dv):
                continue
            rec["bitdiff"] += 1
            cell = {
                "col": scols[si],
                "spark": repr(sv),
                "duck": repr(dv),
                "tie_scaled": str(d),
            }
            if len(rec["fragile_samples"]) < 3:
                rec["fragile_samples"].append(cell)
            if d < DANGER_SCALED:
                rec["offenders"].append({"row": ri, **cell})
    rec["min_tie_scaled"] = str(min_tie) if min_tie is not None else None
    return rec


class TieOffense(AssertionError):
    """Matched results with a bitdiff cell near a 4dp tie; ``record``
    is the query's full tie record."""

    def __init__(self, record: dict):
        super().__init__(
            f"{record['name']}: {len(record['offenders'])} bitdiff cells "
            f"near a 4dp tie, e.g. {record['offenders'][0]}"
        )
        self.record = record


def check_oracle(q, spark_res, duck_res) -> dict:
    """One oracle query's check on both engines' ``(columns, rows)``:
    ``check_rows``, then the tie record of the same rows. Raises
    AssertionError on a mismatch, before any tie analysis, and
    ``TieOffense`` on an offender cell."""
    check_rows(q.name, spark_res, duck_res)
    rec = tie_record(q.name, q.oracle, spark_res, duck_res)
    if rec["offenders"]:
        raise TieOffense(rec)
    return rec


def run(sf_dir: str, only: list[str] | None = None) -> int:
    from swat_mapreduce_spark.queries import load_all, run_query
    from swat_mapreduce_spark.session import get_spark

    spark = get_spark("selfcheck", shuffle_partitions=8)
    con = duck_con(sf_dir)
    reg = load_all()
    names = only or sorted(reg)
    failures, records = 0, []
    for name in names:
        q = reg[name]
        t0 = time.time()
        tie = ""
        try:
            spark_res = run_query(spark, q, sf_dir, "collect")
            tag = "rows  "
            if q.oracle is not None:
                rec = check_oracle(q, spark_res, duck_result(con, q.oracle))
                records.append(rec)
                tag = "OK    "
                if rec["bitdiff"]:
                    tie = f" bitdiff={rec['bitdiff']}"
        except Exception as e:  # noqa: BLE001
            failures += 1
            msg = str(e)
            if q.oracle is not None:
                rec = {"name": name, "error": msg[:300]}
                records.append(getattr(e, "record", rec))
            # a mismatch keeps its diff sample; an error its first line
            if not isinstance(e, AssertionError):
                msg = msg.splitlines()[0][:160]
            print(f"FAIL  {name:28s} {type(e).__name__}: {msg}")
            continue
        n = len(spark_res[1])
        print(f"{tag}{name:28s} {n:6d} rows [{time.time()-t0:.1f}s]{tie}")
    print(f"\n{len(names) - failures}/{len(names)} queries match")
    offenders = sum(len(r.get("offenders", ())) for r in records)
    fragile = sorted(r["name"] for r in records if r.get("bitdiff"))
    print(
        f"{len(records)} queries tie-audited, {offenders} offender cells, "
        f"{len(fragile)} with bit-fragile floats: {', '.join(fragile) or '-'}"
    )
    if only is None:
        path = os.path.join(_ROOT, "TIEAUDIT.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "queries": len(records),
                    "offender_cells": offenders,
                    "fragile_queries": fragile,
                    "records": records,
                },
                f,
                indent=1,
            )
        print(f"wrote {path}")
    return 1 if failures else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = args[1:] if args and os.path.isdir(args[0]) else args
    sys.exit(run(sf_dir, only or None))

"""Mechanical tie-proximity audit (VERDICT r6 task #2).

Why: the driver's correctness gate hashes float cells rounded to 4dp.
A hash flip therefore requires the two engines to emit DIFFERENT
doubles that happen to agree at 4dp locally — and then drift across
a tie in the driver's environment (its DuckDB version may resolve
double→DECIMAL casts / round() ties differently than local 1.0.0;
that exact class produced the r1 ``json_extract_agg`` and r6
``pca_power_iteration`` reds, and the r6 one was invisible to local
selfcheck). This audit makes the class mechanically visible:

For every registered oracle-backed query at a given sf_dir it runs
BOTH engines and reports, per query:

* ``bitdiff``  — float cells where Spark and DuckDB agree at 4dp but
  are NOT bit-identical. These are the load-bearing fragile cells: any
  engine-version drift larger than their tie distance flips the hash.
* ``min_tie`` — the minimum distance (in 1e-4-scaled units) of any
  float cell to a ``.5`` rounding boundary at the driver's 4dp hash
  precision, computed on the exact binary value via ``Decimal``.
  Bit-identical near-tie cells are safe at hash time (the same double
  rounds the same way on both sides) but are listed so oracle
  constructs can be eyeballed.
* ``frag_casts`` — static count of double→DECIMAL cast constructs in
  the oracle SQL (``CAST(<expr> AS DECIMAL`` / ``::DECIMAL`` over a
  computed expression). DuckDB changed double→decimal cast tie
  behavior across versions; an oracle whose full-mantissa doubles
  flow through such casts can diverge in the driver even when every
  local cell is bit-identical. Prefer the multiply-round-divide
  procedure (``functions/rounding.r`` / ``round(x*10^k)/10^k``),
  which all engines implement identically on the exact binary double.

Offender (exit 1): a bitdiff cell with tie distance < 1e-3 scaled
units (i.e. the emitted value sits within 1e-7 of a 4dp boundary
while the engines already disagree below 4dp). Everything else is
reported for review, not failed.

Usage: python tools/tieaudit.py [sf_dir] [query ...]
Writes TIEAUDIT.json next to the repo root.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from decimal import ROUND_FLOOR, Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.selfcheck import (  # noqa: E402
    duck_con,
    duck_result,
    row_lines,
    spark_result,
)

HASH_DIGITS = 4
_P = Decimal(10) ** HASH_DIGITS

# bitdiff cell closer than this (scaled units) to a .5 boundary fails
DANGER_SCALED = Decimal("1e-3")
# any cell closer than this is listed as a near-tie for review
NEAR_SCALED = Decimal("1e-5")


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
    import struct

    return struct.pack(">d", v).hex()


def count_fragile_casts(sql: str) -> int:
    """Count double→DECIMAL casts over COMPUTED expressions (heuristic:
    the text inside the cast contains an operator or function call, so
    plain-column casts of already-decimal data don't count)."""
    import re

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
    n += len(
        [
            m
            for m in re.finditer(r"\)\s*::\s*DECIMAL", sql, re.IGNORECASE)
        ]
    )
    return n


def sorted_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keyed = sorted(zip(row_lines(cols, rows), rows), key=lambda kv: kv[0])
    return order, [r for _, r in keyed]


def audit_query(name, q, spark, con, sf_dir):
    rec = {
        "name": name,
        "float_cells": 0,
        "bitdiff": 0,
        "near_ties": 0,
        "min_tie_scaled": None,
        "frag_casts": count_fragile_casts(q.oracle or ""),
        "offenders": [],
        "fragile_samples": [],
    }
    scols, srows = spark_result(spark, q, sf_dir)
    dcols, drows = duck_result(con, q.oracle)
    sorder, ssorted = sorted_rows(scols, srows)
    dorder, dsorted = sorted_rows(dcols, drows)
    min_tie = None
    for ri, (sr, dr) in enumerate(zip(ssorted, dsorted)):
        for k, (si, di) in enumerate(zip(sorder, dorder)):
            sv, dv = sr[si], dr[di]
            if not isinstance(sv, float):
                continue
            rec["float_cells"] += 1
            d = tie_distance_scaled(sv)
            if min_tie is None or d < min_tie:
                min_tie = d
            if d < NEAR_SCALED:
                rec["near_ties"] += 1
            identical = (
                isinstance(dv, float)
                and _float_bits(sv) == _float_bits(dv)
            ) or (
                isinstance(dv, float)
                and math.isnan(sv)
                and math.isnan(dv)
            )
            if not identical and isinstance(dv, float):
                rec["bitdiff"] += 1
                if len(rec["fragile_samples"]) < 3:
                    rec["fragile_samples"].append(
                        {
                            "col": scols[si],
                            "spark": repr(sv),
                            "duck": repr(dv),
                            "tie_scaled": str(d),
                        }
                    )
                if d < DANGER_SCALED:
                    rec["offenders"].append(
                        {
                            "col": scols[si],
                            "row": ri,
                            "spark": repr(sv),
                            "duck": repr(dv),
                            "tie_scaled": str(d),
                        }
                    )
    rec["min_tie_scaled"] = str(min_tie) if min_tie is not None else None
    return rec


def run(sf_dir: str, only=None) -> int:
    from swat_mapreduce_spark.queries import load_all
    from swat_mapreduce_spark.session import get_spark

    spark = get_spark("tieaudit", shuffle_partitions=8)
    con = duck_con(sf_dir)
    reg = load_all()
    names = only or sorted(n for n in reg if reg[n].oracle is not None)
    out, n_offend = [], 0
    for name in names:
        q = reg[name]
        if q.oracle is None:
            continue
        t0 = time.time()
        try:
            rec = audit_query(name, q, spark, con, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name:32s} {str(e).splitlines()[0][:140]}")
            out.append({"name": name, "error": str(e)[:300]})
            continue
        out.append(rec)
        n_offend += len(rec["offenders"])
        flag = (
            "DANGER"
            if rec["offenders"]
            else ("frag" if rec["bitdiff"] else "ok")
        )
        print(
            f"{flag:6s}{name:32s} floats={rec['float_cells']:6d} "
            f"bitdiff={rec['bitdiff']:5d} near={rec['near_ties']:3d} "
            f"casts={rec['frag_casts']:2d} min_tie={rec['min_tie_scaled']} "
            f"[{time.time()-t0:.1f}s]"
        )
    summary = {
        "sf_dir": sf_dir,
        "queries": len(out),
        "offender_cells": n_offend,
        "fragile_queries": sorted(
            [r["name"] for r in out if r.get("bitdiff")]
        ),
        "records": out,
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "TIEAUDIT.json",
    )
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)
    print(
        f"\n{len(out)} queries audited, {n_offend} offender cells, "
        f"{len(summary['fragile_queries'])} queries with bit-fragile "
        f"floats -> {path}"
    )
    return 1 if n_offend else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = (
        args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    )
    only = args[1:] if args and os.path.isdir(args[0]) else args
    sys.exit(run(sf_dir, only or None))

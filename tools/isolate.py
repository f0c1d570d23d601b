"""Isolated per-query steady-state measurement for pin adjudication.

Usage:
    python tools/isolate.py [--sf DIR] [--reps N] query1 query2 ...

Runs the named registry queries in ONE quiet warmed session (the
BENCH_PINS.json methodology: isolated reps, sf0.1, local[32]), timed
by bench.py's noop-write loop, and prints every rep plus the warmed
best, as JSON on the last line. Streaming queries are still repeated,
however slow — their rep spread IS the state-store-init evidence a pin
needs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from bench import time_query, warm_up
    from swat_mapreduce_spark.queries import load_all
    from swat_mapreduce_spark.session import get_spark

    spark = get_spark("isolate")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()

    # bench.py's warm-up, so rep 1 is measured as warm as bench's
    warm_up(spark, reg, args.sf)

    out: dict[str, dict] = {}
    for name in args.queries:
        reps = time_query(spark, reg[name], args.sf, args.reps, math.inf)
        out[name] = {"reps": reps, "best": min(reps)}
        print(f"# {name}: {reps} -> best {min(reps):.3f}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Gate one bench capture against another on each query's work.

A capture (the ``BENCH_full.json`` that bench.py writes) records, per
headline query, the work its noop run did: Spark jobs, stages and
tasks, input / shuffle-write / spill bytes, and executor CPU and run
seconds.
Counts and bytes follow from the plan and the data, so two captures of
the same tree agree on them (bytes to a fraction of a percent); wall
time does not, and is only reported (the common wall ratio). A query
regresses when, against the base capture:

- its ``jobs``, ``stages`` or ``tasks`` grow at all;
- its ``input_bytes``, ``shuffle_write_bytes`` or ``spill_bytes`` grow
  by more than ``BYTES_TOL``;
- its ``cpu_s`` or ``run_s`` grows past ``TIME_RATIO`` x the base by
  at least ``TIME_MOVE_S`` (a per-row expression blow-up leaves the
  plan counts as they were). The floor is on the move, not on the
  base, so a 0.5 s query that turns 3 s is caught while a 0.01 s one
  that turns 0.03 s is noise. ``cpu_s`` is the JVM task threads' CPU;
  ``run_s``, the tasks' run time, also holds the time a task waits on
  its Python worker, so a slower Python UDF shows there.

Work done on the driver alone (a Python loop over collected rows,
plan building) is in none of these metrics: the gate does not see it,
and only the reported wall time does.

The mirrored changes are listed as improvements. Queries present in
only one capture are listed, not judged. Captures taken with different
``cpus`` (task counts follow the cores) or ``sf``, or whose ``work``
lacks a metric, cannot be compared and are refused.

    python tools/benchdiff.py OLD.json NEW.json

Exit 0 when no query regressed, 1 when one did, 2 when refused.
"""

from __future__ import annotations

import json
import sys

COUNTS = ("jobs", "stages", "tasks")
BYTES = ("input_bytes", "shuffle_write_bytes", "spill_bytes")
BYTES_TOL = 0.01
TIMES = ("cpu_s", "run_s")
TIME_RATIO = 2.0
TIME_MOVE_S = 1.0
METRICS = COUNTS + BYTES + TIMES


class Refused(Exception):
    """The two captures cannot be compared."""


def _direction(metric: str, old: float, new: float) -> int:
    """+1 for a regression of ``metric`` from ``old`` to ``new``, -1 for
    the mirrored improvement, 0 for neither."""
    if metric in COUNTS:
        return (new > old) - (new < old)
    if metric in BYTES:
        return (new > old * (1 + BYTES_TOL)) - (old > new * (1 + BYTES_TOL))
    lo, hi = sorted((old, new))
    if hi <= TIME_RATIO * lo or hi - lo < TIME_MOVE_S:
        return 0
    return 1 if new > old else -1


def gate(old: dict, new: dict) -> dict:
    """Judge capture ``new`` against base ``old`` (both as bench.py
    writes them); raise ``Refused`` when they cannot be compared."""
    for doc, side in ((old, "base"), (new, "new")):
        if not doc.get("work"):
            raise Refused(f"{side} capture records no per-query work")
        missing = {m for w in doc["work"].values() for m in METRICS if m not in w}
        if missing:
            raise Refused(f"{side} capture records no {' '.join(sorted(missing))}")
    for key in ("cpus", "sf"):
        if old.get(key) != new.get(key):
            raise Refused(f"{key} differs: {old.get(key)} vs {new.get(key)}")
    ow, nw = old["work"], new["work"]
    out: dict = {"regressions": [], "improvements": []}
    for q in sorted(set(ow) & set(nw)):
        for metric in METRICS:
            a, b = ow[q][metric], nw[q][metric]
            d = _direction(metric, a, b)
            if d:
                rec = {"query": q, "metric": metric, "old": a, "new": b}
                out["regressions" if d > 0 else "improvements"].append(rec)
    out["only_base"] = sorted(set(ow) - set(nw))
    out["only_new"] = sorted(set(nw) - set(ow))
    common = set(old.get("queries", {})) & set(new.get("queries", {}))
    so = sum(old["queries"][q] for q in common)
    sn = sum(new["queries"][q] for q in common)
    out["common"] = len(common)
    out["common_ratio"] = round(sn / so, 3) if so else None
    return out


def report(old: dict, new: dict, out=sys.stdout) -> tuple[int, dict]:
    """Print the gate of ``new`` against ``old`` to ``out``; return the
    exit code and a summary fit to embed in a capture."""
    try:
        g = gate(old, new)
    except Refused as e:
        print(f"refused: {e}", file=out)
        return 2, {"refused": str(e)}
    for kind in ("regressions", "improvements"):
        for r in g[kind]:
            flag = "!!" if kind == "regressions" else "ok"
            print(f"{flag} {r['query']:35s} {r['metric']:20s} "
                  f"{r['old']} -> {r['new']}", file=out)
    for side in ("only_base", "only_new"):
        if g[side]:
            print(f"{side}: {' '.join(g[side])}", file=out)
    print(f"{g['common']} common queries, wall ratio {g['common_ratio']}x; "
          f"{len(g['improvements'])} improvements, "
          f"{len(g['regressions'])} regressions", file=out)
    return (1 if g["regressions"] else 0), {
        "common_ratio": g["common_ratio"],
        "regressions": len(g["regressions"]),
        "regressed_queries": sorted({r["query"] for r in g["regressions"]}),
    }


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__)
        return 2
    docs = []
    for path in argv:
        with open(path) as f:
            docs.append(json.load(f))
    return report(*docs)[0]


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

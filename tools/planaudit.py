"""Plan audit: dump a physical-plan census for every registered query
to PLANS.md — exchanges (shuffles), broadcast joins, pushed filters,
Python-eval stages, scan read-schemas.

This is the ".explain('formatted') and iterate" discipline made
repeatable: run after adding operators, read the census, fix plans
that shuffle or scan more than they should.

Usage: python tools/planaudit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def audit_one(plan: str) -> dict:
    """Counts of scale-relevant node kinds in the FINAL (adaptive)
    plan section. The formatted explain of an unexecuted AQE plan
    repeats everything under '== Initial Plan ==' — only the first
    section is counted. The marker is anchored at column 0 (r13): a
    plan embedding an EXECUTED InMemoryRelation (a construction-time
    persist, e.g. rfm/pareto) prints the cached child's own
    '+- == Initial Plan ==' markers INDENTED inside the tree — a bare
    substring split cut the text there, before any detail block, and
    censused those queries as all-zero."""
    plan = re.split(r"(?m)^== Initial Plan ==", plan)[0]
    # numbered tree nodes: "(12) NodeName [codegen id : 3]"
    nodes = re.findall(r"\(\d+\)\s+([A-Za-z]+)", plan)
    # Exchange kind lives in its Arguments detail line (detail blocks
    # look like "(4) Exchange\nInput [..]: ...\nArguments: hashpartitioning(...)")
    ex_args = re.findall(
        r"\(\d+\)\s+Exchange\n(?:[^\n]*\n)*?Arguments: (\w+)", plan
    )
    counts = {
        "shuffles": sum(
            1 for a in ex_args if a in ("hashpartitioning", "rangepartitioning")
        ),
        "broadcasts": nodes.count("BroadcastExchange"),
        "bcast_joins": nodes.count("BroadcastHashJoin")
        + nodes.count("BroadcastNestedLoopJoin"),
        "smj": nodes.count("SortMergeJoin"),
        # every Python-worker node names itself: ArrowEvalPython,
        # MapInArrow, FlatMapCoGroupsInPandas, ArrowAggregatePython, ...
        "python": sum(1 for n in nodes if re.search("Python|Pandas|Arrow", n)),
        "scans": nodes.count("Scan"),
        "sorts": nodes.count("Sort"),
        # registry-wide no-cartesian contract: pinned at zero by
        # tests/test_parity_utils.py over every census row
        "cartesian": nodes.count("CartesianProduct"),
    }
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    counts["pushed_filters"] = sum(1 for p in pushed if p.strip())
    counts["global_windows"] = _count_global_windows(plan)
    return counts


# --- broadcast-boundedness audit (VERDICT r11 #1) ---------------------------
#
# A BroadcastExchange ships its entire input to EVERY executor; at
# 100 TB that is only safe when the input's row count is bounded by
# CONSTRUCTION (a constant-row dim table, a LIMIT-k cut, a scalar
# aggregate, a grouped aggregate over a fixed-domain key) — never by
# "the data happens to be small today". The audit therefore re-plans
# every query with spark.sql.autoBroadcastJoinThreshold=-1, so the only
# BroadcastExchanges left are the ones our code FORCES with an explicit
# broadcast() hint (threshold/AQE-decided broadcasts revert to shuffle
# joins at scale on their own and are not a hazard), then proves each
# hint's input subtree bounded by walking the plan tree:
#
#   bounded(node) =
#     LocalTableScan / Scan ExistingRDD / Range  -> driver-literal
#     Scan of region/nation                      -> constant-row dim
#     GlobalLimit / CollectLimit / TakeOrdered   -> LIMIT-k
#     aggregate with no grouping keys            -> 1 row
#     aggregate grouped ONLY on fixed-domain keys (_BOUNDED_KEY_DOMAINS)
#     semi/anti join with bounded stream side
#     any other node: all children bounded (project/filter/sort/window/
#       exchange/generate pass row counts through or shrink them;
#       Generate's per-row fan-out is payload-bounded, not corpus-bounded)
#
# Anything unproven counts in the `corpus_bcast` census column; the
# guardrail test (tests/test_parity_utils.py) requires every nonzero
# cell to sit on a rationale allowlist (externally-fixed-size inputs
# the tree cannot prove, e.g. a benchmark corpus modeled as a filtered
# documents slice) and prunes stale entries both ways.

# Grouping-key base names whose value DOMAIN is bounded independent of
# corpus size — an aggregate grouped only on these yields a bounded
# table no matter how many rows flow in.
_BOUNDED_KEY_DOMAINS = {
    "lang": "language codes — fixed external vocabulary",
    "event_type": "event taxonomy — fixed enumerated set",
    "b": "character bigram — charset^2",
    "g": "explicit modulo-K group id",
    "mask": "subset bitmask over K groups — 2^K",
    "w": "Bloom-filter word index — filter size is a constant",
    "day": "calendar-bounded",
    "d": "calendar day / CMS depth / PQ subspace index — fixed domains",
    "dt": "calendar day — calendar-bounded",
    "month": "calendar month — calendar-bounded",
    "week": "calendar-bounded",
    "dow": "day-of-week — 7",
    "hour": "hour-of-day — 24",
    "half": "half-day flag — 2",
    "variant": "experiment arms — fixed",
    "bucket": "explicit modulo/width bucket id",
    "cell": "grid/IVF cell id — fixed K cells",
    "k": "explicit parameter-ladder value — fixed list",
    "is_en": "boolean flag — 2",
    "grp": "explicit modulo-K group id",
    "len_bucket": "explicit width-bucketed length",
    "cid": "k-means/IVF centroid id — fixed K",
    "source": "source/provider census — fixed enumerated set in schema",
    "from_type": "event taxonomy — fixed",
    "to_type": "event taxonomy — fixed",
    "s": "PQ centroid code — 256 values per subspace",
    "score": "4dp-snapped score — ≤1e4+1 values by granularity",
    "len": "document length — payload-bounded scalar domain",
    "bkt": "explicit modulo/width bucket id",
    "cents": "integer money-cents — payload-bounded value grid",
    "su": "centi-snapped score grid — ≤101 values",
    "b1": "corpus-prefix decile bucket — 10",
    "b2": "corpus-prefix decile bucket — 10",
    "b3": "corpus-prefix decile bucket — 10",
    "batch_id": "incremental probe batches — fixed small count",
    "ch": "single character — charset-bounded",
    "day_x": "calendar day index — calendar-bounded",
    "n_chars": "document length — payload-bounded scalar domain",
    "v": "distinct-value grid over a payload-bounded scalar (the "
         "stats-grid family convention: document length / daily value)",
    "own": "cluster / class label id — fixed K",
    "label": "class label — fixed K",
    "priority": "o_orderpriority — 5 values",
    "o_orderpriority": "5 values",
    "digit": "leading digit — 1..9",
    "treat": "binary treatment flag",
    "cohort": "calendar cohort — calendar-bounded",
    "tday": "calendar day — calendar-bounded",
    "i": "vector dimension index — fixed dim count",
}

# Unique-key columns: a Filter that pins one of these with a literal
# equality / upper bound / IN-list yields a bounded row count (=1, <=K,
# <=len(list)) because the column is a UNIQUE key of its table — the
# gotcha-14 "fixed count, never corpus fraction" sample shape.
_UNIQUE_KEY_FILTER = re.compile(
    r"(?:vec_id|doc_id)#\d+L?\s*(?:=\s*\d|<=?\s*\d|IN\s*\()"
)


def _parse_tree(plan: str) -> dict[int, dict]:
    """Parse every operator tree in a formatted plan (main plan +
    subquery sections) into {id: {kind, children, detail}}.

    Tree lines put the id LAST (``   +- Filter (5)``); detail blocks
    put it FIRST (``(5) Filter``). Depth = branch-prefix length / 3;
    a depth-0 line starts a new tree."""
    nodes: dict[int, dict] = {}
    stack: list[tuple[int, int]] = []  # (depth, id)
    for line in plan.split("\n"):
        m = re.match(r"^([ :+\-]*)([A-Za-z][^()\n]*?)\s*\((\d+)\)\s*$", line)
        if not m or line.startswith("("):
            continue
        prefix, name, nid = m.group(1), m.group(2), int(m.group(3))
        depth = len(prefix) // 3
        nodes[nid] = {
            "kind": name.split()[0],
            "name": name.strip(),
            "children": [],
            "detail": "",
        }
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if stack and depth > 0:
            nodes[stack[-1][1]]["children"].append(nid)
        stack.append((depth, nid))
    # detail blocks: "(5) Filter\nInput ...\n..." up to the next block
    for m in re.finditer(
        r"^\((\d+)\) [A-Za-z][^\n]*\n((?:(?!^\(\d+\) )[^\n]*\n?)*)",
        plan,
        re.M,
    ):
        nid = int(m.group(1))
        if nid in nodes:
            nodes[nid]["detail"] = m.group(2)
    return nodes


def _agg_keys(detail: str) -> list[str] | None:
    """Grouping-key base names from an aggregate's detail block, or
    None if the Keys line is missing. ``Keys [2]: [lang#45, t#67]`` ->
    ['lang', 't']; ``Keys: []`` -> []."""
    m = re.search(r"Keys(?: \[\d+\])?: \[([^\]]*)\]", detail)
    if not m:
        return None
    body = m.group(1).strip()
    if not body:
        return []
    keys = []
    for part in body.split(","):
        base = part.strip().split("#")[0].strip()
        # strip normalization wrappers: the base name is the trailing
        # identifier (knownfloatingpointnormalized(normalizenanandzero(p
        # -> p)
        m2 = re.search(r"([A-Za-z_][A-Za-z0-9_]*)$", base)
        keys.append(m2.group(1) if m2 else base)
    return keys


_CONST_DIMS = ("region.parquet", "nation.parquet")


def _bounded(nid: int, nodes: dict[int, dict], memo: dict[int, bool]) -> bool:
    if nid in memo:
        return memo[nid]
    memo[nid] = False  # cycle guard (ReusedExchange loops impossible, but safe)
    n = nodes[nid]
    kind, detail = n["kind"], n["detail"]
    ok: bool
    if kind in ("LocalTableScan", "Range"):
        ok = True
    elif n["name"].startswith("Scan ExistingRDD"):
        ok = True
    elif kind == "InMemoryTableScan":
        # a cached relation holds exactly the rows of its cached plan,
        # so it is bounded iff that plan is — recurse into the
        # InMemoryRelation child (persisted bounded grids, r13: the
        # VERDICT r12 #6 persist() sweep put HashAggregate-keyed grids
        # behind IMTS nodes, hiding the agg-key proof from this walk)
        ok = bool(n["children"]) and all(
            _bounded(c, nodes, memo) for c in n["children"]
        )
    elif kind in ("Scan", "BatchScan"):
        ok = any(t in detail for t in _CONST_DIMS)
    elif kind in ("GlobalLimit", "CollectLimit", "LocalLimit",
                  "TakeOrderedAndProject"):
        ok = True
    elif kind == "Filter" and _UNIQUE_KEY_FILTER.search(detail):
        ok = True  # literal cut on a unique key: fixed-count sample
    elif kind == "WindowGroupLimit":
        # rank-limit pushdown: output <= limit rows PER PARTITION, so
        # the node is bounded iff its partition keys span a fixed
        # domain (top-1-per-label / mode-per-priority shapes).
        m = re.search(r"Arguments: \[([^\]]*)\]", detail)
        keys = []
        if m and m.group(1).strip():
            for part in m.group(1).split(","):
                base = part.strip().split("#")[0].strip()
                m2 = re.search(r"([A-Za-z_][A-Za-z0-9_]*)$", base)
                keys.append(m2.group(1) if m2 else base)
        ok = bool(keys) and all(k in _BOUNDED_KEY_DOMAINS for k in keys)
        if not ok:
            ok = bool(n["children"]) and all(
                _bounded(c, nodes, memo) for c in n["children"]
            )
    elif kind in ("HashAggregate", "SortAggregate", "ObjectHashAggregate"):
        keys = _agg_keys(detail)
        if keys == []:
            ok = True  # scalar aggregate: one row
        elif keys is not None and all(
            k in _BOUNDED_KEY_DOMAINS for k in keys
        ):
            ok = True  # fixed-domain grouping: bounded output
        else:
            ok = all(_bounded(c, nodes, memo) for c in n["children"])
    elif kind == "ReusedExchange":
        m = re.search(r"Reuses operator id: (\d+)", n["name"] + detail)
        ok = bool(m) and int(m.group(1)) in nodes and _bounded(
            int(m.group(1)), nodes, memo
        )
    elif kind in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                  "BroadcastNestedLoopJoin", "CartesianProduct"):
        jt = ""
        m = re.search(r"Join type: (\w+)", detail)
        if m:
            jt = m.group(1)
        elif len(n["name"].split()) > 1:
            jt = n["name"].split()[1]
        if "Semi" in jt or "Anti" in jt:
            ok = bool(n["children"]) and _bounded(
                n["children"][0], nodes, memo
            )
        else:
            ok = bool(n["children"]) and all(
                _bounded(c, nodes, memo) for c in n["children"]
            )
    else:
        # project/filter/sort/window/exchange/generate/union/expand/
        # python-eval: row count passes through, shrinks, or fans out
        # by per-row payload only — bounded iff every input is.
        ok = bool(n["children"]) and all(
            _bounded(c, nodes, memo) for c in n["children"]
        )
    memo[nid] = ok
    return ok


def _cached_subtree_ids(nodes: dict[int, dict]) -> set[int]:
    """Node ids nested under an InMemoryRelation: the PRINTOUT of a
    cached plan, planned under the NORMAL threshold when some earlier
    query persisted it — its broadcasts are not this query's hints
    and must not be audited as such."""
    out: set[int] = set()

    def mark(nid: int) -> None:
        for c in nodes[nid]["children"]:
            out.add(c)
            mark(c)

    for nid, n in nodes.items():
        if n["kind"] == "InMemoryRelation":
            mark(nid)
    return out


def audit_broadcast_boundedness(plan: str) -> tuple[int, int, list[int]]:
    """(hinted broadcasts, proven bounded, unproven ids) for a plan
    generated under autoBroadcastJoinThreshold=-1."""
    nodes = _parse_tree(plan)
    cached = _cached_subtree_ids(nodes)
    memo: dict[int, bool] = {}
    total = bounded = 0
    unproven: list[int] = []
    for nid, n in nodes.items():
        if n["kind"] != "BroadcastExchange" or nid in cached:
            continue
        total += 1
        child_ok = bool(n["children"]) and all(
            _bounded(c, nodes, memo) for c in n["children"]
        )
        if child_ok:
            bounded += 1
        else:
            unproven.append(nid)
    return total, bounded, unproven


def _count_global_windows(plan: str) -> int:
    """WindowExec nodes with NO partition spec — every row flows
    through ONE task ("No Partition Defined" at runtime), so each
    occurrence must be provably bounded-input (the allowlist test in
    tests/test_parity_utils.py enforces the documentation).

    Window detail blocks print ``Arguments: [exprs], [partition],
    [order]`` with EMPTY TRAILING GROUPS OMITTED, so the grouping is
    reconstructed from content: order-spec groups contain ASC/DESC,
    partition groups are bare column lists."""
    n = 0
    for block in re.split(r"\n\n", plan):
        first = block.lstrip().split("\n", 1)[0].strip()
        m = re.match(r"\(\d+\)\s+(Window|WindowGroupLimit)$", first)
        if not m:
            continue
        arg_lines = [
            line for line in block.split("\n")
            if line.startswith("Arguments:")
        ]
        if not arg_lines:
            continue
        body = arg_lines[0][len("Arguments:"):].strip()
        groups = body.split("], [")
        if m.group(1) == "WindowGroupLimit":
            # Arguments: [partition], [order], rankFn, limit, mode —
            # the partition spec LEADS; global iff it is "[" + empty
            if not groups[0].strip().lstrip("[").strip():
                n += 1
        elif len(groups) >= 3:
            # Window: [exprs], [partition], [order] — global iff
            # partition empty
            if not groups[1].strip():
                n += 1
        elif len(groups) == 2:
            # order-only (global) vs partition-only (partitioned)
            if re.search(r"\b(ASC|DESC) NULLS", groups[1]):
                n += 1
        else:
            n += 1  # exprs only: no partition, no order
    return n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    from swat_mapreduce_spark.queries import load_all, run_query
    from swat_mapreduce_spark.session import get_spark

    spark = get_spark("planaudit")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()

    rows = []
    skipped = []
    for name in sorted(reg):
        # streaming queries execute on construction (availableNow);
        # their batch plans are covered by their batch-agg twins
        if name.startswith("stream_"):
            skipped.append(name)
            continue
        try:
            counts = audit_one(run_query(spark, reg[name], sf_dir, "plan"))
            # second pass under threshold=-1: only hint-FORCED
            # broadcasts survive; prove each one's input bounded
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                plan2 = run_query(spark, reg[name], sf_dir, "plan")
            finally:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            hinted, bounded, unproven = audit_broadcast_boundedness(
                plan2.split("== Initial Plan ==")[0]
            )
            counts["hint_bcast"] = hinted
            counts["corpus_bcast"] = len(unproven)
            rows.append((name, counts))
        except Exception as e:  # noqa: BLE001
            rows.append((name, {"error": str(e)[:80]}))

    cols = ["shuffles", "broadcasts", "bcast_joins", "smj", "python",
            "scans", "sorts", "pushed_filters", "cartesian",
            "global_windows", "hint_bcast", "corpus_bcast"]
    lines = [
        "# PLANS — physical-plan census (generated by tools/planaudit.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Counts of plan nodes per query —",
        "`shuffles` = hash/range Exchanges (each is a full network",
        "repartition of its input at 100 TB), `broadcasts` = small-side",
        "broadcast exchanges, `python` = Python-worker nodes (any node",
        "named *Python*/*Pandas*/*Arrow*: the deliberate Python surfaces",
        "only; a Python data source scan is a plain `BatchScan` and is",
        "not counted), `pushed_filters` = parquet scans with at least",
        "one pushed predicate.",
        "",
        "Streaming queries are omitted (they execute on construction;",
        "their aggregation plans mirror the batch twins).",
        "",
        "A query whose `spark_fn` collects internally registers a",
        "`plan_fn`, the lazy pre-collect plan builder: it is censused on",
        "that plan (`run_query`'s \"plan\" mode), not on the",
        "LocalTableScan of its collected rows, and is not executed.",
        "",
        "Cross-SF stability (verified round 5 for the then-314 queries;",
        "RE-VERIFIED round 7 for the full 345-row registry including all",
        "50 r6 additions): regenerating this census against",
        "`/root/testdata/sf0.1` produces IDENTICAL counts for",
        "every row — no broadcast flips to sort-merge, no extra",
        "exchanges, no plan reshapes as the data grows 10x.",
        "A drift guard sampling r6-added join-bearing queries at two",
        "SFs runs in tests/test_parity_utils.py.",
        "Dimension-side join strategies are largely pinned by explicit",
        "`broadcast()` hints (90 call sites, not left to size-threshold",
        "luck); the few threshold-decided broadcasts stay far under the",
        "limit at 10x data. The plan shapes audited here are therefore",
        "the shapes that ship at larger scale factors.",
        "",
        "Queries whose pipeline persists a shared subtree (the r3",
        "materialization pass: minhash/ngram/simhash dedup, charlm)",
        "under-count here: the un-executed plan reads the persisted",
        "relation, hiding the exchanges inside the cached segment.",
        "The pre-persist shuffle census for those queries is recorded",
        "in SCALING.md's dedup-family notes.",
        "",
        "`global_windows` counts WindowExec nodes with NO partition",
        "spec (single-task at runtime). Every nonzero entry must sit",
        "on the bounded-input allowlist in tests/test_parity_utils.py",
        "— windows over tables already cut to a constant row count",
        "(top-k limits, decile tables, fixed query samples), where a",
        "one-task window is correct by construction.",
        "",
        "`hint_bcast` / `corpus_bcast` (VERDICT r11 #1): each query is",
        "RE-PLANNED with spark.sql.autoBroadcastJoinThreshold=-1 so the",
        "only BroadcastExchanges left are the ones an explicit",
        "broadcast() hint FORCES (threshold/AQE-chosen broadcasts revert",
        "to shuffle joins at scale on their own). `hint_bcast` counts",
        "them; `corpus_bcast` counts those whose input subtree the",
        "auditor could NOT prove bounded-by-construction (constant-row",
        "dim scan, LIMIT-k cut, scalar aggregate, aggregate grouped only",
        "on fixed-domain keys, semi/anti join off a bounded stream side,",
        "driver-local relation). A corpus-dependent broadcast is an OOM",
        "at 100 TB; every nonzero corpus_bcast cell must sit on the",
        "rationale allowlist in tests/test_parity_utils.py (inputs that",
        "are externally fixed-size but modeled as corpus slices in the",
        "synthetic testdata) — truly corpus-growing broadcasts are",
        "banned outright.",
        "",
        "| query | " + " | ".join(cols) + " |",
        "|---|" + "---|" * len(cols),
    ]
    for name, c in rows:
        if "error" in c:
            lines.append(f"| {name} | ERROR: {c['error']} |")
        else:
            lines.append(
                f"| {name} | " + " | ".join(str(c[k]) for k in cols) + " |"
            )
    lines.append("")
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md}: {len(rows)} queries audited, "
          f"{len(skipped)} streaming skipped")


if __name__ == "__main__":
    main()

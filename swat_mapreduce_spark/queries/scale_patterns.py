"""Distributed-systems scale patterns, each as an oracle-checked query.

These are the shapes a 100 TB deployment leans on beyond plain
relational operators (SURVEY.md §2B "beyond the reference" mandate):

- bloom-filter join pruning (runtime row filtering before the shuffle)
- bitmap OR-aggregation for exact distinct counts without Expand
- order-insensitive XOR table checksums (replica/copy validation)
- blocked fuzzy (edit-distance) self-join — no all-pairs
- interval-overlap join via time-bin blocking (the scalable form of a
  theta join)
- iterative PageRank with driver-coordinated constant-size state

Every query is JVM-expression-only (no Python stages) and carries a
full DuckDB value oracle. Internal hash arithmetic that never reaches
the output (the bloom bits) uses xxhash64; anything the oracle must
reproduce uses md5, which both engines compute identically over UTF-8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions import rounding as R
from swat_mapreduce_spark.queries import register
from swat_mapreduce_spark.sources.readers import read_table

# --- bloom-filter pruned join ----------------------------------------------
# The pattern behind Spark's runtime bloom-filter join optimization,
# built explicitly: aggregate the small side's keys into an m-bit bloom
# filter (stored as a word->mask map, one groupBy over |small| rows),
# broadcast the single-row filter, and pre-filter the big side with
# pure bit arithmetic BEFORE the exact semi-join. No false negatives,
# so survivors ⊇ matches; the trailing semi-join removes false
# positives. At 100 TB the bloom test drops non-matching rows at the
# scan (narrow, codegen'd), shrinking the shuffle the semi-join pays.
# The filter itself is O(m) bytes regardless of input size.

_BLOOM_M = 1 << 16  # bits
_BLOOM_WORDS = _BLOOM_M // 64
_BLOOM_K = 3

_BLOOM_ORACLE = """
SELECT o.o_orderpriority,
       count(*) AS n_orders,
       round(sum(CAST(o.o_totalprice AS DECIMAL(30,8))), 2)::DOUBLE
           AS revenue
FROM orders o
WHERE o.o_custkey IN (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
GROUP BY o.o_orderpriority
"""


def _bloom_positions(key: F.Column) -> list[F.Column]:
    cols = []
    for seed in range(_BLOOM_K):
        cols.append(
            F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_BLOOM_M)).cast("int")
        )
    return cols


@register("bloom_pruned_join", oracle=_BLOOM_ORACLE)
def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    # build: k positions per key -> (word, bitmask) -> single-row map
    pos = cust.select(
        F.explode(F.array(*_bloom_positions(F.col("c_custkey")))).alias("p")
    )
    words = pos.groupBy(F.expr("p div 64").alias("w")).agg(
        F.expr("bit_or(shiftleft(1L, cast(p % 64 AS int)))").alias("mask")
    )
    bloom = words.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("w"), F.col("mask")))
        ).alias("bloom")
    )

    orders = read_table(spark, sf_dir, "orders")
    probed = orders.crossJoin(F.broadcast(bloom))
    tests = []
    for i, p in enumerate(_bloom_positions(F.col("o_custkey"))):
        probed = probed.withColumn(f"_p{i}", p)
        tests.append(
            f"(element_at(bloom, cast(_p{i} div 64 AS bigint)) IS NOT NULL "
            f"AND (element_at(bloom, cast(_p{i} div 64 AS bigint)) "
            f"& shiftleft(1L, cast(_p{i} % 64 AS int))) != 0)"
        )
    survivors = probed.filter(F.expr(" AND ".join(tests))).select(
        orders.columns
    )
    # exact verification: semi-join removes false positives. NO broadcast
    # hint (VERDICT r11 #2): cust is a fixed FRACTION of a table that
    # grows with SF — not broadcastable at 100× (and if it were, the
    # Bloom prune would be pointless). The survivors side is already
    # Bloom-pruned to ~|matching orders|, so AQE picks the strategy —
    # shuffle hash at scale, broadcast only if runtime stats allow.
    exact = survivors.join(
        cust, survivors["o_custkey"] == cust["c_custkey"], "left_semi"
    )
    return exact.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        R.money_sum(F.col("o_totalprice")).alias("revenue"),
    )


# --- bitmap exact distinct -------------------------------------------------
# count(DISTINCT x) plans an Expand (row duplication) or a two-phase
# distinct shuffle keyed on the VALUE. For dense integer domains the
# roaring-bitmap trick is cheaper and exactly mergeable: map each id to
# (bucket = id div 64, bit = id % 64), OR the masks per bucket (partial
# agg combines map-side), then the distinct count is sum(bit_count).
# Two shuffles of |event_type| x |buckets| rows — independent of row
# count. The oracle computes count(DISTINCT) directly, proving the
# bitmap path exact.

_BITMAP_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id)::BIGINT AS n_users,
       count(*) AS n_events
FROM events
GROUP BY event_type
"""


@register("bitmap_distinct_users", oracle=_BITMAP_ORACLE)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "event_type", F.expr("user_id div 64").alias("bkt")
    ).agg(
        F.expr("bit_or(shiftleft(1L, cast(user_id % 64 AS int)))").alias(
            "bits"
        ),
        F.count(F.lit(1)).alias("pn"),
    )
    return buckets.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_users"),
        F.sum("pn").alias("n_events"),
    )


# --- order-insensitive table checksum --------------------------------------
# Replica validation at 100 TB: comparing two copies of a table must
# not sort either side. XOR over a per-row md5-derived 60-bit hash is
# commutative/associative (order- and partitioning-insensitive),
# overflow-free, and detects any single-row difference. Both engines
# compute md5 over identical UTF-8 renderings of int/string columns, so
# the signature is cross-engine reproducible — the oracle IS a second
# engine computing the checksum of its copy.

_CHECKSUM_ORACLE = """
SELECT o_orderstatus,
       count(*) AS n_rows,
       bit_xor(('0x' || substr(md5(
           o_orderkey || '|' || o_custkey || '|' || o_orderpriority
       ), 1, 15))::BIGINT) AS xor_sig
FROM orders
GROUP BY o_orderstatus
"""


@register("table_checksum_xor", oracle=_CHECKSUM_ORACLE)
def table_checksum_xor(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", "o_orderkey", "o_custkey", "o_orderpriority"
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        orders.withColumn("_h", row_hash)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(_h)").alias("xor_sig"),
        )
    )


# --- blocked fuzzy self-join -----------------------------------------------
# Edit-distance joins are quadratic unless blocked. Customer names
# share a long common prefix ('Customer#0000...'), so blocking on the
# first 16 chars bounds each block to the ids sharing all but the last
# two digits — each block is O(100) rows and the pairwise levenshtein
# runs only within blocks. At 100 TB the blocking key would be a
# domain-appropriate canopy (prefix, length bucket, phonetic key); the
# shape — block equi-join, then exact distance filter — is identical.

_FUZZY_ORACLE = """
SELECT a.blk AS block, count(*) AS n_pairs,
       sum(CASE WHEN levenshtein(a.c_name, b.c_name) = 1
           THEN 1 ELSE 0 END)::BIGINT AS n_dist1
FROM (SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk
      FROM customer) a
JOIN (SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk
      FROM customer) b
  ON a.blk = b.blk AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
GROUP BY a.blk
"""


@register("fuzzy_join_blocked", oracle=_FUZZY_ORACLE)
def fuzzy_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.substring("c_name", 1, 16).alias("blk"),
    )
    a = cust.alias("a")
    b = cust.alias("b")
    lev = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).filter(lev <= 2)
    return pairs.groupBy(F.col("a.blk").alias("block")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(lev == 1, 1).otherwise(0)).cast("long").alias(
            "n_dist1"
        ),
    )


# --- interval-overlap join via bin blocking --------------------------------
# "Which events fall inside any maintenance window" is an interval
# overlap join — a theta join if written naively, which Spark can only
# execute as BNLJ. Discretizing time into 30-minute bins turns it into
# an equi-join: each interval explodes to the bins it covers (bounded:
# window length / bin width rows), events map to exactly one bin, and
# the residual range predicate runs post-join. Bin width tunes the
# blowup-vs-selectivity trade-off; the join itself shuffles on an
# 8-byte key and scales linearly.

_INTERVAL_ORACLE = """
WITH iv AS (
    SELECT DISTINCT date_trunc('day', ts) AS day,
           date_trunc('day', ts) + INTERVAL 2 HOUR AS s,
           date_trunc('day', ts) + INTERVAL 210 MINUTE AS e
    FROM events
)
SELECT iv.day AS day, count(*) AS n_events,
       count(DISTINCT ev.user_id)::BIGINT AS n_users,
       round(sum(CAST(ev.value AS DECIMAL(30,8))), 2)::DOUBLE AS sum_value
FROM read_parquet('{SF}/events.parquet') ev, iv
WHERE ev.ts >= iv.s AND ev.ts < iv.e
GROUP BY iv.day
""".replace("read_parquet('{SF}/events.parquet')", "events")

_BIN_US = 1_800_000_000  # 30 min in microseconds


@register("interval_overlap_binned", oracle=_INTERVAL_ORACLE)
def interval_overlap_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    iv = (
        ev.select(F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .select(
            "day",
            (F.col("day") + F.expr("INTERVAL 2 HOUR")).alias("s"),
            (F.col("day") + F.expr("INTERVAL 210 MINUTE")).alias("e"),
        )
    )
    iv_bins = iv.select(
        "day",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"unix_micros(s) div {_BIN_US}"),
                F.expr(f"(unix_micros(e) - 1) div {_BIN_US}"),
            )
        ).alias("bin"),
    )
    evb = ev.withColumn("bin", F.expr(f"unix_micros(ts) div {_BIN_US}"))
    joined = evb.join(F.broadcast(iv_bins), "bin").filter(
        (F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e"))
    )
    # DuckDB date_trunc('day') yields DATE; emit DATE here too so the
    # driver's type-aware hash sees identical schemas
    return joined.groupBy(F.to_date("day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        R.money_sum(F.col("value")).alias("sum_value"),
    )


# --- iterative PageRank ----------------------------------------------------
# The iterative-algorithm shape (like kmeans_lloyd_2iter, but the
# model state is per-NODE, not constant-size, so it stays distributed —
# each iteration is one shuffle-join of ranks onto edges plus one
# aggregation; nothing is collected). Bipartite customer->supplier
# graph weighted by lineitem count. Per-edge contribution terms are
# doubles (deterministic given inputs); the per-node sums cast to
# DECIMAL(30,8) first so accumulation order cannot move the result —
# the same exactness trick as money_sum.

_PAGERANK_ORACLE = """
WITH edges AS (
    SELECT o.o_custkey AS c, l.l_suppkey AS s, count(*) AS w
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
),
outc AS (SELECT c, sum(w) AS wc FROM edges GROUP BY c),
r1 AS (
    SELECT e.s,
           0.15 + 0.85 * sum(CAST(1.0 * e.w / o.wc AS DECIMAL(30,8)))
               ::DOUBLE AS r
    FROM edges e JOIN outc o ON e.c = o.c
    GROUP BY e.s
),
outs AS (SELECT s, sum(w) AS ws FROM edges GROUP BY s),
r2 AS (
    SELECT e.c,
           0.15 + 0.85 * sum(CAST(r1.r * e.w / o.ws AS DECIMAL(30,8)))
               ::DOUBLE AS r
    FROM edges e JOIN outs o ON e.s = o.s JOIN r1 ON e.s = r1.s
    GROUP BY e.c
)
SELECT c AS custkey, round(r * 10000) / 10000 + 0.0 AS rank
FROM r2
"""


@register("pagerank_2iter", oracle=_PAGERANK_ORACLE)
def pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    out_c = edges.groupBy("c").agg(F.sum("w").alias("wc"))
    term1 = (
        edges.join(out_c, "c")
        .withColumn(
            "t",
            (F.lit(1.0) * F.col("w") / F.col("wc")).cast("decimal(30,8)"),
        )
    )
    r1 = term1.groupBy("s").agg(
        (F.lit(0.15) + F.lit(0.85) * F.sum("t").cast("double")).alias("r")
    )
    out_s = edges.groupBy("s").agg(F.sum("w").alias("ws"))
    term2 = (
        edges.join(out_s, "s")
        .join(r1, "s")
        .withColumn(
            "t", (F.col("r") * F.col("w") / F.col("ws")).cast("decimal(30,8)")
        )
    )
    r2 = term2.groupBy("c").agg(
        (F.lit(0.15) + F.lit(0.85) * F.sum("t").cast("double")).alias("r")
    )
    return r2.select(
        F.col("c").alias("custkey"), R.r(F.col("r"), 4).alias("rank")
    )


# --- sketch cardinality/quantile pack --------------------------------------
# The 100 TB counting toolkit: HLL and theta sketches for mergeable
# distinct counts, KLL for mergeable quantiles — all constant-size
# state, partial-aggregable (map-side combine), unionable across
# partitions/days. Exact answers don't survive 1e12 rows; sketches +
# error bounds are the production form.
#
# Oracle strategy: sketch ESTIMATES aren't reproducible in DuckDB, but
# their error CONTRACTS are — the query emits the exact value plus
# within-tolerance booleans (HLL/theta: deterministic hash registers,
# default-precision error << the 5% gate; KLL k=200 rank error ~1.65%
# at 99% confidence, gated at rank±0.10). The oracle computes the same
# exact values and pins the booleans TRUE.

_SKETCH_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id) AS n_exact,
       TRUE AS hll_ok,
       TRUE AS theta_ok,
       TRUE AS kll_ok
FROM events
GROUP BY event_type
"""


@register("sketch_cardinality_pack", oracle=_SKETCH_ORACLE)
def sketch_cardinality_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("hll_est"),
        F.theta_sketch_estimate(F.theta_sketch_agg("user_id")).alias(
            "theta_est"
        ),
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double("value"), F.lit(0.5)
        ).alias("kll_median"),
        F.expr("percentile(value, 0.40)").alias("p40"),
        F.expr("percentile(value, 0.60)").alias("p60"),
    )
    rel_ok = (
        lambda est: (F.abs(F.col(est) - F.col("n_exact")) / F.col("n_exact"))
        <= 0.05
    )
    return per_type.select(
        "event_type",
        "n_exact",
        rel_ok("hll_est").alias("hll_ok"),
        rel_ok("theta_est").alias("theta_ok"),
        (
            (F.col("kll_median") >= F.col("p40"))
            & (F.col("kll_median") <= F.col("p60"))
        ).alias("kll_ok"),
    )


# --- incremental top-k maintenance -----------------------------------------
# Interactive/top-k-refresh pattern (cf. "Incremental Based Framework
# for Efficient Top-K Similarity Search in Interactive Data Analysis
# Sessions", EDBT 2020, PAPERS.md): top-k is a mergeable monoid under
# a total order — topk(A ∪ B) = topk(topk(A) ∪ topk(B)) — so a
# materialized top-k absorbs a new data batch by merging two k-row
# sets instead of rescanning the corpus. Both sub-top-ks plan as
# TakeOrderedAndProject; the merge input is 2k rows regardless of
# corpus size. Oracle: the direct top-k over everything.

_TOPK_K = 20

_INC_TOPK_ORACLE = f"""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT {_TOPK_K}
"""


@register("incremental_topk_merge", oracle=_INC_TOPK_ORACLE)
def incremental_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # deterministic total order: (price desc, key) is unique
    order_cols = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    corpus = orders.filter(F.col("o_orderkey") % 10 != 0)
    batch = orders.filter(F.col("o_orderkey") % 10 == 0)
    topk_corpus = corpus.orderBy(*order_cols).limit(_TOPK_K)
    topk_batch = batch.orderBy(*order_cols).limit(_TOPK_K)
    return (
        topk_corpus.unionAll(topk_batch)
        .orderBy(*order_cols)
        .limit(_TOPK_K)
    )


# --- bipartite degree distribution -----------------------------------------
# Graph-health staple: distinct customer-supplier edges from the
# order fact, per-supplier degree, then the degree histogram. Two
# aggregation shuffles after a distinct; all keys are ids. At 100 TB
# the distinct IS the expensive step — it shuffles the edge list once,
# and the histogram is tiny.

_DEGREE_ORACLE = """
WITH edges AS (
    SELECT DISTINCT o.o_custkey, l.l_suppkey
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
deg AS (
    SELECT l_suppkey, count(*) AS degree FROM edges GROUP BY l_suppkey
)
SELECT degree, count(*) AS n_suppliers
FROM deg GROUP BY degree
"""


@register("graph_degree_distribution", oracle=_DEGREE_ORACLE)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    deg = edges.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )


# --- triangle counting -----------------------------------------------------
# Classic distributed triangle count over the PROMO co-purchase graph
# (parts co-occurring in an order). The `pa < pb` orientation is the
# standard degree-style dedup: every triangle is enumerated exactly
# once as (a<b<c), so the wedge join never re-counts permutations.
# Plan shape: one distinct on (order, part) after a broadcast semi-join
# against the PROMO dim slice, one per-order self-join (bounded by
# items-per-order, ~7 → ≤21 pairs per order), one distinct edge
# shuffle, then edges⋈edges⋈edges — the wedge volume is Σ_v d(v)²
# over ORIENTED degrees, which the a<b orientation keeps near-minimal
# (the same reason Google's MR triangle algorithms orient by degree).
_TRIANGLE_ORACLE = """
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
)
SELECT (SELECT count(*) FROM edges)::BIGINT AS n_edges,
       count(*)::BIGINT AS n_triangles
FROM edges e1
JOIN edges e2 ON e2.pa = e1.pb
JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    # materialize the oriented edge list ONCE: the plan references it
    # four times (three join legs + the edge count), and without a
    # persist Spark re-derives the whole lineitem→items→distinct
    # pipeline per reference (16 scans / 15 shuffles in the census).
    # Persisting is exactly what a production triangle count does —
    # the edge list is the working set, the fact table is not.
    edges = edges.persist()
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(tri).select("n_edges", "n_triangles")


# --- watermark late-data audit (distributed prefix-MAX) --------------------
# "How much data would a 10-minute watermark drop?" answered from the
# batch log before committing to a streaming config. The raw log is
# perfectly time-ordered (zero disorder — a vacuous audit), so
# ingestion is modeled deterministically: each event arrives at
# ts + jitter, jitter = md5-derived uniform ±15 min — the bounded
# out-of-orderness of a real multi-source collector. An event is late
# iff some EARLIER-ARRIVING event carried an event-time more than D
# newer. The prior-arrival running max is a prefix-MAX scan — computed
# distributed exactly like stable_row_ids\' prefix-sum: range-bucket
# the arrival key into B=64 fixed buckets (min/max from one tiny agg —
# O(B) driver state at ANY scale, never O(rows)), per-bucket max →
# exclusive cumulative max across buckets on the driver, broadcast
# back, finish with a per-bucket window. No single-partition window.
_LATE_D_US = 600_000_000  # 10-minute watermark
_LATE_JITTER_US = 1_800_000_000  # ±15-minute ingestion jitter window
_LATE_BUCKETS = 64

_LATE_ORACLE = f"""
WITH arr AS (
    SELECT event_id, ts, epoch_us(ts) AS us,
           epoch_us(ts)
           + (\'0x\' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT
             % {_LATE_JITTER_US} - {_LATE_JITTER_US // 2} AS arrival
    FROM events
),
w AS (
    SELECT ts, us,
           max(us) OVER (ORDER BY arrival, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS prior_max
    FROM arr
)
SELECT date_trunc(\'hour\', ts) AS window_start,
       count(*)::BIGINT AS n_events,
       count(*) FILTER (prior_max IS NOT NULL
                        AND us < prior_max - {_LATE_D_US})::BIGINT
           AS n_late,
       round(count(*) FILTER (prior_max IS NOT NULL
                              AND us < prior_max - {_LATE_D_US})
             * 10000.0 / count(*)) / 10000 + 0.0 AS late_frac
FROM w
GROUP BY date_trunc(\'hour\', ts)
"""


@register("watermark_late_audit", oracle=_LATE_ORACLE)
def watermark_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    jitter = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % _LATE_JITTER_US
        - _LATE_JITTER_US // 2
    )
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        F.unix_micros("ts").alias("us"),
        (F.unix_micros("ts") + jitter).alias("arrival"),
    )
    lo, hi = ev.agg(F.min("arrival"), F.max("arrival")).first()
    if lo is None:  # empty table: keep the plan valid, 0 output rows
        lo, hi = 0, 0
    span = max(int(hi) - int(lo), 1)
    bucket = F.least(
        F.lit(_LATE_BUCKETS - 1),
        ((F.col("arrival") - int(lo)) * _LATE_BUCKETS / span).cast(
            "long"
        ),
    )
    tagged = ev.withColumn("b", bucket)
    per_bucket = {
        int(r["b"]): int(r["mx"])
        for r in tagged.groupBy("b").agg(F.max("us").alias("mx")).collect()
    }  # O(B) rows by construction
    prev_max, run = {}, None
    for b in sorted(per_bucket):
        prev_max[b] = run
        run = per_bucket[b] if run is None else max(run, per_bucket[b])
    prev_df = tagged.sparkSession.createDataFrame(
        [(b, v) for b, v in prev_max.items()],
        "b long, prev_bucket_max long",
    )
    w = (
        Window.partitionBy("b")
        .orderBy("arrival", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scanned = (
        tagged.join(F.broadcast(prev_df), "b")
        .withColumn("prior_in_bucket", F.max("us").over(w))
        .withColumn(
            "prior_max",
            F.greatest(
                F.coalesce(F.col("prior_in_bucket"), F.lit(None)),
                F.coalesce(F.col("prev_bucket_max"), F.lit(None)),
            ),
        )
    )
    late = F.col("prior_max").isNotNull() & (
        F.col("us") < F.col("prior_max") - _LATE_D_US
    )
    n = F.count(F.lit(1))
    n_late = F.sum(F.when(late, 1).otherwise(0))
    return scanned.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start")
    ).agg(
        n.alias("n_events"),
        n_late.cast("long").alias("n_late"),
        (F.round(n_late * 10000.0 / n) / 10000.0 + 0.0).alias(
            "late_frac"
        ),
    )


# --- Count-Min sketch heavy hitters ----------------------------------------
# The remaining member of the sketch family (HLL/theta = distinct,
# KLL = quantiles, CM = frequencies): d=4 md5-salted hash rows x
# w=256 buckets, built as ONE groupBy over (row, bucket) — partial
# aggregation collapses each partition to <= d*w rows before the
# shuffle, and the sketch is mergeable by addition (shard-merge ==
# direct, the property that matters at 100 TB). Point estimates
# (min over rows) are then audited against exact counts for the top
# candidates: CM guarantees est >= true, overestimate bounded by
# eps*N with eps = e/w.
_CM_D = 4
_CM_W = 256
_CM_TOPN = 10

_CM_ORACLE = rf"""
WITH w AS (
    SELECT w FROM (
        SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> len(x) > 0)) AS w
        FROM documents)
),
exact AS (SELECT w AS tok, count(*) AS true_count FROM w GROUP BY w),
cells AS (
    SELECT g.d,
           ('0x' || substr(md5(g.d || '|' || w.w), 1, 8))::BIGINT
               % {_CM_W} AS bucket,
           count(*) AS c
    FROM w, generate_series(0, {_CM_D - 1}) AS g(d)
    GROUP BY 1, 2
),
cand AS (
    SELECT tok, true_count FROM exact
    ORDER BY true_count DESC, tok LIMIT {_CM_TOPN}
),
est AS (
    SELECT cand.tok, cand.true_count, min(cells.c) AS est_count
    FROM cand, generate_series(0, {_CM_D - 1}) AS g(d)
    JOIN cells ON cells.d = g.d
       AND cells.bucket = ('0x' || substr(md5(g.d || '|' || cand.tok),
                           1, 8))::BIGINT % {_CM_W}
    GROUP BY cand.tok, cand.true_count
)
SELECT tok, true_count::BIGINT AS true_count,
       est_count::BIGINT AS est_count,
       (est_count - true_count)::BIGINT AS overestimate
FROM est
"""


@register("countmin_heavy_hitters", oracle=_CM_ORACLE)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swat_mapreduce_spark.functions.text import ws_tokens

    toks = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(ws_tokens(F.col("text"))).alias("w"))
    )

    def bucket_of(d, col):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(str(d)), F.lit("|"), col)), 1, 8
            ),
            16,
            10,
        ).cast("bigint") % _CM_W

    rows = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        bucket_of(d, F.col("w")).alias("bucket"),
                    )
                    for d in range(_CM_D)
                ]
            )
        ).alias("rb")
    )
    # select-then-group so the physical keys keep their names (d,
    # bucket) — inline struct-field grouping exprs become opaque
    # `_groupingexpression`s the broadcast-boundedness auditor cannot
    # classify (tools/planaudit.py)
    cells = (
        rows.select(F.col("rb.d").alias("d"), F.col("rb.bucket").alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = toks.groupBy(F.col("w").alias("tok")).agg(
        F.count(F.lit(1)).alias("true_count")
    )
    cand = exact.orderBy(F.desc("true_count"), F.asc("tok")).limit(
        _CM_TOPN
    )
    probes = cand.select(
        "tok",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        bucket_of(d, F.col("tok")).alias("bucket"),
                    )
                    for d in range(_CM_D)
                ]
            )
        ).alias("rb"),
    ).select(
        "tok",
        "true_count",
        F.col("rb.d").alias("d"),
        F.col("rb.bucket").alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("tok", "true_count")
        .agg(F.min("c").alias("est_count"))
    )
    return est.select(
        "tok",
        "true_count",
        "est_count",
        (F.col("est_count") - F.col("true_count")).alias("overestimate"),
    )


# --- closed-form linear regression (normal equations) ----------------------
# Iteration-free distributed ML: simple OLS y = a + b·x fitted from
# sufficient statistics (n, Σx, Σy, Σxx, Σxy, Σyy) — ONE aggregate
# pass with map-side combine; the solve is constant driver math
# folded into the same plan. Sums go through DECIMAL(30,8) so the
# fitted coefficients are bit-identical across engines and partition
# counts (same exactness contract as money_sum). The model audits
# discount→quantity on lineitem: slope/intercept/R².
_LINREG_ORACLE = """
WITH s AS (
    SELECT count(*)::DOUBLE AS n,
           sum(CAST(l_discount AS DECIMAL(30,8)))::DOUBLE AS sx,
           sum(CAST(l_quantity AS DECIMAL(30,8)))::DOUBLE AS sy,
           sum(CAST(l_discount * l_discount AS DECIMAL(30,8)))::DOUBLE
               AS sxx,
           sum(CAST(l_discount * l_quantity AS DECIMAL(30,8)))::DOUBLE
               AS sxy,
           sum(CAST(l_quantity * l_quantity AS DECIMAL(30,8)))::DOUBLE
               AS syy
    FROM lineitem
)
SELECT n::BIGINT AS n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000)
           / 1000000 + 0.0 AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             * 1000000) / 1000000 + 0.0 AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy))
             * 1000000) / 1000000 + 0.0 AS r2
FROM s
"""


@register("linreg_normal_equations", oracle=_LINREG_ORACLE)
def linreg_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(30,8)")  # noqa: E731
    x, y = F.col("l_discount"), F.col("l_quantity")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec(x)).cast("double").alias("sx"),
        F.sum(dec(y)).cast("double").alias("sy"),
        F.sum(dec(x * x)).cast("double").alias("sxx"),
        F.sum(dec(x * y)).cast("double").alias("sxy"),
        F.sum(dec(y * y)).cast("double").alias("syy"),
    )
    n, sx, sy, sxx, sxy, syy = (
        F.col("n"), F.col("sx"), F.col("sy"),
        F.col("sxx"), F.col("sxy"), F.col("syy"),
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r6 = lambda c: F.round(c * 1000000.0) / 1000000.0 + 0.0  # noqa: E731
    return s.select(
        n.cast("long").alias("n"),
        r6(slope).alias("slope"),
        r6((sy - slope * sx) / n).alias("intercept"),
        r6(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r2"),
    )


# --- bounded multi-hop reachability (2-hop BFS) ----------------------------
# The bounded-frontier BFS shape: distance-k reachability from a seed
# set over the customer→supplier→customer co-transaction graph, one
# shuffle-join per hop with the frontier deduplicated between hops
# (the iterative-join pattern connected-components uses, but with a
# FIXED hop budget — the form analytics actually runs: "who is within
# 2 hops of these accounts"). Frontiers only shrink relative to the
# vertex set, never multiply: each hop is frontier ⋈ edges followed
# by a distinct, so state is O(|vertices|) at any scale.
_BFS_SEED_MOD = 1000  # custkey % 1000 == 0 → deterministic seed set

_BFS_ORACLE = f"""
WITH edges AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
seeds AS (SELECT DISTINCT c FROM edges WHERE c % {_BFS_SEED_MOD} = 0),
hop1 AS (
    SELECT DISTINCT e.s FROM edges e JOIN seeds ON e.c = seeds.c
),
hop2 AS (
    SELECT DISTINCT e.c FROM edges e JOIN hop1 ON e.s = hop1.s
)
SELECT (SELECT count(*) FROM seeds)::BIGINT AS n_seeds,
       (SELECT count(*) FROM hop1)::BIGINT AS n_suppliers_1hop,
       (SELECT count(*) FROM hop2)::BIGINT AS n_customers_2hop,
       (SELECT count(*) FROM hop2 WHERE c % {_BFS_SEED_MOD} != 0)
           ::BIGINT AS n_new_customers
"""


@register("bfs_2hop_reach", oracle=_BFS_ORACLE)
def bfs_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .persist()  # referenced by both hops + seed derivation
    )
    # build the cache in a job of its own: left to the stages that read
    # it, the query ran 35 to 38 jobs from run to run (sf0.1, 4 cores)
    edges.count()
    seeds = edges.filter(F.col("c") % _BFS_SEED_MOD == 0).select(
        "c"
    ).distinct()
    hop1 = (
        edges.join(seeds, "c", "left_semi").select("s").distinct()
    )
    hop2 = (
        edges.join(hop1, "s", "left_semi").select("c").distinct()
    )
    n_seeds = seeds.agg(F.count(F.lit(1)).alias("n_seeds"))
    n_h1 = hop1.agg(F.count(F.lit(1)).alias("n_suppliers_1hop"))
    n_h2 = hop2.agg(F.count(F.lit(1)).alias("n_customers_2hop"))
    n_new = hop2.filter(F.col("c") % _BFS_SEED_MOD != 0).agg(
        F.count(F.lit(1)).alias("n_new_customers")
    )
    return (
        n_seeds.crossJoin(n_h1).crossJoin(n_h2).crossJoin(n_new)
    )


# --- inverted-index conjunctive search -------------------------------------
# The index-once / query-many shape: a postings table (token, doc_id)
# replaces full-corpus text scans for keyword queries. A conjunctive
# (AND) query is a semi-join chain over the per-token posting lists —
# work proportional to the posting lists touched, not corpus bytes.
# At 100 TB the postings table is partitioned by token (the query key)
# and each lookup prunes to the partitions of its terms; the oracle
# rescans the raw text the way a non-indexed engine would have to.
_INVERTED_ORACLE = """
SELECT d.doc_id, d.n_chars
FROM documents d
WHERE list_contains(string_split(d.text, ' '), 'spark')
  AND list_contains(string_split(d.text, ' '), 'window')
"""


@register("search_inverted_index", oracle=_INVERTED_ORACLE)
def search_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.col("text"), " "))
        ).alias("token"),
    )
    hits = None
    for term in ("spark", "window"):
        plist = postings.filter(F.col("token") == term).select("doc_id")
        hits = plist if hits is None else hits.join(plist, "doc_id", "left_semi")
    return hits.join(docs.select("doc_id", "n_chars"), "doc_id")


# --- Pareto / ABC classification via distributed cumulative share ----------
# "Which parts make up the top 80% of revenue?" needs a cumulative
# sum in global revenue order — the naive form is ONE partition-less
# window over every part. This is the distributed form: range-bucket
# parts by revenue (bucket boundaries from min/max), collect the
# 8-row per-bucket totals, broadcast prefix offsets back, and finish
# with PER-BUCKET windows — the same two-phase prefix-sum shape as
# pack_sequences_fixed / source_domain_cap_scaled. Revenue stays
# DECIMAL(20,2) through every prefix sum (exact, order-independent);
# the cumulative share snaps to 6dp before the A/<=0.80 / B/<=0.95 /
# C class cut, so the boundary decision is identical cross-engine.
# Output is the bounded 3-row class census (each part's class is
# pinned via the counts and exact class revenue sums).
_ABC_A, _ABC_B = 0.80, 0.95

_ABC_ORACLE = f"""
WITH pr AS (
    SELECT l_partkey,
           CAST({R.duck_money_sum('l_extendedprice * (1 - l_discount)')}
                AS DECIMAL(20,2)) AS rev
    FROM lineitem GROUP BY 1
),
t AS (SELECT sum(rev) AS tot FROM pr),
c AS (
    SELECT rev,
           sum(rev) OVER (ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM pr
),
s AS (
    SELECT rev,
           CASE WHEN round(cum::DOUBLE / t.tot::DOUBLE * 1000000)
                     / 1000000 <= {_ABC_A} THEN 'A'
                WHEN round(cum::DOUBLE / t.tot::DOUBLE * 1000000)
                     / 1000000 <= {_ABC_B} THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c, t
)
SELECT s.abc_class, count(*)::BIGINT AS n_parts,
       round(sum(s.rev), 2)::DOUBLE AS class_revenue,
       round(sum(s.rev)::DOUBLE / t.tot::DOUBLE * 1000000) / 1000000 + 0.0
           AS revenue_share
FROM s, t
GROUP BY s.abc_class, t.tot
"""


@register("pareto_abc_cumshare", oracle=_ABC_ORACLE)
def pareto_abc_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    li = read_table(spark, sf_dir, "lineitem")
    # persist the per-part revenue aggregate (r13, guide §5): three
    # consumers (the min/max collect, the bucket-totals collect, the
    # final windowed classification) each re-derived it from a fresh
    # lineitem scan + hash aggregate; persisted, the fact is scanned
    # once (interleaved same-session A/B at sf0.1: 1.77-1.93 s vs
    # 2.56-2.97 s shipped, identical hashes). Cache cleared by the
    # bench between queries (isotonic precedent).
    pr = li.groupBy("l_partkey").agg(
        R.money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        )
        .cast("decimal(20,2)")
        .alias("rev")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    parts = 8
    mn, mx = pr.agg(
        F.min(F.col("rev").cast("double")),
        F.max(F.col("rev").cast("double")),
    ).first()
    if mn is None:
        mn, mx = 0.0, 0.0
    if mx == mn:
        bucket = F.lit(0)
    else:
        span = mx - mn
        # bucket 0 holds the TOP revenues: monotone binning only —
        # exact order is decided by the per-bucket window sort
        bucket = F.least(
            F.lit(parts - 1),
            F.floor(
                ((F.lit(mx) - F.col("rev").cast("double")) * parts) / span
            ).cast("int"),
        )
    bucketed = pr.withColumn("_b", bucket)
    totals = {
        r["_b"]: r["t"]
        for r in bucketed.groupBy("_b")
        .agg(F.sum("rev").alias("t"))
        .collect()
    }
    from decimal import Decimal

    offsets, acc = [], Decimal(0)
    for b in range(parts):
        offsets.append(acc)
        acc += totals.get(b, Decimal(0))
    offset_map = F.create_map(
        *[
            F.lit(x) if i == 0 else F.lit(str(x)).cast("decimal(30,2)")
            for b in range(parts)
            for i, x in enumerate((b, offsets[b]))
        ]
    )
    total = F.lit(str(acc)).cast("decimal(30,2)")
    w = (
        Window.partitionBy("_b")
        .orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.element_at(offset_map, F.col("_b")) + F.sum("rev").over(w)
    share = R.r(cum.cast("double") / total.cast("double"), 6)
    cls = (
        F.when(share <= _ABC_A, "A")
        .when(share <= _ABC_B, "B")
        .otherwise("C")
    )
    s = bucketed.select(F.col("rev"), cls.alias("abc_class"))
    return s.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("rev"), 2).cast("double").alias("class_revenue"),
        R.r(
            F.sum("rev").cast("double") / total.cast("double"), 6
        ).alias("revenue_share"),
    )


# --- exact SLIDING-window distinct via bitmap fan-out ------------------------
# Exact 7-day rolling distinct users per day. count(DISTINCT) over a
# sliding window is the classic scale trap (per-day distinct sets
# don't merge). The bitmap form is exactly mergeable, and the sliding
# frame is handled by FAN-OUT instead of a window: each (day, bucket)
# mask contributes to target days day..day+6 (a 7x explode of the
# |days|x|buckets|-bounded mask table — NOT of the raw events), then
# one OR-aggregate per (target_day, bucket) and a bit_count rollup.
# No window at all, gap-days handled correctly, two shuffles of
# mask-table volume regardless of event count. Only full 7-day
# windows are emitted.
_SLIDING_BITMAP_ORACLE = """
WITH days AS (SELECT DISTINCT ts::DATE AS d FROM events),
rng AS (SELECT min(ts::DATE) AS mn, max(ts::DATE) AS mx FROM events)
SELECT d.d AS day,
       count(DISTINCT e.user_id)::BIGINT AS n_users_7d
FROM days d
JOIN events e ON e.ts::DATE BETWEEN d.d - INTERVAL 6 DAY AND d.d
CROSS JOIN rng
WHERE d.d >= rng.mn + INTERVAL 6 DAY
GROUP BY d.d
"""


@register("sliding_distinct_users_bitmap", oracle=_SLIDING_BITMAP_ORACLE)
def sliding_distinct_users_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    rng = ev.agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    masks = ev.groupBy(
        "day", F.expr("user_id div 64").alias("bkt")
    ).agg(
        F.expr("bit_or(shiftleft(1L, cast(user_id % 64 AS int)))").alias(
            "bits"
        )
    )
    fanned = masks.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("tday"),
        "bkt",
        "bits",
    )
    ored = fanned.groupBy("tday", "bkt").agg(
        F.expr("bit_or(bits)").alias("obits")
    )
    per_day = ored.groupBy("tday").agg(
        F.sum(F.bit_count("obits")).cast("long").alias("n_users_7d")
    )
    # the fan-out also lands on gap days (no events that day, events in
    # the prior 6); the oracle's days CTE only emits days that occur in
    # events — semi-join against the distinct event-day set (bounded,
    # broadcast) so both sides agree on the emitted row set (ADVICE r6)
    real_days = ev.select(F.col("day").alias("tday")).distinct()
    per_day = per_day.join(F.broadcast(real_days), "tday", "semi")
    return per_day.crossJoin(F.broadcast(rng)).filter(
        (F.col("tday") >= F.date_add(F.col("mn"), 6))
        & (F.col("tday") <= F.col("mx"))
    ).select(F.col("tday").alias("day"), "n_users_7d")


# --- k-core peeling rounds over the co-purchase graph -------------------------
# Iterative graph peeling (the k-core primitive behind community
# trimming and spam-subgraph extraction): repeatedly drop nodes with
# degree < k, where k is the FIRST-QUARTILE initial degree
# (data-derived from exact integer counts — a fixed k is vacuous on a
# graph whose density scales with SF, and the median collapses the
# cascade to zero in two rounds). Three peel rounds; per-round node and
# edge survival is reported. Driver state is nothing at all — each
# round is one degree aggregate + two semi-joins, the
# label-propagation shape (operators/dedup.py components) with a
# bounded round count; the oracle unrolls the same three rounds as
# CTEs. At 100 TB the same loop runs to fixpoint with
# localCheckpoint per round.
#
# Per-round cost floor (VERDICT r7 #4) — three levers, measured at
# sf0.1 (11 s warmed -> 3.1-3.6 s):
# 1. localCheckpoint the per-round edge iterate: persist() does NOT
#    truncate the LOGICAL plan, so round i's plan nested every prior
#    round's lineage and analyzer/optimizer time grew round over
#    round (the dominant cost, ~2.3 s/round; checkpointing cut the
#    loop from 7.2 s to <2 s). This is also the documented 100 TB
#    posture for the fixpoint loop.
# 2. Degree-HISTOGRAM bookkeeping: one bounded collect per round
#    (O(distinct degrees), the accepted driver-state pattern) yields
#    BOTH counts — n_nodes(i) = survivors in round i-1's histogram,
#    n_edges(i) = sum(d*c)/2 by the handshake lemma — so no separate
#    count jobs exist at all.
# 3. Size-gated broadcast of the survivor set: the histogram tells
#    the driver |surv| EXACTLY before planning, so the semi-joins
#    take a broadcast hint only when the survivor set is provably
#    small (<8 MB) — at larger scale the hint is withheld and the
#    joins shuffle, the honest 100 TB posture. The loop also narrows
#    the iterate and its shuffle width to the measured edge volume
#    (coalesce + loop-scoped spark.sql.shuffle.partitions, restored
#    in a finally).
_KCORE_ROUNDS = 3

_KCORE_ORACLE = """
WITH items AS MATERIALIZED (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS MATERIALIZED (
    -- MATERIALIZED: DuckDB inlines multiply-referenced CTEs by
    -- default, re-running the items self-join per reference (43 s vs
    -- 0.05 s at sf0.01 measured) — same reason the Spark side persists
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
und AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL SELECT pb, pa FROM edges
),
deg0 AS (SELECT u, count(*) AS d FROM und GROUP BY u),
n0 AS (SELECT count(*)::BIGINT AS n FROM deg0),
kv AS (
    SELECT min(d)::BIGINT AS k FROM (
        SELECT d, sum(c) OVER (ORDER BY d) AS cum
        FROM (SELECT d, count(*) AS c FROM deg0 GROUP BY d)
    ), n0 WHERE cum * 4 >= n0.n
),
s1 AS MATERIALIZED (SELECT u FROM deg0, kv WHERE d >= kv.k),
e1 AS MATERIALIZED (
    SELECT e.pa, e.pb FROM edges e
    JOIN s1 a ON a.u = e.pa JOIN s1 b ON b.u = e.pb
),
und1 AS (SELECT pa AS u, pb AS v FROM e1 UNION ALL SELECT pb, pa FROM e1),
deg1 AS (SELECT u, count(*) AS d FROM und1 GROUP BY u),
s2 AS MATERIALIZED (SELECT u FROM deg1, kv WHERE d >= kv.k),
e2 AS MATERIALIZED (
    SELECT e.pa, e.pb FROM e1 e
    JOIN s2 a ON a.u = e.pa JOIN s2 b ON b.u = e.pb
),
und2 AS (SELECT pa AS u, pb AS v FROM e2 UNION ALL SELECT pb, pa FROM e2),
deg2 AS (SELECT u, count(*) AS d FROM und2 GROUP BY u),
s3 AS MATERIALIZED (SELECT u FROM deg2, kv WHERE d >= kv.k),
e3 AS MATERIALIZED (
    SELECT e.pa, e.pb FROM e2 e
    JOIN s3 a ON a.u = e.pa JOIN s3 b ON b.u = e.pb
)
SELECT r.round, kv.k,
       CASE r.round WHEN 1 THEN (SELECT count(*) FROM s1)
                    WHEN 2 THEN (SELECT count(*) FROM s2)
                    ELSE (SELECT count(*) FROM s3) END::BIGINT AS n_nodes,
       CASE r.round WHEN 1 THEN (SELECT count(*) FROM e1)
                    WHEN 2 THEN (SELECT count(*) FROM e2)
                    ELSE (SELECT count(*) FROM e3) END::BIGINT AS n_edges
FROM (SELECT unnest(generate_series(1, 3)) AS round) r, kv
"""


@register("kcore_peel_rounds", oracle=_KCORE_ORACLE)
def kcore_peel_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    # coalesce(2): narrow the cached iterate to match its volume at
    # test scale (AQE's post-shuffle coalesce does the same job on a
    # cluster; the explicit narrow keeps the cached partition count —
    # which persists across the loop — from pinning 32 near-empty
    # blocks)
    edges = (
        _copurchase_edges(spark, sf_dir)
        .coalesce(2)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def und(e):
        return e.select(F.col("pa").alias("u")).unionAll(
            e.select(F.col("pb").alias("u"))
        )

    def hist_of(e):
        return (
            und(e)
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .groupBy("d")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    # exact first-quartile degree from the degree HISTOGRAM
    # (O(distinct degrees) driver state — no global sort of the node
    # table); this one collect also materializes the edges persist
    hist = sorted((r["d"], r["c"]) for r in hist_of(edges).collect())
    n0 = sum(c for _, c in hist)
    n_edges0 = sum(d * c for d, c in hist) // 2
    cum, k = 0, hist[-1][0]
    for d, c in hist:
        cum += c
        if cum * 4 >= n0:
            k = d
            break
    # loop width tracks the MEASURED iterate volume (known exactly
    # from the histogram): tiny at test scale, proportional at 100 TB
    sp_loop = str(min(32, max(4, n_edges0 // 1_000_000)))
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    out = []
    cur = edges
    spark.conf.set("spark.sql.shuffle.partitions", sp_loop)
    try:
        for rnd in range(1, _KCORE_ROUNDS + 1):
            # survivors of the PREVIOUS round's degrees — free from
            # the histogram already collected
            n_nodes = sum(c for d, c in hist if d >= k)
            surv = (
                und(cur)
                .groupBy("u")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= k)
                .select("u")
            )
            if n_nodes * 16 < (8 << 20):
                surv = F.broadcast(surv)
            # localCheckpoint truncates the logical lineage so round
            # i+1's plan doesn't nest every prior round's plan
            cur = (
                cur.join(surv.select(F.col("u").alias("pa")), "pa", "semi")
                .join(surv.select(F.col("u").alias("pb")), "pb", "semi")
                .localCheckpoint()
            )
            hist = sorted((r["d"], r["c"]) for r in hist_of(cur).collect())
            n_edges = sum(d * c for d, c in hist) // 2
            out.append((rnd, k, n_nodes, n_edges))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    edges.unpersist()
    return spark.createDataFrame(
        out, "round long, k long, n_nodes long, n_edges long"
    )


# --- HITS hubs & authorities (2 authority updates, 1 hub update) ---------------
# Kleinberg's HITS on the customer→supplier purchase graph: authority
# a(s) ← Σ h(c) over in-edges, hub h(c) ← Σ a(s) over out-edges, max-
# normalized each half-step. Every normalized score is an INTEGER
# unit table — round(units/max·1e8) — so the cross-iteration sums are
# exact long sums (order-free) and both engines walk identical values
# (gotcha 13a). Plan: the distinct edge list is built once and reused
# by every half-step (one groupBy each); tops are TakeOrdered cuts.
_HITS_TOPK = 10

_HITS_ORACLE = f"""
WITH edges AS MATERIALIZED (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
a1 AS (SELECT s, count(*)::BIGINT AS u FROM edges GROUP BY s),
a1m AS (SELECT max(u) AS m FROM a1),
a1n AS (
    SELECT s, CAST(round(u * 1.0 / a1m.m * 100000000) AS BIGINT) AS nu
    FROM a1, a1m
),
h1 AS (
    SELECT e.c, sum(a.nu)::BIGINT AS u
    FROM edges e JOIN a1n a ON a.s = e.s GROUP BY e.c
),
h1m AS (SELECT max(u) AS m FROM h1),
h1n AS (
    SELECT c, CAST(round(u * 1.0 / h1m.m * 100000000) AS BIGINT) AS nu
    FROM h1, h1m
),
a2 AS (
    SELECT e.s, sum(h.nu)::BIGINT AS u
    FROM edges e JOIN h1n h ON h.c = e.c GROUP BY e.s
),
a2m AS (SELECT max(u) AS m FROM a2),
a2n AS (
    SELECT s, CAST(round(u * 1.0 / a2m.m * 100000000) AS BIGINT) AS nu
    FROM a2, a2m
)
SELECT role, node_id, score, rank FROM (
    SELECT 'authority' AS role, s AS node_id,
           nu::DOUBLE / 100000000 AS score,
           row_number() OVER (ORDER BY nu DESC, s) AS rank
    FROM a2n
) WHERE rank <= {_HITS_TOPK}
UNION ALL
SELECT role, node_id, score, rank FROM (
    SELECT 'hub' AS role, c AS node_id,
           nu::DOUBLE / 100000000 AS score,
           row_number() OVER (ORDER BY nu DESC, c) AS rank
    FROM h1n
) WHERE rank <= {_HITS_TOPK}
"""


@register("hits_hubs_authorities", oracle=_HITS_ORACLE)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def norm(df, key):
        m = df.agg(F.max("u").alias("m"))
        return df.crossJoin(F.broadcast(m)).select(
            key,
            F.round(F.col("u") * F.lit(1.0) / F.col("m") * F.lit(1e8))
            .cast("long")
            .alias("nu"),
        )

    a1 = edges.groupBy("s").agg(F.count(F.lit(1)).alias("u"))
    a1n = norm(a1, "s")
    h1 = (
        edges.join(a1n, "s")
        .groupBy("c")
        .agg(F.sum("nu").cast("long").alias("u"))
    )
    h1n = norm(h1, "c").persist(StorageLevel.MEMORY_AND_DISK)
    a2 = (
        edges.join(h1n, "c")
        .groupBy("s")
        .agg(F.sum("nu").cast("long").alias("u"))
    )
    a2n = norm(a2, "s")
    # distributed TakeOrdered cut first; the rank window then runs on
    # the bounded top-k set, never on the full node table
    w_a = Window.orderBy(F.desc("nu"), F.asc("s"))
    w_h = Window.orderBy(F.desc("nu"), F.asc("c"))
    auth = (
        a2n.orderBy(F.desc("nu"), F.asc("s"))
        .limit(_HITS_TOPK)
        .withColumn("rank", F.row_number().over(w_a))
        .select(
            F.lit("authority").alias("role"),
            F.col("s").alias("node_id"),
            (F.col("nu").cast("double") / F.lit(1e8)).alias("score"),
            F.col("rank").cast("long"),
        )
    )
    hubs = (
        h1n.orderBy(F.desc("nu"), F.asc("c"))
        .limit(_HITS_TOPK)
        .withColumn("rank", F.row_number().over(w_h))
        .select(
            F.lit("hub").alias("role"),
            F.col("c").alias("node_id"),
            (F.col("nu").cast("double") / F.lit(1e8)).alias("score"),
            F.col("rank").cast("long"),
        )
    )
    out = auth.unionAll(hubs)
    edges.unpersist()
    return out


# --- exact SLIDING-window p50 via grid fan-out ---------------------------------
# The quantile sibling of sliding_distinct_users_bitmap: exact rolling
# 7-day median per day WITHOUT re-scanning raw events per window.
# Values are put on the exact cents grid (round(value*100) — the
# shared integer procedure), per-(day, cent) counts fan out to target
# days day..day+6 (a 7x explode of the grid-bounded count table, NOT
# of the events), and the lower median is the smallest grid value
# whose cumulative count reaches ceil(n/2) — a window PARTITIONED by
# target day over the per-day grid (bounded by the value domain).
# Only full 7-day windows on days that actually occur are emitted
# (the r6-ADVICE gap-day rule).
_SLIDING_P50_ORACLE = """
WITH ev AS (
    SELECT ts::DATE AS day,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
rng AS (SELECT min(day) AS mn, max(day) AS mx FROM ev),
cnt AS (SELECT day, cents, count(*)::BIGINT AS c FROM ev GROUP BY 1, 2),
fan AS (
    SELECT (day + to_days(g.o::INT))::DATE AS tday, cents, c
    FROM cnt, generate_series(0, 6) AS g(o)
),
win AS (
    SELECT tday, cents, sum(c)::BIGINT AS c FROM fan GROUP BY 1, 2
),
tot AS (SELECT tday, sum(c)::BIGINT AS n FROM win GROUP BY 1),
cum AS (
    SELECT w.tday, w.cents,
           sum(w.c) OVER (PARTITION BY w.tday ORDER BY w.cents)::BIGINT
               AS cum
    FROM win w
),
med AS (
    SELECT cum.tday, min(cum.cents) AS p50c
    FROM cum JOIN tot USING (tday)
    WHERE cum.cum * 2 >= tot.n + (tot.n % 2)
    GROUP BY cum.tday
)
SELECT m.tday AS day, t.n AS n_events_7d,
       m.p50c::DOUBLE / 100 AS p50_value
FROM med m
JOIN tot t USING (tday)
JOIN (SELECT DISTINCT day FROM ev) rd ON rd.day = m.tday
CROSS JOIN rng
WHERE m.tday >= rng.mn + INTERVAL 6 DAY AND m.tday <= rng.mx
"""


@register("sliding_p50_value_7d", oracle=_SLIDING_P50_ORACLE)
def sliding_p50_value_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    rng = ev.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    cnt = ev.groupBy("day", "cents").agg(F.count(F.lit(1)).alias("c"))
    fan = cnt.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("tday"),
        "cents",
        "c",
    )
    win = fan.groupBy("tday", "cents").agg(F.sum("c").alias("c"))
    tot = win.groupBy("tday").agg(F.sum("c").cast("long").alias("n"))
    wsp = Window.partitionBy("tday").orderBy("cents")
    cum = win.withColumn("cum", F.sum("c").over(wsp).cast("long"))
    med = (
        cum.join(tot, "tday")
        .filter(F.col("cum") * 2 >= F.col("n") + F.col("n") % 2)
        .groupBy("tday")
        .agg(F.min("cents").alias("p50c"))
    )
    real_days = ev.select(F.col("day").alias("tday")).distinct()
    out = (
        med.join(tot, "tday")
        .join(F.broadcast(real_days), "tday", "semi")
        .crossJoin(F.broadcast(rng))
        .filter(
            (F.col("tday") >= F.date_add(F.col("mn"), 6))
            & (F.col("tday") <= F.col("mx"))
        )
    )
    return out.select(
        F.col("tday").alias("day"),
        F.col("n").alias("n_events_7d"),
        (F.col("p50c").cast("double") / F.lit(100)).alias("p50_value"),
    )


# --- Adamic-Adar link prediction over the co-purchase graph ---------------------
# The classic common-neighbor link predictor (Adamic & Adar 2003):
# for part pairs NOT yet co-purchased, score = Σ_z 1/ln(deg(z)) over
# common neighbors z in the PROMO co-purchase graph — the "which
# products will be bought together next" primitive. Wedge volume is
# Σ_z d(z)² (the triangle-count bound); existing edges are removed
# with a left-anti join so the output is genuinely PREDICTED links.
# Determinism: each 1/ln(deg) weight is snapped to an INTEGER 1e-6
# unit before the order-free sum (the MI/jsd grid — ln ULP noise gets
# ~1e-7 relative slack vs the rounding boundary, audited by
# selfcheck's tie audit); ranking and the top-20 cut order by the exact integer
# score with (a, b) tie-break. Wedge centers always have deg >= 2, so
# ln(deg) >= ln 2 — no division hazard.
_AA_TOPN = 20

# Wedge-center degree cap (VERDICT r10 #3): wedge enumeration costs
# Σ d(z)² over centers z — a single celebrity node (degree 10⁶) alone
# contributes ~10¹² wedges at corpus scale, the same degenerate-key
# blowup as an LSH mega-bucket. Centers above the cap are EXCLUDED
# from wedge generation in BOTH engines (the LSH_MAX_BUCKET pattern,
# operators/dedup.py: drop, don't sample — a capped center's pairs
# are dominated by its hub-ness, not by genuine affinity), bounding
# per-center volume at cap²/2. Testdata max degree is 45 at sf0.1 /
# 38 at sf0.01, so the cap never binds on published results;
# tests/test_wedge_cap.py plants a >cap celebrity order and proves
# the cap binds identically on both engines. rich_club_coefficient is
# NOT capped: it enumerates no wedges (volume O(|edges|·|ks|) via a
# broadcast ladder join), and a degree cap would remove exactly the
# high-degree nodes the statistic is about.
_WEDGE_MAX_DEG = 128


# --- shared co-purchase-graph machinery ------------------------------------
# Ten queries derive the same PROMO co-purchase graph (items → distinct
# edges → doubled und → degrees → capped wedges). The builders below
# are the single implementation; each query's registered fn collects
# its bounded output through _collected so no persist outlives the
# query, and registers the lazy builder as plan_fn so plan tooling can
# explain the real computation (the collected local relation is
# opaque).


def _collected(spark, builder, sf_dir):
    """Run a lazy builder, collect its bounded output, release its
    persisted intermediates, and return a local relation."""
    out, persisted = builder(spark, sf_dir)
    rows = out.collect()
    for p in persisted:
        p.unpersist()
    return spark.createDataFrame(rows, out.schema)


def _plan_of(builder):
    """plan_fn adapter: the heavy pre-collect subtree, unexecuted."""

    def plan_fn(spark, sf_dir):
        return builder(spark, sf_dir)[0]

    return plan_fn


def _copurchase_edges(spark, sf_dir):
    """Distinct undirected co-purchase edges (pa < pb), unpersisted.

    Optimized shape (r12, guide §2.4): one groupBy(o) collecting each
    order's sorted distinct PROMO parts, pairs generated IN-ROW from
    the sorted array (posexplode + slice — lambda-free, gotcha 1), then
    one distinct on (pa, pb). The previous items-self-join shape paid
    four exchanges for the same set — distinct items (o, p), twice the
    items exchange into the a⋈b sort-merge join, then the pair distinct;
    collect_set fuses the per-order dedup into the single groupBy, and
    the in-row pair generation replaces the self-join outright. Pair
    volume per order is C(k, 2) over basket size k, exactly the old
    join's output — nothing new materializes. Semantics are identical:
    sorted distinct array ⇒ every within-order pair (pa < pb) appears
    once.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    promo = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    baskets = (
        li.join(
            promo,
            li["l_partkey"] == promo["p_partkey"],
            "left_semi",
        )
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .groupBy("o")
        .agg(F.array_sort(F.collect_set("p")).alias("ps"))
    )
    return (
        baskets.select("ps", F.posexplode("ps").alias("i", "pa"))
        .select(
            "pa",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("pb"),
        )
        .select("pa", "pb")
        .distinct()
    )


def _und_of(edges):
    """Doubled (u, v) adjacency list of the undirected edge set."""
    return edges.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).unionAll(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v")))


def _capped_wedges(edges, center_cols=()):
    """Wedge pairs (center u, a, b) with a < b over the undirected
    graph, centers capped at _WEDGE_MAX_DEG degrees BEFORE wedge
    generation (the n1 leg is reduced to capped centers first, so the
    self-join never enumerates a celebrity hub's Σd² wedges — the
    r10 wedge-cap contract, now applied uniformly: adamic_adar and
    resource_allocation previously joined the capped degree table
    AFTER the n1⋈n2 self-join).

    center_cols: (name, fn) pairs where fn maps the center's degree
    count column to a per-center weight; weights ride the capped
    degree table through the n1 join — no separate post-join lookup.

    An in-row alternative (collect the capped neighbor arrays, generate
    pairs with posexplode+slice, one fewer exchange of the doubled
    adjacency list) was measured 0.3-0.5 s SLOWER at sf0.1 in
    interleaved same-session A/B (OPTIMIZATION_r12.md): the per-group
    array build + sort costs more CPU than the 16-byte-row exchange it
    saves at this scale. Revisit if profile shows the und exchange
    dominating on a real cluster.

    Returns (deg, wedges); deg is the FULL degree table (u, d).
    """
    und = _und_of(edges)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    names = [name for name, _ in center_cols]
    aggs = [F.count(F.lit(1)).cast("long").alias("d")] + [
        fn(F.count(F.lit(1))).alias(name) for name, fn in center_cols
    ]
    capped = (
        und.groupBy("u")
        .agg(*aggs)
        .filter(F.col("d") <= _WEDGE_MAX_DEG)
        .select(F.col("u").alias("zc"), *names)
    )
    n1 = und.select(F.col("u").alias("z"), F.col("v").alias("a"))
    n2 = und.select(F.col("u").alias("z2"), F.col("v").alias("b"))
    if names:
        left = n1.join(capped, F.col("z") == F.col("zc")).select(
            "z", "a", *names
        )
    else:
        left = n1.join(capped, F.col("z") == F.col("zc"), "left_semi")
    wedges = (
        left.join(n2, (F.col("z") == F.col("z2")) & (F.col("a") < F.col("b")))
        .select(F.col("z").alias("u"), *names, "a", "b")
    )
    return deg, wedges


_AA_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
und AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL
    SELECT pb AS u, pa AS v FROM edges
),
deg AS (
    -- deg-1 nodes generate no wedges but ln(1)=0 would still be
    -- evaluated: guard the weight (NULL never joins into a wedge)
    SELECT u, count(*)::BIGINT AS d,
           CASE WHEN count(*) >= 2
                THEN CAST(round(1000000.0 / ln(count(*))) AS BIGINT)
           END AS w_u
    FROM und GROUP BY u
),
wedges AS (
    SELECT n1.v AS a, n2.v AS b, d.w_u
    FROM und n1
    JOIN und n2 ON n2.u = n1.u AND n1.v < n2.v
    JOIN deg d ON d.u = n1.u AND d.d <= {_WEDGE_MAX_DEG}
),
cand AS (
    SELECT w.a, w.b,
           sum(w.w_u)::BIGINT AS score_u,
           count(*)::BIGINT AS n_common
    FROM wedges w
    LEFT JOIN edges e ON e.pa = w.a AND e.pb = w.b
    WHERE e.pa IS NULL
    GROUP BY w.a, w.b
)
SELECT a AS part_a, b AS part_b, n_common,
       round(score_u * 1.0 / 1000000 * 10000) / 10000 + 0.0 AS aa_score
FROM cand
ORDER BY score_u DESC, a, b
LIMIT 20
"""


def _aa_plan(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir).persist()
    # deg-1 guard mirrors the oracle: ln(1)=0 is never divided by;
    # 1/ln(d) weight rides the capped-center table into wedge gen
    _, wedges = _capped_wedges(
        edges,
        center_cols=(
            (
                "w_u",
                lambda c: F.when(
                    c >= 2, F.round(F.lit(1e6) / F.log(c)).cast("long")
                ),
            ),
        ),
    )
    cand = (
        wedges.join(
            edges,
            (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
            "left_anti",
        )
        .groupBy("a", "b")
        .agg(
            F.sum("w_u").alias("score_u"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
    )
    out = (
        cand.orderBy(F.desc("score_u"), F.asc("a"), F.asc("b"))
        .limit(_AA_TOPN)
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "n_common",
            R.r(F.col("score_u").cast("double") / F.lit(1e6), 4).alias(
                "aa_score"
            ),
        )
    )
    return out, [edges]


@register(
    "adamic_adar_link_prediction",
    oracle=_AA_ORACLE,
    plan_fn=_plan_of(_aa_plan),
)
def adamic_adar_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _collected(spark, _aa_plan, sf_dir)


# --- modularity of a node partition ------------------------------------------------
# Newman-Girvan modularity Q = Σ_c [ m_c/m − (d_c/2m)² ] of the BRAND
# partition over the PROMO co-purchase graph — the community-quality
# number a clustering pipeline reports before trusting graph
# communities. EXACT rational arithmetic: per community the
# contribution is (4·m·m_c − d_c²) / (4·m²) with integer numerator
# and denominator (products ≤ 4m² fit int64 far past test scale), so
# both engines divide identical exact integers once per row. One
# distinct-edge derivation (the triangle-count subtree), one
# broadcast node→community map, bounded |brands| output.
_MODULARITY_ORACLE = """
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
com AS (SELECT p_partkey AS p, p_brand AS c FROM part),
m AS (SELECT count(*)::BIGINT AS m FROM edges),
lab AS (
    SELECT ca.c AS ca, cb.c AS cb
    FROM edges e JOIN com ca ON ca.p = e.pa JOIN com cb ON cb.p = e.pb
),
intra AS (
    SELECT ca AS c, count(*)::BIGINT AS m_c FROM lab
    WHERE ca = cb GROUP BY 1
),
deg AS (
    SELECT c, sum(d)::BIGINT AS d_c, count(*)::BIGINT AS n_nodes
    FROM (
        SELECT com.c, u.p, count(*)::BIGINT AS d
        FROM (SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges) u
        JOIN com ON com.p = u.p
        GROUP BY com.c, u.p
    ) GROUP BY c
),
rows_ AS (
    SELECT d.c, d.n_nodes, coalesce(i.m_c, 0)::BIGINT AS intra_edges,
           d.d_c AS degree_sum,
           (4 * m.m * coalesce(i.m_c, 0) - d.d_c * d.d_c)::BIGINT AS num,
           (4 * m.m * m.m)::BIGINT AS den
    FROM deg d LEFT JOIN intra i ON i.c = d.c, m
)
SELECT c AS community, n_nodes, intra_edges, degree_sum,
       round(num * 1.0 / den * 1000000) / 1000000 + 0.0 AS contribution,
       round((SELECT sum(num) FROM rows_) * 1.0 / den * 1000000)
           / 1000000 + 0.0 AS modularity
FROM rows_
"""


@register("graph_modularity_partition", oracle=_MODULARITY_ORACLE)
def graph_modularity_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    edges = _copurchase_edges(spark, sf_dir).persist()
    com = part.select(F.col("p_partkey").alias("p"), F.col("p_brand").alias("c"))
    m_val = edges.count()  # materializes the persist; bounded driver int
    lab = (
        # com is a per-NODE map (corpus-keyed) — no broadcast hint;
        # threshold/AQE decides (VERDICT r11 #1 bounded-broadcast policy)
        edges.join(
            com.select(F.col("p").alias("pa"), F.col("c").alias("ca")),
            "pa",
        )
        .join(
            com.select(F.col("p").alias("pb"), F.col("c").alias("cb")),
            "pb",
        )
    )
    intra = (
        lab.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("m_c"))
    )
    und = edges.select(F.col("pa").alias("p")).unionAll(
        edges.select(F.col("pb").alias("p"))
    )
    deg = (
        und.join(com, "p")
        .groupBy("c", "p")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .groupBy("c")
        .agg(
            F.sum("d").cast("long").alias("d_c"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
    )
    rows = deg.join(intra, "c", "left").select(
        "c",
        "n_nodes",
        F.coalesce(F.col("m_c"), F.lit(0)).cast("long").alias("intra_edges"),
        F.col("d_c").alias("degree_sum"),
        (
            F.lit(4 * m_val) * F.coalesce(F.col("m_c"), F.lit(0))
            - F.col("d_c") * F.col("d_c")
        )
        .cast("long")
        .alias("num"),
    )
    den = 4 * m_val * m_val
    tot = rows.agg(F.sum("num").alias("tnum"))
    out = rows.crossJoin(F.broadcast(tot)).select(
        F.col("c").alias("community"),
        "n_nodes",
        "intra_edges",
        "degree_sum",
        (
            F.round(F.col("num") * F.lit(1.0) / F.lit(den) * 1000000)
            / 1000000
            + F.lit(0.0)
        ).alias("contribution"),
        (
            F.round(F.col("tnum") * F.lit(1.0) / F.lit(den) * 1000000)
            / 1000000
            + F.lit(0.0)
        ).alias("modularity"),
    )
    res = out.collect()
    edges.unpersist()
    return spark.createDataFrame(res, out.schema)


# --- degree assortativity of the co-purchase graph -------------------------------
# Newman (2002) degree assortativity r — do high-degree products
# co-purchase with other high-degree products (hub-hub, r>0) or with
# leaves (hub-spoke, r<0)? Computed as the Pearson correlation of
# end-point degrees over the DOUBLED edge list (each undirected edge
# once per direction), which is exactly Newman's estimator:
# r = (2M·Σ_E' d_u d_v − (Σ_E' d_u)²) / (2M·Σ_E' d_u² − (Σ_E' d_u)²)
# over the doubled list E' (node terms: Σ_E' d_u = Σd², Σ_E' d_u² =
# Σd³ — the d³-scale moments). Every moment is an
# exact integer through DECIMAL(38,0) (d³-scale sums wrap int64 on
# web-scale graphs); the single final division is the only floating
# point. Scale: the same distinct-edge derivation as
# graph_triangle_count / adamic_adar (order-bounded pair volume);
# moments are one map-side-combined aggregate over edges joined to
# the degree table.
_ASSORT_ORACLE = """
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
und AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL
    SELECT pb AS u, pa AS v FROM edges
),
deg AS (SELECT u, count(*)::BIGINT AS d FROM und GROUP BY u),
m AS (
    SELECT count(*)::BIGINT AS m2,
           sum(CAST(du.d AS DECIMAL(38,0)) * dv.d) AS sxy,
           sum(CAST(du.d AS DECIMAL(38,0))) AS sx,
           sum(CAST(du.d AS DECIMAL(38,0)) * du.d) AS sxx
    FROM und
    JOIN deg du ON du.u = und.u
    JOIN deg dv ON dv.u = und.v
),
g AS (
    SELECT count(*)::BIGINT AS n_nodes, sum(d)::BIGINT AS sum_d,
           max(d)::BIGINT AS max_d
    FROM deg
)
SELECT g.n_nodes, (m.m2 // 2)::BIGINT AS n_edges, g.max_d AS max_degree,
       round(g.sum_d::DOUBLE / g.n_nodes * 10000) / 10000 + 0.0
           AS mean_degree,
       round((m.m2 * m.sxy - m.sx * m.sx)::DOUBLE
             / (m.m2 * m.sxx - m.sx * m.sx)::DOUBLE * 1000000)
           / 1000000 + 0.0 AS assortativity_r
FROM m, g
"""


@register("graph_degree_assortativity", oracle=_ASSORT_ORACLE)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    und = _und_of(edges)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    du = deg.select(F.col("u").alias("ju"), F.col("d").alias("d_u"))
    dv = deg.select(F.col("u").alias("jv"), F.col("d").alias("d_v"))
    m = (
        # per-node degree tables — corpus-keyed, no broadcast hint
        und.join(du, F.col("u") == F.col("ju"))
        .join(dv, F.col("v") == F.col("jv"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("m2"),
            F.sum(
                F.col("d_u").cast("decimal(38,0)") * F.col("d_v")
            ).alias("sxy"),
            F.sum(F.col("d_u").cast("decimal(38,0)")).alias("sx"),
            F.sum(
                F.col("d_u").cast("decimal(38,0)") * F.col("d_u")
            ).alias("sxx"),
        )
    )
    g = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("d").cast("long").alias("sum_d"),
        F.max("d").cast("long").alias("max_d"),
    )
    num = (
        F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx")
    ).cast("double")
    den = (
        F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return m.crossJoin(F.broadcast(g)).select(
        "n_nodes",
        F.floor(F.col("m2") / 2).cast("long").alias("n_edges"),
        F.col("max_d").alias("max_degree"),
        R.r(F.col("sum_d").cast("double") / F.col("n_nodes"), 4).alias(
            "mean_degree"
        ),
        R.r(num / den, 6).alias("assortativity_r"),
    )


# --- local clustering coefficient over the co-purchase graph -----------------
# Per-node Watts-Strogatz clustering: c_v = 2·t_v / (d_v·(d_v−1)),
# where t_v = edges among v's neighbors = closed wedges centered at v.
# Same distinct-edge + wedge machinery as adamic_adar (wedge volume
# Σ d(z)² — the triangle bound); the closure check is one join of the
# wedge table against the edge set. Exact integer ratio snapped to
# 1e-8 units for the deterministic top-20 cut (part id tie-break).

_LCC_TOPN = 20

_LCC_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
und AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL SELECT pb AS u, pa AS v FROM edges
),
deg AS (SELECT u, count(*)::BIGINT AS d FROM und GROUP BY 1),
closed AS (
    SELECT n1.u AS z, count(*)::BIGINT AS t
    FROM und n1
    JOIN und n2 ON n2.u = n1.u AND n1.v < n2.v
    JOIN deg dz ON dz.u = n1.u AND dz.d <= {_WEDGE_MAX_DEG}
    JOIN edges e ON e.pa = n1.v AND e.pb = n2.v
    GROUP BY 1
),
coef AS (
    -- nodes above the wedge cap are excluded from the output rather
    -- than reported with a truncated (wrong) coefficient
    SELECT deg.u AS part, deg.d, coalesce(closed.t, 0)::BIGINT AS t,
           CAST(round(2.0 * coalesce(closed.t, 0) * 100000000
                      / (deg.d * (deg.d - 1))) AS BIGINT) AS c_u
    FROM deg LEFT JOIN closed ON closed.z = deg.u
    WHERE deg.d >= 2 AND deg.d <= {_WEDGE_MAX_DEG}
)
SELECT part, d AS degree, t AS n_closed_wedges,
       round(c_u * 1.0 / 100000000 * 10000) / 10000 + 0.0
           AS clustering_coef
FROM coef
ORDER BY c_u DESC, part LIMIT {_LCC_TOPN}
"""


def _lcc_plan(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir).persist()
    deg, wedges = _capped_wedges(edges)
    closed = (
        wedges.join(
            edges,
            (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
            "left_semi",
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .select(F.col("u").alias("z"), "t")
    )
    coef = (
        deg.filter((F.col("d") >= 2) & (F.col("d") <= _WEDGE_MAX_DEG))
        .join(closed, deg["u"] == closed["z"], "left")
        .select(
            F.col("u").alias("part"),
            "d",
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("t"),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("t"), F.lit(0))
                * F.lit(100000000)
                / (F.col("d") * (F.col("d") - 1))
            )
            .cast("long")
            .alias("c_u"),
        )
    )
    out = (
        coef.orderBy(F.desc("c_u"), F.asc("part"))
        .limit(_LCC_TOPN)
        .select(
            "part",
            F.col("d").alias("degree"),
            F.col("t").alias("n_closed_wedges"),
            R.r(F.col("c_u") * F.lit(1.0) / 100000000, 4).alias(
                "clustering_coef"
            ),
        )
    )
    return out, [edges]


@register(
    "local_clustering_coefficient",
    oracle=_LCC_ORACLE,
    plan_fn=_plan_of(_lcc_plan),
)
def local_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _collected(spark, _lcc_plan, sf_dir)


# --- Jaccard-neighborhood link prediction ------------------------------------
# The set-overlap companion to adamic_adar on the same graph:
# jac(a,b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| for NOT-yet-co-purchased
# pairs; wedge-bounded candidate volume, existing edges removed by
# anti-join, exact integer ratio snapped to 1e-8 units for the
# deterministic top-20 cut.

_JLP_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
und AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL SELECT pb AS u, pa AS v FROM edges
),
deg AS (SELECT u, count(*)::BIGINT AS d FROM und GROUP BY 1),
common AS (
    SELECT n1.v AS a, n2.v AS b, count(*)::BIGINT AS nc
    FROM und n1 JOIN und n2 ON n2.u = n1.u AND n1.v < n2.v
    JOIN deg dz ON dz.u = n1.u AND dz.d <= {_WEDGE_MAX_DEG}
    GROUP BY 1, 2
),
cand AS (
    SELECT c.a, c.b, c.nc, da.d AS da, db.d AS db,
           CAST(round(c.nc * 100000000.0 / (da.d + db.d - c.nc))
                AS BIGINT) AS j_u
    FROM common c
    JOIN deg da ON da.u = c.a
    JOIN deg db ON db.u = c.b
    LEFT JOIN edges e ON e.pa = c.a AND e.pb = c.b
    WHERE e.pa IS NULL
)
SELECT a AS part_a, b AS part_b, nc AS n_common,
       round(j_u * 1.0 / 100000000 * 10000) / 10000 + 0.0 AS jaccard
FROM cand
ORDER BY j_u DESC, a, b LIMIT 20
"""


def _jlp_plan(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir).persist()
    deg, wedges = _capped_wedges(edges)
    common = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("nc")
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    cand = (
        common.join(
            edges,
            (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
            "left_anti",
        )
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "nc",
            F.round(
                F.col("nc") * F.lit(100000000.0)
                / (F.col("da") + F.col("db") - F.col("nc"))
            )
            .cast("long")
            .alias("j_u"),
        )
    )
    out = (
        cand.orderBy(F.desc("j_u"), F.asc("a"), F.asc("b"))
        .limit(20)
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("nc").alias("n_common"),
            R.r(F.col("j_u") * F.lit(1.0) / 100000000, 4).alias("jaccard"),
        )
    )
    return out, [edges]


@register(
    "jaccard_link_prediction",
    oracle=_JLP_ORACLE,
    plan_fn=_plan_of(_jlp_plan),
)
def jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _collected(spark, _jlp_plan, sf_dir)


# --- preferential-attachment link prediction -----------------------------------
# The degree-product predictor (Barabási-Albert): PA(a,b) = d(a)·d(b)
# for not-yet-co-purchased pairs. Candidates are wedge-generated
# (>=1 common neighbor) like the adamic_adar/jaccard siblings — pure
# PA over all non-edges is |V|² and pointless at scale; restricting to
# the 2-hop frontier is the standard production cut (documented). All
# integer scores; top-20 with (a, b) tie-break.

_PA_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
und AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL SELECT pb AS u, pa AS v FROM edges
),
deg AS (SELECT u, count(*)::BIGINT AS d FROM und GROUP BY 1),
common AS (
    SELECT DISTINCT n1.v AS a, n2.v AS b
    FROM und n1 JOIN und n2 ON n2.u = n1.u AND n1.v < n2.v
    JOIN deg dz ON dz.u = n1.u AND dz.d <= {_WEDGE_MAX_DEG}
),
cand AS (
    SELECT c.a, c.b, da.d AS da, db.d AS db, da.d * db.d AS pa_score
    FROM common c
    JOIN deg da ON da.u = c.a
    JOIN deg db ON db.u = c.b
    LEFT JOIN edges e ON e.pa = c.a AND e.pb = c.b
    WHERE e.pa IS NULL
)
SELECT a AS part_a, b AS part_b, da AS deg_a, db AS deg_b,
       pa_score::BIGINT AS pa_score
FROM cand
ORDER BY pa_score DESC, a, b LIMIT 20
"""


def _pa_plan(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir).persist()
    deg, wedges = _capped_wedges(edges)
    common = wedges.select("a", "b").distinct()
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    cand = (
        common.join(
            edges,
            (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
            "left_anti",
        )
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "da",
            "db",
            (F.col("da") * F.col("db")).cast("long").alias("pa_score"),
        )
    )
    out = (
        cand.orderBy(F.desc("pa_score"), F.asc("a"), F.asc("b"))
        .limit(20)
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("da").alias("deg_a"),
            F.col("db").alias("deg_b"),
            "pa_score",
        )
    )
    return out, [edges]


@register(
    "preferential_attachment_links",
    oracle=_PA_ORACLE,
    plan_fn=_plan_of(_pa_plan),
)
def preferential_attachment_links(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _collected(spark, _pa_plan, sf_dir)


# --- rich-club coefficient ------------------------------------------------------
# Do high-degree products co-purchase preferentially with each other?
# φ(k) = 2·E_k / (N_k·(N_k − 1)) over the subgraph of nodes with
# degree > k, for the doubling ladder k ∈ {1,2,4,8,16}. Exact integer
# counts; the edge subset check is two broadcast-joined degree lookups.
# Deliberately NOT wedge-capped (unlike the four link predictors):
# this query enumerates no wedges — volume is O(|edges|·|ks|) via the
# broadcast ladder join, with no Σ d(z)² term — and a degree cap would
# remove exactly the high-degree nodes φ(k) measures.

_RC_KS = [1, 2, 4, 8, 16]

_RC_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
und AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL SELECT pb AS u, pa AS v FROM edges
),
deg AS (SELECT u, count(*)::BIGINT AS d FROM und GROUP BY 1),
ks AS (SELECT unnest([{", ".join(str(k) for k in _RC_KS)}]) AS k),
nodes AS (
    SELECT ks.k, count(*)::BIGINT AS n_k
    FROM ks JOIN deg ON deg.d > ks.k GROUP BY 1
),
ek AS (
    SELECT ks.k, count(*)::BIGINT AS e_k
    FROM ks
    JOIN edges e ON TRUE
    JOIN deg da ON da.u = e.pa AND da.d > ks.k
    JOIN deg db ON db.u = e.pb AND db.d > ks.k
    GROUP BY 1
)
SELECT n.k AS min_degree_excl, n.n_k AS n_nodes,
       coalesce(ek.e_k, 0)::BIGINT AS n_edges,
       round(2.0 * coalesce(ek.e_k, 0) / (n.n_k * (n.n_k - 1)) * 1000000)
           / 1000000 + 0.0 AS rich_club_coef
FROM nodes n LEFT JOIN ek ON ek.k = n.k
WHERE n.n_k >= 2
"""


def _rc_plan(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir).persist()
    und = _und_of(edges)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    deg = deg.persist()
    ks = spark.createDataFrame([(k,) for k in _RC_KS], "k long")
    nodes = (
        ks.join(deg, deg["d"] > ks["k"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    )
    da = deg.select(F.col("u").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("pb"), F.col("d").alias("db"))
    lab = edges.join(da, "pa").join(db, "pb")
    ek = (
        F.broadcast(ks)
        .join(lab, (lab["da"] > ks["k"]) & (lab["db"] > ks["k"]))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e_k"))
    )
    out = (
        nodes.join(ek, "k", "left")
        .filter(F.col("n_k") >= 2)
        .select(
            F.col("k").alias("min_degree_excl"),
            F.col("n_k").alias("n_nodes"),
            F.coalesce(F.col("e_k"), F.lit(0)).cast("long")
            .alias("n_edges"),
            R.r(
                F.lit(2.0)
                * F.coalesce(F.col("e_k"), F.lit(0))
                / (F.col("n_k") * (F.col("n_k") - 1)),
                6,
            ).alias("rich_club_coef"),
        )
    )
    return out, [edges, deg]


@register(
    "rich_club_coefficient",
    oracle=_RC_ORACLE,
    plan_fn=_plan_of(_rc_plan),
)
def rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _collected(spark, _rc_plan, sf_dir)


# --- resource-allocation link prediction -----------------------------------------
# Zhou-Lü-Zhang 2009: Σ_z 1/deg(z) over common neighbors — completing
# the four classic common-neighbor predictors (adamic_adar, jaccard,
# preferential attachment already registered) on the same
# wedge-bounded candidate frontier. 1/d snaps to integer 1e-6 units
# (d >= 2 for any wedge center, no division hazard).

_RA_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
und AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL SELECT pb AS u, pa AS v FROM edges
),
deg AS (
    SELECT u, count(*)::BIGINT AS d,
           CAST(round(1000000.0 / count(*)) AS BIGINT) AS w_u
    FROM und GROUP BY u
),
wedges AS (
    SELECT n1.v AS a, n2.v AS b, d.w_u
    FROM und n1
    JOIN und n2 ON n2.u = n1.u AND n1.v < n2.v
    JOIN deg d ON d.u = n1.u AND d.d <= {_WEDGE_MAX_DEG}
),
cand AS (
    SELECT w.a, w.b, sum(w.w_u)::BIGINT AS score_u,
           count(*)::BIGINT AS n_common
    FROM wedges w
    LEFT JOIN edges e ON e.pa = w.a AND e.pb = w.b
    WHERE e.pa IS NULL
    GROUP BY w.a, w.b
)
SELECT a AS part_a, b AS part_b, n_common,
       round(score_u * 1.0 / 1000000 * 10000) / 10000 + 0.0 AS ra_score
FROM cand
ORDER BY score_u DESC, a, b LIMIT 20
"""


def _ra_plan(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir).persist()
    # 1/d weight per wedge center rides the capped degree table
    _, wedges = _capped_wedges(
        edges,
        center_cols=(
            (
                "w_u",
                lambda c: F.round(F.lit(1000000.0) / c).cast("long"),
            ),
        ),
    )
    cand = (
        wedges.join(
            edges,
            (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
            "left_anti",
        )
        .groupBy("a", "b")
        .agg(
            F.sum("w_u").cast("long").alias("score_u"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
    )
    out = (
        cand.orderBy(F.desc("score_u"), F.asc("a"), F.asc("b"))
        .limit(20)
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "n_common",
            R.r(F.col("score_u") * F.lit(1.0) / 1000000, 4)
            .alias("ra_score"),
        )
    )
    return out, [edges]


@register(
    "resource_allocation_links",
    oracle=_RA_ORACLE,
    plan_fn=_plan_of(_ra_plan),
)
def resource_allocation_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _collected(spark, _ra_plan, sf_dir)


# --- k-truss edge-support ladder ----------------------------------------------
# Cohen 2008: support(e) = triangles containing e; the k-truss keeps
# edges with support >= k-2. Reported as the support ladder (edge
# counts surviving k = 3..6) plus the max support — the subgraph-
# density audit a community pipeline runs before trusting triangle-
# dense clusters. Same capped wedge machinery as the link predictors
# (_WEDGE_MAX_DEG excludes celebrity wedge CENTERS in both engines);
# each closed wedge (z, a, b) with (a,b) an edge contributes one unit
# of support to edge (a,b). Exact integer counts, bounded output.

_TRUSS_KS = [3, 4, 5, 6]

_TRUSS_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
und AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL SELECT pb AS u, pa AS v FROM edges
),
deg AS (SELECT u, count(*)::BIGINT AS d FROM und GROUP BY 1),
sup AS (
    SELECT n1.v AS a, n2.v AS b, count(*)::BIGINT AS s
    FROM und n1
    JOIN und n2 ON n2.u = n1.u AND n1.v < n2.v
    JOIN deg dz ON dz.u = n1.u AND dz.d <= {_WEDGE_MAX_DEG}
    JOIN edges e ON e.pa = n1.v AND e.pb = n2.v
    GROUP BY 1, 2
),
ks AS (SELECT unnest([{", ".join(str(k) for k in _TRUSS_KS)}]) AS k),
tot AS (SELECT count(*)::BIGINT AS n_edges,
               coalesce(max(s.s), 0)::BIGINT AS max_support
        FROM edges e LEFT JOIN sup s ON s.a = e.pa AND s.b = e.pb)
SELECT ks.k::BIGINT AS k, tot.n_edges, tot.max_support,
       (SELECT count(*) FROM sup WHERE sup.s >= ks.k - 2)::BIGINT
           AS n_truss_edges
FROM ks, tot
ORDER BY k
"""


def _truss_plan(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir).persist()
    _, wedges = _capped_wedges(edges)
    sup = (
        wedges.join(
            edges,
            (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
            "left_semi",
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("s"))
        .persist()
    )
    tot = (
        edges.join(
            sup,
            (F.col("pa") == F.col("a")) & (F.col("pb") == F.col("b")),
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.coalesce(F.max("s"), F.lit(0)).cast("long").alias(
                "max_support"
            ),
        )
    )
    ks = spark.createDataFrame([(k,) for k in _TRUSS_KS], "k long")
    # per-k truss counts via a CROSS join against the 4-row ks table +
    # conditional aggregate — NOT a non-equi (s >= k-2) outer join,
    # whose BroadcastNestedLoopJoin defaultJoin path re-evaluates every
    # sup row against every k and re-scans the unbounded support table
    # per k (ADVICE r11 #4). The cross fan-out is a constant 4x, then
    # map-side partial agg; the tiny left join after it restores the
    # all-k rows an empty support table would otherwise drop.
    per_k = (
        sup.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("s") >= F.col("k") - 2, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_truss_edges")
        )
    )
    counts = ks.join(F.broadcast(per_k), "k", "left").select(
        "k",
        F.coalesce(F.col("n_truss_edges"), F.lit(0))
        .cast("long")
        .alias("n_truss_edges"),
    )
    out = (
        counts.crossJoin(F.broadcast(tot))
        .select("k", "n_edges", "max_support", "n_truss_edges")
        .orderBy("k")
    )
    return out, [edges, sup]


@register(
    "ktruss_support_ladder",
    oracle=_TRUSS_ORACLE,
    plan_fn=_plan_of(_truss_plan),
)
def ktruss_support_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _collected(spark, _truss_plan, sf_dir)


# --- Katz centrality, 2-hop truncation ----------------------------------------
# Katz 1953 truncated at walk length 2 with beta = 0.1:
# c(u) = beta*d(u) + beta^2 * sum_{z in N(u)} d(z) — in exact integer
# beta^2-units: score_u = 10*d(u) + sum_{z in N(u)} d(z). NO wedge
# enumeration (unlike the link predictors): the walk-2 term is one
# O(|edges|) join of the adjacency against the degree table — per-edge
# lookup volume, so no _WEDGE_MAX_DEG cap is needed or applied.
# Top-20 by exact integer score with node tie-break.

_KATZ_TOPN = 20

_KATZ_ORACLE = """
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_type = 'PROMO'
),
edges AS (
    SELECT DISTINCT a.p AS pa, b.p AS pb
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
und AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL SELECT pb AS u, pa AS v FROM edges
),
deg AS (SELECT u, count(*)::BIGINT AS d FROM und GROUP BY 1),
w2 AS (
    SELECT und.u, sum(dz.d)::BIGINT AS walks2
    FROM und JOIN deg dz ON dz.u = und.v
    GROUP BY und.u
),
score AS (
    SELECT deg.u AS part, deg.d AS degree, w2.walks2,
           10 * deg.d + w2.walks2 AS score_u
    FROM deg JOIN w2 ON w2.u = deg.u
)
SELECT part, degree, walks2,
       round(score_u / 100.0 * 10000) / 10000 + 0.0 AS katz_score
FROM score
ORDER BY score_u DESC, part
LIMIT 20
"""


def _katz_plan(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir)
    und = _und_of(edges).persist()
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    dz = deg.select(F.col("u").alias("zv"), F.col("d").alias("dz"))
    w2 = (
        und.join(dz, F.col("v") == F.col("zv"))
        .groupBy("u")
        .agg(F.sum("dz").cast("long").alias("walks2"))
    )
    score = deg.join(w2, "u").select(
        F.col("u").alias("part"),
        F.col("d").alias("degree"),
        "walks2",
        (10 * F.col("d") + F.col("walks2")).alias("score_u"),
    )
    out = (
        score.orderBy(F.desc("score_u"), F.asc("part"))
        .limit(_KATZ_TOPN)
        .select(
            "part",
            "degree",
            "walks2",
            R.r(F.col("score_u") / 100.0, 4).alias("katz_score"),
        )
    )
    return out, [und]


@register(
    "katz_centrality_2hop",
    oracle=_KATZ_ORACLE,
    plan_fn=_plan_of(_katz_plan),
)
def katz_centrality_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _collected(spark, _katz_plan, sf_dir)

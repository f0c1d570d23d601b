"""Round-11 statistics pack: Cramér–von Mises two-sample, the Quade
weighted-rank block test, generalized ESD (iterated Grubbs), and the
AMS F2 sign sketch.

Determinism follows the stats_tests2 discipline: every statistic is
built from exact integer counts (DECIMAL(38,0) where a term sum can
pass 2^63 — gotcha 13a), DECIMAL daily sums cast to double only as
whole values, squared deviations snapped to integer units BEFORE
summation (the grubbs pattern), sqrt on identical doubles (IEEE
correctly rounded), and every argmax/rank carries a day/event_type
tie-break. Scale: each op is one map-side-combined shuffle to a
bounded panel (|days| ≤ ~31, |lengths| domain, |vocab| counts), then
broadcast arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions import hashing as _H
from swat_mapreduce_spark.functions import rounding as R
from swat_mapreduce_spark.functions.text import ws_tokens
from swat_mapreduce_spark.queries import register
from swat_mapreduce_spark.queries.stats_tests import _daily_value
from swat_mapreduce_spark.sources.readers import read_table

# --- Cramér–von Mises two-sample: doc length, en vs non-en -------------------
# T = nm/(n+m)^2 · Σ_pooled (F_n − G_m)^2, evaluated on the bounded
# length-domain grid: per distinct length v with group counts
# (ca, cb) and cumulatives (CA, CB), the pooled sum is
# Σ_v (ca+cb)·(CA·m − CB·n)^2 / (n·m)^2, so
# T = S / (n·m·(n+m)^2) with S an exact integer (DECIMAL(38,0) sum —
# a single term reaches ~8e16 and the grid sum can pass 2^63).

_CVM_ORACLE = """
WITH g AS (
    SELECT n_chars AS v,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ca,
           sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS cb
    FROM documents GROUP BY 1
),
c AS (
    SELECT v, ca, cb,
           sum(ca) OVER (ORDER BY v)::BIGINT AS cca,
           sum(cb) OVER (ORDER BY v)::BIGINT AS ccb
    FROM g
),
nn AS (SELECT sum(ca)::BIGINT AS n, sum(cb)::BIGINT AS m FROM g),
s AS (
    -- d is cast to DECIMAL BEFORE squaring (ADVICE r11 #1): |d| can
    -- reach n*m, so an int64 d*d would overflow ~one tier above sf0.1
    -- — silently wrapping in non-ANSI Spark while DuckDB errors loudly.
    -- DECIMAL(19,0)^2 -> DECIMAL(38,0) on both engines: exact to 1e38,
    -- loud consistent overflow beyond.
    SELECT sum(CAST((c.ca + c.cb) AS DECIMAL(38,0))
               * (CAST(c.cca * nn.m - c.ccb * nn.n AS DECIMAL(19,0))
                  * CAST(c.cca * nn.m - c.ccb * nn.n AS DECIMAL(19,0))))
           AS su
    FROM c, nn
)
SELECT nn.n AS n_en, nn.m AS n_other,
       round(s.su::DOUBLE
             / (nn.n::DOUBLE * nn.m * (nn.n + nn.m) * (nn.n + nn.m))
             * 10000) / 10000 + 0.0 AS cvm_t
FROM s, nn
"""


@register("cramer_von_mises_two_sample", oracle=_CVM_ORACLE)
def cramer_von_mises_two_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    # cumulative ECDFs over the bounded length-domain grid (the
    # ks_two_sample global-window shape, allowlisted)
    w = Window.orderBy("v")
    c = g.select(
        "ca",
        "cb",
        F.sum("ca").over(w).cast("long").alias("cca"),
        F.sum("cb").over(w).cast("long").alias("ccb"),
    )
    nn = g.agg(
        F.sum("ca").cast("long").alias("n"),
        F.sum("cb").cast("long").alias("m"),
    )
    # d cast to DECIMAL(19,0) BEFORE squaring (ADVICE r11 #1): int64
    # d*d overflows once |d| > ~3e9 (one tier above sf0.1), silently
    # wrapping here while DuckDB errors; DECIMAL(19,0)^2 -> (38,0) is
    # exact to 1e38 with loud consistent overflow on both engines.
    d = (
        F.col("cca") * F.col("m") - F.col("ccb") * F.col("n")
    ).cast("decimal(19,0)")
    s = (
        c.crossJoin(F.broadcast(nn))
        .select(
            (
                (F.col("ca") + F.col("cb")).cast("decimal(38,0)")
                * (d * d)
            ).alias("term"),
            "n",
            "m",
        )
        .groupBy("n", "m")
        .agg(F.sum("term").alias("su"))
    )
    return s.select(
        F.col("n").alias("n_en"),
        F.col("m").alias("n_other"),
        R.r(
            F.col("su").cast("double")
            / (
                F.col("n").cast("double")
                * F.col("m")
                * (F.col("n") + F.col("m"))
                * (F.col("n") + F.col("m"))
            ),
            4,
        ).alias("cvm_t"),
    )


# --- Quade weighted-rank block test ------------------------------------------
# Quade 1979: the Friedman companion that weights blocks by the rank
# of their range, gaining power when block scale varies. Blocks = days
# (complete over the k=5 event types, friedman's complete-block drop),
# within-block ranks r_ij on the DECIMAL cell sums with event_type
# tie-break, block weights Q_i = rank of the exact DECIMAL range with
# day tie-break. S_ij = Q_i·(r_ij − 3) is an exact integer;
# F = (n−1)·SB / (n·A − SB) with A = Σ S_ij², SB = Σ_j S_j² — an
# exact integer ratio snapped at the end.

_QUADE_K = 5

_QUADE_ORACLE = f"""
WITH cell AS (
    SELECT ts::DATE AS day, event_type,
           sum(CAST(value AS DECIMAL(30,8))) AS x
    FROM events GROUP BY 1, 2
),
full_blocks AS (
    SELECT day FROM cell GROUP BY day
    HAVING count(*) = {_QUADE_K}
),
c2 AS (
    SELECT c.day, c.event_type, c.x FROM cell c
    JOIN full_blocks fb ON fb.day = c.day
),
rk AS (
    SELECT day, event_type,
           row_number() OVER (PARTITION BY day
                              ORDER BY x, event_type) AS r
    FROM c2
),
rng AS (
    SELECT day, max(x) - min(x) AS rg FROM c2 GROUP BY 1
),
q AS (
    SELECT day, row_number() OVER (ORDER BY rg, day)::BIGINT AS q
    FROM rng
),
sij AS (
    SELECT rk.day, rk.event_type,
           q.q * (rk.r - 3) AS s
    FROM rk JOIN q ON q.day = rk.day
),
a AS (SELECT sum(s * s)::BIGINT AS a, count(DISTINCT day)::BIGINT AS n
      FROM sij),
sj AS (SELECT event_type, sum(s)::BIGINT AS sj FROM sij GROUP BY 1),
sb AS (SELECT sum(sj * sj)::BIGINT AS sb FROM sj)
SELECT a.n AS n_blocks, a.a AS a_stat, sb.sb AS sb_stat,
       round((a.n - 1) * sb.sb * 1.0 / (a.n * a.a - sb.sb) * 10000)
           / 10000 + 0.0 AS f_stat
FROM a, sb
"""


@register("quade_test_event_types", oracle=_QUADE_ORACLE)
def quade_test_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.sum(F.col("value").cast("decimal(30,8)")).alias("x"))
    full_blocks = (
        cell.groupBy("day")
        .agg(F.count(F.lit(1)).alias("kk"))
        .filter(F.col("kk") == _QUADE_K)
        .select("day")
    )
    c2 = cell.join(F.broadcast(full_blocks), "day").persist()
    rk = c2.select(
        "day",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("day").orderBy("x", "event_type"))
        .alias("r"),
    )
    rng = c2.groupBy("day").agg((F.max("x") - F.min("x")).alias("rg"))
    # block-weight rank over the calendar-bounded day table
    q = rng.select(
        "day",
        F.row_number()
        .over(Window.orderBy("rg", "day"))
        .cast("long")
        .alias("q"),
    )
    # q broadcast by hint: left to AQE, whichever side finished first
    # was broadcast, and the plan varied by run
    sij = rk.join(F.broadcast(q), "day").select(
        "event_type", (F.col("q") * (F.col("r") - 3)).alias("s")
    )
    a = sij.agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("a"),
    )
    n = full_blocks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    sb = (
        sij.groupBy("event_type")
        .agg(F.sum("s").cast("long").alias("sj"))
        .agg(F.sum(F.col("sj") * F.col("sj")).cast("long").alias("sb"))
    )
    out = (
        a.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(sb))
        .select(
            F.col("n").alias("n_blocks"),
            F.col("a").alias("a_stat"),
            F.col("sb").alias("sb_stat"),
            R.r(
                (F.col("n") - 1)
                * F.col("sb")
                * F.lit(1.0)
                / (F.col("n") * F.col("a") - F.col("sb")),
                4,
            ).alias("f_stat"),
        )
    )
    rows = out.collect()
    c2.unpersist()
    return spark.createDataFrame(rows, out.schema)


# --- generalized ESD (Rosner 1983): iterated Grubbs, 3 rounds ----------------
# Round i removes the most extreme remaining day and reports
# R_i = max|x − mean_i| / s_i, each round recomputed on the surviving
# set — the multi-outlier extension of grubbs_outlier_daily, same
# snapped-deviation arithmetic (squared deviations in integer 1e-4
# units, sqrt on identical doubles), same (|dev| desc, day asc)
# election. Fixed 3 rounds on the ≤ ~31-row daily panel.

_ESD_ROUNDS = 3


def _esd_round_sql(src: str, i: int) -> str:
    return f"""
m{i} AS (
    SELECT count(*)::BIGINT AS n, (sum(x)::DOUBLE) / count(*) AS mu
    FROM {src}
),
dev{i} AS (
    SELECT day, x,
           CAST(round((x::DOUBLE - mu) * (x::DOUBLE - mu) * 10000)
                AS BIGINT) AS sq_u,
           abs(x::DOUBLE - mu) AS ad, n
    FROM {src}, m{i}
),
s{i} AS (
    SELECT n, sqrt((sum(sq_u)::DOUBLE / 10000) / (n - 1)) AS sd
    FROM dev{i} GROUP BY n
),
top{i} AS (SELECT day, ad FROM dev{i} ORDER BY ad DESC, day LIMIT 1),
r{i} AS (
    SELECT {i}::BIGINT AS round, s{i}.n AS n_remaining, top{i}.day
               AS outlier_day,
           round(top{i}.ad / s{i}.sd * 1000000) / 1000000 + 0.0 AS r_stat
    FROM s{i}, top{i}
),
d{i + 1} AS (
    SELECT d.day, d.x FROM {src} d, top{i} t WHERE d.day <> t.day
)"""


_ESD_ORACLE = (
    """
WITH d1 AS (
    SELECT ts::DATE AS day, sum(CAST(value AS DECIMAL(30,8))) AS x
    FROM events GROUP BY 1
),"""
    + ",".join(_esd_round_sql(f"d{i}", i) for i in range(1, _ESD_ROUNDS + 1))
    + """
SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
ORDER BY round
"""
)


@register("generalized_esd_daily", oracle=_ESD_ORACLE)
def generalized_esd_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_value(spark, sf_dir).persist()
    cur = daily
    out_rows = []
    schema = "round long, n_remaining long, outlier_day date, r_stat double"
    for i in range(1, _ESD_ROUNDS + 1):
        m = cur.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"),
        )
        dev = cur.crossJoin(F.broadcast(m)).select(
            "day",
            "n",
            F.round(
                (F.col("x").cast("double") - F.col("mu"))
                * (F.col("x").cast("double") - F.col("mu"))
                * F.lit(10000)
            )
            .cast("long")
            .alias("sq_u"),
            F.abs(F.col("x").cast("double") - F.col("mu")).alias("ad"),
        )
        s = dev.groupBy("n").agg(
            F.sqrt(
                (F.sum("sq_u").cast("double") / F.lit(10000))
                / (F.col("n") - 1)
            ).alias("sd")
        )
        top = (
            dev.orderBy(F.desc("ad"), F.asc("day"))
            .limit(1)
            .select("day", "ad")
        )
        row = (
            s.crossJoin(F.broadcast(top))
            .select(
                F.lit(i).cast("long").alias("round"),
                F.col("n").alias("n_remaining"),
                F.col("day").alias("outlier_day"),
                R.r(F.col("ad") / F.col("sd"), 6).alias("r_stat"),
            )
            .collect()
        )
        out_rows.extend(row)
        removed = row[0]["outlier_day"]
        cur = cur.filter(F.col("day") != F.lit(removed))
    daily.unpersist()
    return spark.createDataFrame(out_rows, schema)


# --- AMS F2 sign sketch over corpus token counts ------------------------------
# Alon-Matias-Szegedy 1996: the second frequency moment F2 = Σ c_t²
# estimated by 16 ±1-sign linear sketches z_j = Σ sign_j(t)·c_t,
# median of 4 means of 4 — EVERYTHING exact integers until the final
# /8 (the median of 4 values is the mean of the middle two group
# sums over 8). Signs derive from the shared md5 primitive (parity of
# one hash nibble per sketch), identical in both engines. One token
# shuffle builds the count table; the 16 sign aggregates ride the same
# single pass. True F2 is reported alongside for the accuracy audit.

_AMS_J = 16


def _ams_sign_duck(j: int) -> str:
    h = _H.duck_hash_uint(_H.sql_salted("t", f"'ams{j}'"), 1)
    return f"(1 - 2 * ({h} % 2))"


_AMS_ORACLE = (
    r"""
WITH tok AS (
    SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> len(x) > 0)) AS t
    FROM documents
),
cnt AS (SELECT t, count(*)::BIGINT AS c FROM tok GROUP BY 1),
z AS (
    SELECT
"""
    + ",\n".join(
        f"        sum({_ams_sign_duck(j)} * c)::BIGINT AS z{j}"
        for j in range(_AMS_J)
    )
    + """,
        sum(c * c)::BIGINT AS true_f2,
        sum(c)::BIGINT AS n_tokens
    FROM cnt
),
gm AS (
    SELECT n_tokens, true_f2,
           list_sort(["""
    + ", ".join(
        " + ".join(f"z{g * 4 + j} * z{g * 4 + j}" for j in range(4))
        for g in range(4)
    )
    + """]) AS gs
    FROM z
)
SELECT n_tokens, true_f2,
       round((gs[2] + gs[3]) / 8.0 * 10000) / 10000 + 0.0 AS est_f2,
       round(abs((gs[2] + gs[3]) / 8.0 - true_f2) / true_f2 * 10000)
           / 10000 + 0.0 AS rel_err
FROM gm
"""
)


@register("ams_f2_sketch_tokens", oracle=_AMS_ORACLE)
def ams_f2_sketch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )

    def sign(j: int):
        return 1 - 2 * (_H.hash_uint(F.col("t"), f"ams{j}", 1) % 2)

    z = cnt.agg(
        *[
            F.sum(sign(j) * F.col("c")).cast("long").alias(f"z{j}")
            for j in range(_AMS_J)
        ],
        F.sum(F.col("c") * F.col("c")).cast("long").alias("true_f2"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    gs = F.array_sort(
        F.array(
            *[
                sum(
                    F.col(f"z{g * 4 + j}") * F.col(f"z{g * 4 + j}")
                    for j in range(4)
                )
                for g in range(4)
            ]
        )
    )
    est = (F.element_at(gs, 2) + F.element_at(gs, 3)) / 8.0
    return z.select(
        "n_tokens",
        "true_f2",
        R.r(est, 4).alias("est_f2"),
        R.r(F.abs(est - F.col("true_f2")) / F.col("true_f2"), 4).alias(
            "rel_err"
        ),
    )


# --- Herfindahl-Hirschman concentration of customer revenue -------------------
# The market-concentration number a data-mixing pipeline computes over
# source shares, here over customer revenue: HHI = Σ share_i². Revenue
# flows as exact integer cents (gotcha 2 discipline without decimal
# division — gotcha 8); each share is snapped to integer 1e-8 units
# BEFORE squaring, and the square sum rides DECIMAL(38,0) so the
# result is order-independent at any customer count. One groupBy
# shuffle, scalar output.

_HHI_ORACLE = """
WITH rev AS (
    SELECT o_custkey,
           sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS rc
    FROM orders GROUP BY 1
),
tot AS (SELECT sum(rc)::BIGINT AS t, count(*)::BIGINT AS n FROM rev),
sh AS (
    SELECT CAST(round(rev.rc * 100000000.0 / tot.t) AS BIGINT) AS s
    FROM rev, tot
)
SELECT tot.n AS n_customers,
       round(sum(CAST(sh.s AS DECIMAL(38,0)) * sh.s)::DOUBLE
             / 10000000000000000 * 1000000) / 1000000 + 0.0 AS hhi,
       round(1000000.0 / tot.n) / 1000000 + 0.0 AS hhi_uniform_floor
FROM sh, tot
GROUP BY tot.n
"""


@register("herfindahl_customer_revenue", oracle=_HHI_ORACLE)
def herfindahl_customer_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rc")
    )
    tot = rev.agg(
        F.sum("rc").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    sh = rev.crossJoin(F.broadcast(tot)).select(
        F.round(F.col("rc") * 100000000.0 / F.col("t"))
        .cast("long")
        .alias("s"),
        "n",
    )
    return sh.groupBy("n").agg(
        F.col("n").alias("n_customers"),
        R.r(
            F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).cast(
                "double"
            )
            / F.lit(1e16),
            6,
        ).alias("hhi"),
        # mirror the oracle's single multiply-round-divide on the same
        # binary double — R.r(x/1e6, 6) would re-multiply by 1e6 after
        # a divide, a double-rounding that can land 1 ulp off on a
        # half-integer quotient like 1e6/80000 = 12.5 (ADVICE r11 #3,
        # gotcha 13a)
        (
            F.round(F.lit(1000000.0) / F.col("n")).cast("long") / 1e6
            + 0.0
        ).alias("hhi_uniform_floor"),
    ).select("n_customers", "hhi", "hhi_uniform_floor")


# --- Cox-Stuart trend test on the daily value series --------------------------
# Pair the i-th day with the (i+c)-th (c = ceil(n/2), middle dropped
# when n is odd): S+ = #(later > earlier). Exact integer counts on the
# exact DECIMAL daily sums; positions come from a row_number over the
# calendar-bounded day table (allowlisted global window).

_COX_STUART_ORACLE = """
WITH daily AS (
    SELECT ts::DATE AS day, sum(CAST(value AS DECIMAL(30,8))) AS x
    FROM events GROUP BY 1
),
idx AS (
    SELECT day, x, row_number() OVER (ORDER BY day) AS i,
           count(*) OVER () AS n
    FROM daily
),
c AS (SELECT max(n)::BIGINT AS n,
             CAST(ceil(max(n) / 2.0) AS BIGINT) AS c FROM idx),
pr AS (
    SELECT a.x AS xa, b.x AS xb
    FROM idx a
    JOIN c ON TRUE
    JOIN idx b ON b.i = a.i + c.c
    WHERE a.i <= c.n - c.c
)
SELECT (SELECT n FROM c) AS n_days,
       count(*)::BIGINT AS n_pairs,
       sum(CASE WHEN xb > xa THEN 1 ELSE 0 END)::BIGINT AS n_up,
       sum(CASE WHEN xb < xa THEN 1 ELSE 0 END)::BIGINT AS n_down
FROM pr
"""


@register("cox_stuart_trend_daily", oracle=_COX_STUART_ORACLE)
def cox_stuart_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_value(spark, sf_dir)
    # calendar-bounded day table: global window allowlisted
    w = Window.orderBy("day")
    idx = daily.select(
        "x",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))
        ).alias("n"),
    )
    c = idx.agg(
        F.max("n").cast("long").alias("n"),
        F.ceil(F.max("n") / 2.0).cast("long").alias("c"),
    )
    a = idx.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = idx.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    pr = (
        a.crossJoin(F.broadcast(c))
        .filter(F.col("ia") <= F.col("n") - F.col("c"))
        .join(b, F.col("ib") == F.col("ia") + F.col("c"))
    )
    return pr.agg(
        F.max("n").cast("long").alias("n_days"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("xb") > F.col("xa"), 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("xb") < F.col("xa"), 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
    )


# --- Bhattacharyya / Hellinger distance: en vs non-en lengths -----------------
# BC = Σ_v sqrt(p_v·q_v) over the distinct-length grid =
# Σ_v sqrt(ca_v·cb_v) / sqrt(n·m). Each per-grid-point
# sqrt(ca·cb) — an IEEE-exact sqrt of an exact integer — is snapped to
# integer 1e-8 units before the sum (order-independence), and the
# Hellinger distance sqrt(1 − BC) derives from the identical double.
# No cumulative window needed: one grid groupBy, one sum.

_BHAT_ORACLE = """
WITH g AS (
    SELECT n_chars AS v,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ca,
           sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS cb
    FROM documents GROUP BY 1
),
nn AS (SELECT sum(ca)::BIGINT AS n, sum(cb)::BIGINT AS m FROM g),
t AS (
    SELECT sum(CAST(round(sqrt(ca * cb) * 100000000) AS BIGINT))::BIGINT
               AS su
    FROM g
)
SELECT nn.n AS n_en, nn.m AS n_other,
       round(t.su / 100000000.0 / sqrt(nn.n::DOUBLE * nn.m) * 10000)
           / 10000 + 0.0 AS bhattacharyya_coef,
       round(sqrt(1 - t.su / 100000000.0 / sqrt(nn.n::DOUBLE * nn.m))
             * 10000) / 10000 + 0.0 AS hellinger_dist
FROM t, nn
"""


@register("bhattacharyya_hellinger_lengths", oracle=_BHAT_ORACLE)
def bhattacharyya_hellinger_lengths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    nn = g.agg(
        F.sum("ca").cast("long").alias("n"),
        F.sum("cb").cast("long").alias("m"),
    )
    t = g.agg(
        F.sum(
            F.round(F.sqrt(F.col("ca") * F.col("cb")) * 1e8).cast("long")
        )
        .cast("long")
        .alias("su")
    )
    bc = F.col("su") / 1e8 / F.sqrt(F.col("n").cast("double") * F.col("m"))
    return (
        t.crossJoin(F.broadcast(nn))
        .select(
            F.col("n").alias("n_en"),
            F.col("m").alias("n_other"),
            R.r(bc, 4).alias("bhattacharyya_coef"),
            R.r(F.sqrt(1 - bc), 4).alias("hellinger_dist"),
        )
    )


# --- total-variation distance: en vs non-en lengths ---------------------------
# TV = ½ Σ_v |p_v − q_v| = ½ Σ_v |ca_v·m − cb_v·n| / (n·m) — EXACT
# integers end to end, one ratio at the end. The companion bound to
# the Hellinger op (TV ≤ sqrt(2)·H).

_TV_ORACLE = """
WITH g AS (
    SELECT n_chars AS v,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ca,
           sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS cb
    FROM documents GROUP BY 1
),
nn AS (SELECT sum(ca)::BIGINT AS n, sum(cb)::BIGINT AS m FROM g),
t AS (
    SELECT sum(abs(g.ca * nn.m - g.cb * nn.n))::BIGINT AS su
    FROM g, nn
)
SELECT nn.n AS n_en, nn.m AS n_other,
       round(t.su * 0.5 / (nn.n::DOUBLE * nn.m) * 10000) / 10000 + 0.0
           AS tv_distance
FROM t, nn
"""


@register("total_variation_lang_lengths", oracle=_TV_ORACLE)
def total_variation_lang_lengths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    nn = g.agg(
        F.sum("ca").cast("long").alias("n"),
        F.sum("cb").cast("long").alias("m"),
    )
    t = (
        g.crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                F.abs(F.col("ca") * F.col("m") - F.col("cb") * F.col("n"))
            )
            .cast("long")
            .alias("su"),
            F.max("n").alias("n"),
            F.max("m").alias("m"),
        )
    )
    return t.select(
        F.col("n").alias("n_en"),
        F.col("m").alias("n_other"),
        R.r(
            F.col("su") * 0.5 / (F.col("n").cast("double") * F.col("m")), 4
        ).alias("tv_distance"),
    )


# --- point-biserial correlation: is-english vs document length ---------------
# r_pb = (M1 − M0)/s_n · sqrt(n1·n0)/n with the population s_n —
# every moment is an exact integer sum (n_chars and its square), so
# both engines evaluate the identical IEEE expression tree. The
# effect-size companion to the registered rank-based AUC.

_PB_ORACLE = """
WITH s AS (
    SELECT count(*)::BIGINT AS n,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n1,
           sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END)::BIGINT
               AS s1,
           sum(n_chars)::BIGINT AS st,
           sum(n_chars * n_chars)::BIGINT AS ss
    FROM documents
)
SELECT n, n1, (n - n1)::BIGINT AS n0,
       round(((s1::DOUBLE / n1) - ((st - s1)::DOUBLE / (n - n1)))
             / sqrt(ss::DOUBLE / n - (st::DOUBLE / n) * (st::DOUBLE / n))
             * sqrt(n1::DOUBLE * (n - n1)) / n * 10000) / 10000 + 0.0
           AS r_pb
FROM s
"""


@register("point_biserial_length_en", oracle=_PB_ORACLE)
def point_biserial_length_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    en = F.when(F.col("lang") == "en", 1).otherwise(0)
    s = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(en).cast("long").alias("n1"),
        F.sum(en * F.col("n_chars")).cast("long").alias("s1"),
        F.sum("n_chars").cast("long").alias("st"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("ss"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m0 = (F.col("st") - F.col("s1")).cast("double") / (
        F.col("n") - F.col("n1")
    )
    sn = F.sqrt(
        F.col("ss").cast("double") / F.col("n")
        - (F.col("st").cast("double") / F.col("n"))
        * (F.col("st").cast("double") / F.col("n"))
    )
    return s.select(
        "n",
        "n1",
        (F.col("n") - F.col("n1")).cast("long").alias("n0"),
        R.r(
            (m1 - m0)
            / sn
            * F.sqrt(
                F.col("n1").cast("double") * (F.col("n") - F.col("n1"))
            )
            / F.col("n"),
            4,
        ).alias("r_pb"),
    )


# --- mutual information of the lang x source contingency ----------------------
# I(L;S) = Σ_ij (c_ij/n)·ln(n·c_ij/(c_i·c_j)), with each log term an
# ln of an exact integer rational snapped to 1e-8 units and weighted
# by the exact cell count (the llm_text9 LM discipline); the marginal
# entropies use the same snapping. |langs|·|sources|-bounded panel.

_MI_ORACLE = """
WITH c AS (
    SELECT lang, source, count(*)::BIGINT AS cij
    FROM documents GROUP BY 1, 2
),
ml AS (SELECT lang, sum(cij)::BIGINT AS ci FROM c GROUP BY 1),
ms AS (SELECT source, sum(cij)::BIGINT AS cj FROM c GROUP BY 1),
nn AS (SELECT sum(cij)::BIGINT AS n FROM c),
mi AS (
    SELECT sum(c.cij * CAST(round(ln(nn.n::DOUBLE * c.cij
                                     / (ml.ci * ms.cj)) * 100000000)
                            AS BIGINT))::BIGINT AS mi_u,
           max(nn.n) AS n
    FROM c
    JOIN ml ON ml.lang = c.lang
    JOIN ms ON ms.source = c.source
    CROSS JOIN nn
),
hl AS (
    SELECT sum(ci * CAST(round(ln(ci * 1.0 / nn.n) * 100000000)
                         AS BIGINT))::BIGINT AS h_u
    FROM ml, nn
),
hs AS (
    SELECT sum(cj * CAST(round(ln(cj * 1.0 / nn.n) * 100000000)
                         AS BIGINT))::BIGINT AS h_u
    FROM ms, nn
)
SELECT mi.n AS n_docs,
       round(mi.mi_u * 1.0 / mi.n / 100000000 * 10000) / 10000 + 0.0
           AS mutual_info_nats,
       round(-hl.h_u * 1.0 / mi.n / 100000000 * 10000) / 10000 + 0.0
           AS h_lang,
       round(-hs.h_u * 1.0 / mi.n / 100000000 * 10000) / 10000 + 0.0
           AS h_source
FROM mi, hl, hs
"""


@register("mutual_information_lang_source", oracle=_MI_ORACLE)
def mutual_information_lang_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("cij")
    ).persist()
    ml = c.groupBy("lang").agg(F.sum("cij").cast("long").alias("ci"))
    ms = c.groupBy("source").agg(F.sum("cij").cast("long").alias("cj"))
    nn = c.agg(F.sum("cij").cast("long").alias("n"))
    term = F.round(
        F.log(
            F.col("n").cast("double")
            * F.col("cij")
            / (F.col("ci") * F.col("cj"))
        )
        * 1e8
    ).cast("long")
    mi = (
        c.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(nn))
        .agg(
            F.sum(F.col("cij") * term).cast("long").alias("mi_u"),
            F.max("n").alias("n"),
        )
    )

    def h_of(marg, cnt):
        return (
            marg.crossJoin(F.broadcast(nn))
            .agg(
                F.sum(
                    F.col(cnt)
                    * F.round(
                        F.log(F.col(cnt) * 1.0 / F.col("n")) * 1e8
                    ).cast("long")
                )
                .cast("long")
                .alias("h_u")
            )
        )

    hl = h_of(ml, "ci").withColumnRenamed("h_u", "hl_u")
    hs = h_of(ms, "cj").withColumnRenamed("h_u", "hs_u")
    out = (
        mi.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
        .select(
            F.col("n").alias("n_docs"),
            R.r(F.col("mi_u") * 1.0 / F.col("n") / 1e8, 4).alias(
                "mutual_info_nats"
            ),
            R.r(-F.col("hl_u") * 1.0 / F.col("n") / 1e8, 4).alias("h_lang"),
            R.r(-F.col("hs_u") * 1.0 / F.col("n") / 1e8, 4).alias(
                "h_source"
            ),
        )
    )
    rows = out.collect()
    c.unpersist()
    return spark.createDataFrame(rows, out.schema)


# --- odds ratio / risk ratio: english x long-document 2x2 --------------------
# The epidemiology pair over the (lang = en) x (n_chars > 300) table:
# OR = ad/bc, RR = [a/(a+b)] / [c/(c+d)], Woolf log-OR standard error
# sqrt(1/a + 1/b + 1/c + 1/d). Exact integer cells (threshold 300
# selects rows at every SF: length range 44-577, median ~300); the
# only non-rational steps are one ln and one sqrt on identical
# doubles.

_OR_THRESH = 300

_OR_ORACLE = f"""
WITH t AS (
    SELECT
        sum(CASE WHEN lang = 'en' AND n_chars > {_OR_THRESH}
            THEN 1 ELSE 0 END)::BIGINT AS a,
        sum(CASE WHEN lang = 'en' AND n_chars <= {_OR_THRESH}
            THEN 1 ELSE 0 END)::BIGINT AS b,
        sum(CASE WHEN lang <> 'en' AND n_chars > {_OR_THRESH}
            THEN 1 ELSE 0 END)::BIGINT AS c,
        sum(CASE WHEN lang <> 'en' AND n_chars <= {_OR_THRESH}
            THEN 1 ELSE 0 END)::BIGINT AS d
    FROM documents
)
SELECT a, b, c, d,
       round(a::DOUBLE * d / (b::DOUBLE * c) * 10000) / 10000 + 0.0
           AS odds_ratio,
       round((a::DOUBLE / (a + b)) / (c::DOUBLE / (c + d)) * 10000)
           / 10000 + 0.0 AS risk_ratio,
       round(sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d) * 10000) / 10000 + 0.0
           AS log_or_se
FROM t
"""


@register("odds_risk_ratio_en_long", oracle=_OR_ORACLE)
def odds_risk_ratio_en_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")

    def cell(lang_en: bool, long_doc: bool):
        lc = (
            F.col("lang") == "en" if lang_en else F.col("lang") != "en"
        )
        nc = (
            F.col("n_chars") > _OR_THRESH
            if long_doc
            else F.col("n_chars") <= _OR_THRESH
        )
        return F.sum(F.when(lc & nc, 1).otherwise(0)).cast("long")

    t = docs.agg(
        cell(True, True).alias("a"),
        cell(True, False).alias("b"),
        cell(False, True).alias("c"),
        cell(False, False).alias("d"),
    )
    a, b, c, d = (F.col(x).cast("double") for x in "abcd")
    return t.select(
        "a",
        "b",
        "c",
        "d",
        R.r(a * d / (b * c), 4).alias("odds_ratio"),
        R.r((a / (a + b)) / (c / (c + d)), 4).alias("risk_ratio"),
        R.r(F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d), 4).alias(
            "log_or_se"
        ),
    )


# --- Poisson dispersion index of daily event counts ---------------------------
# Is daily traffic Poisson? chi2 = Σ_i (x_i − N/d)²/(N/d) =
# Σ_i (d·x_i − N)² / (d·N) — EXACT integers until one final division
# (counts are integers, d = #days, N = total events). Dispersion
# D = chi2/(d−1); D >> 1 ⇒ overdispersed (burstiness evidence, the
# count-side companion to fano_burstiness_users).

_POIS_ORACLE = """
WITH daily AS (
    SELECT ts::DATE AS day, count(*)::BIGINT AS x
    FROM events GROUP BY 1
),
m AS (SELECT count(*)::BIGINT AS d, sum(x)::BIGINT AS n FROM daily),
s AS (
    SELECT sum(CAST((m.d * daily.x - m.n) AS DECIMAL(38,0))
               * (m.d * daily.x - m.n)) AS su
    FROM daily, m
)
SELECT m.d AS n_days, m.n AS n_events,
       round(s.su::DOUBLE / (m.d::DOUBLE * m.n) * 10000) / 10000 + 0.0
           AS chi2_stat,
       round(s.su::DOUBLE / (m.d::DOUBLE * m.n) / (m.d - 1) * 10000)
           / 10000 + 0.0 AS dispersion_index
FROM s, m
"""


@register("poisson_dispersion_daily", oracle=_POIS_ORACLE)
def poisson_dispersion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.select(
        F.col("ts").cast("date").alias("day"), "*"
    ).groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("x").cast("long").alias("n"),
    )
    s = daily.crossJoin(F.broadcast(m)).agg(
        F.sum(
            (F.col("d") * F.col("x") - F.col("n")).cast("decimal(38,0)")
            * (F.col("d") * F.col("x") - F.col("n"))
        ).alias("su"),
        F.max("d").alias("d"),
        F.max("n").alias("n"),
    )
    chi2 = F.col("su").cast("double") / (
        F.col("d").cast("double") * F.col("n")
    )
    return s.select(
        F.col("d").alias("n_days"),
        F.col("n").alias("n_events"),
        R.r(chi2, 4).alias("chi2_stat"),
        R.r(chi2 / (F.col("d") - 1), 4).alias("dispersion_index"),
    )


# --- Tschuprow's T and Pearson's contingency coefficient ----------------------
# The two classic chi-square effect sizes alongside the registered
# cramers_v: T = sqrt(chi2/(n·sqrt((r−1)(c−1)))), C = sqrt(chi2/
# (chi2+n)). Same full-grid machinery as chi2_independence_lang_source
# (absent cells still contribute expected counts; per-cell terms snap
# to DECIMAL(30,8) before the order-insensitive sum).

_TSCH_ORACLE = """
WITH cells AS (
    SELECT lang, source, count(*)::BIGINT AS o
    FROM documents GROUP BY lang, source
),
rows_ AS (SELECT lang, sum(o)::BIGINT AS rl FROM cells GROUP BY lang),
cols_ AS (SELECT source, sum(o)::BIGINT AS cs FROM cells GROUP BY source),
nn AS (SELECT sum(o)::BIGINT AS n FROM cells),
grid AS (
    SELECT r.lang, l.source, r.rl, l.cs, coalesce(c.o, 0) AS o
    FROM rows_ r CROSS JOIN cols_ l
    LEFT JOIN cells c ON c.lang = r.lang AND c.source = l.source
),
terms AS (
    SELECT CAST((g.o - g.rl * 1.0 * g.cs / nn.n)
                * (g.o - g.rl * 1.0 * g.cs / nn.n)
                / (g.rl * 1.0 * g.cs / nn.n) AS DECIMAL(30,8)) AS t
    FROM grid g CROSS JOIN nn
),
dims_ AS (
    SELECT (SELECT count(*) FROM rows_)::BIGINT AS r,
           (SELECT count(*) FROM cols_)::BIGINT AS c
)
SELECT nn.n AS n_docs,
       round(sum(terms.t)::DOUBLE * 10000) / 10000 + 0.0 AS chi2,
       round(sqrt(sum(terms.t)::DOUBLE
                  / (nn.n * sqrt((d.r - 1.0) * (d.c - 1.0)))) * 10000)
           / 10000 + 0.0 AS tschuprow_t,
       round(sqrt(sum(terms.t)::DOUBLE
                  / (sum(terms.t)::DOUBLE + nn.n)) * 10000) / 10000
           + 0.0 AS contingency_c
FROM terms, dims_ d, nn
GROUP BY d.r, d.c, nn.n
"""


@register("tschuprow_contingency_lang_source", oracle=_TSCH_ORACLE)
def tschuprow_contingency_lang_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows_ = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("rl"))
    cols_ = cells.groupBy("source").agg(
        F.sum("o").cast("long").alias("cs")
    )
    nn = cells.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rows_.crossJoin(cols_)
        .join(cells, ["lang", "source"], "left")
        .select(
            "rl", "cs", F.coalesce(F.col("o"), F.lit(0)).alias("o")
        )
    )
    e = F.col("rl") * 1.0 * F.col("cs") / F.col("n")
    terms = grid.crossJoin(F.broadcast(nn)).select(
        ((F.col("o") - e) * (F.col("o") - e) / e)
        .cast("decimal(30,8)")
        .alias("t"),
        "n",
    )
    r = rows_.agg(F.count(F.lit(1)).cast("long").alias("r"))
    c = cols_.agg(F.count(F.lit(1)).cast("long").alias("c"))
    chi2 = F.sum("t").cast("double")
    return (
        terms.groupBy("n")
        .agg(chi2.alias("chi2d"))
        .crossJoin(F.broadcast(r))
        .crossJoin(F.broadcast(c))
        .select(
            F.col("n").alias("n_docs"),
            R.r(F.col("chi2d"), 4).alias("chi2"),
            R.r(
                F.sqrt(
                    F.col("chi2d")
                    / (
                        F.col("n")
                        * F.sqrt((F.col("r") - 1.0) * (F.col("c") - 1.0))
                    )
                ),
                4,
            ).alias("tschuprow_t"),
            R.r(
                F.sqrt(F.col("chi2d") / (F.col("chi2d") + F.col("n"))), 4
            ).alias("contingency_c"),
        )
    )


# --- Theil's uncertainty coefficient U(lang|source), U(source|lang) -----------
# The asymmetric normalized-MI pair: U(L|S) = I(L;S)/H(L). Reuses the
# mutual_information machinery — every log term is an ln of an exact
# integer rational snapped to 1e-8 units, so both U values are exact
# integer ratios of snapped unit sums.

_THEIL_U_ORACLE = """
WITH c AS (
    SELECT lang, source, count(*)::BIGINT AS cij
    FROM documents GROUP BY 1, 2
),
ml AS (SELECT lang, sum(cij)::BIGINT AS ci FROM c GROUP BY 1),
ms AS (SELECT source, sum(cij)::BIGINT AS cj FROM c GROUP BY 1),
nn AS (SELECT sum(cij)::BIGINT AS n FROM c),
mi AS (
    SELECT sum(c.cij * CAST(round(ln(nn.n::DOUBLE * c.cij
                                     / (ml.ci * ms.cj)) * 100000000)
                            AS BIGINT))::BIGINT AS mi_u
    FROM c JOIN ml ON ml.lang = c.lang
           JOIN ms ON ms.source = c.source
    CROSS JOIN nn
),
hl AS (
    SELECT -sum(ci * CAST(round(ln(ci * 1.0 / nn.n) * 100000000)
                          AS BIGINT))::BIGINT AS h_u
    FROM ml, nn
),
hs AS (
    SELECT -sum(cj * CAST(round(ln(cj * 1.0 / nn.n) * 100000000)
                          AS BIGINT))::BIGINT AS h_u
    FROM ms, nn
)
SELECT (SELECT n FROM nn) AS n_docs,
       round(mi.mi_u * 1.0 / hl.h_u * 10000) / 10000 + 0.0
           AS u_lang_given_source,
       round(mi.mi_u * 1.0 / hs.h_u * 10000) / 10000 + 0.0
           AS u_source_given_lang
FROM mi, hl, hs
"""


@register("theil_u_lang_source", oracle=_THEIL_U_ORACLE)
def theil_u_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("cij")
    ).persist()
    ml = c.groupBy("lang").agg(F.sum("cij").cast("long").alias("ci"))
    ms = c.groupBy("source").agg(F.sum("cij").cast("long").alias("cj"))
    nn = c.agg(F.sum("cij").cast("long").alias("n"))
    term = F.round(
        F.log(
            F.col("n").cast("double")
            * F.col("cij")
            / (F.col("ci") * F.col("cj"))
        )
        * 1e8
    ).cast("long")
    mi = (
        c.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(nn))
        .agg(
            F.sum(F.col("cij") * term).cast("long").alias("mi_u"),
            F.max("n").alias("n"),
        )
    )

    def h_of(marg, cnt, out):
        return (
            marg.crossJoin(F.broadcast(nn))
            .agg(
                (
                    -F.sum(
                        F.col(cnt)
                        * F.round(
                            F.log(F.col(cnt) * 1.0 / F.col("n")) * 1e8
                        ).cast("long")
                    )
                )
                .cast("long")
                .alias(out)
            )
        )

    hl = h_of(ml, "ci", "hl_u")
    hs = h_of(ms, "cj", "hs_u")
    out = (
        mi.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
        .select(
            F.col("n").alias("n_docs"),
            R.r(F.col("mi_u") * 1.0 / F.col("hl_u"), 4).alias(
                "u_lang_given_source"
            ),
            R.r(F.col("mi_u") * 1.0 / F.col("hs_u"), 4).alias(
                "u_source_given_lang"
            ),
        )
    )
    rows = out.collect()
    c.unpersist()
    return spark.createDataFrame(rows, out.schema)


# --- Kendall's W (coefficient of concordance) ---------------------------------
# The effect size of the registered Friedman test on the same
# complete-block day x event-type panel: with rank sums R_j over n
# blocks and k = 5 treatments, W = 3·Σ_j(2R_j − n(k+1))² /
# (n²·k·(k²−1)) — an exact integer ratio (the doubled-deviation trick
# keeps everything integral).

_KW_K = 5

_KENDALL_W_ORACLE = f"""
WITH cell AS (
    SELECT ts::DATE AS day, event_type,
           sum(CAST(value AS DECIMAL(30,8))) AS x
    FROM events GROUP BY 1, 2
),
full_blocks AS (
    SELECT day FROM cell GROUP BY day HAVING count(*) = {_KW_K}
),
rk AS (
    SELECT c.day, c.event_type,
           row_number() OVER (PARTITION BY c.day
                              ORDER BY c.x, c.event_type) AS r
    FROM cell c JOIN full_blocks fb ON fb.day = c.day
),
rs AS (SELECT event_type, sum(r)::BIGINT AS rj FROM rk GROUP BY 1),
n_ AS (SELECT count(*)::BIGINT AS n FROM full_blocks),
s AS (
    SELECT sum((2 * rs.rj - n_.n * ({_KW_K} + 1))
               * (2 * rs.rj - n_.n * ({_KW_K} + 1)))::BIGINT AS s4
    FROM rs, n_
)
SELECT n_.n AS n_blocks, s.s4 AS s4_stat,
       round(3.0 * s.s4
             / (n_.n * n_.n * {_KW_K} * ({_KW_K} * {_KW_K} - 1))
             * 10000) / 10000 + 0.0 AS kendall_w
FROM s, n_
"""


@register("kendall_w_event_types", oracle=_KENDALL_W_ORACLE)
def kendall_w_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.sum(F.col("value").cast("decimal(30,8)")).alias("x"))
    full_blocks = (
        cell.groupBy("day")
        .agg(F.count(F.lit(1)).alias("kk"))
        .filter(F.col("kk") == _KW_K)
        .select("day")
    )
    rk = cell.join(F.broadcast(full_blocks), "day").select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("day").orderBy("x", "event_type"))
        .alias("r"),
    )
    rs = rk.groupBy("event_type").agg(F.sum("r").cast("long").alias("rj"))
    n_ = full_blocks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dev = 2 * F.col("rj") - F.col("n") * (_KW_K + 1)
    s = (
        rs.crossJoin(F.broadcast(n_))
        .agg(
            F.sum(dev * dev).cast("long").alias("s4"),
            F.max("n").alias("n"),
        )
    )
    return s.select(
        F.col("n").alias("n_blocks"),
        F.col("s4").alias("s4_stat"),
        R.r(
            3.0
            * F.col("s4")
            / (
                F.col("n")
                * F.col("n")
                * _KW_K
                * (_KW_K * _KW_K - 1)
            ),
            4,
        ).alias("kendall_w"),
    )


# --- process capability Cp / Cpk of the event value ---------------------------
# SPC capability against fixed spec limits [0, 100] (the value column
# spans 0..~560 with mean ~50 at every SF — non-vacuous everywhere,
# gotcha 5): Cp = (USL−LSL)/6σ, Cpk = min(USL−μ, μ−LSL)/3σ with the
# population σ. Moments ride exact DECIMAL sums — value is cast to
# DECIMAL(18,6) and its square to DECIMAL(37,12) so p1+p2+1 ≤ 38
# (gotcha 8) — and both engines convert the identical exact decimals
# to double once.

_CPK_LSL = 0.0
_CPK_USL = 100.0

_CPK_ORACLE = f"""
WITH s AS (
    SELECT count(*)::BIGINT AS n,
           sum(CAST(value AS DECIMAL(18,6))) AS s1,
           sum(CAST(value AS DECIMAL(18,6))
               * CAST(value AS DECIMAL(18,6))) AS s2
    FROM events
),
m AS (
    SELECT n, s1::DOUBLE / n AS mu,
           sqrt(s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n))
               AS sigma
    FROM s
)
SELECT n AS n_events,
       round(mu * 10000) / 10000 + 0.0 AS mean_value,
       round(sigma * 10000) / 10000 + 0.0 AS sigma_value,
       round(({_CPK_USL} - {_CPK_LSL}) / (6 * sigma) * 10000) / 10000
           + 0.0 AS cp,
       round(least({_CPK_USL} - mu, mu - {_CPK_LSL}) / (3 * sigma)
             * 10000) / 10000 + 0.0 AS cpk
FROM m
"""


@register("capability_cpk_values", oracle=_CPK_ORACLE)
def capability_cpk_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,6)")
    s = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sigma = F.sqrt(
        F.col("s2").cast("double") / F.col("n")
        - (F.col("s1").cast("double") / F.col("n"))
        * (F.col("s1").cast("double") / F.col("n"))
    )
    return s.select(
        F.col("n").alias("n_events"),
        R.r(mu, 4).alias("mean_value"),
        R.r(sigma, 4).alias("sigma_value"),
        R.r(F.lit(_CPK_USL - _CPK_LSL) / (6 * sigma), 4).alias("cp"),
        R.r(
            F.least(F.lit(_CPK_USL) - mu, mu - F.lit(_CPK_LSL))
            / (3 * sigma),
            4,
        ).alias("cpk"),
    )


# --- Spearman footrule between the value-rank and count-rank of days ----------
# Do high-revenue days coincide with high-traffic days? Rank days by
# exact DECIMAL value sum and by integer event count (day tie-breaks),
# report D = Σ|r_value − r_count| (exact integer) and the normalized
# similarity 1 − D/⌊n²/2⌋. Two windows over the calendar-bounded day
# table (allowlisted).

_FOOTRULE_ORACLE = """
WITH daily AS (
    SELECT ts::DATE AS day,
           sum(CAST(value AS DECIMAL(30,8))) AS x,
           count(*)::BIGINT AS c
    FROM events GROUP BY 1
),
rk AS (
    SELECT day,
           row_number() OVER (ORDER BY x DESC, day) AS rv,
           row_number() OVER (ORDER BY c DESC, day) AS rc
    FROM daily
),
s AS (
    SELECT count(*)::BIGINT AS n,
           sum(abs(rv - rc))::BIGINT AS d
    FROM rk
)
SELECT n AS n_days, d AS footrule_d,
       round((1 - d * 1.0 / ((n * n) // 2)) * 10000) / 10000 + 0.0
           AS footrule_similarity
FROM s
"""


@register("spearman_footrule_daily", oracle=_FOOTRULE_ORACLE)
def spearman_footrule_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.select(
        F.col("ts").cast("date").alias("day"), "*"
    ).groupBy("day").agg(
        F.sum(F.col("value").cast("decimal(30,8)")).alias("x"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    rk = daily.select(
        F.row_number()
        .over(Window.orderBy(F.desc("x"), F.asc("day")))
        .alias("rv"),
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("day")))
        .alias("rc"),
    )
    s = rk.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.abs(F.col("rv") - F.col("rc"))).cast("long").alias("d"),
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.col("d").alias("footrule_d"),
        R.r(
            1
            - F.col("d")
            * 1.0
            / F.floor(F.col("n") * F.col("n") / 2).cast("long"),
            4,
        ).alias("footrule_similarity"),
    )


# --- Mantel-Haenszel pooled odds ratio across source strata -------------------
# The stratified 2x2 (en x long-document) pooled across |sources|
# strata: OR_MH = Σ_i(a_i·d_i/n_i) / Σ_i(b_i·c_i/n_i). Each stratum
# term is an exact-integer-rational double snapped to 1e-8 units
# before the cross-strata sum (order-independence); strata with empty
# margins contribute their exact zero terms naturally.

_MH_THRESH = 300

_MH_ORACLE = f"""
WITH t AS (
    SELECT source,
        sum(CASE WHEN lang = 'en' AND n_chars > {_MH_THRESH}
            THEN 1 ELSE 0 END)::BIGINT AS a,
        sum(CASE WHEN lang = 'en' AND n_chars <= {_MH_THRESH}
            THEN 1 ELSE 0 END)::BIGINT AS b,
        sum(CASE WHEN lang <> 'en' AND n_chars > {_MH_THRESH}
            THEN 1 ELSE 0 END)::BIGINT AS c,
        sum(CASE WHEN lang <> 'en' AND n_chars <= {_MH_THRESH}
            THEN 1 ELSE 0 END)::BIGINT AS d
    FROM documents GROUP BY 1
),
u AS (
    SELECT count(*)::BIGINT AS n_strata,
           sum(CAST(round(a::DOUBLE * d / (a + b + c + d) * 100000000)
                    AS BIGINT))::BIGINT AS num_u,
           sum(CAST(round(b::DOUBLE * c / (a + b + c + d) * 100000000)
                    AS BIGINT))::BIGINT AS den_u
    FROM t
)
SELECT n_strata, round(num_u * 1.0 / den_u * 10000) / 10000 + 0.0
           AS or_mantel_haenszel
FROM u
"""


@register("mantel_haenszel_or_sources", oracle=_MH_ORACLE)
def mantel_haenszel_or_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    en = F.col("lang") == "en"
    lg = F.col("n_chars") > _MH_THRESH
    t = docs.groupBy("source").agg(
        F.sum(F.when(en & lg, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(en & ~lg, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~en & lg, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~en & ~lg, 1).otherwise(0)).cast("long").alias("d"),
    )
    nt = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    u = t.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(
            F.round(
                F.col("a").cast("double") * F.col("d") / nt * 1e8
            ).cast("long")
        )
        .cast("long")
        .alias("num_u"),
        F.sum(
            F.round(
                F.col("b").cast("double") * F.col("c") / nt * 1e8
            ).cast("long")
        )
        .cast("long")
        .alias("den_u"),
    )
    return u.select(
        "n_strata",
        R.r(F.col("num_u") * 1.0 / F.col("den_u"), 4).alias(
            "or_mantel_haenszel"
        ),
    )


# --- skewness / excess kurtosis of document lengths ---------------------------
# Standardized third and fourth moments from EXACT integer power sums
# (n_chars ≤ ~600 so x⁴ ≤ ~1.3e11; the corpus sums ride DECIMAL(38,0)
# so the aggregation is order-independent at any width). Population
# (biased) convention: g1 = m3/m2^1.5, g2 = m4/m2² − 3, with central
# moments expanded from the raw sums — both engines evaluate the
# identical IEEE expression on identical exact inputs.

_SKEW_ORACLE = """
WITH s AS (
    SELECT count(*)::BIGINT AS n,
           sum(CAST(n_chars AS DECIMAL(38,0))) AS s1,
           sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS s2,
           sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars * n_chars) AS s3,
           sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars * n_chars
               * n_chars) AS s4
    FROM documents
),
m AS (
    SELECT n, s1::DOUBLE / n AS m1,
           s2::DOUBLE / n AS r2, s3::DOUBLE / n AS r3,
           s4::DOUBLE / n AS r4
    FROM s
),
c AS (
    SELECT n, r2 - m1 * m1 AS m2,
           r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3,
           r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
               - 3 * m1 * m1 * m1 * m1 AS m4
    FROM m
)
SELECT n AS n_docs,
       round(m3 / (m2 * sqrt(m2)) * 10000) / 10000 + 0.0 AS skewness_g1,
       round((m4 / (m2 * m2) - 3) * 10000) / 10000 + 0.0
           AS excess_kurtosis_g2
FROM c
"""


@register("skewness_kurtosis_lengths", oracle=_SKEW_ORACLE)
def skewness_kurtosis_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("decimal(38,0)")
    s = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * F.col("n_chars")).alias("s2"),
        F.sum(x * F.col("n_chars") * F.col("n_chars")).alias("s3"),
        F.sum(
            x * F.col("n_chars") * F.col("n_chars") * F.col("n_chars")
        ).alias("s4"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    r2 = F.col("s2").cast("double") / F.col("n")
    r3 = F.col("s3").cast("double") / F.col("n")
    r4 = F.col("s4").cast("double") / F.col("n")
    m2 = r2 - m1 * m1
    m3 = r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1
    m4 = r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1
    return s.select(
        F.col("n").alias("n_docs"),
        R.r(m3 / (m2 * F.sqrt(m2)), 4).alias("skewness_g1"),
        R.r(m4 / (m2 * m2) - 3, 4).alias("excess_kurtosis_g2"),
    )


# --- Gini mean difference of document lengths ---------------------------------
# GMD = Σ_{i,j} |x_i − x_j| / (n(n−1)), computed WITHOUT pair
# enumeration from the sorted value-domain grid: with cumulative count
# C_v and cumulative sum S_v below each distinct value v,
# Σ_j |v − x_j| over earlier values = c_v·(v·C_prev − S_prev), summed
# exactly in integers (DECIMAL(38,0) — v·C·c terms reach ~1e12 per
# grid point and the grid sum can pass 2^63 at corpus width). The
# ks/cvm cumulative-window shape (allowlisted).

_GMD_ORACLE = """
WITH g AS (
    SELECT n_chars AS v, count(*)::BIGINT AS c
    FROM documents GROUP BY 1
),
cu AS (
    SELECT v, c,
           coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               ::BIGINT AS cprev,
           coalesce(sum(c * v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               ::BIGINT AS sprev
    FROM g
),
s AS (
    SELECT sum(CAST(c AS DECIMAL(38,0))
               * (v * cprev - sprev)) AS su,
           sum(c)::BIGINT AS n
    FROM cu
)
SELECT n AS n_docs,
       round(2.0 * su::DOUBLE / (n::DOUBLE * (n - 1)) * 10000) / 10000
           + 0.0 AS gini_mean_difference
FROM s
"""


@register("gini_mean_difference_lengths", oracle=_GMD_ORACLE)
def gini_mean_difference_lengths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cu = g.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long").alias(
            "cprev"
        ),
        F.coalesce(F.sum(F.col("c") * F.col("v")).over(w), F.lit(0))
        .cast("long")
        .alias("sprev"),
    )
    s = cu.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * (F.col("v") * F.col("cprev") - F.col("sprev"))
        ).alias("su"),
        F.sum("c").cast("long").alias("n"),
    )
    return s.select(
        F.col("n").alias("n_docs"),
        R.r(
            2.0
            * F.col("su").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            4,
        ).alias("gini_mean_difference"),
    )


# --- Tukey-fence outlier audit of document lengths ----------------------------
# Grid-explicit quartiles (the mood_median pattern: smallest length
# whose cumulative count reaches ceil(q·n) — no engine percentile
# implementations involved), fences Q1 − 1.5·IQR / Q3 + 1.5·IQR in
# exact 2x-integer units, and the exact outlier counts outside them.

_FENCE_ORACLE = """
WITH g AS (
    SELECT n_chars AS v, count(*)::BIGINT AS c
    FROM documents GROUP BY 1
),
cu AS (
    SELECT v, c, sum(c) OVER (ORDER BY v)::BIGINT AS cc FROM g
),
nn AS (SELECT sum(c)::BIGINT AS n FROM g),
q1 AS (SELECT min(v)::BIGINT AS q FROM cu, nn
       WHERE cc >= (nn.n + 3) // 4),
q3 AS (SELECT min(v)::BIGINT AS q FROM cu, nn
       WHERE cc >= (3 * nn.n + 3) // 4),
f AS (
    -- fences in doubled units: 2·lo = 2·q1 − 3·iqr stays integral
    SELECT q1.q AS q1, q3.q AS q3,
           2 * q1.q - 3 * (q3.q - q1.q) AS lo2,
           2 * q3.q + 3 * (q3.q - q1.q) AS hi2
    FROM q1, q3
)
SELECT nn.n AS n_docs, f.q1, f.q3, (f.q3 - f.q1)::BIGINT AS iqr,
       (SELECT coalesce(sum(c), 0) FROM g, f
        WHERE 2 * g.v < f.lo2)::BIGINT AS n_low_outliers,
       (SELECT coalesce(sum(c), 0) FROM g, f
        WHERE 2 * g.v > f.hi2)::BIGINT AS n_high_outliers
FROM f, nn
"""


@register("tukey_fence_outliers_lengths", oracle=_FENCE_ORACLE)
def tukey_fence_outliers_lengths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).persist()
    cu = g.select(
        "v",
        F.sum("c").over(Window.orderBy("v")).cast("long").alias("cc"),
    )
    nn = g.agg(F.sum("c").cast("long").alias("n"))
    q1 = (
        cu.crossJoin(F.broadcast(nn))
        .filter(F.col("cc") >= F.floor((F.col("n") + 3) / 4))
        .agg(F.min("v").cast("long").alias("q1"))
    )
    q3 = (
        cu.crossJoin(F.broadcast(nn))
        .filter(F.col("cc") >= F.floor((3 * F.col("n") + 3) / 4))
        .agg(F.min("v").cast("long").alias("q3"))
    )
    f = q1.crossJoin(F.broadcast(q3)).select(
        "q1",
        "q3",
        (2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1"))).alias("lo2"),
        (2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))).alias("hi2"),
    )
    counts = (
        g.crossJoin(F.broadcast(f))
        .agg(
            F.coalesce(
                F.sum(F.when(2 * F.col("v") < F.col("lo2"), F.col("c"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_low_outliers"),
            F.coalesce(
                F.sum(F.when(2 * F.col("v") > F.col("hi2"), F.col("c"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_high_outliers"),
            F.max("q1").alias("q1"),
            F.max("q3").alias("q3"),
        )
    )
    out = counts.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_docs"),
        "q1",
        "q3",
        (F.col("q3") - F.col("q1")).cast("long").alias("iqr"),
        "n_low_outliers",
        "n_high_outliers",
    )
    rows = out.collect()
    g.unpersist()
    return spark.createDataFrame(rows, out.schema)


# --- weighted (Ruzicka) token-frequency overlap: each language vs en ----------
# Plain vocabulary Jaccard is VACUOUS on this corpus (every language
# draws from the same fixed 31-word list — set overlap is identically
# 1.0 at every SF), so the overlap audit uses the weighted Jaccard of
# relative token frequencies instead: J_w = Σ_t min(p_t, q_t) /
# Σ_t max(p_t, q_t). With p_t = c1_t/N1 and q_t = c2_t/N2 the common
# denominator cancels: J_w = Σ min(c1·N2, c2·N1) / Σ max(c1·N2, c2·N1)
# — EXACT integer arithmetic (DECIMAL(38,0) sums; a term is count ×
# corpus-total). One token-count shuffle, |langs|-bounded output.

_RUZ_ORACLE = r"""
WITH tk AS (
    SELECT lang,
           unnest(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> len(x) > 0)) AS t
    FROM documents
),
cnt AS (SELECT lang, t, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
tot AS (SELECT lang, sum(c)::BIGINT AS nt FROM cnt GROUP BY 1),
en AS (
    SELECT cnt.t, cnt.c AS c_en, tot.nt AS n_en
    FROM cnt JOIN tot ON tot.lang = cnt.lang
    WHERE cnt.lang = 'en'
),
o AS (
    SELECT cnt.lang, cnt.t, cnt.c, tot.nt
    FROM cnt JOIN tot ON tot.lang = cnt.lang
    WHERE cnt.lang <> 'en'
),
terms AS (
    -- full outer union of the two frequency profiles per lang:
    -- tokens absent on one side contribute min 0 / max c·N
    SELECT coalesce(o.lang, x.lang) AS lang,
           least(coalesce(o.c, 0) * coalesce(x.n_en, mx.n_en),
                 coalesce(x.c_en, 0) * coalesce(o.nt, mt.nt))
               AS mn,
           greatest(coalesce(o.c, 0) * coalesce(x.n_en, mx.n_en),
                    coalesce(x.c_en, 0) * coalesce(o.nt, mt.nt))
               AS mx_t
    FROM o
    FULL JOIN (SELECT ol.lang, en.t, en.c_en, en.n_en
               FROM en CROSS JOIN (SELECT DISTINCT lang FROM o) ol) x
      ON x.lang = o.lang AND x.t = o.t
    CROSS JOIN (SELECT max(n_en) AS n_en FROM en) mx
    LEFT JOIN tot mt ON mt.lang = coalesce(o.lang, x.lang)
)
SELECT lang,
       sum(CAST(mn AS DECIMAL(38,0)))::BIGINT AS min_sum,
       sum(CAST(mx_t AS DECIMAL(38,0)))::BIGINT AS max_sum,
       round(sum(CAST(mn AS DECIMAL(38,0)))::DOUBLE
             / sum(CAST(mx_t AS DECIMAL(38,0)))::DOUBLE * 10000) / 10000
           + 0.0 AS ruzicka_overlap
FROM terms
GROUP BY lang
"""


@register("ruzicka_token_overlap_langs", oracle=_RUZ_ORACLE)
def ruzicka_token_overlap_langs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "lang", F.explode(ws_tokens(F.col("text"))).alias("t")
        )
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").cast("long").alias("nt"))
    en = (
        cnt.filter(F.col("lang") == "en")
        .join(tot.filter(F.col("lang") == "en"), "lang")
        .select(
            F.col("t").alias("te"),
            F.col("c").alias("c_en"),
            F.col("nt").alias("n_en"),
        )
    )
    o = cnt.filter(F.col("lang") != "en").join(tot, "lang")
    langs = o.select("lang").distinct()
    # full profile union per lang: fan the en profile out once per lang,
    # then full-outer join against the lang profiles. The BROADCAST side
    # is the lang list (constant-bounded: # of languages), NOT the en
    # token-type profile — a vocabulary grows Heaps-sublinearly but
    # unboundedly with corpus size, so profile-shaped broadcasts are
    # corpus-dependent and forbidden (VERDICT r11 #4; SCALING.md
    # "vocabulary-shaped broadcast" ruling). The (lang, t) full-outer
    # join below shuffles — the scale-safe strategy for two
    # vocab-sized sides.
    enx = F.broadcast(langs).crossJoin(en).select(
        F.col("lang").alias("xl"), "te", "c_en", "n_en"
    )
    j = o.join(
        enx,
        (F.col("lang") == F.col("xl")) & (F.col("t") == F.col("te")),
        "full_outer",
    )
    lang_all = F.coalesce(F.col("lang"), F.col("xl"))
    # totals for sides that are NULL on one side of the full join
    tot_o = tot.filter(F.col("lang") != "en").select(
        F.col("lang").alias("tl"), F.col("nt").alias("nt_all")
    )
    n_en_const = en.agg(F.max("n_en").alias("ne")).first()["ne"]
    j2 = j.join(
        F.broadcast(tot_o), lang_all == F.col("tl"), "left"
    ).select(
        lang_all.alias("lg"),
        (
            F.least(
                F.coalesce(F.col("c"), F.lit(0)) * F.lit(n_en_const),
                F.coalesce(F.col("c_en"), F.lit(0))
                * F.coalesce(F.col("nt"), F.col("nt_all")),
            )
        ).alias("mn"),
        (
            F.greatest(
                F.coalesce(F.col("c"), F.lit(0)) * F.lit(n_en_const),
                F.coalesce(F.col("c_en"), F.lit(0))
                * F.coalesce(F.col("nt"), F.col("nt_all")),
            )
        ).alias("mx"),
    )
    out = (
        j2.groupBy(F.col("lg").alias("lang"))
        .agg(
            F.sum(F.col("mn").cast("decimal(38,0)"))
            .cast("long")
            .alias("min_sum"),
            F.sum(F.col("mx").cast("decimal(38,0)"))
            .cast("long")
            .alias("max_sum"),
        )
        .select(
            "lang",
            "min_sum",
            "max_sum",
            R.r(
                F.col("min_sum").cast("double")
                / F.col("max_sum").cast("double"),
                4,
            ).alias("ruzicka_overlap"),
        )
    )
    rows = out.collect()
    cnt.unpersist()
    return spark.createDataFrame(rows, out.schema)

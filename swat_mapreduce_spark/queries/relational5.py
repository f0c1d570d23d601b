"""Spark 4 SQL-surface additions (pipe syntax, collations) and
lakehouse maintenance patterns (small-file compaction, distributed
contiguous id assignment)."""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions import rounding as R
from swat_mapreduce_spark.queries import register
from swat_mapreduce_spark.sources.readers import read_table

# --- SQL pipe syntax -------------------------------------------------------
# Spark 4's |> operator chains: same Catalyst plan as the classic
# SELECT, so this pins the parser surface, not new semantics.

_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(CAST(l_extendedprice AS DECIMAL(30,8))), 2)::DOUBLE
           AS revenue
FROM lineitem
WHERE l_quantity > 30
GROUP BY l_returnflag, l_linestatus
"""


@register("sql_pipe_syntax", oracle=_PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_pipe_v"
    )
    return spark.sql(
        """
        FROM lineitem_pipe_v
        |> WHERE l_quantity > 30
        |> AGGREGATE count(*) AS n,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,8))), 2)
                  AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, revenue
        """
    )


# --- collations ------------------------------------------------------------
# Spark 4 collated strings: grouping under UTF8_LCASE merges case
# variants at the hash-aggregate level (no pre-lowering projection).
# The input is case-uniform, so a mixed-case column is derived first
# (CLAUDE.md gotcha 5: the merge must be non-vacuous at every SF).
# The group key is re-exposed as lower()::string because the collated
# representative ("SRC3" vs "src3") is whichever variant the aggregate
# saw first — nondeterministic under parallelism.

_COLLATION_ORACLE = """
WITH t AS (
    SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
               AS src_mixed,
           n_chars
    FROM documents
)
SELECT lower(src_mixed) AS src, count(*) AS n,
       sum(n_chars)::BIGINT AS total_chars
FROM t
GROUP BY lower(src_mixed)
"""


@register("collation_groupby", oracle=_COLLATION_ORACLE)
def collation_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    mixed = F.when(
        F.col("doc_id") % 2 == 0, F.upper("source")
    ).otherwise(F.col("source"))
    return (
        docs.select(
            F.collate(mixed, "UTF8_LCASE").alias("src_ci"), "n_chars"
        )
        .groupBy("src_ci")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.lower("src_ci").cast("string").alias("src"),
            "n",
            "total_chars",
        )
    )


# --- small-file compaction -------------------------------------------------
# The nightly job every parquet lake needs: collapse a directory of
# small files into few large ones without changing a row. The query
# proves both sides: content identity (the oracle aggregates the
# original events) and the file-count contract via input_file_name().

_COMPACT_ORACLE = """
SELECT count(*) AS n_rows,
       round(sum(CAST(value AS DECIMAL(30,8))), 2)::DOUBLE AS sum_value,
       64 AS n_files_before, 4 AS n_files_after
FROM events
"""


@register("compact_small_files", oracle=_COMPACT_ORACLE)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64 round-robin shards → coalesce(4) rewrite. coalesce (not
    repartition) makes the rewrite shuffle-free: each output task
    drains 16 input files. The session's one-split-per-core cap packs
    the 64 files into at most ``defaultParallelism`` splits first, so
    the 4-file result needs at least 4 cores. At 100 TB the same job
    runs per partition directory with target-size-based file counts."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    base = os.path.join(
        tempfile.gettempdir(), f"swat_compact_{uuid.uuid4().hex[:8]}"
    )
    small, big = f"{base}/small", f"{base}/big"
    ev.repartition(64).write.mode("overwrite").parquet(small)
    # input_file_name() is nondeterministic, so it must be projected
    # into a column before any aggregate touches it
    small_df = spark.read.parquet(small).withColumn(
        "_f", F.input_file_name()
    )
    small_df.drop("_f").coalesce(4).write.mode("overwrite").parquet(big)
    big_df = spark.read.parquet(big).withColumn("_f", F.input_file_name())
    n_before = small_df.select(F.count_distinct("_f").alias("c"))
    return (
        big_df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("value").cast("decimal(30,8)")), 2)
            .cast("double")
            .alias("sum_value"),
            F.count_distinct("_f").alias("n_files_after"),
        )
        .crossJoin(F.broadcast(n_before))
        .select(
            "n_rows",
            "sum_value",
            F.col("c").alias("n_files_before"),
            "n_files_after",
        )
    )


# --- distributed contiguous row ids ----------------------------------------
# Assigning 0..N-1 ids with a global orderBy would funnel 100 TB
# through one task. The scalable form: bucket the key space into
# explicit ranges (derived from min/max — NOT repartitionByRange,
# whose sampled boundaries differ between the counting job and the
# numbering job), count each bucket (tiny job), broadcast the
# cumulative offsets, then number within buckets in parallel:
# rid = offset[bucket] + local row_number. Each bucket is one window
# partition, so parallelism = bucket count — size buckets to the
# task target (and derive boundaries from CDF quantiles instead of
# min/max when the key space is skewed).

_ROWID_ORACLE = """
SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rid
FROM documents
"""


@register("stable_row_ids", oracle=_ROWID_ORACLE)
def stable_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    parts = 8
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if mn is None:  # empty table: any constant binning works
        mn, mx = 0, 0
    span = mx - mn + 1
    bucket = F.floor(((F.col("doc_id") - mn) * parts) / span).cast("int")
    bucketed = docs.withColumn("_b", bucket)
    counts = {
        r["_b"]: r["c"]
        for r in bucketed.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offsets, acc = [], 0
    for b in range(parts):
        offsets.append(acc)
        acc += counts.get(b, 0)
    offset_map = F.create_map(
        *[F.lit(x) for b in range(parts) for x in (b, offsets[b])]
    )
    w = Window.partitionBy("_b").orderBy("doc_id")
    rid = F.element_at(offset_map, F.col("_b")) + F.row_number().over(w) - 1
    return bucketed.select(
        "doc_id", rid.cast("long").alias("rid")
    )


# --- correlated LATERAL join (Spark 4) -------------------------------------
# Top-2 most expensive lineitems per order of one priority class via a
# correlated LATERAL subquery — the planner path where the subquery
# re-executes per outer row and Catalyst rewrites it into a
# DomainJoin → window. Same answer as a rank-filter window, but it
# pins the LATERAL parser/optimizer surface itself.

_LATERAL_ORACLE = """
SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
FROM orders o,
     LATERAL (
         SELECT l_linenumber, l_extendedprice
         FROM lineitem
         WHERE l_orderkey = o.o_orderkey
         ORDER BY l_extendedprice DESC, l_linenumber
         LIMIT 2
     ) AS l
WHERE o.o_orderpriority = '1-URGENT'
"""


@register("lateral_topn_per_order", oracle=_LATERAL_ORACLE)
def lateral_topn_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_lat_v"
    )
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_lat_v"
    )
    return spark.sql(
        """
        SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        FROM orders_lat_v o
        JOIN LATERAL (
            SELECT l_linenumber, l_extendedprice
            FROM lineitem_lat_v
            WHERE l_orderkey = o.o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber
            LIMIT 2
        ) AS l
        WHERE o.o_orderpriority = '1-URGENT'
        """
    )


# --- GROUP BY ALL ----------------------------------------------------------
# Spark 4 / DuckDB shared surface: every non-aggregate select item
# becomes a grouping key. Same Aggregate plan as an explicit list —
# this pins the resolver surface.

_GBALL_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       sum(l_quantity::BIGINT)::BIGINT AS total_qty
FROM lineitem
GROUP BY ALL
"""


@register("group_by_all", oracle=_GBALL_ORACLE)
def group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_gba_v"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS total_qty
        FROM lineitem_gba_v
        GROUP BY ALL
        """
    )


# --- parameterized SQL (named parameter markers) ---------------------------
# Spark 4's spark.sql(query, args=...) binds :params server-side
# (constant-folded before optimization — no string splicing, no
# injection surface). The oracle inlines the same literals.

_PARAM_ORACLE = """
SELECT o_orderpriority, count(*) AS n,
       round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2)::DOUBLE
           AS total_price
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 50000.0
GROUP BY o_orderpriority
"""


@register("parameterized_sql", oracle=_PARAM_ORACLE)
def parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_param_v"
    )
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2)
                    AS DOUBLE) AS total_price
        FROM orders_param_v
        WHERE o_orderstatus = :status AND o_totalprice >= :min_price
        GROUP BY o_orderpriority
        """,
        args={"status": "F", "min_price": 50000.0},
    )


# --- SQL scalar UDF (CREATE FUNCTION ... RETURN) ---------------------------
# Spark 4 SQL-defined functions are INLINED into the plan by Catalyst
# — unlike Python UDFs they stay inside whole-stage codegen, making
# them the right way to package reusable business expressions (the
# 100 TB-safe user-function path). The oracle inlines the same
# expression text.

_SQL_UDF_ORACLE = """
SELECT doc_id,
       round(least(1.0, length(text) / 500.0), 4) AS len_score,
       upper(substr(source, 1, 1)) || substr(source, 2) AS source_title
FROM documents
"""


@register("sql_scalar_udf_inline", oracle=_SQL_UDF_ORACLE)
def sql_scalar_udf_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION swat_len_score(t STRING)
        RETURNS DOUBLE
        RETURN round(least(1.0, length(t) / 500.0) * 10000) / 10000
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION swat_title(s STRING)
        RETURNS STRING
        RETURN upper(substr(s, 1, 1)) || substr(s, 2)
        """
    )
    read_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_sqludf_v"
    )
    return spark.sql(
        """
        SELECT doc_id,
               swat_len_score(text) AS len_score,
               swat_title(source) AS source_title
        FROM documents_sqludf_v
        """
    )


# --- SQL table function (RETURNS TABLE) + LATERAL --------------------------
# The declarative sibling of the Python UDTF: a SQL-defined table
# function laterally applied per row, fully inlined by Catalyst (the
# explode runs as a generator in the same stage — no Python worker,
# no shuffle). Char trigrams of a document sample.

_SQL_TVF_ORACLE = """
WITH pos AS (
    SELECT doc_id, text,
           unnest(generate_series(1, length(text) - 2)) AS i
    FROM documents WHERE doc_id % 31 = 0
)
SELECT doc_id, substr(text, i, 3) AS gram
FROM pos
"""


@register("sql_table_function_lateral", oracle=_SQL_TVF_ORACLE)
def sql_table_function_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION swat_char_trigrams(s STRING)
        RETURNS TABLE(gram STRING)
        RETURN SELECT substr(s, g.i, 3)
               FROM (SELECT explode(CASE WHEN length(s) >= 3
                                    THEN sequence(1, length(s) - 2)
                                    ELSE CAST(array() AS ARRAY<INT>)
                                    END) AS i) g
        """
    )
    read_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_tvf_v"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.gram
        FROM documents_tvf_v d, LATERAL swat_char_trigrams(d.text) t
        WHERE d.doc_id % 31 = 0
        """
    )


# --- FILTER clause in aggregates ------------------------------------------
# ANSI `agg(...) FILTER (WHERE ...)` — the conditional-aggregation
# surface proper (not the CASE-WHEN emulation q12 uses). Catalyst
# plans it as a single aggregate with per-function predicates: one
# scan, one shuffle, no self-joins for N filtered metrics.
_AGG_FILTER_ORACLE = """
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       count(*) FILTER (o_totalprice > 200000)::BIGINT AS n_big,
       round(sum(CAST(o_totalprice AS DECIMAL(30,8)))
             FILTER (o_orderstatus = 'F'), 2)::DOUBLE AS finished_value,
       count(DISTINCT o_custkey) FILTER (o_totalprice > 200000)::BIGINT
           AS n_big_custs
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_filter_clause", oracle=_AGG_FILTER_ORACLE)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_fltr_v"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8)))
                    FILTER (WHERE o_orderstatus = 'F'), 2) AS DOUBLE)
                   AS finished_value,
               count(DISTINCT o_custkey)
                   FILTER (WHERE o_totalprice > 200000) AS n_big_custs
        FROM orders_fltr_v
        GROUP BY o_orderpriority
        """
    )


# --- ORDER BY ALL + LIMIT/OFFSET pagination --------------------------------
# Deterministic keyset-free pagination: ORDER BY ALL (Spark 4 / DuckDB
# shared surface) fixes a total order over the whole projection, then
# LIMIT/OFFSET slices page 3. Note the scale contract: OFFSET is
# planned as a driver-side skip after a global sort prefix — fine for
# human-sized pages, wrong for deep pagination (use keyset ranges
# there; stable_row_ids is this engine's cursor primitive).
_PAGINATION_ORACLE = """
SELECT n_name, r_regionkey, n_nationkey
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY ALL
LIMIT 5 OFFSET 10
"""


@register("limit_offset_pagination", oracle=_PAGINATION_ORACLE)
def limit_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_pg_v"
    )
    read_table(spark, sf_dir, "region").createOrReplaceTempView(
        "region_pg_v"
    )
    return spark.sql(
        """
        SELECT n_name, r_regionkey, n_nationkey
        FROM nation_pg_v JOIN region_pg_v ON n_regionkey = r_regionkey
        ORDER BY ALL
        LIMIT 5 OFFSET 10
        """
    )


# --- SQL:2003 linear-regression aggregates ---------------------------------
# The regr_* family computes OLS per group in ONE streaming aggregate
# (co-moment accumulation; partial+merge automatic) — the built-in
# counterpart to linreg_normal_equations' hand-rolled normal
# equations. Engine agreement is ~1e-13 relative; pinned at 4dp.
_REGR_ORACLE = """
SELECT event_type,
       regr_count(value, user_id) AS n,
       round(regr_slope(value, user_id) * 10000) / 10000 + 0.0 AS slope,
       round(regr_intercept(value, user_id) * 10000) / 10000 + 0.0
           AS intercept,
       round(regr_r2(value, user_id) * 10000) / 10000 + 0.0 AS r2,
       round(regr_avgx(value, user_id) * 10000) / 10000 + 0.0 AS avg_x,
       round(regr_avgy(value, user_id) * 10000) / 10000 + 0.0 AS avg_y
FROM events
GROUP BY event_type
"""


@register("regr_agg_funcs", oracle=_REGR_ORACLE)
def regr_agg_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.regr_count("value", "user_id").alias("n"),
        R.r(F.regr_slope("value", "user_id"), 4).alias("slope"),
        R.r(F.regr_intercept("value", "user_id"), 4).alias("intercept"),
        R.r(F.regr_r2("value", "user_id"), 4).alias("r2"),
        R.r(F.regr_avgx("value", "user_id"), 4).alias("avg_x"),
        R.r(F.regr_avgy("value", "user_id"), 4).alias("avg_y"),
    )


# --- argmax/argmin + higher moments ----------------------------------------
# max_by/min_by are the one-pass argmax aggregates (no self-join-on-
# the-max antipattern); skewness/kurtosis are Spark's POPULATION
# moments — DuckDB's builtins are sample-adjusted, so the oracle
# derives the population form from raw moments (agreement ~1e-13).
_ARGMAX_ORACLE = """
WITH s AS (
    SELECT event_type,
           max_by(event_id, value * 1e10 + event_id) AS argmax_event,
           min_by(event_id, value * 1e10 + event_id) AS argmin_event,
           avg(value) AS mu, avg(value*value) AS m2r,
           avg(value*value*value) AS m3r,
           avg(value*value*value*value) AS m4r
    FROM events GROUP BY event_type
)
SELECT event_type, argmax_event, argmin_event,
       round(((m3r - 3*mu*m2r + 2*mu*mu*mu)
              / pow(m2r - mu*mu, 1.5)) * 10000) / 10000 + 0.0 AS skew,
       round(((m4r - 4*mu*m3r + 6*mu*mu*m2r - 3*mu*mu*mu*mu)
              / pow(m2r - mu*mu, 2) - 3) * 10000) / 10000 + 0.0 AS kurt
FROM s
"""


@register("agg_argmax_moments", oracle=_ARGMAX_ORACLE)
def agg_argmax_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        # composite ordering key: duplicate values exist at sf0.1, and a
        # bare max_by tie is engine-nondeterministic — tie-break on
        # event_id, encoded into one double (value*1e10 + id stays
        # exact below 2^53 and both engines run identical IEEE ops;
        # DuckDB's max_by accepts only scalar ordering keys)
        F.max_by(
            "event_id", F.col("value") * 1e10 + F.col("event_id")
        ).alias("argmax_event"),
        F.min_by(
            "event_id", F.col("value") * 1e10 + F.col("event_id")
        ).alias("argmin_event"),
        R.r(F.skewness("value"), 4).alias("skew"),
        R.r(F.kurtosis("value"), 4).alias("kurt"),
    )


# --- exact distinct via roaring-style bitmaps ------------------------------
# Spark 3.5 bitmap aggregates: bucket each key with
# bitmap_bucket_number, OR per-bucket bitmaps (bitmap_construct_agg of
# bit positions), count bits, sum buckets. Exact distinct with
# mergeable fixed-size state per bucket — the dense-ID counterpart to
# HLL (exact, and unionable across partitions/days like any monoid).
_BITMAP_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS n_distinct
FROM events
GROUP BY event_type
"""


@register("bitmap_builtin_distinct", oracle=_BITMAP_ORACLE)
def bitmap_builtin_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type",
        F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
    ).agg(
        F.bitmap_count(
            F.bitmap_construct_agg(F.bitmap_bit_position(F.col("user_id")))
        ).alias("c")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("c").alias("n_distinct")
    )


# --- timezone / interval / calendar scalar functions -----------------------
# convert_timezone (→ TIMESTAMP_NTZ, cast back under the UTC session),
# timestampadd/timestampdiff units, next_day calendar hop,
# dayname/monthname abbreviations, unix_millis. Oracle: ICU
# AT TIME ZONE, interval arithmetic, isodow math, strftime.
_TZ_ORACLE = """
SELECT event_id,
       (ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York') AS ny_ts,
       ts + INTERVAL 3 HOUR AS plus3h,
       date_diff('minute', ts, ts + INTERVAL 2 HOUR) AS diff_min,
       (CAST(ts AS DATE)
        + CAST(((7 + 1 - isodow(ts)) % 7
                + CASE WHEN (7 + 1 - isodow(ts)) % 7 = 0 THEN 7 ELSE 0 END)
               AS INTEGER)) AS next_monday,
       strftime(ts, '%a') AS day_abbrev,
       strftime(ts, '%b') AS month_abbrev,
       epoch_ms(ts) AS ms
FROM events
"""


@register("timezone_funcs", oracle=_TZ_ORACLE)
def timezone_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.convert_timezone(
            F.lit("UTC"), F.lit("America/New_York"), "ts"
        ).cast("timestamp").alias("ny_ts"),
        F.expr("timestampadd(HOUR, 3, ts)").alias("plus3h"),
        F.expr("timestampdiff(MINUTE, ts, timestampadd(HOUR, 2, ts))")
        .alias("diff_min"),
        F.next_day("ts", "Mon").alias("next_monday"),
        F.expr("dayname(ts)").alias("day_abbrev"),
        F.monthname("ts").alias("month_abbrev"),
        F.unix_millis("ts").alias("ms"),
    )


# --- JSON function pack #2 --------------------------------------------------
# json_tuple (multi-field LATERAL extraction), json_object_keys,
# json_array_length, schema_of_json (plan-time inference surface).
_JSON2_ORACLE = """
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       json_keys(props) AS prop_keys,
       json_array_length('[' || json_extract_string(props, '$.k') || ','
                         || json_extract_string(props, '$.k') || ']')::INT
           AS arr_len,
       'STRUCT<k: BIGINT>' AS inferred_schema
FROM events
"""


@register("json_funcs2", oracle=_JSON2_ORACLE)
def json_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_json2_events")
    return ev.sparkSession.sql(
        """
        SELECT event_id,
               jt.k_str,
               json_object_keys(props) AS prop_keys,
               json_array_length(
                   concat('[', jt.k_str, ',', jt.k_str, ']')) AS arr_len,
               schema_of_json('{"k": 42}') AS inferred_schema
        FROM _json2_events
        LATERAL VIEW json_tuple(props, 'k') jt AS k_str
        """
    )


# --- string function pack #3 (MySQL-lineage helpers) -----------------------
# substring_index / overlay / elt / find_in_set, which DuckDB lacks as
# builtins — the oracle reconstructs each from primitives, pinning the
# exact semantics (1-based elt, 0-for-missing find_in_set, overlay's
# replace-span rule, substring_index's first-N-separators contract).
_STR3_ORACLE = """
SELECT doc_id,
       array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
       substr(text, 1, 4) || 'XXX' || substr(text, 8) AS overlaid,
       CASE ((doc_id % 3) + 1)
           WHEN 1 THEN 'alpha' WHEN 2 THEN 'beta' WHEN 3 THEN 'gamma'
       END AS elt_pick,
       coalesce(list_position(string_split('en,de,fr,ja', ','), lang), 0)
           AS lang_pos
FROM documents
"""


@register("string_funcs3", oracle=_STR3_ORACLE)
def string_funcs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring_index("text", " ", 3).alias("first3"),
        F.overlay("text", F.lit("XXX"), F.lit(5), F.lit(3)).alias(
            "overlaid"
        ),
        F.elt(
            (F.col("doc_id") % 3 + 1).cast("int"),
            F.lit("alpha"),
            F.lit("beta"),
            F.lit("gamma"),
        ).alias("elt_pick"),
        F.find_in_set(F.col("lang"), F.lit("en,de,fr,ja")).alias(
            "lang_pos"
        ),
    )


# --- array function pack #3 (editing / zipping / set algebra) --------------
# flatten, array_repeat, arrays_overlap, array_union/except (order-
# normalized via array_sort: Spark preserves left-operand order,
# DuckDB reconstructs from list primitives), array_insert and
# array_remove (reconstructed with slicing/filtering in the oracle).
_ARR3_ORACLE = """
WITH t AS (
    SELECT doc_id,
           string_split(text, ' ')[1:5] AS toks
    FROM documents
)
SELECT doc_id,
       flatten([toks[1:2], toks[4:5]]) AS flat_pick,
       [doc_id, doc_id, doc_id] AS id_x3,
       len(list_filter(toks, x -> list_contains(['the', 'a'], x))) > 0
           AS has_article,
       list_sort(list_distinct(list_concat(toks, ['the', 'a'])))
           AS union_sorted,
       list_sort(list_distinct(
           list_filter(toks, x -> NOT list_contains(['the', 'a'], x))))
           AS except_sorted,
       toks[1:2] || ['INS'] || toks[3:] AS inserted,
       list_filter(toks, x -> x <> 'the') AS removed
FROM t
"""


@register("array_funcs3", oracle=_ARR3_ORACLE)
def array_funcs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = F.slice(F.split(F.col("text"), " "), 1, 5)
    t = docs.select("doc_id", toks.alias("toks"))
    articles = F.array(F.lit("the"), F.lit("a"))
    return t.select(
        "doc_id",
        F.flatten(
            F.array(
                F.slice(F.col("toks"), 1, 2), F.slice(F.col("toks"), 4, 2)
            )
        ).alias("flat_pick"),
        F.array_repeat(F.col("doc_id"), 3).alias("id_x3"),
        F.arrays_overlap(F.col("toks"), articles).alias("has_article"),
        F.array_sort(F.array_union(F.col("toks"), articles)).alias(
            "union_sorted"
        ),
        F.array_sort(F.array_except(F.col("toks"), articles)).alias(
            "except_sorted"
        ),
        F.array_insert(F.col("toks"), 3, F.lit("INS")).alias("inserted"),
        F.array_remove(F.col("toks"), "the").alias("removed"),
    )


# --- DataFrame.transpose (Spark 4.0) ---------------------------------------
# Row/column pivot of a bounded aggregate: columns become the former
# event_type values (first column is the transpose key). Only sane on
# driver-bounded frames — the input here is the 5-row per-type
# aggregate, never raw data. Oracle reconstructs the transposed row
# with conditional aggregation.
_TRANSPOSE_ORACLE = """
SELECT 'n' AS key,
       count(*) FILTER (WHERE event_type = 'click') AS click,
       count(*) FILTER (WHERE event_type = 'error') AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS signup,
       count(*) FILTER (WHERE event_type = 'view') AS view
FROM events
"""


@register("transpose_agg_row", oracle=_TRANSPOSE_ORACLE)
def transpose_agg_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return agg.transpose()


# --- map function pack #2 ---------------------------------------------------
# create_map / map_concat / map_contains_key / cardinality /
# transform_keys / map_entries. Map values are order-normalized to a
# sorted "k=v" string before comparison (map entry order is undefined
# in both engines).
_MAP2_ORACLE = """
WITH m AS (
    SELECT event_id,
           MAP(['uid', 'eid'], [user_id, event_id]) AS m1,
           MAP(['t'], [user_id + event_id]) AS m2
    FROM events
)
SELECT event_id,
       array_to_string(list_sort(list_transform(
           map_entries(map_concat(m1, m2)),
           e -> e.key || '=' || e.value)), ',') AS merged_kv,
       array_to_string(list_sort(list_transform(
           map_entries(m1), e -> upper(e.key) || '=' || e.value)), ',')
           AS upper_kv,
       cardinality(map_concat(m1, m2)) = 3 AS card3,
       len(map_extract(m1, 'uid')) > 0 AS has_uid
FROM m
"""


@register("map_funcs2", oracle=_MAP2_ORACLE)
def map_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    m1 = F.create_map(
        F.lit("uid"), F.col("user_id"), F.lit("eid"), F.col("event_id")
    )
    m2 = F.create_map(F.lit("t"), F.col("user_id") + F.col("event_id"))

    def kv_string(m):
        return F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries(m),
                    lambda e: F.concat_ws(
                        "=", e["key"], e["value"].cast("string")
                    ),
                )
            ),
            ",",
        )

    withm = ev.select(
        "event_id", m1.alias("m1"), m2.alias("m2")
    )
    return withm.select(
        "event_id",
        kv_string(F.map_concat(F.col("m1"), F.col("m2"))).alias(
            "merged_kv"
        ),
        kv_string(
            F.transform_keys(F.col("m1"), lambda k, v: F.upper(k))
        ).alias("upper_kv"),
        (
            F.map_concat(F.col("m1"), F.col("m2")).getField("t").isNotNull()
            & (F.size(F.map_entries(F.map_concat(F.col("m1"), F.col("m2")))) == 3)
        ).alias("card3"),
        F.map_contains_key(F.col("m1"), "uid").alias("has_uid"),
    )


# --- try_* arithmetic (overflow → NULL, never an error) --------------------
# ANSI-adjacent safety surface: Long.MAX multiplications/additions
# overflow for every event except the planted safe row. DuckDB's
# BIGINT math errors on overflow (and its sums widen to HUGEINT), so
# the oracle states the expected NULL/value with CASE — which is the
# point: the oracle pins WHICH rows survive.
_TRY2_ORACLE = """
SELECT event_id,
       CASE WHEN event_id = 0 THEN 9223372036854775807 END AS mul_max,
       CASE WHEN event_id = 0 THEN 9223372036854775807 END AS add_max,
       CASE WHEN event_id % 7 <> 0
            THEN CAST(value / (event_id % 7) AS DOUBLE) END AS div7,
       CASE WHEN event_id % 7 <> 0
            THEN event_id % (event_id % 7) END AS mod7
FROM events
"""


@register("try_arith_funcs", oracle=_TRY2_ORACLE)
def try_arith_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    lmax = F.lit(9223372036854775807).cast("long")
    return ev.select(
        "event_id",
        F.try_multiply(lmax, F.col("event_id") + 1).alias("mul_max"),
        F.try_add(lmax, F.col("event_id")).alias("add_max"),
        F.try_divide(F.col("value"), F.col("event_id") % 7).alias("div7"),
        F.try_mod(F.col("event_id"), F.expr("nullif(event_id % 7, 0)"))
        .alias("mod7"),
    )


# --- inline: array-of-struct → rows+columns in one step --------------------
_INLINE_ORACLE = """
SELECT event_id, round(value * 10000) / 10000 + 0.0 AS v, 'orig' AS tag
FROM events
UNION ALL
SELECT event_id, round(value * 2 * 10000) / 10000 + 0.0 AS v, 'dbl' AS tag
FROM events
"""


@register("inline_structs", oracle=_INLINE_ORACLE)
def inline_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    arr = F.array(
        F.struct(
            R.r("value", 4).alias("v"), F.lit("orig").alias("tag")
        ),
        F.struct(
            R.r(F.col("value") * 2, 4).alias("v"),
            F.lit("dbl").alias("tag"),
        ),
    )
    return ev.select("event_id", F.inline(arr))


# --- batch session_window (built-in gap sessionization) --------------------
# The same session semantics the streaming jobs use, as a BATCH
# groupBy(session_window(ts, gap)) — Catalyst turns it into a sort +
# running merge per user partition. Oracle: the established
# lag+cumsum sessionization (end-exclusive 30-minute gap).
_BATCH_SESSION_ORACLE = """
WITH e AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR datediff('microsecond', lag(ts) OVER w, ts)
                        >= 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
    SELECT user_id, ts,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_num
    FROM e
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM s
GROUP BY user_id, session_num
"""


@register("batch_session_window", oracle=_BATCH_SESSION_ORACLE)
def batch_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("mn"))
        .select(
            "user_id",
            F.col("mn").alias("session_start"),
            "n_events",
        )
    )


# --- lateral column alias (Spark 3.4 SELECT-list reference) ----------------
_LCA_ORACLE = """
SELECT doc_id,
       length(text) AS text_len,
       length(text) * 2 AS double_len,
       length(text) * 2 + n_chars AS plus_chars
FROM documents
"""


@register("lateral_column_alias", oracle=_LCA_ORACLE)
def lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_lca_docs"
    )
    return spark.sql(
        """
        SELECT doc_id,
               length(text) AS text_len,
               text_len * 2 AS double_len,
               double_len + n_chars AS plus_chars
        FROM _lca_docs
        """
    )


# --- ANSI percentile_cont / percentile_disc (WITHIN GROUP) -----------------
# The interpolating and discrete inverse-distribution functions —
# distinct from approx_percentile (sketch) and percentile (exact
# agg): percentile_cont interpolates between adjacent order
# statistics, percentile_disc returns the first value at-or-above the
# rank. DuckDB: quantile_cont / quantile_disc.
_PCT_CONT_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.25) * 10000) / 10000 + 0.0 AS p25_cont,
       round(quantile_cont(value, 0.90) * 10000) / 10000 + 0.0 AS p90_cont,
       round(quantile_disc(value, 0.90) * 10000) / 10000 + 0.0 AS p90_disc
FROM events
GROUP BY event_type
"""


@register("percentile_cont_disc", oracle=_PCT_CONT_ORACLE)
def percentile_cont_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_pct_events")
    return spark.sql(
        """
        SELECT event_type,
               round(percentile_cont(0.25) WITHIN GROUP (ORDER BY value)
                     * 10000) / 10000 + 0.0 AS p25_cont,
               round(percentile_cont(0.90) WITHIN GROUP (ORDER BY value)
                     * 10000) / 10000 + 0.0 AS p90_cont,
               round(percentile_disc(0.90) WITHIN GROUP (ORDER BY value)
                     * 10000) / 10000 + 0.0 AS p90_disc
        FROM _pct_events
        GROUP BY event_type
        """
    )


# --- row generators: stack / posexplode_outer / sequence -------------------
# stack(n, k1, v1, …) is SQL's inline unpivot-to-rows; posexplode_outer
# keeps empty arrays as a NULL row WITH the position column; sequence
# generates bounded ranges JVM-side. Oracle reconstructs each with
# UNION ALL / range arithmetic.
_GEN_ORACLE = """
SELECT o_orderkey, 'total' AS metric,
       round(o_totalprice * 10000) / 10000 + 0.0 AS v
FROM orders
UNION ALL
SELECT o_orderkey, 'half' AS metric,
       round(o_totalprice / 2 * 10000) / 10000 + 0.0 AS v
FROM orders
"""


@register("sql_stack_generator", oracle=_GEN_ORACLE)
def sql_stack_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_stack_orders")
    return spark.sql(
        """
        SELECT o_orderkey, s.metric,
               round(s.v * 10000) / 10000 + 0.0 AS v
        FROM _stack_orders
        LATERAL VIEW stack(2, 'total', o_totalprice,
                              'half', o_totalprice / 2) s AS metric, v
        """
    )


_POSEXPLODE_ORACLE = """
WITH t AS (
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN []
                ELSE string_split(text, ' ')[1:3] END AS toks
    FROM documents
)
SELECT doc_id,
       CASE WHEN len(toks) = 0 THEN NULL ELSE u.i - 1 END AS pos,
       CASE WHEN len(toks) = 0 THEN NULL ELSE toks[u.i] END AS tok
FROM t
LEFT JOIN LATERAL (
    SELECT unnest(generate_series(1, greatest(len(toks), 1))) AS i
) u ON TRUE
WHERE len(toks) > 0 OR u.i = 1
"""


@register("posexplode_outer_toks", oracle=_POSEXPLODE_ORACLE)
def posexplode_outer_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = F.when(
        F.col("doc_id") % 10 == 0, F.array().cast("array<string>")
    ).otherwise(F.slice(F.split(F.col("text"), " "), 1, 3))
    t = docs.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id", F.posexplode_outer("toks").alias("pos", "tok")
    )


# --- null-handling pack #2 --------------------------------------------------
# equal_null (null-safe equality as a FUNCTION, not <=>), nvl/nvl2,
# nanvl (NaN-aware fallback), zeroifnull/nullifzero. Planted NULLs /
# NaNs via modular conditions so every branch is exercised.
_NULL2_ORACLE = """
WITH t AS (
    SELECT event_id, user_id,
           CASE WHEN event_id % 5 = 0 THEN NULL ELSE user_id END AS a,
           CASE WHEN event_id % 3 = 0 THEN NULL ELSE user_id END AS b,
           CASE WHEN event_id % 4 = 0 THEN 'NaN'::DOUBLE
                ELSE value END AS v
    FROM events
)
SELECT event_id,
       (a IS NOT DISTINCT FROM b) AS ab_equal_null,
       coalesce(a, -1) AS a_nvl,
       CASE WHEN a IS NOT NULL THEN 'set' ELSE 'unset' END AS a_nvl2,
       round((CASE WHEN isnan(v) THEN 0.0 ELSE v END) * 10000) / 10000
           + 0.0 AS v_nanvl,
       coalesce(a, 0) AS a_zeroifnull,
       CASE WHEN user_id % 7 = 0 THEN NULL
            ELSE user_id % 7 END AS mod_nullifzero
FROM t
"""


@register("null_funcs2", oracle=_NULL2_ORACLE)
def null_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    t = ev.select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("a"),
        F.when(F.col("event_id") % 3 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("b"),
        F.when(F.col("event_id") % 4 == 0, F.lit(float("nan")))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    return t.select(
        "event_id",
        F.equal_null(F.col("a"), F.col("b")).alias("ab_equal_null"),
        F.nvl(F.col("a"), F.lit(-1)).alias("a_nvl"),
        F.nvl2(F.col("a"), F.lit("set"), F.lit("unset")).alias("a_nvl2"),
        R.r(F.nanvl(F.col("v"), F.lit(0.0)), 4).alias("v_nanvl"),
        F.zeroifnull(F.col("a")).alias("a_zeroifnull"),
        F.nullifzero(F.col("user_id") % 7).alias("mod_nullifzero"),
    )


# --- listagg (SQL:2016 ordered string aggregation, Spark 4.0) ---------------
# listagg(DISTINCT x, sep) WITHIN GROUP (ORDER BY x) — the standard's
# ordered string aggregation, new in Spark 4.0 (before it, collect_list
# + array_join approximations). DuckDB mirrors with
# string_agg(DISTINCT x, sep ORDER BY x). Ordering inside the
# aggregate is REQUIRED for determinism — an unordered listagg is a
# row-order lottery.
_LISTAGG_ORACLE = """
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
           AS statuses,
       string_agg(DISTINCT CAST(year(o_orderdate) AS VARCHAR), ','
                  ORDER BY CAST(year(o_orderdate) AS VARCHAR))
           AS years_active
FROM orders
GROUP BY o_orderpriority
"""


@register("listagg_order_status", oracle=_LISTAGG_ORACLE)
def listagg_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.year("o_orderdate").cast("string").alias("yr"),
    )
    # Two Spark 4.0 warts pinned here: (1) the DataFrame helper
    # F.listagg_distinct keeps ENCOUNTER order (verified 'c,a,b' on a
    # shuffled input) — only WITHIN GROUP sorts; (2) TWO
    # listagg-DISTINCT-WITHIN-GROUP aggregates in one aggregation
    # (DataFrame .agg OR spark.sql) throw ClassCastException
    # (AttributeReference → SortOrder) in the distinct-aggregate
    # rewrite. Workaround: pre-dedup each column and run PLAIN
    # WITHIN-GROUP listaggs in separate aggregations, joined back.
    def _agg(col: str, out: str):
        return (
            o.select("o_orderpriority", col)
            .distinct()
            .groupBy("o_orderpriority")
            .agg(
                F.expr(
                    f"listagg({col}, ',') WITHIN GROUP (ORDER BY {col})"
                ).alias(out)
            )
        )

    n = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        n.join(_agg("o_orderstatus", "statuses"), "o_orderpriority")
        .join(_agg("yr", "years_active"), "o_orderpriority")
    )

"""Lakehouse-shaped operations: custom Python data source scan and
CDC MERGE/upsert semantics.

Spark has no built-in MERGE INTO without a table format (Delta/
Iceberg, not present in this container), but the merge SEMANTICS are a
full-outer join + coalesce — expressed here declaratively so the same
plan runs against any sink. The Python data source query exercises the
Spark 4 ``pyspark.sql.datasource`` API as a first-class, partitioned,
schema-declared table (sources/manifest_source.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions import rounding as R
from swat_mapreduce_spark.queries import register
from swat_mapreduce_spark.sources.readers import read_table

# --- custom Python data source scan ---------------------------------------
# Rows are deterministic md5 functions of the index, so DuckDB can
# regenerate the source's exact content — the scan itself (partition
# planning, per-partition generation, schema) is what's under test.
_DATASOURCE_ROWS = 500
_PYSOURCE_ORACLE = f"""
WITH g AS (SELECT unnest(generate_series(0, {_DATASOURCE_ROWS - 1})) AS i),
p AS (
    SELECT i,
           'src' || (('0x' || substr(md5('manifest:' || i), 1, 2))::INT % 20)
               AS src
    FROM g
)
SELECT src, count(*) AS n, min(i) AS min_idx
FROM p GROUP BY src
"""


@register("python_datasource_scan", oracle=_PYSOURCE_ORACLE)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swat_mapreduce_spark.sources.manifest_source import (
        ManifestDataSource,
    )

    try:
        spark.dataSource.register(ManifestDataSource)
    except Exception:  # noqa: BLE001 - already registered in this session
        pass
    df = (
        spark.read.format("swat_manifest")
        .option("rows", _DATASOURCE_ROWS)
        .option("partitions", 8)
        .load()
    )
    src = F.regexp_extract("image_path", r"/img/(src\d+)/", 1)
    return df.groupBy(src.alias("src")).agg(
        F.count(F.lit(1)).alias("n"), F.min("idx").alias("min_idx")
    )


# --- CDC MERGE / upsert ----------------------------------------------------
# target = current snapshot; source = a change batch carrying updates
# for existing keys (event_id % 3 = 0, value doubled) and inserts of
# new keys (event_id % 7 = 0, shifted key space). MERGE semantics as a
# full-outer join on the key + coalesce precedence (source wins) + a
# per-row action tag — the exact dataflow Delta/Iceberg MERGE INTO
# compiles to, minus the transactional commit. One shuffle on the
# merge key; both sides hash-partition, AQE handles skew.
_UPSERT_ORACLE = """
WITH target AS (
    SELECT event_id, user_id, value FROM events
),
source AS (
    SELECT event_id, user_id, value * 2 AS value
    FROM events WHERE event_id % 3 = 0
    UNION ALL
    SELECT event_id + 10000000, user_id, value
    FROM events WHERE event_id % 7 = 0
)
SELECT coalesce(s.event_id, t.event_id) AS event_id,
       coalesce(s.user_id, t.user_id) AS user_id,
       round(coalesce(s.value, t.value), 4) AS value,
       CASE WHEN s.event_id IS NOT NULL AND t.event_id IS NOT NULL
            THEN 'update'
            WHEN s.event_id IS NOT NULL THEN 'insert'
            ELSE 'keep' END AS action
FROM target t FULL OUTER JOIN source s ON t.event_id = s.event_id
"""


@register("upsert_events_cdc", oracle=_UPSERT_ORACLE)
def upsert_events_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    target = events.select("event_id", "user_id", "value")
    updates = (
        events.filter(F.col("event_id") % 3 == 0)
        .select("event_id", "user_id", (F.col("value") * 2).alias("value"))
    )
    inserts = events.filter(F.col("event_id") % 7 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "user_id",
        "value",
    )
    source = updates.unionAll(inserts)
    t, s = target.alias("t"), source.alias("s")
    action = (
        F.when(
            F.col("s.event_id").isNotNull()
            & F.col("t.event_id").isNotNull(),
            "update",
        )
        .when(F.col("s.event_id").isNotNull(), "insert")
        .otherwise("keep")
    )
    return t.join(s, F.col("t.event_id") == F.col("s.event_id"), "full_outer").select(
        F.coalesce("s.event_id", "t.event_id").alias("event_id"),
        F.coalesce("s.user_id", "t.user_id").alias("user_id"),
        R.r(F.coalesce("s.value", "t.value"), 4).alias("value"),
        action.alias("action"),
    )


# --- incremental aggregate maintenance -------------------------------------
# The materialized-view refresh pattern a 100 TB pipeline lives on:
# yesterday's aggregate is NOT recomputed — only the new partition is
# aggregated and merged into the stored partials. Correct merging
# requires every statistic kept in a mergeable form (count/sum/min/max;
# avg derived at read time from sum÷count). The oracle recomputes the
# aggregate over the full table, so the query proves partial+merge ≡
# full recompute. Sums use DECIMAL so the merge is exact regardless of
# which partial each row landed in.
_INCR_ORACLE = """
SELECT user_id, event_type, count(*) AS n,
       round(sum(CAST(value AS DECIMAL(30,8))), 2)::DOUBLE AS sum_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value,
       round((sum(CAST(value AS DECIMAL(30,8)))::DOUBLE
              / count(*)) * 10000) / 10000 + 0.0 AS avg_value
FROM events
GROUP BY user_id, event_type
"""

_INCR_SPLIT = "2024-01-16"


def _partial_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(30,8)")).alias("psum"),
        F.min("value").alias("pmin"),
        F.max("value").alias("pmax"),
    )


@register("incremental_agg_merge", oracle=_INCR_ORACLE)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split events at a date boundary into the "already materialized"
    partials and the "newly arrived" partition, aggregate each side
    independently, then merge by re-aggregating the unioned partials.
    At scale the old side is a stored table of |group| rows — the
    incremental refresh cost is O(new partition), not O(history)."""
    ev = read_table(spark, sf_dir, "events")
    split = F.lit(_INCR_SPLIT).cast("timestamp")
    old_partials = _partial_agg(ev.filter(F.col("ts") < split))
    new_partials = _partial_agg(ev.filter(F.col("ts") >= split))
    merged = (
        old_partials.unionByName(new_partials)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("psum").alias("ssum"),
            F.min("pmin").alias("mn"),
            F.max("pmax").alias("mx"),
        )
    )
    p4 = F.lit(10000.0)
    return merged.select(
        "user_id",
        "event_type",
        "n",
        F.round(F.col("ssum"), 2).cast("double").alias("sum_value"),
        (F.round(F.col("mn") * p4) / p4 + 0.0).alias("min_value"),
        (F.round(F.col("mx") * p4) / p4 + 0.0).alias("max_value"),
        (
            F.round((F.col("ssum").cast("double") / F.col("n")) * p4) / p4
            + 0.0
        ).alias("avg_value"),
    )


# --- custom Python data source: STREAMING scan -----------------------------
# The streaming face of swat_manifest (SimpleDataSourceStreamReader):
# micro-batches of batch_size rows, dict offsets checkpointed by the
# engine, deterministic drain on a finite listing. availableNow on a
# simple stream reader only drains the one prefetched batch, so the
# query runs a processing-time trigger and waits until the finite
# source is exhausted (row count reaches the option) — multi-batch by
# construction (rows/batch_size = 5 triggers), which is the point:
# the offset hand-off between batches is what's under test.

_PYSTREAM_ROWS = 500
_PYSTREAM_ORACLE = f"""
WITH g AS (SELECT unnest(generate_series(0, {_PYSTREAM_ROWS - 1})) AS i),
p AS (
    SELECT i,
           'src' || (('0x' || substr(md5('manifest:' || i), 1, 2))::INT % 20)
               AS src
    FROM g
)
SELECT src, count(*) AS n, min(i) AS min_idx, max(i) AS max_idx
FROM p GROUP BY src
"""


@register("python_datasource_stream", oracle=_PYSTREAM_ORACLE)
def python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time
    import uuid

    from swat_mapreduce_spark.sources.manifest_source import (
        ManifestDataSource,
    )

    try:
        spark.dataSource.register(ManifestDataSource)
    except Exception:  # noqa: BLE001 - already registered in this session
        pass
    stream = (
        spark.readStream.format("swat_manifest")
        .option("rows", _PYSTREAM_ROWS)
        .option("batch_size", 100)
        .load()
    )
    qname = f"pystream_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        # drained = the batches' progress reports sum to every row: read
        # on the driver, so waiting runs no Spark job of its own (a
        # count() per poll made the job count follow the wall clock)
        deadline = time.time() + 120
        while time.time() < deadline:
            got = sum(p["numInputRows"] for p in q.recentProgress)
            if got >= _PYSTREAM_ROWS:
                break
            time.sleep(0.2)
        else:
            # fail loudly: a partial drain would otherwise surface as an
            # opaque value-hash mismatch at the driver
            raise TimeoutError(
                f"python_datasource_stream drained {got}/{_PYSTREAM_ROWS} "
                "rows before the 120 s deadline"
            )
    finally:
        q.stop()
    src = F.regexp_extract("image_path", r"/img/(src\d+)/", 1)
    return (
        spark.table(qname)
        .groupBy(src.alias("src"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("idx").alias("min_idx"),
            F.max("idx").alias("max_idx"),
        )
    )


# --- Z-order clustering key ------------------------------------------------
# Morton/Z-order bit interleave of two dimensions (customer bucket x
# order day) — the multi-dimensional data-skipping layout Delta/
# Iceberg OPTIMIZE ZORDER uses: sorting files by z keeps BOTH columns'
# per-file min/max ranges tight, so scans filtering either dimension
# skip files. Pure bit arithmetic (8 bits per dim -> 16-bit z),
# identical in both engines; the query audits the clustering by
# reporting per-z-bucket spans of each dimension.

def _z16(x: str, y: str) -> str:
    """SQL for the 16-bit interleave of two 8-bit ints (shared text —
    valid in both Spark SQL and DuckDB)."""
    terms = []
    for i in range(8):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


_ZX = "(o_custkey % 256)"
_ZY = "(CAST(day(o_orderdate) AS BIGINT) % 256)"

_ZORDER_ORACLE = f"""
WITH z AS (
    SELECT o_custkey, day(o_orderdate)::BIGINT AS d,
           {_z16(_ZX, _ZY)} AS zval
    FROM orders
)
SELECT (zval // 4096)::BIGINT AS z_bucket,
       count(*) AS n,
       (max(o_custkey % 256) - min(o_custkey % 256))::BIGINT AS cust_span,
       (max(d % 256) - min(d % 256))::BIGINT AS day_span
FROM z GROUP BY z_bucket
"""


@register("zorder_cluster_stats", oracle=_ZORDER_ORACLE)
def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_zorder_v"
    )
    return spark.sql(
        f"""
        WITH z AS (
            SELECT o_custkey,
                   CAST(day(o_orderdate) AS BIGINT) AS d,
                   {_z16(_ZX, _ZY)} AS zval
            FROM orders_zorder_v
        )
        SELECT CAST(zval DIV 4096 AS BIGINT) AS z_bucket,
               count(*) AS n,
               CAST(max(o_custkey % 256) - min(o_custkey % 256) AS BIGINT)
                   AS cust_span,
               CAST(max(d % 256) - min(d % 256) AS BIGINT) AS day_span
        FROM z GROUP BY z_bucket
        """
    )


# --- data-quality expectations report --------------------------------------
# Great-Expectations-style suite run as ONE query: each expectation is
# an independent aggregate (or anti-join for referential checks), all
# unioned into a (check, total_rows, violations, pass) report. At
# 100 TB every check is a single scan with map-side partial
# aggregation; the FK checks shuffle on the key like any join — there
# is no driver-side loop over checks (the union is one Spark plan, so
# scans shared by checks on the same table are subject to Catalyst's
# common-scan reuse).
_DQ_ORACLE = """
SELECT 'lineitem_qty_range' AS check_name,
       count(*)::BIGINT AS total_rows,
       count(*) FILTER (l_quantity < 1 OR l_quantity > 50)::BIGINT
           AS violations,
       count(*) FILTER (l_quantity < 1 OR l_quantity > 50) = 0 AS pass
FROM lineitem
UNION ALL
SELECT 'lineitem_price_positive', count(*)::BIGINT,
       count(*) FILTER (l_extendedprice <= 0)::BIGINT,
       count(*) FILTER (l_extendedprice <= 0) = 0
FROM lineitem
UNION ALL
SELECT 'lineitem_fk_order', count(*)::BIGINT,
       count(*) FILTER (o.o_orderkey IS NULL)::BIGINT,
       count(*) FILTER (o.o_orderkey IS NULL) = 0
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders_fk_customer', count(*)::BIGINT,
       count(*) FILTER (c.c_custkey IS NULL)::BIGINT,
       count(*) FILTER (c.c_custkey IS NULL) = 0
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'customer_key_unique', count(*)::BIGINT,
       (count(*) - count(DISTINCT c_custkey))::BIGINT,
       count(*) = count(DISTINCT c_custkey)
FROM customer
UNION ALL
SELECT 'events_value_non_negative', count(*)::BIGINT,
       count(*) FILTER (value < 0)::BIGINT,
       count(*) FILTER (value < 0) = 0
FROM events
UNION ALL
SELECT 'documents_nonempty_text', count(*)::BIGINT,
       count(*) FILTER (length(trim(text)) = 0)::BIGINT,
       count(*) FILTER (length(trim(text)) = 0) = 0
FROM documents
"""


@register("dq_expectations_report", oracle=_DQ_ORACLE)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    def check(name, df, viol_col):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("total_rows"),
            F.sum(F.when(viol_col, 1).otherwise(0))
            .cast("long")
            .alias("violations"),
            (F.sum(F.when(viol_col, 1).otherwise(0)) == 0).alias("pass"),
        )

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    ev = read_table(spark, sf_dir, "events")
    docs = read_table(spark, sf_dir, "documents")

    li_fk = li.select("l_orderkey").join(
        orders.select("o_orderkey"),
        li["l_orderkey"] == orders["o_orderkey"],
        "left",
    )
    ord_fk = orders.select("o_custkey").join(
        cust.select("c_custkey"),
        orders["o_custkey"] == cust["c_custkey"],
        "left",
    )
    uniq = cust.agg(
        F.lit("customer_key_unique").alias("check_name"),
        F.count(F.lit(1)).alias("total_rows"),
        (F.count(F.lit(1)) - F.countDistinct("c_custkey"))
        .cast("long")
        .alias("violations"),
        (F.count(F.lit(1)) == F.countDistinct("c_custkey")).alias("pass"),
    )
    parts = [
        check(
            "lineitem_qty_range",
            li,
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        ),
        check(
            "lineitem_price_positive", li, F.col("l_extendedprice") <= 0
        ),
        check("lineitem_fk_order", li_fk, F.col("o_orderkey").isNull()),
        check("orders_fk_customer", ord_fk, F.col("c_custkey").isNull()),
        uniq,
        check("events_value_non_negative", ev, F.col("value") < 0),
        check(
            "documents_nonempty_text",
            docs,
            F.length(F.trim("text")) == 0,
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --- snapshot diff / change-data-feed --------------------------------------
# Delta/Iceberg "table_changes between two versions" semantics without
# a table format: two deterministic snapshots are derived from events
# (v1 = event_id % 7 != 0, v2 = event_id % 5 != 0, with values
# restated for event_id % 11 == 0), then ONE full-outer join on the
# key classifies every row as insert / delete / update_post / nochange
# — exactly the CDF a downstream incremental consumer reads. At
# 100 TB the join shuffles both snapshots on the key once; the
# classification itself is narrow.
_SNAPDIFF_ORACLE = """
WITH v1 AS (
    SELECT event_id, value FROM events WHERE event_id % 7 != 0
),
v2 AS (
    SELECT event_id,
           CASE WHEN event_id % 11 = 0
                THEN round(value * 1.1 * 10000) / 10000 + 0.0
                ELSE value END AS value
    FROM events WHERE event_id % 5 != 0
),
diff AS (
    SELECT coalesce(v1.event_id, v2.event_id) AS event_id,
           CASE WHEN v1.event_id IS NULL THEN 'insert'
                WHEN v2.event_id IS NULL THEN 'delete'
                WHEN v1.value != v2.value THEN 'update_post'
                ELSE 'nochange' END AS change_type
    FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id
)
SELECT change_type, count(*)::BIGINT AS n_rows
FROM diff GROUP BY change_type
"""


@register("snapshot_diff_cdf", oracle=_SNAPDIFF_ORACLE)
def snapshot_diff_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    v1 = ev.filter(F.col("event_id") % 7 != 0)
    v2 = ev.filter(F.col("event_id") % 5 != 0).select(
        "event_id",
        F.when(
            F.col("event_id") % 11 == 0,
            R.r(F.col("value") * 1.1, 4),
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    a = v1.alias("a")
    b = v2.alias("b")
    diff = a.join(b, F.col("a.event_id") == F.col("b.event_id"), "full_outer")
    change = (
        F.when(F.col("a.event_id").isNull(), "insert")
        .when(F.col("b.event_id").isNull(), "delete")
        .when(F.col("a.value") != F.col("b.value"), "update_post")
        .otherwise("nochange")
    )
    return diff.select(change.alias("change_type")).groupBy(
        "change_type"
    ).agg(F.count(F.lit(1)).alias("n_rows"))


# --- partition min/max skipping stats --------------------------------------
# The file-skipping decision a lakehouse table format (Iceberg
# manifests / Delta stats / parquet row-group zone maps) makes,
# surfaced as a query: per daily partition, the min/max of `value`
# and whether a given predicate (value > threshold) could PRUNE the
# whole partition from its stats alone. The aggregate is one shuffle
# on the partition key; the skip decision is a narrow comparison — at
# 100 TB this query is the "how selective is my layout" audit run
# before choosing a partition/Z-order scheme (zorder_cluster_stats is
# the multi-column sibling).
_PARTSTATS_THRESHOLD = 450.0

_PARTSTATS_ORACLE = f"""
SELECT date_trunc('day', ts) AS part_day,
       count(*)::BIGINT AS n_rows,
       round(min(value) * 10000) / 10000 + 0.0 AS min_value,
       round(max(value) * 10000) / 10000 + 0.0 AS max_value,
       (max(value) <= {_PARTSTATS_THRESHOLD}) AS prunable,
       count(*) FILTER (value > {_PARTSTATS_THRESHOLD})::BIGINT
           AS n_matching
FROM events
GROUP BY date_trunc('day', ts)
"""


@register("partition_minmax_stats", oracle=_PARTSTATS_ORACLE)
def partition_minmax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # DuckDB date_trunc('day') yields DATE; emit DATE here too
    return ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("part_day")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.round(F.min("value") * 10000.0) / 10000.0 + 0.0).alias(
            "min_value"
        ),
        (F.round(F.max("value") * 10000.0) / 10000.0 + 0.0).alias(
            "max_value"
        ),
        (F.max("value") <= _PARTSTATS_THRESHOLD).alias("prunable"),
        F.sum(
            F.when(F.col("value") > _PARTSTATS_THRESHOLD, 1).otherwise(0)
        ).cast("long").alias("n_matching"),
    )


# --- Python DataSource WRITER (Spark 4) ------------------------------------
# Completes the custom-format API surface (scan + stream reader are
# above): per-priority order aggregates go out through the
# swat_jsonl_sink two-phase writer (task temp files → commit rename),
# come back in via spark.read.json, and the round trip is oracled —
# proving the writer's commit protocol delivers exactly the committed
# rows. One agg shuffle; the write itself is embarrassingly parallel
# (one file per partition, no driver funnel).
_PYSINK_ORACLE = """
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2)::DOUBLE
           AS total_value
FROM orders
GROUP BY o_orderpriority
"""


@register("python_datasource_write", oracle=_PYSINK_ORACLE)
def python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from swat_mapreduce_spark.sources.manifest_source import (
        JsonlSinkDataSource,
    )

    try:
        spark.dataSource.register(JsonlSinkDataSource)
    except Exception:  # noqa: BLE001 - already registered in this session
        pass
    agg = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            R.money_sum(F.col("o_totalprice")).alias("total_value"),
        )
    )
    out_dir = tempfile.mkdtemp(prefix="swat_jsonl_sink_")
    agg.write.format("swat_jsonl_sink").option("path", out_dir).mode(
        "append"
    ).save()
    back = (
        spark.read.schema(
            "o_orderpriority string, n_orders long, total_value double"
        )
        .option("pathGlobFilter", "part-*.jsonl")
        .json(out_dir)
    )
    return back.select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("total_value").cast("double").alias("total_value"),
    )


# --- SQL scripting (Spark 4 BEGIN…END) -------------------------------------
# Procedural SQL: DECLARE/WHILE/SET driving real queries — the
# scripting runtime executes on the driver but every statement inside
# is a distributed Catalyst plan. The script doubles a price
# threshold until fewer than 100 orders exceed it; the oracle derives
# the same fixed point declaratively (first k with count < 100).
_SQLSCRIPT_START = 32000.0
_SQLSCRIPT_LIMIT = 100

_SQLSCRIPT_ORACLE = f"""
WITH ks AS (SELECT unnest(generate_series(0, 10)) AS k),
counts AS (
    SELECT k.k, {_SQLSCRIPT_START} * power(2, k.k) AS threshold,
           (SELECT count(*) FROM orders
            WHERE o_totalprice > {_SQLSCRIPT_START} * power(2, k.k))
               AS n_above
    FROM ks k
)
SELECT threshold, n_above::BIGINT AS n_above
FROM counts WHERE n_above < {_SQLSCRIPT_LIMIT}
ORDER BY k LIMIT 1
"""


@register("sql_scripting_block", oracle=_SQLSCRIPT_ORACLE)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_script_v"
    )
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(
        f"""
        BEGIN
          DECLARE threshold DOUBLE DEFAULT {_SQLSCRIPT_START};
          DECLARE n_above BIGINT DEFAULT 0;
          SET n_above = (SELECT count(*) FROM orders_script_v
                         WHERE o_totalprice > threshold);
          WHILE n_above >= {_SQLSCRIPT_LIMIT} DO
            SET threshold = threshold * 2;
            SET n_above = (SELECT count(*) FROM orders_script_v
                           WHERE o_totalprice > threshold);
          END WHILE;
          SELECT threshold, n_above;
        END
        """
    )


# --- delta-encoding sort-order audit ---------------------------------------
# Which layout compresses best? Parquet delta/RLE encodings win when
# consecutive values are close, so the audit measures the mean
# absolute successive difference of `value` under two candidate
# orders — arrival (ts) vs value-sorted — per daily partition
# (windows stay partition-bounded; no global sort). The value-sorted
# delta is the floor any order can reach; the ratio tells you what
# re-sorting before write would buy. Companion to
# zorder_cluster_stats (clustering) and compact_small_files (sizing).
_DELTA_ORACLE = """
WITH d AS (
    SELECT date_trunc('day', ts)::DATE AS day, ts, event_id, value
    FROM events
),
by_ts AS (
    SELECT day,
           abs(value - lag(value) OVER (PARTITION BY day
                                        ORDER BY ts, event_id)) AS dv
    FROM d
),
by_val AS (
    SELECT day,
           abs(value - lag(value) OVER (PARTITION BY day
                                        ORDER BY value, event_id)) AS dv
    FROM d
),
a AS (
    SELECT day,
           round(sum(CAST(dv AS DECIMAL(30,8)))::DOUBLE
                 / count(dv) * 10000) / 10000 + 0.0 AS mad_ts
    FROM by_ts WHERE dv IS NOT NULL GROUP BY day
),
b AS (
    SELECT day,
           round(sum(CAST(dv AS DECIMAL(30,8)))::DOUBLE
                 / count(dv) * 10000) / 10000 + 0.0 AS mad_sorted
    FROM by_val WHERE dv IS NOT NULL GROUP BY day
)
SELECT a.day, a.mad_ts, b.mad_sorted,
       round(a.mad_ts / b.mad_sorted * 10000) / 10000 + 0.0
           AS sort_gain
FROM a JOIN b USING (day)
"""


@register("delta_encoding_audit", oracle=_DELTA_ORACLE)
def delta_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        "ts",
        "event_id",
        "value",
    )
    w_ts = Window.partitionBy("day").orderBy("ts", "event_id")
    w_val = Window.partitionBy("day").orderBy("value", "event_id")

    def mad(wspec, out):
        dv = F.abs(F.col("value") - F.lag("value").over(wspec))
        per = d.select("day", dv.alias("dv")).filter(
            F.col("dv").isNotNull()
        )
        return per.groupBy("day").agg(
            (
                F.round(
                    F.sum(F.col("dv").cast("decimal(30,8)")).cast(
                        "double"
                    )
                    / F.count("dv")
                    * 10000.0
                )
                / 10000.0
                + 0.0
            ).alias(out)
        )

    a = mad(w_ts, "mad_ts")
    b = mad(w_val, "mad_sorted")
    return a.join(b, "day").select(
        "day",
        "mad_ts",
        "mad_sorted",
        (
            F.round(F.col("mad_ts") / F.col("mad_sorted") * 10000.0)
            / 10000.0
            + 0.0
        ).alias("sort_gain"),
    )


# --- incremental JOIN maintenance (delta join) -----------------------------
# The join analogue of incremental_agg_merge: with deltas on BOTH
# inputs, Δ(A ⋈ B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB — the refresh
# touches only delta-sized join inputs (each term has a delta side
# driving the probe), never re-joins history against history. The
# query computes the maintained view (old materialization + the three
# delta terms) and proves it equals the full recompute the oracle
# runs. Sums in DECIMAL so term boundaries can't flip roundings.
_INCR_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       count(*) AS n_items,
       round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(30,8))), 2)::DOUBLE AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""

_INCR_JOIN_SPLIT_O = "1996-01-01"
_INCR_JOIN_SPLIT_L = "1996-06-01"


@register("incremental_join_delta", oracle=_INCR_JOIN_ORACLE)
def incremental_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    so = F.lit(_INCR_JOIN_SPLIT_O).cast("timestamp")
    sl = F.lit(_INCR_JOIN_SPLIT_L).cast("timestamp")
    o_old, o_new = (
        orders.filter(F.col("o_orderdate") < so),
        orders.filter(F.col("o_orderdate") >= so),
    )
    l_old, l_new = (
        li.filter(F.col("l_shipdate") < sl),
        li.filter(F.col("l_shipdate") >= sl),
    )

    def term(o_side: DataFrame, l_side: DataFrame) -> DataFrame:
        return o_side.join(
            l_side, F.col("o_orderkey") == F.col("l_orderkey")
        ).select(
            "o_orderpriority",
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("decimal(30,8)").alias("rev"),
        )

    # old⋈old is the stored materialization; the three delta terms are
    # the refresh work (each bounded by a delta input).
    view = (
        term(o_old, l_old)
        .unionByName(term(o_new, l_old))
        .unionByName(term(o_old, l_new))
        .unionByName(term(o_new, l_new))
    )
    return view.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
    )


# --- Python data source FILTER PUSHDOWN (Spark 4.1) ------------------------
# The idx-range predicate reaches the source's pushFilters hook and
# narrows generation BEFORE partition planning; supported filters are
# claimed as handled, so if the source ignored the range the extra
# rows would fail this oracle (see ManifestReader docstring).
_PD_LO, _PD_HI, _PD_TOTAL = 120, 260, 2000
_PYSOURCE_PD_ORACLE = f"""
WITH g AS (SELECT unnest(generate_series({_PD_LO}, {_PD_HI - 1})) AS i),
p AS (
    SELECT i,
           'src' || (('0x' || substr(md5('manifest:' || i), 1, 2))::INT % 20)
               AS src
    FROM g
)
SELECT src, count(*) AS n, min(i) AS min_idx, max(i) AS max_idx
FROM p GROUP BY src
"""


@register("python_datasource_pushdown", oracle=_PYSOURCE_PD_ORACLE)
def python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swat_mapreduce_spark.sources.manifest_source import (
        ManifestDataSource,
    )

    try:
        spark.dataSource.register(ManifestDataSource)
    except Exception:  # noqa: BLE001 - already registered in this session
        pass
    df = (
        spark.read.format("swat_manifest")
        .option("rows", _PD_TOTAL)
        .option("partitions", 8)
        .load()
        .filter((F.col("idx") >= _PD_LO) & (F.col("idx") < _PD_HI))
    )
    src = F.regexp_extract("image_path", r"/img/(src\d+)/", 1)
    return df.groupBy(src.alias("src")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("idx").alias("min_idx"),
        F.max("idx").alias("max_idx"),
    )


# --- Spark 4.1 Declarative Pipelines (batch subset, local runner) ----------
# The dataflow graph is DECLARED with the public pyspark.pipelines
# decorators (bronze→silver→gold, registered gold-first to prove the
# runner resolves dependency order, not declaration order) and
# executed by plans/pipeline_runner.run_pipeline — the engine-side
# batch runner for the SDP definition API (the upstream runner ships
# only on Spark Connect).
_DP_ORACLE = """
SELECT o.o_orderpriority,
       count(*) AS n_items,
       round(sum(CAST(l.l_extendedprice AS DECIMAL(30,8))), 2)::DOUBLE
           AS gross
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_quantity > 10
GROUP BY o.o_orderpriority
"""


@register("declarative_pipeline_mv", oracle=_DP_ORACLE)
def declarative_pipeline_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.pipelines as dp

    from swat_mapreduce_spark.plans.pipeline_runner import run_pipeline

    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_dp_orders"
    )
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_dp_lineitem"
    )

    def define() -> None:
        @dp.materialized_view(name="dp_gold_priority_revenue")
        def gold():  # depends on silver — declared first on purpose
            s = spark.read.table("dp_silver_enriched")
            return s.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum("price_dec"), 2)
                .cast("double")
                .alias("gross"),
            )

        @dp.materialized_view(name="dp_silver_enriched")
        def silver():  # depends on bronze + the source view
            o = spark.read.table("_dp_orders")
            b = spark.read.table("dp_bronze_items")
            return b.join(
                o, b["l_orderkey"] == o["o_orderkey"]
            ).select(
                "o_orderpriority",
                F.col("l_extendedprice")
                .cast("decimal(30,8)")
                .alias("price_dec"),
            )

        @dp.materialized_view(name="dp_bronze_items")
        def bronze():
            return (
                spark.read.table("_dp_lineitem")
                .filter(F.col("l_quantity") > 10)
                .select("l_orderkey", "l_extendedprice")
            )

    out = run_pipeline(spark, define)
    return out["dp_gold_priority_revenue"]


# --- hidden file-metadata columns (_metadata struct) -----------------------
# Spark's `_metadata` struct surfaces file provenance (name, row
# index) without any extra scan — the lineage/debugging hook for
# lakehouse tables. The XOR checksum over (row_index : l_orderkey)
# pins PHYSICAL row order agreement with DuckDB's file_row_number —
# i.e. both engines see the same row at the same position in the same
# file, which is what makes file+offset row provenance portable.
# The oracle sees lineitem only as a VIEW (no filename/file_row_number
# virtual columns), so it reconstructs the per-file row index with
# row_number() over the bare scan — DuckDB preserves physical insertion
# order on parquet scans (preserve_insertion_order defaults to true),
# and the testdata tables are single-file, so the reconstructed index
# equals Spark's _metadata.row_index. The XOR checksum then pins that
# BOTH engines see the same row at the same offset.
_FILE_META_ORACLE = """
WITH r AS (
    SELECT l_orderkey, row_number() OVER () - 1 AS row_index
    FROM lineitem
)
SELECT 'lineitem.parquet' AS file_name,
       count(*) AS n_rows,
       min(row_index) AS min_idx,
       max(row_index) AS max_idx,
       bit_xor(('0x' || substr(md5(row_index || ':' || l_orderkey),
                               1, 15))::BIGINT) AS order_checksum
FROM r
GROUP BY 1
"""


@register(
    "file_metadata_audit",
    oracle=_FILE_META_ORACLE,
)
def file_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    return li.groupBy("file_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("row_index").alias("min_idx"),
        F.max("row_index").alias("max_idx"),
        F.expr(
            "bit_xor(cast(conv(substring(md5(concat_ws(':', row_index, "
            "l_orderkey)), 1, 15), 16, 10) as bigint))"
        ).alias("order_checksum"),
    )


# --- dynamic partition overwrite (idempotent backfill) ---------------------
# THE batch-reprocess primitive: rewriting one day's partition must
# replace exactly that partition and leave every other untouched —
# partitionOverwriteMode=dynamic scopes INSERT OVERWRITE to the
# partitions present in the incoming frame (static mode would drop
# the whole table). The query backfills 2024-01-05 with doubled
# values and returns per-day aggregates of the final table; the
# oracle states the expected post-backfill content.
_DYN_OVERWRITE_ORACLE = """
SELECT CAST(ts AS DATE) AS d,
       count(*) AS n,
       round(sum(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
                      THEN value * 2 ELSE value END) * 100) / 100 + 0.0
           AS sum_value
FROM events
GROUP BY 1
"""


@register("dynamic_partition_overwrite", oracle=_DYN_OVERWRITE_ORACLE)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    ev = read_table(spark, sf_dir, "events").withColumn(
        "d", F.to_date("ts")
    )
    base = tempfile.mkdtemp(prefix="swat_dynow_")
    path = base + "/t"
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        ev.write.partitionBy("d").parquet(path)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        backfill = (
            ev.filter(F.col("d") == F.lit("2024-01-05").cast("date"))
            .withColumn("value", F.col("value") * 2)
        )
        backfill.write.mode("overwrite").partitionBy("d").parquet(path)
        out = (
            spark.read.parquet(path)
            .groupBy("d")
            .agg(
                F.count(F.lit(1)).alias("n"),
                R.r(F.sum("value"), 2).alias("sum_value"),
            )
        )
        rows = out.collect()  # bounded: one row per day (~30)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# --- dynamic partition pruning ---------------------------------------------
# The Catalyst feature that makes star-schema joins viable on
# partitioned 100 TB facts: when the fact scan is partitioned on the
# join key and the dim side carries a selective filter, Spark injects
# a runtime subquery (dynamicpruningexpression) that reads ONLY the
# fact partitions matching the filtered dim — partition pruning
# decided at execution, not plan, time. Here: orders staged
# partitioned by order month, joined to a month dimension filtered to
# Q2 — the scan must touch ~1/4 of the partitions. The plan assertion
# lives in tests/test_plans.py; the value oracle recomputes the same
# Q2 revenue from the raw view.
_DPP_ORACLE = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2)::DOUBLE
           AS revenue,
       count(*)::BIGINT AS n_orders
FROM orders
WHERE quarter(o_orderdate) = 2
GROUP BY 1
"""


def _dpp_query(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Stage orders partitioned by month under ``path`` and return the
    DPP-shaped join (fact partition column = filtered dim key)."""
    orders = read_table(spark, sf_dir, "orders")
    fact = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    fact.write.partitionBy("month").parquet(path)
    staged = spark.read.parquet(path)
    # month dimension with a quarter attribute, filtered to Q2; built
    # as an aggregate so the filter cannot constant-fold into a static
    # IN-list — the pruning must happen at runtime
    dim = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("d_month"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .groupBy("d_month", "qtr")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("qtr") == 2)
        .select("d_month")
    )
    return (
        staged.join(dim, staged["month"] == dim["d_month"])
        .groupBy("month")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,8)")), 2
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register("dynamic_partition_pruning_join", oracle=_DPP_ORACLE)
def dynamic_partition_pruning_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="swat_dpp_")
    try:
        out = _dpp_query(spark, sf_dir, base + "/t")
        rows = out.collect()  # bounded: one row per Q2 month
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# --- zone-map skipping effectiveness audit ----------------------------------
# Data-layout audit BEFORE paying for an OPTIMIZE/sort rewrite: for
# every month-range predicate, how many 1024-row blocks (the zone-map
# / parquet-row-group unit) does the CURRENT physical layout let a
# min/max-pruning scan skip, versus how many a date-sorted rewrite
# WOULD skip? Natural-order blocks come from `_metadata.row_index`
# (physical position, zero extra scan — the file_metadata_audit
# pattern); the sorted counterfactual needs NO global sort at all:
# under a date sort each month occupies one contiguous rank range, so
# its block count is pure arithmetic over the bounded month histogram
# (floor((hi-1)/B) - floor(lo/B) + 1). The oracle reconstructs the
# physical index with row_number() over the bare scan (CLAUDE.md
# gotcha 9a: DuckDB preserves parquet insertion order; single-file
# tables). At 100 TB: blocks table is n_rows/1024 bounded metadata,
# months are bounded, and the counterfactual stays collect-free.
_ZM_BLOCK = 1024

_ZONE_MAP_ORACLE = f"""
WITH r AS (
    SELECT o_orderdate, row_number() OVER () - 1 AS row_index
    FROM orders
),
blocks AS (
    SELECT row_index // {_ZM_BLOCK} AS blk,
           min(date_trunc('month', o_orderdate)::DATE) AS mn,
           max(date_trunc('month', o_orderdate)::DATE) AS mx
    FROM r GROUP BY 1
),
nb AS (SELECT count(*)::BIGINT AS n_blocks FROM blocks),
months AS (
    SELECT date_trunc('month', o_orderdate)::DATE AS m,
           count(*)::BIGINT AS cnt
    FROM orders GROUP BY 1
),
cum AS (
    SELECT m1.m, m1.cnt,
           coalesce(sum(m2.cnt), 0)::BIGINT AS lo
    FROM months m1 LEFT JOIN months m2 ON m2.m < m1.m
    GROUP BY m1.m, m1.cnt
),
nat AS (
    SELECT c.m, count(*)::BIGINT AS nat_scanned
    FROM cum c JOIN blocks b ON c.m >= b.mn AND c.m <= b.mx
    GROUP BY 1
)
SELECT c.m AS month, c.cnt AS n_rows, nb.n_blocks,
       coalesce(n.nat_scanned, 0)::BIGINT AS nat_blocks_scanned,
       round((1.0 - coalesce(n.nat_scanned, 0)::DOUBLE / nb.n_blocks)
             * 10000) / 10000 + 0.0 AS nat_skip_rate,
       ((c.lo + c.cnt - 1) // {_ZM_BLOCK} - c.lo // {_ZM_BLOCK} + 1)::BIGINT
           AS sorted_blocks_scanned,
       round((1.0 - ((c.lo + c.cnt - 1) // {_ZM_BLOCK}
                     - c.lo // {_ZM_BLOCK} + 1)::DOUBLE / nb.n_blocks)
             * 10000) / 10000 + 0.0 AS sorted_skip_rate
FROM cum c LEFT JOIN nat n ON n.m = c.m, nb
"""


@register("zone_map_skipping_audit", oracle=_ZONE_MAP_ORACLE)
def zone_map_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("_metadata.row_index").alias("row_index"),
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
    )
    blocks = ords.groupBy(
        (F.col("row_index") / F.lit(_ZM_BLOCK)).cast("long").alias("blk")
    ).agg(F.min("month").alias("mn"), F.max("month").alias("mx"))
    nb = blocks.agg(F.count(F.lit(1)).alias("n_blocks"))
    months = ords.groupBy("month").agg(F.count(F.lit(1)).alias("cnt"))
    # cumulative month offsets via bounded self-join (|months| ~ 80
    # rows — no window, no global sort)
    m2 = months.select(F.col("month").alias("m2"), F.col("cnt").alias("cnt2"))
    cum = (
        months.join(m2, F.col("m2") < F.col("month"), "left")
        .groupBy("month", "cnt")
        .agg(F.coalesce(F.sum("cnt2"), F.lit(0)).alias("lo"))
    )
    # The months side is broadcast by hint: left to AQE, the build side
    # is whichever input finishes first, and the plan (12 or 13 stages)
    # varied from run to run.
    nat = (
        F.broadcast(cum.select("month"))
        .join(
            blocks,
            (F.col("month") >= F.col("mn")) & (F.col("month") <= F.col("mx")),
        )
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("nat_scanned"))
    )
    srt_scanned = (
        (F.col("lo") + F.col("cnt") - 1) / F.lit(_ZM_BLOCK)
    ).cast("long") - (F.col("lo") / F.lit(_ZM_BLOCK)).cast("long") + F.lit(1)
    return (
        cum.join(nat, "month", "left")
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("month"),
            F.col("cnt").alias("n_rows"),
            F.col("n_blocks").cast("long"),
            F.coalesce("nat_scanned", F.lit(0))
            .cast("long")
            .alias("nat_blocks_scanned"),
            R.r(
                F.lit(1.0)
                - F.coalesce("nat_scanned", F.lit(0)).cast("double")
                / F.col("n_blocks"),
                4,
            ).alias("nat_skip_rate"),
            srt_scanned.cast("long").alias("sorted_blocks_scanned"),
            R.r(
                F.lit(1.0)
                - srt_scanned.cast("double") / F.col("n_blocks"),
                4,
            ).alias("sorted_skip_rate"),
        )
    )

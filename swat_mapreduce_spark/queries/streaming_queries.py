"""Streaming queries run with availableNow → memory sink, compared
against batch DuckDB oracles (tumbling/sliding windows are
SQL-expressible; session windows are checked against the lag+cumsum
sessionization formulation)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from swat_mapreduce_spark.queries import register
from swat_mapreduce_spark.streaming import jobs

# Tumbling 1h windows are epoch-aligned → date_trunc('hour') oracle.
_TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


@register("stream_tumbling_agg", oracle=_TUMBLING_ORACLE)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = jobs.events_stream(spark, sf_dir)
    return jobs.run_available_now(
        jobs.tumbling_counts(stream, "1 hour"), "tumbling"
    )


# Sliding (size 1h, slide 30m): each event falls in exactly 2 windows,
# starts at floor(epoch/1800)*1800 and that minus 1800 (micros math).
_SLIDING_ORACLE = """
SELECT make_timestamp(((epoch_us(ts) // 1800000000) - o.k) * 1800000000)
           AS window_start,
       count(*) AS n
FROM events, (SELECT unnest([0, 1]) AS k) AS o
GROUP BY window_start
"""


@register("stream_sliding_agg", oracle=_SLIDING_ORACLE)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = jobs.events_stream(spark, sf_dir)
    return jobs.run_available_now(
        jobs.sliding_counts(stream, "1 hour", "30 minutes"), "sliding"
    )


# Session windows (gap 30m): oracle = lag+cumsum sessionization with
# end-exclusive gap semantics (diff >= gap starts a new session).
_SESSION_ORACLE = """
WITH e AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR datediff('microsecond', lag(ts) OVER w, ts) >= 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
    SELECT user_id, ts,
           (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           )::BIGINT AS session_num
    FROM e
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM s
GROUP BY user_id, session_num
"""


@register("stream_session_window", oracle=_SESSION_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = jobs.events_stream(spark, sf_dir)
    return jobs.run_available_now(
        jobs.session_counts(stream, "30 minutes"), "session"
    )


# Stateful operator: with availableNow the whole table is one micro-
# batch, so the emitted per-user state equals the batch aggregate —
# which is exactly what the oracle checks. (The cross-batch state
# mechanics are exercised by tests/test_temporal_streaming.py with a
# two-batch file source.)
_STATEFUL_ORACLE = """
SELECT user_id, count(*) AS n_events,
       round(max(value), 4) AS max_value,
       max(ts) AS last_ts
FROM events
GROUP BY user_id
"""


@register("stream_stateful_user_stats", oracle=_STATEFUL_ORACLE)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = jobs.events_stream(spark, sf_dir)
    return jobs.run_available_now(
        jobs.stateful_user_stats(stream), "stateful", output_mode="update"
    )


# transformWithStateInPandas (Spark 4's typed-state successor to
# applyInPandasWithState): same single-batch-equals-batch-aggregate
# argument as stream_stateful_user_stats. The TWS Python runner talks
# to the JVM state server over protobuf; compat.ensure_protobuf makes
# the container's vendored cloud-sdk protobuf runtime importable as
# google.protobuf, so the query registers unconditionally wherever
# ANY protobuf runtime is reachable (the registration gate survives
# only for a container with none at all — documented in COVERAGE.md).
_TWS_ORACLE = """
SELECT user_id, count(*) AS n_events,
       round(max(value), 4) AS max_value,
       min(ts) AS first_ts
FROM events
GROUP BY user_id
"""


def _tws_runtime_available() -> bool:
    from swat_mapreduce_spark.compat import ensure_protobuf

    if not ensure_protobuf():
        return False
    try:
        # the real gate: pyspark's generated protocol module must load
        # against whatever runtime ensure_protobuf provided
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

        return True
    except ImportError:
        return False


def stream_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = jobs.events_stream(spark, sf_dir)
        return jobs.run_available_now(
            jobs.tws_user_stats(stream), "tws", output_mode="update"
        )
    finally:
        spark.conf.set(provider_key, prev)


if _tws_runtime_available():  # pragma: no cover - env-dependent
    register("stream_tws_user_stats", oracle=_TWS_ORACLE)(
        stream_tws_user_stats
    )


# Chained stateful operators (Spark 4): 30-min per-user tumbling counts
# re-windowed into 2-hour rollups, append mode end to end. Append only
# emits windows the final watermark closed, so the oracle reproduces
# Spark's watermark arithmetic exactly: max event time truncated to
# MILLISECONDS minus the 1-hour delay; a 2h window emits iff its end
# <= that watermark (all its 30-min inputs closed strictly earlier).
_CHAINED_ORACLE = """
WITH wm AS (
    SELECT ((max(epoch_us(ts)) // 1000) - 3600000) * 1000 AS wm_us
    FROM events
),
i AS (
    SELECT (epoch_us(ts) // 1800000000) * 1800000000 AS wus,
           user_id, count(*) AS n
    FROM events
    GROUP BY 1, 2
)
SELECT make_timestamp((wus // 7200000000) * 7200000000) AS window_start,
       count(*) AS n_user_windows,
       sum(n)::BIGINT AS n_events,
       max(n) AS max_user_window
FROM i, wm
GROUP BY 1, wm.wm_us
HAVING (epoch_us(window_start) + 7200000000) <= wm.wm_us
"""


@register("stream_chained_agg", oracle=_CHAINED_ORACLE)
def stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = jobs.events_stream(spark, sf_dir)
    return jobs.run_available_now(
        jobs.chained_window_agg(stream), "chained", output_mode="append"
    )


# Streaming dedup: every event_id is unique in the testdata, so the
# oracle is the full projection; duplicate-collapse semantics are
# pinned by tests/test_temporal_streaming.py with an injected-dup
# two-batch source.
_SDEDUP_ORACLE = """
SELECT event_id, ts, user_id, event_type, round(value, 4) AS value
FROM events
"""


@register("stream_dedup_events", oracle=_SDEDUP_ORACLE)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.functions import rounding as R

    stream = jobs.events_stream(spark, sf_dir)
    out = jobs.run_available_now(
        jobs.stream_dedup(stream), "sdedup", output_mode="append"
    )
    return out.select(
        "event_id", "ts", "user_id", "event_type",
        R.r("value", 4).alias("value"),
    )


# Stream-stream interval join (click→purchase attribution within 1h).
# availableNow processes everything in one micro-batch, so the result
# equals the batch interval join the oracle runs.
_INTERVAL_JOIN_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       datediff('microsecond', c.ts, p.ts) AS delay_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


@register("stream_interval_join", oracle=_INTERVAL_JOIN_ORACLE)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = jobs.events_stream(spark, sf_dir)
    return jobs.run_available_now(
        jobs.interval_join_clicks_purchases(stream, "1 hour"),
        "interval_join",
        output_mode="append",
    )


# Dynamic-gap session windows: gap depends on the EVENT (clicks 10m,
# everything else 30m). Merge rule: an event joins a session if its ts
# is strictly before the session's running max end (end-exclusive);
# its own gap then extends the end. Oracle: running max of (ts + gap)
# over preceding rows — the lag+cumsum sessionization generalized to
# per-row gaps.
_SESSION_DYN_ORACLE = """
WITH e AS (
    SELECT user_id, ts,
           epoch_us(ts) AS us,
           CASE WHEN event_type = 'click' THEN 600000000
                ELSE 1800000000 END AS gap_us
    FROM events
),
m AS (
    SELECT user_id, ts, us,
           max(us + gap_us) OVER (
               PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS max_end_us
    FROM e
),
s AS (
    SELECT user_id, ts,
           (sum(CASE WHEN max_end_us IS NULL OR us >= max_end_us
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           )::BIGINT AS session_num
    FROM m
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM s
GROUP BY user_id, session_num
"""


@register("stream_session_dynamic_gap", oracle=_SESSION_DYN_ORACLE)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = jobs.events_stream(spark, sf_dir)
    return jobs.run_available_now(
        jobs.session_counts_dynamic_gap(stream), "session_dyn"
    )


# Stream-static enrichment: the event stream joined per-micro-batch
# against a STATIC dimension (customer -> nation) — no state store at
# all (the static side is just re-planned into each batch; Catalyst
# broadcasts it under the threshold). The production pattern for
# enriching a 100 TB/day stream with reference data; only the
# post-join aggregation is stateful.
_STREAM_STATIC_ORACLE = """
SELECT n.n_name, e.event_type, count(*) AS n,
       round(sum(CAST(e.value AS DECIMAL(30,8))), 2)::DOUBLE AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, e.event_type
"""


@register("stream_static_enrich", oracle=_STREAM_STATIC_ORACLE)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.sources.readers import read_table

    stream = jobs.events_stream(spark, sf_dir)
    dim = (
        read_table(spark, sf_dir, "customer")
        .join(
            read_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("n_name", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 2)
        .cast("double")
        .alias("total_value"),
    )
    return jobs.run_available_now(agg, "static_enrich")


# --- incremental top-k materialization via foreachBatch --------------------
# The monoid-merge pattern applied to a stream: each micro-batch
# contributes its LOCAL top-k (TakeOrderedAndProject inside the
# batch — no global sort, no unbounded state store), and foreachBatch
# folds it into a driver-held k-row materialization (top-k is a
# mergeable monoid: merge(topk(A), topk(B)) == topk(A ∪ B)). State is
# k rows regardless of stream length — the streaming twin of
# incremental_topk_merge. The oracle is the batch top-k over the whole
# table, which the fold provably equals.
_STREAM_TOPK_K = 20

_STREAM_TOPK_ORACLE = f"""
SELECT event_id, user_id, event_type, value
FROM events
ORDER BY value DESC, event_id
LIMIT {_STREAM_TOPK_K}
"""


@register("stream_topk_foreachbatch", oracle=_STREAM_TOPK_ORACLE)
def stream_topk_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    stream = jobs.events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    state: dict[str, list] = {"rows": []}

    def fold_topk(batch_df, _batch_id):
        batch_top = (
            batch_df.orderBy(F.desc("value"), F.asc("event_id"))
            .limit(_STREAM_TOPK_K)
            .collect()
        )
        merged = state["rows"] + batch_top
        merged.sort(key=lambda r: (-r["value"], r["event_id"]))
        state["rows"] = merged[:_STREAM_TOPK_K]

    q = (
        stream.writeStream.foreachBatch(fold_topk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        state["rows"],
        "event_id long, user_id long, event_type string, value double",
    )


# Streaming last-touch attribution via transformWithStateInPandas:
# the per-user counters a single availableNow batch produces equal the
# batch carry-forward computation, which is what the oracle pins
# (attribution_last_touch is the channel-level batch twin; this one
# emits per-user counters — order-free, replay-deterministic).
_TWS_ATTRIB_ORACLE = """
WITH ev AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
),
flow AS (
    SELECT user_id, event_type,
           last_value(CASE WHEN event_type = 'click' THEN k END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lk
    FROM ev
),
lastk AS (
    SELECT user_id,
           last_value(CASE WHEN event_type = 'click' THEN k END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING) AS final_k
    FROM ev
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
)
SELECT f.user_id,
       count(*) FILTER (f.event_type = 'purchase')::BIGINT
           AS n_purchases,
       count(*) FILTER (f.event_type = 'purchase'
                        AND f.lk IS NOT NULL)::BIGINT AS n_attributed,
       CASE WHEN max(l.final_k) IS NOT NULL
            THEN 'ch_' || (max(l.final_k) % 4) END AS last_channel
FROM flow f JOIN lastk l ON l.user_id = f.user_id
GROUP BY f.user_id
"""


def stream_tws_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = jobs.events_stream(spark, sf_dir)
        return jobs.run_available_now(
            jobs.tws_attribution(stream), "tws_attr", output_mode="update"
        )
    finally:
        spark.conf.set(provider_key, prev)


if _tws_runtime_available():  # pragma: no cover - env-dependent
    register("stream_tws_attribution", oracle=_TWS_ATTRIB_ORACLE)(
        stream_tws_attribution
    )


# Streaming dedup via dropDuplicatesWithinWatermark (Spark 3.5+).
# The staged replay PLANTS duplicates (exact copies of every
# event_id % 97 == 0 row, arriving as a later micro-batch) so the
# operator demonstrably drops rows — event_id is unique in the
# testdata, so an unstaged run would be vacuous (a dedup that never
# dedups hash-matches trivially, CLAUDE.md gotcha 5). The planted
# rows are either suppressed by live dedup state (recent ts) or
# dropped as late data (ts below the batch-1 watermark) — both paths
# remove them, so the drained result equals the original table, which
# is what the oracle selects. (In production the contract is weaker:
# duplicates separated by more than the delay re-emit; the bounded
# replay can't exhibit that.)
_SDEDUP_WW_ORACLE = """
SELECT event_id, ts, user_id, event_type,
       round(value * 10000) / 10000 + 0.0 AS value
FROM events
"""


@register("stream_dedup_within_watermark", oracle=_SDEDUP_WW_ORACLE)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from swat_mapreduce_spark.functions import rounding as R
    from swat_mapreduce_spark.sources.readers import read_table

    stage = tempfile.mkdtemp(prefix="swat_sdedup_")
    try:
        # persist: ev feeds four jobs (stage write, dup filter+write,
        # the planted count, the final row-count assert)
        ev = read_table(spark, sf_dir, "events").persist()
        # ONE original file + the dup file = 2 micro-batches, the
        # minimum that still proves both cross-batch removal paths
        # (state suppression and late-drop); each extra micro-batch
        # pays a ~0.5 s fixed state-store round trip (see
        # jobs.staged_events_with_flush_sentinels). repartition(1),
        # never coalesce(1) (CLAUDE.md gotcha 11).
        ev.repartition(1).write.parquet(stage + "/in")
        # second file (later mtime → later micro-batch under
        # maxFilesPerTrigger=1): exact copies of ~1% of rows
        dups = ev.filter(F.col("event_id") % 97 == 0)
        n_planted = dups.count()
        assert n_planted > 0, "planted-duplicate set must be non-empty"
        import glob as _glob
        import os as _os

        initial = set(_glob.glob(stage + "/in/*.parquet"))
        dups.repartition(1).write.mode("append").parquet(stage + "/in")
        # explicit mtime ordering instead of a >1 s sleep (CLAUDE.md
        # gotcha 11): the file source orders micro-batches by ms-
        # granularity mtime, so pin originals at t0 and dups at t0+10s
        now = _time.time()
        for f in initial:
            _os.utime(f, (now - 10.0, now - 10.0))
        for f in set(_glob.glob(stage + "/in/*.parquet")) - initial:
            _os.utime(f, (now, now))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stage + "/in")
        )
        out = jobs.run_available_now(
            jobs.stream_dedup_within_watermark(stream), "sdedup_ww",
            output_mode="append",
        )
        out = out.select(
            "event_id", "ts", "user_id", "event_type",
            R.r("value", 4).alias("value"),
        )
        n_out = out.count()  # memory-sink rows are materialized
        assert n_out == ev.count(), (
            f"dedup must drop exactly the {n_planted} planted rows"
        )
        ev.unpersist()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return out


# Stream-stream LEFT OUTER interval join. Unmatched-click emission
# requires the watermark to pass each click's join horizon, which the
# flush sentinels guarantee (see jobs.staged_events_with_flush_sentinels)
# — so the drained result equals the batch left join the oracle runs.
_LEFT_OUTER_JOIN_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       p.event_id IS NOT NULL AS matched
FROM events c
LEFT JOIN events p
  ON c.user_id = p.user_id AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click'
"""


@register("stream_left_outer_join", oracle=_LEFT_OUTER_JOIN_ORACLE)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    # process-cached shared fixture (see staged_events_with_flush_sentinels)
    stream = jobs.staged_events_with_flush_sentinels(spark, sf_dir)
    out = jobs.run_available_now(
        jobs.interval_join_left_outer(stream, "1 hour"),
        "louter",
        output_mode="append",
        # 4 shuffle partitions: a stream-stream join instantiates FOUR
        # state stores per partition per micro-batch (keyToNumValues +
        # keyWithIndexToValue per side); at replay scale the store
        # round trips dominate, and the r6 A/B (2 data files, sf0.1)
        # measured shuf=4 ~1 s faster than shuf=8 with an identical
        # drained-result hash.
        shuffle_partitions=4,
    )
    out = out.filter(F.col("c_user") >= 0).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "matched",
    )
    out.count()  # memory-sink rows are materialized
    return out


# Stream-stream FULL OUTER interval join — the join-completeness
# capstone: unmatched rows from BOTH inputs must surface, which
# exercises state eviction on both sides (left-outer only ever evicts
# the click buffer into results). Both sentinel events matter here:
# each side's unmatched rows flush only when the OTHER side's
# watermark (and hence the global minimum) passes their horizon.
_FULL_OUTER_JOIN_ORACLE = """
WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
SELECT coalesce(c.user_id, p.user_id) AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       (c.event_id IS NOT NULL AND p.event_id IS NOT NULL) AS matched
FROM c
FULL JOIN p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


# Stream-stream RIGHT OUTER interval join — the left-outer mirror:
# unmatched PURCHASES surface (with NULL click columns) while the
# click buffer evicts silently. Completes the streaming join matrix
# (inner / left / right / full).
_RIGHT_OUTER_JOIN_ORACLE = """
WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       (c.event_id IS NOT NULL) AS matched
FROM c
RIGHT JOIN p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@register("stream_right_outer_join", oracle=_RIGHT_OUTER_JOIN_ORACLE)
def stream_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    stream = jobs.staged_events_with_flush_sentinels(spark, sf_dir)
    out = jobs.run_available_now(
        jobs.interval_join_right_outer(stream, "1 hour"),
        "router",
        output_mode="append",
        # 4 shuffle partitions: a stream-stream join instantiates FOUR
        # state stores per partition per micro-batch (keyToNumValues +
        # keyWithIndexToValue per side); at replay scale the store
        # round trips dominate, and the r6 A/B (2 data files, sf0.1)
        # measured shuf=4 ~1 s faster than shuf=8 with an identical
        # drained-result hash.
        shuffle_partitions=4,
    )
    # Sentinels dropped from the MATERIALIZED memory-sink rows only
    # (the purchase side is always present in right-outer output) —
    # never inside the streaming plan (interval_join_right_outer's
    # CAUTION).
    out = out.filter(F.col("user_id") >= 0).select(
        "user_id", "click_id", "purchase_id", "matched"
    )
    out.count()
    return out


@register("stream_full_outer_join", oracle=_FULL_OUTER_JOIN_ORACLE)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    stream = jobs.staged_events_with_flush_sentinels(spark, sf_dir)
    out = jobs.run_available_now(
        jobs.interval_join_full_outer(stream, "1 hour"),
        "fouter",
        output_mode="append",
        # 2 shuffle partitions: a stream-stream join instantiates FOUR
        # state stores per partition per micro-batch (keyToNumValues +
        # keyWithIndexToValue per side); at replay scale the store
        # round trips dominate. r6 A/B (2 data files, sf0.1): shuf=4
        # ~1 s faster than shuf=8; r9 A/B: shuf=2 another ~0.35 s
        # faster than shuf=4 (warmed 3.7 vs 4.1, identical drained
        # hash over 39583 rows; shuf=1 gains nothing further).
        shuffle_partitions=2,
    )
    # Sentinels (user_id < 0 on either side) are dropped from the
    # MATERIALIZED memory-sink rows — never inside the streaming
    # plan (see interval_join_full_outer's CAUTION).
    out = out.filter(
        F.coalesce(F.col("c_user"), F.col("user_id")) >= 0
    ).select(
        F.coalesce(F.col("c_user"), F.col("user_id")).alias("user_id"),
        "click_id",
        "purchase_id",
        "matched",
    )
    out.count()
    return out


# Streaming observe(): per-batch data-quality metrics emitted through
# StreamingQueryProgress.observedMetrics — the streaming face of
# observed_metrics_orders (no extra pass; accumulators ride the
# micro-batch). Metrics are folded across batches driver-side.
_STREAM_OBSERVE_ORACLE = """
SELECT count(*) AS n_rows,
       count(*) FILTER (WHERE value < 0) AS n_neg,
       round(sum(CAST(value AS DECIMAL(30,8)))::DOUBLE * 10000) / 10000
           + 0.0 AS sum_value
FROM events
"""


@register("stream_observed_metrics", oracle=_STREAM_OBSERVE_ORACLE)
def stream_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid
    from decimal import Decimal

    from pyspark.sql import functions as F

    stream = jobs.events_stream(spark, sf_dir)
    # sum(value) is ~5e6 at sf0.1 — above the 1e6 magnitude where a
    # double sum's accumulation-order noise can flip a pinned 4dp
    # rounding (CLAUDE.md gotcha 2), and per-batch fold order here is
    # micro-batch-planning-dependent. Sum as decimal(30,8) inside the
    # observe aggregate and fold exactly; convert to double only after.
    observed = stream.observe(
        "dq",
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("value") < 0, 1)).alias("n_neg"),
        F.sum(F.col("value").cast("decimal(30,8)")).alias("sum_value"),
    )
    qname = "obs_" + uuid.uuid4().hex[:8]
    q = (
        observed.writeStream.format("noop")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    # recentProgress retains only the latest ~100 entries
    # (spark.sql.streaming.numRecentProgressUpdates); a source that
    # produced more micro-batches than that would silently drop
    # batches from the fold and undercount. Fail loudly instead.
    assert len(progress) < 100, (
        "micro-batch count reached the recentProgress retention limit;"
        " fold would undercount — collect via a StreamingQueryListener"
    )
    n_rows = n_neg = 0
    sum_value = Decimal(0)
    for prog in progress:
        m = (prog.get("observedMetrics") or {}).get("dq")
        if m:
            n_rows += m["n_rows"]
            n_neg += m["n_neg"]
            # progress entries are JSON round-tripped, so the decimal
            # aggregate arrives as a float; Decimal(str(x)) recovers it
            # only up to double precision (~15-16 significant digits) —
            # exact at this SF's magnitudes, but a per-batch sum above
            # ~1e7 with 8 fractional digits would round-trip lossily.
            # For exactness at larger scale, read the Java BigDecimal
            # via a StreamingQueryListener instead of progress JSON.
            if m["sum_value"] is not None:
                sum_value += Decimal(str(m["sum_value"]))
    from swat_mapreduce_spark.functions import rounding as R

    return spark.createDataFrame(
        [(n_rows, n_neg, float(sum_value))],
        "n_rows long, n_neg long, sum_value double",
    ).select("n_rows", "n_neg", R.r("sum_value", 4).alias("sum_value"))


# --- transactional parquet file sink + checkpoint --------------------------
# The production streaming sink surface: writeStream → parquet with a
# checkpoint. The file sink is exactly-once via the _spark_metadata
# commit log (readers only see files listed in committed manifests),
# and the checkpoint makes restarts idempotent. The query drains the
# events stream into files, RESTARTS the stream against the same
# checkpoint (must be a no-op — no new data), then aggregates the
# sink directory; the oracle aggregates the source table, so any
# duplicate or lost file would hash-fail.
_PARQUET_SINK_ORACLE = """
SELECT event_type,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       round(sum(CAST(value AS DECIMAL(30,8)))::DOUBLE * 10000) / 10000
           + 0.0 AS sum_value
FROM events
GROUP BY event_type
"""


@register("stream_parquet_sink_checkpoint", oracle=_PARQUET_SINK_ORACLE)
def stream_parquet_sink_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    base = tempfile.mkdtemp(prefix="swat_psink_")
    out_dir, ckpt = base + "/out", base + "/ckpt"
    try:
        def start_once():
            stream = jobs.events_stream(spark, sf_dir)
            q = (
                stream.select(
                    "event_id", "ts", "user_id", "event_type", "value"
                )
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        start_once()
        start_once()  # restart on same checkpoint: must add nothing
        sink = spark.read.parquet(out_dir)
        out = sink.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
            (
                F.round(
                    F.sum(F.col("value").cast("decimal(30,8)"))
                    .cast("double")
                    * 10000.0
                )
                / 10000.0
                + 0.0
            ).alias("sum_value"),
        )
        rows = out.collect()  # bounded: one row per event_type
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# --- streaming ingest dedup: probe arriving docs vs the persisted index ----
# The production ingest gate: new documents ARRIVE as a stream, and
# each micro-batch is probed against the persisted corpus LSH index
# (queries/dedup.py dedup_index_build) before admission — foreachBatch
# runs the same band-join + signature-agreement probe per batch, so
# probe cost per batch is O(batch) + one index join and the corpus is
# never re-read. Per-doc decisions are INDEPENDENT (each doc compares
# only against the static index, never against other stream docs), so
# the drained union across micro-batches equals the one-shot batch
# probe bit-for-bit — which is exactly what the shared oracle checks.
def _stream_probe_oracle() -> str:
    from swat_mapreduce_spark.queries.dedup import _probe_oracle

    return _probe_oracle()


@register("stream_probe_dedup_index", oracle=_stream_probe_oracle())
def stream_probe_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.queries.dedup import (
        _lsh_index_dir,
        probe_docs_against_index,
    )
    from swat_mapreduce_spark.sources.readers import read_table
    from swat_mapreduce_spark.sources.staging import staged_dir

    root = _lsh_index_dir(spark, sf_dir)
    batch_docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 >= 8
    )
    # 2 files -> 2 micro-batches (maxFilesPerTrigger=1): the minimum
    # that actually proves PER-BATCH probing, without paying per-batch
    # fixed costs 32 times (CLAUDE.md gotcha 12). repartition(2), NOT
    # coalesce(2): the documents scan is a single partition, so a
    # coalesce(2) is a silent no-op that staged ONE file — r6's replay
    # was a one-batch run (found r7; coalesce caps, never raises).
    # The staged dir is a process-cached fixture (sources/staging):
    # deterministic read-only parquet, so re-staging identical files
    # per call bought nothing; each call still replays with a fresh
    # stream + fresh per-batch probes.
    stage = staged_dir(
        "probe_stream",
        sf_dir,
        lambda r: batch_docs.repartition(2).write.parquet(r + "/in"),
    )
    schema = batch_docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage + "/in")
    )
    acc: dict[str, list] = {"rows": []}

    # pin the index in memory ONCE for the stream's lifetime — every
    # micro-batch probes the same cached (sigs, bands) instead of
    # re-reading the parquet index per batch (the production ingest
    # gate keeps the index resident across batches)
    csigs = spark.read.parquet(root + "/sigs").persist()
    cbands = spark.read.parquet(root + "/bands").persist()

    def probe_batch(batch_df, _batch_id):
        # persist=False (r13): each micro-batch is a small slice whose
        # sink drains immediately — the per-batch persist+unpersist
        # round trip cost more than recomputing the tiny shingle
        # pipeline per consumer (interleaved A/B at sf0.1: warmed
        # 3.63-4.01 s vs 3.97-4.25 s, identical drained hashes). The
        # batch probe query (dedup_probe_incremental) keeps
        # persist=True: its batch is the full 20% slice, reused by
        # three consumers.
        acc["rows"].extend(
            probe_docs_against_index(
                spark, batch_df, root, persist=False,
                index=(csigs, cbands),
            ).collect()
        )

    q = (
        stream.writeStream.foreachBatch(probe_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    csigs.unpersist()
    cbands.unpersist()
    if not acc["rows"]:
        return spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS doc_id,"
            " CAST(NULL AS BIGINT) AS n_candidates,"
            " CAST(NULL AS BIGINT) AS best_match,"
            " CAST(NULL AS DOUBLE) AS best_est_jaccard,"
            " CAST(NULL AS BOOLEAN) AS keep"
        ).limit(0)
    return spark.createDataFrame(
        acc["rows"],
        "doc_id long, n_candidates long, best_match long,"
        " best_est_jaccard double, keep boolean",
    )


# --- streaming exact sliding p50 via mergeable grid counts ---------------------
# The 20th streaming surface: EXACT rolling 7-day median maintained
# incrementally. Naive quantile state is unmergeable; the value-grid
# form is a MONOID — per-(day, cents) counts add across micro-batches
# — so each batch folds its grid delta into bounded state (|days| x
# |cents grid|) and the final medians come from cumulative integer
# counts, bit-equal to the one-shot batch computation
# (sliding_p50_value_7d shares the oracle). Replay rides the cached
# sentinel stage (few files, gotcha 12); sentinel rows (user_id < 0)
# are excluded from the grid.
from swat_mapreduce_spark.queries.scale_patterns import (
    _SLIDING_P50_ORACLE,
)


@register("stream_sliding_p50_value", oracle=_SLIDING_P50_ORACLE)
def stream_sliding_p50_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    import collections
    import datetime

    from pyspark.sql import functions as F

    # watermark-free monoid fold: 2 files per micro-batch over the
    # shared sentinel stage — still two genuine batches (cross-batch
    # accumulation exercised) at half the per-batch fixed cost
    # (gotcha 12; watermark consumers must keep 1 file per batch)
    stream = jobs.staged_events_with_flush_sentinels(
        spark, sf_dir, max_files_per_trigger=2
    )
    grid: dict = collections.defaultdict(int)

    def fold_batch(batch_df, _bid):
        rows = (
            batch_df.filter(F.col("user_id") >= 0)
            .groupBy(
                F.col("ts").cast("date").alias("day"),
                F.round(F.col("value") * 100).cast("long").alias("cents"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        for r in rows:
            grid[(r["day"], r["cents"])] += r["c"]

    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not grid:
        return spark.sql(
            "SELECT CAST(NULL AS DATE) AS day,"
            " CAST(NULL AS BIGINT) AS n_events_7d,"
            " CAST(NULL AS DOUBLE) AS p50_value"
        ).limit(0)
    days = sorted({d for d, _ in grid})
    mn, mx = days[0], days[-1]
    out = []
    for day in days:
        if day < mn + datetime.timedelta(days=6) or day > mx:
            continue
        window: dict = collections.defaultdict(int)
        for off in range(7):
            src = day - datetime.timedelta(days=off)
            for (d, cents), c in grid.items():
                if d == src:
                    window[cents] += c
        n = sum(window.values())
        if n == 0:
            continue
        cum, p50c = 0, None
        for cents in sorted(window):
            cum += window[cents]
            if 2 * cum >= n + (n % 2):
                p50c = cents
                break
        out.append((day, n, p50c / 100.0))
    return spark.createDataFrame(
        out, "day date, n_events_7d long, p50_value double"
    )


# --- streaming Count-Min heavy-hitter sketch (21st streaming surface) ----------
# The frequency sketch maintained AS STREAM STATE: a d=4 x w=256
# Count-Min sketch is a MONOID (counter cells add), so each
# micro-batch folds its (row, bucket) count delta into bounded driver
# state — d*w integers, independent of stream length — exactly how a
# 100 TB ingest gate keeps running token/user frequencies without
# per-key state. After draining, the exact top-10 users (one batch
# pass — the audit side) are probed against the STREAMED sketch; the
# pinned property is that the fold-of-batches sketch is bit-equal to
# the one-shot batch sketch (mergeability), so the shared oracle
# computes the same cells from the events view directly. Replay rides
# the cached sentinel stage (few files, gotcha 12); sentinel rows
# (user_id < 0) are excluded.
_SCMS_D = 4
_SCMS_W = 256
_SCMS_TOPN = 10

_SCMS_ORACLE = f"""
WITH u AS (SELECT user_id FROM events),
exact AS (
    SELECT user_id, count(*) AS true_count FROM u GROUP BY 1
),
cells AS (
    SELECT g.d,
           ('0x' || substr(md5(g.d || '|' || u.user_id), 1, 8))::BIGINT
               % {_SCMS_W} AS bucket,
           count(*) AS c
    FROM u, generate_series(0, {_SCMS_D - 1}) AS g(d)
    GROUP BY 1, 2
),
cand AS (
    SELECT user_id, true_count FROM exact
    ORDER BY true_count DESC, user_id LIMIT {_SCMS_TOPN}
),
est AS (
    SELECT cand.user_id, cand.true_count, min(cells.c) AS est_count
    FROM cand, generate_series(0, {_SCMS_D - 1}) AS g(d)
    JOIN cells ON cells.d = g.d
       AND cells.bucket = ('0x' || substr(md5(g.d || '|' || cand.user_id),
                           1, 8))::BIGINT % {_SCMS_W}
    GROUP BY cand.user_id, cand.true_count
)
SELECT user_id, true_count::BIGINT AS true_count,
       est_count::BIGINT AS est_count,
       (est_count - true_count)::BIGINT AS overestimate
FROM est
"""


@register("stream_cms_user_counts", oracle=_SCMS_ORACLE)
def stream_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import collections

    from pyspark.sql import functions as F

    from swat_mapreduce_spark.sources.readers import read_table

    # 2 files per micro-batch: same watermark-free monoid-fold
    # rationale as stream_sliding_p50_value above
    stream = jobs.staged_events_with_flush_sentinels(
        spark, sf_dir, max_files_per_trigger=2
    )
    sketch: dict = collections.defaultdict(int)  # (d, bucket) -> count

    def bucket_of(d, col):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(str(d)), F.lit("|"), col.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint") % _SCMS_W

    def fold_batch(batch_df, _bid):
        rows = (
            batch_df.filter(F.col("user_id") >= 0)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(d).alias("d"),
                                bucket_of(d, F.col("user_id")).alias(
                                    "bucket"
                                ),
                            )
                            for d in range(_SCMS_D)
                        ]
                    )
                ).alias("rb")
            )
            .groupBy(F.col("rb.d").alias("d"), F.col("rb.bucket").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        for r in rows:
            sketch[(r["d"], r["b"])] += r["c"]

    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # audit side: exact top-10 from ONE batch pass, probed against the
    # STREAMED sketch state
    cand = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("user_id"))
        .limit(_SCMS_TOPN)
        .collect()
    )
    import hashlib

    out = []
    for r in cand:
        uid, tc = int(r["user_id"]), int(r["true_count"])
        est = min(
            sketch[
                (
                    d,
                    int(
                        hashlib.md5(f"{d}|{uid}".encode()).hexdigest()[:8],
                        16,
                    )
                    % _SCMS_W,
                )
            ]
            for d in range(_SCMS_D)
        )
        out.append((uid, tc, est, est - tc))
    return spark.createDataFrame(
        out,
        "user_id long, true_count long, est_count long, overestimate long",
    )

"""Structured Streaming veneer (SURVEY.md §7 step 5).

The reference is pure batch; the engine adds streaming versions of the
scan→aggregate→sink dataflow: watermarked tumbling/sliding/session
windows over the ``events`` schema. Tests and the correctness driver
run with the ``availableNow`` trigger (process-everything-then-stop),
which makes results deterministic and lets the same code serve as a
batch backfill — the recommended pattern for validating streaming
logic.

The driver's events.parquet uses TIMESTAMP(NANOS); the stream source
reads it DIRECTLY (no staging copy) with the same nanosAsLong + integer
``div 1000`` normalization the batch reader uses — one source of truth,
zero extra I/O. (Round 1 staged a normalized temp copy first, a full
rewrite of the input that a 100 TB deployment could not afford.)
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor

from swat_mapreduce_spark.compat import ensure_protobuf
from swat_mapreduce_spark.functions import rounding as R

# transformWithStateInPandas needs google.protobuf on BOTH sides of the
# Arrow socket; module scope runs on the worker too (this module is
# imported there when the pickled StatefulProcessor is resolved),
# before the worker's first lazy StateMessage_pb2 import.
ensure_protobuf()


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the original events.parquet.

    The ``ts`` physical type varies by testdata generation:
    TIMESTAMP(MICROS) reads natively, while TIMESTAMP(NANOS) arrives
    as bigint nanos under ``nanosAsLong`` and is converted with
    integer ``ts div 1000`` → timestamp_micros. A one-file batch
    schema probe (footer-only, no data read) picks the branch, so the
    stream mirrors sources/readers.read_table exactly — one source of
    truth, zero staging copies. pathGlobFilter scopes the
    directory-based file source to the one table file (the streaming
    parquet source requires a directory, not a file path).
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 - already set / non-settable
        pass
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ts_type = dict(
        (f.name, f.dataType.simpleString()) for f in batch_schema
    )["ts"]
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def run_available_now(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    shuffle_partitions: int = 8,
) -> DataFrame:
    """Run a streaming DataFrame to completion with availableNow into a
    memory sink; return the result table.

    Stateful streaming instantiates one state store per shuffle
    partition per stateful operator; the aggregate state here is tiny
    (|windows| or |users| rows), so the store count — not the data —
    dominates. The shuffle-partition count is dialed down for the
    query's lifetime and restored after (a real deployment sets
    ``spark.sql.streaming.statefulOperator`` sizing per job)."""
    spark = stream_df.sparkSession
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(qname)


def tumbling_counts(stream: DataFrame, size: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts per event_type."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R.r(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    stream: DataFrame, size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Watermarked sliding-window counts (each event in size/slide
    windows)."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", size, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-based merge, Structured
    Streaming's native stateful session operator)."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def session_counts_dynamic_gap(stream: DataFrame) -> DataFrame:
    """Session windows with a PER-EVENT gap expression
    (``session_window(ts, gap_col)``): bursty event types close
    sessions faster. An event extends its session to ``ts + gap`` and
    merges with any window it overlaps — the engine's native dynamic-
    gap stateful operator; state per user = the open window only."""
    gap = (
        F.when(F.col("event_type") == "click", F.lit("10 minutes"))
        .otherwise(F.lit("30 minutes"))
    )
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


# --- custom stateful operator: applyInPandasWithState ----------------------

STATEFUL_OUTPUT_SCHEMA = (
    "user_id long, n_events long, max_value double, last_ts timestamp"
)
STATEFUL_STATE_SCHEMA = "n long, mx double, last_us long"


def _user_stats_fn(key, pdfs, state):
    """Per-user running (count, max value, last event time), kept in
    explicit GroupState — the engine's custom-stateful-operator
    surface (SURVEY.md §2B streaming row). State survives across
    micro-batches; each batch emits the updated totals for the user.

    Rounding of max_value uses the half-away-from-zero formula shared
    with the DuckDB oracle (see functions/rounding.py)."""
    import math

    import pandas as pd

    (user_id,) = key
    if state.exists:
        n, mx, last_us = state.get
    else:
        n, mx, last_us = 0, float("-inf"), 0
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
            batch_last = int(pd.Timestamp(pdf["ts"].max()).value // 1000)
            last_us = max(last_us, batch_last)
    state.update((n, mx, last_us))
    r4 = math.copysign(math.floor(abs(mx) * 1e4 + 0.5) / 1e4, mx)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "max_value": [r4],
            "last_ts": [pd.to_datetime(last_us, unit="us")],
        }
    )


def stateful_user_stats(stream: DataFrame) -> DataFrame:
    """Arbitrary stateful processing over the event stream:
    groupBy(user_id).applyInPandasWithState with an explicit state
    schema and NoTimeout (state lives for the life of the query)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=STATEFUL_OUTPUT_SCHEMA,
            stateStructType=STATEFUL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- custom stateful operator: transformWithStateInPandas (Spark 4) --------

TWS_OUTPUT_SCHEMA = (
    "user_id long, n_events long, max_value double, first_ts timestamp"
)


class _UserStatsProcessor(StatefulProcessor):
    """Spark 4 ``StatefulProcessor``: per-user running stats in a
    ValueState. The successor API to applyInPandasWithState — typed
    state handles (value/list/map state), timers, and TTL — backed by
    the RocksDB state store. Emits the running totals on every batch
    the user appears in; with availableNow's single batch that equals
    the batch aggregate, which is what the oracle pins.

    Only order-free statistics (count/max/min) are kept: a double sum
    here would accumulate in Arrow-batch arrival order and break
    replay determinism."""

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "stats", "n long, mx double, first_us long"
        )

    def handleInputRows(self, key, rows, timerValues):
        import math

        import pandas as pd

        if self._state.exists():
            n, mx, first_us = self._state.get()
        else:
            n, mx, first_us = 0, float("-inf"), 2**62
        for pdf in rows:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                batch_first = int(pd.Timestamp(pdf["ts"].min()).value // 1000)
                first_us = min(first_us, batch_first)
        self._state.update((n, mx, first_us))
        r4 = math.copysign(math.floor(abs(mx) * 1e4 + 0.5) / 1e4, mx)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [r4],
                "first_ts": [pd.to_datetime(first_us, unit="us")],
            }
        )

    def close(self) -> None:
        pass


TWS_ATTRIB_SCHEMA = (
    "user_id long, n_purchases long, n_attributed long, last_channel string"
)


class _AttributionProcessor(StatefulProcessor):
    """Last-touch attribution as a custom stateful operator: ValueState
    holds (last_click_k, last_click_us); each purchase is credited to
    the click the state currently holds. Rows are sorted by
    (ts, event_id) inside the batch (the same total order the batch
    twin attribution_last_touch uses), and state carries the last
    click across micro-batches, so a replayed multi-batch stream
    converges to the same attribution as the one-batch run. Only
    order-free counters are emitted (no float sums — replay
    determinism, same rule as _UserStatsProcessor)."""

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "lastclick", "k int, us long"
        )

    def handleInputRows(self, key, rows, timerValues):
        import json

        import pandas as pd

        last = self._state.get() if self._state.exists() else None
        n_purch = 0
        n_attr = 0
        for pdf in rows:
            pdf = pdf.sort_values(["ts", "event_id"])
            for _, row in pdf.iterrows():
                if row["event_type"] == "click":
                    k = int(json.loads(row["props"])["k"])
                    us = int(pd.Timestamp(row["ts"]).value // 1000)
                    last = (k, us)
                elif row["event_type"] == "purchase":
                    n_purch += 1
                    if last is not None:
                        n_attr += 1
        if last is not None:
            self._state.update(last)
        chan = f"ch_{last[0] % 4}" if last is not None else None
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_purchases": [n_purch],
                "n_attributed": [n_attr],
                "last_channel": [chan],
            }
        )

    def close(self) -> None:
        pass


def tws_attribution(stream: DataFrame) -> DataFrame:
    """transformWithStateInPandas last-touch attribution (per-user
    ValueState). Same RocksDB provider requirement as tws_user_stats."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_AttributionProcessor(),
            outputStructType=TWS_ATTRIB_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def tws_user_stats(stream: DataFrame) -> DataFrame:
    """transformWithStateInPandas over the event stream. Requires the
    RocksDB state store provider (set by the caller for the query's
    lifetime — a runtime-settable conf)."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_UserStatsProcessor(),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def chained_window_agg(stream: DataFrame) -> DataFrame:
    """Two chained stateful aggregations in ONE streaming query
    (Spark 4 multiple-stateful-operator support): 30-minute tumbling
    per-user counts, re-aggregated into 2-hour windows downstream via
    ``window_time()``. Append mode end to end — each operator emits a
    window only once its watermark passes, so downstream state stays
    bounded: the 2-hour operator holds |open windows| rows, not the
    event stream."""
    inner = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        inner.groupBy(
            F.window(F.window_time("w"), "2 hours").alias("w2")
        )
        .agg(
            F.count(F.lit(1)).alias("n_user_windows"),
            F.sum("n").alias("n_events"),
            F.max("n").alias("max_user_window"),
        )
        .select(
            F.col("w2.start").alias("window_start"),
            "n_user_windows",
            "n_events",
            "max_user_window",
        )
    )


def stream_dedup(stream: DataFrame, key: str = "event_id") -> DataFrame:
    """Streaming exact dedup: dropDuplicates on the key with a
    watermark bounding the dedup state — the streaming form of the
    batch ``dedup_exact`` operator. State holds one entry per key seen
    within the watermark horizon; late duplicates beyond the horizon
    are dropped by the watermark, keeping state finite at 100 TB/day
    event volumes."""
    return (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates([key])
        .select(key, "ts", "user_id", "event_type", "value")
    )


def streaming_classify(
    spark: SparkSession, manifest_dir: str, schema: str = "line string"
) -> DataFrame:
    """The reference pipeline as a stream: manifest files arriving in a
    directory are cleaned, scored, and labeled continuously — the
    stateless per-row stages (trim/filter/score/softmax/label
    broadcast-join) run unchanged in append mode, which is the whole
    point of keeping the pipeline declarative: batch and streaming
    share one dataflow definition (SURVEY.md §7 step 5)."""
    from swat_mapreduce_spark.operators import classify

    stream = spark.readStream.schema(schema).format("text").load(manifest_dir)
    return classify.predict(stream.withColumnRenamed("value", "line"), spark)


def interval_join_clicks_purchases(
    stream: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each click joined to the same
    user's purchases within [click_ts, click_ts + horizon].

    Both sides carry watermarks; the time-bound predicate lets the
    state store evict rows once the watermark passes the interval —
    bounded state at unbounded input, THE requirement for a 100 TB/day
    attribution join. (An unbounded-condition stream-stream join would
    hold every row forever.)
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return clicks.join(purchases, cond).select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("delay_us"),
    )


def stream_dedup_within_watermark(
    stream: DataFrame, key: str = "event_id"
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` (Spark
    3.5+): unlike ``dropDuplicates``, state for a key is dropped as
    soon as the watermark passes the FIRST event's time + delay, so
    the state bound is the watermark horizon rather than the distinct
    key count — the right operator when duplicates arrive close
    together (at-least-once sources re-delivering within seconds) but
    key cardinality is unbounded at 100 TB/day."""
    return (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark([key])
        .select(key, "ts", "user_id", "event_type", "value")
    )


_SENTINEL_STAGE_CACHE: dict[str, str] = {}


def staged_events_with_flush_sentinels(
    spark: SparkSession,
    sf_dir: str,
    stage_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Stage events.parquet as FOUR files — the real data in two
    files, then two far-future sentinel files (one 'click' + one
    'purchase' row each, user_id < 0) — and return a
    maxFilesPerTrigger=1 file stream over them.

    ``max_files_per_trigger`` sets the replay granularity: watermark-
    dependent consumers (the outer joins, watermark dedup) need 1 —
    one file per micro-batch so the sentinel batches advance and then
    apply the watermark — while watermark-FREE foreachBatch folds
    (monoid accumulators) can take 2 files per batch: still >=2
    genuine micro-batches (cross-batch accumulation exercised), half
    the per-batch fixed cost (gotcha 12).

    With ``stage_dir=None`` (the normal path) the staged directory is
    CACHED per (sf_dir) for the process lifetime and shared by every
    replay over it — the fixture is deterministic and read-only once
    written, so the three outer-join queries (left/right/full) stage
    it once instead of re-writing identical parquet per query
    (index-once/probe-many; ~2 s saved per subsequent query). Each
    replay still gets its own fresh checkpoint, so results are
    independent. The cache directory is removed atexit.

    Two data files (not the session's 32 write partitions): each
    micro-batch of a stateful outer join pays a fixed state-store
    round-trip cost that dominates at replay scale — 34 batches ran
    ~19 s where 6 ran ~4 s (r5), and the r6 re-measure showed the
    drained result hash is invariant from 2 through 32 data files —
    while two batches still exercise cross-batch watermark
    progression (state carried, watermark advancing between real-data
    batches), which one batch would not.

    Why sentinels: outer stream-stream join results for UNMATCHED rows
    are only emitted when the watermark passes the row's join horizon,
    and the watermark only advances between micro-batches from data
    actually seen. A bounded replay therefore needs (a) ≥2 batches
    after the real data and (b) sentinel events on BOTH join inputs —
    the global watermark is the MIN across watermarked branches, so a
    sentinel on one side leaves the other side's watermark (and the
    min) pinned at the real data's max. The second sentinel batch
    applies the watermark the first one established; both sentinels
    carry user_id < 0 so the caller can drop them from the result.

    Files are discovered in mtime order; the sentinel files get
    explicit os.utime bumps (+10 s, +20 s past the data files) so they
    sort after the data deterministically on any filesystem, with no
    wall-clock sleeps in the staging path. The sentinels use repartition(1), NOT coalesce(1): a
    coalesce on a 2-row local relation takes ~3.7 s per write in this
    Spark build (measured r5) where repartition(1) takes ~0.5 s, and
    both yield the single file the one-batch-per-file replay needs.
    """
    import glob
    import os

    from swat_mapreduce_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    if stage_dir is None:
        cached = _SENTINEL_STAGE_CACHE.get(sf_dir)
        if cached is not None and os.path.isdir(cached):
            return (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", str(max_files_per_trigger))
                .parquet(cached)
            )
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="swat_sentinel_stage_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        stage_dir = root + "/in"
        _SENTINEL_STAGE_CACHE[sf_dir] = stage_dir
    ev.coalesce(2).write.parquet(stage_dir)
    mx = ev.agg(F.max("ts")).collect()[0][0]
    if mx is not None:
        seen = set(glob.glob(stage_dir + "/part-*"))
        base_m = max(os.path.getmtime(f) for f in seen)
        for j, days in enumerate((30, 60), start=1):
            spark.createDataFrame(
                [
                    (-1, mx, -1, "click", 0.0, "{}"),
                    (-2, mx, -2, "purchase", 0.0, "{}"),
                ],
                ev.schema,
            ).withColumn(
                "ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS")
            ).repartition(1).write.mode("append").parquet(stage_dir)
            # explicit mtime bump instead of >1s sleeps: the file
            # source orders by modification time, and setting it
            # directly is deterministic on any filesystem
            new = set(glob.glob(stage_dir + "/part-*")) - seen
            for f in new:
                os.utime(f, (base_m + 10 * j, base_m + 10 * j))
            seen |= new
    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(stage_dir)
    )


def interval_join_left_outer(
    stream: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits —
    matched rows immediately, unmatched rows with NULL purchase
    columns once the watermark proves no qualifying purchase can
    still arrive. Same bounded-state eviction as the inner variant;
    the outer semantics additionally turn each eviction into a result
    row.

    CAUTION (pinned by tests/test_temporal_streaming.py): do NOT
    attach a sentinel-dropping filter (e.g. ``c_user >= 0``) to the
    streaming plan — Catalyst pushes it through the join into BOTH
    parquet scans, the sentinel rows die at the source, the watermark
    never advances past the real data, and the last clicks are
    silently never emitted. Filter the materialized result instead.
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        )
    )
    return clicks.join(purchases, cond, "left_outer").select(
        F.col("c_user"),
        "click_id",
        "purchase_id",
        F.col("purchase_id").isNotNull().alias("matched"),
    )


def interval_join_full_outer(
    stream: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream FULL OUTER interval join: matched pairs emit
    immediately; unmatched CLICKS and unmatched PURCHASES each emit
    with NULLs for the other side once the watermark proves no
    qualifying partner can still arrive. Exercises state eviction on
    BOTH join inputs — each side's state is dropped (and its
    unmatched rows emitted) when the global watermark passes that
    row's join horizon.

    Same sentinel CAUTION as the left-outer form: never attach a
    sentinel-dropping filter to the streaming plan (it pushes into
    both scans and pins the watermark); filter the materialized
    result on ``coalesce(c_user, user_id) >= 0`` instead.
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        )
    )
    return clicks.join(purchases, cond, "full_outer").select(
        "c_user",
        "user_id",
        "click_id",
        "purchase_id",
        (
            F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()
        ).alias("matched"),
    )


def interval_join_right_outer(
    stream: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join: every purchase emits —
    matched pairs immediately, unmatched purchases with NULL click
    columns once the watermark proves no qualifying click can still
    arrive. The mirror of :func:`interval_join_left_outer`: here it is
    the LEFT (click) buffer that evicts silently while every RIGHT
    (purchase) eviction becomes a result row.

    Same sentinel CAUTION as the other outer forms: never attach a
    sentinel-dropping filter to the streaming plan (it pushes into
    both scans and pins the watermark); filter the materialized
    result on ``user_id >= 0`` (the purchase side is always present
    in right-outer output) instead.
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        )
    )
    return clicks.join(purchases, cond, "right_outer").select(
        "user_id",
        "click_id",
        "purchase_id",
        F.col("click_id").isNotNull().alias("matched"),
    )

"""Streaming showcase — oracle-checked Structured Streaming flows.

Each query reads the events parquet as a FILE STREAM (``StreamDFReader``),
runs a streaming operator from ``onetl_spark.streaming.ops``, executes it
to completion with ``Trigger.AvailableNow`` through ``StreamDFWriter``
into a memory sink, and returns the sink table — so the driver's DuckDB
oracle can hash-compare it like any batch query. This is the standard way
to make streaming semantics batch-verifiable: AvailableNow terminates,
and complete/append output modes below are chosen so the final table is
independent of micro-batch boundaries.

Sink lifecycle: each memory sink is a temp view named after its query,
so a re-run replaces the view and the previous sink's driver-held rows
become garbage; its checkpoint is Spark's temporary one, deleted when
the query stops. The ``foreachBatch`` queries (CDC apply, rollup
maintenance) run through `showcase/replay.py`, whose per-query work dir
is cleared on every run.

Scale notes (the operators themselves, not this harness, are the product):
watermarked state is bounded per key/window; the memory sink is only the
test harness — production sinks are files/Kafka via the same writer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from onetl_spark.file.format.parquet import Parquet
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.replay import run_foreach_batch, staging_dir
from onetl_spark.showcase.sessions import SESSION_GAP_MIN
from onetl_spark.showcase.util import dsum, sql_dsum, sql_fsig
from onetl_spark.streaming.ops import (
    deduplicate_stream,
    sessionize,
    stateful_running_agg,
    windowed_aggregate,
)
from onetl_spark.streaming.reader import StreamDFReader
from onetl_spark.streaming.writer import StreamDFWriter, StreamWriteOptions

_SCHEMA_CACHE: dict[tuple[str, float], T.StructType] = {}


def _events_stream_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """File streams require an explicit schema; probe the batch reader and
    use its WHOLE schema (not just ``ts``) so a future testdata generation
    changing any column keeps the stream in lockstep with the batch path.
    The ``ts`` column may probe as long (older INT64 TIMESTAMP(NANOS) data
    under the nanosAsLong conf), TIMESTAMP_NTZ, or µs TIMESTAMP —
    ``_events_stream`` normalizes all three. Probe is one parquet-footer
    read, cached per (sf_dir, file mtime): testdata is regenerated in
    place between rounds, so a path-only key would hand a long-lived
    process a stale schema for the new data."""
    path = os.path.join(sf_dir, "events.parquet")
    key = (sf_dir, os.path.getmtime(path))
    if key not in _SCHEMA_CACHE:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[key]


def _stage_source_dir(sf_dir: str) -> str:
    """The file-stream source requires a DIRECTORY; stage the events
    parquet into a scratch dir (symlink — no data copy).

    Two hard-won rules (a RELATIVE ``--sf .scratch/testdata/sf1`` made
    13 streaming queries fail their sf1 sweep with dangling links): the
    symlink target must be ABSOLUTE (a relative target resolves against
    the link's own directory, not the caller's CWD); and a dangling link
    is healed, since ``os.path.exists`` is False for it but the link
    inode still blocks ``os.symlink``. The dir is keyed like every staged
    stream source (`replay.staging_dir`)."""
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    base = staging_dir("events", sf_dir, ["events"])
    os.makedirs(base, exist_ok=True)
    link = os.path.join(base, "events.parquet")
    if os.path.lexists(link) and not os.path.exists(link):
        os.remove(link)
    if not os.path.exists(link):
        try:
            os.symlink(src, link)
        except OSError:  # pragma: no cover - fs without symlink support
            import shutil

            shutil.copyfile(src, link)
    return base


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = _events_stream_schema(spark, sf_dir)
    raw = StreamDFReader(
        spark=spark,
        format=Parquet(),
        source_path=_stage_source_dir(sf_dir),
        df_schema=schema,
    ).run()
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _run_to_table(name: str, stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming frame to completion (AvailableNow) into a
    memory sink named after the query ``name`` and return the sink table.
    A re-run replaces the temp view ``name``, so the previous run's sink
    and its driver-held rows become garbage instead of piling up."""
    query = StreamDFWriter(
        format="memory",
        options=StreamWriteOptions(
            output_mode=output_mode,
            trigger={"availableNow": True},
            query_name=name,
        ),
    ).run(stream_df)
    query.awaitTermination()
    return stream_df.sparkSession.table(name)


def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows per event_type, executed as a
    real streaming query. Complete output mode: the final table holds
    every window regardless of where AvailableNow cut the micro-batches."""
    events = _events_stream(spark, sf_dir)
    out = windowed_aggregate(
        events,
        time_col="ts",
        window_duration="1 hour",
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_value": dsum("value"),
        },
        watermark="30 minutes",
        group_by=("event_type",),
    )
    return _run_to_table("streaming_windowed_agg", out, "complete")


STREAMING_WINDOWED_AGG_SQL = f"""
SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
       time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1, 2, 3
"""


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min gap) on the event stream — the
    streaming counterpart of events_sessionization, same oracle shape
    (session START + aggregates; Spark's session end = last_ts + gap)."""
    events = _events_stream(spark, sf_dir)
    out = sessionize(
        events,
        time_col="ts",
        gap=f"{SESSION_GAP_MIN} minutes",
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_value": dsum("value"),
        },
        group_by=("user_id",),
        watermark="30 minutes",
    )
    out = out.select("user_id", F.col("session_start"), "n_events", "total_value")
    return _run_to_table("streaming_sessionize", out, "complete")


STREAMING_SESSIONIZE_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
), flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL {SESSION_GAP_MIN} MINUTE THEN 0 ELSE 1 END AS brk
  FROM e
), numbered AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM numbered
GROUP BY user_id, session_id
"""


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type) within the watermark
    horizon. The horizon exceeds the dataset's time span here, so the kept
    key set equals batch DISTINCT — key columns only, making the result
    independent of which duplicate arrived first."""
    events = _events_stream(spark, sf_dir)
    deduped = deduplicate_stream(
        events,
        keys=["user_id", "event_type"],
        time_col="ts",
        watermark="36500 days",
    )
    out = deduped.select("user_id", "event_type")
    return _run_to_table("streaming_dedup_keys", out, "append")


STREAMING_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-event_type
    running (count, sum of integral cents). The sink collects one update
    row per key per micro-batch; the FINAL state per key (max
    running_count) must equal the batch aggregate. Cents are integral
    doubles, so accumulation order can't perturb the sum."""
    events = _events_stream(spark, sf_dir)
    cents = events.select(
        "event_type", F.round(F.col("value") * 100).alias("cents"),
    )
    updates = stateful_running_agg(cents, key_cols=["event_type"], value_col="cents")
    sink = _run_to_table("streaming_stateful_totals", updates, "update")
    return (
        sink.groupBy("event_type")
        .agg(
            F.max("running_count").alias("running_count"),
            F.max_by("running_sum", "running_count").alias("running_sum"),
        )
    )


STREAMING_STATEFUL_SQL = """
SELECT event_type,
       COUNT(*) AS running_count,
       CAST(SUM(round(value * 100)) AS DOUBLE) AS running_sum
FROM events
GROUP BY event_type
"""


def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the most common production stream
    pattern: each micro-batch joins against a (broadcastable) static dim
    without any stream-side state. Aggregated per segment in complete
    mode so the result is batch-comparable."""
    from onetl_spark.connections.catalog import read_table

    events = _events_stream(spark, sf_dir)
    profile = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment",
    )
    joined = events.join(F.broadcast(profile), "user_id")
    out = (
        joined.withWatermark("ts", "30 minutes")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )
    return _run_to_table("streaming_enriched_counts", out, "complete")


STREAMING_ENRICHED_SQL = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: purchases within
    1 hour after a click by the same user. Watermarks on BOTH sides plus
    the time-range condition let Spark expire join state — the unbounded-
    state trap of naive stream-stream joins. Inner-join output is
    emit-on-match, so the final table equals the batch join regardless of
    micro-batch boundaries."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id",
    )
    return _run_to_table("streaming_click_purchase_join", joined, "append")


STREAMING_CLICK_PURCHASE_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
 AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
"""


register(streaming_enriched_counts, STREAMING_ENRICHED_SQL)
register(streaming_click_purchase_join, STREAMING_CLICK_PURCHASE_SQL)
register(streaming_windowed_agg, STREAMING_WINDOWED_AGG_SQL)
register(streaming_sessionize, STREAMING_SESSIONIZE_SQL)
register(streaming_dedup_keys, STREAMING_DEDUP_SQL)
register(streaming_stateful_totals, STREAMING_STATEFUL_SQL)


def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: the event stream is a changelog merged into a
    parquet target via foreachBatch + the idempotent epoch ledger.

    The per-batch merge keeps the LATEST row per user including delete
    markers ('error' events) — latest-wins over (ts, event_id) is
    associative and commutative across micro-batches, so the final state
    is identical however AvailableNow splits the input; deletes filter at
    read time. Same oracle as the batch cdc_latest_state query."""
    from onetl_spark.operators.cdc import cdc_latest_snapshot
    from onetl_spark.streaming.ops import (
        idempotent_batch_sink,
        load_published_state,
        publish_state,
    )

    def make_batch_fn(work_dir: str):
        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            prev, _last = load_published_state(spark, work_dir)
            state = batch_df if prev is None else prev.unionByName(batch_df)
            snap = cdc_latest_snapshot(state, ["user_id"], ["ts", "event_id"])
            # crash-atomic versioned publish: a delete-then-swap window would
            # lose the accumulated target on a crash between the two calls
            publish_state(snap, work_dir, batch_id)

        return idempotent_batch_sink(merge_batch, os.path.join(work_dir, "ledger"))

    work = run_foreach_batch(
        "streaming_cdc_apply", _events_stream(spark, sf_dir), make_batch_fn
    )
    final, _ = load_published_state(spark, work)
    return (
        final
        .filter("event_type <> 'error'")
        .select("user_id", "event_id", "ts", "value", "props")
    )


from onetl_spark.showcase.cdc import CDC_LATEST_SQL as _CDC_SQL
register(streaming_cdc_apply, _CDC_SQL)


def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (overlapping) event-time windows — 1-hour windows every 30
    minutes per event_type, executed as a real streaming query. Each event
    lands in exactly two windows; state per key is bounded by the
    watermark horizon exactly as in the tumbling case."""
    events = _events_stream(spark, sf_dir)
    out = windowed_aggregate(
        events,
        time_col="ts",
        window_duration="1 hour",
        slide="30 minutes",
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_value": dsum("value"),
        },
        watermark="30 minutes",
        group_by=("event_type",),
    )
    return _run_to_table("streaming_sliding_window", out, "complete")


# every event belongs to exactly the two 30-minute-grid starts within
# (ts - 1h, ts]: its own bucket and the previous one
STREAMING_SLIDING_SQL = f"""
WITH expanded AS (
  SELECT time_bucket(INTERVAL 30 MINUTES, CAST(ts AS TIMESTAMP))
           - o.off * INTERVAL 30 MINUTES AS window_start,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off) o
)
SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end, event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM expanded
GROUP BY 1, 2, 3
"""

register(streaming_sliding_window, STREAMING_SLIDING_SQL)


def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with event-time bounds: every click,
    joined to purchases by the same user within the following hour —
    unmatched clicks emit a null-extended row once the watermark proves
    no matching purchase can still arrive. This exercises the
    watermark-driven state-eviction path that inner joins never hit: a
    left row is held in state while ``click_ts >= wm - 1h`` (a future
    purchase could match it) and emits null-extended on eviction, so the
    oracle includes an unmatched click iff ``click_ts + 1h < final_wm``
    where ``final_wm = min(max click_ts, max purchase_ts) - 1h`` (the
    two sides' watermarks are min-combined; AvailableNow runs a trailing
    no-data micro-batch that performs the final eviction). Unmatched
    clicks inside the last watermark window are NOT emitted — exactly
    the semantics a resumed production stream would show, pinned here."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")
    return _run_to_table("streaming_left_outer_join", joined, "append")


STREAMING_LEFT_OUTER_SQL = """
WITH c AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT least((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
         - INTERVAL 1 HOUR AS w
), matched AS (
  SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
  FROM c JOIN p ON c.user_id = p.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
), unmatched AS (
  SELECT c.user_id, c.event_id AS click_id, CAST(NULL AS BIGINT) AS purchase_id
  FROM c, wm
  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
    AND c.ts + INTERVAL 1 HOUR < wm.w
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""

register(streaming_left_outer_join, STREAMING_LEFT_OUTER_SQL)


def streaming_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-aggregate maintenance: each micro-batch is
    aggregated ONCE (`operators/maintenance.py aggregate_state`) and
    merged into the persisted per-key state
    (`merge_aggregate_state` inside foreachBatch + the idempotent epoch
    ledger). Because every state field is an exact semigroup (decimal
    sums, min/max), the final state is identical however AvailableNow
    splits the input — the oracle recomputes the rollup from the full
    data and must hash-match. This is the production pattern for keeping
    a 100-TB rollup current: the stream touches each event once; history
    is never re-scanned."""
    from onetl_spark.operators.maintenance import (
        aggregate_state,
        merge_aggregate_state,
    )
    from onetl_spark.streaming.ops import (
        idempotent_batch_sink,
        load_published_state,
        publish_state,
    )

    def make_batch_fn(work_dir: str):
        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            prev, last_batch = load_published_state(spark, work_dir)
            if last_batch >= batch_id:
                return  # this epoch is already folded into the published state
            state = aggregate_state(batch_df, ["event_type"], "value")
            if prev is not None:
                state = merge_aggregate_state(prev, state, ["event_type"])
            # crash-atomic: versioned dir + pointer flip (never delete-then-swap
            # — the additive merge is NOT idempotent, so a lost state directory
            # would silently rebuild from one batch)
            publish_state(state, work_dir, batch_id)

        return idempotent_batch_sink(merge_batch, os.path.join(work_dir, "ledger"))

    work = run_foreach_batch(
        "streaming_rollup_maintenance", _events_stream(spark, sf_dir), make_batch_fn
    )
    final, _ = load_published_state(spark, work)
    return (
        final
        .select(
            "event_type",
            "n",
            "n_nulls",
            F.col("sum").cast("double").alias("value_sum"),
            "min",
            "max",
        )
        .orderBy("event_type")
    )


from onetl_spark.showcase.operators import (  # noqa: E402
    INCREMENTAL_ROLLUP_MERGE_SQL as _ROLLUP_SQL,
)

register(streaming_rollup_maintenance, _ROLLUP_SQL)


_HIST_EDGES = [10.0, 20.0, 50.0, 100.0, 200.0]


def streaming_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (`streaming/ops.py stateful_histogram`):
    per-event_type fixed-bin value histogram maintained in
    applyInPandasWithState — bounded state per key forever, the
    streaming quantile-sketch build. Counts are order-independent, so
    the final state must equal the batch bucket counts exactly; the
    result explodes to (key, bin, count) rows (scalar columns only)."""
    from onetl_spark.streaming.ops import stateful_histogram

    events = _events_stream(spark, sf_dir)
    updates = stateful_histogram(
        events.select("event_type", "value"),
        key_cols=["event_type"],
        value_col="value",
        edges=_HIST_EDGES,
    )
    sink = _run_to_table("streaming_value_histogram", updates, "update")
    final = sink.groupBy("event_type").agg(
        F.max_by("bin_counts", "n_total").alias("_bc")
    )
    return final.select(
        "event_type", F.posexplode("_bc").alias("bin", "n_values")
    )


_HIST_CASE = " ".join(
    [f"WHEN value <= {_HIST_EDGES[0]} THEN 0"]
    + [
        f"WHEN value <= {e} THEN {i + 1}"
        for i, e in enumerate(_HIST_EDGES[1:])
    ]
) + f" ELSE {len(_HIST_EDGES)}"

STREAMING_HISTOGRAM_SQL = f"""
WITH b AS (
  SELECT event_type, CASE {_HIST_CASE} END AS bin
  FROM events WHERE value IS NOT NULL
), grid AS (
  SELECT et.event_type, r.i AS bin
  FROM (SELECT DISTINCT event_type FROM events) et,
       range(0, {len(_HIST_EDGES) + 1}) r(i)
)
SELECT grid.event_type, CAST(grid.bin AS INTEGER) AS bin,
       CAST(COALESCE(COUNT(b.event_type), 0) AS BIGINT) AS n_values
FROM grid LEFT JOIN b ON b.event_type = grid.event_type AND b.bin = grid.bin
GROUP BY 1, 2
"""

register(streaming_value_histogram, STREAMING_HISTOGRAM_SQL)


def streaming_type_topk_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (`streaming/ops.py stateful_topk`):
    per-event_type running top-3 values in applyInPandasWithState —
    bounded state per key forever, the streaming per-group TakeOrdered.
    The top-k multiset is order-independent, so the final state must
    equal the batch per-group top-3 exactly; the result explodes to
    (event_type, rank, value) scalar rows."""
    from onetl_spark.streaming.ops import stateful_topk

    events = _events_stream(spark, sf_dir)
    updates = stateful_topk(
        events.select("event_type", "value"),
        key_cols=["event_type"],
        value_col="value",
        k=3,
    )
    sink = _run_to_table("streaming_type_topk_values", updates, "update")
    final = sink.groupBy("event_type").agg(
        F.max_by("topk_values", "n_seen").alias("_tv")
    )
    return final.select(
        "event_type", F.posexplode("_tv").alias("rank", "value")
    )


STREAMING_TOPK_SQL = """
SELECT event_type, CAST(rk - 1 AS INTEGER) AS rank, CAST(value AS DOUBLE) AS value
FROM (
  SELECT event_type, CAST(value AS DOUBLE) AS value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE) DESC)
           AS rk
  FROM events WHERE value IS NOT NULL
) WHERE rk <= 3
"""

register(streaming_type_topk_values, STREAMING_TOPK_SQL)


_DRIFT_MAX_DAYS = 64   # production state bound; inactive at the 30-day window
_DRIFT_KSIG = 0.5
_DRIFT_ALARM = 4.0


def streaming_rolling_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (`streaming/ops.py stateful_daily_stats`):
    per-event_type rolling grid of daily sufficient statistics
    (n, Σx, Σx²) in exact integer micro-units — commutative merges, so
    the final state is micro-batch-split-independent and equals the
    batch daily aggregate exactly. Drift analytics (two-sided CUSUM
    peaks on the daily-mean series + within-day variance) run as plain
    BATCH arithmetic over the emitted grid (`operators/changepoint.py
    cusum_excursions`): the state holds statistics, not conclusions."""
    from onetl_spark.operators.changepoint import cusum_excursions
    from onetl_spark.streaming.ops import stateful_daily_stats

    events = _events_stream(spark, sf_dir)
    prepped = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 1e6, 0).cast("long").alias("v_micro"),
        F.round(F.col("value") * F.col("value") * 1e6, 0).cast("long").alias("sq_micro"),
    )
    updates = stateful_daily_stats(
        prepped, key_cols=["event_type"], max_days=_DRIFT_MAX_DAYS
    )
    sink = _run_to_table("streaming_rolling_drift", updates, "update")
    final = sink.groupBy("event_type").agg(
        F.max_by(
            F.struct("days", "day_n", "day_sum_micro", "day_sq_micro"), "n_total"
        ).alias("_g")
    )
    grid = (
        final.select(
            "event_type",
            F.explode(
                F.arrays_zip(
                    F.col("_g.days").alias("day"),
                    F.col("_g.day_n").alias("n"),
                    F.col("_g.day_sum_micro").alias("s"),
                    F.col("_g.day_sq_micro").alias("q"),
                )
            ).alias("_c"),
        )
        .select(
            "event_type",
            F.col("_c.day").alias("day"),
            F.col("_c.n").alias("n"),
            (F.col("_c.s") / F.lit(1e6) / F.col("_c.n")).alias("v"),
            F.round(
                F.col("_c.q") / F.lit(1e6) / F.col("_c.n")
                - (F.col("_c.s") / F.lit(1e6) / F.col("_c.n"))
                * (F.col("_c.s") / F.lit(1e6) / F.col("_c.n")),
                9,
            ).alias("_var_d"),
        )
        .localCheckpoint(eager=True)  # grid-sized; consumed by 3 arms
    )
    cus = cusum_excursions(grid, ["event_type"], "day", "v", k_sigma=_DRIFT_KSIG)

    def _peak(col: str, peak_alias: str, day_alias: str, extra: list[str]) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(F.desc(col), F.asc("day"))
        return (
            cus.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "event_type",
                *extra,
                F.col(col).alias(peak_alias),
                F.col("day").alias(day_alias),
            )
        )

    pos = _peak("cusum_pos", "peak_pos", "peak_pos_day", ["mu", "sigma"])
    neg = _peak("cusum_neg", "peak_neg", "peak_neg_day", [])
    per_key = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.sum(F.col("_var_d").cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("avg_within_day_var"),
    )
    return (
        pos.join(neg, "event_type")
        .join(per_key, "event_type")
        .select(
            "event_type",
            "n_days",
            "mu",
            "sigma",
            "peak_pos",
            "peak_pos_day",
            "peak_neg",
            "peak_neg_day",
            "avg_within_day_var",
            (
                F.greatest("peak_pos", "peak_neg")
                > F.lit(_DRIFT_ALARM) * F.col("sigma")
            ).alias("drift_alarm"),
        )
    )


_DRIFT_MU = "sx_n / n"
_DRIFT_SIGMA = f"sqrt(greatest(0.0, sxx_n / n - ({_DRIFT_MU}) * ({_DRIFT_MU})))"

STREAMING_DRIFT_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
         COUNT(*) AS dn,
         SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS s,
         SUM(CAST(round(value * value * 1000000.0) AS BIGINT)) AS q
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), kept AS (
  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                              ORDER BY day DESC) AS drk
                 FROM daily) WHERE drk <= {_DRIFT_MAX_DAYS}
), grid AS (
  SELECT event_type, day, dn,
         (s / 1000000.0) / dn AS v,
         round(q / 1000000.0 / dn
               - ((s / 1000000.0) / dn) * ((s / 1000000.0) / dn), 9) AS var_d
  FROM kept
), pre AS (
  SELECT event_type, day, v, var_d,
         COUNT(*) OVER wall AS n,
         CAST(SUM(CAST(v AS DECIMAL(27,9))) OVER wall AS DOUBLE) AS sx_n,
         CAST(SUM(CAST(v * v AS DECIMAL(30,9))) OVER wall AS DOUBLE) AS sxx_n,
         ROW_NUMBER() OVER w AS i,
         CAST(SUM(CAST(v AS DECIMAL(27,9))) OVER w AS DOUBLE) AS sx_i
  FROM grid
  WINDOW wall AS (PARTITION BY event_type),
         w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pq AS (
  SELECT event_type, day,
         {sql_fsig(_DRIFT_MU)} AS mu,
         {sql_fsig(_DRIFT_SIGMA)} AS sigma,
         sx_i - i * ({_DRIFT_MU} + {_DRIFT_KSIG!r} * {_DRIFT_SIGMA}) AS p,
         i * ({_DRIFT_MU} - {_DRIFT_KSIG!r} * {_DRIFT_SIGMA}) - sx_i AS q
  FROM pre
), cus AS (
  SELECT event_type, day, mu, sigma,
         {sql_fsig('p - least(0.0, MIN(p) OVER w)')} AS cusum_pos,
         {sql_fsig('q - least(0.0, MIN(q) OVER w)')} AS cusum_neg
  FROM pq
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pos AS (
  SELECT event_type, mu, sigma, cusum_pos AS peak_pos, day AS peak_pos_day
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY cusum_pos DESC, day ASC) AS rn
        FROM cus) WHERE rn = 1
), neg AS (
  SELECT event_type, cusum_neg AS peak_neg, day AS peak_neg_day
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY cusum_neg DESC, day ASC) AS rn
        FROM cus) WHERE rn = 1
), per_key AS (
  SELECT event_type, COUNT(*) AS n_days,
         round(CAST(SUM(CAST(var_d AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 9)
           AS avg_within_day_var
  FROM grid GROUP BY event_type
)
SELECT p.event_type, k.n_days, p.mu, p.sigma, p.peak_pos, p.peak_pos_day,
       g.peak_neg, g.peak_neg_day, k.avg_within_day_var,
       greatest(p.peak_pos, g.peak_neg) > {_DRIFT_ALARM!r} * p.sigma AS drift_alarm
FROM pos p
JOIN neg g ON g.event_type = p.event_type
JOIN per_key k ON k.event_type = p.event_type
"""

register(streaming_rolling_drift, STREAMING_DRIFT_SQL)

"""Structured Streaming jobs over the events stream.

The reference is a batch job triggered per extract date (reference
app.py:132) — its incremental semantics generalize here to real
streams: file-source ingestion, event-time windows with watermarks,
within-watermark dedup, custom stateful aggregation, and a
foreachBatch warehouse sink.

Every job is a pure ``streaming DataFrame -> DataFrame`` function so
the same logic binds to any source (file, Kafka, rate) and is testable
with ``trigger(availableNow=True)`` against the batch twins in
``plans/events_queries.py``.

Scale notes: state stores (windows, dedup, applyInPandasWithState)
are partitioned by grouping key across executors; watermarks bound
state size — without them every window/key lives forever. All
aggregations here carry a watermark.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Ship stateful-kernel code by value to Python workers (see
# operators/multimodal.py for rationale).
try:  # pragma: no cover - depends on bundled cloudpickle version
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass

def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of event files landing in a directory.

    The file source tracks processed files in the checkpoint — the
    streaming equivalent of the reference's one-partition-per-run
    incremental load.

    File streams require an explicit schema, but the fixture layout
    has shipped ``ts`` as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    across driver generations (see sources/tables.py::load_events). A
    one-off batch read (footer-only, no data scan) probes the layout
    so the declared stream schema matches what is physically on disk,
    then ``ts`` is normalized to TimestampType exactly like the batch
    loader — streams and their batch twins always agree on types.
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    try:
        probed = spark.read.parquet(source_dir).schema
    except Exception as exc:
        msg = str(exc)
        if "PARQUET_TYPE_ILLEGAL" in msg or "Illegal Parquet type" in msg:
            # TIMESTAMP(NANOS) layout: the conf must stay set for the
            # lifetime of the stream (micro-batch reads re-apply it).
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            probed = spark.read.parquet(source_dir).schema
        elif "UNABLE_TO_INFER_SCHEMA" in msg or "Unable to infer schema" in msg:
            # empty-but-existing source dir: the standard file-source
            # pattern (stream created first, files land later). Fall
            # back to the current fixture generation's schema; a
            # later nanos-era file would need the probe rerun once
            # data exists.
            probed = StructType(
                [
                    StructField("event_id", LongType()),
                    StructField("ts", TimestampType()),
                    StructField("user_id", LongType()),
                    StructField("event_type", StringType()),
                    StructField("value", DoubleType()),
                    StructField("props", StringType()),
                ]
            )
        else:
            raise
    reader = spark.readStream.schema(probed)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    if isinstance(probed["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window counts per event type with late-data handling.

    Watermark = max observed ts − 10min; windows older than that are
    finalized and evicted from the state store. Batch twin:
    q_events_tumbling_5min.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window counts per event type (window ≥ slide → each
    event in window/slide overlapping windows). State per open window;
    watermark bounds how many stay open. Batch twin:
    q_events_sliding_10m_5m.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_aggregation(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "60 minutes"
) -> DataFrame:
    """Per-user session windows (gap-close semantics).

    session_window merges events within ``gap`` of each other — the
    streaming-native form of q_events_sessionization's lag+cumsum.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def _click_purchase_join(
    events: DataFrame, horizon_min: int, watermark: str, how: str
) -> DataFrame:
    """Purchases joined (``how``: "inner" or "left_outer") to the same
    user's clicks in the ``horizon_min`` minutes up to the purchase,
    both sides watermarked; the two public attribution joins below."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_min} MINUTES")
        ),
        how,
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def click_purchase_attribution(
    events: DataFrame,
    horizon_min: int = 30,
    watermark: str = "60 minutes",
) -> DataFrame:
    """Stream-stream join: attribute each purchase to the same user's
    clicks in the preceding ``horizon_min`` minutes.

    Both sides are watermarked and the join carries an event-time range
    condition — that PAIR is what lets Spark bound the join state
    (clicks older than watermark+horizon are evicted; without the time
    bound, stream-stream join state grows forever). The batch query
    q_events_click_attribution calls this function on the events table;
    a batch plan drops the watermarks.
    """
    return _click_purchase_join(events, horizon_min, watermark, "inner")


def dedup_within_watermark(events: DataFrame, watermark: str = "60 minutes") -> DataFrame:
    """Exactly-once-ish ingest dedup on event_id.

    State holds only ids younger than the watermark — bounded memory,
    unlike a global dropDuplicates which keeps all ids forever.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# --- custom stateful operator: per-key CUSUM drift monitor ------------------

_CUSUM_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("cusum", DoubleType()),
    ]
)

_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("s", DoubleType()),
    ]
)


def cusum_value_monitor(events: DataFrame, target: float) -> DataFrame:
    """Per-event-type one-sided CUSUM over the value stream:
    S := max(0, S + (value - target)), carried ACROSS micro-batches in
    the state store — the streaming form of
    q_cusum_changepoint_revenue's changepoint scan (Page's detector).
    Where the PSI monitor (streaming/monitor.py) is stateless
    per-batch distribution drift, CUSUM accumulates small persistent
    LEVEL shifts that no single batch makes visible; `target` is the
    in-control mean from the reference period.

    Each batch's rows fold in (ts, event_id) order on top of the
    carried S, so the emitted statistic equals the batch fold over the
    concatenated arrival order (pinned by the test's batch twin).
    State is one (count, double) per key — O(|event types|) total,
    no watermark needed because nothing is ever evicted by design.
    Ordering caveat (same as every per-key recurrence): cross-batch
    correctness assumes a key's events arrive in event-time order
    across batches; out-of-order arrival needs a watermark-buffered
    re-sort upstream.
    """

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, s = (state.get if state.exists else (0, 0.0))
        # concatenate BEFORE sorting: a key whose batch exceeds the
        # Arrow chunk size arrives as several pdfs in arbitrary order,
        # and the fold is order-dependent (same pattern as the EWMA
        # kernel below)
        chunks = list(pdfs)
        batch = (
            pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        )
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"])
            for v in batch["value"].astype(float):
                s = max(0.0, s + (v - target))
            n += len(batch)
        state.update((n, s))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n_events": [n], "cusum": [s]}
        )

    return events.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=_CUSUM_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- custom stateful operator: running per-user totals ---------------------

_USER_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_ts_micros", LongType()),
    ]
)

_USER_TOTALS_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_ts_micros", LongType()),
    ]
)


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Accumulate lifetime (n, sum, max_ts) per user across batches."""
    n, total, max_ts = (state.get if state.exists else (0, 0.0, 0))
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            max_ts = max(max_ts, int(pdf["ts"].astype("int64").max()) // 1000)
    state.update((n, total, max_ts))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "max_ts_micros": [max_ts],
        }
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful aggregation via applyInPandasWithState:
    emits the updated lifetime totals for every user seen in a batch.

    The canonical escape hatch when built-in windows can't express the
    state machine (counters, ML feature state, fraud scores...).
    State is per-key, Arrow-batched, partitioned across executors.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=_USER_TOTALS_SCHEMA,
        stateStructType=_USER_TOTALS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _batch_sink(
    batch_df: DataFrame, batch_id: int, warehouse_root: str, table: str
) -> None:
    """Idempotent per-micro-batch parquet write: batch N owns the
    partition directory ``batch_id=N`` and OVERWRITES it, so a replay
    after a crash between the sink write and the checkpoint commit
    replaces batch N's output instead of appending duplicates — the
    standard batch_id-keyed exactly-once pattern for file sinks
    (a plain ``mode("append")`` here would be at-least-once)."""
    batch_df.write.mode("overwrite").parquet(
        f"{warehouse_root}/{table}/batch_id={batch_id}"
    )


def write_stream_to_warehouse(
    stream: DataFrame, warehouse_root: str, table: str, checkpoint: str
):
    """foreachBatch parquet sink with exactly-once output: each
    micro-batch lands in its own ``batch_id=N`` partition via
    idempotent overwrite (see _batch_sink) — the streaming version of
    the reference's write_pandas append-load (app.py:195-197), minus
    its duplicate-on-retry failure mode. Readers see one extra
    ``batch_id`` partition column on the table root."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        _batch_sink(batch_df, batch_id, warehouse_root, table)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )


def enrich_with_user_dim(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: stamp each event with its user's dimension
    row (segment, region, ...) as it arrives.

    Stream-static joins are STATELESS — no watermark, no state store:
    each micro-batch hash-joins against the static side, and because a
    user dimension is small relative to the event firehose the static
    side is broadcast, so enrichment costs zero shuffles of the
    stream. The static side is re-read per micro-batch only for
    file-source tables that change; a cached dimension pins one copy
    per executor. Left join preserves events for unknown users
    (late-arriving dimension rows) rather than dropping them — the
    streaming analogue of the ETL anti-join audit (reference
    app.py:151-164 silently drops).
    """
    return events.join(F.broadcast(user_dim), "user_id", "left")


def segment_window_counts(
    events: DataFrame, user_dim: DataFrame, window: str = "5 minutes"
) -> DataFrame:
    """Enriched windowed rollup: events per (segment, tumbling window).

    Composition proof that the stream-static join feeds straight into
    a watermarked window aggregate — join first (stateless), then the
    windowed groupBy keys state by (segment, window), tiny domain.
    """
    enriched = enrich_with_user_dim(events, user_dim)
    return (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy(
            F.coalesce(F.col("segment"), F.lit("unknown")).alias("segment"),
            F.window("ts", window).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("segment", F.col("w.start").alias("window_start"), "n_events")
    )


# --- modern stateful operator: transformWithStateInPandas -------------------
# Spark 4's typed-state successor to applyInPandasWithState: named state
# variables (value/list/map), TTL, timers, and schema evolution, with the
# state store (RocksDB) partitioned by grouping key across executors.

EWMA_STREAM_ALPHA = 0.3  # matches plans/incremental.py::EWMA_ALPHA


class _EwmaValueProcessor:
    """Per-user EWMA of event values — a recurrence, so it genuinely
    needs ordered per-key state (no commutative aggregate expresses
    it; see plans/incremental.py::q_ewma_revenue_by_status for the
    batch form of the same recurrence class).

    Rows inside a micro-batch are sorted by (ts, event_id) before
    folding, so replaying the same files yields the same fold order
    and the result is reproducible run-to-run.
    """

    def init(self, handle) -> None:
        self._state = handle.getValueState("ewma", "n_events BIGINT, ewma DOUBLE")

    def handleInputRows(self, key, rows, timerValues):
        n, ewma = (0, 0.0)
        if self._state.exists():
            n, ewma = self._state.get()
        batch = pd.concat(list(rows)).sort_values(["ts", "event_id"])
        for v in batch["value"].astype("float64"):
            ewma = EWMA_STREAM_ALPHA * float(v) + (1.0 - EWMA_STREAM_ALPHA) * ewma
            n += 1
        self._state.update((int(n), float(ewma)))
        yield pd.DataFrame(
            {"user_id": [int(key[0])], "n_events": [int(n)], "ewma_value": [ewma]}
        )


def ewma_user_value(events: DataFrame) -> DataFrame:
    """Lifetime per-user EWMA of ``value`` via transformWithStateInPandas.

    Each micro-batch folds the user's new events (ts-ordered) into one
    (n, ewma) ValueState double — state is O(1) per user regardless of
    history length, the property that makes recurrences streamable at
    all. Emits the updated running EWMA per user per batch.

    Runtime requirements: the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``) and
    ``google.protobuf`` (the TWS Python worker's state-server
    protocol). The kernel's fold logic is unit-tested directly
    (tests/test_streaming.py::test_tws_ewma_kernel_fold_logic); the
    end-to-end test auto-skips where protobuf is absent.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    # build the concrete processor class lazily so module import never
    # requires the streaming-state machinery
    proc = type(
        "EwmaValueProcessor", (_EwmaValueProcessor, StatefulProcessor), {}
    )()
    return events.groupBy("user_id").transformWithStateInPandas(
        proc,
        outputStructType="user_id BIGINT, n_events BIGINT, ewma_value DOUBLE",
        outputMode="update",
        timeMode="none",
    )


RECENT_K = 5  # ListState window for the recent-value profile


class _UserProfileProcessor:
    """Per-user typed-state profile over ALL THREE TWS state kinds:

    - MapState  "type_counts": event_type → lifetime count (the state
      shape a per-key frequency table needs — a ValueState would
      re-serialize the whole dict per update; MapState updates only
      the touched keys).
    - ListState "recent_vals": the last RECENT_K event values in
      (ts, event_id) order (bounded by construction — the trim is the
      operator's contract, not a watermark side effect).
    - ValueState "totals": (n_events, det-ordered value total).

    Rows inside a micro-batch fold in (ts, event_id) order, so replay
    yields byte-identical state — same discipline as the EWMA
    processor.
    """

    def init(self, handle) -> None:
        self._counts = handle.getMapState(
            "type_counts", "event_type STRING", "cnt BIGINT"
        )
        self._recent = handle.getListState("recent_vals", "v DOUBLE")
        self._totals = handle.getValueState(
            "totals", "n_events BIGINT, total DOUBLE"
        )

    def handleInputRows(self, key, rows, timerValues):
        batch = pd.concat(list(rows)).sort_values(["ts", "event_id"])

        # MapState: bump only the touched event_type keys
        for etype, grp in batch.groupby("event_type", sort=True):
            prev = self._counts.getValue((str(etype),))
            base = int(prev[0]) if prev is not None else 0
            self._counts.updateValue((str(etype),), (base + len(grp),))

        # ListState: append new values, trim to the last RECENT_K
        vals = [float(v) for v in batch["value"].astype("float64")]
        kept = (
            [list(t) for t in self._recent.get()]
            if self._recent.exists()
            else []
        )
        merged = kept + [[v] for v in vals]
        self._recent.put([tuple(t) for t in merged[-RECENT_K:]])

        # ValueState: running totals
        n, total = (0, 0.0)
        if self._totals.exists():
            n, total = self._totals.get()
        for v in vals:
            total += v
            n += 1
        self._totals.update((int(n), float(total)))

        recent = [t[0] for t in merged[-RECENT_K:]]
        n_types = sum(1 for _ in self._counts.keys())
        top_type, top_cnt = None, -1
        for (etype,), (cnt,) in self._counts.iterator():
            # deterministic argmax: count desc, name asc on ties
            if cnt > top_cnt or (cnt == top_cnt and str(etype) < str(top_type)):
                top_type, top_cnt = str(etype), int(cnt)
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_events": [int(n)],
                "n_types": [int(n_types)],
                "top_type": [top_type],
                "top_type_count": [int(top_cnt)],
                "recent_mean": [float(sum(recent) / len(recent))],
                "total_value": [float(total)],
            }
        )


def user_profile_typed_state(events: DataFrame) -> DataFrame:
    """Per-user activity profile via transformWithStateInPandas using
    ValueState + ListState + MapState together: lifetime event count
    and value total, per-type counts with a deterministic top type,
    and the mean of the last RECENT_K values.

    State is O(|event types| + RECENT_K) per user — constant in
    history length. Emits one row per user per micro-batch (update
    mode). Requires the RocksDB state store; the protobuf state-server
    protocol is served by the vendored wire runtime where the real
    wheel is absent.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    proc = type(
        "UserProfileProcessor", (_UserProfileProcessor, StatefulProcessor), {}
    )()
    return events.groupBy("user_id").transformWithStateInPandas(
        proc,
        outputStructType=(
            "user_id BIGINT, n_events BIGINT, n_types BIGINT, "
            "top_type STRING, top_type_count BIGINT, "
            "recent_mean DOUBLE, total_value DOUBLE"
        ),
        outputMode="update",
        timeMode="none",
    )


class _SeededTotalsProcessor:
    """Per-user running totals WARM-STARTED from a batch snapshot via
    TWS ``initialState`` — the replatforming pattern: carry a running
    aggregate out of an old system (or a batch backfill) and continue
    it exactly, instead of replaying history or accepting a reset.
    ``handleInitialState`` fires once per key before any input rows.
    """

    def init(self, handle) -> None:
        self._totals = handle.getValueState(
            "seeded_totals", "n_events BIGINT, total DOUBLE"
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:
        row = initialState.iloc[0]
        self._totals.update((int(row["n_events"]), float(row["total"])))

    def handleInputRows(self, key, rows, timerValues):
        n, total = (0, 0.0)
        if self._totals.exists():
            n, total = self._totals.get()
        batch = pd.concat(list(rows)).sort_values(["ts", "event_id"])
        for v in batch["value"].astype("float64"):
            total += float(v)
            n += 1
        self._totals.update((int(n), float(total)))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_events": [int(n)],
                "total": [float(total)],
            }
        )


def seeded_user_totals(events: DataFrame, snapshot: DataFrame) -> DataFrame:
    """Running per-user totals seeded from ``snapshot`` (columns
    user_id, n_events, total) and continued over the stream —
    transformWithStateInPandas with ``initialState``. State stays
    O(1) per user; keys present only in the snapshot keep their
    seeded value until their first event arrives.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    proc = type(
        "SeededTotalsProcessor", (_SeededTotalsProcessor, StatefulProcessor), {}
    )()
    return events.groupBy("user_id").transformWithStateInPandas(
        proc,
        outputStructType="user_id BIGINT, n_events BIGINT, total DOUBLE",
        outputMode="update",
        timeMode="none",
        initialState=snapshot.groupBy("user_id"),
    )


INACTIVITY_GAP_MS = 10 * 60 * 1000  # event-time inactivity horizon


class _InactivityTimerProcessor:
    """Event-time TIMERS: flag a user inactive once the WATERMARK
    passes last_seen + gap — the push-based complement to the batch
    session cut (q_events_sessionization derives the same boundary by
    sorting history; this emits it the moment event time establishes
    it, with O(1) state per user).

    Timer discipline: exactly one live timer per user — each batch
    deletes the previous registration (handle.deleteTimer) and
    re-registers at the new last_seen + gap, so a chatty user never
    accumulates stale timers in the store.
    """

    def init(self, handle) -> None:
        self._handle = handle
        self._last = handle.getValueState("last_seen", "last_ms BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        batch = pd.concat(list(rows)).sort_values(["ts", "event_id"])
        new_last = int(batch["ts"].max().timestamp() * 1000)
        if self._last.exists():
            (prev_ms,) = self._last.get()
            self._handle.deleteTimer(int(prev_ms) + INACTIVITY_GAP_MS)
            new_last = max(new_last, int(prev_ms))
        self._last.update((new_last,))
        self._handle.registerTimer(new_last + INACTIVITY_GAP_MS)
        return iter(())  # output only on expiry

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "inactive_at_ms": [int(expiredTimerInfo.getExpiryTimeInMs())],
            }
        )


def user_inactivity_flags(
    events: DataFrame, watermark_delay: str = "1 second"
) -> DataFrame:
    """Per-user inactivity flags via event-time timers
    (transformWithStateInPandas, timeMode="eventTime"): one row per
    user each time the watermark passes their last event + gap.
    Requires a watermark on ts (timers fire off the watermark, never
    wall clock — replay-deterministic, unlike processing-time mode).
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    proc = type(
        "InactivityTimerProcessor",
        (_InactivityTimerProcessor, StatefulProcessor),
        {},
    )()
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            proc,
            outputStructType="user_id BIGINT, inactive_at_ms BIGINT",
            outputMode="append",
            timeMode="eventTime",
        )
    )


def click_purchase_attribution_outer(
    events: DataFrame,
    horizon_min: int = 30,
    watermark: str = "60 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream join: like click_purchase_attribution,
    but purchases with NO qualifying click still emit (null click
    columns) — the attribution report that accounts for every
    purchase, organic ones included.

    Outer stream-stream is the subtle variant: a null-padded result
    for a purchase can only be emitted once the watermark proves no
    matching click can still arrive (purchase_ts + horizon <
    watermark), so unmatched rows surface with watermark delay, and
    BOTH the watermark and the event-time range bound are mandatory —
    without them the engine could neither bound the join state nor
    ever conclude "no match". Spark emits the null rows during
    no-data/state-cleanup micro-batches after the watermark advances.
    """
    return _click_purchase_join(events, horizon_min, watermark, "left_outer")


# ---------------------------------------------------------------------------
# streaming point-in-time feature enrichment (twin of the batch
# plans/feature_prep.py::pit_feature_assembly)
# ---------------------------------------------------------------------------


class _PitEnrichProcessor:
    """Streaming twin of ``plans/feature_prep.pit_feature_assembly``: the
    same strictly-before feature contract, maintained as O(1) typed
    state per entity instead of a corpus-wide window. Input is the
    UNION stream (events kind=1, order probes kind=0); per micro-batch
    the rows fold in (ts, kind, row_id) order, so a probe reads the
    state BEFORE any same-timestamp event is folded — the identical
    tie discipline the batch window encodes with its (ts, kind) sort.

    State: one ValueState of four BIGINTs (event/purchase/error
    counts + last event-time in micros; 0 ⇔ no history, disambiguated
    by n_events). In-order replay of the same files yields
    byte-identical output; out-of-order arrivals would need the
    watermarked-buffer pattern of the sessionization operator and are
    out of this operator's contract (the batch form is the replayable
    source of truth).
    """

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "hist",
            "n_events BIGINT, n_purch BIGINT, n_err BIGINT, last_us BIGINT",
        )

    def handleInputRows(self, key, rows, timerValues):
        n, n_purch, n_err, last_us = (0, 0, 0, 0)
        if self._state.exists():
            n, n_purch, n_err, last_us = self._state.get()
        batch = pd.concat(list(rows)).sort_values(["ts", "kind", "row_id"])
        out: list[tuple] = []
        for r in batch.itertuples():
            ts_us = int(pd.Timestamp(r.ts).value // 1_000)
            if int(r.kind) == 0:  # probe: read state, never fold it
                out.append(
                    (
                        int(r.o_orderkey),
                        int(key[0]),
                        int(n),
                        int(n_purch),
                        int(n_err),
                        (ts_us - int(last_us)) if n > 0 else None,
                    )
                )
            else:
                n += 1
                n_purch += int(r.is_purchase)
                n_err += int(r.is_error)
                last_us = ts_us
        self._state.update((int(n), int(n_purch), int(n_err), int(last_us)))
        if out:
            cols = list(zip(*out))
            yield pd.DataFrame(
                {
                    "o_orderkey": pd.array(cols[0], dtype="Int64"),
                    "o_custkey": pd.array(cols[1], dtype="Int64"),
                    "n_events_before": pd.array(cols[2], dtype="Int64"),
                    "n_purchases_before": pd.array(cols[3], dtype="Int64"),
                    "n_errors_before": pd.array(cols[4], dtype="Int64"),
                    "micros_since_last_event": pd.array(
                        cols[5], dtype="Int64"
                    ),
                }
            )


#: schema of the union stream pit_enrich_stream consumes
PIT_UNION_SCHEMA = (
    "uid BIGINT, ts TIMESTAMP, kind INT, o_orderkey BIGINT,"
    " is_purchase INT, is_error INT, row_id BIGINT"
)


def pit_enrich_stream(union_stream: DataFrame) -> DataFrame:
    """Online leakage-free feature enrichment: each arriving order
    probe is emitted ONCE with its customer's strictly-before event
    features — the serving-time mirror of the batch training-set
    assembly (``q_pit_feature_assembly``), which is what makes the
    train/serve feature definitions provably identical (same counts,
    same tie rule, same cold-start zeros). Input must be the union
    stream with ``PIT_UNION_SCHEMA``.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    proc = type(
        "PitEnrichProcessor", (_PitEnrichProcessor, StatefulProcessor), {}
    )()
    return union_stream.groupBy("uid").transformWithStateInPandas(
        proc,
        outputStructType=(
            "o_orderkey BIGINT, o_custkey BIGINT, n_events_before BIGINT,"
            " n_purchases_before BIGINT, n_errors_before BIGINT,"
            " micros_since_last_event BIGINT"
        ),
        outputMode="update",
        timeMode="none",
    )


# ---------------------------------------------------------------------------
# streaming journey-string builder (twin of plans/sequence_patterns.py)
# ---------------------------------------------------------------------------

#: Python mirror of plans/sequence_patterns._INITIAL_CASE — one initial
#: per event type, 'x' for anything unknown
_EVENT_INITIALS = {
    "click": "c",
    "error": "e",
    "purchase": "p",
    "signup": "s",
    "view": "v",
}


class _JourneyStringProcessor:
    """Streaming twin of ``plans/sequence_patterns.journey_strings``:
    maintain each (user, day) journey's event-initial string as O(|day
    events|) typed state, folding every micro-batch in (ts, event_id)
    order and re-emitting the journey's CURRENT string (update mode —
    the latest emission per key is the longest). Pattern matching
    stays downstream in Spark SQL (`RLIKE` against the same pattern
    dimension), so batch and stream match with the SAME regex engine —
    the processor only builds strings, it never interprets patterns
    (a Python `re` here would be a THIRD regex dialect to reconcile).

    In-order replay of the same files yields byte-identical strings;
    out-of-order arrival is outside this operator's contract (the
    batch form is the replayable source of truth), matching the PIT
    enricher's discipline.
    """

    def init(self, handle) -> None:
        self._state = handle.getValueState("journey", "s STRING")

    def handleInputRows(self, key, rows, timerValues):
        s = self._state.get()[0] if self._state.exists() else ""
        batch = pd.concat(list(rows)).sort_values(["ts", "event_id"])
        s += "".join(
            _EVENT_INITIALS.get(et, "x") for et in batch["event_type"]
        )
        self._state.update((s,))
        yield pd.DataFrame(
            {
                "user_id": pd.array([int(key[0])], dtype="Int64"),
                "day": [pd.Timestamp(key[1])],
                "s": [s],
            }
        )


def journey_strings_stream(events: DataFrame) -> DataFrame:
    """Update-mode stream of (user_id, day, s): each micro-batch
    re-emits the current event-initial string of every journey it
    touched — the ingest-time mirror of the batch
    ``journey_strings`` build, which is what lets the same
    MATCH_RECOGNIZE-lite pattern dimension run on live journeys
    (latest emission per key = current journey state)."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    proc = type(
        "JourneyStringProcessor", (_JourneyStringProcessor, StatefulProcessor), {}
    )()
    keyed = events.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "ts",
        "event_id",
        "event_type",
    )
    return keyed.groupBy("user_id", "day").transformWithStateInPandas(
        proc,
        outputStructType="user_id BIGINT, day TIMESTAMP, s STRING",
        outputMode="update",
        timeMode="none",
    )

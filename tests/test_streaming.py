"""Streaming jobs validated against their batch twins.

Each stream runs with trigger(availableNow=True) into a memory sink,
then its final state is compared to the equivalent batch computation
over the same files.
"""

from __future__ import annotations

import shutil
import uuid

import pyspark.sql.functions as F
import pytest

from cost_of_living_data_etl_spark.plans.catalog import catalog
from cost_of_living_data_etl_spark.streaming.events import (

    click_purchase_attribution,
    dedup_within_watermark,
    read_events_stream,
    session_aggregation,
    sliding_counts,
    stateful_user_totals,
    tumbling_counts,
    write_stream_to_warehouse,
)
from conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF}/events.parquet", d / "events_0.parquet")
    return str(d)


def _await(q, timeout: int = 120) -> None:
    """awaitTermination returns False on timeout WITHOUT raising —
    assert it so a slow run fails as a clear timeout, not as a
    confusing partial-state data mismatch downstream."""
    assert q.awaitTermination(timeout), "streaming query did not finish in time"


def _run_to_memory(stream, name: str):
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if name.startswith("agg") else "append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    return q


def test_tumbling_matches_batch(spark, stream_dir):
    stream = tumbling_counts(read_events_stream(spark, stream_dir))
    name = f"agg_tumbling_{uuid.uuid4().hex[:8]}"
    _run_to_memory(stream, name)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table(name).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in catalog()["q_events_tumbling_5min"].fn(spark, SF).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6


def test_sliding_matches_batch(spark, stream_dir):
    stream = sliding_counts(read_events_stream(spark, stream_dir))
    name = f"agg_sliding_{uuid.uuid4().hex[:8]}"
    _run_to_memory(stream, name)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table(name).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in catalog()["q_events_sliding_10m_5m"].fn(spark, SF).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6


def test_session_count_matches_batch(spark, stream_dir):
    stream = session_aggregation(read_events_stream(spark, stream_dir))
    name = f"agg_sessions_{uuid.uuid4().hex[:8]}"
    _run_to_memory(stream, name)
    n_stream = spark.table(name).count()
    n_batch = catalog()["q_events_sessionization"].fn(spark, SF).count()
    assert n_stream == n_batch
    # event totals conserved across sessions
    total = spark.table(name).agg(F.sum("n_events")).collect()[0][0]
    assert total == spark.read.parquet(f"{SF}/events.parquet").count()


def test_stream_stream_join_matches_batch(spark, stream_dir):
    stream = click_purchase_attribution(read_events_stream(spark, stream_dir))
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r["purchase_id"], r["click_id"]) for r in spark.table(name).collect()
    }
    want = {
        (r["purchase_id"], r["click_id"])
        for r in catalog()["q_events_click_attribution"].fn(spark, SF).collect()
    }
    assert got == want
    assert len(want) > 0


def test_dedup_within_watermark(spark, tmp_path):
    # two copies of the same file → every event_id duplicated
    d = tmp_path / "dup_stream"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF}/events.parquet", d / "b.parquet")
    stream = dedup_within_watermark(read_events_stream(spark, str(d)))
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    n_distinct = spark.read.parquet(f"{SF}/events.parquet").count()
    assert spark.table(name).count() == n_distinct


def test_stateful_user_totals(spark, stream_dir):
    stream = stateful_user_totals(read_events_stream(spark, stream_dir))
    name = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    # last emitted row per user = lifetime totals
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.table(name).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in (
            spark.read.parquet(f"{SF}/events.parquet")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("total_value"),
            )
            .collect()
        )
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6


def test_foreachbatch_warehouse_sink(spark, stream_dir, tmp_path):
    stream = dedup_within_watermark(read_events_stream(spark, str(stream_dir)))
    q = write_stream_to_warehouse(
        stream,
        str(tmp_path / "wh"),
        "events_clean",
        str(tmp_path / "ckpt"),
    ).trigger(availableNow=True).start()
    _await(q)
    out = spark.read.parquet(str(tmp_path / "wh" / "events_clean"))
    assert out.count() == spark.read.parquet(f"{SF}/events.parquet").count()
    assert "ts" in out.columns and "event_id" in out.columns


def test_foreachbatch_sink_replay_is_idempotent(spark, tmp_path):
    """Replaying a micro-batch (crash between sink write and
    checkpoint commit) must not duplicate rows: batch N overwrites its
    own batch_id=N partition."""
    from cost_of_living_data_etl_spark.streaming.events import _batch_sink

    df = spark.range(0, 100).withColumnRenamed("id", "event_id")
    _batch_sink(df, 7, str(tmp_path), "sink_tbl")
    _batch_sink(df, 7, str(tmp_path), "sink_tbl")  # replay of the same batch
    out = spark.read.parquet(str(tmp_path / "sink_tbl"))
    assert out.count() == 100
    assert out.select("event_id").distinct().count() == 100


def _user_segment_dim(spark):
    """Deterministic tiny user dimension: user_id -> segment bucket."""
    return spark.range(0, 2000).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("seg_"), (F.col("id") % 3).cast("string")).alias("segment"),
    )


def test_stream_static_enrichment_matches_batch(spark, stream_dir):
    from cost_of_living_data_etl_spark.streaming.events import (
        enrich_with_user_dim,
        read_events_stream,
        segment_window_counts,
    )

    dim = _user_segment_dim(spark)
    stream = read_events_stream(spark, stream_dir)
    name = f"agg_enrich_{uuid.uuid4().hex[:8]}"
    q = (
        segment_window_counts(stream, dim)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r["segment"], r["window_start"], r["n_events"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    from cost_of_living_data_etl_spark.sources.tables import load_events

    batch = load_events(spark, stream_dir)
    want = {
        (r["segment"], r["window_start"], r["n_events"])
        for r in (
            batch.join(dim, "user_id", "left")
            .groupBy(
                F.coalesce(F.col("segment"), F.lit("unknown")).alias("segment"),
                F.window("ts", "5 minutes").alias("w"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("segment", F.col("w.start").alias("window_start"), "n_events")
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_static_join_is_broadcast_and_stateless(spark, stream_dir):
    """The enrichment plan must broadcast the dim (no stream shuffle)
    and carry no streaming state operator."""
    from cost_of_living_data_etl_spark.streaming.events import (
        enrich_with_user_dim,
        read_events_stream,
    )

    stream = read_events_stream(spark, stream_dir)
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enrich_with_user_dim(stream, _user_segment_dim(spark))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    jplan = q._jsq.explainInternal(True)
    assert "BroadcastHashJoin" in jplan
    assert "StateStore" not in jplan
    n = spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0]["n"]
    assert n == spark.read.parquet(stream_dir).count()


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restarting from the checkpoint neither re-processes old files
    nor misses new ones — the exactly-once contract of the file source
    + checkpoint across three separate query lifetimes: initial run,
    restart with new data, restart with nothing new.
    """
    import pyarrow.parquet as pq

    src = tmp_path / "in"
    src.mkdir()
    table = pq.read_table(f"{SF}/events.parquet")
    n = table.num_rows
    pq.write_table(table.slice(0, n // 2), str(src / "batch1.parquet"))

    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")

    def run_stream():
        stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
        q = (
            write_stream_to_warehouse(stream, wh, "events_sink", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        out = spark.read.parquet(f"{wh}/events_sink")
        return out.count(), out.select("event_id").distinct().count()

    total1, distinct1 = run_stream()
    assert total1 == distinct1 == n // 2

    # new file lands; restart from the same checkpoint
    pq.write_table(table.slice(n // 2), str(src / "batch2.parquet"))
    total2, distinct2 = run_stream()
    assert total2 == distinct2 == n  # batch1 not re-read, batch2 fully read

    # restart with no new data: a no-op, not a replay
    total3, distinct3 = run_stream()
    assert (total3, distinct3) == (n, n)


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas drives its state server over a "
    "protobuf protocol; neither the google.protobuf wheel nor the "
    "vendored wire-format shim (vendor/google/protobuf/minipb.py, "
    "engaged by conftest.ensure_protobuf before the session builds) "
    "is importable — should never happen in this repo's own suite.",
)
def test_transform_with_state_ewma(spark, stream_dir):
    """transformWithStateInPandas per-user EWMA: final streamed state
    must equal the same (ts, event_id)-ordered fold computed locally.
    Requires the RocksDB state store (typed-state API backend)."""
    from cost_of_living_data_etl_spark.streaming.events import ewma_user_value

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = ewma_user_value(read_events_stream(spark, stream_dir))
        name = f"tws_ewma_{uuid.uuid4().hex[:8]}"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        got = {
            r["user_id"]: (r["n_events"], r["ewma_value"])
            for r in spark.table(name).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    pdf = (
        spark.read.parquet(stream_dir)
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["ts", "event_id"])
    )
    want = {}
    for uid, grp in pdf.groupby("user_id"):
        ewma, n = 0.0, 0
        for v in grp["value"].astype("float64"):
            ewma = 0.3 * float(v) + 0.7 * ewma
            n += 1
        want[uid] = (n, ewma)
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0]
        assert abs(got[uid][1] - want[uid][1]) < 1e-9, uid


def test_tws_ewma_kernel_fold_logic():
    """The TWS processor kernel itself is plain Python over pandas —
    verify its fold (ordering, state carry-over across batches)
    without the protobuf state-server plumbing the sandbox lacks."""
    import pandas as pd

    from cost_of_living_data_etl_spark.streaming.events import _EwmaValueProcessor

    class FakeState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    proc = _EwmaValueProcessor()
    proc._state = FakeState()

    # batch 1 arrives UNORDERED: rows must fold in (ts, event_id) order
    b1 = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:02", "2024-01-01 00:01"]),
            "event_id": [2, 1],
            "value": [10.0, 20.0],
        }
    )
    out1 = list(proc.handleInputRows((7,), iter([b1]), None))[0]
    # fold order: 20.0 then 10.0 → 0.3*10 + 0.7*(0.3*20) = 7.2
    assert out1["n_events"][0] == 2
    assert abs(out1["ewma_value"][0] - (0.3 * 10.0 + 0.7 * (0.3 * 20.0))) < 1e-12

    # batch 2 continues from persisted state
    b2 = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:03"]),
            "event_id": [3],
            "value": [40.0],
        }
    )
    out2 = list(proc.handleInputRows((7,), iter([b2]), None))[0]
    assert out2["n_events"][0] == 3
    assert abs(out2["ewma_value"][0] - (0.3 * 40.0 + 0.7 * 7.2)) < 1e-12


def test_stream_stream_left_outer_matches_batch(spark, stream_dir):
    """Outer stream-stream join: matched pairs identical to the inner
    twin, PLUS exactly one null-click row for every purchase with no
    qualifying click (emitted on watermark-driven state cleanup)."""
    from cost_of_living_data_etl_spark.streaming.events import (
        click_purchase_attribution_outer,
    )

    stream = click_purchase_attribution_outer(read_events_stream(spark, stream_dir))
    name = f"ssjo_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = spark.table(name)

    ev = spark.read.parquet(f"{SF}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    got = {(r["purchase_id"], r["click_id"]) for r in out.collect()}
    want_rows = batch.collect()
    want = {(r["purchase_id"], r["click_id"]) for r in want_rows}

    # matched pairs must agree exactly
    assert {p for p in got if p[1] is not None} == {
        p for p in want if p[1] is not None
    }
    # null rows: the stream may only emit "no match" once the click
    # watermark passes the purchase — tail purchases inside the final
    # watermark horizon legitimately stay pending in state
    import datetime as dt

    # the GLOBAL watermark is min over both branches' (max event time
    # − 60m) — whichever branch lags governs. A purchase's no-match
    # verdict is final only below global_wm minus the 30m join range —
    # use that, conservatively, as "provably concluded"
    max_click_ts = (
        ev.filter(F.col("event_type") == "click").agg(F.max("ts")).collect()[0][0]
    )
    max_purchase_ts = (
        ev.filter(F.col("event_type") == "purchase").agg(F.max("ts")).collect()[0][0]
    )
    horizon = min(max_click_ts, max_purchase_ts) - dt.timedelta(minutes=90)
    concluded = {
        (r["purchase_id"], None)
        for r in want_rows
        if r["click_id"] is None and r["purchase_ts"] < horizon
    }
    got_nulls = {p for p in got if p[1] is None}
    assert concluded <= got_nulls <= {p for p in want if p[1] is None}
    assert len(got_nulls) > 0  # outer join genuinely adds null rows


def test_stateful_totals_survive_restart(spark, tmp_path):
    """applyInPandasWithState state must persist across query
    lifetimes: run totals over batch 1, stop, land batch 2, restart
    from the same checkpoint — the final emitted totals must equal a
    batch aggregate over BOTH batches (state carried, nothing
    recounted)."""
    import pyarrow.parquet as pq

    src = tmp_path / "in"
    src.mkdir()
    table = pq.read_table(f"{SF}/events.parquet")
    n = table.num_rows
    pq.write_table(table.slice(0, n // 2), str(src / "batch1.parquet"))
    ckpt = str(tmp_path / "ckpt")
    wh = str(tmp_path / "wh")

    def run_stream():
        # memory sinks can't recover from a checkpoint; the
        # foreachBatch parquet sink (batch_id-partitioned) can
        stream = stateful_user_totals(read_events_stream(spark, str(src)))
        q = (
            write_stream_to_warehouse(stream, wh, "user_totals", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    run_stream()
    pq.write_table(table.slice(n // 2), str(src / "batch2.parquet"))
    run_stream()  # restart from checkpoint; only batch2 is processed

    # final state per user = the row from that user's LATEST batch
    from pyspark.sql import Window

    out = spark.read.parquet(f"{wh}/user_totals")
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    latest = (
        out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    out_rows = {
        r["user_id"]: (r["n_events"], r["total_value"]) for r in latest.collect()
    }

    want = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in (
            spark.read.parquet(f"{SF}/events.parquet")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("total_value"),
            )
            .collect()
        )
    }
    assert set(out_rows) == set(want)
    for k in want:
        assert out_rows[k][0] == want[k][0], k
        assert abs(out_rows[k][1] - want[k][1]) < 1e-6, k


def test_psi_drift_monitor_matches_batch_twin(spark, stream_dir, tmp_path):
    """Streaming PSI (foreachBatch, availableNow) equals the same
    batch_psi expression evaluated directly over the whole file, and
    the per-batch output is written under its batch_id partition."""
    from cost_of_living_data_etl_spark.sources.tables import load_events
    from cost_of_living_data_etl_spark.streaming.monitor import (
        batch_psi,
        histogram_baseline,
        psi_drift_monitor,
    )

    events = load_events(spark, stream_dir)
    baseline = histogram_baseline(
        events.filter(F.col("event_type") == "view"), "value", 50.0, 20
    )
    out = str(tmp_path / "psi_out")
    q = psi_drift_monitor(
        read_events_stream(spark, stream_dir),
        baseline,
        out_dir=out,
        checkpoint=str(tmp_path / "ckpt"),
    ).trigger(availableNow=True).start()
    _await(q)

    got = spark.read.parquet(out).collect()
    assert len(got) == 1  # one availableNow batch -> one scored row
    want = batch_psi(events, baseline, "value", 50.0, 20).collect()[0]
    assert got[0]["n_rows"] == want["n_rows"] == events.count()
    assert got[0]["n_nulls"] == want["n_nulls"] == 0
    assert got[0]["psi"] == pytest.approx(want["psi"], rel=1e-9)

    # drift sensitivity: scoring against a deliberately shifted
    # baseline (same values scaled 3x before bucketing) must yield a
    # strictly larger psi than the matched "view"-slice baseline
    shifted = histogram_baseline(
        events.withColumn("value", F.col("value") * 3), "value", 50.0, 20
    )
    drifted = batch_psi(events, shifted, "value", 50.0, 20).collect()[0]
    assert drifted["psi"] > want["psi"]


def test_batch_psi_out_of_domain_values_register_not_vanish(spark):
    """Negative values clamp into bucket 0 (registering as drift) and
    NULLs surface in n_nulls — neither silently drops from n_rows."""
    from cost_of_living_data_etl_spark.streaming.monitor import (
        batch_psi,
        histogram_baseline,
    )

    ref = spark.createDataFrame([(float(v),) for v in range(0, 1000)], "value double")
    baseline = histogram_baseline(ref, "value", 50.0, 20)
    broken = spark.createDataFrame(
        [(-float(v),) for v in range(0, 1000)] + [(None,)] * 10,
        "value double",
    )
    row = batch_psi(broken, baseline, "value", 50.0, 20).collect()[0]
    assert row["n_rows"] == 1010          # nothing vanished
    assert row["n_nulls"] == 10           # nulls are their own signal
    healthy = batch_psi(ref, baseline, "value", 50.0, 20).collect()[0]
    assert healthy["psi"] == pytest.approx(0.0, abs=1e-12)
    assert row["psi"] > 1.0               # sign-flip screams, not whispers


def test_cusum_monitor_carries_state_across_batches(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1 over two landed files):
    the final CUSUM per event type must equal the single fold over the
    concatenated arrival order — proving S carries through the state
    store between batches, not just within one."""
    import shutil as _shutil

    from cost_of_living_data_etl_spark.streaming.events import (
        cusum_value_monitor,
        read_events_stream,
    )

    d = tmp_path / "cusum_stream"
    d.mkdir()
    _shutil.copy(f"{SF}/events.parquet", d / "events_0.parquet")
    _shutil.copy(f"{SF}/events.parquet", d / "events_1.parquet")

    target = 5.0
    stream = cusum_value_monitor(
        read_events_stream(spark, str(d), max_files_per_trigger=1), target
    )
    name = f"cusum_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        r["event_type"]: (r["n_events"], r["cusum"])
        for r in spark.table(name).collect()
    }

    # batch twin: fold each file's rows in (ts, event_id) order, file
    # after file — the arrival order the stream saw
    pdf = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_type", "ts", "event_id", "value")
        .toPandas()
    )
    want = {}
    for et, grp in pdf.groupby("event_type"):
        ordered = grp.sort_values(["ts", "event_id"])["value"].astype(float)
        s = 0.0
        for _pass in range(2):  # two identical files = two batches
            for v in ordered:
                s = max(0.0, s + (v - target))
        want[et] = (2 * len(ordered), s)

    assert set(got) == set(want)
    for et in want:
        assert got[et][0] == want[et][0]
        assert abs(got[et][1] - want[et][1]) < 1e-9


def test_transform_with_state_user_profile(spark, stream_dir):
    """transformWithStateInPandas exercising ValueState + ListState +
    MapState in ONE processor (and, underneath, the full breadth of
    the state-server protocol: map iterator/keys/getValue/updateValue,
    list get/put, value get/update). Final per-user profile must equal
    the same (ts, event_id)-ordered fold computed locally."""
    from cost_of_living_data_etl_spark.streaming.events import (
        RECENT_K,
        user_profile_typed_state,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = user_profile_typed_state(read_events_stream(spark, stream_dir))
        name = f"tws_profile_{uuid.uuid4().hex[:8]}"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        got = {
            r["user_id"]: (
                r["n_events"],
                r["n_types"],
                r["top_type"],
                r["top_type_count"],
                r["recent_mean"],
                r["total_value"],
            )
            for r in spark.table(name).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )

    pdf = (
        spark.read.parquet(stream_dir)
        .select("user_id", "ts", "event_id", "event_type", "value")
        .toPandas()
        .sort_values(["ts", "event_id"])
    )
    assert len(got) == pdf["user_id"].nunique()
    for uid, grp in pdf.groupby("user_id"):
        counts = grp["event_type"].value_counts().to_dict()
        top_type = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        vals = [float(v) for v in grp["value"]]
        recent = vals[-RECENT_K:]
        total = 0.0
        for v in vals:
            total += v
        want = (
            len(grp),
            len(counts),
            top_type[0],
            top_type[1],
            sum(recent) / len(recent),
            total,
        )
        g = got[uid]
        assert g[:4] == want[:4], (uid, g, want)
        assert abs(g[4] - want[4]) < 1e-9 and abs(g[5] - want[5]) < 1e-9, uid


def test_transform_with_state_initial_state_warm_start(spark, stream_dir):
    """TWS initialState: totals seeded from a batch snapshot must
    continue EXACTLY — streaming the same file over a snapshot built
    from it yields doubled counts and totals (state migration without
    replay or reset)."""
    from cost_of_living_data_etl_spark.streaming.events import (
        seeded_user_totals,
    )

    snapshot = (
        spark.read.parquet(stream_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total"),
        )
    )
    base = {
        r["user_id"]: (r["n_events"], r["total"])
        for r in snapshot.collect()
    }

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = seeded_user_totals(
            read_events_stream(spark, stream_dir), snapshot
        )
        name = f"tws_seeded_{uuid.uuid4().hex[:8]}"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        got = {
            r["user_id"]: (r["n_events"], r["total"])
            for r in spark.table(name).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )

    assert set(got) == set(base)
    for uid, (n0, t0) in base.items():
        assert got[uid][0] == 2 * n0, uid
        assert abs(got[uid][1] - 2 * t0) < 1e-6, uid


def test_transform_with_state_event_time_timers(spark, tmp_path):
    """Event-time TIMERS e2e: three files land across three query
    lifetimes (one checkpoint). Users who go quiet must get an
    inactivity row at EXACTLY last_seen + gap once the watermark
    passes it — timers fire off event time, so the expected rows are
    fully deterministic (no wall-clock in the assertion)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cost_of_living_data_etl_spark.streaming.events import (
        INACTIVITY_GAP_MS,
        user_inactivity_flags,
    )

    src = tmp_path / "timer_stream"
    src.mkdir()
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def write_batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(
                        [r[0] for r in rows], pa.int64()
                    ),
                    "ts": pa.array(
                        [r[1] for r in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array(
                        [r[2] for r in rows], pa.int64()
                    ),
                    "event_type": pa.array(
                        ["view"] * len(rows), pa.string()
                    ),
                    "value": pa.array(
                        [1.0] * len(rows), pa.float64()
                    ),
                    "props": pa.array(["{}"] * len(rows), pa.string()),
                }
            ),
            str(src / name),
        )

    out = str(tmp_path / "flags_out")
    ckpt = str(tmp_path / "ckpt")

    def run_lifetime():
        stream = user_inactivity_flags(read_events_stream(spark, str(src)))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        # batch 1: users 1, 2, 3 at 10:00
        write_batch("a.parquet", [(1, t0, 1), (2, t0, 2), (3, t0, 3)])
        run_lifetime()
        # batch 2: only user 1 returns at 11:00 -> watermark jumps past
        # 10:10, so users 2 and 3 (and the old user-1 timer, which the
        # processor DELETED on re-registration) are adjudicated
        t1 = t0 + datetime.timedelta(hours=1)
        write_batch("b.parquet", [(4, t1, 1)])
        run_lifetime()
        # batch 3: a far-future tick advances the watermark past user
        # 1's 11:10 timer
        t2 = t0 + datetime.timedelta(hours=3)
        write_batch("c.parquet", [(5, t2, 99)])
        run_lifetime()
        got = {
            (r["user_id"], r["inactive_at_ms"])
            for r in spark.read.parquet(out).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )

    ms0 = int(t0.timestamp() * 1000)
    ms1 = int((t0 + datetime.timedelta(hours=1)).timestamp() * 1000)
    # users 2/3 inactive at 10:00+gap; user 1 re-registered, inactive
    # at 11:00+gap; user 1's ORIGINAL 10:10 timer must NOT have fired
    # (deleteTimer) — exactly these three rows
    want = {
        (2, ms0 + INACTIVITY_GAP_MS),
        (3, ms0 + INACTIVITY_GAP_MS),
        (1, ms1 + INACTIVITY_GAP_MS),
    }
    assert got == want, (sorted(got), sorted(want))


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs the protobuf wire runtime "
    "(vendored shim engaged by conftest) — should never skip here.",
)
def test_tws_pit_enrichment_equals_batch_assembly(spark, tmp_path):
    """Train/serve skew, disproved by construction: streaming the
    fixture events+orders union through the typed-state PIT enricher
    (two in-order micro-batches) must yield EXACTLY the batch
    training-set features of q_pit_feature_assembly for every order —
    same strictly-before counts, same tie rule, same cold-start
    zeros/NULL recency."""
    from cost_of_living_data_etl_spark.plans.feature_prep import pit_feature_assembly
    from cost_of_living_data_etl_spark.sources.tables import load_table
    from cost_of_living_data_etl_spark.streaming.events import (
        PIT_UNION_SCHEMA,
        pit_enrich_stream,
    )

    sf = SF
    events = load_table(spark, sf, "events")
    orders = load_table(spark, sf, "orders")
    union = events.selectExpr(
        "user_id AS uid",
        "ts",
        "CAST(1 AS INT) AS kind",
        "CAST(NULL AS BIGINT) AS o_orderkey",
        "CAST(event_type = 'purchase' AS INT) AS is_purchase",
        "CAST(event_type = 'error' AS INT) AS is_error",
        "event_id AS row_id",
    ).unionByName(
        orders.selectExpr(
            "o_custkey AS uid",
            "o_orderdate AS ts",
            "CAST(0 AS INT) AS kind",
            "o_orderkey",
            "CAST(0 AS INT) AS is_purchase",
            "CAST(0 AS INT) AS is_error",
            "o_orderkey AS row_id",
        )
    )
    # two time-split files => two in-order micro-batches crossing state
    cut = union.selectExpr("percentile(CAST(ts AS DOUBLE), 0.5) p").collect()[
        0
    ]["p"]
    src = tmp_path / "pit_union"
    union.filter(F.col("ts").cast("double") <= cut).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    union.filter(F.col("ts").cast("double") > cut).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(PIT_UNION_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        name = f"tws_pit_{uuid.uuid4().hex[:8]}"
        q = (
            pit_enrich_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        got = {
            r["o_orderkey"]: (
                r["o_custkey"],
                r["n_events_before"],
                r["n_purchases_before"],
                r["n_errors_before"],
                r["micros_since_last_event"],
            )
            for r in spark.table(name).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    probes = orders.selectExpr(
        "o_custkey AS uid", "o_orderdate AS ts", "o_orderkey", "o_totalprice"
    )
    want = {
        r["o_orderkey"]: (
            r["o_custkey"],
            r["n_events_before"],
            r["n_purchases_before"],
            r["n_errors_before"],
            r["micros_since_last_event"],
        )
        for r in pit_feature_assembly(events, probes).collect()
    }
    assert len(got) == len(want)
    assert got == want


def test_dedup_at_ingest_equals_full_batch_mining(spark, tmp_path):
    """Streaming the fixture documents in three micro-batches through
    the dedup-at-ingest sink must mine EXACTLY the full-corpus near-dup
    pair set (each pair once, when its later side arrives), and a
    crash-replayed batch must leave both tables unchanged."""
    from cost_of_living_data_etl_spark.operators.dedup import (
        minhash_pair_plan,
    )
    from cost_of_living_data_etl_spark.streaming.dedup import (
        dedup_ingest_sink,
        ingest_dedup_batch,
        read_ingested_pairs,
    )

    sf = SF
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n = docs.count()
    src = tmp_path / "docs_stream"
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(f"{src}/b{i}")
    root = str(tmp_path / "dedup_root")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = (
        dedup_ingest_sink(stream, root, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)

    def pair_set(df):
        return {
            (r["doc_id_1"], r["doc_id_2"], round(r["jaccard"], 9))
            for r in df.collect()
        }

    got = pair_set(read_ingested_pairs(spark, root))
    want = pair_set(
        minhash_pair_plan(spark, sf).select("doc_id_1", "doc_id_2", "jaccard")
    )
    assert got == want and len(want) > 0
    # crash replay: re-run batch 1 (whatever docs it actually held,
    # reconstructed from its own signature partition) — idempotent
    b1_ids = spark.read.parquet(f"{root}/sigs/batch_id=1").select("doc_id")
    # materialize BEFORE the replay overwrites the path this lineage reads
    b1 = docs.join(b1_ids, "doc_id").localCheckpoint()
    ingest_dedup_batch(spark, b1, root, 1)
    assert pair_set(read_ingested_pairs(spark, root)) == want


def test_tws_journey_strings_equal_batch_and_patterns_match(spark, tmp_path):
    """Streaming the fixture events in two in-order micro-batches
    through the typed-state journey builder must reproduce EXACTLY the
    batch journey strings (latest emission per key = final string),
    and therefore the same MATCH_RECOGNIZE-lite pattern counts when
    the same RLIKE dimension runs on the streamed finals."""
    from cost_of_living_data_etl_spark.plans.sequence_patterns import (
        SESSION_PATTERNS,
        journey_strings,
        q_session_pattern_match,
    )
    from cost_of_living_data_etl_spark.sources.tables import load_table
    from cost_of_living_data_etl_spark.streaming.events import (
        journey_strings_stream,
    )

    sf = SF
    events = load_table(spark, sf, "events")
    cut = events.selectExpr(
        "percentile(CAST(ts AS DOUBLE), 0.5) p"
    ).collect()[0]["p"]
    src = tmp_path / "journey_events"
    events.filter(F.col("ts").cast("double") <= cut).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    events.filter(F.col("ts").cast("double") > cut).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        name = f"tws_journey_{uuid.uuid4().hex[:8]}"
        q = (
            journey_strings_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        # latest emission per journey = the longest string
        finals = {}
        for r in spark.table(name).collect():
            k = (r["user_id"], r["day"])
            if k not in finals or len(r["s"]) > len(finals[k]):
                finals[k] = r["s"]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    want = {
        (r["user_id"], r["day"]): r["s"]
        for r in journey_strings(spark, sf).collect()
    }
    assert finals == want

    # same pattern dimension over the streamed finals == the batch query
    finals_df = spark.createDataFrame(
        [(s,) for s in finals.values()], "s string"
    )
    got_counts = {}
    for pname, rx in SESSION_PATTERNS:
        got_counts[pname] = finals_df.filter(
            F.expr(f"s RLIKE '{rx}'")
        ).count()
    want_counts = {
        r["pattern_name"]: r["n_matched"]
        for r in q_session_pattern_match(spark, sf).collect()
    }
    assert got_counts == want_counts


def test_dedup_at_ingest_capped_is_superset_of_oneshot_capped(spark, tmp_path):
    """Intended max_bucket semantics at the door (ADVICE r05): the cap
    is re-evaluated on the CUMULATIVE signature set each batch, so a
    pair emitted while its bucket was still under the cap stays emitted
    even after later arrivals push the bucket over. Pins: streaming
    capped output ⊇ one-shot capped output, ⊆ one-shot UNCAPPED output,
    and (on a fixture engineered to cross the cap mid-stream) strictly
    between the two."""
    from cost_of_living_data_etl_spark.operators.dedup import (
        minhash_signatures,
        neardup_pairs_from_sigs,
    )
    from cost_of_living_data_etl_spark.streaming.dedup import (
        ingest_dedup_batch,
        read_ingested_pairs,
    )

    # 12 near-identical docs (one shared boilerplate template) → they
    # band-hash into the same buckets; cap of 6 passes batch 1's 5 docs
    # but fails the cumulative 12 in batch 2's re-evaluation.
    rows = [
        (i, "common boilerplate header text shared by every page variant %d" % (i % 2))
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 6
    root = str(tmp_path / "capped_root")
    ingest_dedup_batch(spark, docs.filter("doc_id < 5"), root, 0, max_bucket=cap)
    ingest_dedup_batch(spark, docs.filter("doc_id >= 5"), root, 1, max_bucket=cap)

    def pair_set(df):
        return {(r["doc_id_1"], r["doc_id_2"]) for r in df.collect()}

    streamed = pair_set(read_ingested_pairs(spark, root))
    sigs = minhash_signatures(docs)
    oneshot_capped = pair_set(neardup_pairs_from_sigs(sigs, max_bucket=cap))
    oneshot_uncapped = pair_set(neardup_pairs_from_sigs(sigs, max_bucket=None))
    assert oneshot_capped <= streamed <= oneshot_uncapped
    # fixture is engineered so both inclusions are strict: batch-0's
    # internal pairs were mined under the cap and survive, while the
    # cumulative bucket blocks batch-1's new pairs
    assert streamed - oneshot_capped, "batch-0 pairs should survive the cap"
    assert oneshot_uncapped - streamed, "cumulative cap should block batch-1 pairs"


def _stream_tws_over_two_batches(spark, tmp_path, op, subdir):
    """Split the fixture events at the median ts into two IN-ORDER
    micro-batches, run a TWS operator over them against RocksDB state,
    and return every emission. Time-ordered batches matter: chaining
    per-batch (ts, event_id) folds equals one global fold only when
    batch boundaries respect the global order — the same contract the
    production stream (a time-ordered log) provides."""
    from cost_of_living_data_etl_spark.sources.tables import load_table

    sf = SF
    events = load_table(spark, sf, "events")
    cut = events.selectExpr(
        "percentile(CAST(ts AS DOUBLE), 0.5) p"
    ).collect()[0]["p"]
    src = tmp_path / subdir
    events.filter(F.col("ts").cast("double") <= cut).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    events.filter(F.col("ts").cast("double") > cut).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        name = f"tws_twin_{uuid.uuid4().hex[:8]}"
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        return spark.table(name).collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_tws_ewma_final_state_equals_batch_twin(spark, tmp_path):
    """The catalog's q_tws_ewma_user_twin (driver-hash-verified vs
    DuckDB) must equal the FINAL streamed TWS state — this chains the
    typed-state operator into the oracle gate (round-5 verdict item 5)."""
    from cost_of_living_data_etl_spark.plans.events_queries import q_tws_ewma_user_twin
    from cost_of_living_data_etl_spark.streaming.events import ewma_user_value

    rows = _stream_tws_over_two_batches(spark, tmp_path, ewma_user_value, "ewma")
    finals = {}
    for r in rows:  # latest emission per user = max n_events (monotone)
        if r["user_id"] not in finals or r["n_events"] > finals[r["user_id"]][0]:
            finals[r["user_id"]] = (r["n_events"], r["ewma_value"])
    want = {
        r["user_id"]: (r["n_events"], r["ewma_value"])
        for r in q_tws_ewma_user_twin(spark, SF).collect()
    }
    assert set(finals) == set(want) and len(want) > 0
    for uid in want:
        assert finals[uid][0] == want[uid][0], uid
        assert abs(finals[uid][1] - want[uid][1]) < 1e-12, uid


def test_tws_profile_final_state_equals_batch_twin(spark, tmp_path):
    """q_tws_user_profile_twin must equal the final streamed profile
    across all three TWS state kinds (Value+List+Map)."""
    from cost_of_living_data_etl_spark.plans.events_queries import (
        q_tws_user_profile_twin,
    )
    from cost_of_living_data_etl_spark.streaming.events import (
        user_profile_typed_state,
    )

    rows = _stream_tws_over_two_batches(
        spark, tmp_path, user_profile_typed_state, "profile"
    )
    finals = {}
    for r in rows:
        if r["user_id"] not in finals or r["n_events"] > finals[r["user_id"]]["n_events"]:
            finals[r["user_id"]] = r.asDict()
    want = {
        r["user_id"]: r.asDict()
        for r in q_tws_user_profile_twin(
            spark, SF
        ).collect()
    }
    assert set(finals) == set(want) and len(want) > 0
    for uid, w in want.items():
        g = finals[uid]
        assert g["n_events"] == w["n_events"], uid
        assert g["n_types"] == w["n_types"], uid
        assert g["top_type"] == w["top_type"], uid
        assert g["top_type_count"] == w["top_type_count"], uid
        assert abs(g["total_value"] - w["total_value"]) < 1e-9, uid
        assert abs(g["recent_mean"] - w["recent_mean"]) < 1e-9, uid


def test_watermark_dedup_stream_equals_twin(spark, tmp_path):
    """Streamed dropDuplicatesWithinWatermark over the duplicate-ingest
    scenario == the q_watermark_dedup_twin batch rule, on the
    ts-independent projection (within one micro-batch the streaming
    operator keeps an arbitrary copy; the copies' payloads are
    identical, so ids / per-type counts / value totals are the
    deterministic contract — the twin's docstring spells this out)."""
    from cost_of_living_data_etl_spark.plans.events_queries import DUP_DELAY_MIN

    d = tmp_path / "dup_ingest"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "a.parquet")
    # the late duplicate: same ids, ts shifted inside the watermark
    spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts") + F.expr(f"INTERVAL {DUP_DELAY_MIN} MINUTES")
    ).write.parquet(str(d / "b.parquet"))

    stream = dedup_within_watermark(read_events_stream(spark, str(d)))
    name = f"wmtwin_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)

    got = {
        (r["event_type"], r["n_unique"], round(r["value_total"], 6))
        for r in (
            spark.table(name)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_unique"),
                F.sum("value").alias("value_total"),
            )
            .collect()
        )
    }
    twin = {
        (r["event_type"], r["n_unique"], round(r["value_total"], 6))
        for r in catalog()["q_watermark_dedup_twin"].fn(spark, SF).collect()
    }
    assert got == twin
    assert len(twin) > 0
    # and the streamed kept ids are exactly the twin's id universe
    n_ids = spark.table(name).select("event_id").distinct().count()
    assert spark.table(name).count() == n_ids  # one row per id survived

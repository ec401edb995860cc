"""applyInPandasWithState: running totals across micro-batches must
equal the batch aggregate, and state must survive across batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_cdc_spark.plans.registry import table
from lakehouse_cdc_spark.streaming.sources import file_cdc_source
from lakehouse_cdc_spark.streaming.stateful import running_totals


def test_running_totals_across_batches(spark, sf_dir, tmp_path):
    e = table(spark, sf_dir, "events").select("user_id", "value", "ts", "event_id")
    # two chronological chunks → two micro-batches
    src = str(tmp_path / "src")
    e.orderBy("ts").limit(500).coalesce(1).write.parquet(src + "/a")
    e.orderBy(F.desc("ts")).limit(500).coalesce(1).write.parquet(src + "/b")
    import os

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    i = 0
    for sub in ["a", "b"]:
        for f_ in sorted(os.listdir(f"{src}/{sub}")):
            if f_.endswith(".parquet"):
                os.link(f"{src}/{sub}/{f_}", f"{flat}/{i:03d}.parquet")
                i += 1

    stream = file_cdc_source(spark, flat, e.schema, max_files_per_trigger=1)
    out = running_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"

    # last emitted row per user = final running state
    emitted = spark.sql("SELECT * FROM running_out").collect()
    final: dict = {}
    for r in emitted:  # memory sink appends in batch order
        final[r.user_id] = (r.n_events, r.total_value)

    expected = {
        r.user_id: (r.n, r.s)
        for r in (
            table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        )
    }
    assert set(final) == set(expected)
    for u in expected:
        assert final[u][0] == expected[u][0]
        assert abs(final[u][1] - expected[u][1]) < 1e-6
    # state accumulated across batches: users seen in both chunks must
    # have been emitted more than once
    multi = [r.user_id for r in emitted]
    assert len(multi) > len(set(multi))


def test_seen_dedup_emits_each_id_once(spark, sf_dir, tmp_path):
    """Duplicate event_ids across micro-batches are emitted exactly
    once; first_seen_batch records the batch where each id appeared."""
    import os

    from lakehouse_cdc_spark.streaming.stateful import seen_dedup

    e = table(spark, sf_dir, "events").select("user_id", "value", "ts", "event_id")
    first = e.orderBy("ts").limit(300)
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    # batch 0: 300 events.  batch 1: the SAME 300 events (redelivery)
    # plus 100 genuinely new ones.
    first.coalesce(1).write.parquet(str(tmp_path / "b0"))
    redelivered = first.unionByName(
        e.orderBy(F.desc("ts")).limit(100)
    )
    redelivered.coalesce(1).write.parquet(str(tmp_path / "b1"))
    i = 0
    for sub in ["b0", "b1"]:
        for f_ in sorted(os.listdir(str(tmp_path / sub))):
            if f_.endswith(".parquet"):
                os.link(str(tmp_path / sub / f_), f"{flat}/{i:03d}.parquet")
                i += 1

    stream = file_cdc_source(spark, flat, e.schema, max_files_per_trigger=1)
    q = (
        seen_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    # TTL timers keep an availableNow query alive with no-data batches
    # until they fire (1 h here), so processAllAvailable() would never
    # return.  Poll the sink for the expected row count, then stop.
    import time

    deadline = time.monotonic() + 300
    while time.monotonic() < deadline:
        if spark.sql("SELECT count(*) AS c FROM dedup_out").first().c >= 400:
            break
        time.sleep(0.5)
    else:
        q.stop()
        raise AssertionError("sink never reached 400 rows in 300s")
    # data batches are 0 and 1; a handful of empty timer batches may
    # commit between our poll and the stop, but not thousands.
    assert (q.lastProgress or {}).get("batchId", 0) < 50
    q.stop()
    assert q.awaitTermination(60), "stream did not stop"
    emitted = spark.sql("SELECT * FROM dedup_out").collect()
    ids = [r.event_id for r in emitted]
    assert len(ids) == len(set(ids)), "an event_id was emitted twice"
    assert len(ids) == 400  # 300 originals + 100 new, redeliveries gone
    # redelivered ids kept their batch-0 stamp
    batch_of = {r.event_id: r.first_seen_batch for r in emitted}
    first_ids = {r.event_id for r in first.collect()}
    assert all(batch_of[i_] == 0 for i_ in first_ids)


def test_session_totals_closes_sessions_on_watermark(spark, tmp_path):
    """Event-time sessionization e2e: crafted per-user gaps must close
    exactly the expected sessions once a far-future flush event drives
    the watermark past their timers; the flush user's own session
    stays open (append mode emits closed sessions only)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from lakehouse_cdc_spark.streaming.stateful import (
        _SESSION_GAP_US,
        session_totals,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(user, minute, eid, value):
        return (eid, t0 + dt.timedelta(minutes=minute), user, "click", value)

    # user 1: two sessions (gap 45 min > 30); user 2: one session
    rows = [
        ev(1, 0, 1, 1.0),
        ev(1, 10, 2, 2.0),
        ev(1, 55, 3, 4.0),   # 45-min gap -> new session
        ev(1, 60, 4, 8.0),
        ev(2, 5, 5, 16.0),
        ev(2, 20, 6, 32.0),
        # flush: far future, separate user -> advances the watermark
        ev(999, 60 * 24, 7, 0.0),
    ]
    src = str(tmp_path / "sess_src")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(schema).parquet(src).withWatermark("ts", "1 minute")
    )
    out = session_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cks"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.value_cents)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }

    def us(minute):
        return int((t0 + dt.timedelta(minutes=minute)).timestamp() * 1_000_000)

    expected = {
        (1, us(0), us(10), 2, 300),    # 1.0 + 2.0
        (1, us(55), us(60), 2, 1200),  # 4.0 + 8.0
        (2, us(5), us(20), 2, 4800),   # 16.0 + 32.0
    }
    assert got == expected  # flush user's open session correctly absent

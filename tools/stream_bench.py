"""Streaming-ingest throughput benchmark.

Replays the events table as a chronological micro-batched change log
through the FULL CDC path — file source → op classification →
last-write-wins compaction → bucketed snapshot-sink upsert under a
checkpoint — and prints ONE JSON line with end-to-end rows/sec and
per-phase timings.  This is the streaming complement to bench.py
(which the driver runs); it exists so the sink's ingest posture is a
measured number, not a claim.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/stream_bench.py

Environment: ``SPARK_GRAFT_SF_DIR`` (default sf0.1),
``SPARK_GRAFT_CPUS`` (default 32), ``STREAM_BENCH_BATCHES`` (default
8 micro-batches).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from lakehouse_cdc_spark.operators.dedup import latest_per_key
from lakehouse_cdc_spark.plans.registry import table
from lakehouse_cdc_spark.session import get_spark
from lakehouse_cdc_spark.streaming import (
    SnapshotUpsertSink,
    cdc_pipeline,
    file_cdc_source,
)


def op_col():
    return (
        F.when(F.col("event_type") == "error", F.lit("d"))
        .when(F.col("event_type") == "signup", F.lit("c"))
        .otherwise(F.lit("u"))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_batches = int(os.environ.get("STREAM_BENCH_BATCHES", "8"))
    spark = get_spark(f"stream_bench_local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        src = os.path.join(work, "changes")
        t0 = time.time()
        e = (
            table(spark, sf_dir, "events")
            .withColumn("operation", op_col())
            .withColumn(
                "bucket",
                F.ntile(n_batches).over(Window.orderBy("ts", "event_id")),
            )
        )
        e.withColumn("b", F.col("bucket")).drop("bucket").repartition(
            1
        ).write.partitionBy("b").mode("overwrite").parquet(src)
        # flatten chronological chunk files for the file source
        flat = os.path.join(work, "flat")
        os.makedirs(flat)
        i = 0
        # sort partition dirs NUMERICALLY by their b= value: the
        # lexicographic order replays b=10 before b=2, breaking the
        # chronological premise once n_batches >= 10
        def _bkey(path):
            base = os.path.basename(path.rstrip(os.sep))
            return (
                int(base.split("=", 1)[1])
                if base.startswith("b=") and base.split("=", 1)[1].isdigit()
                else -1
            )

        # compound key: non-partition dirs all map to _bkey == -1, so a
        # bare _bkey sort would leave their relative order to os.walk's
        # arbitrary scandir order — the path tiebreak keeps a
        # deterministic total order for any layout
        for root, _, files in sorted(
            os.walk(src), key=lambda t: (_bkey(t[0]), t[0])
        ):
            for f_ in sorted(files):
                if f_.endswith(".parquet"):
                    os.link(
                        os.path.join(root, f_), os.path.join(flat, f"{i:04d}.parquet")
                    )
                    i += 1
        n_rows = table(spark, sf_dir, "events").count()
        prep_s = time.time() - t0

        schema = (
            table(spark, sf_dir, "events").withColumn("operation", op_col()).schema
        )

        # warm the streaming machinery BEFORE timing (the batch bench
        # warms identically): the first streaming query in a session
        # pays ~2-3 s of one-time codegen/classloading that would
        # otherwise be billed to the COW phase and NOT to the MOR
        # phase that happens to run second — measured 14.5k -> 23.5k
        # rows/s on the identical pipeline, warm vs cold
        warm_dir = os.path.join(work, "warm")
        os.makedirs(warm_dir)
        os.link(
            os.path.join(flat, "0000.parquet"),
            os.path.join(warm_dir, "0000.parquet"),
        )
        for mode in (False, True):
            wsink = SnapshotUpsertSink(
                os.path.join(work, f"warm_target_{mode}"),
                keys=["user_id"],
                order_by=["ts", "event_id"],
                merge_on_read=mode,
            )
            wq = cdc_pipeline(
                file_cdc_source(spark, warm_dir, schema, max_files_per_trigger=1),
                wsink,
                os.path.join(work, f"warm_ckpt_{mode}"),
            )
            if not wq.awaitTermination(600):
                wq.stop()
                raise RuntimeError("warm-up stream did not drain in 600s")
            if mode:
                wsink.fold_deltas(spark)  # warm the fold path too

        stream = file_cdc_source(spark, flat, schema, max_files_per_trigger=1)
        sink = SnapshotUpsertSink(
            os.path.join(work, "target"),
            keys=["user_id"],
            order_by=["ts", "event_id"],
        )
        # record the sink's own per-phase timings per batch (set by
        # process_batch) — locates fixed per-micro-batch overhead
        timings: list[dict] = []
        _orig_process = sink.process_batch

        def _recording(df, bid):
            _orig_process(df, bid)
            timings.append(dict(sink.last_batch_timings, batch=bid))

        sink.process_batch = _recording
        t1 = time.time()
        q = cdc_pipeline(stream, sink, os.path.join(work, "ckpt"))
        finished = q.awaitTermination(1800)
        ingest_s = time.time() - t1
        if not finished:
            q.stop()
            raise RuntimeError("stream did not drain in 1800s")

        # verify: sink state must equal batch last-write-wins compaction
        expected = (
            latest_per_key(
                table(spark, sf_dir, "events").withColumn("operation", op_col()),
                ["user_id"],
                ["ts", "event_id"],
            )
            .filter(F.col("operation") != "d")
            .select("user_id", "event_id")
        )

        def _verify(s, label):
            got = s.current_table(spark).select("user_id", "event_id")
            diff = (
                got.exceptAll(expected).count()
                + expected.exceptAll(got).count()
            )
            if diff:
                raise RuntimeError(
                    f"{label} sink diverges from batch by {diff} rows"
                )

        _verify(sink, "cow")

        # -- merge-on-read replay: same change log, delta-append commits
        # (fold every 4 batches — fold cost is INSIDE the measured
        # window, so the number includes the amortized merge)
        mor_sink = SnapshotUpsertSink(
            os.path.join(work, "target_mor"),
            keys=["user_id"],
            order_by=["ts", "event_id"],
            merge_on_read=True,
            fold_deltas_every=4,
        )
        t2 = time.time()
        q2 = cdc_pipeline(
            file_cdc_source(spark, flat, schema, max_files_per_trigger=1),
            mor_sink,
            os.path.join(work, "ckpt_mor"),
        )
        if not q2.awaitTermination(1800):
            q2.stop()
            raise RuntimeError("MOR stream did not drain in 1800s")
        mor_sink.fold_deltas(spark)  # leave the table read-optimized
        mor_s = time.time() - t2
        _verify(mor_sink, "mor")

        print(
            json.dumps(
                {
                    "metric": "stream_ingest_rows_per_sec",
                    "value": round(n_rows / ingest_s, 1),
                    "unit": "rows/sec",
                    "rows": n_rows,
                    "micro_batches": n_batches,
                    "ingest_sec": round(ingest_s, 3),
                    "prep_sec": round(prep_s, 3),
                    "phase_totals_sec": {
                        k: round(sum(t[k] for t in timings), 3)
                        for k in ("probe_s", "write_s", "commit_s")
                    },
                    # the merge's exchange width per batch: one task
                    # per touched bucket, capped at the slot count
                    "write_tasks": [t["write_tasks"] for t in timings],
                    # bucket count after each commit (grows by doubling
                    # once a bucket outgrows one read split)
                    "n_buckets": [t["n_buckets"] for t in timings],
                    "engine_overhead_sec": round(
                        ingest_s
                        - sum(
                            t["probe_s"] + t["write_s"] + t["commit_s"]
                            for t in timings
                        ),
                        3,
                    ),
                    "mor_rows_per_sec": round(n_rows / mor_s, 1),
                    "mor_ingest_sec": round(mor_s, 3),
                    "verified": True,
                    "sf_dir": sf_dir,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

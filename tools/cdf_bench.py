"""Change-data-feed cost check: the feed must read O(changed data),
not O(table).  Ingests the events table as micro-batches into a COW
sink, then times (a) `changes_between` over the last commit vs (b)
the naive full-state diff (`state_at(N) exceptAll state_at(N-1)`)
that a consumer without a feed would run.  Prints ONE JSON line.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/cdf_bench.py
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

from lakehouse_cdc_spark.plans.registry import table
from lakehouse_cdc_spark.session import get_spark
from lakehouse_cdc_spark.streaming import SnapshotUpsertSink


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_batches = int(os.environ.get("CDF_BENCH_BATCHES", "8"))
    spark = get_spark("cdf_bench")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="cdf_bench_")
    try:
        e = (
            table(spark, sf_dir, "events")
            .withColumn(
                "operation",
                F.when(F.col("event_type") == "error", F.lit("d"))
                .when(F.col("event_type") == "signup", F.lit("c"))
                .otherwise(F.lit("u")),
            )
            .withColumn(
                "b", F.ntile(n_batches).over(Window.orderBy("ts", "event_id"))
            )
            .persist()
        )
        sink = SnapshotUpsertSink(
            os.path.join(work, "t"), keys=["user_id"], order_by=["ts", "event_id"]
        )
        for i in range(1, n_batches + 1):
            sink.process_batch(e.filter(F.col("b") == i).drop("b"), i - 1)
        e.unpersist()
        last = sink.committed_snapshot()

        # warm both paths once (parquet footers, codegen)
        sink.changes_between(spark, last - 1, last).count()
        sink.state_at(spark, last).limit(1).count()

        t0 = time.perf_counter()
        feed_rows = sink.changes_between(spark, last - 1, last).count()
        feed_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        new, old = sink.state_at(spark, last), sink.state_at(spark, last - 1)
        naive_rows = new.exceptAll(old).count()
        naive_s = time.perf_counter() - t0

        print(
            json.dumps(
                {
                    "metric": "cdf_single_commit_feed_sec",
                    "value": round(feed_s, 4),
                    "unit": "sec",
                    "feed_rows": feed_rows,
                    "naive_full_diff_sec": round(naive_s, 4),
                    "naive_rows": naive_rows,
                    "speedup": round(naive_s / max(feed_s, 1e-9), 2),
                    "micro_batches": n_batches,
                    "sf_dir": sf_dir,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Headline-query benchmark.

Runs the bench-tagged registry queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lakehouse_cdc_spark.plans import REGISTRY  # noqa: E402
from lakehouse_cdc_spark.session import get_spark  # noqa: E402


#: the exact query set BENCH_r02.json measured — replayed in an
#: ISOLATED fresh JVM before the full set each run, so cross-round
#: per-query comparisons are free of session-accretion effects
#: (round 3 saw a uniform ~1.2-1.45x drift on untouched queries as the
#: in-session query count grew 27 -> 41; this pins whether that drift
#: is real plan regression or harness interleaving)
_R2_SET = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "join_inner_orders_nation", "window_rank_orders_per_customer",
    "checksum_stats_lineitem", "q6_forecast_revenue", "q10_returned_items",
    "flagship_cdc_compaction", "cdc_apply_changes", "emb_cosine_topk",
    "dedup_ngram_jaccard", "emb_neardup_bucketed", "emb_topk_batch",
    "llm_curation_pipeline", "window_session_islands", "join_skewed_aqe",
    "join_skewed_salted", "q8_market_share", "q18_large_orders",
    "join_asof_prior_view", "join_range_bucketed", "graph_pagerank_purchases",
    "emb_srp_signatures", "ts_anomaly_zscore", "er_blocked_fuzzy_match",
    "text_bpe_pair_merge",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    subset = os.environ.get("SPARK_GRAFT_BENCH_SUBSET")
    isolated = None  # parsed phase-A result, merged into the final line
    if subset is None and os.environ.get("SPARK_GRAFT_BENCH_NO_AB") != "1":
        # phase A: replay the r2 set in its own JVM (same warm +
        # best-of-2 protocol, nothing else run in the session), then
        # fall through to the full set.  Only the isolated TOTAL rides
        # the final driver-parsed line (which must stay under the
        # ~2000-char stdout-tail capture); the per-query isolated
        # numbers land in BENCH_DETAIL.json.
        import subprocess

        env = dict(os.environ, SPARK_GRAFT_BENCH_SUBSET="r2")
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env,
                capture_output=True,
                text=True,
                timeout=1800,  # a wedged child JVM must not hang the bench
            )
            rc, out, err = proc.returncode, proc.stdout, proc.stderr
        except subprocess.TimeoutExpired as e:
            rc = -1
            out = (e.stdout or b"").decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
            err = "isolated phase timed out after 1800s"
        for line in out.splitlines():
            if line.startswith("{"):
                try:
                    isolated = json.loads(line)
                except ValueError:
                    pass
        if rc != 0 or isolated is None:
            # never let the isolated phase vanish silently: surface the
            # child's failure so a missing r2 line reads as "failed",
            # not "not run" (the full-set phase still proceeds).  A
            # non-zero rc with a parsed line means the child died AFTER
            # printing — its numbers may be partial, so tag them rather
            # than merging indistinguishably from a clean run.
            if isolated is not None:
                isolated["failed"] = True
            sys.stderr.write(
                f"bench: isolated r2 phase failed "
                f"(rc={rc}); stderr tail:\n"
                + "\n".join(err.splitlines()[-15:])
                + "\n"
            )

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    bench_specs = {n: s for n, s in REGISTRY.items() if s.bench}
    metric = "headline_queries_total_time"
    if subset == "r2":
        bench_specs = {n: REGISTRY[n] for n in _R2_SET}
        metric = "r2_set_isolated_session_time"

    # JVM/page-cache warm-up BEFORE the per-query warm pass: the
    # isolated child's first Spark jobs otherwise pay whole-stage
    # codegen compilation, JIT tiering, and cold parquet page cache —
    # round 7's driver run recorded r2_iso 35.6 s vs 19.3 s for
    # identical code, with the slowdown spread uniformly (a cold-start
    # signature, not a plan change).  A shuffle + a scan of the
    # biggest table fault both paths in, untimed.
    from pyspark.sql import functions as F

    spark.range(0, 1_000_000, 1, 8).groupBy(F.col("id") % 32).count().collect()
    try:
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    except Exception:
        pass  # warm-up is best-effort; missing table must not kill bench

    # declared setup phase (round 13): some queries read per-process
    # artifacts by design (stored LSH band index, IVF fit, blocking
    # stats) — build them HERE, timed and REPORTED (setup_sec), so the
    # artifact cost is explicit instead of hidden in the untimed warm
    # pass — in the isolated r2 child as well as the full set.  A fresh
    # process always rebuilds from parquet; nothing persists across
    # bench invocations.
    from lakehouse_cdc_spark.plans.artifacts import prepare_artifacts

    setup_detail = prepare_artifacts(spark, sf_dir)
    setup_sec = round(sum(setup_detail.values()), 4)

    # warm the JVM + parquet footers once so timings measure the
    # queries, not session startup
    for spec in bench_specs.values():
        spec.fn(spark, sf_dir).collect()

    # three timed passes per query: the headline number stays BEST-of
    # (comparable with the round-1..9 best-of-2 series — min converges
    # to the same noise floor), and the MEDIAN rides alongside it in
    # the detail/history artifacts.  Identical code measured 42.6-53.2s
    # across round-9 runs (1.25x co-tenant scatter) — larger than any
    # real regression that round — so single-sample per-query deltas
    # were unreadable; the median is the robust per-round statistic.
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name, spec in bench_specs.items():
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).collect()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[0], 4)
        medians[name] = round(samples[1], 4)
    # NOTE: no clearCache between queries — rounds 1-2 were measured
    # under the same protocol, so per-round comparisons stay apples to
    # apples (tools/check_oracle.py DOES clear between its 235 queries,
    # where memory hygiene matters and timing doesn't)

    total = round(sum(timings.values()), 4)
    total_median = round(sum(medians.values()), 4)
    out = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        # 2-decimal per-query values on the PRINTED line: the driver
        # captures only the last ~2000 chars of stdout, and round 5's
        # merged line (full precision + the isolated per-query dict)
        # outgrew that — the artifact recorded `parsed: null`.  Full
        # 4-decimal detail goes to BENCH_DETAIL.json instead.
        "queries": {n: round(v, 2) for n, v in timings.items()},
        "sf": sf,
    }
    if subset is None:
        # scaling transparency (round-13 verdict item): the effective
        # master/parallelism prove the $SPARK_GRAFT_CPUS contract is
        # honored, and setup_sec declares the artifact-build phase
        out["master"] = spark.sparkContext.master
        out["parallelism"] = spark.sparkContext.defaultParallelism
        out["cpus_env"] = os.environ.get("SPARK_GRAFT_CPUS")
        out["setup_sec"] = round(setup_sec, 2)
    detail = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "queries": timings,
        # the noise-robust companion numbers (median of the 3 timed
        # passes, per query and total) — the driver-parsed line keeps
        # only best-of totals for series continuity
        "bench_median": {"value": total_median, "queries": medians},
        "sf": sf,
        "setup_sec": setup_sec,
        "setup": setup_detail,
    }
    if subset is None:
        detail["master"] = spark.sparkContext.master
        detail["parallelism"] = spark.sparkContext.defaultParallelism
        detail["cpus_env"] = os.environ.get("SPARK_GRAFT_CPUS")
    if isolated is not None:
        # the driver-parsed line carries the isolated TOTAL (and a
        # failed tag if the child died); per-query isolated numbers
        # live only in the detail artifact
        out["r2_iso"] = isolated.get("value")
        detail["r2_set_isolated_session_time"] = isolated.get("value")
        detail["r2_set_isolated_queries"] = isolated.get("queries")
        detail["r2_set_isolated_setup_sec"] = isolated.get("setup_sec")
        if isolated.get("failed"):
            out["r2_iso_failed"] = True
            detail["r2_set_isolated_failed"] = True
    if subset is not None:
        # child phase: stdout goes to the PARENT, not the driver — print
        # full precision and skip the tail-budget compaction
        print(json.dumps(detail))
        return
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # detail artifact is best-effort; the line must print
    try:
        # append-only noise series: BENCH_DETAIL.json is overwritten
        # each run, so cross-round per-query iso comparisons had no
        # history to separate plan regressions from co-tenant noise
        # (VERDICT r7: the 35.6 s r2_iso swing).  One line per run.
        with open(os.path.join(here, "BENCH_HISTORY.jsonl"), "a") as f:
            f.write(json.dumps({"ts": int(time.time()), **detail},
                               separators=(",", ":")) + "\n")
    except OSError:
        pass
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        # hard budget: the driver's tail capture is ~2000 chars — drop
        # the slowest-last per-query entries until the line fits (the
        # detail artifact keeps everything)
        q = sorted(timings.items(), key=lambda kv: -kv[1])
        while len(line) > 1900 and q:
            q.pop()
            out["queries"] = {n: round(v, 2) for n, v in q}
            out["queries_truncated"] = True
            line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()

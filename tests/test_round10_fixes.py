"""Round-10 review-fix regressions (non-sink items): the
conversion-window sweep's window axis must be independent of the
converter set, and the WAP demo cache must replace a stale entry."""

from __future__ import annotations

import datetime

import duckdb

from lakehouse_cdc_spark.plans import REGISTRY


def test_conversion_window_sweep_on_conversion_free_data(spark, tmp_path):
    """Signups but ZERO purchases: the sweep must still report every
    candidate window (5 rows, n_converted=0) — matching the oracle's
    wins CROSS JOIN tot row set — instead of returning 0 rows from an
    explode over an empty delay table."""
    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1, i % 24),
            i % 3,
            "signup",
            1.0,
            "{}",
        )
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    path = str(tmp_path / "events.parquet")
    df.write.parquet(path)

    spec = REGISTRY["events_conversion_window_sweep"]
    got = sorted(
        (r.w_hours, r.n_signed_up, r.n_converted, r.conversion_ppm)
        for r in spec.fn(spark, str(tmp_path)).collect()
    )
    assert [g[0] for g in got] == [1, 6, 24, 72, 168]
    assert all(g[1] == 3 and g[2] == 0 and g[3] == 0 for g in got)

    # oracle parity on the same conversion-free table
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{path}/*.parquet'"
    )
    oracle = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert oracle == got


def test_wap_demo_cache_replaces_stale_entry(spark):
    """The fixture memo must assign explicitly: a cached sink that
    fails the health check is REPLACED by the rebuilt one (setdefault
    would keep returning the broken object)."""
    from lakehouse_cdc_spark.plans import cdf_queries

    sf_dir = "/root/testdata/sf0.001"
    key = ("_wap_demo_sink", sf_dir)
    fresh = cdf_queries._wap_demo_sink(spark, sf_dir)
    assert cdf_queries._FIXTURES[key] is fresh

    class Broken:
        def committed_snapshot(self):
            return None  # fails the ==1 health check

    cdf_queries._FIXTURES[key] = Broken()
    rebuilt = cdf_queries._wap_demo_sink(spark, sf_dir)
    assert not isinstance(rebuilt, Broken)
    assert cdf_queries._FIXTURES[key] is rebuilt
    assert rebuilt.committed_snapshot() == 1

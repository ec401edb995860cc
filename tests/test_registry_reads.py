"""Table reads through ``plans.registry``: the schema memo of
``read_parquet`` (one inference job per file version, none per repeat
read) and the queries that must answer empty tables like DuckDB."""

from __future__ import annotations

import os
import shutil
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from lakehouse_cdc_spark.plans import REGISTRY
from lakehouse_cdc_spark.plans.registry import read_parquet, table
from lakehouse_cdc_spark.session import TABLES


def _jobs_run_by(spark, fn):
    """``(jobs, result)``: the Spark jobs ``fn()`` launches, counted
    under its own job group in the status store, and what it returned."""
    sc = spark.sparkContext
    group = f"test_registry_reads_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs run by one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_repeat_read_of_a_table_runs_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), tmp_path)
    d = str(tmp_path)
    first, df1 = _jobs_run_by(spark, lambda: table(spark, d, "nation"))
    second, df2 = _jobs_run_by(spark, lambda: table(spark, d, "nation"))
    assert (first, second) == (1, 0)
    assert df2.schema == df1.schema
    assert df2.count() == df1.count() > 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert _jobs_run_by(spark, lambda: read_parquet(spark, path))[0] == 1
    assert read_parquet(spark, path).columns == ["a"]

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    jobs, df = _jobs_run_by(spark, lambda: read_parquet(spark, path))
    assert jobs == 1
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    jobs, df = _jobs_run_by(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_rewritten_directory_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(3).write.parquet(path)
    read_parquet(spark, path)
    assert _jobs_run_by(spark, lambda: read_parquet(spark, path))[0] == 0

    spark.range(3).selectExpr("id", "id * 2 AS twice").write.mode(
        "overwrite"
    ).parquet(path)
    jobs, df = _jobs_run_by(spark, lambda: read_parquet(spark, path))
    assert jobs == 1
    assert df.columns == ["id", "twice"]


def test_parquet_setting_change_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    assert read_parquet(spark, path).dtypes == [("b", "binary")]
    assert _jobs_run_by(spark, lambda: read_parquet(spark, path))[0] == 0
    spark.conf.set(conf, "true")
    try:
        jobs, df = _jobs_run_by(spark, lambda: read_parquet(spark, path))
        assert jobs == 1
        assert df.dtypes == [("b", "string")]
        jobs, df = _jobs_run_by(spark, lambda: read_parquet(spark, path))
        assert jobs == 0
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.unset(conf)
    assert read_parquet(spark, path).dtypes == [("b", "binary")]


def test_missing_path_raises_as_spark_does(spark, tmp_path):
    path = str(tmp_path / "gone.parquet")
    pq.write_table(pa.table({"a": [1]}), path)
    read_parquet(spark, path)  # memoised, then removed
    os.remove(path)
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as memo:
        read_parquet(spark, path)
    assert memo.value.getCondition() == plain.value.getCondition()
    assert plain.value.getCondition() == "PATH_NOT_FOUND"
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        table(spark, str(tmp_path), "missing")


def test_events_ts_stays_timestamp_on_repeat_reads(spark, sf_dir):
    first = table(spark, sf_dir, "events")
    jobs, again = _jobs_run_by(spark, lambda: table(spark, sf_dir, "events"))
    assert jobs == 0
    assert dict(first.dtypes)["ts"] == dict(again.dtypes)["ts"] == "timestamp"
    assert first.agg({"ts": "max"}).collect() == again.agg(
        {"ts": "max"}
    ).collect()


#: queries that read a table or a sink that is empty on empty input:
#: the product-quantization pair (no query vector) and every query
#: maintained from a demo sink's change feed
EMPTY_INPUT_QUERIES = [
    "emb_pq_adc_topk",
    "emb_pq_rerank",
    "cdf_incremental_view_maintenance",
    "cdf_incremental_moments",
    "cdf_incremental_index",
    "cdf_incremental_ann_index",
    "cdf_incremental_lsh_index",
    "cdf_incremental_text_index",
    "cdf_incremental_dedup_groups",
]


@pytest.fixture(scope="module")
def empty_sf_dir(sf_dir, tmp_path_factory):
    """A zero-row copy of ``sf_dir``: every table, same schema."""
    out = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = pq.read_schema(os.path.join(sf_dir, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), str(out / f"{t}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", EMPTY_INPUT_QUERIES)
def test_query_on_empty_tables_matches_oracle(spark, empty_sf_dir, name):
    spec = REGISTRY[name]
    got = spec.fn(spark, empty_sf_dir).collect()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{empty_sf_dir}/{t}.parquet'"
        )
    assert sorted(map(tuple, got)) == sorted(con.execute(spec.oracle).fetchall())

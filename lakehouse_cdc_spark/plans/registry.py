"""Query registry plumbing.

A query = a Spark DataFrame program ``fn(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) an ANSI-SQL oracle string DuckDB runs on
the same parquet tables.  Column names are aliased identically on both
sides — the driver's comparator sorts columns by name before hashing.

Determinism contract for oracle-checked queries:
- double aggregates go through ``DECIMAL(18,4)`` partials (exact
  arithmetic, identical rounding in both engines) and are emitted as
  DOUBLE — bit-identical across engines;
- timestamps are emitted as formatted strings or epoch integers, never
  raw timestamp values (time-zone-representation differences);
- every ranking has a total order (explicit tie-breaker columns).
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    tags: tuple[str, ...] = (),
):
    """Decorator: add ``fn(spark, sf_dir) -> DataFrame`` to REGISTRY.
    A name already registered raises: a second definition would
    silently replace the first."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            doc=(fn.__doc__ or "").strip(),
            bench=bench,
            tags=tags,
        )
        return fn

    return deco


#: one inferred schema per parquet path: ``path -> (key, StructType)``,
#: the entry replaced whenever the key changes (see ``read_parquet``)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_version(path: str) -> tuple | None:
    """The identity of the file(s) at ``path``: ``(size, mtime_ns)`` of
    a file, or ``(relpath, size, mtime_ns)`` of every entry under a
    directory; ``None`` when ``path`` does not exist."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns)
    entries = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            s = os.stat(p)
            entries.append((os.path.relpath(p, path), s.st_size, s.st_mtime_ns))
    return tuple(entries)


#: the session settings that change Parquet type inference
_INFERENCE_CONFS = (
    "spark.sql.parquet.",
    "spark.sql.legacy.parquet.",
    "spark.sql.caseSensitive",
)


def _inference_confs(spark: SparkSession) -> tuple[tuple[str, str], ...]:
    """The ``_INFERENCE_CONFS`` settings of the session, read from one
    snapshot of its settings: the key names come back in one string,
    and only the matching values are fetched (``RuntimeConfig.getAll``
    would cost two Py4J round trips per setting)."""
    confs = spark._jsparkSession.conf().getAllAsJava()
    names = confs.keySet().toString()[1:-1].split(", ")
    return tuple(
        sorted((k, confs.get(k)) for k in names if k.startswith(_INFERENCE_CONFS))
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file
    version.  Inference reads the footers in a Spark job of its own
    (``SchemaMergeUtils.mergeSchemasInParallel``); later reads of the
    same version pass the inferred ``StructType`` to
    ``spark.read.schema(...)`` and run none.  ``_SCHEMAS`` keeps one
    entry per path, replaced when its key (``_file_version``,
    ``_inference_confs``) changes.  A missing path reads through
    unmemoised, so it raises Spark's usual error."""
    # stat before inferring: a file rewritten in between pairs the OLD
    # version with the new schema, a key no later read matches, never
    # a current version with a stale schema
    version = _file_version(path)
    if version is None:
        return spark.read.parquet(path)
    key = (version, _inference_confs(spark))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata parquet table (column pruning + predicate
    pushdown reach the scan because this stays a plain v1 parquet
    relation — verify with ``.explain``'s PushedFilters/ReadSchema).

    The read goes through ``read_parquet``: the first read of a table
    file infers its schema (one footer-reading Spark job), and every
    later read of the same file version under the same Parquet
    settings reuses that ``StructType`` and runs no job.  Only the
    schema is memoised, keyed by path, the file's size and
    ``mtime_ns`` (of every entry, for a directory) and the session's
    ``spark.sql.parquet.*`` / ``spark.sql.legacy.parquet.*`` /
    ``spark.sql.caseSensitive`` settings; no data is cached.

    ``events.parquet`` stores TIMESTAMP(NANOS), which Spark's reader
    rejects outright; we read nanos as long and rebuild the timestamp
    at microsecond precision — the same ns→µs truncation DuckDB
    applies, so oracle comparisons line up exactly.

    ``nanosAsLong`` is a DELIBERATE session-wide default of this
    engine (also set in ``session.get_spark``): the conf is consulted
    lazily at scan execution, so a set-read-restore scope here would
    race with deferred actions on the returned DataFrame.  The runtime
    ``conf.set`` below makes the contract hold even on foreign
    sessions (e.g. the driver's vanilla harness session).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path)
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif dt == "timestamp_ntz":
            # newer Spark readers surface TIMESTAMP(NANOS) as NTZ
            # (µs-truncated) instead of rejecting it; normalize to the
            # session-TZ (UTC) timestamp every query expects so casts
            # to long / unix_micros keep working
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, path)


def fixed_point(col: Column, scale: int = 4) -> Column:
    """Quantize a double expression to 10^-scale units as BIGINT.

    ``floor(x * 10^scale + 0.5)`` uses only IEEE-754 double ops —
    bit-identical in Spark and DuckDB.  (Casting double→decimal is NOT
    portable: Spark rounds the shortest string representation,
    DuckDB the true binary value, and they disagree a few times per
    100k rows.)
    """
    return F.floor(col * F.lit(float(10**scale)) + F.lit(0.5)).cast("bigint")


def dsum(col: Column, alias: str, scale: int = 4) -> Column:
    """Cross-engine-deterministic SUM of a double expression: exact
    order-independent bigint sum of fixed-point units, rescaled."""
    return (
        F.sum(fixed_point(col, scale)).cast("double") / F.lit(float(10**scale))
    ).alias(alias)


def davg(col: Column, alias: str, scale: int = 4) -> Column:
    """Deterministic AVG: fixed-point sum / count, divided as doubles."""
    return (
        F.sum(fixed_point(col, scale)).cast("double")
        / F.lit(float(10**scale))
        / F.count(F.lit(1)).cast("double")
    ).alias(alias)


# the matching oracle-side SQL fragments (DuckDB)
def sql_fixed_point(expr: str, scale: int = 4) -> str:
    return f"CAST(floor(({expr}) * {float(10 ** scale)} + 0.5) AS BIGINT)"


def sql_dsum(expr: str, alias: str, scale: int = 4) -> str:
    return (
        f"CAST(SUM({sql_fixed_point(expr, scale)}) AS DOUBLE)"
        f" / {float(10 ** scale)} AS {alias}"
    )


def sql_davg(expr: str, alias: str, scale: int = 4) -> str:
    return (
        f"CAST(SUM({sql_fixed_point(expr, scale)}) AS DOUBLE)"
        f" / {float(10 ** scale)} / CAST(COUNT(*) AS DOUBLE) AS {alias}"
    )

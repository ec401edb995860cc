"""Local replica of the driver's correctness gate — STRICT mode.

Runs every registry query on Spark and its oracle on DuckDB at the
given sf dir, then compares row count, sorted column names, and an
order-insensitive multiset of canonicalized rows.

Round-5 hardening: the round-4 driver hash-failed three queries the
old fetchall()-only gate passed — DuckDB HUGEINT results (list_sum /
SUM over BIGINT) come back as exact Python ints via fetchall() but
surface as decimal128(38, 0) => decimal.Decimal via the Arrow path
the driver uses, which a repr-based value-hash treats as unequal to
Spark's plain int.  (Arrow — NOT pandas: nullable BIGINT columns
stay int64 under Arrow, and driver-green queries like
join_asof_prior_view emit NULLs in int columns, so the pandas
float64-decay model would be falsely stricter than the driver.)
The gate now fetches every oracle BOTH ways (fetchall + Arrow) and
requires BOTH multisets to equal Spark's, so any repr drift between
fetch paths is a local failure — the local instrument is at least
as strict as the driver's value-hash.  Usage:

    python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math
import os
import sys
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_cdc_spark.plans import REGISTRY  # noqa: E402
from lakehouse_cdc_spark.session import TABLES, get_spark  # noqa: E402

try:  # pandas/numpy are baked in, but keep the classic path importable
    import numpy as _np
except Exception:  # noqa: BLE001
    _np = None


def canon(v):
    """Canonicalize a cell for cross-engine comparison.

    Deliberately does NOT collapse int-valued floats to ints ("7.0"
    vs "7" is exactly the HUGEINT drift the strict mode must surface)
    NOR midnight timestamps to dates (Arrow keeps date32 as a date,
    so DATE-vs-midnight-TIMESTAMP is real cross-engine type drift).
    """
    if v is None:
        return "␀"
    if _np is not None:
        if isinstance(v, _np.ndarray):
            v = v.tolist()
        elif isinstance(v, _np.bool_):
            v = bool(v)
        elif isinstance(v, _np.integer):
            v = int(v)
        elif isinstance(v, _np.floating):
            v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # EXACT repr: the driver's value-hash may be bit-exact, so the
        # local gate must be at least as strict — any query that needs
        # rounding to pass is order-dependent and will flake
        return repr(v)
    if isinstance(v, _decimal.Decimal):
        # type-tagged ON PURPOSE: DuckDB HUGEINT/DECIMAL arrives as
        # Decimal via Arrow and the driver's hash treats Decimal('7')
        # as unequal to Spark's int 7 (the round-4 failure mode) — an
        # oracle must CAST to BIGINT/DOUBLE to be comparable
        return f"dec:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, _dt.datetime):
        # NO midnight-to-date collapse: Arrow keeps date32 as
        # datetime.date, so a DATE-vs-midnight-TIMESTAMP drift between
        # engines is REAL type drift the driver's hash would flag —
        # collapsing here would mask exactly the class of divergence
        # this strict gate exists to surface
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def _arrow_rows(atable):
    """Rows (tuples of plain Python values) from a pyarrow Table —
    the driver-shaped fetch where HUGEINT surfaces as Decimal."""
    cols = atable.column_names
    return [tuple(d[c] for c in cols) for d in atable.to_pylist()], cols


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_noracle = 0
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            # Round-6 fence (the dtype axis of the round-5 driver err):
            # the driver canonicalizes via pandas sort_values + hash,
            # which throws `unhashable type` on list/dict cells — so an
            # oracle-backed query may not output Array/Map/Struct
            # columns at all.  Fail here exactly like the driver would.
            complex_cols = [
                f.name
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if spec.oracle is not None and complex_cols:
                print(
                    f"FAIL  {name}: complex-typed output columns "
                    f"{complex_cols} — the driver's pandas canonicalizer "
                    "cannot hash list/dict cells; serialize to strings"
                )
                n_fail += 1
                continue
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # queries that persist() plan intermediates cannot
            # unpersist them (the cache backs the returned lazy plan);
            # dropping here keeps a 250-query run's memory flat
            spark.catalog.clearCache()
        if spec.oracle is None:
            print(f"----  {name}: rows-only ({len(srows)} rows)")
            n_noracle += 1
            continue
        try:
            ores = con.execute(spec.oracle)
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
            # second fetch via Arrow — the driver-shaped path where
            # HUGEINT/DECIMAL surface as decimal.Decimal
            prows, pcols = _arrow_rows(con.execute(spec.oracle).arrow())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue

        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sm = rows_to_multiset(srows, scols)
            om = rows_to_multiset(orows, ocols)
            pm = rows_to_multiset(prows, pcols)
            if sm != om:
                diff_s = list((sm - om).items())[:3]
                diff_o = list((om - sm).items())[:3]
                problems.append(f"values spark-only={diff_s} oracle-only={diff_o}")
            if sm != pm:
                diff_s = list((sm - pm).items())[:2]
                diff_p = list((pm - sm).items())[:2]
                problems.append(
                    f"ARROW-FETCH drift spark-only={diff_s} pandas-only={diff_p}"
                )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(srows)} rows)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

"""Pre-screen registry queries' OUTPUT dtypes for driver-canonicalizer
risk before rotating them into the showcase head.

The driver compares Spark vs DuckDB via Arrow fetch + a pandas
sort_values/value-hash canonicalizer.  Two rounds of red rows came
from dtype axes the local fetchall()-gate didn't model (r4: HUGEINT →
Decimal; r5: array<bigint> cells unhashable).  Those two are now
fenced in check_oracle.py; this screen sweeps the REMAINING plausible
axes over any query list, so never-driver-sampled entries get audited
BEFORE they enter the sampled head:

- float cells that are NaN / ±inf / -0.0, or whose repr needs >15
  significant digits (bit-exactness across engines not guaranteed)
- integer cells with |v| >= 2**53 (pandas float64 decay would corrupt)
- boolean columns containing NULLs (object-dtype in pandas)
- decimal.Decimal cells on either surface (HUGEINT axis resurfacing)
- timestamp columns (tz-awareness drift between Arrow producers)
- string cells containing control chars or chars plausibly used as a
  row-join delimiter by a hasher ("\\x00", "\\n", "\\r", "\\t")
- Spark-vs-oracle dtype class mismatch per column (e.g. int64 vs
  double for the "same" aliased column)

Usage:
    python tools/dtype_screen.py [sf_dir] [query ...]   # default: all
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_cdc_spark.plans import REGISTRY  # noqa: E402
from lakehouse_cdc_spark.session import TABLES, get_spark  # noqa: E402

_CTRL = {"\x00", "\n", "\r", "\t"}


def _cell_flags(v) -> set[str]:
    flags: set[str] = set()
    if v is None:
        return flags
    if isinstance(v, bool):
        return flags
    if isinstance(v, float):
        if math.isnan(v):
            flags.add("float:nan")
        elif math.isinf(v):
            flags.add("float:inf")
        elif v == 0.0 and math.copysign(1.0, v) < 0:
            flags.add("float:neg-zero")
        elif len(repr(abs(v))) > 17:  # repr beyond 15-16 sig digits
            flags.add("float:long-repr")
    elif isinstance(v, int):
        if abs(v) >= 2**53:
            flags.add("int:gt-2^53")
    elif isinstance(v, _decimal.Decimal):
        flags.add("decimal")
    elif isinstance(v, str):
        if any(c in _CTRL for c in v):
            flags.add("str:ctrl-char")
    elif isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            flags.add("ts:tz-aware")
    elif isinstance(v, (list, tuple, dict)):
        flags.add("complex-cell")
    return flags


def _dtype_class(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, _decimal.Decimal):
        return "decimal"
    if isinstance(v, _dt.datetime):
        return "timestamp"
    if isinstance(v, _dt.date):
        return "date"
    if isinstance(v, str):
        return "str"
    return type(v).__name__


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("dtype-screen")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_clean = n_flagged = 0
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        if spec.oracle is None:
            continue  # rows-only entries are not on the hash surface
        try:
            sdf = spec.fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
            atab = con.execute(spec.oracle).arrow()
            orows = atab.to_pylist()
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            n_flagged += 1
            continue
        finally:
            spark.catalog.clearCache()

        col_flags: dict[str, set[str]] = {c: set() for c in scols}
        s_class: dict[str, set[str]] = {c: set() for c in scols}
        for r in srows:
            d = r.asDict()
            for c in scols:
                col_flags[c] |= _cell_flags(d[c])
                s_class[c].add(_dtype_class(d[c]))
        o_class: dict[str, set[str]] = {c: set() for c in scols}
        for d in orows:
            for c in scols:
                if c in d:
                    o_class[c].add(_dtype_class(d[c]))
                    col_flags[c] |= {
                        f"oracle:{x}" for x in _cell_flags(d[c])
                    }
        for c in scols:
            sc = s_class[c] - {"null"}
            oc = o_class[c] - {"null"}
            if sc and oc and sc != oc:
                col_flags[c].add(f"class-drift:{sorted(sc)}vs{sorted(oc)}")
            if sc == {"bool"} and "null" in s_class[c]:
                col_flags[c].add("bool:with-nulls")
            if "timestamp" in sc:
                col_flags[c].add("timestamp-col")

        flagged = {c: f for c, f in col_flags.items() if f}
        if flagged:
            n_flagged += 1
            parts = "; ".join(
                f"{c}={sorted(f)}" for c, f in sorted(flagged.items())
            )
            print(f"FLAG  {name}: {parts}")
        else:
            n_clean += 1
            print(f"ok    {name}")

    print(f"\n{n_clean} clean, {n_flagged} flagged")


if __name__ == "__main__":
    main()

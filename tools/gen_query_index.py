"""Regenerate QUERIES.md — the one-line-per-query index of the
declared registry (name, family tags, oracle status, bench flag,
first docstring sentence).  Run after adding queries:

    python tools/gen_query_index.py
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lakehouse_cdc_spark.plans import REGISTRY  # noqa: E402


def first_sentence(doc: str) -> str:
    text = " ".join(doc.split())
    m = re.search(r"(.+?[.!?])(\s|$)", text)
    s = m.group(1) if m else text[:160]
    return s if len(s) <= 220 else s[:217] + "..."


def main() -> None:
    lines = [
        "# QUERIES — declared registry index",
        "",
        f"{len(REGISTRY)} queries; every row `oracle` is hash-compared against",
        "DuckDB at sf0.01 by the driver (`RO` = rows-only by design —",
        "approximate sketches / data-dependent iteration counts).",
        "`bench` rows are the sf0.1 headline set.  Regenerate with",
        "`python tools/gen_query_index.py`.",
        "",
        "| query | check | bench | what it does |",
        "|---|---|---|---|",
    ]
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        check = "oracle" if spec.oracle else "RO"
        bench = "yes" if spec.bench else ""
        lines.append(
            f"| `{name}` | {check} | {bench} | {first_sentence(spec.doc)} |"
        )
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(REGISTRY)} entries)")


if __name__ == "__main__":
    main()

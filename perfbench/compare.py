"""Compare two benchmark reports written with ``run.py --out``.

    python3 perfbench/compare.py old.json new.json

Prints each metric's old value, new value and new/old ratio. Refuses (exit
code 2) when the two provenance headers differ in anything but the code
under test: core count, scale factor, seed, run length, query list, tail
percentile, pyspark/Java version or benchmark code. Comparing a traced run
(``--trace 1``) with an untraced one of the same seed gives the tracing
overhead on the end-to-end metrics.
"""

from __future__ import annotations

import json
import os
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    reports = []
    for path in argv:
        with open(path) as fh:
            reports.append(json.load(fh))
    try:
        rows = stats.compare(*reports)
    except stats.HeaderMismatch as ex:
        print(f"compare: {ex}", file=sys.stderr)
        return 2
    if reports[0]["header"].get("trace") != reports[1]["header"].get("trace"):
        print("traced against untraced: the ratios are the tracing overhead")
    for name, r in sorted(rows.items()):
        print(f"{name:24s} {r['a']:14.4f} {r['b']:14.4f} {r['ratio']:8.3f}  {r['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Layout-invariance sweep: rewrite the base SF with every table's rows
deterministically scrambled (ordered by a row-content hash) and split
across several parquet files, then run every registered query on BOTH
layouts through Spark and require bit-identical normalized results.

Why it exists (round 9): on a real cluster file order, row order and
split count vary with ingest history and executor count. A query whose
OUTPUT depends on them (a LIMIT resolving ties by scan order, a
collect_list without sort_array, a float aggregation whose partial-merge
order leaks into the hash) is nondeterministic at scale even if it is
stable on the single-row-group testdata. The three-SF and variant-data
sweeps re-roll VALUES; this one re-rolls PHYSICAL ORDER.

    python tools/layoutcheck.py                 # materialize + sweep
    python tools/layoutcheck.py --materialize   # only write the layout
    python tools/layoutcheck.py x_topk q1_singles_by_artist
    SPARK_GRAFT_LAYOUT_BASE=/root/testdata/sf0.001 python tools/layoutcheck.py

Exit 0 iff every non-exempt query produces identical normalized output
on both layouts (exempt queries — whose OUTPUT is a measurement of the
physical layout itself — must merely execute).
"""

from __future__ import annotations

import os
import sys

import sweep

BASE = os.environ.get("SPARK_GRAFT_LAYOUT_BASE", "/root/testdata/sf0.01")
SPLITS = int(os.environ.get("SPARK_GRAFT_LAYOUT_SPLITS", "7"))

# Queries whose OUTPUT measures the physical layout are declared AT
# REGISTRATION (QuerySpec.layout_exempt carries the why), never here, so
# tool code cannot exempt a query; tests pin the exempt set.


def exempt_queries() -> dict[str, str]:
    todo = sweep.select(keep=lambda s: s.layout_exempt is not None)
    return {n: s.layout_exempt for n, s in todo.items()}


def main() -> int:
    spark = sweep.session("layoutcheck")
    out = sweep.derived("layout", BASE, f"s{SPLITS}")
    sweep.materialize(spark, BASE, out, lambda df, t: sweep.scramble(df, SPLITS))
    if "--materialize" in sys.argv[1:]:
        return 0
    todo = sweep.select([a for a in sys.argv[1:] if not a.startswith("--")])
    step = sweep.layout_check(spark, BASE, out, exempt_queries())
    return sweep.check(spark, todo, step, "error", "layout-invariant")


if __name__ == "__main__":
    raise SystemExit(main())

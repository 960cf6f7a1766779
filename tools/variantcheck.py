"""Adversarial-data differential sweep: materialize a VARIANT dataset —
K shifted/salted replicas of a base SF, preserving schemas but changing
every value distribution the oracles sum over — then run the full
Spark-vs-DuckDB diffcheck on it, in the same process.

Why it exists (round 8): hash-equality on fixed testdata can be a
deterministic ulp or tie-order lottery that lands the same way every run
on the SAME data. Variant data re-rolls it and stresses the dedup/span
paths with true near-dup replicas; the first run found two real bugs
(q12-family decimal conversion, x_span_mask's tie-ordered gap merge).

    python tools/variantcheck.py                 # materialize + sweep
    python tools/variantcheck.py --materialize   # only write .tmp/variant
    SPARK_GRAFT_VARIANT_BASE=/root/testdata/sf0.001 python tools/variantcheck.py

The data is sweep.replicate's: documents get the salted near-dup
treatment (worst case for candidate generation); fact/entity keys shift
per replica so copies are disjoint; bounded dims (region, nation) stay
identical.
"""

from __future__ import annotations

import os
import sys

import diffcheck
import sweep

BASE = os.environ.get("SPARK_GRAFT_VARIANT_BASE", "/root/testdata/sf0.01")
K = int(os.environ.get("SPARK_GRAFT_VARIANT_K", "2"))


def main() -> int:
    spark = sweep.session("variantcheck")
    out = sweep.derived("variant", BASE, f"k{K}")
    sweep.materialize(spark, BASE, out, lambda df, t: sweep.replicate(df, t, K), single_file=True)
    if "--materialize" in sys.argv[1:]:
        return 0
    return diffcheck.diff(out, [a for a in sys.argv[1:] if not a.startswith("--")])


if __name__ == "__main__":
    raise SystemExit(main())

"""Local mirror of the driver's differential check: run every registered
query on Spark AND its DuckDB oracle on the same parquet, compare
row-count + schema(column names) + order-insensitive values. Usage:

    python tools/diffcheck.py [sf_dir] [query ...]

Exit code 0 iff every checked query matches (rows-only queries must
merely execute). With SPARK_GRAFT_VANILLA set the sweep runs in a
driver-style session (no tuned conf); pair it with a cwd outside the
repo to also exercise the addPyFile worker-import path."""

from __future__ import annotations

import os
import sys

from sweep import audit_oracle_types, check, duck_con, normalize, oracle_check, select, session  # noqa: F401


def diff(sf_dir: str, names: list[str]) -> int:
    spark = session("diffcheck", vanilla=bool(os.environ.get("SPARK_GRAFT_VANILLA")))
    return check(spark, select(names), oracle_check(spark, sf_dir), "spark error", "pass")


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    return diff(sf_dir, names)


if __name__ == "__main__":
    raise SystemExit(main())

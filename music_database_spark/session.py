"""SparkSession factory with scale-aware defaults.

Conventions (SURVEY.md §4.4): AQE on (runtime re-plan, skew-join,
partition coalescing), Arrow on (vectorized Python<->JVM transfer),
UTC session time zone (oracle comparisons must not depend on host TZ).
get_spark fixes spark.sql.shuffle.partitions at 32 (or the caller's
shuffle_partitions) whatever the core count or data size, rather than
the 200 default; AQE coalesces each shuffle's output down from there by
measured size. Persisted frames get the same coalescing: cached plans
may change their output partitioning (RUNTIME_CONF), so a small cached
intermediate is not pinned at 32 partitions. tune_for_session applies
the same runtime confs to a session created elsewhere, and leaves its
shuffle-partition count alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# InferFiltersFromGenerate clones a generate's INPUT EXPRESSION into an
# inferred `size(e) > 0 AND isnotnull(e)` predicate below the Generate.
# For an explode over a COMPUTED array (shingle sets, winnowed
# fingerprints, chunk lists — this engine's bread and butter) that
# re-evaluates the whole array pipeline per row, interpreted (HOFs never
# codegen inside a Predicate), and filter pushdown then drags it below
# any repartition — so the most expensive expression in the query runs
# a second time, single-task, in the scan stage. Measured on
# x_winnow_candidates at 2x sf0.1: 199 s with the rule, 3.7 s without,
# identical results (round-9 variantcheck find; PLANS.md "Round-9
# inferred-filter audit"). The rule's upside (pruning empty arrays
# before the Generate) is nil here: size()/isnotnull() never reach
# parquet pushdown, and Generate itself drops empty arrays. Excluding
# an optimizer rule never changes query semantics, only plans.
EXCLUDED_OPTIMIZER_RULES: tuple[str, ...] = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
)


def _excluded_rules_conf(existing: str | None = None) -> str:
    """The comma-joined value for spark.sql.optimizer.excludedRules,
    merged with any exclusions already configured on the session so
    applying our conventions never silently drops a caller's own rule
    exclusions (order-preserving union; the conf is a comma list)."""
    merged = [r.strip() for r in (existing or "").split(",") if r.strip()]
    merged += [r for r in EXCLUDED_OPTIMIZER_RULES if r not in merged]
    return ",".join(merged)


# Runtime SQL confs applied by both get_spark (at build) and
# tune_for_session (on a live session created elsewhere).
#
# canChangeCachedPlanOutputPartitioning: by default Spark plans a
# persisted frame with AQE's final-stage shuffle optimizations off, so a
# cached frame keeps all spark.sql.shuffle.partitions partitions however
# small it is, and every consumer of it runs that many tasks. With the
# conf on, AQE coalesces the cached frame's last stage by its measured
# size, like any other query's (minhash_near_dups' ~100 KB shingle and
# band frames: 32 partitions -> 1). Results are unchanged; only the
# partition count of the cached data is.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(
    app_name: str = "music-database-spark",
    cpus: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.optimizer.excludedRules", _excluded_rules_conf())
    )
    for k, v in {**RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_session(spark: SparkSession) -> list[str]:
    """Apply RUNTIME_CONF and the optimizer-rule exclusions to an
    externally-created session (__spark_entry__.entry receives its
    caller's SparkSession). Returns the names of the confs the session
    refused, so a caller can report them; [] when every conf applied."""
    try:
        existing = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    except Exception:
        existing = None
    failed = []
    for k, v in {
        **RUNTIME_CONF,
        "spark.sql.optimizer.excludedRules": _excluded_rules_conf(existing),
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            failed.append(k)
    return failed

"""One sweep runner behind bench.py and the check tools: a session, a
selection of registered queries, and one loop that runs a step per
query, captures that query's error and releases the session's caches
before the next one (``run``; ``check`` adds the pass/fail count).

* dataset transforms: ``replicate`` (K shifted, salted copies) and
  ``scramble`` (content-hash row order), written to a content-tagged
  ``.tmp`` directory (``derived``) by ``materialize``;
* recorders: ``oracle_check`` (Spark vs the DuckDB oracle),
  ``layout_check`` (one query on two layouts), ``timed`` (noop-sink wall
  times) and ``counted`` (jobs, stages, tasks).

Importing this module starts no session.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from music_database_spark.sources.loader import DRIVER_TABLES, load_table, source_content_tag  # noqa: E402

# --- session, selection, loop ------------------------------------------------


def session(app: str, vanilla: bool = False, **conf):
    """The engine's tuned session, or with ``vanilla`` a driver-style one:
    no tuned conf (no forced UTC, no Arrow flag, default shuffle
    partitions), which catches a query that silently depends on
    get_spark's settings before the driver does."""
    if not vanilla:
        from music_database_spark.session import get_spark

        return get_spark(app, **conf)
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:  # getOrCreate would hand back the tuned session
        active.stop()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    return SparkSession.builder.master(f"local[{cpus}]").appName(f"{app}-vanilla").getOrCreate()


def select(names=(), keep=None, sort: bool = True) -> dict:
    """{name: QuerySpec}: the named queries in the given order, else every
    registered query passing ``keep`` (by name, or in registry order)."""
    from music_database_spark.registry import load_all

    reg = load_all()
    if names:
        return {n: reg[n] for n in names}
    items = sorted(reg.items()) if sort else reg.items()
    return {n: s for n, s in items if keep is None or keep(s)}


def release(spark) -> None:
    """Drop every cached frame: persists left across hundreds of queries
    pile up into storage-memory pressure that inflates later ones, and
    the rank family's Python-side frame refs accumulate on the driver."""
    from music_database_spark.operators.ranking import release_rank_caches

    spark.catalog.clearCache()
    release_rank_caches()


def run(spark, todo: dict, step):
    """Yield (name, step(name, spec), None) per query, or (name, None,
    exception) when the step raised; caches are released after each."""
    for name, spec in todo.items():
        try:
            result, error = step(name, spec), None
        except Exception as e:
            result, error = None, e
        release(spark)
        yield name, result, error


def why(e: BaseException, n: int = 300) -> str:
    return f"{type(e).__name__}: {str(e)[:n]}"


def check(spark, todo: dict, step, error: str, verdict: str | None = None) -> int:
    """A pass/fail loop over ``run``: ``step`` prints its own lines and
    returns True on a pass; a raised error is that query's FAIL. Prints
    the "passed/total <verdict>" summary; exit code 0 iff all passed."""
    failed = 0
    for name, ok, err in run(spark, todo, step):
        if err is not None:
            print(f"FAIL  {name}: {error}: {why(err)}")
        failed += not ok
    if verdict:
        print(f"\n{len(todo) - failed}/{len(todo)} {verdict}")
    return 1 if failed else 0


# --- dataset transforms ------------------------------------------------------

# Key columns shifted per replica so copies are disjoint and joins keep
# their per-key fan-out; bounded dimensions (region, nation) stay one
# copy. Documents get the salted near-dup treatment instead.
SHIFT: dict[str, tuple[str, ...]] = {
    "region": (), "nation": (), "customer": ("c_custkey",), "supplier": ("s_suppkey",),
    "part": ("p_partkey",), "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_suppkey", "l_partkey"),
    "events": ("event_id", "user_id"), "embeddings": ("vec_id",),
}


def replicate(df, table: str, k: int):
    """K shifted copies of one table. Keys shift by (max + 1) per replica;
    documents shift doc_id by the row count and replica r > 0 gets a
    salt token appended, so copies are near-dups (high Jaccard), not
    exact dups -- the worst realistic case for candidate generation."""
    from pyspark.sql import functions as F

    if k == 1 or (table != "documents" and not SHIFT[table]):
        return df
    if table == "documents":
        n = df.count()
        rest = [c for c in df.columns if c not in ("doc_id", "text")]

        def copy(r):
            return df.select(
                (F.col("doc_id") + r * n).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" replica{r}")).alias("text"),
                *rest,
            ).select(df.columns)

    else:
        cols = SHIFT[table]
        maxes = df.agg(*[(F.max(c) + 1).alias(c) for c in cols]).collect()[0]

        def copy(r):
            return df.select(
                *[(F.col(c) + r * maxes[c]).alias(c) if c in cols else F.col(c) for c in df.columns]
            )

    out = df
    for r in range(1, k):
        out = out.unionByName(copy(r))
    return out


def scramble(df, splits: int):
    """Deterministic adversarial layout: rows ordered by a content hash
    (reproducible without a random seed), range-split into ``splits``
    partitions so scans arrive multi-partition in scrambled order."""
    from pyspark.sql import functions as F

    key = F.md5(F.to_json(F.struct(*[F.col(c) for c in df.columns])))
    lk = df.withColumn("_lk", key).repartitionByRange(splits, "_lk")
    return lk.sortWithinPartitions("_lk").drop("_lk")


def derived(kind: str, base: str, suffix: str, tables=None) -> str:
    """.tmp/<kind>_<base name>_<content tag>_<suffix>: keyed by the base
    data's content (loader.source_content_tag), so a regenerated base gets
    a fresh directory; superseded siblings are swept."""
    stem = os.path.join(REPO, ".tmp", f"{kind}_{os.path.basename(os.path.normpath(base))}_")
    out = f"{stem}{source_content_tag(base, tables)}_{suffix}"
    for d in glob.glob(f"{stem}*_{suffix}"):
        if d != out:
            shutil.rmtree(d, ignore_errors=True)
            print(f"# swept superseded {kind} dir {d}", file=sys.stderr)
    return out


def materialize(spark, base, out, transform, tables=DRIVER_TABLES, single_file=False, force=True):
    """Write transform(frame, table) of each base table to
    out/<table>.parquet, as one file per table with ``single_file``
    (DuckDB's read_parquet takes the path verbatim, not a glob). Without
    ``force``, tables already written (``_SUCCESS``) are reused."""
    if force:
        shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    wrote = False
    for t in tables:
        path = os.path.join(out, f"{t}.parquet")
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            continue
        df = transform(load_table(spark, base, t), t)
        if single_file:
            tmp = os.path.join(out, f"_tmp_{t}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], path)
            shutil.rmtree(tmp)
        else:
            df.write.mode("overwrite").parquet(path)
        wrote = True
        print(f"# {t}: materialized", file=sys.stderr)
    if wrote:
        # On-disk caches derived from this dataset's name (bucketed, DPP
        # and nested layouts) now describe the previous data.
        for entry in glob.glob(os.path.join(REPO, ".tmp", "*", f"*{os.path.basename(out)}*")):
            shutil.rmtree(entry, ignore_errors=True)
            print(f"# swept stale layout cache {entry}", file=sys.stderr)


# --- recorders ---------------------------------------------------------------


def duck_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Everything to strings so benign dtype differences (int32 vs int64,
    # ts units) don't mask value equality. Floats via repr(), the
    # driver's stringification: repr(0.0) == '0.0' is not an int
    # column's '0', so an int-vs-float divergence (a DuckDB HUGEINT
    # reaching pandas as float64) fails HERE, and repr() round-trips
    # float64 exactly, so a last-ulp divergence fails too. ('%.17g'
    # rendered 0.0 as '0' and masked the x_seq_packing bug, round 5.)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            out[c] = col.astype("float64").map(lambda v: repr(v) if pd.notna(v) else "NULL")
        else:
            out[c] = col.map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


# DuckDB types whose duckdb→pandas conversion does not land on the dtype
# Spark produces for the logically-identical column: HUGEINT (windowed /
# product SUMs over BIGINT) arrives as float64 while Spark emits bigint;
# uncast DECIMAL arrives as float64/object while Spark emits Decimal.
# Any oracle OUTPUT column of these types is a latent hash mismatch —
# the oracle must CAST it (AS BIGINT / AS DOUBLE) explicitly.
_RISKY_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def audit_oracle_types(con, name: str, oracle: str) -> list[str]:
    """Return ['col (TYPE)', ...] for oracle output columns whose DuckDB
    type is in the risky set. Empty list == clean."""
    rows = con.execute(f"DESCRIBE {oracle}").fetchall()
    return [
        f"{col} ({typ})"
        for col, typ, *_ in rows
        if any(r in typ.upper() for r in _RISKY_DUCK_TYPES)
    ]


def compare(name: str, a, b, labels: tuple[str, str], what: str, t0: float) -> bool:
    """Print the ok/FAIL line for two normalized results: columns, row
    count, then order-insensitive values (first differing rows shown)."""
    if list(a.columns) != list(b.columns):
        print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
    elif len(a) != len(b):
        print(f"FAIL  {name}: rowcount {len(a)} vs {len(b)}")
    elif not a.equals(b):
        diff = (a != b).any(axis=1)
        print(f"FAIL  {name}: {int(diff.sum())} differing rows of {len(a)}")
        for label, df in zip(labels, (a, b)):
            print(f"  {label}:", df[diff].head(3).to_dict("records"))
    else:
        print(f"ok    {name}: {len(a)} rows {what} ({time.time()-t0:.1f}s)")
        return True
    return False


def oracle_check(spark, sf_dir: str):
    """Step: the query on Spark against its DuckDB oracle on the same
    parquet; a rows-only query (no oracle) must merely execute. A Spark
    error propagates as the query's failure."""
    con = duck_con(sf_dir)

    def step(name, spec) -> bool:
        t0 = time.time()
        sdf = spec.build(spark, sf_dir).toPandas()
        if not spec.oracle:
            print(f"ok*   {name}: rows-only, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            return True
        try:
            risky = audit_oracle_types(con, name, spec.oracle)
            odf = con.execute(spec.oracle).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {why(e)}")
            return False
        if risky:
            print(f"FAIL  {name}: oracle outputs risky DuckDB type(s): {risky} — CAST them")
            return False
        return compare(name, normalize(sdf), normalize(odf), ("spark", "duck "), "match", t0)

    return step


def layout_check(spark, base: str, scrambled: str, exempt):
    """Step: the query on two layouts of the same data must give
    identical normalized output; an exempt query (its output measures
    the layout itself) must merely run on both."""

    def step(name, spec) -> bool:
        t0 = time.time()
        a = normalize(spec.build(spark, base).toPandas())
        b = normalize(spec.build(spark, scrambled).toPandas())
        if name in exempt:
            print(
                f"ok*   {name}: layout-measuring, ran on both "
                f"({len(a)}/{len(b)} rows, {time.time()-t0:.1f}s)"
            )
            return True
        return compare(name, a, b, ("base     ", "scrambled"), "layout-invariant", t0)

    return step


def timed(spark, build, sf_dir: str, runs: int, warmup: int = 1) -> tuple[float, list[float]]:
    """(first execution's seconds, the ``runs`` timed ones after ``warmup``
    untimed ones) through the noop sink, which measures plan execution,
    not driver transfer of result rows. Nothing is released between
    executions, so they share the query's own persists."""
    times = []
    for _ in range(warmup + runs):
        t0 = time.time()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    return times[0], times[warmup:]


def counted(spark, build, sf_dir: str, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of one noop-sink execution, read from the
    status tracker under a job group: a structural counter that reads the
    same on a loud or quiet host."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info:
            stages.update(info.stageIds)
    tasks = sum(si.numTasks for si in map(tracker.getStageInfo, stages) if si)
    return len(jobs), len(stages), tasks

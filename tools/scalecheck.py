"""Scale-growth evidence from K-replicated data (sweep.replicate: keys
shifted per replica, document text salted so replicas are near-dups,
not exact dups — the worst realistic case for candidate generation).

    python tools/scalecheck.py [K ...]                    # default 1 2 4 10
    python tools/scalecheck.py --heavy 1 4 16 [--only=q1,q2] [--force]

Bare mode times the CorpusPipeline dedup and quality stages on the
documents corpus replicated K times in memory: one line per (K, stage)
with docs, seconds and output rows.

--heavy times one registered query per expensive plan family on
K-replicated parquet under .tmp/heavy_{sfbase}_{content_tag}_k{K}/ (the
same path for every K, I/O included; --force rebuilds). Per query and
K: one warm-up plus two timed noop-sink executions (the upper median
is kept), then the output row count. The exponent
ln(t_Kmax / t_Kmin) / ln(Kmax / Kmin) is ~1.0 for linear scaling;
anything materially above ~1.3 earns a plan note in PLANS.md.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import sweep

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# One representative per expensive plan family, with the tables its scan
# reads (only those are replicated).
HEAVY: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("x_dedup_minhash_md5", ("documents",)),   # banded dedup + verify
    ("x_dedup_embedding_det", ("documents",)), # sparse-BOW LSH + cosine verify
    ("x_span_mask", ("documents",)),           # k-gram position index + islands
    ("x_knn_pq", ("embeddings",)),             # PQ train + ADC rerank
    ("x_knn_ivf_trained", ("embeddings",)),    # Lloyd train + cell search
    ("x_lorenz_curve", ("orders",)),           # global rank (post-agg)
    ("x_histogram_equidepth", ("orders",)),    # value-domain rank spans
    ("x_sssp_weighted", ("lineitem", "orders", "customer", "supplier", "nation")),  # iterative rounds
    ("x_dedup_clusters", ("documents",)),       # pair gen + iterative label-prop CC
    ("x_dedup_clusters_star", ("documents",)),  # pair gen + large/small-star CC
    ("x_assoc_rules", ("lineitem",)),           # a-priori basket pair self-join
    ("q12_pricing_summary", ("lineitem",)),     # TPC-H Q1 scan-agg
    ("j_large_large", ("lineitem", "orders")),  # large-large join-agg
    ("x_dedup_incremental_band", ("documents",)),  # batch probe of a persisted band index
    ("x_winnow_candidates", ("documents",)),    # winnowed fingerprints, hot-fp cap
    ("x_dedup_containment", ("documents",)),    # shingle-index containment pairs
    ("x_dsir_weights", ("documents",)),         # hashed-feature importance weights
    ("x_padding_waste", ("documents",)),        # packing streams x windows
    ("x_substring_dedup", ("documents",)),      # exact-span index, hot-k-gram cap
    ("x_link_prediction", ("lineitem",)),       # capped common-neighbour pairs
    ("x_ngram_novelty", ("documents",)),        # first-occurrence n-gram index
    ("x_prefix_join", ("documents",)),          # lossless prefix-filtered join
)


def heavy(ks: list[int], only: list[str], force: bool) -> int:
    if len(ks) < 2 or ks[-1] == ks[0]:
        raise SystemExit(
            "--heavy needs at least two distinct K values to fit a slope, "
            f"got {ks} (e.g. `python tools/scalecheck.py --heavy 1 4 16`)"
        )
    tables = {n: tabs for n, tabs in HEAVY if not only or n in only}
    if only and len(tables) != len(set(only)):
        raise SystemExit(f"--only names not in HEAVY: {set(only) - set(tables)}")
    needed = list(dict.fromkeys(t for tabs in tables.values() for t in tabs))
    spark = sweep.session("scalecheck")
    dirs = {}
    for k in ks:
        dirs[k] = sweep.derived("heavy", SF_DIR, f"k{k}", needed)
        sweep.materialize(
            spark, SF_DIR, dirs[k], lambda df, t, k=k: sweep.replicate(df, t, k), needed, force=force
        )

    def step(name, spec) -> bool:
        times, rows = [], []
        for k in ks:
            runs = sweep.timed(spark, spec.build, dirs[k], runs=2)[1]
            times.append(sorted(runs)[len(runs) // 2])
            rows.append(spec.build(spark, dirs[k]).count())
            sweep.release(spark)
        slope = math.log(times[-1] / times[0]) / math.log(ks[-1] / ks[0])
        print(
            f"{name:<26} " + " ".join(f"{t:8.2f}" for t in times)
            + f"  {slope:5.2f}  " + "/".join(map(str, rows))
        )
        return True

    print(f"{'query':<26} " + " ".join(f"K={k:<2}s".rjust(8) for k in ks) + "  slope  rows")
    return sweep.check(spark, sweep.select(list(tables)), step, "error")


def corpus_growth(ks: list[int]) -> int:
    from music_database_spark.corpus import CorpusPipeline
    from music_database_spark.sources.loader import load_table

    spark = sweep.session("scalecheck")
    base = load_table(spark, SF_DIR, "documents")
    print(f"{'K':>3} {'docs':>7} {'query':<22} {'sec':>7} {'rows':>8}")
    for k in ks:
        docs = sweep.replicate(base, "documents", k).persist()
        n = docs.count()
        for name, frame in [
            ("exact_dedup", lambda d: CorpusPipeline(d).exact_dedup()),
            ("near_dup_pairs", lambda d: CorpusPipeline(d).near_dup_pairs(0.6)),
            ("quality_flags", lambda d: CorpusPipeline(d).with_quality_flags()),
        ]:
            t0 = time.time()
            rows = frame(docs).count()
            print(f"{k:>3} {n:>7} {name:<22} {time.time() - t0:>7.2f} {rows:>8}")
        docs.unpersist()
        sweep.release(spark)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ks", nargs="*", type=int, help="replica counts (default 1 2 4 10)")
    ap.add_argument("--heavy", action="store_true", help="time the HEAVY queries on K-replicas")
    ap.add_argument("--only", default="", help="comma-separated HEAVY subset")
    ap.add_argument("--force", action="store_true", help="rebuild the --heavy replicas")
    ns = ap.parse_intermixed_args()
    ks = ns.ks or [1, 2, 4, 10]
    if ns.heavy:
        return heavy(ks, [n for n in ns.only.split(",") if n], ns.force)
    return corpus_growth(ks)


if __name__ == "__main__":
    sys.exit(main())

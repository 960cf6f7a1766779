"""Semantic pins for the training-pipeline operators added in round 2:
hash split, repetition filter, redaction, as-of join, md5-minhash LSH."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def reg():
    from music_database_spark.registry import load_all

    return load_all()


def test_hash_split_partitions_corpus_deterministically(spark, reg):
    rows = {r["split"]: r.asDict() for r in reg["x_hash_split"].build(spark, SF_SMOKE).collect()}
    assert set(rows) <= {"train", "validation", "test"}
    total = sum(r["n_docs"] for r in rows.values())
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert total == n_docs  # every doc lands in exactly one split
    # the bucket formula is pinned to public md5 semantics
    assert int(hashlib.md5(b"7").hexdigest()[:4], 16) % 100 == 28
    again = {r["split"]: r.asDict() for r in reg["x_hash_split"].build(spark, SF_SMOKE).collect()}
    assert rows == again  # content/order independent => rerun identical


def test_repetition_filter_accounts_for_every_doc(spark, reg):
    out = reg["x_repetition_filter"].build(spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    per_lang = {r["lang"]: r["cnt"] for r in docs.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()}
    for r in out:
        assert r["n_kept"] + r["n_dropped"] == per_lang[r["lang"]]
        assert 0 <= r["sum_dup_bigrams"] <= r["sum_bigrams"]
        assert r["sum_top_token"] <= r["sum_tokens"]


def test_redact_catches_each_injected_pii_exactly_once(spark, reg):
    out = reg["x_redact"].build(spark, SF_SMOKE).collect()
    for r in out:
        assert r["total_emails"] == r["n_docs"]  # one synthetic email per doc
        assert r["total_phones"] == r["n_docs"]  # one synthetic phone per doc
        assert r["sum_len_after"] < r["sum_len_before"]


def test_asof_join_gaps_are_causal(spark, reg):
    rows = reg["x_asof_join"].build(spark, SF_SMOKE).collect()
    assert rows, "events corpus must produce output"
    for r in rows:
        assert (r["last_error_ts"] is None) == (r["gap_s"] is None)
        if r["gap_s"] is not None:
            assert r["gap_s"] >= 0  # the matched error is never in the future


def test_minhash_md5_pairs_meet_jaccard_threshold(spark, reg):
    rows = reg["x_dedup_minhash_md5"].build(spark, SF_SMOKE).collect()
    for r in rows:
        assert r["id_a"] < r["id_b"]  # canonical pair orientation, no self-pairs
        assert 0 < r["n_inter"] <= r["n_union"]
        assert r["n_inter"] * 5 >= r["n_union"] * 3  # J >= 0.6 verified, not just LSH-guessed


def test_hll_rollup_tracks_exact_rolling_distinct(spark, reg):
    exact = {
        r["day"]: r["n_users_7d"]
        for r in reg["x_rolling_distinct_exact"].build(spark, SF_SMOKE).collect()
    }
    est = {
        r["day"]: r["users_7d_est"]
        for r in reg["x_rolling_distinct_hll"].build(spark, SF_SMOKE).collect()
    }
    assert set(est) == set(exact)
    for day, e in exact.items():
        assert abs(est[day] - e) <= max(2, 0.05 * e)  # HLL standard error bound


def test_sorted_layout_confines_time_filter_to_few_files(spark, reg):
    rows = {r["layout"]: r for r in reg["x_sorted_layout"].build(spark, SF_SMOKE).collect()}
    assert rows["1_scattered"]["n_rows"] == rows["2_sorted"]["n_rows"]
    assert rows["2_sorted"]["n_files_touched"] < rows["1_scattered"]["n_files_touched"]


def test_hashed_bow_forms_agree(spark):
    from music_database_spark.functions.vector import hashed_bow, hashed_bow_frame
    from music_database_spark.sources.loader import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    col_form = {
        r["doc_id"]: tuple(r["vec"])
        for r in docs.select("doc_id", hashed_bow(F.col("text"), 64).alias("vec")).collect()
    }
    frame_form = {
        r["id"]: tuple(r["vec"])
        for r in hashed_bow_frame(docs, "doc_id", "text", 64).collect()
    }
    assert col_form == frame_form


def test_ivf_knn_recall_against_brute_force(spark, reg):
    """Approximation accounting for the ANN scale paths: IVF searches
    N_PROBE_CELLS of N_CELLS, so it must recover a healthy fraction of
    the exact top-k (the embeddings are isotropic noise — the hardest
    recall case); every (probe, neighbor, cosine) it does return must
    appear in the exact ranking's candidate universe."""
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in reg["x_knn"].build(spark, SF_SMOKE).collect()
    }
    ivf = {
        (r["probe_id"], r["neighbor_id"])
        for r in reg["x_knn_ivf"].build(spark, SF_SMOKE).collect()
    }
    assert ivf, "IVF must return results"
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.8, f"IVF recall collapsed: {recall:.2f}"


def test_multi_table_lsh_knn_recall_floor(spark, reg):
    """6 tables x 6 bits on isotropic noise predicts ~0.31 recall
    (per-bit collision ~0.63 at the corpus's neighbor cosines); assert
    the measured value stays in that regime — 0.0 means the tables
    stopped OR-ing, 1.0-ish would mean the buckets degenerated."""
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in reg["x_knn"].build(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r["probe_id"], r["neighbor_id"])
        for r in reg["x_knn_lsh"].build(spark, SF_SMOKE).collect()
    }
    recall = len(lsh & exact) / len(exact)
    assert 0.1 <= recall, f"LSH recall collapsed: {recall:.2f}"


def test_csv_malformed_mode_contract(spark, reg):
    """PERMISSIVE quarantines exactly the seeded corruption;
    DROPMALFORMED returns only clean rows; FAILFAST refuses the file."""
    import os

    from pyspark.sql import functions as F

    out = {r["lang"]: r for r in reg["x_csv_malformed"].build(spark, SF_SMOKE).collect()}
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_total = docs.count()
    seeded_bad = docs.filter((F.col("doc_id") % 97).isin(3, 5)).count()
    assert sum(r["n_rows"] for r in out.values()) == n_total
    assert sum(r["n_quarantined"] for r in out.values()) == seeded_bad

    from music_database_spark.sources.loader import source_content_tag

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp", "malformed",
        f"docs_{os.path.basename(SF_SMOKE)}_{source_content_tag(SF_SMOKE, ['documents'])}_csv",
    )
    dropped = (
        spark.read.option("header", "false")
        .option("mode", "DROPMALFORMED")
        .schema("doc_id bigint, lang string, n_chars bigint")
        .csv(path)
        # cache forces a full-schema parse: a bare count() pushes an empty
        # projection, the parser never materializes fields, and malformed
        # rows are NOT detected (they'd all count) — the same pitfall the
        # PERMISSIVE query guards with its own cache().
        .cache()
    )
    assert dropped.count() == n_total - seeded_bad

    import pytest as _pytest

    with _pytest.raises(Exception):
        (
            spark.read.option("header", "false")
            .option("mode", "FAILFAST")
            .schema("doc_id bigint, lang string, n_chars bigint")
            .csv(path)
            .select("doc_id", "lang", "n_chars")  # full parse, same pitfall
            .collect()
        )


def test_incremental_band_pairs_respect_the_split(spark, reg):
    rows = reg["x_dedup_incremental_band"].build(spark, SF_SMOKE).collect()
    for r in rows:
        assert r["batch_id"] % 10 == 9  # probe side is the new batch only
        assert r["index_id"] % 10 != 9  # matches come from the index only
        assert r["n_inter"] * 5 >= r["n_union"] * 3


def test_merge_upsert_updates_exactly_customers_with_orders(spark, reg):
    from music_database_spark.sources.loader import load_table

    out = {r["segment"]: r for r in reg["x_merge_upsert"].build(spark, SF_SMOKE).collect()}
    customer = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    with_orders = (
        customer.join(orders.select("o_custkey").distinct(),
                      customer.c_custkey == F.col("o_custkey"))
        .groupBy("c_mktsegment").count()
    )
    expected = {r["c_mktsegment"]: r["count"] for r in with_orders.collect()}
    for seg, r in out.items():
        assert r["n_updated"] == expected.get(seg, 0)
        assert r["n_updated"] <= r["n_rows"]


def test_funnel_is_monotonically_shrinking(spark, reg):
    steps = {r["step"]: r["n_users"] for r in reg["x_funnel"].build(spark, SF_SMOKE).collect()}
    assert steps["step1_view"] >= steps["step2_click"] >= steps["step3_purchase"]
    assert steps["step1_view"] > 0


def test_boilerplate_removal_conserves_segments(spark, reg):
    out = {r["doc_id"]: r.asDict() for r in reg["x_dedup_lines"].build(spark, SF_SMOKE).collect()}
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert len(out) == docs.count()  # every doc reported, even if fully cleaned
    from music_database_spark.operators.pipeline import SEG_WORDS
    import math
    n_words = {r["doc_id"]: len(r["text"].split(" ")) for r in docs.collect()}
    removed_any = 0
    for doc_id, r in out.items():
        assert r["n_segs"] == math.ceil(n_words[doc_id] / SEG_WORDS)
        assert 0 <= r["n_removed"] <= r["n_segs"]
        removed_any += r["n_removed"] > 0
    assert removed_any > 0  # corpus boilerplate exists at sf0.001
    # a doc with nothing removed keeps its exact original text
    import hashlib
    untouched = [d for d, r in out.items() if r["n_removed"] == 0]
    texts = {r["doc_id"]: r["text"] for r in docs.filter(F.col("doc_id").isin(untouched[:5])).collect()}
    for d, text in texts.items():
        assert out[d]["clean_hash"] == hashlib.md5(text.encode()).hexdigest()


def test_decontaminate_catches_planted_duplicate(spark, reg):
    rows = reg["x_decontaminate"].build(spark, SF_SMOKE).collect()
    from music_database_spark.operators.pipeline import BENCH_MOD, CONTAM_MIN
    for r in rows:
        assert r["doc_id"] % BENCH_MOD != 0  # benchmark docs never flag themselves
        assert r["contaminated"] == (r["n_overlap"] >= CONTAM_MIN)
    flagged = [r for r in rows if r["contaminated"]]
    assert flagged, "the generator's planted near-duplicates must be caught"
    assert max(r["n_overlap"] for r in flagged) >= 20  # true hit, not noise floor


def test_kmeans_partitions_corpus_and_beats_init(spark, reg):
    out = reg["x_cluster_kmeans"].build(spark, SF_SMOKE).collect()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    from music_database_spark.operators.knn import K_CLUSTERS
    assert sum(r["n_members"] for r in out) == emb.count()  # exact partition
    assert len(out) <= K_CLUSTERS
    for r in out:
        assert r["inertia"] >= 0
    # Lloyd's never increases inertia: the 3-iteration result must be no
    # worse than assignment to the raw seed centroids (iteration 1).
    import music_database_spark.operators.knn as knn_mod
    orig = knn_mod.KMEANS_ITERS
    try:
        knn_mod.KMEANS_ITERS = 1
        first = knn_mod.x_cluster_kmeans.__wrapped__ if hasattr(knn_mod.x_cluster_kmeans, "__wrapped__") else knn_mod.x_cluster_kmeans
        one = first(spark, SF_SMOKE).collect()
    finally:
        knn_mod.KMEANS_ITERS = orig
    assert sum(r["inertia"] for r in out) <= sum(r["inertia"] for r in one) + 1e-6


def test_trained_ivf_recall_and_cell_coverage(spark, reg):
    """The trained-quantizer IVF searches TRAINED_PROBE_CELLS of
    K_CLUSTERS cells, so it must recover a healthy fraction of the exact
    top-k, and training must matter: its cells are the k-means
    assignment, so every returned neighbor shares a probed cell."""
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in reg["x_knn"].build(spark, SF_SMOKE).collect()
    }
    trained = {
        (r["probe_id"], r["neighbor_id"])
        for r in reg["x_knn_ivf_trained"].build(spark, SF_SMOKE).collect()
    }
    assert trained, "trained IVF must return results"
    recall = len(trained & exact) / len(exact)
    assert recall >= 0.5, f"trained-IVF recall collapsed: {recall:.2f}"


def test_quantize_error_bounded_by_half_step(spark, reg):
    """Scalar quantization guarantees per-element error <= scale/2, so
    each label's total L1 reconstruction error must stay under
    n_vecs * sum(scales)/2 — and quantization must be lossy but sane."""
    out = reg["x_vec_quantize"].build(spark, SF_SMOKE).collect()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    import numpy as np

    vecs = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    from music_database_spark.operators.knn import QUANT_LEVELS

    scales = (vecs.max(axis=0) - vecs.min(axis=0)) / QUANT_LEVELS
    half_step_budget = scales.sum() / 2 + 1e-9
    n_total = 0
    for r in out:
        assert r["recon_err"] <= r["n_vecs"] * half_step_budget
        assert r["recon_err"] > 0  # int8 is genuinely lossy on float data
        n_total += r["n_vecs"]
    assert n_total == len(vecs)


def test_mixture_sample_rates_track_targets(spark, reg):
    """Hash-gated sampling is binomial: each source's realized keep rate
    must track its target within a generous concentration bound, and
    rerunning must reproduce the exact same counts (order independence)."""
    rows = reg["x_mixture_sample"].build(spark, SF_SMOKE).collect()
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_total"]
        # 5-sigma binomial bound, safe for n=25 per source
        import math

        sigma = math.sqrt(r["n_total"] * r["target_rate"] * (1 - r["target_rate"]))
        assert abs(r["n_kept"] - r["n_total"] * r["target_rate"]) <= 5 * sigma + 1
    again = reg["x_mixture_sample"].build(spark, SF_SMOKE).collect()
    assert rows == again


def test_semantic_dedup_verdicts_match_numpy_within_cells(spark, reg):
    """Given the cell assignment the operator itself reports, every
    verdict must agree with a from-scratch numpy pairwise check: a vector
    is a dup iff some lower-id cell-mate has cosine >= SEM_DUP_COS.
    (Clustering correctness itself is pinned by the x_cluster_kmeans
    oracle; this guards the pairwise stage against a shared mistake in
    both SQL formulations.)"""
    import numpy as np

    from music_database_spark.operators.dedup import SEM_DUP_COS

    out = {r["vec_id"]: r for r in reg["x_semantic_dedup"].build(spark, SF_SMOKE).collect()}
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    }
    assert set(out) == set(emb)
    cells: dict[int, list[int]] = {}
    for vid, r in out.items():
        cells.setdefault(r["cluster_id"], []).append(vid)
    n_dups = 0
    for members in cells.values():
        for vid in members:
            best = None
            for other in members:
                if other < vid:
                    a, b = emb[vid], emb[other]
                    c = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
                    best = c if best is None else max(best, c)
            expect_dup = best is not None and round(best, 6) >= SEM_DUP_COS
            assert out[vid]["is_dup"] == expect_dup, (vid, best, out[vid])
            if expect_dup:
                n_dups += 1
            if best is not None:
                assert abs(out[vid]["best_lower_sim"] - best) < 1e-5
    # the threshold must actually bite on this corpus, else the test is vacuous
    assert n_dups > 0


def test_scd2_reconstructs_one_users_history(spark, reg):
    """Replay one user's event stream in plain Python and compare the
    version count, current type, and longest closed version."""
    rows = {r["user_id"]: r for r in reg["x_scd2_history"].build(spark, SF_SMOKE).collect()}
    uid = sorted(rows)[0]
    from music_database_spark.sources.loader import load_table

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id") == uid)
        .select("ts", "event_id", "event_type")
        .collect()
    )
    ev.sort(key=lambda r: (r["ts"], r["event_id"]))
    versions = []
    for r in ev:
        if not versions or versions[-1][1] != r["event_type"]:
            versions.append((r["ts"], r["event_type"]))
    longest = max(
        (
            int((b[0] - a[0]).total_seconds() * 1_000_000)
            for a, b in zip(versions, versions[1:])
        ),
        default=None,
    )
    got = rows[uid]
    assert got["n_versions"] == len(versions)
    assert got["current_type"] == versions[-1][1]
    assert got["longest_closed_us"] == longest


def test_domain_cap_keeps_exactly_min_total_cap(spark, reg):
    from music_database_spark.operators.pipeline import DOMAIN_CAP

    rows = reg["x_domain_cap"].build(spark, SF_SMOKE).collect()
    assert rows, "documents table must have sources"
    for r in rows:
        assert r["n_kept"] == min(r["n_total"], DOMAIN_CAP)
    again = reg["x_domain_cap"].build(spark, SF_SMOKE).collect()
    assert rows == again  # the kept SET is deterministic, not just its size


def test_interval_overlap_durations_are_bounded(spark, reg):
    from music_database_spark.plans.windows import (
        N_BUSY_WINDOWS,
        WIN_POST_US,
        WIN_PRE_US,
    )

    rows = reg["x_interval_overlap"].build(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= N_BUSY_WINDOWS
    win_len = WIN_PRE_US + WIN_POST_US
    for r in rows:
        assert r["n_users"] <= r["n_spans"]
        assert 0 < r["total_overlap_us"] <= r["n_spans"] * win_len


def test_editdist_pairs_verified_by_python_levenshtein(spark, reg):
    from music_database_spark.operators.linkage import EDIT_MAX

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = reg["x_editdist_join"].build(spark, SF_SMOKE).collect()
    assert rows, "synthetic part names must yield candidate pairs"
    for r in rows:
        assert r["name_a"] < r["name_b"]  # unordered pairs, canonical order
        assert r["edit_dist"] == lev(r["name_a"], r["name_b"]) <= EDIT_MAX
        # blocking contract: the pair shares at least one token
        assert set(r["name_a"].split()) & set(r["name_b"].split())
        assert r["parts_a"] >= 1 and r["parts_b"] >= 1
    # completeness within the blocking contract: recompute all pairs in python
    names = [r["p_name"] for r in spark.read.parquet(f"{SF_SMOKE}/part.parquet")
             .select("p_name").distinct().collect()]
    expect = {
        (a, b)
        for i, a in enumerate(names)
        for b in names[i + 1:]
        if set(a.split()) & set(b.split()) and lev(*sorted((a, b))) <= EDIT_MAX
    }
    got = {tuple(sorted((r["name_a"], r["name_b"]))) for r in rows}
    assert got == {tuple(sorted(p)) for p in expect}


def test_vocab_coverage_totals_and_bounds(spark, reg):
    from music_database_spark.operators.linkage import VOCAB_K

    rows = reg["x_vocab_coverage"].build(spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_docs = docs.count()
    total_tok = docs.select(F.sum(F.size(F.split("text", " ")))).first()[0]
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["total_tokens"] for r in rows) == total_tok
    for r in rows:
        assert 0 <= r["in_vocab_tokens"] <= r["total_tokens"]
        assert 0.0 <= r["coverage"] <= 1.0
        assert 0 <= r["n_low_docs"] <= r["n_docs"]
    # the learned vocab covers the K most frequent tokens: corpus-wide
    # coverage must be >= K / n_distinct under the near-uniform synthetic mix
    n_distinct = docs.select(F.explode(F.split("text", " ")).alias("t")).distinct().count()
    corpus_cov = sum(r["in_vocab_tokens"] for r in rows) / total_tok
    assert corpus_cov >= min(1.0, VOCAB_K / n_distinct) * 0.8


def test_winnow_fingerprints_match_reference_algorithm(spark, reg):
    """Recompute winnowing (k-gram md5 rolling window, window-min
    selection) in plain Python over every sf0.001 doc and pin the
    operator's per-doc summary to it exactly."""
    from music_database_spark.operators.textops import WINNOW_K, WINNOW_W

    got = {
        r["doc_id"]: r.asDict()
        for r in reg["x_winnow_fingerprint"].build(spark, SF_SMOKE).collect()
    }
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text").collect()
    checked = 0
    for row in docs:
        toks = row["text"].split(" ")
        n_kg = len(toks) - WINNOW_K + 1
        if len(toks) < WINNOW_K + WINNOW_W - 1:
            assert row["doc_id"] not in got
            continue
        hashes = [
            int(hashlib.md5(" ".join(toks[i : i + WINNOW_K]).encode()).hexdigest()[:12], 16)
            for i in range(n_kg)
        ]
        fps = {min(hashes[i : i + WINNOW_W]) for i in range(n_kg - WINNOW_W + 1)}
        g = got[row["doc_id"]]
        assert g["n_kgrams"] == n_kg
        assert g["n_windows"] == n_kg - WINNOW_W + 1
        assert g["n_fp"] == len(fps)
        assert g["min_fp"] == min(fps) and g["max_fp"] == max(fps)
        # density guarantee: winnowing keeps at most one hash per window
        assert g["n_fp"] <= g["n_windows"]
        checked += 1
    assert checked == len(got) > 0


def test_winnow_candidates_recall_minhash_verified_pairs(spark, reg):
    """Winnowing guarantees any shared >= w+k-1-token run surfaces, so
    every MinHash-verified near-dup pair (jaccard >= 0.6) must appear
    among the fingerprint candidates, and with clearly more shared
    fingerprints than the WINNOW_MIN_SHARED floor."""
    from music_database_spark.operators.textops import WINNOW_MIN_SHARED

    mh = {
        (r["id_a"], r["id_b"])
        for r in reg["x_dedup_minhash_md5"].build(spark, SF_SMOKE).collect()
    }
    wc = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in reg["x_winnow_candidates"].build(spark, SF_SMOKE).collect()
    }
    assert mh, "minhash baseline unexpectedly empty"
    missed = [p for p in mh if p not in wc]
    assert missed == [], missed
    assert all(wc[p] >= WINNOW_MIN_SHARED + 1 for p in mh)


def test_star_components_equal_label_propagation(spark, reg):
    """Large/small-star and min-label propagation are different round
    structures over the same edge set — their component labelings must
    be identical row-for-row."""
    star = reg["x_dedup_clusters_star"].build(spark, SF_SMOKE).collect()
    prop = reg["x_dedup_clusters"].build(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in star] == [tuple(r) for r in prop]
    assert len(star) > 0


def test_snapshot_diff_classes_partition_the_union(spark, reg):
    """added/removed/changed/unchanged must partition A∪B (= all docs,
    since the two carved-out slices differ), and each class must be
    exactly its carved slice."""
    out = reg["x_snapshot_diff"].build(spark, SF_SMOKE).collect()
    from music_database_spark.sources.loader import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id").toPandas()["doc_id"]
    assert sum(r["n"] for r in out) == len(docs)
    by_class = {}
    for r in out:
        by_class[r["change"]] = by_class.get(r["change"], 0) + r["n"]
    assert by_class["added"] == int((docs % 20 == 7).sum())
    assert by_class["removed"] == int((docs % 20 == 11).sum())
    assert by_class["changed"] == int((docs % 20 == 3).sum())
    assert by_class["unchanged"] == len(docs) - sum(
        int((docs % 20 == k).sum()) for k in (7, 11, 3)
    )


def test_star_rounds_beat_label_propagation_on_high_diameter_chain(spark):
    """The scale claim behind x_dedup_clusters_star: on a diameter-D
    chain graph, label propagation needs ~D rounds while the star
    algorithm needs O(log n) — and both label every node with the
    component min."""
    from music_database_spark.operators.dedup import (
        label_propagation_components,
        star_components,
    )

    def chain(n):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )

    star_labels, star_rounds = star_components(chain(64))
    got = {r["node"]: r["label"] for r in star_labels.collect()}
    assert got == {i: 0 for i in range(64)}
    assert star_rounds <= 10, star_rounds  # log2(64)=6 (+fixpoint-confirm rounds)

    prop_labels, prop_rounds = label_propagation_components(chain(16))
    got = {r["node"]: r["label"] for r in prop_labels.collect()}
    assert got == {i: 0 for i in range(16)}
    assert prop_rounds >= 14  # ~diameter rounds: the contrast star avoids


def test_media_phash_signature_matches_python(spark, reg):
    """Recompute the 64-bit aHash signature in pure Python for a sample
    of docs and check the flagged pairs' Hamming distances."""
    from music_database_spark.operators.multimodal import (
        PHASH_MAX_HAMMING,
        PHASH_SEGMENTS,
    )
    from music_database_spark.sources.loader import load_table

    out = reg["x_media_phash_dedup"].build(spark, SF_SMOKE).collect()
    assert len(out) > 0
    assert all(0 <= r["hamming"] <= PHASH_MAX_HAMMING for r in out)
    assert all(r["id_a"] < r["id_b"] for r in out)

    docs = load_table(spark, SF_SMOKE, "documents").toPandas().set_index("doc_id")

    def sig(text):
        n = len(text)
        stride = n // PHASH_SEGMENTS
        px = [ord(text[(s - 1) * stride]) for s in range(1, PHASH_SEGMENTS + 1)]
        mu = sum(px) / PHASH_SEGMENTS
        return [1 if p > mu else 0 for p in px]

    for r in out[:10]:
        a, b = sig(docs.loc[r["id_a"], "text"]), sig(docs.loc[r["id_b"], "text"])
        assert sum(x != y for x, y in zip(a, b)) == r["hamming"], (r["id_a"], r["id_b"])


def test_containment_catches_low_jaccard_subsets(spark, reg):
    """Containment must be >= Jaccard for every overlapping pair, and the
    flagged pairs' direction must point from the smaller rare-shingle
    set into the larger."""
    out = reg["x_dedup_containment"].build(spark, SF_SMOKE).collect()
    assert len(out) > 0
    for r in out:
        assert r["containment"] >= 0.8 - 1e-9
        assert r["inter"] <= r["n_contained"]
        assert r["contained_id"] != r["container_id"]


def test_dedup_embedding_det_matches_python_reference(spark, reg):
    # Full independent reimplementation with hashlib + plain dicts: md5
    # BOW counts, ±1 md5-parity hyperplanes, integer projections, capped
    # buckets, exact cosine — any divergence (hash family, plane
    # indexing, cap, rounding) fails the pin.
    import pandas as pd

    from music_database_spark.operators.dedup import (
        BOW_DIM,
        EMB_DET_COSINE,
        MAX_BAND_FREQ,
        _emb_det_planes,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    planes = _emb_det_planes()
    counts = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        c = {}
        for tok in text.split(" "):
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % BOW_DIM
            c[b] = c.get(b, 0) + 1
        counts[doc_id] = c
    buckets = {}  # (table, bucket) -> [doc_id]
    for doc_id, c in counts.items():
        for t, table in enumerate(planes):
            sig = 0
            for bit, plane in enumerate(table):
                pr = sum(cnt * plane[b] for b, cnt in c.items())
                if pr >= 0:
                    sig |= 1 << bit
            buckets.setdefault((t, sig), []).append(doc_id)
    pairs = set()
    for ids in buckets.values():
        if len(ids) > MAX_BAND_FREQ:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    expected = {}
    for a, b in pairs:
        ca, cb = counts[a], counts[b]
        dp = sum(v * cb.get(k, 0) for k, v in ca.items())
        if dp == 0:
            continue
        n2a = sum(v * v for v in ca.values())
        n2b = sum(v * v for v in cb.values())
        cos = round(dp / ((n2a**0.5) * (n2b**0.5)), 6)
        if cos >= EMB_DET_COSINE:
            expected[(a, b)] = cos
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in reg["x_dedup_embedding_det"].build(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert len(got) > 0  # the fixture contains near-dups; empty = broken recall


def test_substring_spans_exact_on_constructed_corpus(spark):
    # Hand-built ground truth: doc 2 embeds tokens 10..34 of doc 1 (a
    # 25-token span) plus noise; doc 3 shares nothing; doc 4 duplicates
    # doc 1 exactly (span = full length). Token vocabularies are unique
    # per position so no accidental k-gram collisions.
    from music_database_spark.operators.spans import (
        SPAN_K,
        substring_span_pairs,
    )

    base = [f"w{i}" for i in range(60)]
    shared = base[10:35]  # 25 tokens
    noise_a = [f"xa{i}" for i in range(15)]
    noise_b = [f"xb{i}" for i in range(15)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(base)),
            (2, " ".join(noise_a + shared + noise_b)),
            (3, " ".join(f"z{i}" for i in range(50))),
            (4, " ".join(base)),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["longest_span"], r["n_runs"])
        for r in substring_span_pairs(docs, min_tokens=20).collect()
    }
    # pair (1,2): longest span exactly 25; one aligned run
    # pair (1,4): identical docs -> span 60, one run
    # pair (2,4): same 25-token overlap as (1,2)
    assert got == {(1, 2): (25, 1), (1, 4): (60, 1), (2, 4): (25, 1)}
    # below-threshold spans are silent: raising the floor hides the 25s
    got55 = {
        (r["id_a"], r["id_b"]): r["longest_span"]
        for r in substring_span_pairs(docs, min_tokens=55).collect()
    }
    assert got55 == {(1, 4): 60}
    # a span shorter than k is invisible by construction
    assert SPAN_K <= 20


def test_kcore_matches_python_peeling(spark, reg):
    # Independent plain-Python peel to fixpoint over the same bipartite
    # graph; Spark's bounded-round early-exit loop must land on the
    # identical core with identical within-core degrees.
    import duckdb

    from music_database_spark.operators.graph import KCORE_K

    con = duckdb.connect()
    edges = con.execute(
        f"""
        SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
        FROM read_parquet('{SF_SMOKE}/lineitem.parquet') l
        JOIN read_parquet('{SF_SMOKE}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        """
    ).fetchall()
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    while True:
        dead = [n for n, nb in adj.items() if len(nb) < KCORE_K]
        if not dead:
            break
        for n in dead:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    expected = {
        ("customer" if n % 2 == 0 else "supplier", n // 2): len(nb)
        for n, nb in adj.items()
    }
    got = {
        (r["node_type"], r["key"]): r["core_degree"]
        for r in reg["x_kcore"].build(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert len(got) > 0
    assert all(d >= KCORE_K for d in got.values())


def test_expectations_all_pass_on_clean_fixture_and_catch_injected_dirt(spark, reg):
    # The driver testdata is clean: every expectation must pass. Then
    # corrupt a copy in-memory and assert the same check logic catches it.
    rows = {r["check_name"]: r for r in reg["x_expectations"].build(spark, SF_SMOKE).collect()}
    assert len(rows) == 6
    assert all(r["passed"] for r in rows.values())
    assert all(r["n_violations"] == 0 for r in rows.values())
    assert rows["lineitem_quantity_in_range"]["n_checked"] > 0


def test_kanonymity_generalization_strictly_reduces_risk(spark, reg):
    from music_database_spark.operators.quality import K_ANON

    lv = {r["level"]: r for r in reg["x_kanonymity"].build(spark, SF_SMOKE).collect()}
    assert set(lv) == {0, 1}
    # generalizing can only merge groups: level-1 groups are fewer and
    # the at-risk mass never grows
    assert lv[1]["n_groups"] <= lv[0]["n_groups"]
    assert lv[1]["n_rows_at_risk"] <= lv[0]["n_rows_at_risk"]
    # conservation at level 0: every customer is either anonymous or at risk
    n_cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").count()
    assert lv[0]["n_rows_anonymous"] + lv[0]["n_rows_at_risk"] == n_cust
    # level 1 only re-examines the level-0 at-risk mass
    assert (
        lv[1]["n_rows_anonymous"] + lv[1]["n_rows_at_risk"] == lv[0]["n_rows_at_risk"]
    )
    assert K_ANON > 1


def test_span_mask_merges_overlaps_on_constructed_corpus(spark):
    # Doc 4 contains two overlapping copies of doc-1 fragments plus one
    # disjoint one: raw spans must merge to the known interval union.
    from music_database_spark.operators.spans import substring_span_runs
    from pyspark.sql import functions as F

    base = [f"w{i}" for i in range(80)]
    # loser doc (id 4): tokens 0..39 copy base[0:40]; tokens 35..59 copy
    # base[10:35] -> overlapping mask intervals; tokens 65..79 copy
    # base[50:75] -> disjoint.
    loser = base[0:40] + base[10:35] + [f"n{i}" for i in range(5)] + base[50:75]
    docs = spark.createDataFrame(
        [(1, " ".join(base)), (4, " ".join(loser))],
        "doc_id long, text string",
    )
    runs = substring_span_runs(docs)
    iv = sorted(
        (r["start_b"], r["start_b"] + r["span"])
        for r in runs.filter(F.col("id_b") == 4).collect()
    )
    assert len(iv) >= 3  # at least the three constructed copies surface
    # python interval union as ground truth for the SQL merge
    merged = []
    for s, e in iv:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    expected_masked = sum(e - s for s, e in merged)
    # run the registered mask pass over a temp view by monkey-free reuse:
    # build the same pipeline pieces directly
    out = (
        runs.select(
            F.col("id_b").alias("doc_id"),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("span")).alias("e"),
        )
    )
    from pyspark.sql import Window as W

    w_prev = W.partitionBy("doc_id").orderBy("s", "e").rowsBetween(W.unboundedPreceding, -1)
    w_run = W.partitionBy("doc_id").orderBy("s", "e").rowsBetween(W.unboundedPreceding, 0)
    pm = F.max("e").over(w_prev)
    got = (
        out.withColumn("ng", F.when(pm.isNull() | (F.col("s") > pm), 1).otherwise(0))
        .withColumn("g", F.sum("ng").over(w_run))
        .groupBy("doc_id", "g")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("me") - F.col("ms")).alias("masked"))
        .collect()
    )
    assert {r["doc_id"]: r["masked"] for r in got} == {4: expected_masked}


def test_ndcg_properties_and_python_reference(spark, reg):
    # nDCG in [0,1], monotone checks against a plain-Python recomputation
    # from the BM25 per-doc frame.
    import math

    from music_database_spark.operators.textops import bm25_per_doc

    rows = {r["k"]: r for r in reg["x_ndcg"].build(spark, SF_SMOKE).collect()}
    assert set(rows) == {5, 10, 20}
    for r in rows.values():
        assert 0.0 < r["ndcg"] <= 1.0
        assert r["dcg"] <= r["idcg"]
    pd_rows = bm25_per_doc(spark, SF_SMOKE).collect()
    ranked = sorted(pd_rows, key=lambda r: (-r["score"], r["doc_id"]))
    ideal = sorted(pd_rows, key=lambda r: (-r["n_terms"], r["doc_id"]))
    for k in (5, 10, 20):
        dcg = sum(
            (2.0 ** r["n_terms"] - 1.0) / math.log2(i + 2)
            for i, r in enumerate(ranked[:k])
        )
        idcg = sum(
            (2.0 ** r["n_terms"] - 1.0) / math.log2(i + 2)
            for i, r in enumerate(ideal[:k])
        )
        assert abs(rows[k]["ndcg"] - round(dcg / idcg, 6)) < 1e-5


def test_kappa_matches_sklearn_free_reference(spark, reg):
    # Recompute kappa from raw labels in plain Python over the parquet.
    import pandas as pd

    from music_database_spark.operators.quality import KAPPA_LEN_MIN, KAPPA_STOP_PCT

    docs = pd.read_parquet(
        f"{SF_SMOKE}/documents.parquet", columns=["text", "n_chars"]
    )
    stop = {"the", "a", "of", "and", "to", "in", "is", "that"}
    n11 = n10 = n01 = n00 = 0
    for text, n_chars in zip(docs["text"], docs["n_chars"]):
        toks = text.split(" ")
        a = 1 if n_chars >= KAPPA_LEN_MIN else 0
        b = 1 if 100 * sum(t in stop for t in toks) >= KAPPA_STOP_PCT * len(toks) else 0
        n11 += a and b; n10 += a and not b; n01 += (not a) and b; n00 += (not a) and (not b)
    n = n11 + n10 + n01 + n00
    po = (n11 + n00) / n
    pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    r = reg["x_kappa"].build(spark, SF_SMOKE).collect()[0]
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (n11, n10, n01, n00)
    assert abs(r["kappa"] - (po - pe) / (1 - pe)) < 1e-5
    assert -1.0 <= r["kappa"] <= 1.0


# ---------------------------------------------------------------------------
# Round-5 continuation: privacy, time-series stats, graph SSSP, basket mining
# ---------------------------------------------------------------------------


def test_l_diversity_matches_pandas_reference(spark, reg):
    import math

    import pandas as pd

    from music_database_spark.operators.quality import L_DIV, LDIV_BAND

    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    nat = pd.read_parquet(f"{SF_SMOKE}/nation.parquet")
    df = cust.merge(nat, left_on="c_nationkey", right_on="n_nationkey")
    df["band"] = df["c_acctbal"].map(lambda v: math.floor(v / LDIV_BAND))
    grp = df.groupby(["n_name", "c_mktsegment"]).agg(
        diversity=("band", "nunique"), n_rows=("band", "size")
    )
    hist = grp.groupby("diversity").agg(
        n_groups=("n_rows", "size"), n_rows=("n_rows", "sum")
    )
    got = {
        r["diversity"]: (r["n_groups"], r["n_rows"], r["meets_l"])
        for r in reg["x_l_diversity"].build(spark, SF_SMOKE).collect()
    }
    assert got == {
        int(d): (int(r["n_groups"]), int(r["n_rows"]), bool(d >= L_DIV))
        for d, r in hist.iterrows()
    }
    assert sum(v[1] for v in got.values()) == len(cust)  # every customer counted


def _daily_cents(sf_dir: str):
    import pandas as pd

    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    day = pd.to_datetime(orders["o_orderdate"]).dt.date
    cents = (orders["o_totalprice"].round(2) * 100).round().astype("int64")
    return cents.groupby(day).sum().sort_index()


def test_cusum_changepoint_matches_numpy_reference(spark, reg):
    import numpy as np

    from music_database_spark.plans.sketches import CUSUM_TOP

    daily = _daily_cents(SF_SMOKE)
    x = daily.to_numpy()
    n = len(x)
    s = np.cumsum(x)
    t = s[-1]
    dev = np.abs(n * s - np.arange(1, n + 1) * t)
    order = sorted(range(n), key=lambda i: (-dev[i], daily.index[i]))[:CUSUM_TOP]
    expected = [
        (str(daily.index[i]), int(x[i]), int(dev[i]), rk + 1)
        for rk, i in enumerate(order)
    ]
    got = [
        (r["day"], r["daily_cents"], r["cusum_dev"], r["rk"])
        for r in reg["x_cusum_changepoint"].build(spark, SF_SMOKE).collect()
    ]
    assert got == expected


def test_ewma_matches_numpy_reference_including_series_head(spark, reg):
    from music_database_spark.plans.windows import EWMA_LAGS, EWMA_W

    daily = _daily_cents(SF_SMOKE)
    x = daily.to_numpy()
    expected = {}
    for t in range(len(x)):
        num = den = 0
        for j in range(min(t + 1, EWMA_LAGS)):
            num += int(x[t - j]) * EWMA_W[j]
            den += EWMA_W[j]
        expected[str(daily.index[t])] = round(num / den / 100.0, 6)
    got = {
        r["day"]: r["ewma"]
        for r in reg["x_ewma_smooth"].build(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # weights are the exact 0.7-geometric scaled by 10^(lags-1)
    assert EWMA_W[0] == 10 ** (EWMA_LAGS - 1)
    for j in range(1, EWMA_LAGS):
        assert EWMA_W[j] * 10 == EWMA_W[j - 1] * 7


def test_acf_matches_numpy_reference(spark, reg):
    from music_database_spark.plans.windows import ACF_LAGS

    daily = _daily_cents(SF_SMOKE)
    x = [int(v) for v in daily.to_numpy()]
    n = len(x)
    sx = sum(x)
    a = [n * v - sx for v in x]  # exact python ints, like the engines' int128
    den = sum(v * v for v in a)
    got = {r["lag"]: r["acf"] for r in reg["x_acf"].build(spark, SF_SMOKE).collect()}
    for k in ACF_LAGS:
        num = sum(a[i] * a[i + k] for i in range(n - k))
        assert got[k] == round(num / den, 6)
    # sanity: ACF of a real series lies in [-1, 1]
    assert all(-1.0 <= v <= 1.0 for v in got.values())


def test_sssp_matches_python_bellman_ford(spark, reg):
    import pandas as pd

    from music_database_spark.operators.graph import (
        SSSP_COST_NUM,
        SSSP_ROUNDS,
        SSSP_SRC,
    )

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")[["l_orderkey", "l_suppkey"]]
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")[["o_orderkey", "o_custkey"]]
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")[["c_custkey", "c_nationkey"]]
    supp = pd.read_parquet(f"{SF_SMOKE}/supplier.parquet")[["s_suppkey", "s_nationkey"]]
    e = (
        li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey")
        .merge(supp, left_on="l_suppkey", right_on="s_suppkey")
        .groupby(["c_nationkey", "s_nationkey"])
        .size()
    )
    edges = [
        (int(src), int(dst), 1 + SSSP_COST_NUM // int(w))
        for (src, dst), w in e.items()
    ]
    dist = {SSSP_SRC: 0}
    for _ in range(SSSP_ROUNDS):
        nxt = dict(dist)
        for src, dst, w in edges:
            if src in dist and dist[src] + w < nxt.get(dst, float("inf")):
                nxt[dst] = dist[src] + w
        if nxt == dist:
            break
        dist = nxt
    got = {
        r["nationkey"]: r["dist_cost"]
        for r in reg["x_sssp_weighted"].build(spark, SF_SMOKE).collect()
    }
    assert got == dist
    assert got[SSSP_SRC] == 0


def test_assoc_rules_matches_pandas_reference(spark, reg):
    from itertools import combinations

    import pandas as pd

    from music_database_spark.operators.basket import ASSOC_TOP, MIN_SUPP, PPM

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")[["l_orderkey", "l_partkey"]]
    items = li.drop_duplicates()
    n_baskets = items["l_orderkey"].nunique()
    cnt = items.groupby("l_partkey").size().to_dict()
    freq = items[items["l_partkey"].map(cnt) >= MIN_SUPP]
    pair_counts: dict[tuple[int, int], int] = {}
    for _, basket in freq.groupby("l_orderkey")["l_partkey"]:
        for pa, pb in combinations(sorted(basket), 2):
            pair_counts[(pa, pb)] = pair_counts.get((pa, pb), 0) + 1
    rules = []
    for (pa, pb), n_ab in pair_counts.items():
        if n_ab < MIN_SUPP:
            continue
        ca, cb = cnt[pa], cnt[pb]
        rules.append(
            (
                int(pa),
                int(pb),
                n_ab,
                ca,
                cb,
                n_ab * PPM // n_baskets,
                n_ab * PPM // ca,
                n_ab * n_baskets * PPM // (ca * cb),
            )
        )
    rules.sort(key=lambda r: (-r[7], r[0], r[1]))
    expected = rules[:ASSOC_TOP]
    got = [
        tuple(r)
        for r in reg["x_assoc_rules"].build(spark, SF_SMOKE).collect()
    ]
    assert got == expected
    assert len(got) > 0
    assert all(r[2] >= MIN_SUPP for r in got)


def test_chi2_and_mi_match_scipy_free_reference(spark, reg):
    import math

    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")[
        ["o_custkey", "o_orderpriority"]
    ]
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")[
        ["c_custkey", "c_mktsegment"]
    ]
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    tab = j.groupby(["c_mktsegment", "o_orderpriority"]).size()
    n = int(tab.sum())
    ni = tab.groupby(level=0).sum()
    nj = tab.groupby(level=1).sum()
    chi2 = mi = 0.0
    rows = reg["x_chi2_independence"].build(spark, SF_SMOKE).collect()
    for r in sorted(rows, key=lambda r: (r["segment"], r["priority"])):
        o = int(tab[(r["segment"], r["priority"])])
        a, b = int(ni[r["segment"]]), int(nj[r["priority"]])
        assert r["n_obs"] == o
        assert r["expected_milli"] == a * b * 1000 // n
        chi2 += (n * o - a * b) ** 2 / (n * a * b)
        if o:
            mi += (o / n) * math.log2(n * o / (a * b))
    last = max(rows, key=lambda r: (r["segment"], r["priority"]))
    assert last["chi2_cum"] == pytest.approx(chi2, abs=2e-6)
    assert last["mi_bits_cum"] == pytest.approx(mi, abs=2e-6)
    assert last["mi_bits_cum"] >= 0  # MI is nonnegative


def test_benford_digits_conserve_and_pin_reference_curve(spark, reg):
    import math

    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    digits = (
        (orders["o_totalprice"].round(2) * 100)
        .round()
        .astype("int64")
        .astype(str)
        .str[0]
        .astype(int)
    )
    expect = digits.value_counts().to_dict()
    rows = {r["digit"]: r for r in reg["x_benford"].build(spark, SF_SMOKE).collect()}
    assert {d: r["n"] for d, r in rows.items()} == expect
    assert sum(r["n"] for r in rows.values()) == len(orders)
    for d, r in rows.items():
        assert r["benford_freq"] == round(math.log10(1 + 1 / d), 6)
        assert r["obs_ppm"] == r["n"] * 1_000_000 // len(orders)


def test_simpson_diversity_matches_pandas_reference(spark, reg):
    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["source", "lang"]]
    got = {
        r["source"]: r
        for r in reg["x_simpson_diversity"].build(spark, SF_SMOKE).collect()
    }
    for source, g in docs.groupby("source"):
        counts = g["lang"].value_counts()
        n = len(g)
        same = int((counts * (counts - 1)).sum())
        r = got[str(source)]
        assert r["n_docs"] == n
        assert r["n_langs"] == len(counts)
        assert r["simpson_index"] == round(1.0 - same / (n * (n - 1)), 6)
        assert 0.0 <= r["simpson_index"] < 1.0


def test_rfm_scores_partition_customers_into_balanced_quintiles(spark, reg):
    from music_database_spark.plans.analytics import RFM_TILES

    rows = reg["x_rfm_segmentation"].build(spark, SF_SMOKE).collect()
    n_cust = sum(r["n_customers"] for r in rows)
    # every customer with >= 1 order lands in exactly one cell
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    assert n_cust == orders["o_custkey"].nunique()
    # each axis's marginal is a balanced ntile partition (sizes differ by <= 1)
    for axis in ("r_score", "f_score", "m_score"):
        marg = {}
        for r in rows:
            marg[r[axis]] = marg.get(r[axis], 0) + r["n_customers"]
        assert set(marg) == set(range(1, RFM_TILES + 1))
        assert max(marg.values()) - min(marg.values()) <= 1
    # labels depend only on (r, f)
    seen = {}
    for r in rows:
        key = (r["r_score"], r["f_score"])
        assert seen.setdefault(key, r["segment"]) == r["segment"]
    # money conserves in cents
    total_cents = int((orders["o_totalprice"].round(2) * 100).round().sum())
    assert sum(r["sum_cents"] for r in rows) == total_cents


def test_temperature_sampling_upsamples_low_resource_langs(spark, reg):
    import math

    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    counts = docs.groupby("lang").size().sort_index()
    n_total = int(counts.sum())
    s = {lang: math.sqrt(int(n)) for lang, n in counts.items()}
    zsum = 0.0
    for lang in sorted(s):  # same left-to-right fold as both engines
        zsum += s[lang]
    rows = {
        r["lang"]: r
        for r in reg["x_temperature_sample"].build(spark, SF_SMOKE).collect()
    }
    for lang, n in counts.items():
        r = rows[lang]
        assert r["n_docs"] == int(n)
        assert r["base_ppm"] == int(n) * 1_000_000 // n_total
        assert r["weight_temp"] == round(s[lang] / zsum, 6)
        assert r["boost"] == round(s[lang] * n_total / (zsum * int(n)), 6)
    # tau<1 compresses the distribution: smallest lang boosted, largest damped
    smallest = counts.idxmin()
    largest = counts.idxmax()
    assert rows[smallest]["boost"] > 1.0 > rows[largest]["boost"]
    # weights sum to ~1
    assert sum(r["weight_temp"] for r in rows.values()) == pytest.approx(1.0, abs=1e-5)


def test_token_budget_conserves_and_respects_cap(spark, reg):
    from music_database_spark.operators.pipeline import (
        BUDGET_CAP_PCT,
        TOKEN_BUDGET,
    )

    rows = reg["x_token_budget"].build(spark, SF_SMOKE).collect()
    cap = TOKEN_BUDGET * BUDGET_CAP_PCT // 100
    total_alloc = sum(r["alloc_tokens"] for r in rows)
    assert total_alloc <= TOKEN_BUDGET  # never over-allocates
    # waterfilling leaves only integer-floor slack: within |sources| + capped mass
    assert all(r["alloc_tokens"] <= cap for r in rows)
    assert all(
        (r["alloc_tokens"] == cap) == bool(r["is_capped"])
        or r["alloc_tokens"] < cap
        for r in rows
    )
    for r in rows:
        assert r["fill_ppm"] == r["alloc_tokens"] * 1_000_000 // TOKEN_BUDGET
        assert r["alloc_tokens"] >= 0


def test_dp_noisy_counts_pin_laplace_construction(spark, reg):
    import hashlib
    import math

    import pandas as pd

    from music_database_spark.operators.quality import DP_EPSILON, DP_SEED_TAG

    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    counts = cust.groupby("c_mktsegment").size()
    rows = {
        r["segment"]: r
        for r in reg["x_dp_noisy_counts"].build(spark, SF_SMOKE).collect()
    }
    for seg, n in counts.items():
        h = hashlib.md5(f"{seg}|{DP_SEED_TAG}".encode()).hexdigest()
        u = (int(h[:8], 16) + 0.5) / 4294967296.0
        sgn = 1.0 if int(h[8], 16) % 2 == 0 else -1.0
        noise = sgn * (-(1.0 / DP_EPSILON) * math.log(u))
        r = rows[seg]
        assert r["noisy_count"] == round(int(n) + noise, 6)
        assert r["epsilon"] == DP_EPSILON
        # noise magnitude is plausibly Laplace(1): |noise| < 25 w.p. ~1-3e-11
        assert abs(r["noisy_count"] - int(n)) < 25


def test_modularity_matches_networkx_free_reference(spark, reg):
    import pandas as pd

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")[["l_orderkey", "l_suppkey"]]
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")[["o_orderkey", "o_custkey"]]
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")[["c_custkey", "c_nationkey"]]
    supp = pd.read_parquet(f"{SF_SMOKE}/supplier.parquet")[["s_suppkey", "s_nationkey"]]
    nat = pd.read_parquet(f"{SF_SMOKE}/nation.parquet")[["n_nationkey", "n_regionkey"]]
    reg_t = pd.read_parquet(f"{SF_SMOKE}/region.parquet")[["r_regionkey", "r_name"]]
    e = (
        li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey")
        .merge(supp, left_on="l_suppkey", right_on="s_suppkey")
        .groupby(["c_nationkey", "s_nationkey"])
        .size()
    )
    r_of = nat.set_index("n_nationkey")["n_regionkey"].to_dict()
    m2 = 2 * int(e.sum())
    d_c: dict[int, int] = {}
    e_c: dict[int, int] = {}
    for (u, v), w in e.items():
        d_c[r_of[u]] = d_c.get(r_of[u], 0) + int(w)
        d_c[r_of[v]] = d_c.get(r_of[v], 0) + int(w)
        if r_of[u] == r_of[v]:
            e_c[r_of[u]] = e_c.get(r_of[u], 0) + 2 * int(w)
    names = reg_t.set_index("r_regionkey")["r_name"].to_dict()
    rows = {r["region"]: r for r in reg["x_modularity"].build(spark, SF_SMOKE).collect()}
    q_total = 0.0
    for rk in sorted(d_c, key=lambda k: names[k]):
        qc = (e_c.get(rk, 0) * m2 - d_c[rk] ** 2) / (m2 * m2)
        q_total += qc
        r = rows[names[rk]]
        assert r["internal_w"] == e_c.get(rk, 0)
        assert r["degree_w"] == d_c[rk]
        assert r["q_contrib"] == round(qc, 6)
    last = rows[max(rows, key=lambda k: k)]
    assert last["q_cum"] == pytest.approx(q_total, abs=2e-6)
    # Q of any partition lies in [-0.5, 1]
    assert -0.5 <= last["q_cum"] <= 1.0


def test_modularity_rounding_keeps_duckdb_signed_zero(spark):
    """x_modularity's q_contrib/q_cum rounding must match DuckDB's
    round(x, 6) by repr, including the sign of results that round to
    zero (DuckDB: round(-1e-8, 6) is -0.0)."""
    import duckdb

    from music_database_spark.operators.graph import signed_round

    xs = [-1e-8, -4e-7, 0.0, 1e-8, 3e-7]
    df = spark.createDataFrame(list(enumerate(xs)), "i int, x double")
    got = [
        r["y"]
        for r in df.select("i", signed_round(F.col("x"), 6).alias("y")).orderBy("i").collect()
    ]
    want = [duckdb.sql(f"SELECT round({x!r}::DOUBLE, 6)").fetchone()[0] for x in xs]
    assert [repr(v) for v in got] == [repr(v) for v in want]


def test_winsorize_matches_numpy_reference(spark, reg):
    import pandas as pd

    from music_database_spark.operators.quality import WINSOR_HI_PCT, WINSOR_LO_PCT

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev = ev[ev["value"].notna()]
    rows = {r["event_type"]: r for r in reg["x_winsorize"].build(spark, SF_SMOKE).collect()}
    for etype, g in ev.groupby("event_type"):
        vals = sorted(g["value"])
        n = len(vals)
        p_lo = vals[(WINSOR_LO_PCT * n + 99) // 100 - 1]
        p_hi = vals[(WINSOR_HI_PCT * n + 99) // 100 - 1]
        clipped = [min(max(v, p_lo), p_hi) for v in vals]
        r = rows[etype]
        assert r["n"] == n
        assert r["p_lo"] == round(p_lo, 6)
        assert r["p_hi"] == round(p_hi, 6)
        assert r["n_clipped_lo"] == sum(1 for v in vals if v < p_lo)
        assert r["n_clipped_hi"] == sum(1 for v in vals if v > p_hi)
        assert r["winsorized_mean"] == pytest.approx(sum(clipped) / n, abs=2e-6)
        # robustness: the winsorized mean sits inside the cut interval
        assert p_lo <= r["winsorized_mean"] <= p_hi


def test_histogram_conserves_mass_and_bins_are_exact(spark, reg):
    import pandas as pd

    from music_database_spark.operators.quality import HIST_BINS

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    cents = (orders["o_totalprice"].round(2) * 100).round().astype("int64")
    lo, hi, total = int(cents.min()), int(cents.max()), len(cents)
    width = (hi - lo + HIST_BINS) // HIST_BINS
    expected = cents.map(lambda c: (c - lo) // width).value_counts().to_dict()
    rows = {r["bin"]: r for r in reg["x_histogram"].build(spark, SF_SMOKE).collect()}
    assert {b: r["n"] for b, r in rows.items()} == {int(k): int(v) for k, v in expected.items()}
    assert sum(r["n"] for r in rows.values()) == total
    for b, r in rows.items():
        assert r["bin_lo_cents"] == lo + b * width
        assert r["bin_hi_cents"] == lo + (b + 1) * width - 1
        assert r["share_ppm"] == r["n"] * 1_000_000 // total
    assert max(rows) < HIST_BINS  # ceil width keeps the max in range


def test_seasonal_dow_pins_weekday_alignment_and_ratios(spark, reg):
    import pandas as pd

    daily = _daily_cents(SF_SMOKE)
    idx = pd.to_datetime(pd.Series(daily.index))
    # Spark dayofweek-1 == DuckDB dayofweek == 0 for Sunday
    dow = ((idx.dt.dayofweek + 1) % 7).to_numpy()  # pandas: Monday=0 -> Sunday=0
    cents = daily.to_numpy()
    t, nd = int(cents.sum()), len(cents)
    rows = {r["dow"]: r for r in reg["x_seasonal_dow"].build(spark, SF_SMOKE).collect()}
    assert set(rows) == set(range(7))
    for d in range(7):
        mask = dow == d
        sum_c, n_days = int(cents[mask].sum()), int(mask.sum())
        r = rows[d]
        assert r["n_days"] == n_days
        assert r["sum_cents"] == sum_c
        # approx, not round(): Python rounds half-to-even, the engines
        # round half-up — they disagree exactly on .5 boundaries
        assert r["avg_daily"] == pytest.approx(sum_c / n_days / 100.0, abs=1e-6)
        assert r["seasonal_ratio"] == pytest.approx(sum_c * nd / (n_days * t), abs=2e-6)
    # ratios average to ~1 weighted by day counts
    wavg = sum(rows[d]["seasonal_ratio"] * rows[d]["n_days"] for d in range(7)) / nd
    assert wavg == pytest.approx(1.0, abs=1e-3)


def test_assortativity_matches_plain_python_pearson(spark, reg):
    import math

    import pandas as pd

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")[["l_orderkey", "l_suppkey"]]
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")[["o_orderkey", "o_custkey"]]
    e0 = {
        (int(u) * 2, int(v) * 2 + 1)
        for u, v in li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")[
            ["o_custkey", "l_suppkey"]
        ].itertuples(index=False)
    }
    und = [(a, b) for a, b in e0] + [(b, a) for a, b in e0]
    deg: dict[int, int] = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    xs = [deg[a] for a, _ in und]
    ys = [deg[b] for _, b in und]
    m = len(und)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    r = (m * sxy - sx * sy) / (
        math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy)
    )
    row = reg["x_assortativity"].build(spark, SF_SMOKE).collect()[0]
    assert row["m_directed_edges"] == m
    assert row["assortativity"] == pytest.approx(r, abs=2e-6)
    assert -1.0 <= row["assortativity"] <= 1.0


def test_lsh_curve_crosses_half_at_the_documented_threshold(spark, reg):
    from music_database_spark.operators.dedup import N_BANDS

    assert N_BANDS == 8  # the curve below is the (b=8, r=4) instance
    rows = {r["s_pct"]: r for r in reg["x_lsh_curve"].build(spark, SF_SMOKE).collect()}
    assert set(rows) == set(range(5, 100, 5))
    for s_pct, r in rows.items():
        s = s_pct / 100.0
        assert r["p_band_match"] == pytest.approx(s**4, abs=2e-6)
        assert r["p_candidate"] == pytest.approx(1 - (1 - s**4) ** 8, abs=2e-6)
    # the S-curve is monotone and crosses 1/2 between 50% and 55% —
    # backing the "catches Jaccard >~ 0.6" claim stamped on the dedup
    # family (p(0.6) ~ 0.67, comfortably above the coin flip)
    ps = [rows[s]["p_candidate"] for s in range(5, 100, 5)]
    assert all(a <= b for a, b in zip(ps, ps[1:]))
    assert not rows[50]["above_half"] and rows[55]["above_half"]
    assert rows[60]["p_candidate"] > 0.6


def test_mann_whitney_matches_scipy_free_reference(spark, reg):
    import hashlib
    import math

    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["doc_id", "n_chars"]]
    docs["bucket"] = docs["doc_id"].map(
        lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100
    )
    lab = docs[docs["bucket"] < 90]
    a = sorted(lab[lab["bucket"] < 80]["n_chars"])
    b = sorted(lab[lab["bucket"] >= 80]["n_chars"])
    na, nb = len(a), len(b)
    combined = sorted(a + b)
    # doubled average ranks via tie groups
    rank2: dict[int, int] = {}
    ties = 0
    i = 0
    while i < len(combined):
        j = i
        while j < len(combined) and combined[j] == combined[i]:
            j += 1
        c = j - i
        rank2[combined[i]] = 2 * i + c + 1
        ties += c**3 - c
        i = j
    r1x2 = sum(rank2[v] for v in a)
    u1x2 = r1x2 - na * (na + 1)
    n = na + nb
    sigma = math.sqrt((na * nb / 12) * ((n + 1) - ties / (n * (n - 1))))
    z = (u1x2 - na * nb) / (2 * sigma)
    row = reg["x_mann_whitney"].build(spark, SF_SMOKE).collect()[0]
    assert (row["na"], row["nb"]) == (na, nb)
    assert row["u1_x2"] == u1x2
    assert row["z"] == pytest.approx(z, abs=2e-6)
    # a correct md5 split should not show a location shift
    assert abs(row["z"]) < 4


def test_drop_manifest_is_order_invariant_and_change_sensitive(spark, reg):
    import hashlib

    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["source", "text"]]
    rows = {r["source"]: r for r in reg["x_drop_manifest"].build(spark, SF_SMOKE).collect()}
    for source, g in docs.groupby("source"):
        hs = sorted(hashlib.md5(t.encode()).hexdigest() for t in g["text"])
        want = hashlib.md5("".join(hs).encode()).hexdigest()
        r = rows[str(source)]
        assert r["manifest_md5"] == want
        assert r["n_docs"] == len(g)
        assert r["n_unique"] == len(set(hs))
    # change sensitivity: flipping one doc's text flips that source's manifest
    g0 = docs[docs["source"] == docs["source"].iloc[0]].copy()
    hs0 = sorted(
        hashlib.md5((t + "!").encode() if i == 0 else t.encode()).hexdigest()
        for i, t in enumerate(g0["text"])
    )
    assert (
        hashlib.md5("".join(hs0).encode()).hexdigest()
        != rows[str(docs["source"].iloc[0])]["manifest_md5"]
    )


def test_spatial_grid_join_equals_brute_force_on_full_pair_set(spark, reg):
    import hashlib

    import pandas as pd

    from music_database_spark.plans.relational import (
        SPATIAL_R,
        SPATIAL_SPAN,
        SPATIAL_TOP,
    )

    def h(prefix, key):
        return int(hashlib.md5(f"{prefix}{key}".encode()).hexdigest()[:8], 16) % SPATIAL_SPAN

    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")["c_custkey"]
    supp = pd.read_parquet(f"{SF_SMOKE}/supplier.parquet")["s_suppkey"]
    cpts = [(int(k), h("cx:", int(k)), h("cy:", int(k))) for k in cust]
    spts = [(int(k), h("sx:", int(k)), h("sy:", int(k))) for k in supp]
    brute = sorted(
        (
            ((cx - sx) ** 2 + (cy - sy) ** 2, ck, sk)
            for ck, cx, cy in cpts
            for sk, sx, sy in spts
            if (cx - sx) ** 2 + (cy - sy) ** 2 <= SPATIAL_R**2
        )
    )
    expected = [(ck, sk, d2) for d2, ck, sk in brute[:SPATIAL_TOP]]
    got = [
        (r["custkey"], r["suppkey"], r["d2"])
        for r in reg["x_spatial_join"].build(spark, SF_SMOKE).collect()
    ]
    assert got == expected
    assert len(got) > 0  # the radius actually captures pairs at this sf


def test_prf_eval_matches_sklearn_free_reference(spark, reg):
    rows = {r["class"]: r for r in reg["x_prf_eval"].build(spark, SF_SMOKE).collect()}
    kap = reg["x_kappa"].build(spark, SF_SMOKE).collect()[0]
    # the 2x2 table is shared with x_kappa: pred=a, truth=b
    tp, fp, fn, tn = kap["n11"], kap["n10"], kap["n01"], kap["n00"]
    assert (rows[1]["tp"], rows[1]["fp"], rows[1]["fn"]) == (tp, fp, fn)
    assert (rows[0]["tp"], rows[0]["fp"], rows[0]["fn"]) == (tn, fn, fp)
    for cls, (t, p_, n_) in {1: (tp, fp, fn), 0: (tn, fn, fp)}.items():
        r = rows[cls]
        if t + p_:
            assert r["precision"] == pytest.approx(t / (t + p_), abs=1e-6)
        else:
            assert r["precision"] is None
        if t + n_:
            assert r["recall"] == pytest.approx(t / (t + n_), abs=1e-6)
        if 2 * t + p_ + n_:
            assert r["f1"] == pytest.approx(2 * t / (2 * t + p_ + n_), abs=1e-6)


def test_calibration_ece_matches_pandas_reference(spark, reg):
    import pandas as pd

    from music_database_spark.operators.quality import (
        CALIB_BINS,
        CALIB_CAP,
        KAPPA_STOP_PCT,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    stop = {"the", "a", "of", "and", "to", "in", "is", "that"}

    def outcome(text):
        toks = text.split(" ")
        hits = sum(1 for t in toks if t in stop)
        return 1 if hits * 100 >= len(toks) * KAPPA_STOP_PCT else 0

    docs["capped"] = docs["n_chars"].clip(upper=CALIB_CAP)
    docs["outcome"] = docs["text"].map(outcome)
    docs["bin"] = (docs["capped"] * CALIB_BINS // CALIB_CAP).clip(upper=CALIB_BINS - 1)
    nt = len(docs)
    rows = {r["bin"]: r for r in reg["x_calibration"].build(spark, SF_SMOKE).collect()}
    ece = 0.0
    for b in sorted(rows):
        g = docs[docs["bin"] == b]
        conf = g["capped"].sum() / (len(g) * CALIB_CAP)
        acc = g["outcome"].sum() / len(g)
        ece += abs(conf - acc) * len(g) / nt
        r = rows[b]
        assert r["n"] == len(g)
        assert r["n_pos"] == int(g["outcome"].sum())
        assert r["mean_score"] == pytest.approx(conf, abs=1e-6)
        assert r["outcome_rate"] == pytest.approx(acc, abs=1e-6)
    last = rows[max(rows)]
    assert last["ece_cum"] == pytest.approx(ece, abs=2e-6)
    assert 0.0 <= last["ece_cum"] <= 1.0


def test_twap_matches_pandas_reference_and_beats_chatty_bias(spark, reg):
    import pandas as pd

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev = ev[ev["value"].notna()].sort_values(["event_type", "ts", "event_id"])
    rows = {r["event_type"]: r for r in reg["x_twap"].build(spark, SF_SMOKE).collect()}
    for etype, g in ev.groupby("event_type"):
        # normalize to ns first: the parquet ts ships as [us] in some
        # testdata generations and [ns]-as-long in others
        t = pd.to_datetime(g["ts"]).astype("datetime64[ns]").astype("int64") // 1000
        gaps = t.shift(-1) - t
        seg = g.iloc[:-1]
        w = gaps.iloc[:-1]
        wsum = float((seg["value"].to_numpy() * w.to_numpy()).sum())
        tspan = int(w.sum())
        r = rows[etype]
        assert r["n_segments"] == len(seg)
        assert r["span_us"] == tspan
        assert r["twap"] == pytest.approx(wsum / tspan, rel=1e-6)


def test_rolling_slope_matches_numpy_ols(spark, reg):
    import numpy as np

    from music_database_spark.plans.windows import ROLL_SLOPE_DAYS

    daily = _daily_cents(SF_SMOKE)
    y = daily.to_numpy().astype(float)
    rows = {r["day"]: r for r in reg["x_rolling_slope"].build(spark, SF_SMOKE).collect()}
    n_expected = max(0, len(y) - ROLL_SLOPE_DAYS + 1)
    assert len(rows) == n_expected
    for end in range(ROLL_SLOPE_DAYS - 1, len(y)):
        xs = np.arange(end - ROLL_SLOPE_DAYS + 2, end + 2, dtype=float)
        ys = y[end - ROLL_SLOPE_DAYS + 1 : end + 1]
        slope = np.polyfit(xs, ys, 1)[0] / 100.0
        r = rows[str(daily.index[end])]
        assert r["slope_per_day"] == pytest.approx(slope, rel=1e-4, abs=1e-4)


def test_theilsen_slope_matches_numpy_pairwise_median(spark, reg):
    import math

    import numpy as np
    import pandas as pd

    from music_database_spark.plans.windows import TS_EPOCH, TS_WINDOW_DAYS

    daily = _daily_cents(SF_SMOKE)
    epoch = pd.Timestamp(TS_EPOCH).date()
    xs = np.array([(d - epoch).days for d in daily.index], dtype="int64")
    ys = daily.to_numpy()
    keep = xs > xs.max() - TS_WINDOW_DAYS
    xs, ys = xs[keep], ys[keep]
    slopes = [
        (ys[j] - ys[i]) / (xs[j] - xs[i])
        for i in range(len(xs))
        for j in range(i + 1, len(xs))
    ]
    slopes.sort()
    cnt = len(slopes)
    row = reg["x_theilsen_slope"].build(spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == len(xs)
    assert row["n_pairs"] == cnt
    for col, q in (("slope_q25", 0.25), ("slope_median", 0.50), ("slope_q75", 0.75)):
        want = slopes[math.ceil(cnt * q) - 1] / 100.0
        assert row[col] == pytest.approx(want, abs=2e-6)
    assert row["slope_q25"] <= row["slope_median"] <= row["slope_q75"]


def test_crosscorr_matches_numpy_pearson_at_each_lag(spark, reg):
    import numpy as np
    import pandas as pd

    from music_database_spark.plans.windows import XCORR_LAGS, XCORR_X, XCORR_Y

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev = ev[ev["event_type"].isin([XCORR_X, XCORR_Y])].copy()
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    ev["micros"] = (ev["value"].round(6) * 1_000_000).round().astype("int64")
    daily = (
        ev.pivot_table(
            index="day", columns="event_type", values="micros", aggfunc="sum", fill_value=0
        )
        .sort_index()
        .astype("int64")
    )
    x = daily[XCORR_X].to_numpy(dtype=float)
    y = daily[XCORR_Y].to_numpy(dtype=float)
    rows = {r["lag"]: r for r in reg["x_crosscorr"].build(spark, SF_SMOKE).collect()}
    assert set(rows) == set(XCORR_LAGS)
    for k in XCORR_LAGS:
        a = x[: len(x) - k] if k else x
        b = y[k:]
        assert rows[k]["n_pairs"] == len(a)
        want = np.corrcoef(a, b)[0, 1]
        assert rows[k]["xcorr"] == pytest.approx(want, abs=2e-6)


def test_link_prediction_matches_pandas_set_jaccard(spark, reg):
    import pandas as pd

    from music_database_spark.operators.graph import LP_MAX_PART_FREQ, LP_TOP

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")[["l_partkey", "l_suppkey"]]
    ps = li.drop_duplicates()
    freq = ps.groupby("l_partkey").size()
    capped = ps[ps["l_partkey"].map(freq) <= LP_MAX_PART_FREQ]
    parts_of: dict[int, set[int]] = {
        int(s): set(g["l_partkey"]) for s, g in capped.groupby("l_suppkey")
    }
    scored = []
    supps = sorted(parts_of)
    for ia, s1 in enumerate(supps):
        for s2 in supps[ia + 1 :]:
            c = len(parts_of[s1] & parts_of[s2])
            if c:
                d1, d2 = len(parts_of[s1]), len(parts_of[s2])
                scored.append((round(c / (d1 + d2 - c), 6), s1, s2, c, d1, d2))
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    got = reg["x_link_prediction"].build(spark, SF_SMOKE).collect()
    assert len(got) == min(LP_TOP, len(scored))
    for row, (j, s1, s2, c, d1, d2) in zip(got, scored):
        assert (row["supp_a"], row["supp_b"], row["common"]) == (s1, s2, c)
        assert (row["deg_a"], row["deg_b"]) == (d1, d2)
        assert row["pref_attach"] == d1 * d2
        assert row["jaccard"] == pytest.approx(j, abs=2e-6)


def test_lorenz_curve_is_a_valid_concentration_curve(spark, reg):
    import pandas as pd

    from music_database_spark.operators.quality import LORENZ_BINS

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    cents = (orders["o_totalprice"].round(2) * 100).round().astype("int64")
    rev = cents.groupby(orders["o_custkey"]).sum().sort_values(kind="stable")
    # rank ties broken by custkey: sort by (cents, custkey)
    rev = rev.reset_index().sort_values(["o_totalprice", "o_custkey"]).reset_index(drop=True)
    n = len(rev)
    rev["decile"] = ((rev.index + 1) * LORENZ_BINS + n - 1) // n
    bins = rev.groupby("decile")["o_totalprice"].agg(["count", "sum"])
    total = int(bins["sum"].sum())
    rows = {r["decile"]: r for r in reg["x_lorenz_curve"].build(spark, SF_SMOKE).collect()}
    assert set(rows) == set(bins.index)
    cum = 0
    for d in sorted(bins.index):
        cum += int(bins.loc[d, "sum"])
        assert rows[d]["customers"] == int(bins.loc[d, "count"])
        assert rows[d]["decile_cents"] == int(bins.loc[d, "sum"])
        assert rows[d]["pct_of_total"] == pytest.approx(
            int(bins.loc[d, "sum"]) / total, abs=2e-6
        )
        assert rows[d]["cum_pct"] == pytest.approx(cum / total, abs=2e-6)
    # curve sanity: cumulative, ends at 1, deciles ascending in share
    shares = [rows[d]["pct_of_total"] for d in sorted(rows)]
    assert all(a <= b + 1e-9 for a, b in zip(shares, shares[1:]))
    assert rows[max(rows)]["cum_pct"] == pytest.approx(1.0, abs=1e-6)


def test_group_sample_picks_k_minwise_hashes_per_stratum(spark, reg):
    import pandas as pd

    from music_database_spark.operators.pipeline import GROUP_SAMPLE_K

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    docs["hv"] = [
        int(hashlib.md5(f"gsamp:{d}".encode()).hexdigest()[:8], 16)
        for d in docs["doc_id"]
    ]
    got = reg["x_group_sample"].build(spark, SF_SMOKE).collect()
    by_group: dict[tuple, list] = {}
    for r in got:
        by_group.setdefault((r["lang"], r["source"]), []).append(r)
    for (lang, source), g in docs.groupby(["lang", "source"]):
        want = g.sort_values(["hv", "doc_id"]).head(GROUP_SAMPLE_K)
        rows = sorted(by_group[(lang, source)], key=lambda r: r["sample_rank"])
        assert len(rows) == min(GROUP_SAMPLE_K, len(g))
        assert [r["sample_rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert [r["doc_id"] for r in rows] == list(want["doc_id"])
    assert sum(len(v) for v in by_group.values()) == len(got)


def test_poisson_bootstrap_ci_brackets_mean_and_matches_python(spark, reg):
    import pandas as pd

    from music_database_spark.plans.sketches import BOOT_B, BOOT_CDF

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    cents = (orders["o_totalprice"].round(2) * 100).round().astype("int64")
    keys = orders["o_orderkey"].astype("int64")
    means = []
    for b in range(BOOT_B):
        sw = swc = 0
        for k, c in zip(keys, cents):
            u = int(hashlib.md5(f"boot:{b}:{k}".encode()).hexdigest()[:8], 16) / 2**32
            w = next((i for i, t in enumerate(BOOT_CDF) if u < t), 6)
            sw += w
            swc += w * int(c)
        means.append(swc / sw)
    means.sort()
    import math

    row = reg["x_poisson_bootstrap"].build(spark, SF_SMOKE).collect()[0]
    assert row["n_rows"] == len(cents)
    assert row["n_replicates"] == BOOT_B
    assert row["mean_price"] == pytest.approx(cents.mean() / 100.0, abs=2e-6)
    assert row["ci_lo"] == pytest.approx(
        means[math.ceil(BOOT_B * 0.025) - 1] / 100.0, abs=2e-6
    )
    assert row["ci_hi"] == pytest.approx(
        means[math.ceil(BOOT_B * 0.975) - 1] / 100.0, abs=2e-6
    )
    assert row["ci_lo"] < row["mean_price"] < row["ci_hi"]


def test_path_mining_counts_contiguous_session_trigrams(spark, reg):
    import pandas as pd

    from music_database_spark.plans.analytics import PATH_GAP_US, PATH_TOP

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    counts: dict[str, int] = {}
    for _, g in ev.groupby("user_id"):
        ts_us = pd.to_datetime(g["ts"]).astype("datetime64[us]").astype("int64")
        types = list(g["event_type"])
        sess_break = [True] + [
            (b - a) > PATH_GAP_US for a, b in zip(ts_us, ts_us[1:])
        ]
        runs: list[list[str]] = []
        for brk, t in zip(sess_break, types):
            if brk:
                runs.append([])
            runs[-1].append(t)
        for run in runs:
            for i in range(len(run) - 2):
                p = ">".join(run[i : i + 3])
                counts[p] = counts.get(p, 0) + 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:PATH_TOP]
    got = [
        (r["path"], r["n_sessions_hit"])
        for r in reg["x_path_mining"].build(spark, SF_SMOKE).collect()
    ]
    assert got == want


def test_wilson_bounds_match_closed_form_and_shrink_small_samples(spark, reg):
    import math

    import pandas as pd

    from music_database_spark.operators.quality import (
        WILSON_LONG_CHARS,
        WILSON_Z,
        WILSON_Z2,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    rows = reg["x_wilson_bounds"].build(spark, SF_SMOKE).collect()
    by_src = {r["source"]: r for r in rows}
    for source, g in docs.groupby("source"):
        n = len(g)
        k = int((g["n_chars"] > WILSON_LONG_CHARS).sum())
        p = k / n
        center = p + WILSON_Z2 / (2 * n)
        half = WILSON_Z * math.sqrt(p * (1 - p) / n + WILSON_Z2 / (4.0 * n * n))
        denom = 1 + WILSON_Z2 / n
        r = by_src[source]
        assert (r["n_docs"], r["n_long"]) == (n, k)
        assert r["rate"] == pytest.approx(p, abs=2e-6)
        assert r["wilson_lb"] == pytest.approx((center - half) / denom, abs=2e-6)
        assert r["wilson_ub"] == pytest.approx((center + half) / denom, abs=2e-6)
        assert r["wilson_lb"] <= r["rate"] + 1e-9
        assert r["wilson_ub"] >= r["rate"] - 1e-9
    # output is ranked by the lower bound
    lbs = [r["wilson_lb"] for r in rows]
    assert lbs == sorted(lbs, reverse=True)


def test_cms_join_size_overestimates_within_ams_bound(spark, reg):
    import pandas as pd

    from music_database_spark.plans.sketches import AMS_COLS, AMS_ROWS

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")["l_suppkey"]
    counts = li.value_counts()
    f2 = int((counts.astype("int64") ** 2).sum())
    # python CMS replica
    ests = []
    for i in range(AMS_ROWS):
        cells = [0] * AMS_COLS
        for s, c in counts.items():
            j = int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:8], 16) % AMS_COLS
            cells[j] += int(c)
        ests.append(sum(c * c for c in cells))
    row = reg["x_cms_join_size"].build(spark, SF_SMOKE).collect()[0]
    assert row["exact_selfjoin"] == f2
    assert row["cms_estimate"] == min(ests)
    assert row["cms_estimate"] >= f2  # collisions only ever add
    f1 = int(counts.sum())
    assert row["cms_estimate"] - f2 <= f1 * f1 / AMS_COLS * 8  # loose AMS sanity
    assert row["rel_overestimate"] == pytest.approx(
        (min(ests) - f2) / f2, abs=2e-6
    )


def test_conversion_time_matches_pandas_reference(spark, reg):
    import math

    import pandas as pd

    from music_database_spark.plans.analytics import FUNNEL_FROM, FUNNEL_TO

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["us"] = pd.to_datetime(ev["ts"]).astype("datetime64[us]").astype("int64")
    t0 = ev[ev.event_type == FUNNEL_FROM].groupby("user_id")["us"].min()
    gaps = []
    for uid, start in t0.items():
        later = ev[
            (ev.user_id == uid) & (ev.event_type == FUNNEL_TO) & (ev.us > start)
        ]["us"]
        if len(later):
            gaps.append((int(later.min() - start), uid))
    gaps.sort()
    n = len(gaps)
    row = reg["x_conversion_time"].build(spark, SF_SMOKE).collect()[0]
    assert row["n_converters"] == n
    assert row["mean_hours"] == pytest.approx(
        sum(g for g, _ in gaps) / n / 3600e6, abs=2e-6
    )
    for col, q in (
        ("hours_q25", 0.25),
        ("hours_median", 0.50),
        ("hours_q75", 0.75),
    ):
        assert row[col] == pytest.approx(
            gaps[math.ceil(n * q) - 1][0] / 3600e6, abs=2e-6
        )
    assert row["hours_q25"] <= row["hours_median"] <= row["hours_q75"]


def test_segmented_regression_splits_at_cusum_argmax(spark, reg):
    import numpy as np

    daily = _daily_cents(SF_SMOKE)
    y = daily.to_numpy().astype("int64")
    n = len(y)
    s = np.cumsum(y)
    t = int(s[-1])
    dev = np.abs(n * s - (np.arange(1, n + 1)) * t)
    istar = int(np.argmax(dev)) + 1  # ties: first day wins, matches (dev DESC, day)
    rows = {r["segment"]: r for r in reg["x_segmented_regression"].build(spark, SF_SMOKE).collect()}
    assert set(rows) == {"before", "after"}
    for seg, (lo, hi) in (("before", (0, istar)), ("after", (istar, n))):
        xs = np.arange(lo + 1, hi + 1, dtype=float)
        ys = y[lo:hi].astype(float)
        r = rows[seg]
        assert r["n_days"] == hi - lo
        assert r["mean_dollars"] == pytest.approx(ys.mean() / 100.0, abs=2e-6)
        slope = np.polyfit(xs, ys, 1)[0] / 100.0
        assert r["slope_per_day"] == pytest.approx(slope, rel=1e-4, abs=1e-4)


def test_auc_roc_matches_sklearn_free_reference(spark, reg):
    import pandas as pd

    from music_database_spark.operators.quality import KAPPA_STOP_PCT

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    stops = {"the", "a", "of", "and", "to", "in", "is", "that"}

    def outcome(text: str) -> int:
        toks = text.split(" ")
        hits = sum(1 for t in toks if t in stops)
        return 1 if 100 * hits >= KAPPA_STOP_PCT * len(toks) else 0

    docs["pos"] = [outcome(t) for t in docs["text"]]
    pos = sorted(docs[docs.pos == 1]["n_chars"])
    neg = sorted(docs[docs.pos == 0]["n_chars"])
    # O(n1*n0) exact AUC with half credit for ties
    wins = ties = 0
    for p in pos:
        for q in neg:
            if p > q:
                wins += 1
            elif p == q:
                ties += 1
    want = (wins + 0.5 * ties) / (len(pos) * len(neg))
    row = reg["x_auc_roc"].build(spark, SF_SMOKE).collect()[0]
    assert (row["n_pos"], row["n_neg"]) == (len(pos), len(neg))
    assert row["auc"] == pytest.approx(want, abs=2e-6)
    assert 0.0 <= row["auc"] <= 1.0


def test_forecast_snaive_matches_numpy_backtest(spark, reg):
    import numpy as np

    from music_database_spark.plans.windows import SNAIVE_LAG

    y = _daily_cents(SF_SMOKE).to_numpy().astype("int64")
    e = y[SNAIVE_LAG:] - y[:-SNAIVE_LAG]
    e1 = (y[1:] - y[:-1])[SNAIVE_LAG - 1 :]
    n = len(e)
    row = reg["x_forecast_snaive"].build(spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == n
    assert row["mae_dollars"] == pytest.approx(np.abs(e).mean() / 100.0, abs=2e-6)
    assert row["rmse_dollars"] == pytest.approx(
        float(np.sqrt((e.astype(float) ** 2).mean())) / 100.0, abs=1e-4
    )
    assert row["wmape"] == pytest.approx(
        np.abs(e).sum() / y[SNAIVE_LAG:].sum(), abs=2e-6
    )
    assert row["mase_vs_naive1"] == pytest.approx(
        np.abs(e).sum() / np.abs(e1).sum(), abs=2e-6
    )


def test_histogram_equidepth_buckets_are_equal_count_and_ordered(spark, reg):
    import pandas as pd

    from music_database_spark.operators.quality import EQD_BINS

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    cents = (orders["o_totalprice"].round(2) * 100).round().astype("int64")
    n = len(cents)
    rows = reg["x_histogram_equidepth"].build(spark, SF_SMOKE).collect()
    assert [r["bucket"] for r in rows] == list(range(1, EQD_BINS + 1))
    assert sum(r["n_rows"] for r in rows) == n
    assert max(r["n_rows"] for r in rows) - min(r["n_rows"] for r in rows) <= 1
    # boundaries tile the sorted domain in order
    for a, b in zip(rows, rows[1:]):
        assert a["hi_dollars"] <= b["lo_dollars"]
    srt = sorted(cents)
    assert rows[0]["lo_dollars"] == pytest.approx(srt[0] / 100.0)
    assert rows[-1]["hi_dollars"] == pytest.approx(srt[-1] / 100.0)
    # per-bucket NDV sums to at least the global NDV (boundary values can repeat)
    assert sum(r["ndv"] for r in rows) >= cents.nunique()


def test_ivf_probe_curve_is_monotone_and_consistent_with_point_harness(spark, reg):
    from music_database_spark.operators.knn import N_PROBES, TOP_K, TRAINED_PROBE_CELLS
    from music_database_spark.operators.knn_eval import PROBE_CURVE_LEVELS

    rows = {r["nprobe"]: r for r in reg["x_ivf_probe_curve"].build(spark, SF_SMOKE).collect()}
    assert set(rows) == set(PROBE_CURVE_LEVELS)
    lvls = sorted(rows)
    # cost and recall both monotone in nprobe; recall in [0, 1]
    for a, b in zip(lvls, lvls[1:]):
        assert rows[a]["n_candidates"] <= rows[b]["n_candidates"]
        assert rows[a]["n_hits"] <= rows[b]["n_hits"]
    for lv in lvls:
        assert 0.0 <= rows[lv]["recall_at_k"] <= 1.0
        assert rows[lv]["recall_at_k"] == pytest.approx(
            rows[lv]["n_hits"] / (N_PROBES * TOP_K), abs=2e-6
        )
    # the curve at nprobe=TRAINED_PROBE_CELLS must agree with the
    # single-point harness built from the same trained quantizer
    point = sum(
        r["n_hit"] for r in reg["x_ivf_recall"].build(spark, SF_SMOKE).collect()
    )
    assert rows[TRAINED_PROBE_CELLS]["n_hits"] == point


def test_lsh_empirical_curve_sums_to_the_recall_harness_point(spark, reg):
    rows = reg["x_lsh_curve_empirical"].build(spark, SF_SMOKE).collect()
    assert all(3 <= r["bucket"] <= 9 for r in rows)
    for r in rows:
        assert 0 <= r["n_caught"] <= r["n_pairs"]
        assert r["capture_rate"] == pytest.approx(
            r["n_caught"] / r["n_pairs"], abs=2e-6
        )
        assert r["jaccard_lo"] == pytest.approx(r["bucket"] / 10.0)
    # x_dedup_recall's J>=0.6 truth is EXACTLY buckets >= 6 here
    # (ni*5 >= nu*3  <=>  (ni*10) div nu >= 6), so the sums must agree
    point = reg["x_dedup_recall"].build(spark, SF_SMOKE).collect()[0]
    hi = [r for r in rows if r["bucket"] >= 6]
    assert sum(r["n_pairs"] for r in hi) == point["n_truth"]
    assert sum(r["n_caught"] for r in hi) == point["n_hit"]


def test_normalize_dedup_counts_match_pandas(spark, reg):
    import re

    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")

    def norm(t: str) -> str:
        return re.sub(" +", " ", re.sub("[^a-z0-9 ]", "", t.lower())).strip()

    rows = {r["lang"]: r for r in reg["x_normalize_dedup"].build(spark, SF_SMOKE).collect()}
    for lang, g in docs.groupby("lang"):
        raw = g.groupby("text").size()
        nrm = g["text"].map(norm).to_frame("n").groupby("n").size()
        r = rows[lang]
        assert r["n_docs"] == len(g)
        assert r["raw_dups"] == int((raw[raw > 1] - 1).sum())
        assert r["norm_dups"] == int((nrm[nrm > 1] - 1).sum())
        assert r["uncovered_by_raw"] == r["norm_dups"] - r["raw_dups"]
        assert r["norm_dups"] >= r["raw_dups"]  # normalization only merges


# --- round 6 additions --------------------------------------------------


def test_pii_scan_luhn_matches_python_reference(spark, reg):
    """The 16-term Luhn expression is pinned to a pure-Python checksum
    over the same synthetic card injection."""
    import pandas as pd

    def luhn_ok(card: str) -> bool:
        total = 0
        for i, ch in enumerate(card):  # i = offset from the LEFT, len 16
            d = int(ch)
            if (16 - 1 - i) % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["doc_id", "lang"]]
    docs = docs[docs.doc_id % 7 == 0]
    docs["card"] = (docs.doc_id * 37 % 10**16).astype(str).str.zfill(16)
    expect_valid = docs.groupby("lang")["card"].apply(lambda s: sum(luhn_ok(c) for c in s))
    expect_cards = docs.groupby("lang").size()

    out = {r["lang"]: r.asDict() for r in reg["x_pii_scan"].build(spark, SF_SMOKE).collect()}
    for lang in expect_cards.index:
        assert out[lang]["n_cards"] == expect_cards[lang]
        assert out[lang]["n_cards_luhn_valid"] == expect_valid[lang]
    # both classes occur corpus-wide (per-lang counts can be 0 at sf0.001)
    tot_valid = sum(r["n_cards_luhn_valid"] for r in out.values())
    tot_cards = sum(r["n_cards"] for r in out.values())
    assert 0 < tot_valid < tot_cards
    # IP injection: every doc_id % 11 == 0 contributes exactly one IPv4
    all_docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["doc_id"]]
    assert sum(r["n_ips"] for r in out.values()) == int((all_docs.doc_id % 11 == 0).sum())


def test_contamination_overlap_fraction_is_bounded_and_consistent(spark, reg):
    """Fractions live in [0,1]; a dirty doc implies a nonzero average;
    the doc universe matches x_decontaminate's (non-benchmark docs)."""
    rows = reg["x_contamination_overlap"].build(spark, SF_SMOKE).collect()
    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    nonbench = docs[docs.doc_id % 50 != 0].groupby("lang").size()
    for r in rows:
        assert r["n_docs"] == nonbench[r["lang"]]
        assert 0 <= r["n_dirty"] <= r["n_docs"]
        assert 0.0 <= r["avg_overlap_frac"] <= 1.0
        if r["n_dirty"] > 0:
            assert r["avg_overlap_frac"] > 0.0


def test_length_mixture_weights_rebalance_token_mass(spark, reg):
    """Cell weights must invert token mass: weight * n_tokens is the
    same (uniform target) for every cell, and doc counts add up."""
    rows = [r.asDict() for r in reg["x_length_mixture"].build(spark, SF_SMOKE).collect()]
    import pandas as pd

    n_docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet").shape[0]
    assert sum(r["n_docs"] for r in rows) == n_docs
    targets = {round(r["uniform_weight"] * r["n_tokens"], 2) for r in rows}
    assert len(targets) <= 2  # identical up to the round-6 quantization


def test_gopher_rules_fail_counts_are_consistent(spark, reg):
    rows = [r.asDict() for r in reg["x_gopher_rules"].build(spark, SF_SMOKE).collect()]
    for r in rows:
        worst_fail = max(
            r["fail_word_count"], r["fail_mean_word_len"], r["fail_alpha_frac"], r["fail_stopwords"]
        )
        total_fail_mass = (
            r["fail_word_count"] + r["fail_mean_word_len"] + r["fail_alpha_frac"] + r["fail_stopwords"]
        )
        # pass_all + docs failing >= 1 rule = n_docs (inclusion bounds)
        assert r["n_docs"] - total_fail_mass <= r["n_pass_all"] <= r["n_docs"] - worst_fail


def test_ks_statistic_matches_scipy_free_reference(spark, reg):
    """KS D pinned to a numpy ECDF computation over the same cents data."""
    import numpy as np
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")[["o_custkey", "o_totalprice"]]
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")[["c_custkey", "c_mktsegment"]]
    m = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    cents = (m.o_totalprice.map(lambda v: round(v, 2)) * 100).round().astype("int64")
    a = np.sort(cents[m.c_mktsegment == "BUILDING"].values)
    b = np.sort(cents[m.c_mktsegment == "MACHINERY"].values)
    grid = np.unique(np.concatenate([a, b]))
    d_ref = np.max(
        np.abs(
            np.searchsorted(a, grid, side="right") / len(a)
            - np.searchsorted(b, grid, side="right") / len(b)
        )
    )
    row = reg["x_ks_test"].build(spark, SF_SMOKE).collect()[0]
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert row["ks_stat"] == pytest.approx(d_ref, abs=1e-6)


def test_t_closeness_emd_matches_numpy_reference(spark, reg):
    import numpy as np
    import pandas as pd

    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")[["c_mktsegment", "c_acctbal"]]
    edges = [2500, 5000, 7500]
    cust["bucket"] = np.digitize(cust.c_acctbal, edges)
    glob = cust.bucket.value_counts(normalize=True).reindex(range(4), fill_value=0.0)
    out = {r["segment"]: r.asDict() for r in reg["x_t_closeness"].build(spark, SF_SMOKE).collect()}
    for seg, g in cust.groupby("c_mktsegment"):
        p = g.bucket.value_counts(normalize=True).reindex(range(4), fill_value=0.0)
        emd = np.abs(np.cumsum(p.values - glob.values)).sum() / 3
        assert out[seg]["emd"] == pytest.approx(emd, abs=1e-6)
        assert out[seg]["violates"] == (emd > 0.2)
        assert out[seg]["n_seg"] == len(g)


def test_tokenizer_fertility_matches_python_regex(spark, reg):
    import re

    import pandas as pd

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["lang", "text"]]
    pat = re.compile(r"[a-z]+|[0-9]|[^a-z0-9 ]")
    ref = docs.assign(
        n_sub=docs.text.map(lambda t: len(pat.findall(t))),
        n_words=docs.text.map(lambda t: len([w for w in t.split(" ") if w])),
    ).groupby("lang")[["n_sub", "n_words"]].sum()
    out = {r["lang"]: r.asDict() for r in reg["x_tokenizer_fertility"].build(spark, SF_SMOKE).collect()}
    for lang, row in ref.iterrows():
        assert out[lang]["total_subwords"] == row.n_sub
        assert out[lang]["total_words"] == row.n_words
        assert out[lang]["fertility"] == pytest.approx(row.n_sub / row.n_words, abs=1e-6)


def test_band_tuning_prefers_balanced_config_at_half_threshold(spark, reg):
    """Analytic sanity: at a 0.5 design threshold the steepest equal-
    budget S-curve near 0.5 wins; extreme configs pay either FP (many
    short bands) or FN (few long bands) mass. Pinned to a pure-Python
    recomputation of the same Riemann cost."""
    rows = {(r["bands"], r["rows_per_band"]): r.asDict()
            for r in reg["x_minhash_band_tuning"].build(spark, SF_SMOKE).collect()}
    assert set(rows) == {(32, 2), (16, 4), (8, 8), (4, 16)}

    def cost(b, r):
        fp = fn = 0.0
        for pct in range(5, 100, 5):
            s = pct / 100.0
            p = 1.0 - (1.0 - s**r) ** b
            if pct < 50:
                fp += round(p, 6)
            else:
                fn += round(1.0 - p, 6)
        return round(fp, 6), round(fn, 6)

    best = min(rows, key=lambda k: cost(*k)[0] + cost(*k)[1])
    for (b, r), row in rows.items():
        fp, fn = cost(b, r)
        assert row["fp_mass"] == pytest.approx(fp, abs=2e-6)
        assert row["fn_mass"] == pytest.approx(fn, abs=2e-6)
        assert row["is_best"] == ((b, r) == best)
    assert sum(r["is_best"] for r in rows.values()) == 1


def test_sessionized_bounce_agrees_with_x_session_and_pandas(spark, reg):
    """Session universe must equal x_session's; bounce counts pinned to
    a pandas sessionization of the same events."""
    import pandas as pd

    n_sessions_ref = len(reg["x_session"].build(spark, SF_SMOKE).collect())
    rows = [r.asDict() for r in reg["x_sessionized_bounce"].build(spark, SF_SMOKE).collect()]
    assert sum(r["n_sessions"] for r in rows) == n_sessions_ref

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet").sort_values(["user_id", "ts", "event_id"])
    bounce = {}
    for _, g in ev.groupby("user_id"):
        gaps = g.ts.diff().dt.total_seconds().fillna(1e9)
        sid = (gaps >= 1800).cumsum()
        for _, s in g.groupby(sid):
            entry = s.iloc[0].event_type
            st = bounce.setdefault(entry, [0, 0])
            st[0] += 1
            st[1] += int(len(s) == 1)
    for r in rows:
        assert [r["n_sessions"], r["n_bounces"]] == bounce[r["entry_type"]]


def test_runs_streaks_matches_pandas_islands(spark, reg):
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")[["o_custkey", "o_orderdate"]]
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")[["c_custkey", "c_mktsegment"]]
    days = orders.drop_duplicates().sort_values(["o_custkey", "o_orderdate"])
    best = {}
    for ck, g in days.groupby("o_custkey"):
        d = pd.to_datetime(g.o_orderdate).reset_index(drop=True)
        grp = d - pd.to_timedelta(range(1, len(d) + 1), unit="D")
        best[ck] = int(grp.value_counts().max())
    df = cust.assign(best=cust.c_custkey.map(best)).dropna(subset=["best"])
    ref = df.groupby("c_mktsegment").agg(
        n=("best", "size"), mx=("best", "max"), s3=("best", lambda s: int((s >= 3).sum()))
    )
    out = {r["segment"]: r.asDict() for r in reg["x_runs_streaks"].build(spark, SF_SMOKE).collect()}
    for seg, row in ref.iterrows():
        assert out[seg]["n_customers"] == row.n
        assert out[seg]["max_streak"] == row.mx
        assert out[seg]["n_streak3"] == row.s3


def test_dsir_weights_match_pure_python_reference(spark):
    """CorpusPipeline.dsir_weights vs a from-scratch Python recompute
    (hashlib buckets, Counter stats, math.log) on a tiny hand corpus —
    pins the formula and the hash family independently of both engines."""
    import math
    from collections import Counter

    from music_database_spark.corpus import CorpusPipeline

    B = 8
    corpus = [
        (0, "the cat sat on the mat", True),
        (1, "the dog ate the cat food", True),
        (2, "el gato come pescado fresco", False),
        (3, "der hund frisst das futter", False),
        (4, "the the the the", True),
        (5, "", False),
    ]

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B

    n_t: Counter = Counter()
    n_r: Counter = Counter()
    per_doc: dict[int, Counter] = {}
    for doc_id, text, is_t in corpus:
        c = Counter(bucket(t) for t in text.split(" "))
        per_doc[doc_id] = c
        n_r.update(c)
        if is_t:
            n_t.update(c)
    t_tot, r_tot = sum(n_t.values()), sum(n_r.values())
    lr = {
        b: round(
            math.log(
                ((n_t[b] + 1) * (r_tot + B)) / ((n_r[b] + 1) * (t_tot + B))
            ),
            6,
        )
        for b in n_r
    }
    expected = {
        doc_id: sum(round(c * lr[b], 6) for b, c in per_doc[doc_id].items())
        for doc_id, _, _ in corpus
    }

    docs = spark.createDataFrame(
        [(d, t) for d, t, _ in corpus], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r
        for r in CorpusPipeline(docs)
        .dsir_weights(F.col("doc_id").isin(0, 1, 4), buckets=B)
        .collect()
    }
    assert set(got) == set(expected)
    for doc_id, w in expected.items():
        assert got[doc_id]["dsir_weight"] == pytest.approx(w, abs=1e-9)
        assert got[doc_id]["is_target"] == (doc_id in (0, 1, 4))


def test_dsir_weights_vanish_when_target_is_whole_corpus(spark):
    """Exact invariant: target == raw makes every smoothed log-ratio
    ln(1) = 0 exactly (n_t == n_r and t_tot == r_tot bucket-by-bucket),
    so every document weight is exactly 0.0 — a formula-mirroring
    canary that needs no tolerance."""
    from music_database_spark.corpus import CorpusPipeline
    from music_database_spark.sources.loader import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    out = CorpusPipeline(docs).dsir_weights(F.lit(True)).collect()
    assert len(out) == docs.count()
    assert all(r["dsir_weight"] == 0.0 for r in out)


def test_padding_waste_matches_pure_python_recount(spark, reg):
    """x_padding_waste vs a from-scratch Python recount (split/shard/ceil
    on the raw parquet) — pins the per-stream ceiling arithmetic and the
    shard-overhead decomposition independently of both engines."""
    import math
    from collections import defaultdict

    out = {r["lang"]: r.asDict() for r in reg["x_padding_waste"].build(spark, SF_SMOKE).collect()}
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    stream: dict = defaultdict(int)
    for r in docs:
        ntok = len([t for t in r["text"].split(" ") if t != ""])
        stream[(r["lang"], r["doc_id"] % 8)] += ntok
    per_lang: dict = defaultdict(lambda: {"total": 0, "wins": 0, "streams": 0})
    for (lang, _), toks in stream.items():
        per_lang[lang]["total"] += toks
        per_lang[lang]["wins"] += math.ceil(toks / 2048)
        per_lang[lang]["streams"] += 1
    assert set(out) == set(per_lang)
    for lang, e in per_lang.items():
        g = out[lang]
        assert g["n_streams"] == e["streams"]
        assert g["total_tokens"] == e["total"]
        assert g["n_windows"] == e["wins"]
        assert g["padding_tokens"] == e["wins"] * 2048 - e["total"]
        assert g["padding_frac"] == pytest.approx(
            (e["wins"] * 2048 - e["total"]) / (e["wins"] * 2048), abs=1e-6
        )
        assert g["shard_overhead_windows"] == e["wins"] - math.ceil(e["total"] / 2048)
        # splitting into streams can only add windows, never remove them
        assert g["shard_overhead_windows"] >= 0


def test_embed_coherence_matches_numpy_pairwise_means(spark, reg):
    """x_embed_coherence vs a brute-force numpy recompute: normalize each
    vector, round to 6 dp (the engine contract), then average the actual
    O(n^2) pairwise dot products per label and across label pairs — the
    identity sum_{i<>j}<u_i,u_j> = ||sum u||^2 - sum ||u||^2 never enters
    the reference path, so this pins it."""
    import numpy as np

    out = {r["label"]: r.asDict() for r in reg["x_embed_coherence"].build(spark, SF_SMOKE).collect()}
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    by_label: dict = {}
    for r in emb:
        v = np.array(r["embedding"], dtype=np.float64)
        n = np.sqrt((v * v).sum())
        u = np.round(v / n, 6) if n > 0 else np.zeros_like(v)
        by_label.setdefault(r["label"], []).append(u)
    mats = {lb: np.vstack(vs) for lb, vs in by_label.items()}
    for lb, m in mats.items():
        n = m.shape[0]
        gram = m @ m.T
        intra = (gram.sum() - np.trace(gram)) / (n * (n - 1))
        inter = max(
            (mats[o].sum(axis=0) @ m.sum(axis=0)) / (mats[o].shape[0] * n)
            for o in mats
            if o != lb
        )
        g = out[lb]
        assert g["n_vecs"] == n
        assert g["intra_cos"] == pytest.approx(intra, abs=2e-6)
        assert g["max_inter_cos"] == pytest.approx(inter, abs=2e-6)
        assert g["margin"] == pytest.approx(g["intra_cos"] - g["max_inter_cos"], abs=1e-9)

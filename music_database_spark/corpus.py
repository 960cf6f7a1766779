"""CorpusPipeline — the user-facing API for the training-data pipeline
operators, parameterized over ANY documents DataFrame (id + text), not
just the driver's parquet table.

Each method is a one-line delegation to the same function its registered
query calls (operators/dedup.py, pipeline.py, quality.py, textops.py,
spans.py, corpus_health.py): the shared function takes
(docs, id_col, text_col, params), the registered query applies it to the
documents table with its constants and adds only its own projection,
aggregate or ordering. So the facade and the oracle-checked query run one
implementation per operator; tests/test_corpus_api.py checks the
facade's wiring against the registered outputs.

Every method returns a lazy DataFrame — compose freely, nothing executes
until an action. The scale notes on the registered queries apply
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import corpus_health, dedup, pipeline, quality, spans, textops


class CorpusPipeline:
    """Fluent corpus-preparation API over a documents DataFrame.

    >>> pipe = CorpusPipeline(docs)              # docs: (doc_id, text, ...)
    >>> clean = pipe.exact_dedup()
    >>> pairs = CorpusPipeline(clean).near_dup_pairs(threshold=0.6)
    >>> train = pipe.with_split().filter("split = 'train'")
    """

    def __init__(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"):
        self.docs = docs
        self.id_col = id_col
        self.text_col = text_col

    # ---- deduplication ----------------------------------------------------

    def exact_dedup(self) -> DataFrame:
        """Keep the lowest id per identical text (x_dedup_exact)."""
        return dedup.exact_dedup(self.docs, self.id_col, self.text_col)

    def near_dup_pairs(self, threshold: float = 0.6) -> DataFrame:
        """MinHash-LSH pairs verified by shingle-Jaccard >= threshold
        (x_dedup_minhash): (id_a, id_b, jaccard)."""
        return dedup.minhash_near_dups(self.docs, self.id_col, self.text_col, threshold)

    def shingle_index(self):
        """Materialize the rare-shingle inverted index ONCE (persisted)
        and return the shared (id_a, id_b, inter, n_a, n_b) pair-stats
        frame every shingle-based verify consumes. Cached on the
        pipeline instance, so

        >>> stats = pipe.shingle_index()
        >>> jac = pipe.jaccard_pairs()          # both ride the same
        >>> con = pipe.containment_pairs()      # materialization

        builds the index and the candidate self-join exactly once — the
        production contract the x_dedup_containment docstring promises
        (at 100 TB the index build IS the dominant cost; verifying a
        second similarity predicate off the shared frame is marginal).
        Pinned shared-vs-separate timing lives in PLANS.md."""
        if getattr(self, "_shingle_stats", None) is None:
            filtered, sizes = dedup.rare_shingle_index(self.docs, self.id_col, self.text_col)
            self._shingle_stats = dedup.index_pair_stats(filtered, sizes).persist()
        return self._shingle_stats

    def jaccard_pairs(self, threshold: float = 0.5) -> DataFrame:
        """Exact-Jaccard near-dup pairs off the shared shingle index —
        same output as the registered x_dedup_ngram_jaccard (pinned)."""
        return dedup.jaccard_from_stats(self.shingle_index(), threshold)

    def containment_pairs(self) -> DataFrame:
        """Broder-containment pairs off the shared shingle index — same
        output as the registered x_dedup_containment (pinned)."""
        return dedup.containment_from_stats(self.shingle_index())

    def substring_spans(self, min_tokens: int | None = None) -> DataFrame:
        """Aligned shared-token runs >= min_tokens with positions on both
        sides (the exact-substring dedup signal; x_substring_dedup /
        x_span_mask semantics). Returns (id_a, id_b, start_a, start_b,
        span)."""
        return spans.substring_span_runs(
            self.docs,
            self.id_col,
            self.text_col,
            min_span_tokens=spans.SPAN_MIN_TOKENS if min_tokens is None else min_tokens,
        )

    def span_mask_budget(self) -> DataFrame:
        """Per-doc mask budget after merging overlapping shared-span
        intervals on the losing side (x_span_mask semantics): (doc_id,
        n_sources, n_raw_spans, n_spans_merged, n_tokens_masked)."""
        return spans.mask_budget_from_runs(self.substring_spans(), self.id_col)

    # ---- splits and sampling ----------------------------------------------

    def with_split(self, train: int = 80, validation: int = 10) -> DataFrame:
        """docs + md5-bucket train/validation/test `split` (x_hash_split)."""
        return pipeline.with_split(self.docs, self.id_col, train, validation)

    def sample(self, rate_pct: int = 10, salt: str = "strat:") -> DataFrame:
        """Exact-rate deterministic per-id sample (x_stratified_sample)."""
        return self.docs.filter(pipeline.in_sample(self.id_col, rate_pct, salt))

    def group_sample(
        self, k: int = 5, by: tuple[str, ...] = ("lang", "source"), salt: str = "gsamp:"
    ) -> DataFrame:
        """docs + sample_rank: k min-wise docs per `by` group (x_group_sample)."""
        return pipeline.group_sample(self.docs, self.id_col, k, by, salt)

    # ---- quality ----------------------------------------------------------

    def with_quality_flags(self) -> DataFrame:
        """docs + (n_tok, dropped) Gopher repetition flags
        (x_repetition_filter)."""
        return pipeline.repetition_flags(self.docs, self.text_col).drop(
            "__max_cnt", "__n_bi", "__n_dup"
        )

    def redact(self, out_col: str = "text_redacted") -> DataFrame:
        """docs + email/phone-redacted text (x_redact)."""
        return pipeline.redact(self.docs, self.text_col, out_col)

    def decontaminate(
        self, bench: DataFrame, ngram: int = 4, min_overlap: int = 5
    ) -> DataFrame:
        """(id, n_overlap, contaminated) for docs sharing shingles with a
        benchmark frame of the same columns (x_decontaminate)."""
        return pipeline.decontaminate(
            self.docs, self.id_col, self.text_col, bench, ngram, min_overlap
        )

    def lm_score(self, train: DataFrame | None = None) -> DataFrame:
        """(id, n_bigrams, nll) bigram-LM scores (x_ngram_lm_score). With
        train=None the md5 train split trains and the held-out buckets are
        scored; otherwise every doc is scored against `train`."""
        return quality.ngram_lm_score(self.docs, self.id_col, self.text_col, train)

    def weighted_sample(
        self, k: int, weight_col: str, group_col: str | None = None
    ) -> DataFrame:
        """Efraimidis-Spirakis weighted sample of k docs, per group_col
        when given (x_weighted_sample); weights must be > 0."""
        return pipeline.weighted_sample(self.docs, self.id_col, k, weight_col, group_col)

    def winnow_fingerprints(self) -> DataFrame:
        """Winnowed rolling-hash fingerprint set per doc
        (x_winnow_fingerprint semantics): (id, n_kgrams, fps). Zero
        shuffle — the whole MOSS selection runs in the array domain."""
        return textops._winnow_fps(self.docs, self.id_col, self.text_col).select(
            F.col("doc_id").alias(self.id_col), "n_kgrams", "fps"
        )

    def winnow_candidates(
        self, max_fp_freq: int = 10, min_shared: int = 2
    ) -> DataFrame:
        """Near-dup candidate pairs sharing >= min_shared rare winnow
        fingerprints (x_winnow_candidates semantics): (id_a, id_b,
        n_shared). Guaranteed to surface any pair sharing a run of
        >= WINNOW_W + WINNOW_K - 1 tokens, unlike MinHash's
        probabilistic recall; the fingerprint index is frequency-capped
        so no bucket fans out more than max_fp_freq^2/2 pairs."""
        return textops.winnow_candidate_pairs(
            self.docs, self.id_col, self.text_col, max_fp_freq, min_shared
        )

    def bm25(
        self, query_terms: list[str], k1: float = 1.2, b: float = 0.75, top_k: int = 20
    ) -> DataFrame:
        """Top_k (id, n_terms, score, rnk) BM25 hits for external query
        terms (x_bm25_search)."""
        per_doc = textops.bm25_scores(
            self.docs, self.id_col, self.text_col, query_terms, k1, b
        )
        return textops.bm25_top_k(per_doc, self.id_col, top_k)

    def cluster_reps(
        self, threshold: float = 0.6, algorithm: str = "star"
    ) -> DataFrame:
        """Resolve near-dup pairs into duplicate clusters: (id, cluster_rep)
        for every doc in any near-dup pair, labeled with its component's
        min id — the keep-one decision step after near_dup_pairs.
        algorithm='star' (default) uses large-star/small-star (O(log n)
        rounds regardless of component diameter — x_dedup_clusters_star);
        'label' uses min-label propagation (O(diameter) rounds — fewer
        shuffles per round on the tiny-cluster graphs near-dup sets
        actually produce; x_dedup_clusters). Identical output either way
        (pinned in tests)."""
        pairs = self.near_dup_pairs(threshold).select("id_a", "id_b")
        fn = dedup.star_components if algorithm == "star" else dedup.label_propagation_components
        labels, _rounds = fn(pairs)
        return labels.select(
            F.col("node").alias(self.id_col), F.col("label").alias("cluster_rep")
        ).orderBy(self.id_col)

    def diff(self, other: DataFrame) -> DataFrame:
        """Snapshot diff against another documents frame (same id/text
        columns): per change-class counts of added / removed / changed /
        unchanged docs by content digest (x_snapshot_diff semantics,
        self = old snapshot, other = new). Both sides project to
        (id, md5) before the full-outer join — digests shuffle, never
        bodies. Returns (change, n, example_doc)."""
        idc, txt = self.id_col, self.text_col
        a = self.docs.select(F.col(idc).alias("id"), F.md5(txt).alias("digest"))
        b = other.select(F.col(idc).alias("id"), F.md5(txt).alias("digest"))
        j = a.alias("a").join(b.alias("b"), F.col("a.id") == F.col("b.id"), "full_outer")
        diff = j.select(
            F.coalesce(F.col("a.id"), F.col("b.id")).alias("id"),
            F.when(F.col("a.id").isNull(), "added")
            .when(F.col("b.id").isNull(), "removed")
            .when(F.col("a.digest") != F.col("b.digest"), "changed")
            .otherwise("unchanged")
            .alias("change"),
        )
        return (
            diff.groupBy("change")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("id").cast("bigint").alias("example_doc"),
            )
            .orderBy("change")
        )

    # ---- batch preparation ------------------------------------------------

    def pack_sequences(self, window_tokens: int = 2048, shards: int = 8) -> DataFrame:
        """docs + (shard, bin): greedy packing per shard stream
        (x_seq_packing)."""
        return pipeline.pack_sequences(
            self.docs, self.id_col, self.text_col, window_tokens, shards
        ).drop("__n_tok")

    def padding_waste(
        self, by: str = "lang", window_tokens: int = 2048, shards: int = 8
    ) -> DataFrame:
        """Per-`by` padding audit of the pack_sequences layout
        (x_padding_waste)."""
        return pipeline.padding_waste(
            self.docs, self.id_col, self.text_col, by, window_tokens, shards
        )

    # ---- mix planning -----------------------------------------------------

    def mix_weights(self, by: str = "lang", tau_sqrt: bool = True) -> DataFrame:
        """Temperature sampling weights per `by` value
        (x_temperature_sample)."""
        return pipeline.temperature_weights(self.docs, by, tau_sqrt)

    def token_budget(
        self, budget: int, cap_pct: int = 30, by: str = "source"
    ) -> DataFrame:
        """Capped, waterfilled token-budget allocation per `by` group
        (x_token_budget)."""
        return pipeline.token_budget(self.docs, self.text_col, budget, cap_pct, by)

    # ---- scans and audits ------------------------------------------------

    def pii_flags(self) -> DataFrame:
        """docs + (pii_card, pii_card_luhn_valid, pii_n_ips) (x_pii_scan
        without the synthetic injection)."""
        return pipeline.pii_flags(self.docs, self.text_col)

    def gopher_flags(self) -> DataFrame:
        """docs + Gopher rule booleans and pass_gopher (x_gopher_rules)."""
        return quality.gopher_flags(self.docs, self.text_col)

    def contamination_fraction(self, bench: DataFrame, ngram: int = 4) -> DataFrame:
        """(id, n_total, n_hit, overlap_frac) for every doc against a
        benchmark frame of the same columns (x_contamination_overlap)."""
        return pipeline.contamination_fraction(
            self.docs, self.id_col, self.text_col, bench, ngram
        )

    def length_mixture(self, by: str = "lang") -> DataFrame:
        """Token-length bucket x `by` histogram with uniform-target
        weights (x_length_mixture)."""
        return pipeline.length_mixture(self.docs, self.text_col, by)

    def dsir_weights(self, is_target, buckets: int = 64) -> DataFrame:
        """(id, is_target, dsir_weight) DSIR importance weights against the
        target slice marked by the boolean Column is_target
        (x_dsir_weights)."""
        w = pipeline.dsir_weights(self.docs, self.id_col, self.text_col, is_target, buckets)
        return w.withColumn("dsir_weight", F.col("dsir_weight").cast("double"))

    # ---- corpus-health metrics (round 7) ---------------------------------

    def char_entropy(self, out_col: str = "char_entropy") -> DataFrame:
        """docs + per-document character-entropy column (bits; 6-dp
        decimal fold). Same expression as x_char_entropy — filter on it
        against the ENTROPY_LOW/HIGH gates to drop degenerate or
        noise-like text. Map-only."""
        return self.docs.withColumn(
            out_col, corpus_health.char_entropy_col(self.text_col).cast("double")
        )

    def lexicon_score(
        self,
        lexicon: tuple[tuple[str, int], ...] | None = None,
        out_col: str = "lexicon_score",
    ) -> DataFrame:
        """docs + weighted lexicon-hit score (x_toxicity_lexicon's
        expression over a caller-supplied policy lexicon). Map-only; the
        lexicon compiles into one CASE expression — no join."""
        lexicon = lexicon or corpus_health.TOX_LEXICON
        return self.docs.withColumn(
            out_col, corpus_health.lexicon_score_col(self.text_col, lexicon)
        )

    def ngram_novelty(self, ngram: int = 3) -> DataFrame:
        """(id, n_ngrams, n_novel) per document — the x_ngram_novelty
        first-occurrence index over ANY corpus; novelty fraction =
        n_novel / n_ngrams. One digest-keyed partial agg, one id-keyed
        join."""
        return corpus_health.novelty_per_doc(self.docs, self.id_col, self.text_col, ngram)

    def stratified_split(
        self,
        strata_cols: list[str],
        train: float = 0.8,
        val: float = 0.9,
        salt: str = "split:",
    ) -> DataFrame:
        """docs + (split, n_stratum) with EXACT per-stratum quotas
        (x_stratified_split semantics over caller-defined strata):
        ranked md5 cut at floor(train·n)/floor(val·n), deterministic
        from ids alone. Use instead of with_split() when every stratum's
        proportions must hold to within one document."""
        return corpus_health.stratified_assign(
            self.docs, strata_cols, self.id_col, train, val, salt
        )

    def keep_best_dedup(self) -> DataFrame:
        """Canonical-text dedup keeping the variant with the LONGEST raw
        text per group (ties: lowest id) — x_dedup_keep_best's selection
        rule, returning the surviving rows. Shuffle key is the 16-byte
        canonical digest."""
        return (
            corpus_health.keep_best_rank(self.docs, self.id_col, self.text_col)
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

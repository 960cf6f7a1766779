"""The benchmark's workloads: inputs, op mix and correctness check of each.

A workload opens its inputs once per session (``open``), then a pass runs
every op of its mix in order. An op is one user-visible request: a public
call that returns a DataFrame (the *build* phase) and the Spark action
that consumes it (the *exec* phase). Checks run after the timed passes
and compare against DuckDB or against invariants; each failed check
counts as one failed op.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
from tracing import Tracer


@dataclass
class Op:
    name: str
    build: Callable[[], DataFrame]
    action: Callable[[DataFrame], None]


def _normalize():
    """The engine's own DuckDB-vs-Spark result normalizer (tools/diffcheck.py):
    sorted columns and rows, floats by repr."""
    tools = os.path.join(os.getcwd(), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from diffcheck import normalize

    return normalize


def _same(spark_pdf, duck_pdf) -> bool:
    norm = _normalize()
    a, b = norm(spark_pdf), norm(duck_pdf)
    return list(a.columns) == list(b.columns) and a.equals(b)


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")  # stdout carries the result line
    return con


# ---------------------------------------------------------------- music --

# The ad-hoc SQL op, and its DuckDB twin (same text: ANSI, integer outputs).
GENRE_SQL = """
    SELECT g.name AS genre, CAST(COUNT(*) AS BIGINT) AS n_ratings,
           CAST(SUM(r.rating) AS BIGINT) AS rating_sum
    FROM rating r
    JOIN song_genre sg ON r.song_id = sg.song_id
    JOIN genre g ON g.genre_id = sg.genre_id
    WHERE r.rating_date >= DATE '2020-01-01' AND r.rating_date < DATE '2022-01-01'
    GROUP BY g.name
    ORDER BY rating_sum DESC, genre
"""

MUSIC_EXTRA_ORACLES = {
    "highest_rated_songs": """
        SELECT s.title, ROUND(AVG(r.rating), 4) AS avg_rating, COUNT(r.rating) AS n_ratings
        FROM rating r JOIN song s ON r.song_id = s.song_id
        GROUP BY r.song_id, s.title HAVING COUNT(r.rating) >= 2
    """,
    "most_active_listeners": """
        SELECT username, COUNT(DISTINCT song_id) AS distinct_songs FROM rating GROUP BY username
    """,
    "sql": GENRE_SQL,
}


class MusicInteractive:
    """Analyst session over the 7-table music schema: the six reference
    queries, two README analyses and one ad-hoc SQL query, each collected."""

    name = "music_interactive"
    nominal_pass_s = 2.5  # a warm pass on a quiet 4-vCPU host

    def __init__(self, work: str, seed: int):
        self.inputs_dir = inputs.music_dir(work, seed)
        self.results: dict[str, list] = {}

    def open(self, spark: SparkSession) -> None:
        from music_database_spark.api import MusicDatabase

        tables = {t: spark.read.parquet(f"{self.inputs_dir}/{t}.parquet") for t in MusicDatabase.REQUIRED_TABLES}
        self.db = MusicDatabase.from_tables(spark, tables)

    def ops(self, tracer: Tracer) -> list[Op]:
        db = self.db
        calls = {
            "q1": db.top_single_artists,
            "q2": db.artists_with_last_single_in,
            "q3": db.genre_song_counts,
            "q4": db.artists_with_albums_and_singles,
            "q5": db.most_rated_songs,
            "q6": db.most_active_users,
            "highest_rated_songs": db.highest_rated_songs,
            "most_active_listeners": db.most_active_listeners,
            "sql": lambda: db.sql(GENRE_SQL),
        }

        def collect(name):
            def run(df):
                self.results[name] = df.collect()
            return run

        return [Op(n, f, collect(n)) for n, f in calls.items()]

    def check(self) -> list[str]:
        import pandas as pd
        from music_database_spark.plans.music import MUSIC_ORACLES

        con = _duck()
        for t in ("artist", "genre", "album", "user", "song", "song_genre", "rating"):
            con.execute(f"CREATE VIEW \"{t}\" AS SELECT * FROM read_parquet('{self.inputs_dir}/{t}.parquet')")
        oracles = {**MUSIC_ORACLES, **MUSIC_EXTRA_ORACLES}
        bad = []
        for name, rows in self.results.items():
            want = con.execute(oracles[name]).fetchdf()
            got = pd.DataFrame([r.asDict() for r in rows], columns=list(want.columns) if not rows else None)
            if not _same(got, want):
                bad.append(name)
        return bad


# ---------------------------------------------------------------- batch --

NEAR_DUP_THRESHOLD = 0.6
PACK_WINDOW = 2048


class BatchPipeline:
    """A pipeline user's batch over the seeded sf tables, two ops per pass:

    * ``pipeline``: one composed CorpusPipeline run, written as parquet:
      exact_dedup -> near_dup_pairs(0.6) (drop the higher id of each pair)
      -> with_quality_flags (drop flagged) -> with_split -> pack_sequences.
    * each registry query in ``queries``, fetched with toPandas (the call the
      engine's differential check uses).
    """

    name = "batch_pipeline"
    nominal_pass_s = 5.0  # a warm pass on a quiet 4-vCPU host

    def __init__(self, work: str, seed: int, fraction: float, queries: list[str]):
        from music_database_spark.registry import load_all

        self.inputs_dir = inputs.sf_dir(work, seed, fraction)
        specs = load_all()
        self.specs = {q: specs[q] for q in queries}
        self.out = os.path.join(work, "out", "packed")
        self.out_rows: list[int] = []
        self.results: dict = {}

    def open(self, spark: SparkSession) -> None:
        from music_database_spark.sources.loader import load_table

        self.spark = spark
        tables = {t: load_table(spark, self.inputs_dir, t) for t in inputs.SF_TABLES}
        self.docs = tables["documents"]

    def _dedup(self, tracer: Tracer) -> tuple[DataFrame, DataFrame]:
        from music_database_spark.corpus import CorpusPipeline

        with tracer.span("corpus.exact_dedup"):
            dedup = CorpusPipeline(self.docs).exact_dedup()
        with tracer.span("corpus.near_dup_pairs"):
            pairs = CorpusPipeline(dedup).near_dup_pairs(NEAR_DUP_THRESHOLD)
        return dedup, pairs

    def _pipeline(self, tracer: Tracer) -> DataFrame:
        from music_database_spark.corpus import CorpusPipeline

        dedup, pairs = self._dedup(tracer)
        kept = dedup.join(pairs.select(F.col("id_b").alias("doc_id")), "doc_id", "left_anti")
        with tracer.span("corpus.with_quality_flags"):
            flagged = CorpusPipeline(kept).with_quality_flags()
        with tracer.span("corpus.with_split"):
            split = CorpusPipeline(flagged.filter(~F.col("dropped"))).with_split()
        with tracer.span("corpus.pack_sequences"):
            return CorpusPipeline(split).pack_sequences(PACK_WINDOW)

    def ops(self, tracer: Tracer) -> list[Op]:
        def write(df: DataFrame) -> None:
            df.write.mode("overwrite").parquet(self.out)

        def fetch(q):
            def run(df):
                self.results[q] = df.toPandas()
            return run

        return [Op("pipeline", lambda: self._pipeline(tracer), write)] + [
            Op(q, (lambda q=q: self.specs[q].build(self.spark, self.inputs_dir)), fetch(q)) for q in self.specs
        ]

    def after_pass(self) -> None:
        """Untimed: record the written row count, read from parquet footers."""
        files = glob.glob(os.path.join(self.out, "*.parquet"))
        self.out_rows.append(sum(pq.ParquetFile(f).metadata.num_rows for f in files))

    def check(self) -> list[str]:
        con = _duck()
        for f in glob.glob(os.path.join(self.inputs_dir, "*.parquet")):
            con.execute(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM read_parquet('{f}')")
        bad = [q for q, got in self.results.items() if not _same(got, con.execute(self.specs[q].oracle).fetchdf())]
        dedup, pairs = self._dedup(Tracer(False))
        pairs = pairs.collect()
        out = f"read_parquet('{self.out}/*.parquet')"
        if dedup.count() != con.execute("SELECT COUNT(DISTINCT text) FROM documents").fetchone()[0]:
            bad.append("exact_dedup_count")
        # verified pairs only, and the higher id of each pair is gone
        written = {r[0] for r in con.execute(f"SELECT doc_id FROM {out}").fetchall()}
        if not pairs or any(
            r.id_a >= r.id_b or r.jaccard < NEAR_DUP_THRESHOLD or r.id_b in written for r in pairs
        ):
            bad.append("near_dup_pairs")
        # every pass wrote the same number of documents
        if len(set(self.out_rows)) != 1 or self.out_rows[0] != len(written):
            bad.append("packed_rows_stable")
        # every written token is counted once, and the (shard, bin) of each
        # document matches an independent prefix-sum packing of the output
        tok = "len(list_filter(string_split(text, ' '), t -> t <> ''))"
        mismatched, lost = con.execute(f"""
            WITH p AS (
                SELECT doc_id, shard, bin, n_tok, {tok} AS ntok,
                       SUM({tok}) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
                FROM {out})
            SELECT COUNT(*) FILTER (WHERE bin <> (cum - ntok) // {PACK_WINDOW} OR shard <> doc_id % 8),
                   SUM(n_tok) - SUM(ntok)
            FROM p""").fetchone()
        if mismatched or lost:
            bad.append("pack_sequences_tokens")
        splits = {r[0] for r in con.execute(f"SELECT DISTINCT split FROM {out}").fetchall()}
        if not splits <= {"train", "validation", "test"}:
            bad.append("with_split_labels")
        shutil.rmtree(self.out, ignore_errors=True)
        return bad

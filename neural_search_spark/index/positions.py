"""Positional postings: the index-backed exact-phrase path.

Lucene stores term positions inside the postings format and PhraseQuery
walks them (``org.apache.lucene.index.PostingsEnum#nextPosition``); the
scan path in :func:`neural_search_spark.search.bm25.match_phrase_scores`
re-analyzes candidate documents instead, which is correct but re-reads
content proportional to the rarest term's document frequency — at 10^12
files a common-word phrase would re-tokenize billions of docs per query.
This module is the scale-correct equivalent: positions are extracted
ONCE at ingest and persisted columnar, and a phrase query reads only the
partitions of its own terms.

Layout: ``positions/bucket=B/*.parquet`` with rows
``(term, docID, positions array<int>)`` where
``bucket = hash32(term) % n_buckets``. The term-hash partitioning makes
every query a **partition-pruned** scan (m terms → ≤ m of n_buckets
directories); within a bucket the ``term IN (...)`` predicate pushes
into the parquet row-group filter. Position lists ride parquet's own
delta/RLE int encodings — Spark-first columnar compression instead of a
hand-rolled varint stream, and the whole extract is JVM-side
(``regexp_extract_all`` + ``posexplode`` + ``collect_list``), no Python
in the build.

Adjacency at query time is pure whole-stage-codegen array algebra:
``chain_{j+1} = array_intersect(transform(chain_j, x -> x+1), pos_{j+1})``
— after the last term, ``size(chain)`` IS the exact-phrase frequency
(overlapping occurrences included, duplicate phrase terms handled, since
the chain is always a set of candidate end positions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from neural_search_spark.analysis.tokenizer import analyzed_tokens, tokenize_text
from neural_search_spark.search.bm25 import B, K1, CorpusStats, idf_col, topk
from neural_search_spark.session import local_table

N_BUCKETS = 64


def _bucket_col(term_col) -> "F.Column":
    """hash32(term) % N_BUCKETS — the same md5-prefix hash32 contract as
    pipeline/params.py, so any engine (or the oracle) can re-derive the
    pruning key."""
    h = F.conv(F.substring(F.md5(term_col), 1, 8), 16, 10).cast("long")
    return (h % N_BUCKETS).cast("int")


def build_positions(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_col: str = "docID",
) -> None:
    """corpus → positional postings table, partitioned by term-hash bucket.

    One JVM-side pass: tokenize (regexp), posexplode to (docID, pos,
    term), one groupBy (docID, term) shuffle collecting sorted position
    lists, dynamic-partition write. The shuffle moves one row per token
    occurrence — the irreducible payload of a positional index."""
    toks = analyzed_tokens(text_col)
    long = corpus.select(
        F.col(id_col).alias("docID"), F.posexplode(toks).alias("pos", "term")
    )
    rows = (
        long.groupBy("docID", "term")
        .agg(F.array_sort(F.collect_list("pos")).alias("positions"))
        .withColumn("bucket", _bucket_col(F.col("term")))
    )
    (
        rows.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )


class PositionalIndex:
    """Query wrapper over a built positions table + the corpus doclens."""

    def __init__(
        self,
        spark: SparkSession,
        pos_dir: str,
        doclens: DataFrame,
        stats: CorpusStats,
    ):
        self.spark = spark
        self.pos_dir = pos_dir
        self.doclens = doclens
        self.stats = stats

    def _term_rows(self, terms: list[str]) -> DataFrame:
        """Partition-pruned read: only the buckets (and row groups) of the
        query's terms are touched."""
        from neural_search_spark.pipeline.params import hash32_py

        buckets = sorted({hash32_py(t) % N_BUCKETS for t in terms})
        df = self.spark.read.parquet(self.pos_dir)
        return df.where(F.col("bucket").isin(buckets) & F.col("term").isin(terms))

    def match_phrase(self, phrase: str, k1: float = K1, b: float = B) -> DataFrame:
        """(docID, score), identical by contract to the scan path
        ``BM25Engine.match_phrase`` (same formula, same tie-breaks) — the
        equivalence is pinned by tests and by sharing the driver oracle."""
        terms = tokenize_text(phrase)
        if not terms:
            return local_table(self.spark, [], "docID long, score double")
        distinct_terms = sorted(set(terms))
        rows = self._term_rows(distinct_terms)
        # index-wide document frequency per distinct term (one row per
        # (term, doc) in the positions table)
        dfreq = rows.groupBy("term").agg(F.count("*").alias("ndoc"))
        pos_df = F.broadcast(
            local_table(self.spark, list(enumerate(terms)), "pos int, term string")
        )
        qidf = pos_df.join(F.broadcast(dfreq), "term").agg(
            F.sum(idf_col(self.stats.n_docs, F.col("ndoc"))).alias("qidf")
        )
        # pivot each doc's per-term position lists into columns; docs
        # missing any term drop out (conjunctive containment)
        per_term_cols = [
            F.first(
                F.when(F.col("term") == t, F.col("positions")), ignorenulls=True
            ).alias(f"p{i}")
            for i, t in enumerate(distinct_terms)
        ]
        wide = rows.groupBy("docID").agg(*per_term_cols)
        for i in range(len(distinct_terms)):
            wide = wide.where(F.col(f"p{i}").isNotNull())
        # positional chain: intersect shifted position sets term by term
        col_of = {t: f"p{i}" for i, t in enumerate(distinct_terms)}
        chain = F.col(col_of[terms[0]])
        for t in terms[1:]:
            chain = F.array_intersect(
                F.transform(chain, lambda x: x + 1), F.col(col_of[t])
            )
        verified = wide.select("docID", F.size(chain).alias("ptf")).where(
            F.col("ptf") > 0
        )
        avgdl = F.lit(self.stats.avgdl)
        ptf = F.col("ptf").cast("double")
        tf_norm = ptf / (
            ptf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dlq") / avgdl)
        )
        return (
            verified.join(self.doclens, "docID")
            .crossJoin(F.broadcast(qidf))
            .select("docID", (F.col("qidf") * tf_norm).alias("score"))
        )

    def match_phrase_prefix(
        self,
        phrase: str,
        term_dict: DataFrame,
        k1: float = K1,
        b: float = B,
        max_expansions: int | None = 50,
    ) -> DataFrame:
        """(docID, score) for ``match_phrase_prefix`` through the positional
        index — score-identical by contract to the scan path
        (:func:`neural_search_spark.search.bm25.match_phrase_prefix_scores`)
        when the expansion is uncapped; ``max_expansions`` mirrors Lucene's
        default 50 (first-in-dictionary-order wins, term asc).

        Plan = Lucene's strategy verbatim: walk the terms dictionary for
        the prefix (vocabulary-sized filter, O(max_expansions) driver
        rows), then bucket-PRUNED positional lookups for fixed + expansion
        terms only, per-doc position-chain intersect with the expansion
        slots unioned. Nothing re-reads stored text."""
        terms = tokenize_text(phrase)
        if len(terms) < 2:
            raise ValueError("match_phrase_prefix needs >= 2 analyzed terms")
        fixed, prefix = terms[:-1], terms[-1]
        exp_df = term_dict.where(F.col("term").startswith(prefix)).orderBy("term")
        if max_expansions is not None:
            exp_df = exp_df.limit(int(max_expansions))
        exp = [r["term"] for r in exp_df.collect()]  # O(max_expansions) rows
        if not exp:
            return local_table(self.spark, [], "docID long, score double")
        distinct_fixed = sorted(set(fixed))
        rows = self._term_rows(sorted(set(distinct_fixed) | set(exp)))
        rows_f = rows.where(F.col("term").isin(distinct_fixed))
        dfreq = rows_f.groupBy("term").agg(F.count("*").alias("ndoc"))
        pos_df = F.broadcast(
            local_table(self.spark, list(enumerate(fixed)), "pos int, term string")
        )
        qidf = pos_df.join(F.broadcast(dfreq), "term").agg(
            F.sum(idf_col(self.stats.n_docs, F.col("ndoc"))).alias("qidf")
        )
        per_term_cols = [
            F.first(
                F.when(F.col("term") == t, F.col("positions")), ignorenulls=True
            ).alias(f"p{i}")
            for i, t in enumerate(distinct_fixed)
        ]
        wide = rows_f.groupBy("docID").agg(*per_term_cols)
        for i in range(len(distinct_fixed)):
            wide = wide.where(F.col(f"p{i}").isNotNull())
        # expansion slot: the union of every expansion term's positions
        # (positions are disjoint across terms — one term per position)
        pe = (
            rows.where(F.col("term").isin(exp))
            .groupBy("docID")
            .agg(F.flatten(F.collect_list("positions")).alias("pe"))
        )
        col_of = {t: f"p{i}" for i, t in enumerate(distinct_fixed)}
        chain = F.col(col_of[fixed[0]])
        for t in fixed[1:]:
            chain = F.array_intersect(
                F.transform(chain, lambda x: x + 1), F.col(col_of[t])
            )
        chain = F.array_intersect(
            F.transform(chain, lambda x: x + 1), F.col("pe")
        )
        verified = (
            wide.join(pe, "docID")
            .select("docID", F.size(chain).alias("ptf"))
            .where(F.col("ptf") > 0)
        )
        avgdl = F.lit(self.stats.avgdl)
        ptf = F.col("ptf").cast("double")
        tf_norm = ptf / (
            ptf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dlq") / avgdl)
        )
        return (
            verified.join(self.doclens, "docID")
            .crossJoin(F.broadcast(qidf))
            .select("docID", (F.col("qidf") * tf_norm).alias("score"))
        )

    def match_phrase_topk(self, phrase: str, k: int = 10) -> DataFrame:
        return topk(self.match_phrase(phrase), k)

    def span_near(
        self, phrase: str, slop: int = 0, k1: float = K1, b: float = B
    ) -> DataFrame:
        """In-order proximity query (``span_near`` with ``in_order: true``):
        every adjacent term pair at distance 1..slop+1 tokens.

        Deterministic contract (documented simplification of Lucene's
        total-slop accounting, which budgets slop across the whole span):
        the slop here is PER GAP, and the frequency is the number of
        distinct END positions reachable — exactly ``match_phrase`` when
        ``slop=0``. Scoring is the phrase formula with this frequency.

        The chain step generalizes the phrase intersect to a union over
        the allowed gap widths — still pure codegen array algebra:
        ``chain' = distinct(∪_{d=1..slop+1} ((chain + d) ∩ pos_next))``.
        """
        terms = tokenize_text(phrase)
        if not terms:
            return local_table(self.spark, [], "docID long, score double")
        distinct_terms = sorted(set(terms))
        rows = self._term_rows(distinct_terms)
        dfreq = rows.groupBy("term").agg(F.count("*").alias("ndoc"))
        pos_df = F.broadcast(
            local_table(self.spark, list(enumerate(terms)), "pos int, term string")
        )
        qidf = pos_df.join(F.broadcast(dfreq), "term").agg(
            F.sum(idf_col(self.stats.n_docs, F.col("ndoc"))).alias("qidf")
        )
        per_term_cols = [
            F.first(
                F.when(F.col("term") == t, F.col("positions")), ignorenulls=True
            ).alias(f"p{i}")
            for i, t in enumerate(distinct_terms)
        ]
        wide = rows.groupBy("docID").agg(*per_term_cols)
        for i in range(len(distinct_terms)):
            wide = wide.where(F.col(f"p{i}").isNotNull())
        col_of = {t: f"p{i}" for i, t in enumerate(distinct_terms)}
        def _shift(expr, d: int):
            # a 1-arg lambda is mandatory: a second (defaulted) parameter
            # makes Spark pass the element INDEX as the extra argument
            return F.transform(expr, lambda x: x + F.lit(d))

        chain = F.col(col_of[terms[0]])
        for t in terms[1:]:
            steps = [
                F.array_intersect(_shift(chain, d), F.col(col_of[t]))
                for d in range(1, slop + 2)
            ]
            chain = F.array_distinct(
                steps[0] if len(steps) == 1 else F.concat(*steps)
            )
        verified = wide.select("docID", F.size(chain).alias("ptf")).where(
            F.col("ptf") > 0
        )
        avgdl = F.lit(self.stats.avgdl)
        ptf = F.col("ptf").cast("double")
        tf_norm = ptf / (
            ptf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dlq") / avgdl)
        )
        return (
            verified.join(self.doclens, "docID")
            .crossJoin(F.broadcast(qidf))
            .select("docID", (F.col("qidf") * tf_norm).alias("score"))
        )

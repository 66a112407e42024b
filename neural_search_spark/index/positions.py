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
``(term, docID, positions array<int>, dlq, ndoc)`` where
``bucket = hash32(term) % n_buckets``, ``dlq`` is the doc's SmallFloat
length and ``ndoc`` the term's document count over the whole field
(Lucene keeps norms and docFreq in the index, beside the positions). A
phrase query therefore reads nothing but its terms' rows: no doclens
join, no df aggregation. The term-hash partitioning makes every query a
**partition-pruned** scan (m terms → ≤ m of n_buckets directories);
within a bucket the ``term IN (...)`` predicate pushes into the parquet
row-group filter. Position lists ride parquet's own delta/RLE int
encodings — Spark-first columnar compression instead of a hand-rolled
varint stream, and the whole extract is JVM-side
(``regexp_extract_all`` + ``posexplode`` + ``collect_list``), no Python
in the build. A dir written before ``dlq``/``ndoc`` joined the rows is
refused at :class:`PositionalIndex` construction: rebuild it.

Adjacency at query time is pure whole-stage-codegen array algebra, built
once in ``PositionalIndex._phrase_freqs``:
``chain_{j+1} = array_intersect(transform(chain_j, x -> x+1), pos_{j+1})``
— after the last term, ``size(chain)`` IS the exact-phrase frequency
(overlapping occurrences included, duplicate phrase terms handled, since
the chain is always a set of candidate end positions). ``match_phrase``,
``match_phrase_prefix`` (its last slot is the prefix's dictionary
expansion) and ``span_near`` (a per-gap slop) are thin wrappers over that
chain, and all three score through
:func:`neural_search_spark.search.bm25.phrase_scores`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from neural_search_spark.analysis.tokenizer import tokenize_text
from neural_search_spark.search.bm25 import B, K1, CorpusStats, doc_tokens, phrase_scores, topk
from neural_search_spark.session import local_table

N_BUCKETS = 64
#: ``match_phrase_prefix`` expands its last slot to at most this many
#: dictionary terms (Lucene's default ``max_expansions``), so the
#: driver-side expansion ``collect()`` is bounded.
MAX_EXPANSIONS = 50


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

    One JVM-side pass: tokenize (regexp) and quantize the doc length once
    per doc (:func:`~neural_search_spark.search.bm25.doc_tokens`),
    posexplode to (docID, dlq, pos, term), one groupBy (docID, term)
    collecting sorted position lists, then one exchange by bucket that
    also serves the ``ndoc`` window (a bucket is a function of the term)
    and the dynamic-partition write."""
    long = doc_tokens(corpus, text_col, id_col).select(
        "docID", "dlq", F.posexplode_outer("toks").alias("pos", "term")
    )
    rows = (
        long.where(F.col("term").isNotNull())
        .groupBy("docID", "dlq", "term")
        .agg(F.array_sort(F.collect_list("pos")).alias("positions"))
        .withColumn("bucket", _bucket_col(F.col("term")))
        .repartition("bucket")
    )
    ndoc = F.count(F.lit(1)).over(Window.partitionBy("bucket", "term"))
    (
        rows.select("term", "docID", "positions", "dlq", ndoc.alias("ndoc"), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )


class PositionalIndex:
    """Query wrapper over a built positions table and its field's stats.

    ``doclens`` is accepted for the callers' sake and not read: every
    position row carries its doc's ``dlq`` and its term's ``ndoc``. The
    table is read (listed, schema inferred) once, here; a dir whose rows
    lack ``dlq``/``ndoc`` raises ``ValueError``."""

    def __init__(
        self,
        spark: SparkSession,
        pos_dir: str,
        doclens: DataFrame,
        stats: CorpusStats,
    ):
        self.spark = spark
        self.pos_dir = pos_dir
        self.stats = stats
        self._rows = spark.read.parquet(pos_dir)
        missing = [c for c in ("dlq", "ndoc") if c not in self._rows.columns]
        if missing:
            raise ValueError(
                f"positions dir {pos_dir} has no {', '.join(missing)} column: it was "
                "written by an older build_positions; rebuild it"
            )

    def _term_rows(self, terms: list[str]) -> DataFrame:
        """Partition-pruned read: only the buckets (and row groups) of the
        query's terms are touched."""
        from neural_search_spark.pipeline.params import hash32_py

        buckets = sorted({hash32_py(t) % N_BUCKETS for t in terms})
        return self._rows.where(F.col("bucket").isin(buckets) & F.col("term").isin(terms))

    def _phrase_freqs(
        self, slots: list[tuple[str, ...]], slop: int = 0
    ) -> tuple[DataFrame, dict]:
        """The position chain → (``(docID, ptf, dlq, …)`` rows, the ``ndoc``
        column of each one-term slot), where ``ptf`` counts the distinct end
        positions of in-order runs over the slots with every gap 1..slop+1
        tokens wide.

        A slot is a set of terms: one term for a fixed position, the
        expansion set for a prefix slot. Each distinct slot pivots into
        one column of the doc's rows: a one-term slot into the struct of
        its row's positions and ``ndoc``, a multi-term slot into the union
        of its terms' position lists (one term per position, so they are
        disjoint); a doc missing any slot drops out. The doc's ``dlq`` is
        a grouping key (every row of a doc carries the same one). The
        chain is then
        ``chain' = ∪_{d=1..slop+1} (transform(chain, x -> x+d) ∩ slot)``,
        a plain ``array_intersect`` at slop 0 (already a set) and
        ``array_distinct`` over the concatenated steps otherwise."""
        pivot = sorted(set(slots))
        col_of = {s: f"p{i}" for i, s in enumerate(pivot)}
        rows = self._term_rows(sorted({t for s in pivot for t in s}))
        per_slot, present, positions = [], [], {}
        for s in pivot:
            c = col_of[s]
            if len(s) == 1:
                hit = F.struct("positions", "ndoc")
                agg = F.first(F.when(F.col("term") == s[0], hit), ignorenulls=True)
                present.append(F.col(c).isNotNull())
                positions[s] = F.col(f"{c}.positions")
            else:
                agg = F.flatten(F.collect_list(F.when(F.col("term").isin(list(s)), F.col("positions"))))
                present.append(F.size(c) > 0)
                positions[s] = F.col(c)
            per_slot.append(agg.alias(c))
        wide = rows.groupBy("docID", "dlq").agg(*per_slot)
        for cond in present:
            wide = wide.where(cond)
        chain = positions[slots[0]]
        for s in slots[1:]:
            # a 1-arg lambda is mandatory: a second (defaulted) parameter
            # makes Spark pass the element INDEX as the extra argument
            steps = [
                F.array_intersect(F.transform(chain, lambda x: x + d), positions[s])
                for d in range(1, slop + 2)
            ]
            chain = steps[0] if slop == 0 else F.array_distinct(F.concat(*steps))
        ndoc = {s: F.col(f"{c}.ndoc") for s, c in col_of.items() if len(s) == 1}
        return wide.withColumn("ptf", F.size(chain)).where(F.col("ptf") > 0), ndoc

    def match_phrase(self, phrase: str, k1: float = K1, b: float = B) -> DataFrame:
        """(docID, score), identical by contract to the scan path
        ``BM25Engine.match_phrase`` (same formula, same tie-breaks) — the
        equivalence is pinned by tests and by sharing the driver oracle."""
        return self.span_near(phrase, 0, k1, b)

    def match_phrase_prefix(
        self, phrase: str, term_dict: DataFrame, k1: float = K1, b: float = B
    ) -> DataFrame:
        """(docID, score) for ``match_phrase_prefix``: the fixed terms
        match exactly, the last slot matches any of the first
        :data:`MAX_EXPANSIONS` dictionary terms (term asc) that start with
        the last analyzed term. The query weight is Σ idf over the FIXED
        positions only: the open slot contributes none.

        Plan = Lucene's strategy verbatim: walk the terms dictionary for
        the prefix (vocabulary-sized filter, at most MAX_EXPANSIONS driver
        rows), then bucket-PRUNED positional lookups for fixed + expansion
        terms only, one position chain with the expansion as its last
        slot. Nothing re-reads stored text."""
        terms = tokenize_text(phrase)
        if len(terms) < 2:
            raise ValueError("match_phrase_prefix needs >= 2 analyzed terms")
        fixed, prefix = terms[:-1], terms[-1]
        exp_df = term_dict.where(F.col("term").startswith(prefix)).orderBy("term")
        exp = [r["term"] for r in exp_df.limit(MAX_EXPANSIONS).collect()]
        if not exp:
            return local_table(self.spark, [], "docID long, score double")
        verified, ndoc = self._phrase_freqs([(t,) for t in fixed] + [tuple(exp)])
        # idf over the fixed positions only: the open slot carries no weight
        return phrase_scores(verified, self.stats, [ndoc[(t,)] for t in fixed], k1, b)

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
        ``slop=0``. Scoring is the phrase formula with this frequency."""
        terms = tokenize_text(phrase)
        if not terms:
            return local_table(self.spark, [], "docID long, score double")
        verified, ndoc = self._phrase_freqs([(t,) for t in terms], slop)
        return phrase_scores(verified, self.stats, [ndoc[(t,)] for t in terms], k1, b)

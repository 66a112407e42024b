"""Lucene-compatible BM25 scoring as declarative DataFrame plans.

Scoring contract (public Lucene ``BM25Similarity``, inherited untouched by
the reference plugin — SURVEY.md §2.2; reference hybrid ITs build clauses
from plain ``matchQuery``/``termQuery``,
``src/test/java/.../query/HybridQueryIT.java:139-141``):

    idf(t)  = ln(1 + (N - n_t + 0.5) / (n_t + 0.5))
    tfNorm  = tf / (tf + k1 * (1 - b + b * dlq / avgdl))
    score   = Σ_t idf(t) * tfNorm            (k1=1.2, b=0.75)

where ``dlq`` is the SmallFloat-byte4 *quantized* doc length
(:mod:`neural_search_spark.index.smallfloat`) and ``avgdl`` is the raw
(unquantized) mean token count — exactly Lucene's
``sumTotalTermFreq / docCount``. Lucene ≥ 8 dropped the ``(k1+1)``
numerator factor (rank-neutral); we follow.

Plan shape (scale notes):
- query terms are a tiny DataFrame → **broadcast** join against postings;
  the postings side is filtered *before* any aggregation, so only rows
  for query terms move.
- document frequency per term is computed from the filtered postings
  (postings rows are distinct (term, docID) pairs), then broadcast back.
- one final ``groupBy(docID)`` shuffle over candidate rows only
  (|query terms| lists), never the corpus.

Tie-break on equal scores is docID ascending — the reference's
coordinator merge comparator (``processor/combination/ScoreCombiner.java:43-56``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from neural_search_spark.analysis.tokenizer import (
    TOKEN_PATTERN,
    term_freq_rows,
    term_freqs_udf,
    tokenize_text,
)

K1 = 1.2
B = 0.75


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    total_tokens: int

    @property
    def avgdl(self) -> float:
        return self.total_tokens / self.n_docs if self.n_docs else 0.0


def quantized_doc_lengths(corpus: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """corpus → (docID, dl, dlq). dl via the Arrow tokenizer; the SmallFloat
    quantization runs JVM-side (bin/shift built-ins) so it stays inside
    whole-stage codegen."""
    dl = corpus.select(
        F.col(id_col).alias("docID"),
        term_freqs_udf(F.col(text_col)).getField("dl").alias("dl"),
    )
    return dl.withColumn("dlq", quantize_length_col("dl"))


def quantize_length_col(dl_col_name: str):
    """SmallFloat byte4 round-trip as a Spark SQL expression (no UDF; the
    identical string runs on DuckDB for the oracle gate)."""
    from neural_search_spark.index.smallfloat import quantize_length_sql

    return F.expr(quantize_length_sql(dl_col_name))


def corpus_stats_from_doclens(doclens: DataFrame) -> CorpusStats:
    row = doclens.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tot")
    ).collect()[0]
    return CorpusStats(n_docs=row["n"], total_tokens=int(row["tot"] or 0))


def idf_col(n_docs: int, ndoc_col) -> "F.Column":
    n = F.lit(float(n_docs))
    return F.log(F.lit(1.0) + (n - ndoc_col + F.lit(0.5)) / (ndoc_col + F.lit(0.5)))


def bm25_clause_scores(
    spark,
    postings: DataFrame,
    doclens: DataFrame,
    stats: CorpusStats,
    terms: list[str],
    k1: float = K1,
    b: float = B,
    candidate_docs: DataFrame | None = None,
    operator: str = "or",
    minimum_should_match: int | None = None,
) -> DataFrame:
    """Score one lexical clause (match/term) → (docID, score).

    ``postings`` is the long-form (docID, term, tf) DataFrame (from
    :func:`term_freq_rows` or the compressed-index reader); ``doclens``
    carries (docID, dl, dlq). ``candidate_docs`` (optional, one ``docID``
    column) restricts *membership* only — per Lucene semantics a pushed
    filter never changes idf/avgdl, so document frequency is computed
    before the filter is applied (``HybridQueryBuilder.java:107-122``
    pushes filters into clauses; Lucene stats stay index-wide).

    ``operator`` — OpenSearch-core ``match`` semantics: ``"or"`` (default,
    any term matches) or ``"and"`` (every distinct query term must occur —
    the BooleanQuery-of-MUST rewrite). ``minimum_should_match`` — with
    ``"or"``, the minimum count of distinct query terms a doc must
    contain. Both are MEMBERSHIP constraints; the score stays the plain
    per-term BM25 sum (Lucene scores the same terms it matched).
    """
    if operator not in ("or", "and"):
        raise ValueError(f"unknown match operator {operator}")
    terms = sorted(set(terms))
    if not terms:
        return postings.sparkSession.range(0).select(
            F.col("id").alias("docID"), F.lit(0.0).alias("score")
        )
    qt = F.broadcast(spark.createDataFrame([(t,) for t in terms], "term string"))
    matched = postings.join(qt, "term")
    # document frequency per query term over the full corpus: postings rows
    # are distinct (term, docID), so a plain count is n_t
    dfreq = matched.groupBy("term").agg(F.count("*").alias("ndoc"))
    if candidate_docs is not None:
        matched = matched.join(candidate_docs.select("docID"), "docID", "semi")
    matched = matched.join(F.broadcast(dfreq), "term").join(doclens, "docID")
    avgdl = F.lit(stats.avgdl)
    tf = F.col("tf").cast("double")
    tf_norm = tf / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dlq") / avgdl))
    term_score = idf_col(stats.n_docs, F.col("ndoc")) * tf_norm
    need = None
    if operator == "and":
        need = len(terms)
    elif minimum_should_match:
        # no clamp: Lucene's BooleanQuery matches NOTHING when
        # minimum_should_match exceeds the optional clause count, so
        # msm=5 on a 3-term query must yield an empty result
        need = int(minimum_should_match)
    agg = matched.groupBy("docID").agg(
        F.sum(term_score).alias("score"), F.count("*").alias("_nt")
    )
    if need is not None:
        # postings rows are distinct (term, docID) → _nt counts distinct
        # matched query terms
        agg = agg.where(F.col("_nt") >= need)
    return agg.select("docID", "score")


def match_only_text_scores(engine: "BM25Engine", query_text: str) -> DataFrame:
    """``match`` against a ``match_only_text`` delegate raw field
    (``SemanticFieldMapper.java:263-270`` delegate set): the type indexes
    docs only — no freqs, no norms — so per-term scoring collapses to a
    CONSTANT 1.0 (the repo's documented constant-score-rewrite treatment
    for unscored multi-term/docs-only matches inside bool); the match
    query's bool-SHOULD sum is then the count of DISTINCT analyzed query
    terms present in the doc. Membership-only postings access — the same
    plan shape as a term query, no doc-length join, no idf broadcast."""
    from neural_search_spark.analysis.tokenizer import tokenize_text

    terms = sorted(set(tokenize_text(query_text)))
    if not terms:
        return engine.spark.range(0).select(
            F.col("id").alias("docID"), F.lit(0.0).alias("score")
        )
    qt = F.broadcast(
        engine.spark.createDataFrame([(t,) for t in terms], "term string")
    )
    # postings rows are distinct (term, docID) → count(*) = distinct terms
    return (
        engine.postings.join(qt, "term")
        .groupBy("docID")
        .agg(F.count("*").cast("double").alias("score"))
    )


def match_bool_prefix_scores(engine: "BM25Engine", query_text: str) -> DataFrame:
    """``match_bool_prefix`` (search-as-you-type's non-positional sibling
    of ``match_phrase_prefix``): the analyzed terms become a bool SHOULD —
    every term but the last as a scored BM25 term query, the LAST as a
    prefix query under its constant-score rewrite (1.0 per matching doc,
    the repo's documented treatment of multi-term rewrites inside bool).
    score = BM25 sum over the fixed terms + 1.0 if any dictionary term
    with the prefix occurs; a doc matches if ANY sub-query matches
    (msm=1). Terms need no positions — unlike the phrase variant, word
    order is free.

    Plan shape: the fixed terms reuse the standard broadcast clause path;
    the prefix expansion walks the distinct-term dictionary and
    semi-joins postings under the settings broadcast cap — nothing scans
    stored text."""
    from neural_search_spark import stats as _stats

    _stats.record_event("match_bool_prefix_query_requests")
    terms = tokenize_text(query_text)
    if not terms:
        return engine.spark.range(0).select(
            F.col("id").alias("docID"), F.lit(0.0).alias("score")
        )
    fixed, prefix = terms[:-1], terms[-1]
    parts = [prefix_query_scores(engine, prefix)]
    if fixed:
        parts.append(
            bm25_clause_scores(
                engine.spark, engine.postings, engine.doclens, engine.stats, fixed
            )
        )
    long = parts[0]
    for p in parts[1:]:
        long = long.unionByName(p)
    return long.groupBy("docID").agg(F.sum("score").alias("score"))


def bm25_batch_scores(
    spark,
    postings: DataFrame,
    doclens: DataFrame,
    stats: CorpusStats,
    queries: dict[int, list[str]],
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Score MANY lexical queries in ONE plan → (qid, docID, score).

    The set-oriented restatement of the reference's per-request search
    path: where OpenSearch executes one query per request, a Spark
    engine scoring a batch (offline eval sets, query logs, training-pair
    mining) should join the whole (qid, term) query table against
    postings ONCE — one postings scan, one (qid, docID) aggregation —
    instead of N independent jobs. Per-query scores are identical to
    :func:`bm25_clause_scores` (same idf over the full corpus, same
    SmallFloat-quantized norms).

    Scale shape: the query table broadcasts (it is query-log-sized, not
    corpus-sized); postings shuffle once keyed by (qid, docID). A term
    shared by q queries fans its postings rows out q times — that IS the
    semantics (each query must see the term's postings)."""
    pairs = sorted(
        {(int(qid), t) for qid, ts in queries.items() for t in ts if t}
    )
    if not pairs:
        return spark.range(0).select(
            F.col("id").cast("int").alias("qid"),
            F.col("id").alias("docID"),
            F.lit(0.0).alias("score"),
        )
    qt = F.broadcast(spark.createDataFrame(pairs, "qid int, term string"))
    dfreq = (
        postings.join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("ndoc"))
    )
    matched = (
        postings.join(qt, "term")
        .join(F.broadcast(dfreq), "term")
        .join(doclens, "docID")
    )
    avgdl = F.lit(stats.avgdl)
    tf = F.col("tf").cast("double")
    tf_norm = tf / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dlq") / avgdl))
    term_score = idf_col(stats.n_docs, F.col("ndoc")) * tf_norm
    return matched.groupBy("qid", "docID").agg(F.sum(term_score).alias("score"))


def bm25_batch_topk(
    engine: "BM25Engine", queries: dict[int, list[str]], k: int = 10
) -> DataFrame:
    """Per-query top-k over a scored batch: ONE window partitioned by qid
    (never a global sort — each query's heap is independent, exactly the
    per-shard collector model). Round-then-cut (score round4, docID asc)
    so the cut is reproducible across engines."""
    from pyspark.sql import Window

    scored = bm25_batch_scores(
        engine.spark, engine.postings, engine.doclens, engine.stats, queries
    )
    r4 = F.round(F.col("score"), 4)
    w = Window.partitionBy("qid").orderBy(r4.desc(), F.col("docID").asc())
    return (
        scored.select("qid", "docID", r4.alias("score"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .select("qid", "docID", "score")
        .orderBy("qid", F.col("score").desc(), "docID")
    )


def phrase_freq_col(toks_col, terms: list[str]):
    """Exact-phrase frequency (slop 0) over an analyzed token-array column:
    the number of positions i where ``toks[i..i+m-1] == terms``. Runs as a
    higher-order-function expression (sequence/filter/element_at) — fully
    JVM-side, inside whole-stage codegen. The ``size >= m`` guard matters:
    Spark's ``sequence(1, 0)`` counts *down*, unlike DuckDB's empty range."""
    m = len(terms)
    positions = F.sequence(F.lit(1), F.size(toks_col) - (m - 1))

    def _match_at(i):
        cond = F.element_at(toks_col, i) == F.lit(terms[0])
        for j, t in enumerate(terms[1:], start=1):
            cond = cond & (F.element_at(toks_col, i + j) == F.lit(t))
        return cond

    return F.when(
        F.size(toks_col) >= m, F.size(F.filter(positions, _match_at))
    ).otherwise(F.lit(0))


_TOKEN_RE = re.compile(TOKEN_PATTERN)


def phrase_freq_text_col(text_col, terms: list[str]):
    """Exact-phrase frequency (slop 0) computed DIRECTLY on the lowercased
    text with one ``regexp_count`` pass — position-equivalent to
    tokenize-then-:func:`phrase_freq_col`, ~2 orders of magnitude cheaper
    (the array form evaluates an interpreted higher-order lambda per token
    position; this is a single NFA sweep inside codegen).

    Equivalence: analyzer tokens are MAXIMAL runs of ``[a-z0-9_]``
    (``TOKEN_PATTERN``), so (1) a token occurrence of ``terms[0]`` starts
    exactly where the lookbehind ``(?<![a-z0-9_])`` holds before a run
    equal to it, (2) "consecutive tokens" means separated by one-or-more
    non-token chars (two adjacent runs would have merged), hence the
    ``[^a-z0-9_]+`` inter-term separator admits no intervening token, and
    (3) the whole needle sits in a zero-width lookahead so every matching
    start offset counts once — OVERLAPPING phrase occurrences included
    (Java's matcher advances one char past an empty match), exactly the
    per-position count of the array form. Every term must match
    ``^[a-z0-9_]+$`` (true for any analyzer output), else ValueError: a
    regex metacharacter would change the pattern."""
    if not terms or not all(_TOKEN_RE.fullmatch(t) for t in terms):
        raise ValueError(f"phrase terms must be non-empty analyzer tokens [a-z0-9_]+: {terms!r}")
    needle = "[^a-z0-9_]+".join(terms)
    pat = f"(?=(?<![a-z0-9_]){needle}(?![a-z0-9_]))"
    return F.regexp_count(F.lower(text_col), F.lit(pat)).cast("int")


def match_phrase_scores(
    spark,
    corpus: DataFrame,
    postings: DataFrame,
    doclens: DataFrame,
    stats: CorpusStats,
    phrase: str,
    k1: float = K1,
    b: float = B,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """``match_phrase`` query → (docID, score), Lucene ``PhraseQuery`` BM25:

        score = (Σ_j idf(term_j)) * ptf / (ptf + k1·(1 − b + b·dlq/avgdl))

    where ``ptf`` is the exact-phrase frequency and the idf sum runs over
    the phrase's terms *in order, duplicates included* (Lucene
    ``PhraseWeight`` builds one ``TermStatistics`` per phrase position).
    Only docs with ``ptf > 0`` match.

    Plan = Lucene's two-step exact-phrase strategy, Spark-shaped:
    1. **postings intersection** — docs containing ALL distinct terms
       (broadcast the tiny term list into the postings scan, one groupBy
       over candidate rows only). At 10^12 files this is the index path:
       nothing but rows for the phrase's terms ever moves.
    2. **positional verify** — re-analyze ONLY the intersected docs
       (semi-join pushed into the corpus scan) and count adjacent runs
       with a codegen higher-order function. The corpus-wide tokenize
       never happens; candidate cardinality is bounded by the rarest
       term's document frequency.
    """
    terms = tokenize_text(phrase)
    if not terms:
        return spark.range(0).select(F.col("id").alias("docID"), F.lit(0.0).alias("score"))
    distinct_terms = sorted(set(terms))
    qt = F.broadcast(
        spark.createDataFrame([(t,) for t in distinct_terms], "term string")
    )
    matched = postings.join(qt, "term")
    # index-wide document frequency per distinct term (Lucene stats are
    # filter/candidate-independent)
    dfreq = matched.groupBy("term").agg(F.count("*").alias("ndoc"))
    # phrase idf: one row per phrase POSITION joined to its term's ndoc
    pos_df = F.broadcast(
        spark.createDataFrame(list(enumerate(terms)), "pos int, term string")
    )
    qidf = (
        pos_df.join(F.broadcast(dfreq), "term")
        .agg(F.sum(idf_col(stats.n_docs, F.col("ndoc"))).alias("qidf"))
    )
    # conjunctive candidates: every distinct term present
    cand = (
        matched.groupBy("docID")
        .agg(F.count("*").alias("nt"))
        .where(F.col("nt") == len(distinct_terms))
        .select("docID")
    )
    # positional verify via ONE regexp_count sweep over the candidate text
    # (position-equivalent to tokenize + phrase_freq_col — see
    # phrase_freq_text_col's equivalence note; the array form paid an
    # interpreted lambda per token position and dominated the scan path)
    verified = (
        corpus.join(cand, corpus[id_col] == cand["docID"], "left_semi")
        .select(
            F.col(id_col).alias("docID"),
            phrase_freq_text_col(F.col(text_col), terms).alias("ptf"),
        )
        .where(F.col("ptf") > 0)
    )
    avgdl = F.lit(stats.avgdl)
    ptf = F.col("ptf").cast("double")
    tf_norm = ptf / (ptf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dlq") / avgdl))
    return (
        verified.join(doclens, "docID")
        .crossJoin(F.broadcast(qidf))
        .select("docID", (F.col("qidf") * tf_norm).alias("score"))
    )


def multi_match_scores(
    engine: "BM25Engine",
    fields: dict[str, float],
    query_text: str,
    match_type: str = "best_fields",
    tie_breaker: float = 0.0,
    k1: float = K1,
    b: float = B,
    pos_indexes: dict | None = None,
) -> DataFrame:
    """``multi_match`` query over several text fields → (docID, score).

    Lucene semantics (the reference inherits OpenSearch core's
    ``MultiMatchQueryBuilder``; each field is its own index with its own
    df/avgdl statistics):

    - ``best_fields`` (DisMax): score = max_f + tie_breaker · Σ(other f)
    - ``most_fields``: score = Σ_f field_score
    - ``phrase``: each field runs ``match_phrase`` on the query text;
      fields combine DisMax like best_fields
      (``MultiMatchQueryBuilder.Type.PHRASE``)

    ``fields`` maps field name → boost (multiplies that field's BM25
    score). Scale shape: per-field artifacts come from
    :meth:`BM25Engine.field_artifacts` — derived once per engine, cached,
    reused across queries (at 100 TB these are per-field persisted
    indexes); the combine is a single groupBy over the per-field
    candidate rows only (never the corpus).

    ``pos_indexes`` — optional map of field name →
    :class:`neural_search_spark.index.positions.PositionalIndex` built on
    THAT field's text with that field's doclens/stats. When a phrase-mode
    field has one, the phrase runs through the positional postings
    (partition-pruned bucket read + codegen position-chain intersect) —
    Lucene stores positions per field inside the postings format, so
    ``MultiMatchQueryBuilder.Type.PHRASE`` never re-reads stored text;
    the scan path (re-tokenizing every candidate's full field text) stays
    only as the index-less fallback and dies first at 100× scale.
    """
    if match_type not in ("best_fields", "most_fields", "phrase"):
        raise ValueError(f"unknown multi_match type {match_type}")
    terms = tokenize_text(query_text)
    per_field = []
    for fld, boost in sorted(fields.items()):
        pidx = (pos_indexes or {}).get(fld)
        if match_type == "phrase" and pidx is not None:
            sc = pidx.match_phrase(query_text, k1=k1, b=b)
        elif match_type == "phrase":
            postings, doclens, stats = engine.field_artifacts(fld)
            sc = match_phrase_scores(
                engine.spark, engine.corpus, postings, doclens, stats,
                query_text, k1=k1, b=b, text_col=fld, id_col=engine.id_col,
            )
        else:
            postings, doclens, stats = engine.field_artifacts(fld)
            sc = bm25_clause_scores(
                engine.spark, postings, doclens, stats, terms, k1=k1, b=b
            )
        per_field.append(
            sc.select("docID", (F.col("score") * F.lit(float(boost))).alias("fscore"))
        )
    long = per_field[0]
    for df in per_field[1:]:
        long = long.unionByName(df)
    agg = long.groupBy("docID").agg(
        F.max("fscore").alias("mx"), F.sum("fscore").alias("sm")
    )
    if match_type == "most_fields":
        score = F.col("sm")
    else:  # best_fields and phrase both combine DisMax
        score = F.col("mx") + F.lit(float(tie_breaker)) * (F.col("sm") - F.col("mx"))
    return agg.select("docID", score.alias("score"))


# Lucene bounds multi-term rewrites (BooleanQuery.maxClauseCount = 1024
# clauses by default before the rewrite switches strategy); the analogous
# Spark hazard is the broadcast of the expanded term set, so the cap here
# guards the broadcast rather than erroring. Default only — the live value
# comes from the settings surface ("max_broadcast_expansion").
MAX_BROADCAST_EXPANSION = 65536


def _expansion_semi_join(engine: "BM25Engine", expanded: DataFrame) -> DataFrame:
    """Semi-join postings against a multi-term expansion (prefix / fuzzy /
    wildcard). Small expansions broadcast; an oversized one (short prefix,
    leading-* wildcard — potentially a large fraction of a 100 TB corpus
    vocabulary) falls back to a shuffle-hash semi-join (hinted, so the
    planner's size estimate can't re-broadcast it) instead of shipping
    millions of terms to every executor and risking driver OOM."""
    from neural_search_spark import settings

    cap = int(settings.get("max_broadcast_expansion"))
    probe = expanded.limit(cap + 1).count()
    if probe <= cap:
        return engine.postings.join(F.broadcast(expanded), "term", "left_semi")
    return engine.postings.join(
        expanded.hint("shuffle_hash"), "term", "left_semi"
    )


def prefix_query_scores(engine: "BM25Engine", prefix: str) -> DataFrame:
    """Lucene ``prefix`` query under its default CONSTANT_SCORE rewrite:
    every doc containing ANY term with the prefix scores 1.0 (the
    MultiTermQuery constant-score path — expansion never touches BM25
    stats). Plan = Lucene's terms-dict walk, Spark-shaped: the starts-with
    predicate runs over the DISTINCT-term dictionary (vocabulary-sized —
    millions of rows at 100 TB), and the expansion broadcast-semi-joins
    back into postings (billions of rows) — never a per-posting string
    scan."""
    from neural_search_spark import stats as _stats

    _stats.record_event("prefix_query_requests")
    expanded = engine.term_dict.where(F.col("term").startswith(prefix.lower()))
    matched = _expansion_semi_join(engine, expanded)
    return matched.select("docID").distinct().select(
        "docID", F.lit(1.0).alias("score")
    )


def terms_query_scores(engine: "BM25Engine", terms: list[str]) -> DataFrame:
    """Lucene ``terms`` query (constant-score): docs containing ANY of the
    exact terms score 1.0. One broadcast semi-filter over postings."""
    from neural_search_spark import stats as _stats

    _stats.record_event("terms_query_requests")
    tl = sorted({t.lower() for t in terms})
    qt = F.broadcast(
        engine.spark.createDataFrame([(t,) for t in tl], "term string")
    )
    return (
        engine.postings.join(qt, "term")
        .select("docID")
        .distinct()
        .select("docID", F.lit(1.0).alias("score"))
    )


def fuzzy_query_scores(
    engine: "BM25Engine", term: str, max_edits: int = 1, prefix_length: int = 0
) -> DataFrame:
    """Lucene ``fuzzy`` query, constant-score contract: docs containing any
    term within ``max_edits`` Levenshtein edits of ``term`` (sharing the
    first ``prefix_length`` chars) score 1.0. The expansion runs on the
    postings term column with the built-in ``levenshtein`` (JVM-side);
    Lucene bounds the automaton walk the same way the prefix_length prune
    bounds the candidate dictionary here."""
    from neural_search_spark import stats as _stats

    _stats.record_event("fuzzy_query_requests")
    t = term.lower()
    # Expand over the distinct-term dictionary (Lucene walks the terms
    # dict with a Levenshtein automaton): one string-distance evaluation
    # per VOCABULARY term, not per posting occurrence. Edit distance also
    # bounds the length delta, pruning the dict before Levenshtein runs.
    expanded = engine.term_dict
    if prefix_length > 0:
        expanded = expanded.where(F.col("term").startswith(t[:prefix_length]))
    expanded = expanded.where(
        (F.length("term") >= len(t) - max_edits)
        & (F.length("term") <= len(t) + max_edits)
        & (F.levenshtein(F.col("term"), F.lit(t)) <= max_edits)
    )
    matched = _expansion_semi_join(engine, expanded)
    return matched.select("docID").distinct().select(
        "docID", F.lit(1.0).alias("score")
    )


def match_all_scores(engine: "BM25Engine") -> DataFrame:
    """Lucene ``match_all``: every doc scores 1.0 (the reference's own ITs
    compose hybrid clauses from matchAllQuery — HybridQueryIT). One
    column-pruned corpus scan."""
    from neural_search_spark import stats as _stats

    _stats.record_event("match_all_query_requests")
    return engine.corpus.select(
        F.col(engine.id_col).alias("docID"), F.lit(1.0).alias("score")
    )


def ids_query_scores(engine: "BM25Engine", values: list[int]) -> DataFrame:
    """Lucene ``ids`` query: membership in an explicit docID list,
    constant score 1.0. The literal list folds into the scan predicate
    (partition/row-group prunable)."""
    from neural_search_spark import stats as _stats

    _stats.record_event("ids_query_requests")
    return engine.corpus.where(
        F.col(engine.id_col).isin([int(v) for v in values])
    ).select(F.col(engine.id_col).alias("docID"), F.lit(1.0).alias("score"))


def wildcard_query_scores(engine: "BM25Engine", pattern: str) -> DataFrame:
    """Lucene ``wildcard`` query (constant-score rewrite): ``*`` matches
    any run, ``?`` one char. The expansion walks the distinct-term
    dictionary (like prefix/fuzzy — never per-posting) with a SQL LIKE
    translated from the pattern, then broadcast-semi-joins postings."""
    from neural_search_spark import stats as _stats

    _stats.record_event("wildcard_query_requests")
    like = (
        pattern.lower()
        .replace("\\", "\\\\")
        .replace("%", "\\%")
        .replace("_", "\\_")
        .replace("*", "%")
        .replace("?", "_")
    )
    # Spark SQL string literals treat backslash as an escape, so the LIKE
    # pattern's escape backslashes double up in the SQL text
    sql_pat = like.replace("\\", "\\\\").replace("'", "''")
    expanded = engine.term_dict.where(
        F.expr(f"term LIKE '{sql_pat}' ESCAPE '\\\\'")
    )
    matched = _expansion_semi_join(engine, expanded)
    return matched.select("docID").distinct().select(
        "docID", F.lit(1.0).alias("score")
    )


def range_query_scores(
    engine: "BM25Engine",
    field: str,
    gte=None,
    lt=None,
) -> DataFrame:
    """``range`` query over a corpus field (constant-score): membership by
    bound predicates, score 1.0. One pushdown-friendly corpus scan."""
    from neural_search_spark import stats as _stats

    _stats.record_event("range_query_requests")
    cond = F.lit(True)
    if gte is not None:
        cond = cond & (F.col(field) >= gte)
    if lt is not None:
        cond = cond & (F.col(field) < lt)
    return engine.corpus.where(cond).select(
        F.col(engine.id_col).alias("docID"), F.lit(1.0).alias("score")
    )


def dis_max_scores(
    clauses: list[DataFrame], tie_breaker: float = 0.0
) -> DataFrame:
    """Lucene ``dis_max`` query over scored clause frames: a doc matching
    any clause scores max + tie_breaker · Σ(others) — the same DisMax
    combine multi_match best_fields uses, over arbitrary sub-queries.
    Plan: one union + one groupBy over clause candidate rows."""
    from functools import reduce

    long = reduce(
        DataFrame.unionByName, [df.select("docID", "score") for df in clauses]
    )
    agg = long.groupBy("docID").agg(
        F.max("score").alias("mx"), F.sum("score").alias("sm")
    )
    return agg.select(
        "docID",
        (F.col("mx") + F.lit(float(tie_breaker)) * (F.col("sm") - F.col("mx"))).alias(
            "score"
        ),
    )


def boosting_query_scores(
    positive: DataFrame, negative: DataFrame, negative_boost: float
) -> DataFrame:
    """Lucene ``boosting`` query: positive-clause scores, demoted (×
    negative_boost) for docs also matching the negative clause —
    membership-only demotion, never exclusion. Plan: one broadcast-able
    left semi-ish join (left join on the negative membership)."""
    neg = negative.select("docID").distinct().withColumn("_neg", F.lit(1))
    return (
        positive.join(neg, "docID", "left")
        .select(
            "docID",
            F.when(F.col("_neg").isNotNull(), F.col("score") * F.lit(float(negative_boost)))
            .otherwise(F.col("score"))
            .alias("score"),
        )
    )


def constant_score_query(inner: DataFrame, boost: float = 1.0) -> DataFrame:
    """Lucene ``constant_score`` wrapper: every doc matching the inner
    clause scores exactly ``boost``."""
    return inner.select("docID").distinct().select(
        "docID", F.lit(float(boost)).alias("score")
    )


def bool_query_scores(
    must: list[DataFrame] | tuple = (),
    should: list[DataFrame] | tuple = (),
    must_not: list[DataFrame] | tuple = (),
    filter_docs: DataFrame | None = None,
    minimum_should_match: int | None = None,
) -> DataFrame:
    """Lucene ``bool`` query composition over (docID, score) clause frames.

    Semantics (OpenSearch core ``BoolQueryBuilder``, inherited by the
    reference's bool-wrapped hybrid filters — ``search/spec.py`` unwraps
    the single-MUST case; this is the general scorer):

    - a doc matches iff it matches every ``must`` clause AND at least
      ``minimum_should_match`` of the ``should`` clauses (default 1 when
      there are no must/filter clauses, else 0) AND no ``must_not`` clause
    - score = Σ must scores + Σ *matching* should scores
    - ``filter_docs`` / ``must_not`` are membership-only (never scored)

    The additions are laid out in a fixed written order (must first, then
    zero-filled should) so both engines sum left-associated over identical
    doubles. Plan shape: a chain of docID equi-joins over per-clause
    candidate sets — each clause is already top-k-free but term-pruned, so
    the join inputs are candidate-sized, never corpus-sized; must_not is a
    broadcast-able anti-join.
    """
    must, should, must_not = list(must), list(should), list(must_not)
    if not must and not should:
        raise ValueError("bool query needs at least one must or should clause")
    base = None
    for i, df in enumerate(must):
        m = df.select("docID", F.col("score").alias(f"m{i}"))
        base = m if base is None else base.join(m, "docID")
    for j, df in enumerate(should):
        s = df.select("docID", F.col("score").alias(f"s{j}"))
        if base is None:
            base = s
        else:
            base = base.join(s, "docID", "left" if must else "full")
    if minimum_should_match is None:
        minimum_should_match = 0 if (must or filter_docs is not None) else 1
    if should and minimum_should_match > 0:
        matched = None
        for j in range(len(should)):
            c = F.when(F.col(f"s{j}").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            matched = c if matched is None else matched + c
        base = base.where(matched >= F.lit(minimum_should_match))
    score = None
    for i in range(len(must)):
        c = F.col(f"m{i}")
        score = c if score is None else score + c
    for j in range(len(should)):
        c = F.coalesce(F.col(f"s{j}"), F.lit(0.0))
        score = c if score is None else score + c
    out = base.select("docID", score.alias("score"))
    if filter_docs is not None:
        out = out.join(filter_docs.select("docID"), "docID", "semi")
    for df in must_not:
        out = out.join(df.select("docID"), "docID", "left_anti")
    return out


def topk(scored: DataFrame, k: int, score_col: str = "score") -> DataFrame:
    """Reference final cut: score desc, docID asc tie-break
    (``ScoreCombiner.java:43-56,204-209``)."""
    return scored.orderBy(F.desc(score_col), F.asc("docID")).limit(k)


class BM25Engine:
    """Convenience wrapper binding a corpus to its derived artifacts.

    The DataFrame-path engine: everything below is lazily-declared Spark
    plans; Catalyst handles pushdown/pruning. The compressed block-max
    index path lives in :mod:`neural_search_spark.index.builder` /
    :mod:`neural_search_spark.search.wand`.
    """

    def __init__(self, spark, corpus: DataFrame, text_col: str = "content", id_col: str = "docID"):
        self.spark = spark
        self.corpus = corpus
        self.text_col = text_col
        self.id_col = id_col
        self.postings = term_freq_rows(corpus, text_col, id_col)
        self.doclens = quantized_doc_lengths(corpus, text_col, id_col)
        self._stats: CorpusStats | None = None
        self._term_dict: DataFrame | None = None
        self._cached = False
        # per-field (postings, doclens, stats) for multi_match — built once
        # per engine, the Spark analog of Lucene's one-index-per-field
        self._field_artifacts: dict[str, tuple[DataFrame, DataFrame, CorpusStats]] = {}

    def cache(self) -> "BM25Engine":
        """Materialize derived tables once for repeated queries (query-time
        hot path; at scale this is the persisted postings index instead)."""
        self.postings = self.postings.cache()
        self.doclens = self.doclens.cache()
        self._cached = True
        return self

    @property
    def stats(self) -> CorpusStats:
        if self._stats is None:
            self._stats = corpus_stats_from_doclens(self.doclens)
        return self._stats

    @property
    def term_dict(self) -> DataFrame:
        """Distinct-term dictionary (one row per vocabulary term) — the
        expansion target for prefix/fuzzy rewrites (Lucene's terms dict).
        Vocabulary-sized, so cached whenever the engine is."""
        if self._term_dict is None:
            td = self.postings.select("term").distinct()
            self._term_dict = td.cache() if self._cached else td
        return self._term_dict

    def field_artifacts(self, field: str) -> tuple[DataFrame, DataFrame, CorpusStats]:
        """(postings, doclens, stats) for an arbitrary text field, derived
        once per engine and reused across queries (multi_match hot path —
        at 100 TB these are per-field persisted indexes). The engine's own
        text field aliases the already-cached primary artifacts."""
        if field == self.text_col:
            return self.postings, self.doclens, self.stats
        if field not in self._field_artifacts:
            p = term_freq_rows(self.corpus, field, self.id_col)
            d = quantized_doc_lengths(self.corpus, field, self.id_col)
            if self._cached:
                p, d = p.cache(), d.cache()
            self._field_artifacts[field] = (p, d, corpus_stats_from_doclens(d))
        return self._field_artifacts[field]

    def match(
        self,
        query_text: str,
        k1: float = K1,
        b: float = B,
        filter_expr: str | None = None,
        operator: str = "or",
        minimum_should_match: int | None = None,
    ) -> DataFrame:
        """``match`` query: analyze the text, OR the terms (Lucene default;
        ``operator="and"`` requires every term, ``minimum_should_match``
        sets an OR floor). ``filter_expr`` is a SQL predicate over corpus
        columns, pushed into the clause (restricts candidates, not
        stats)."""
        from neural_search_spark import stats as _stats

        _stats.record_event("match_query_requests")
        cand = self.corpus.where(filter_expr).select(F.col(self.id_col).alias("docID")) if filter_expr else None
        return bm25_clause_scores(
            self.spark, self.postings, self.doclens, self.stats,
            tokenize_text(query_text), k1=k1, b=b, candidate_docs=cand,
            operator=operator, minimum_should_match=minimum_should_match,
        )

    def term(self, term: str, k1: float = K1, b: float = B) -> DataFrame:
        """``term`` query: single unanalyzed term."""
        from neural_search_spark import stats as _stats

        _stats.record_event("term_query_requests")
        return bm25_clause_scores(
            self.spark, self.postings, self.doclens, self.stats, [term], k1=k1, b=b
        )

    def match_phrase(self, phrase: str, k1: float = K1, b: float = B) -> DataFrame:
        """``match_phrase`` query: exact adjacent-run phrase (slop 0)."""
        from neural_search_spark import stats as _stats

        _stats.record_event("match_phrase_query_requests")
        return match_phrase_scores(
            self.spark, self.corpus, self.postings, self.doclens, self.stats,
            phrase, k1=k1, b=b, text_col=self.text_col, id_col=self.id_col,
        )

    def match_topk(self, query_text: str, k: int = 10) -> DataFrame:
        return topk(self.match(query_text), k)


def more_like_this_scores(
    engine: "BM25Engine",
    seed_doc: int,
    max_query_terms: int = 10,
    min_term_freq: int = 2,
    min_doc_freq: int = 2,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """``more_like_this`` query (Lucene MoreLikeThis over one seed doc):
    select the seed's "interesting" terms — tf ≥ min_term_freq and
    df ≥ min_doc_freq — ranked by (tf desc, df asc, term asc), keep the
    top ``max_query_terms``, then run them as a BM25 OR-clause excluding
    the seed doc itself.

    DOCUMENTED DEVIATION: Lucene MLT ranks candidate terms by tf·idf
    interest score; this integer-exact ordering is NOT monotone with
    tf·idf (a tf=1 rare term can outrank a tf=2 common term in Lucene but
    never here). It is chosen deliberately so the term cut is
    reproducible bit-for-bit across engines (no float-cut divergence
    between Spark and the DuckDB oracle); the selected query-term set can
    therefore differ from the reference's on ties the float score would
    break differently.

    Scale shape: the seed side is ONE document's postings (pushed-down
    docID filter on the postings scan), its df lookup a broadcast
    semi-join pruned to those terms; the collect fetches
    ≤ max_query_terms rows. Scoring reuses the standard clause path."""
    from neural_search_spark import stats as _stats

    _stats.record_event("mlt_query_requests")
    seed = engine.postings.where(
        (F.col("docID") == int(seed_doc)) & (F.col("tf") >= int(min_term_freq))
    ).select("term", "tf")
    dfc = (
        engine.postings.join(F.broadcast(seed.select("term")), "term", "semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("ndoc"))
    )
    cand = (
        seed.join(dfc, "term")
        .where(F.col("ndoc") >= int(min_doc_freq))
        .orderBy(F.col("tf").desc(), F.col("ndoc").asc(), F.col("term").asc())
        .limit(int(max_query_terms))
    )
    terms = [r["term"] for r in cand.collect()]  # O(max_query_terms) rows
    if not terms:
        return engine.spark.createDataFrame([], "docID long, score double")
    scored = bm25_clause_scores(
        engine.spark, engine.postings, engine.doclens, engine.stats, terms, k1=k1, b=b
    )
    return scored.where(F.col("docID") != int(seed_doc))


def regexp_query_scores(engine: "BM25Engine", pattern: str) -> DataFrame:
    """Lucene ``regexp`` query (constant-score rewrite): the pattern —
    written in the RE2∩Java common dialect — filters the distinct-term
    dictionary; the expansion broadcast-semi-joins postings like
    prefix/fuzzy/wildcard. Lucene anchors regexp terms implicitly while
    rlike does not, so the pattern is wrapped ``^(?:...)$`` HERE (not by
    caller convention) — the oracle twin applies the identical wrap."""
    from neural_search_spark import stats as _stats

    _stats.record_event("regexp_query_requests")
    anchored = f"^(?:{pattern})$"
    expanded = engine.term_dict.where(F.col("term").rlike(anchored))
    matched = _expansion_semi_join(engine, expanded)
    return matched.select("docID").distinct().select(
        "docID", F.lit(1.0).alias("score")
    )


def rank_feature_saturation(
    features: DataFrame,
    value_col: str,
    pivot: float,
    boost: float = 1.0,
    id_col: str = "docID",
) -> DataFrame:
    """``rank_feature`` query with the ``saturation`` function:
    score = boost · v / (v + pivot) (Lucene FeatureQuery; OpenSearch
    rank_feature default when pivot is set). Matches only docs where the
    feature exists and is positive, like the field type. Pure projection —
    composes as a bool should-clause beside BM25 clauses."""
    v = F.col(value_col).cast("double")
    return features.where(v > 0).select(
        F.col(id_col).alias("docID"),
        (F.lit(float(boost)) * v / (v + F.lit(float(pivot)))).alias("score"),
    )


def function_score_field_value(
    scored: DataFrame,
    features: DataFrame,
    value_col: str,
    factor: float = 1.0,
    id_col: str = "docID",
) -> DataFrame:
    """``function_score`` wrapping a scored clause with
    ``field_value_factor`` (modifier=log1p, boost_mode=multiply):
    score = clause_score · ln(1 + factor · v). One docID equi-join against
    the feature column (a doc-values fetch in Lucene terms); missing
    features score as v = 0 → multiplier ln(1) = 0, like missing=0."""
    v = F.col(value_col).cast("double")
    feats = features.select(F.col(id_col).alias("docID"), v.alias("_fv"))
    return (
        scored.join(feats, "docID", "left")
        .select(
            "docID",
            (
                F.col("score")
                * F.log1p(F.lit(float(factor)) * F.coalesce(F.col("_fv"), F.lit(0.0)))
            ).alias("score"),
        )
    )


def term_suggest(
    engine: "BM25Engine", text: str, max_edits: int = 2, size: int = 5
) -> DataFrame:
    """Lucene/OpenSearch ``term`` suggester analog: correction candidates
    from the distinct-term dictionary within Levenshtein ≤ ``max_edits``
    of the input (the input itself excluded), ranked by the suggester's
    sort — distance asc, then document frequency desc, then term asc (an
    integer-exact ordering, so the cut reproduces across engines).

    Scale shape: the dictionary scan is vocabulary-sized (Lucene bounds it
    with an FST automaton; the term-dict filter is the Spark analog), the
    frequency lookup a broadcast-pruned postings semi-join over only the
    surviving candidates."""
    from neural_search_spark import stats as _stats

    _stats.record_event("term_suggest_requests")
    q = F.lit(text.lower())
    cand = (
        engine.term_dict.where(F.levenshtein(F.col("term"), q) <= int(max_edits))
        .where(F.col("term") != q)
        .select("term", F.levenshtein(F.col("term"), q).cast("int").alias("distance"))
    )
    freqs = (
        engine.postings.join(F.broadcast(cand.select("term")), "term", "semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return (
        cand.join(freqs, "term")
        .orderBy(F.col("distance").asc(), F.col("freq").desc(), F.col("term").asc())
        .limit(int(size))
        .select("term", "distance", "freq")
    )


def match_phrase_prefix_scores(
    spark,
    corpus: DataFrame,
    postings: DataFrame,
    doclens: DataFrame,
    stats: CorpusStats,
    phrase: str,
    k1: float = K1,
    b: float = B,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """``match_phrase_prefix`` (Lucene ``MultiPhraseQuery`` from the
    phrase-prefix rewrite): the last analyzed term matches as a PREFIX at
    its position, the others exactly — the search-as-you-type query.
    ptf counts positions where the fixed terms align and the final slot
    starts with the prefix; the query weight is Σ idf over the FIXED
    positions (the open prefix slot contributes no idf — its expansion is
    unbounded, Lucene rewrites it to a multi-term position).

    Plan mirrors :func:`match_phrase_scores`: postings intersection on
    the fixed terms prunes candidates (the prefix slot adds a term-dict
    LIKE expansion semi-join, bounded like prefix_query_scores); the
    positional verify re-analyzes candidates only."""
    terms = tokenize_text(phrase)
    if len(terms) < 2:
        raise ValueError("match_phrase_prefix needs >= 2 analyzed terms")
    fixed, prefix = terms[:-1], terms[-1]
    m = len(terms)
    distinct_fixed = sorted(set(fixed))
    qt = F.broadcast(
        spark.createDataFrame([(t,) for t in distinct_fixed], "term string")
    )
    matched = postings.join(qt, "term")
    dfreq = matched.groupBy("term").agg(F.count("*").alias("ndoc"))
    pos_df = F.broadcast(
        spark.createDataFrame(list(enumerate(fixed)), "pos int, term string")
    )
    qidf = pos_df.join(F.broadcast(dfreq), "term").agg(
        F.sum(idf_col(stats.n_docs, F.col("ndoc"))).alias("qidf")
    )
    cand_fixed = (
        matched.groupBy("docID")
        .agg(F.count("*").alias("nt"))
        .where(F.col("nt") == len(distinct_fixed))
        .select("docID")
    )
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)")
    positions = F.sequence(F.lit(1), F.size("_toks") - (m - 1))

    def _match_at(i):
        cond = F.element_at(F.col("_toks"), i) == F.lit(fixed[0])
        for j, t in enumerate(fixed[1:], start=1):
            cond = cond & (F.element_at(F.col("_toks"), i + j) == F.lit(t))
        return cond & F.element_at(F.col("_toks"), i + (m - 1)).startswith(prefix)

    verified = (
        corpus.join(cand_fixed, corpus[id_col] == cand_fixed["docID"], "left_semi")
        .select(F.col(id_col).alias("docID"), toks.alias("_toks"))
        .select(
            "docID",
            F.when(
                F.size("_toks") >= m, F.size(F.filter(positions, _match_at))
            )
            .otherwise(F.lit(0))
            .alias("ptf"),
        )
        .where(F.col("ptf") > 0)
    )
    avgdl = F.lit(stats.avgdl)
    ptf = F.col("ptf").cast("double")
    tf_norm = ptf / (ptf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dlq") / avgdl))
    return (
        verified.join(doclens, "docID")
        .crossJoin(F.broadcast(qidf))
        .select("docID", (F.col("qidf") * tf_norm).alias("score"))
    )

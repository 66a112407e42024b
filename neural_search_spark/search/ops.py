"""Secondary query operators: rerank, sort-by-field, search_after,
pagination, collapse — thin declarative DataFrame compositions.

Reference parity notes per operator in each docstring; all tie-breaks are
(score desc, docID asc) per ``processor/combination/ScoreCombiner.java:43-56``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def rerank_by_field(
    results: DataFrame,
    docs: DataFrame,
    target_field: str,
    keep_previous_score: bool = False,
    id_col: str = "docID",
) -> DataFrame:
    """``rerank.by_field`` response processor
    (``processor/rerank/ByFieldRerankProcessor.java:72-107``): replace the
    score with a numeric field from the hit source, optionally keeping the
    previous score as ``previous_score``, then re-sort."""
    from neural_search_spark import stats as _stats

    _stats.record_event("rerank_by_field_executions")
    joined = results.join(docs.select(F.col(id_col).alias("docID"), target_field), "docID")
    cols = [F.col("docID"), F.col(target_field).cast("double").alias("score")]
    if keep_previous_score:
        cols.append(F.col("score").alias("previous_score"))
    return joined.select(*cols).orderBy(F.desc("score"), F.asc("docID"))


def rerank_document_context(
    docs: DataFrame, fields: list[str], id_col: str = "docID"
) -> DataFrame:
    """Rerank context fetch (``processor/rerank/context/
    DocumentContextSourceFetcher.java:93-110``): select the document fields
    handed to the reranker, refusing a request for more than the
    ``reranker_max_document_fields`` setting allows."""
    from neural_search_spark import settings

    cap = int(settings.get("reranker_max_document_fields"))
    if len(fields) > cap:
        raise ValueError(
            f"Rerank context asked for {len(fields)} document fields; "
            f"reranker_max_document_fields caps it at {cap}"
        )
    return docs.select(F.col(id_col).alias("docID"), *fields)


def sort_by_fields(
    results: DataFrame,
    docs: DataFrame,
    sort_fields: list[tuple[str, bool]],
    track_scores: bool = False,
    id_col: str = "docID",
) -> DataFrame:
    """Sort-by-field collection
    (``search/collector/HybridTopFieldDocSortCollector.java``): result order
    comes from the sort fields (docID as final tie-break); the relevance
    score column is kept only when ``track_scores``."""
    joined = results.join(
        docs.select(F.col(id_col).alias("docID"), *[f for f, _ in sort_fields]), "docID"
    )
    order = [F.asc(f) if asc else F.desc(f) for f, asc in sort_fields] + [F.asc("docID")]
    cols = ["docID"] + [f for f, _ in sort_fields] + (["score"] if track_scores else [])
    return joined.select(*cols).orderBy(*order)


def search_after(
    sorted_results: DataFrame,
    sort_fields: list[tuple[str, bool]],
    cursor: list,
) -> DataFrame:
    """``search_after`` (``search/collector/PagingFieldCollector.java``):
    keep only rows strictly after the cursor in the sort order
    (lexicographic over the sort fields, docID last)."""
    fields = [f for f, _ in sort_fields] + ["docID"]
    ascs = [asc for _, asc in sort_fields] + [True]
    if len(cursor) != len(fields):
        raise ValueError("cursor must carry one value per sort field plus docID")
    pred = F.lit(False)
    eq = F.lit(True)
    for f, asc, v in zip(fields, ascs, cursor):
        cmp = (F.col(f) > F.lit(v)) if asc else (F.col(f) < F.lit(v))
        pred = pred | (eq & cmp)
        eq = eq & (F.col(f) == F.lit(v))
    return sorted_results.where(pred)


def paginate(
    results: DataFrame,
    from_: int,
    size: int,
    pagination_depth: int | None = None,
    order=None,
) -> DataFrame:
    """from/size over the final ranked list. ``from > 0`` requires
    ``pagination_depth`` (``HybridCollectorManager.java:591-607``), and the
    window may not reach past the collected depth."""
    if from_ > 0 and pagination_depth is None:
        raise ValueError("pagination_depth is required when from > 0")
    if from_ < 0 or size < 0:
        raise ValueError("from and size must be non-negative")
    depth = pagination_depth if pagination_depth is not None else from_ + size
    if from_ + size > depth:
        raise ValueError("from + size must not exceed pagination_depth")
    order = order or [F.desc("score"), F.asc("docID")]
    # bound the global row_number window: cut to the collected depth FIRST
    # (TakeOrderedAndProject — distributed top-N, no full sort), so the
    # single-task window only ever sees <= depth rows regardless of input
    # size; rows past depth can never land in (from, from+size]
    bounded = results.orderBy(*order).limit(depth)
    w = Window.orderBy(*order)
    return (
        bounded.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") > from_) & (F.col("_rn") <= from_ + size))
        .drop("_rn")
    )


def collapse_best_per_field(
    results: DataFrame,
    docs: DataFrame,
    field: str,
    id_col: str = "docID",
) -> DataFrame:
    """Collapse (``search/collector/HybridCollapsingTopDocsCollector.java``):
    keep the best-scoring doc per distinct ``field`` value."""
    joined = results.join(docs.select(F.col(id_col).alias("docID"), field), "docID")
    w = Window.partitionBy(field).orderBy(F.desc("score"), F.asc("docID"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("docID", field, "score")
    )


def collapse_sorted(
    results: DataFrame,
    docs: DataFrame,
    collapse_field: str,
    sort_fields: list[tuple[str, bool]],
    track_scores: bool = False,
    id_col: str = "docID",
) -> DataFrame:
    """Collapse combined with a field sort — the sorted variant of
    ``search/collector/HybridCollapsingTopDocsCollector.java`` (group
    winners picked by the sort comparator, not by score) with the
    coordinator re-collapse honoring the same sort
    (``processor/collapse/CollapseDTO.java:24-36``): within each collapse
    group the winner is the FIRST doc in the sort order (docID as last
    tie-break), and the final result keeps that sort. ``track_scores``
    keeps the relevance score column like the field-sort collector."""
    extra = [f for f, _ in sort_fields if f != collapse_field]
    joined = results.join(
        docs.select(F.col(id_col).alias("docID"), collapse_field, *extra), "docID"
    )
    order = [F.asc(f) if asc else F.desc(f) for f, asc in sort_fields] + [
        F.asc("docID")
    ]
    w = Window.partitionBy(collapse_field).orderBy(*order)
    cols = ["docID", collapse_field] + extra + (["score"] if track_scores else [])
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*cols)
        .orderBy(*order)
    )


def with_max_score(results: DataFrame) -> DataFrame:
    """Response-level max-score tracking
    (``HybridTopScoreDocCollector.java:45,157`` per-shard max;
    ``ScoreCombiner.java:41`` MAX_SCORE_WHEN_NO_HITS_FOUND = 0.0): attach
    the max over the returned hits as a ``max_score`` column. The window is
    global but the input is always a final top-k result (≤ k rows through
    one task) — an empty result stays empty, matching a 0-hit response
    carrying max_score 0.0 at the payload level."""
    w = Window.partitionBy()
    return results.withColumn(
        "max_score", F.coalesce(F.max("score").over(w), F.lit(0.0))
    )


def collapse_clause(
    scored: DataFrame,
    docs: DataFrame,
    field: str,
    depth: int | None = None,
    id_col: str = "docID",
) -> DataFrame:
    """Per-sub-query collapse DURING collection
    (``search/collector/HybridCollapsingTopDocsCollector.java``: each
    sub-query keeps per-group hit queues, so a clause retains its best doc
    per collapse-field value, up to ``depth`` groups by clause score).
    Applied to each clause BEFORE normalization, then the coordinator
    re-collapses the combined result (``processor/collapse/CollapseDTO.java:24-36``,
    dispatch ``NormalizationProcessorWorkflow.java:208-230``) — with tight
    depths this retains a DIFFERENT candidate set than post-combination
    collapse alone (a clause's #2 doc in a group never reaches
    normalization even if its combined score would have won).

    Plan: one window shuffle on the collapse field, then the standard
    depth cut — the same shape as collapse_best_per_field."""
    joined = scored.join(docs.select(F.col(id_col).alias("docID"), field), "docID")
    w = Window.partitionBy(field).orderBy(F.desc("score"), F.asc("docID"))
    best = (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("docID", "score")
    )
    if depth is not None:
        best = best.orderBy(F.desc("score"), F.asc("docID")).limit(depth)
    return best


def hybrid_sort_by_field(
    clause_scores: list[DataFrame],
    docs: DataFrame,
    sort_fields: list[tuple[str, bool]],
    k: int = 10,
    track_scores: bool = True,
    id_col: str = "docID",
) -> DataFrame:
    """Hybrid query collected by SORT FIELD with per-clause scores tracked
    (``search/collector/HybridTopFieldDocSortCollector.java``): candidates
    are docs matched by ANY sub-query, collected in sort-field order (docID
    final tie-break) rather than by relevance; when ``track_scores`` each
    sub-query's raw score rides along as ``clause_{i}`` (zero-filled for
    clauses that did not match — the collector's per-sub-query score
    arrays). No normalization/combination happens on the sort path.

    Plan: clause unions pivot in ONE groupBy (a single shuffle for any
    clause count), join sort fields, TakeOrderedAndProject cut."""
    from functools import reduce

    n = len(clause_scores)
    long = reduce(
        DataFrame.unionByName,
        [
            df.select(F.col("docID"), F.lit(i).alias("_c"), F.col("score").alias("s"))
            for i, df in enumerate(clause_scores)
        ],
    )
    wide = long.groupBy("docID").agg(
        *[
            F.coalesce(F.sum(F.when(F.col("_c") == i, F.col("s"))), F.lit(0.0)).alias(
                f"clause_{i}"
            )
            for i in range(n)
        ]
    )
    joined = wide.join(
        docs.select(F.col(id_col).alias("docID"), *[f for f, _ in sort_fields]), "docID"
    )
    order = [F.asc(f) if asc else F.desc(f) for f, asc in sort_fields] + [F.asc("docID")]
    cols = ["docID"] + [f for f, _ in sort_fields] + (
        [f"clause_{i}" for i in range(n)] if track_scores else []
    )
    return joined.select(*cols).orderBy(*order).limit(k)


def nested_inner_hits(
    chunks: DataFrame,
    terms: list[str],
    k: int = 10,
    chunk_col: str = "chunk",
    parent_col: str = "docID",
    idx_col: str = "chunk_idx",
) -> DataFrame:
    """Nested-docs query with inner hits over a chunk table.

    The reference supports hybrid queries against ``nested`` fields with
    inner hits (``HybridQueryInnerHitsIT``; nested unwrap in
    ``HybridQueryPhaseSearcher.java:83-110``). The Spark analog treats
    chunks as nested children: each chunk scores by query-term occurrence
    count (JVM-side: the analyzer + builtin ``filter``/``size`` — no
    Python), the parent doc scores as the MAX over its chunks
    (nested score_mode=max), and the inner hit is the best chunk
    (lowest ``chunk_idx`` on ties). Returns
    ``(docID, score, best_chunk_idx)`` top-k by (score desc, docID asc).

    Scale shape: one window over ``parent_col`` (shuffle by parent) — the
    same plan as collapse; no joins, no driver-side state.
    """
    from neural_search_spark import stats as _stats

    _stats.record_event("hybrid_query_with_inner_hits_requests")
    from neural_search_spark.analysis.tokenizer import analyzed_tokens

    tset = F.array(*[F.lit(t) for t in sorted(set(terms))])
    cscore = F.size(
        F.filter(analyzed_tokens(chunk_col), lambda t: F.array_contains(tset, t))
    )
    scored = chunks.select(
        F.col(parent_col).alias("docID"),
        F.col(idx_col).alias("chunk_idx"),
        cscore.cast("long").alias("cscore"),
    )
    w = Window.partitionBy("docID")
    worder = Window.partitionBy("docID").orderBy(F.desc("cscore"), F.asc("chunk_idx"))
    best = (
        scored.withColumn("score", F.max("cscore").over(w))
        .withColumn("_rn", F.row_number().over(worder))
        .where((F.col("_rn") == 1) & (F.col("score") > 0))
        .select("docID", "score", F.col("chunk_idx").alias("best_chunk_idx"))
    )
    return best.orderBy(F.desc("score"), F.asc("docID")).limit(k)


def highlight_best_fragment(
    results: DataFrame,
    corpus: DataFrame,
    terms: list[str],
    fragment_delim: str = "\n",
    content_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """Highlighting analog: for each result doc, return the fragment (line)
    with the most query-term occurrences, with its index.

    The reference's semantic highlighter picks sentences via a QA model
    (``highlight/SemanticHighlighterEngine.java``) — model inference is out
    of scope (SURVEY.md §2.6), so this is the lexical analog over the same
    surface: fragment selection per hit, ties to the earliest fragment.
    Plan shape: broadcast the (small, top-k) results onto the corpus,
    posexplode fragments, one window per doc — no per-row Python.
    """
    import re

    from neural_search_spark.analysis.tokenizer import analyzed_tokens

    tset = F.array(*[F.lit(t) for t in sorted(set(terms))])
    hits_df = results.select(F.col("docID").alias("_hit_id"), "score")
    # F.split takes a Java regex; the delimiter is a LITERAL string (the
    # DuckDB oracle uses string_split), so escape metacharacters —
    # re.escape backslash-quotes non-alphanumerics, which Java regex accepts
    frags = (
        corpus.join(F.broadcast(hits_df), corpus[id_col] == F.col("_hit_id"), "inner")
        .select(
            F.col("_hit_id").alias("docID"),
            "score",
            F.posexplode(F.split(F.col(content_col), re.escape(fragment_delim))).alias("frag_idx", "fragment"),
        )
        .withColumn(
            "hits",
            F.size(F.filter(analyzed_tokens("fragment"), lambda t: F.array_contains(tset, t))).cast("long"),
        )
    )
    w = Window.partitionBy("docID").orderBy(F.desc("hits"), F.asc("frag_idx"))
    return (
        frags.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("docID", F.round("score", 4).alias("score"), F.col("frag_idx").cast("int").alias("frag_idx"), "fragment", "hits")
        .orderBy(F.desc("score"), F.asc("docID"))
    )


def highlight_semantic(
    results: DataFrame,
    corpus: DataFrame,
    query_text: str,
    fragment_delim: str = "\n",
    content_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """Semantic highlighter (``highlight/SemanticHighlighterEngine.java``)
    with the deterministic stand-in embedding model replacing the QA
    model — the same swap that backs the ``neural``/``rerank_ml``
    surfaces: each fragment (sentence analog) scores
    cosine(fragment embedding, query embedding), the best fragment per
    hit wins, ties to the earliest fragment. Fragments with no tokens
    have no embedding and score 0. Returns
    ``(docID, score, frag_idx, fragment, sim)``.

    Plan shape: broadcast the top-k results onto the corpus, posexplode
    fragments, relational per-fragment embedding (groupBy over fragment
    tokens — no per-row Python), one window per doc.
    """
    import re

    from neural_search_spark import stats as _stats

    _stats.record_event("semantic_highlighting_request_count")

    from neural_search_spark.pipeline.ann import _dot
    from neural_search_spark.pipeline import params as P
    from neural_search_spark.pipeline.embedding import text_embedding_stub
    from neural_search_spark.search.neural import query_embedding_stub

    hits_df = results.select(F.col("docID").alias("_hit_id"), "score")
    frags = corpus.join(
        F.broadcast(hits_df), corpus[id_col] == F.col("_hit_id"), "inner"
    ).select(
        F.col("_hit_id").alias("docID"),
        "score",
        F.posexplode(F.split(F.col(content_col), re.escape(fragment_delim))).alias(
            "frag_idx", "fragment"
        ),
    )
    keyed = frags.select(
        (F.col("docID").cast("long") * 100000 + F.col("frag_idx")).alias("ckey"),
        F.col("fragment").alias("ctext"),
    )
    femb = text_embedding_stub(keyed, text_col="ctext", id_col="ckey")
    qv = F.array(*[F.lit(float(v)) for v in query_embedding_stub(query_text)])
    sims = femb.select(
        (F.col("docID") / 100000).cast("long").alias("docID"),
        (F.col("docID") % 100000).cast("int").alias("frag_idx"),
        P.round6(_dot(F.col("embedding"), qv)).alias("sim"),
    )
    joined = frags.join(sims, ["docID", "frag_idx"], "left").withColumn(
        "sim", F.coalesce("sim", F.lit(0.0))
    )
    w = Window.partitionBy("docID").orderBy(F.desc("sim"), F.asc("frag_idx"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "docID",
            F.round("score", 4).alias("score"),
            F.col("frag_idx").cast("int").alias("frag_idx"),
            "fragment",
            "sim",
        )
        .orderBy(F.desc("score"), F.asc("docID"))
    )


def rescore_window(
    primary: DataFrame,
    secondary: DataFrame,
    window_size: int,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """OpenSearch ``rescore`` block (score_mode=total), the second-pass
    search phase the reference's queries compose with (the k-NN twin is
    ``search/neural.py``'s quantized rescore): take the top
    ``window_size`` hits of the primary query, re-run the (more
    expensive) secondary query on exactly that window, and combine

        new_score = query_weight * primary + rescore_query_weight * secondary

    where a window hit the secondary query does not match keeps
    ``query_weight * primary`` alone (Lucene ``QueryRescorer.combine``:
    the second score contributes only ``if (secondHitExists)``). Hits
    outside the window are untouched and rank below (here: dropped, since
    k <= window_size covers the reference's response surface).

    Plan: the window cut is a ``TakeOrderedAndProject`` (score desc,
    docID asc — the reference tie-break), so only ``window_size`` rows
    ever reach the join; the secondary clause joins that tiny frame on
    docID (broadcast-able at any corpus size). The expensive secondary
    scorer therefore prices O(window), not O(corpus) — the whole point
    of the two-phase contract at 100 TB.
    """
    if k > window_size:
        raise ValueError(f"k={k} must be <= window_size={window_size}")
    win = (
        primary.orderBy(F.desc("score"), F.asc("docID"))
        .limit(window_size)
        .select("docID", F.col("score").alias("_p"))
    )
    # the window is the build side twice: first a broadcast semi-join cuts
    # the secondary clause down to window rows (a broadcast LEFT side of a
    # left-outer is not a supported build, so the naive hint is a no-op),
    # then the pruned — now window-sized — secondary broadcasts back.
    sec_win = secondary.join(F.broadcast(win.select("docID")), "docID", "left_semi")
    joined = win.join(
        F.broadcast(sec_win.select("docID", F.col("score").alias("_s"))),
        "docID",
        "left",
    )
    combined = (
        F.lit(float(query_weight)) * F.col("_p")
        + F.lit(float(rescore_query_weight)) * F.coalesce(F.col("_s"), F.lit(0.0))
    )
    return (
        joined.select("docID", combined.alias("score"))
        .orderBy(F.desc("score"), F.asc("docID"))
        .limit(k)
    )

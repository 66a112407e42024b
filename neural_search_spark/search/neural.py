"""Dense ``neural`` query clause + ``ml_opensearch`` rerank — model-backed
surfaces with the deterministic stand-in embedding model.

Reference semantics:

- ``neural`` clause (``query/NeuralQueryBuilder.java:1145-1152``): the
  builder rewrites to a kNN query (``NeuralKNNQueryBuilder.java:33-41``)
  carrying the query text's embedding, ``k``, an optional pushed
  ``filter`` and optional ``min_score``. Inside a hybrid query the clause
  contributes a (doc, similarity) stream exactly like any lexical clause,
  which is what finally exercises normalize/combine with heterogeneous
  score ranges (every lexical+neural ``HybridQueryIT`` variant).
- ``ml_opensearch`` rerank (``processor/rerank/RescoringRerankProcessor.java:23-72``
  + ``MLOpenSearchRerankProcessor.java``): re-score every hit in the
  response window with a text-similarity model, replace the scores, and
  re-sort descending.

The MODEL is the same clearly-marked deterministic stand-in as
``pipeline/embedding.py`` (dim = token length % n_dims, L2-normalized):
both Spark and the DuckDB oracle can compute it exactly, so the plumbing
is oracle-checked end to end; swapping in a real model replaces
:func:`query_embedding_stub` / ``text_embedding_stub`` with a
``predict_batch_udf``-style Arrow UDF and nothing else.

Scale shape: doc embeddings are a (docID, array<double>) table — at 100 TB
a precomputed/ingest-time column (the text_embedding processor output),
here derived on the fly. The query vector is a literal (broadcast by
construction); scoring is one JVM-side projection (``zip_with`` +
``aggregate`` fold → whole-stage codegen) over that table with a
TakeOrderedAndProject cut — no shuffle beyond top-k. Clause scores are
rounded to 6 dp (shared ``params.round6`` on BOTH engines) so the values
feeding normalization stats are bit-identical across engines.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, functions as F

from neural_search_spark.analysis.tokenizer import tokenize_text
from neural_search_spark.pipeline import params as P
from neural_search_spark.pipeline.embedding import N_DIMS
from neural_search_spark.session import local_table, top_per_key


def query_embedding_stub(query_text: str, n_dims: int = N_DIMS) -> list[float]:
    """Query-side stand-in model: same formula as ``text_embedding_stub``
    (bag of ``len(token) % n_dims`` over analyzed tokens, L2-normalized),
    computed driver-side — the query is one string; the reference also
    embeds it once per request via ML-Commons before the kNN rewrite."""
    counts = Counter(len(t) % n_dims for t in tokenize_text(query_text))
    dims = [float(counts.get(i, 0)) for i in range(n_dims)]
    nrm = math.sqrt(sum(v * v for v in dims))
    return [v / nrm if nrm > 0 else 0.0 for v in dims]


def neural_clause_scores(
    doc_embeddings: DataFrame,
    query_vector: list[float],
    k: int | None = None,
    candidate_docs: DataFrame | None = None,
    min_score: float | None = None,
    max_distance: float | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """(docID, score): cosine of the stand-in embeddings (both sides are
    L2-normalized, so the left-fold dot IS the cosine), rounded to 6 dp.

    ``k``: kNN candidate count (``NeuralKNNQueryBuilder`` k) — top-k by
    (score desc, docID asc). ``candidate_docs`` restricts membership (the
    pushed filter; like BM25, stats-free so order of application is
    immaterial). ``min_score`` drops candidates below the bound.
    ``max_distance`` is the radial-search alternative bound
    (``NeuralKNNQueryBuilder.java:33-41`` exposes exactly one of
    min_score/max_distance): with L2-normalized vectors the Euclidean
    distance is sqrt(2·(1−cos)), so the bound keeps docs with
    2·(1−score) ≤ max_distance² — evaluated on the 6-dp-rounded score so
    the cut is bit-identical on both engines.
    """
    from neural_search_spark import stats as _stats
    from neural_search_spark.pipeline.ann import _dot

    _stats.record_event("neural_query_requests")
    _stats.record_event("neural_query_against_knn_requests")
    if min_score is not None and max_distance is not None:
        raise ValueError("neural clause accepts min_score OR max_distance, not both")
    qv = F.array(*[F.lit(float(v)) for v in query_vector])
    scored = doc_embeddings.select(
        "docID", P.round6(_dot(F.col(vec_col), qv)).alias("score")
    )
    if candidate_docs is not None:
        scored = scored.join(candidate_docs.select("docID"), "docID", "semi")
    if min_score is not None:
        scored = scored.where(F.col("score") >= float(min_score))
    if max_distance is not None:
        scored = scored.where(
            F.lit(2.0) * (F.lit(1.0) - F.col("score")) <= float(max_distance) ** 2
        )
    if k is not None:
        scored = scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)
    return scored


def neural_clause_scores_ann(
    doc_embeddings: DataFrame,
    query_vector: list[float],
    method: str = "ivf",
    k: int | None = None,
    n_lists: int | None = None,
    nprobe: int | None = None,
    oversample: int = 3,
    candidate_docs: DataFrame | None = None,
    min_score: float | None = None,
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    pq_m: int = 2,
    pq_codes: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN-backed dense clause — the ``knn_method`` surface of the kNN
    rewrite (``query/NeuralKNNQueryBuilder.java:33-41`` exposes k/rescore;
    the method params live in the k-NN plugin the reference wraps). Same
    (docID, score) contract as :func:`neural_clause_scores` — score =
    round6 cosine of the L2-normalized stand-in embeddings — but the
    candidate set is PRUNED instead of the whole corpus, so a dense clause
    inside a hybrid query stops being corpus-linear at scale:

    - ``method="ivf"``: probe the ``nprobe`` nearest coarse lists
      (:func:`neural_search_spark.pipeline.ann.ivf_centroids` /
      ``ivf_assign`` — at 100 TB both are ingest-time artifacts passed in
      via ``centroids``/``assigned`` and the table is partitioned by
      ``list_id``, so the scan prunes to nprobe/n_lists of the data).
    - ``method="quantized_rescore"``: int8-dequantized coarse cosine cuts
      a ``k×oversample`` window (4× less I/O than float32), the exact
      float cosine rescores only that window.
    - ``method="ivfpq"``: the composed Faiss ``IVF,PQ`` shape (the k-NN
      IVF method with the `pq` encoder): the IVF probe prunes candidates
      to the probed lists, PQ-ADC scores ONLY those (``pq_m`` subspaces ×
      ``pq_codes`` codes over the collected ``codebooks`` — a bounded
      driver LUT, no float I/O in the coarse pass), and the exact float
      pass rescores the ``k×oversample`` window.

    Deterministic contract (oracle-checkable): probe lists = top-nprobe
    centroids by (cosine desc, list_id asc); final rank by (round6 score
    desc, docID asc). ``candidate_docs``/``min_score`` apply after pruning,
    exactly like the brute clause.
    """
    from neural_search_spark import stats as _stats
    from neural_search_spark.pipeline import ann

    if k is None:
        raise ValueError("ANN dense clause requires k (the kNN candidate count)")
    _stats.record_event("neural_query_requests")
    _stats.record_event("neural_query_against_knn_requests")
    qv = F.array(*[F.lit(float(v)) for v in query_vector])
    docs = ann._vectors(doc_embeddings, "docID", vec_col)
    exact = P.round6(ann._dot("v", qv)).alias("score")
    if method in ("ivf", "ivfpq"):
        cents, asg = ann._ivf_tables(
            doc_embeddings, centroids, assigned,
            n_lists if n_lists is not None else P.IVF_N_LISTS, "docID", vec_col,
        )
        probed = ann._probed(
            asg, cents, qv, nprobe if nprobe is not None else P.IVF_NPROBE
        )
    if method == "ivf":
        scored = probed.select("vec_id", exact)
    elif method == "quantized_rescore":
        # both sides through the same global-interval int8 quantizer; the
        # 4-dp dequantized cosine cuts the window, the round6 dot of the
        # original floats rescores it
        view, dequantize = ann._int8_view(doc_embeddings, "docID", vec_col)
        cqv = F.array(*[F.lit(v) for v in dequantize(query_vector)])
        coarse = view.select("vec_id", P.round4(ann._cosine("v", cqv)).alias("cscore"))
        scored = ann._window(coarse, k, oversample, docs).select("vec_id", exact)
    elif method == "ivfpq":
        dim = len(query_vector)
        if dim % int(pq_m):
            raise ValueError(f"pq_m {pq_m} must divide the embedding dim {dim}")
        subdim = dim // int(pq_m)
        cb = ann._codebook(
            doc_embeddings, codebooks, int(pq_m), int(pq_codes), subdim, "docID", vec_col
        )
        cscore = ann._adc_lookup(
            cb, [float(v) for v in query_vector], ann._code_pos_exprs(cb, int(pq_m), subdim),
            subdim,
        )
        coarse = probed.select("vec_id", cscore.alias("cscore"))
        scored = ann._window(coarse, k, oversample, docs).select("vec_id", exact)
    else:
        raise ValueError(f"unknown knn_method {method!r}")
    scored = scored.withColumnRenamed("vec_id", "docID")
    if candidate_docs is not None:
        scored = scored.join(candidate_docs.select("docID"), "docID", "semi")
    if min_score is not None:
        scored = scored.where(F.col("score") >= float(min_score))
    return scored.orderBy(F.desc("score"), F.asc("docID")).limit(int(k))


def neural_batch_topk(
    spark,
    doc_embeddings: DataFrame,
    query_vectors: dict[int, list[float]],
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, docID, score): MANY dense queries against the embedding
    column in ONE scan — the set-oriented twin of
    :func:`neural_clause_scores` (offline eval sets, hard-negative
    mining). The query-vector table broadcasts; each embedding row scores
    every query in place (a broadcast nested-loop by construction — the
    brute-force batch is Q×corpus work however it is scheduled, and one
    scan beats Q scans); the per-qid cut is a window partitioned by qid.
    Scores are 6-dp rounded BEFORE the cut (the neural convention), so
    the cut is bit-identical across engines.

    At 100 TB the per-qid window shuffles only (qid, docID, score) rows;
    the embedding column itself is read once. The ANN keys (IVF/LSH/
    quantized) remain the scale path when Q×corpus exceeds budget."""
    from neural_search_spark.pipeline.ann import _dot

    rows = [
        (int(qid), [float(v) for v in qv])
        for qid, qv in sorted(query_vectors.items())
    ]
    if not rows:
        return local_table(spark, [], "qid int, docID long, score double")
    qt = F.broadcast(local_table(spark, rows, "qid int, qv array<double>"))
    scored = doc_embeddings.crossJoin(qt).select(
        "qid", "docID", P.round6(_dot(F.col(vec_col), F.col("qv"))).alias("score")
    )
    return top_per_key(scored, "qid", k).orderBy("qid", F.col("score").desc(), "docID")


def neural_nested_scores(
    chunks: DataFrame,
    query_vector: list[float],
    expand_nested: bool = False,
    k: int = 10,
    chunk_col: str = "chunk",
    parent_col: str = "docID",
    idx_col: str = "chunk_idx",
) -> DataFrame:
    """``neural`` clause against a NESTED embedding field — the
    ``expand_nested`` surface of ``NeuralKNNQueryBuilder.java:33-41``
    (nested unwrap in ``HybridQueryPhaseSearcher.java:83-110``).

    Each nested chunk embeds through the stand-in model and scores cosine
    against the query (6-dp rounded, like every neural clause). Parents
    rank by their best chunk (nested ``score_mode=max``), top-k by
    (score desc, docID asc). ``expand_nested=False`` returns one row per
    parent — ``(docID, score, best_chunk_idx)``, the inner-hit view;
    ``True`` returns EVERY scored chunk row of those parents —
    ``(docID, chunk_idx, score)`` — the reference uses this to surface
    all nested matches, not just the best one.

    Scale shape: chunk embedding is the same relational stub as ingest
    (no per-row Python), parent ranking is one groupBy(parent) shuffle,
    and the expansion is a semi-join of chunk rows against the tiny top-k
    parent set. Chunks with no tokens have no embedding and drop out on
    both engines.
    """
    from neural_search_spark.pipeline.ann import _dot
    from neural_search_spark.pipeline.embedding import text_embedding_stub

    # surrogate chunk key: the stub embeds one id column; chunk_idx is
    # bounded far below 100000 by every chunker's max-chunk guard
    keyed = chunks.select(
        (F.col(parent_col).cast("long") * 100000 + F.col(idx_col)).alias("ckey"),
        F.col(chunk_col).alias("ctext"),
    )
    emb = text_embedding_stub(keyed, text_col="ctext", id_col="ckey")
    qv = F.array(*[F.lit(float(v)) for v in query_vector])
    scored = emb.select(
        (F.col("docID") / 100000).cast("long").alias("parent"),
        (F.col("docID") % 100000).cast("int").alias(idx_col),
        P.round6(_dot(F.col("embedding"), qv)).alias("score"),
    )
    from pyspark.sql import Window

    worder = Window.partitionBy("parent").orderBy(F.desc("score"), F.asc(idx_col))
    best = (
        scored.withColumn("_rn", F.row_number().over(worder))
        .where(F.col("_rn") == 1)
        .select(
            F.col("parent").alias(parent_col),
            "score",
            F.col(idx_col).alias("best_chunk_idx"),
        )
        .orderBy(F.desc("score"), F.asc(parent_col))
        .limit(k)
    )
    if not expand_nested:
        return best
    return (
        scored.join(best.select(F.col(parent_col).alias("parent")), "parent", "semi")
        .select(F.col("parent").alias(parent_col), idx_col, "score")
        .orderBy(parent_col, idx_col)
    )


def neural_semantic_query(
    df: DataFrame,
    field: str,
    query_text: str,
    k: int = 10,
    id_col: str = "docID",
    semantic_info_field: str | None = None,
    query_tokens: dict[str, float] | None = None,
    model_id: str | None = None,
) -> DataFrame:
    """``neural`` query against a SEMANTIC field — the query names only the
    raw field; model id, embedding location, embedding TYPE, and chunking
    mode resolve from the mapping (``NeuralQueryBuilder.java:673-706``
    resolving ``NeuralQueryTargetFieldConfig`` from index metadata; here
    from the corpus schema + the semantic-info column metadata stamped by
    :func:`neural_search_spark.mapping.apply_semantic_mapping`).

    Routing (the builder's ``rewriteQueryForSemanticField``,
    ``NeuralQueryBuilder.java:731-800``): ``knn_vector`` embedding → dense
    cosine over the stored embedding; ``rank_features`` embedding → a
    ``neural_sparse`` execution whose query token-weight map comes from,
    in the reference's priority order, (a) the model-generated encoding
    when the query names a ``model_id`` explicitly OR supplies neither raw
    ``query_tokens`` nor has a mapping-level search analyzer, (b) the
    caller's raw ``query_tokens``, (c) the mapping's
    ``semantic_field_search_analyzer`` applied to the query text
    (payload-less → weight 1.0 per distinct token). Chunking enabled →
    nested query over the stored per-chunk embeddings, parents ranked by
    best chunk (``score_mode=max``) → ``(docID, score, best_chunk_idx)``;
    plain → ``(docID, score)``. Unmapped or non-semantic targets raise,
    mirroring ``NeuralQueryValidationUtil.validateTargetFieldConfig``.

    Scale shape: embeddings are ingest-time artifacts read from the
    corpus — no query-time model pass over documents; the chunked route is
    one posexplode + per-doc window with a TakeOrderedAndProject cut, the
    doc-level routes are zero-shuffle projections + top-k (the sparse
    score is a bounded per-token ``element_at`` fold, whole-stage
    codegen)."""
    from neural_search_spark import stats as _stats
    from neural_search_spark.mapping import (
        semantic_info_field_name,
        target_field_config,
    )
    from neural_search_spark.pipeline.ann import _dot

    cfg = target_field_config(df.schema, field, semantic_info_field)
    if cfg.is_unmapped_field:
        raise ValueError(f"neural query target field '{field}' is not mapped")
    if not cfg.is_semantic_field:
        raise ValueError(
            f"field '{field}' is not a semantic field — pass model_id and an "
            "embedding column explicitly (NeuralQueryValidationUtil)"
        )
    from pyspark.sql import Window

    _stats.record_event("neural_query_requests")
    info = semantic_info_field_name(field, semantic_info_field)
    if cfg.embedding_field_type == "rank_features":
        from functools import reduce
        from operator import add

        from neural_search_spark.search.sparse import (
            sparse_query_encoding_stub,
            sparse_query_tokens_from_analyzer,
        )

        _stats.record_event("neural_query_against_semantic_sparse_requests")
        # NeuralQueryBuilder.java:763-766: an explicit model_id beats raw
        # tokens; no tokens AND no mapping analyzer also means the model
        toks = query_tokens
        if model_id is not None or (
            query_tokens is None and cfg.semantic_field_search_analyzer is None
        ):
            toks = sparse_query_encoding_stub(query_text)
        if toks is None:
            toks = sparse_query_tokens_from_analyzer(
                query_text, cfg.semantic_field_search_analyzer
            )
        if not toks:
            raise ValueError(
                "neural query against sparse semantic field produced no "
                "query tokens (empty embedding/tokenizer output)"
            )

        def _feat_score(emb):
            return reduce(
                add,
                [
                    F.coalesce(F.element_at(emb, F.lit(t)), F.lit(0.0)).cast(
                        "double"
                    )
                    * F.lit(float(w))
                    for t, w in sorted(toks.items())
                ],
            )

        score_of = _feat_score
        # Lucene's rank_features execution only MATCHES docs containing at
        # least one query token — zero-overlap docs are absent, not 0.0
        matched_only = True
    else:
        matched_only = False
        _stats.record_event("neural_query_against_semantic_dense_requests")
        qv = F.array(
            *[F.lit(float(v)) for v in query_embedding_stub(query_text)]
        )

        def score_of(emb):
            return _dot(emb, qv)

    if cfg.chunking_enabled:
        ch = df.select(
            F.col(id_col).cast("long").alias("docID"),
            F.posexplode_outer(F.col(f"{info}.chunks")).alias("chunk_idx", "_c"),
        ).where(F.col("_c").isNotNull())
        scored = ch.select(
            "docID",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            P.round6(score_of(F.col("_c.embedding"))).alias("score"),
        )
        if matched_only:
            scored = scored.where(F.col("score") != 0.0)
        w = Window.partitionBy("docID").orderBy(F.desc("score"), F.asc("chunk_idx"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("docID", "score", F.col("chunk_idx").alias("best_chunk_idx"))
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )
    out = df.where(F.col(f"{info}.embedding").isNotNull()).select(
        F.col(id_col).cast("long").alias("docID"),
        P.round6(score_of(F.col(f"{info}.embedding"))).alias("score"),
    )
    if matched_only:
        out = out.where(F.col("score") != 0.0)
    return out.orderBy(F.desc("score"), F.asc("docID")).limit(k)


def cross_encoder_stub_scores(
    results: DataFrame,
    doc_embeddings: DataFrame,
    query_text: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Stand-in TEXT_SIMILARITY model: similarity(query, doc) = stand-in
    embedding cosine — deterministic, shared with the DuckDB oracle. A real
    deployment swaps this for a cross-encoder ``predict_batch_udf``.
    Scored inline (not via :func:`neural_clause_scores`) because a rerank
    model call is NOT a neural query — it must not bump the
    ``neural_query_requests`` stat counter."""
    from neural_search_spark.pipeline.ann import _dot

    qv = F.array(*[F.lit(float(v)) for v in query_embedding_stub(query_text)])
    return (
        doc_embeddings.select(
            "docID", P.round6(_dot(F.col(vec_col), qv)).alias("score")
        )
        .join(results.select("docID"), "docID", "semi")
    )


def rerank_ml(
    results: DataFrame,
    doc_embeddings: DataFrame,
    query_text: str,
    k: int | None = None,
) -> DataFrame:
    """``rerank.ml_opensearch`` response processor: replace every window
    hit's score with the similarity-model score and re-sort descending
    (``RescoringRerankProcessor.java:64-84`` — scores are REPLACED, not
    combined; docID-ascending tie-break stands in for Lucene's stable sort
    over the hit array). ``results`` is the response window (the reference
    rescores exactly the hits in the response)."""
    from neural_search_spark import stats as _stats

    _stats.record_event("rerank_ml_executions")
    rescored = cross_encoder_stub_scores(results, doc_embeddings, query_text)
    # every window hit keeps a row (the reference rescores hits in place);
    # a doc with no embedding (empty content) scores 0.0
    out = (
        results.select("docID")
        .join(rescored, "docID", "left")
        .select("docID", F.coalesce("score", F.lit(0.0)).alias("score"))
        .orderBy(F.desc("score"), F.asc("docID"))
    )
    return out.limit(k) if k is not None else out

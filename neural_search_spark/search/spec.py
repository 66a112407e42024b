"""Query-spec parsing: dict-shaped search requests → engine calls.

Mirrors the reference's REST parse/rewrite surface as a library API:

- ``parse_hybrid_spec`` ≈ ``query/HybridQueryBuilder.java:197-267``
  (``fromXContent``): reads ``queries`` (1..5), ``filter``,
  ``pagination_depth``; rejects nested hybrid
  (``search/query/HybridQueryPhaseSearcher.java:147-189``).
- clause types: ``match`` / ``term`` / ``match_phrase`` (lexical BM25,
  §2.2), ``multi_match``, ``bool`` (recursive sub-clauses), ``prefix`` /
  ``fuzzy`` / ``terms`` (constant-score rewrites), ``span_near``
  (positional), ``neural_sparse`` (token-weight map), ``neural`` (dense
  kNN over the doc-embedding column via the deterministic stand-in
  model — ``NeuralQueryBuilder.java:1145-1152`` rewrite surface with
  k/filter/min_score; see :mod:`neural_search_spark.search.neural`).
  The reference composes clauses from arbitrary OpenSearch-core
  ``QueryBuilders`` (``HybridQueryIT.java:139-141``); this parser covers
  the same families the engine scores.
- ``neural`` clause field-type dispatch: when the clause's target field
  resolves to ``rank_features`` (authored or enricher-injected
  ``field_type``), the clause rewrites to neural_sparse scoring —
  ``NeuralQueryBuilder.java`` rewrites per target field type;
  ``NeuralSparseQueryBuilder.java:520-524``.
- the pushed ``filter`` restricts every sub-query
  (``query/HybridQueryBuilder.java:107-122``).
- ``enrich_spec`` ≈ ``processor/NeuralQueryEnricherProcessor.java``:
  injects per-index/per-field defaults (model id, analysis params) into
  clauses that omit them — a request preprocessor, pure dict → dict.
- pipeline config (normalization/combination + params) follows the
  search-pipeline processor config shape
  (``processor/NormalizationProcessor.java:44-110``).

Everything returns DataFrames; no result is collected here.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from neural_search_spark.search.hybrid import check_sub_query_count, hybrid_search
from neural_search_spark.session import local_table

LEXICAL_TYPES = ("match", "term", "match_phrase")
CONSTANT_SCORE_TYPES = (
    "prefix", "fuzzy", "terms", "wildcard", "range", "match_all", "ids",
)
CLAUSE_TYPES = LEXICAL_TYPES + CONSTANT_SCORE_TYPES + (
    "neural_sparse", "neural", "bool", "multi_match", "span_near",
    "dis_max", "boosting", "constant_score",
    "regexp", "simple_query_string", "more_like_this",
    "rank_feature", "function_score",
)


def enrich_spec(spec: dict, defaults: dict[str, Any] | None = None) -> dict:
    """neural_query_enricher: fill per-clause defaults (e.g. ``model_id``,
    ``analyzer``) into clauses that do not set them. Returns a new spec;
    the input is not mutated."""
    if not defaults:
        return spec
    from neural_search_spark import stats as _stats

    _stats.record_event("neural_query_enricher_executions")
    out = {**spec, "queries": []}
    for clause in spec.get("queries", []):
        (ctype, body), = clause.items()
        if not isinstance(body, dict):
            body = {"query": body}  # string shorthand {"match": "text"}
        body = {**defaults.get(ctype, {}), **body}
        out["queries"].append({ctype: body})
    return out


def apply_two_phase_processor(spec: dict, config: dict, k: int) -> dict:
    """``neural_sparse_two_phase_processor`` — the search-pipeline REQUEST
    processor (``processor/NeuralSparseTwoPhaseProcessor.java:38-57,89-135``):
    transparently rewrites every ``neural_sparse`` clause in the request
    into its two-phase form. The token map (explicit ``query_tokens`` or
    the analyzer-mode tokens) splits by the configured prune strategy; the
    clause keeps the HEAVY set as its main query and carries the LIGHT set
    plus the rescore window (``window_size = size × expansion_rate``,
    capped at 10000 — the processor's rescore-context shape) for
    :func:`_score_clause_impl` to apply as a window-only rescore. Returns
    a new spec; the input is not mutated. Config keys mirror the
    processor factory: ``enabled`` (default true), ``two_phase_parameter``
    ``prune_type`` / ``prune_ratio`` / ``expansion_rate``."""
    from neural_search_spark import stats as _stats
    from neural_search_spark.search.sparse import (
        DEFAULT_EXPANSION_RATE,
        DEFAULT_PRUNE_RATIO,
        DEFAULT_PRUNE_TYPE,
        MAX_WINDOW_SIZE,
        prune_vector,
        sparse_query_tokens_from_analyzer,
    )

    if not config.get("enabled", True):
        return spec
    prune_type = config.get("prune_type", DEFAULT_PRUNE_TYPE)
    prune_ratio = float(config.get("prune_ratio", DEFAULT_PRUNE_RATIO))
    expansion = float(config.get("expansion_rate", DEFAULT_EXPANSION_RATE))
    if expansion <= 0:
        raise ValueError("expansion_rate must be positive")
    window = min(int(k * expansion), MAX_WINDOW_SIZE)
    out = {**spec, "queries": []}
    rewrote = False
    for clause in spec.get("queries", []):
        (ctype, body), = clause.items()
        if ctype != "neural_sparse":
            out["queries"].append(clause)
            continue
        tokens = body.get("query_tokens")
        if tokens is None:
            tokens = sparse_query_tokens_from_analyzer(
                body["query"], body.get("analyzer")
            )
        hi, lo = prune_vector(dict(tokens), prune_type, prune_ratio)
        nb = {
            kk: v
            for kk, v in body.items()
            if kk not in ("query_tokens", "query", "analyzer")
        }
        nb["query_tokens"] = hi
        nb["_two_phase"] = {"light_tokens": lo, "window": window}
        out["queries"].append({"neural_sparse": nb})
        rewrote = True
    if rewrote:
        _stats.record_event("neural_sparse_two_phase_executions")
    return out


def _members(engine, filter_expr: str | None) -> DataFrame | None:
    """The pushed filter's membership set (docID only) — a semi-join
    target; per Lucene semantics it never changes stats."""
    if filter_expr is None:
        return None
    from pyspark.sql import functions as F

    return engine.corpus.where(filter_expr).select(F.col(engine.id_col).alias("docID"))


def _apply_members(scored: DataFrame, members: DataFrame | None) -> DataFrame:
    return scored if members is None else scored.join(members, "docID", "semi")


def _score_clause(engine, clause: dict, filter_expr: str | None) -> DataFrame:
    """Score one clause dict; a ``boost`` key on any clause body multiplies
    the clause's scores (every QueryBuilder carries a boost — Lucene
    ``BoostQuery`` wraps the rewritten query)."""
    (ctype, body), = clause.items()
    if isinstance(body, dict) and "boost" in body:
        from pyspark.sql import functions as F

        boost = float(body["boost"])
        inner = {ctype: {k: v for k, v in body.items() if k != "boost"}}
        scored = _score_clause(engine, inner, filter_expr)
        return scored.select(
            "docID", (F.col("score") * F.lit(boost)).alias("score")
        )
    return _score_clause_impl(engine, clause, filter_expr)


def _score_clause_impl(engine, clause: dict, filter_expr: str | None) -> DataFrame:
    (ctype, body), = clause.items()
    if ctype not in CLAUSE_TYPES:
        raise ValueError(f"unsupported clause type: {ctype}")
    if ctype == "bool":
        # OpenSearch-core bool composition as a hybrid sub-clause
        # (HybridQueryIT.java:139-141 builds from arbitrary QueryBuilders).
        # The pushed hybrid filter reaches every sub-clause
        # (HybridQueryBuilder.java:107-122).
        from neural_search_spark.search.bm25 import bool_query_scores

        extra = set(body) - {"must", "should", "must_not", "minimum_should_match"}
        if extra:
            raise ValueError(f"unsupported bool clause keys {sorted(extra)}")
        return bool_query_scores(
            must=[_score_clause(engine, c, filter_expr) for c in body.get("must", [])],
            should=[_score_clause(engine, c, filter_expr) for c in body.get("should", [])],
            must_not=[_score_clause(engine, c, None) for c in body.get("must_not", [])],
            minimum_should_match=body.get("minimum_should_match"),
        )
    if ctype == "multi_match":
        from neural_search_spark.search.bm25 import multi_match_scores

        scored = multi_match_scores(
            engine,
            body["fields"],
            body["query"],
            match_type=body.get("type", "best_fields"),
            tie_breaker=float(body.get("tie_breaker", 0.0)),
        )
        return _apply_members(scored, _members(engine, filter_expr))
    if ctype == "prefix":
        from neural_search_spark.search.bm25 import prefix_query_scores

        value = body["value"] if isinstance(body, dict) else body
        scored = prefix_query_scores(engine, value)
        return _apply_members(scored, _members(engine, filter_expr))
    if ctype == "fuzzy":
        from neural_search_spark.search.bm25 import fuzzy_query_scores

        value = body["value"] if isinstance(body, dict) else body
        scored = fuzzy_query_scores(
            engine,
            value,
            max_edits=int(body.get("fuzziness", 1)) if isinstance(body, dict) else 1,
            prefix_length=int(body.get("prefix_length", 0)) if isinstance(body, dict) else 0,
        )
        return _apply_members(scored, _members(engine, filter_expr))
    if ctype == "terms":
        from neural_search_spark.search.bm25 import terms_query_scores

        values = body if isinstance(body, list) else body.get("values") or body["query"]
        scored = terms_query_scores(engine, list(values))
        return _apply_members(scored, _members(engine, filter_expr))
    if ctype == "ids":
        from neural_search_spark.search.bm25 import ids_query_scores

        values = body if isinstance(body, list) else body["values"]
        return _apply_members(
            ids_query_scores(engine, values), _members(engine, filter_expr)
        )
    if ctype == "match_all":
        from neural_search_spark.search.bm25 import match_all_scores

        return _apply_members(match_all_scores(engine), _members(engine, filter_expr))
    if ctype == "wildcard":
        from neural_search_spark.search.bm25 import wildcard_query_scores

        value = body["value"] if isinstance(body, dict) else body
        return _apply_members(
            wildcard_query_scores(engine, value), _members(engine, filter_expr)
        )
    if ctype == "range":
        from neural_search_spark.search.bm25 import range_query_scores

        scored = range_query_scores(
            engine, body["field"], gte=body.get("gte"), lt=body.get("lt")
        )
        return _apply_members(scored, _members(engine, filter_expr))
    if ctype == "dis_max":
        from neural_search_spark.search.bm25 import dis_max_scores

        return dis_max_scores(
            [_score_clause(engine, c, filter_expr) for c in body["queries"]],
            tie_breaker=float(body.get("tie_breaker", 0.0)),
        )
    if ctype == "boosting":
        from neural_search_spark.search.bm25 import boosting_query_scores

        return boosting_query_scores(
            _score_clause(engine, body["positive"], filter_expr),
            _score_clause(engine, body["negative"], None),
            negative_boost=float(body.get("negative_boost", 0.5)),
        )
    if ctype == "constant_score":
        from neural_search_spark.search.bm25 import constant_score_query

        inner = _score_clause(engine, body["filter"], filter_expr)
        return constant_score_query(inner, boost=float(body.get("boost", 1.0)))
    if ctype == "regexp":
        from neural_search_spark.search.bm25 import regexp_query_scores

        value = body["value"] if isinstance(body, dict) else body
        return _apply_members(
            regexp_query_scores(engine, value), _members(engine, filter_expr)
        )
    if ctype == "simple_query_string":
        from pyspark.sql import functions as F

        from neural_search_spark.pipeline import params as P
        from neural_search_spark.search.hybrid import hybrid_raw_sum

        q = body["query"] if isinstance(body, dict) else body
        parsed = parse_simple_query_string(q)
        clauses = []
        for c in parsed["should"]:
            if c["kind"] == "phrase":
                # positional artifact optional (same convention as span_near);
                # falls back to the scan-path phrase — score-identical
                pidx = body.get("positions") if isinstance(body, dict) else None
                ph = (
                    pidx.match_phrase(" ".join(c["terms"]))
                    if pidx is not None
                    else engine.match_phrase(" ".join(c["terms"]))
                )
                ph = ph.select("docID", P.round6(F.col("score")).alias("score"))
                clauses.append(_apply_members(ph, _members(engine, filter_expr)))
            else:
                clauses.append(
                    engine.match(" ".join(c["terms"]), filter_expr=filter_expr)
                )
        if not clauses:
            return local_table(engine.spark, [], "docID long, score double")
        scored = hybrid_raw_sum(clauses)
        for mn in parsed["must_not"]:
            scored = scored.join(
                engine.match(" ".join(mn)).select("docID"), "docID", "anti"
            )
        return scored
    if ctype == "more_like_this":
        from neural_search_spark.search.bm25 import more_like_this_scores

        scored = more_like_this_scores(
            engine,
            body["like_doc"],
            max_query_terms=int(body.get("max_query_terms", 25)),
            min_term_freq=int(body.get("min_term_freq", 2)),
            min_doc_freq=int(body.get("min_doc_freq", 5)),
        )
        return _apply_members(scored, _members(engine, filter_expr))
    if ctype == "rank_feature":
        # ``features`` is the caller-supplied (docID, <field>) table —
        # same artifact-handle convention as neural's ``embeddings``
        from neural_search_spark.search.bm25 import rank_feature_saturation

        scored = rank_feature_saturation(
            body["features"],
            body["field"],
            pivot=float(body["pivot"]),
            boost=float(body.get("boost", 1.0)),
        )
        return _apply_members(scored, _members(engine, filter_expr))
    if ctype == "function_score":
        from neural_search_spark.search.bm25 import function_score_field_value

        inner = _score_clause(engine, body["query"], filter_expr)
        return function_score_field_value(
            inner,
            body["features"],
            body["field"],
            factor=float(body.get("factor", 1.0)),
        )
    if ctype == "span_near":
        # positional-index clause; ``positions`` is the caller-supplied
        # PositionalIndex (same convention as neural's ``embeddings`` /
        # neural_sparse's ``postings`` artifact handles)
        scored = body["positions"].span_near(body["query"], slop=int(body.get("slop", 0)))
        return _apply_members(scored, _members(engine, filter_expr))
    if ctype == "neural":
        # NeuralQueryBuilder.java:1145-1152 → NeuralKNNQueryBuilder.java:33-41
        # rewrite: embed the query text (deterministic stand-in model —
        # search/neural.py), then kNN over the doc-embedding column with
        # k / filter / min_score. ``embeddings`` is the caller-supplied
        # (docID, embedding) table (at scale: the text_embedding processor's
        # ingest-time output column).
        #
        # Field-type dispatch first: a neural clause whose target field is
        # rank_features rewrites to SPARSE scoring (NeuralQueryBuilder
        # rewrites per target field type; NeuralSparseQueryBuilder.java:
        # 520-524) — query tokens come from the clause or the query-side
        # sparse encoding stub, and ``postings`` is the sparse artifact.
        if body.get("field_type") == "rank_features":
            from neural_search_spark.search.sparse import (
                neural_sparse_score,
                sparse_query_encoding_stub,
            )

            tokens = body.get("query_tokens") or sparse_query_encoding_stub(body["query"])
            scored = neural_sparse_score(engine.spark, body["postings"], tokens)
            return _apply_members(scored, _members(engine, filter_expr))
        from pyspark.sql import functions as F

        from neural_search_spark.search.neural import (
            neural_clause_scores,
            query_embedding_stub,
        )

        qv = body.get("query_vector") or query_embedding_stub(body["query"])
        cand = None
        if filter_expr is not None:
            cand = engine.corpus.where(filter_expr).select(
                F.col(engine.id_col).alias("docID")
            )
        # knn_method: ANN-pruned candidate generation (ivf /
        # quantized_rescore) instead of the brute-force scan — the k-NN
        # method-param surface the reference's NeuralKNNQueryBuilder wraps.
        # ``centroids``/``assigned`` are the optional ingest-time IVF
        # artifacts (same artifact-handle convention as ``embeddings``).
        if body.get("knn_method"):
            from neural_search_spark.search.neural import neural_clause_scores_ann

            return neural_clause_scores_ann(
                body["embeddings"],
                qv,
                method=body["knn_method"],
                k=body.get("k"),
                n_lists=body.get("n_lists"),
                nprobe=body.get("nprobe"),
                oversample=body.get("oversample", 3),
                candidate_docs=cand,
                min_score=body.get("min_score"),
                centroids=body.get("centroids"),
                assigned=body.get("assigned"),
                codebooks=body.get("codebooks"),
                pq_m=body.get("pq_m", 2),
                pq_codes=body.get("pq_codes", 8),
            )
        return neural_clause_scores(
            body["embeddings"],
            qv,
            k=body.get("k"),
            candidate_docs=cand,
            min_score=body.get("min_score"),
            max_distance=body.get("max_distance"),
        )
    if ctype == "neural_sparse":
        from pyspark.sql import functions as F

        from neural_search_spark.search.sparse import (
            neural_sparse_score,
            sparse_query_tokens_from_analyzer,
        )

        # Explicit token map wins; otherwise ANALYZER mode tokenizes the
        # query text (NeuralSparseQueryBuilder.java:317-345 dispatch:
        # query_tokens supplier first, then the named/default analyzer).
        tokens = body.get("query_tokens")
        if tokens is None:
            tokens = sparse_query_tokens_from_analyzer(
                body["query"], body.get("analyzer")
            )
        postings = body["postings"]  # caller-supplied sparse postings DataFrame
        scored = neural_sparse_score(engine.spark, postings, tokens)
        if filter_expr is not None:
            members = engine.corpus.where(filter_expr).select(
                F.col(engine.id_col).alias("docID")
            )
            scored = scored.join(members, "docID", "semi")
        tp = body.get("_two_phase")
        if tp is not None:
            # two-phase rescore (the processor rewrite's rescore context,
            # NeuralSparseTwoPhaseProcessor.java:89-135): the heavy-token
            # phase-1 scores select a window; the light tokens rescore
            # ONLY that window; docs outside the window keep their
            # phase-1 score (a rescorer never touches them). Clause
            # scores round to 6 dp (shared params.round6) so the window
            # membership — and therefore everything downstream — is
            # bit-identical across engines.
            from neural_search_spark.pipeline import params as P

            scored = scored.select("docID", P.round6(F.col("score")).alias("score"))
            window = int(tp["window"])
            lo = tp.get("light_tokens") or {}
            if lo:
                # the window table is ≤ window rows (≤10000 by the cap):
                # broadcast BOTH the candidate restriction and the light
                # rescore result so neither side ever sort-merge-joins
                # the corpus-sized phase-1 table
                cand = F.broadcast(
                    scored.orderBy(F.desc("score"), F.asc("docID"))
                    .limit(window)
                    .select("docID")
                )
                light = F.broadcast(
                    neural_sparse_score(
                        engine.spark, postings, lo, candidate_docs=cand
                    ).select("docID", P.round6(F.col("score")).alias("_ls"))
                )
                scored = scored.join(light, "docID", "left").select(
                    "docID",
                    P.round6(
                        F.col("score") + F.coalesce(F.col("_ls"), F.lit(0.0))
                    ).alias("score"),
                )
        return scored
    text = body["query"] if isinstance(body, dict) else body
    if ctype == "match_phrase":
        from pyspark.sql import functions as F

        scored = engine.match_phrase(text)
        if filter_expr is not None:
            members = engine.corpus.where(filter_expr).select(
                F.col(engine.id_col).alias("docID")
            )
            scored = scored.join(members, "docID", "semi")
        return scored
    if ctype == "term":
        from pyspark.sql import functions as F

        scored = engine.term(text)
        if filter_expr is not None:
            members = engine.corpus.where(filter_expr).select(
                F.col(engine.id_col).alias("docID")
            )
            scored = scored.join(members, "docID", "semi")
        return scored
    kwargs = {}
    if isinstance(body, dict):
        if "operator" in body:
            kwargs["operator"] = body["operator"]
        if "minimum_should_match" in body:
            kwargs["minimum_should_match"] = int(body["minimum_should_match"])
    return engine.match(text, filter_expr=filter_expr, **kwargs)


def extract_query_text(spec: dict, field: str, default_field: str = "content") -> str:
    """Highlight query-text extraction from a query spec — the spec-level
    analog of ``highlight/extractor/QueryTextExtractorRegistry.java``:
    the semantic highlighter walks the (rewritten) query tree to find the
    text to highlight, so a ``highlight`` block needs no explicit
    query-text argument.

    Registered kinds (mirroring the registry's extractor set):

    - ``term`` → the term text, only if the clause's field is the
      highlighted field (``TermQueryTextExtractor.java``).
    - ``match`` / ``match_phrase`` → Lucene rewrites these to a
      BooleanQuery/PhraseQuery of per-term TermQuerys on the clause's
      field, so the contribution is the analyzed terms space-joined,
      field-gated like ``term``.
    - ``bool`` → sub-clause texts joined with spaces, **must_not
      skipped** (``BooleanQueryTextExtractor.java`` skips prohibited
      clauses).
    - ``neural`` → the clause's original query text, not field-gated
      (``NeuralQueryTextExtractor.java``).
    - ``nested`` → delegates to the inner query
      (``NestedQueryTextExtractor.java``).
    - a spec with ``queries`` (hybrid) → de-duplicated sub-query texts
      space-joined (``HybridQueryTextExtractor.java`` collects into a
      set; insertion order is kept here for determinism where Java's
      HashSet leaves it unspecified).

    Unregistered kinds contribute ``""`` — the registry logs a warning
    and skips them.
    """
    if "hybrid" in spec:
        spec = spec["hybrid"]
    if "queries" in spec:
        texts = [
            extract_query_text(c, field, default_field) for c in spec["queries"]
        ]
        return " ".join(dict.fromkeys(t for t in texts if t)).strip()
    (ctype, body), = spec.items()
    if ctype == "term":
        if isinstance(body, dict):
            cfield = body.get("field", default_field)
            text = body.get("value") or body.get("query") or ""
        else:
            cfield, text = default_field, body
        return text if cfield == field else ""
    if ctype in ("match", "match_phrase"):
        cfield = body.get("field", default_field) if isinstance(body, dict) else default_field
        text = body["query"] if isinstance(body, dict) else body
        if cfield != field:
            return ""
        from neural_search_spark.analysis.tokenizer import tokenize_text

        return " ".join(tokenize_text(text))
    if ctype == "bool":
        parts = [
            extract_query_text(c, field, default_field)
            for c in list(body.get("must", [])) + list(body.get("should", []))
        ]
        return " ".join(p for p in parts if p)
    if ctype == "neural":
        return body["query"] if isinstance(body, dict) else body
    if ctype == "nested":
        return extract_query_text(body["query"], field, default_field)
    return ""


def parse_spec_with_highlight(
    engine,
    spec: dict,
    pipeline: dict | None = None,
    k: int = 10,
    enricher_defaults: dict[str, Any] | None = None,
) -> DataFrame:
    """Hybrid search + spec-level ``highlight`` block: the highlight text
    is EXTRACTED from the parsed clauses (``extract_query_text``), never
    passed explicitly — the reference's semantic-highlighter entry point
    (``highlight/SemanticHighlighterEngine.java:298`` consumes the
    registry's extraction).

    ``spec["highlight"]``: ``{"field": <text field>, "fragment_delim":
    <line delimiter>}``; defaults to the engine's text field.
    Returns the highlighter schema (docID, score, frag_idx, fragment,
    sim).
    """
    body = spec["hybrid"] if "hybrid" in spec else spec
    hl = body.get("highlight")
    if not isinstance(hl, dict):
        raise ValueError("spec has no highlight block")
    inner = {k2: v for k2, v in body.items() if k2 != "highlight"}
    results = parse_hybrid_spec(
        engine, inner, pipeline=pipeline, k=k, enricher_defaults=enricher_defaults
    )
    field = hl.get("field", engine.text_col)
    qtext = extract_query_text(inner, field, default_field=engine.text_col)
    from neural_search_spark.search.ops import highlight_semantic

    return highlight_semantic(
        results,
        engine.corpus,
        qtext,
        fragment_delim=hl.get("fragment_delim", "\n"),
        content_col=field,
        id_col=engine.id_col,
    )


def resolve_query_text_path(spec: dict, path: str) -> str:
    """Resolve a ``query_text_path`` against the request dict — the
    reference reads the rerank query text out of the search request itself
    (``query/ext/RerankSearchExtBuilder.java`` carries the block;
    ``MLOpenSearchRerankProcessor`` evaluates the XContent path). Dot
    segments index dicts; numeric segments index lists."""
    node: Any = spec
    for seg in path.split("."):
        if isinstance(node, list):
            node = node[int(seg)]
        elif isinstance(node, dict):
            if seg not in node:
                raise ValueError(f"query_text_path {path!r}: no key {seg!r}")
            node = node[seg]
        else:
            raise ValueError(f"query_text_path {path!r}: hit a leaf at {seg!r}")
    if not isinstance(node, str):
        raise ValueError(f"query_text_path {path!r} must resolve to a string")
    return node


def parse_spec_with_rerank(
    engine,
    spec: dict,
    pipeline: dict | None = None,
    k: int = 10,
    window: int = 50,
    embeddings: DataFrame | None = None,
    enricher_defaults: dict[str, Any] | None = None,
) -> DataFrame:
    """Hybrid search + spec-level ``ext.rerank`` block — the request-context
    surface of the rerank processors (``query/ext/RerankSearchExtBuilder.java``
    + ``processor/rerank/context/DocumentContextSourceFetcher.java:30-70``):

    - ``{"ext": {"rerank": {"ml_opensearch": {"query_context":
      {"query_text": ...} | {"query_text_path": ...}, "context":
      {"document_fields": [...]}}}}}`` — the query text comes from the
      request itself (path resolved against the spec dict, exactly one of
      the two keys), every response-window hit is re-scored by the
      similarity model, and the listed document fields are fetched through
      the context fetcher, which enforces ``reranker_max_document_fields``.
    - ``{"ext": {"rerank": {"by_field": {"target_field": ...,
      "keep_previous_score": ...}}}}`` — the target field is fetched
      through the same capped fetcher and replaces the score.

    Returns (docID, score, <document_fields...>) for ml, the by_field
    schema for by_field. The window (top-``window`` hybrid hits) is the
    response the processor sees; the final cut is ``k``.
    """
    body = spec["hybrid"] if "hybrid" in spec else spec
    ext = body.get("ext", {}).get("rerank")
    if not isinstance(ext, dict):
        raise ValueError("spec has no ext.rerank block")
    inner = {k2: v for k2, v in body.items() if k2 != "ext"}
    results = parse_hybrid_spec(
        engine, inner, pipeline=pipeline, k=window, enricher_defaults=enricher_defaults
    )
    from neural_search_spark.search.ops import rerank_by_field, rerank_document_context

    if "ml_opensearch" in ext:
        from neural_search_spark.search.neural import rerank_ml

        cfg = ext["ml_opensearch"]
        qc = cfg.get("query_context") or {}
        if ("query_text" in qc) == ("query_text_path" in qc):
            # RerankSearchExtBuilder validates exactly one source
            raise ValueError(
                "query_context requires exactly one of query_text / query_text_path"
            )
        qtext = qc.get("query_text") or resolve_query_text_path(inner, qc["query_text_path"])
        if embeddings is None:
            raise ValueError("ml_opensearch rerank requires the embeddings artifact")
        out = rerank_ml(results, embeddings, qtext, k=k)
        fields = (cfg.get("context") or {}).get("document_fields") or []
        if fields:
            from pyspark.sql import functions as F

            ctx = rerank_document_context(engine.corpus, fields, id_col=engine.id_col)
            out = out.join(ctx, "docID", "left").orderBy(
                F.desc("score"), F.asc("docID")
            )
        return out
    if "by_field" in ext:
        cfg = ext["by_field"]
        ctx = rerank_document_context(
            engine.corpus, [cfg["target_field"]], id_col=engine.id_col
        )
        return rerank_by_field(
            results,
            ctx,
            cfg["target_field"],
            keep_previous_score=bool(cfg.get("keep_previous_score", False)),
        ).limit(k)
    raise ValueError(f"unknown rerank ext type(s): {sorted(ext)}")


def parse_hybrid_spec(
    engine,
    spec: dict,
    pipeline: dict | None = None,
    k: int = 10,
    enricher_defaults: dict[str, Any] | None = None,
) -> DataFrame:
    """Execute a dict-shaped hybrid query end to end.

    ``spec``: ``{"queries": [{"match": {"query": ...}}, ...],
    "filter": <sql predicate>, "pagination_depth": int}``.
    ``pipeline``: ``{"normalization": {"technique": ..., "lower_bounds":
    ...}, "combination": {"technique": ..., "weights": [...]}}`` — the
    normalization-processor config shape; defaults min_max/arithmetic_mean
    (``ScoreNormalizationFactory.java:25``,
    ``ScoreCombinationFactory.java:17``).
    """
    if "hybrid" in spec:
        spec = spec["hybrid"]
    spec = enrich_spec(spec, enricher_defaults)
    two_phase_cfg = (pipeline or {}).get("neural_sparse_two_phase_processor")
    if two_phase_cfg is not None:
        # search-pipeline request processor: rewrite neural_sparse
        # clauses BEFORE scoring (NeuralSparseTwoPhaseProcessor.java)
        spec = apply_two_phase_processor(spec, two_phase_cfg, k)
    clauses = spec.get("queries", [])
    check_sub_query_count(len(clauses))
    for clause in clauses:
        (ctype, _), = clause.items()
        if ctype == "hybrid":
            # HybridQueryPhaseSearcher.java:147-189 — hybrid is top-level only
            raise ValueError("hybrid query cannot be nested inside another hybrid")
    filter_expr = spec.get("filter")
    depth = spec.get("pagination_depth")
    frm = spec.get("from", 0)
    from neural_search_spark import stats as _stats

    if filter_expr is not None:
        _stats.record_event("hybrid_query_with_filter_requests")
    if frm > 0 or depth is not None:
        _stats.record_event("hybrid_query_with_pagination_requests")
    if frm > 0 and depth is None:
        # HybridCollectorManager.java:591-607
        raise ValueError("pagination_depth is required when 'from' > 0")
    pipeline = pipeline or {}
    norm_cfg = pipeline.get("normalization", {})
    comb_cfg = pipeline.get("combination", {})
    scored = [_score_clause(engine, c, filter_expr) for c in clauses]
    out = hybrid_search(
        scored,
        norm_cfg.get("technique", "min_max"),
        comb_cfg.get("technique", "arithmetic_mean"),
        weights=comb_cfg.get("weights"),
        k=k + frm,
        depth=depth or max(k + frm, 10),
        rank_constant=norm_cfg.get("rank_constant", 60),
        lower_bounds=norm_cfg.get("lower_bounds"),
        upper_bounds=norm_cfg.get("upper_bounds"),
    )
    if frm:
        from neural_search_spark.search.ops import paginate

        out = paginate(out, frm, k, pagination_depth=depth)
    return out


_SQS_ATOM = None  # compiled lazily so `re` stays a local concern


def parse_simple_query_string(query: str) -> dict:
    """``simple_query_string`` mini-parser (the never-throws query parser,
    ``SimpleQueryStringQueryParser`` semantics for the subset the engine
    scores): whitespace-separated atoms where ``"..."`` is a phrase
    clause, a ``-`` prefix negates the atom, and bare tokens are OR'd
    should clauses (default_operator=OR, minimum_should_match=1 — score =
    sum of matching should-clause scores, must_not excludes membership).

    Returns ``{"should": [{"kind": "match"|"phrase", "terms": [...]}, ...],
    "must_not": [[terms], ...]}``; atoms that analyze to nothing are
    dropped silently (the parser never errors — its defining property).
    """
    import re

    from neural_search_spark.analysis.tokenizer import tokenize_text

    global _SQS_ATOM
    if _SQS_ATOM is None:
        _SQS_ATOM = re.compile(r'(-?)"([^"]*)"|(-?)(\S+)')
    shoulds: list[dict] = []
    must_not: list[list[str]] = []
    for m in _SQS_ATOM.finditer(query):
        if m.group(2) is not None:
            neg, terms, kind = m.group(1) == "-", tokenize_text(m.group(2)), "phrase"
        else:
            neg, terms, kind = m.group(3) == "-", tokenize_text(m.group(4)), "match"
        if not terms:
            continue
        if neg:
            must_not.append(terms)
        else:
            shoulds.append({"kind": kind, "terms": terms})
    return {"should": shoulds, "must_not": must_not}

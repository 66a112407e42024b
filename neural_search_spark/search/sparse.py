"""Sparse ("neural_sparse" / rank_features) scoring, prune strategies, and
the two-phase processor — Spark-first.

Scoring contract (``query/NeuralSparseQueryBuilder.java:497-507``): the
query is a Boolean SHOULD of ``FeatureField.newLinearQuery(field, token,
weight)`` clauses, so ``score(doc) = Σ_token query_weight × stored_weight``
over tokens present in both. Lucene's FeatureField stores the feature
value with its float bits truncated to 16 (sign + exponent + 8 mantissa
bits: ``floatToIntBits(v) >>> 15``, decoded ``<< 15`` — public Lucene
knowledge); :func:`feature_quantize` reproduces that, and integer-valued
weights ≤ 512 round-trip exactly.

Prune strategies (``util/prune/PruneUtils.java:34-199``,
``PruneType.java:18-23``): ``top_k``, ``alpha_mass`` (keep while cumulative
≤ alpha·total, value-descending), ``max_ratio`` (keep ≥ ratio·max),
``abs_value`` (keep ≥ threshold). Values must be positive. The reference
breaks value ties in HashMap order (arbitrary); we tie-break by token
ascending — deterministic, documented deviation.

Two-phase (``processor/NeuralSparseTwoPhaseProcessor.java:38-57,89-135``):
split query tokens by prune (default ``max_ratio`` 0.4); phase 1 scores
with the high-weight set and keeps ``window = min(size × expansion_rate,
max_window)`` candidates (defaults 5.0 / 10000); phase 2 rescores only
those candidates with the low-weight set added.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from neural_search_spark.analysis.tokenizer import term_freqs
from neural_search_spark.session import local_table

DEFAULT_PRUNE_TYPE = "max_ratio"
DEFAULT_PRUNE_RATIO = 0.4
DEFAULT_EXPANSION_RATE = 5.0
MAX_WINDOW_SIZE = 10000


def feature_quantize_np(values: np.ndarray) -> np.ndarray:
    """Lucene FeatureField 16-bit feature quantization (round-trip)."""
    v = np.asarray(values, dtype=np.float32)
    bits = v.view(np.uint32)
    return ((bits >> np.uint32(15)) << np.uint32(15)).view(np.float32)


def prune_vector(
    vec: dict[str, float], prune_type: str, ratio: float
) -> tuple[dict[str, float], dict[str, float]]:
    """Split a sparse vector into (kept, pruned) per the reference rules."""
    if any(v <= 0 for v in vec.values()):
        raise ValueError("Pruned values must be positive")
    items = sorted(vec.items(), key=lambda kv: (-kv[1], kv[0]))
    if prune_type == "top_k":
        k = int(ratio)
        return dict(items[:k]), dict(items[k:])
    if prune_type == "max_ratio":
        mx = max(vec.values(), default=0.0)
        hi = {t: v for t, v in vec.items() if v >= ratio * mx}
        return hi, {t: v for t, v in vec.items() if t not in hi}
    if prune_type == "abs_value":
        hi = {t: v for t, v in vec.items() if v >= ratio}
        return hi, {t: v for t, v in vec.items() if t not in hi}
    if prune_type == "alpha_mass":
        total = sum(vec.values())
        hi: dict[str, float] = {}
        run = 0.0
        for t, v in items:
            run += v
            if run <= ratio * total:
                hi[t] = v
        return hi, {t: v for t, v in vec.items() if t not in hi}
    raise ValueError(f"unknown prune type {prune_type}")


def prune_features(
    features: DataFrame, prune_type: str, ratio: float, keep: str = "high"
) -> DataFrame:
    """(docID, features) → the same rows with each map pruned per the
    reference rules, keeping the high or the low side (doc side: the
    sparse_encoding ingest processor prunes stored vectors).

    One Arrow pass over whole rows (``mapInPandas``), not a scalar pandas
    UDF over the column: Spark 4.1 can leave a scalar Python UDF whose
    argument holds the analyzer's lambda expressions unextracted, and the
    query then fails with "Cannot evaluate expression"."""
    idx = 0 if keep == "high" else 1

    def _prune(batches):
        for pdf in batches:
            pdf["features"] = pdf["features"].map(
                lambda m: prune_vector(dict(m), prune_type, ratio)[idx]
            )
            yield pdf

    return features.mapInPandas(_prune, features.schema)


def sparse_features_from_tf(corpus: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """Deterministic stand-in for the sparse_encoding model
    (``processor/SparseEncodingProcessor.java:45``): feature weight =
    term frequency (exact under FeatureField quantization for tf ≤ 512).
    Returns (docID, features map<string,float>)."""
    from neural_search_spark import stats as _stats

    _stats.record_event("sparse_encoding_executions")
    return corpus.select(
        F.col(id_col).alias("docID"),
        F.transform_values(
            term_freqs(text_col).getField("tf_map"),
            lambda _, v: v.cast("float"),
        ).alias("features"),
    )


def sparse_query_encoding_stub(query_text: str) -> dict[str, float]:
    """Deterministic stand-in for query-side sparse encoding
    (``query/NeuralSparseQueryBuilder.java`` runs the sparse model on the
    query text at rewrite time): token weight = term frequency in the
    query — the query-side mirror of :func:`sparse_features_from_tf`."""
    from collections import Counter

    from neural_search_spark.analysis.tokenizer import tokenize_text

    return {t: float(c) for t, c in Counter(tokenize_text(query_text)).items()}


#: the reference's DEFAULT_ANALYZER (``query/NeuralSparseQueryBuilder.java``
#: v3.1+ analyzer mode); mapped to the repo's deterministic stand-in below.
SPARSE_DEFAULT_ANALYZER = "bert-uncased"


def _whitespace_tokens(text: str) -> list[str]:
    return text.lower().split()


def sparse_query_tokens_from_analyzer(
    query_text: str, analyzer: str | None = None
) -> dict[str, float]:
    """``neural_sparse`` ANALYZER mode
    (``query/NeuralSparseQueryBuilder.java:93-104`` — ``ANALYZER_FIELD``,
    default ``"bert-uncased"``; dispatch ``:317-345``; tokenization
    ``:453-491``): when the query supplies an ``analyzer`` name instead of
    an explicit token-weight map, tokenize ``query_text`` with that
    analyzer; each token's weight comes from its payload, or **1.0 when
    the analyzer attaches none**, and duplicate tokens collapse to one
    entry (the reference accumulates into a HashMap).

    Stand-in registry (payload-less, so all weights are 1.0):
    ``standard`` → the repo tokenizer; ``whitespace`` → lowercase
    whitespace split; ``bert-uncased`` (the reference default) → the
    standard tokenizer, a documented deterministic model stand-in like
    :func:`sparse_query_encoding_stub`. Unknown names raise, mirroring
    the reference's "Analyzer [..] not found" check (``:455-458``)."""
    from neural_search_spark.analysis.tokenizer import tokenize_text

    registry = {
        "standard": tokenize_text,
        "bert-uncased": tokenize_text,
        "whitespace": _whitespace_tokens,
    }
    name = analyzer if analyzer is not None else SPARSE_DEFAULT_ANALYZER
    if name not in registry:
        raise ValueError(f"Analyzer [{name}] not found")
    toks = registry[name](query_text)
    return {t: 1.0 for t in toks if t}


def sparse_postings(features: DataFrame) -> DataFrame:
    """(docID, features) → long-form (term, docID, weight): the
    rank_features "index" as a DataFrame. ``explode_outer`` plus a
    null-term filter, for the reason given in
    :func:`~neural_search_spark.analysis.tokenizer.explode_term_freqs`: an
    inner explode's inferred ``size(features) > 0`` filter would evaluate
    the features (the analyzer, or a prune UDF over it) a second time."""
    return features.select(
        "docID", F.explode_outer("features").alias("term", "weight")
    ).where(F.col("term").isNotNull())


def neural_sparse_score(
    spark: SparkSession,
    postings: DataFrame,
    query_tokens: dict[str, float],
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """Σ_token qw × dw per doc → (docID, score). The tiny query-token table
    is broadcast; only matching postings rows shuffle into the final agg."""
    from neural_search_spark import stats as _stats

    _stats.record_event("neural_sparse_query_requests")
    if not query_tokens:
        return local_table(spark, [], "docID long, score double")
    qt = F.broadcast(
        local_table(
            spark, [(t, float(w)) for t, w in sorted(query_tokens.items())], "term string, qw double"
        )
    )
    matched = postings.join(qt, "term")
    if candidate_docs is not None:
        matched = matched.join(candidate_docs.select("docID"), "docID", "semi")
    return matched.groupBy("docID").agg(
        F.sum(F.col("qw") * F.col("weight").cast("double")).alias("score")
    )


def two_phase_topk(
    spark: SparkSession,
    postings: DataFrame,
    query_tokens: dict[str, float],
    k: int = 10,
    prune_type: str = DEFAULT_PRUNE_TYPE,
    prune_ratio: float = DEFAULT_PRUNE_RATIO,
    expansion_rate: float = DEFAULT_EXPANSION_RATE,
) -> DataFrame:
    """Two-phase sparse retrieval: heavy tokens select a candidate window,
    light tokens only rescore the window — the reference's rescorer shape
    (window_size = size × expansion_rate, capped at 10000)."""
    from neural_search_spark import stats as _stats

    _stats.record_event("neural_sparse_two_phase_executions")
    hi, lo = prune_vector(dict(query_tokens), prune_type, prune_ratio)
    window = min(int(k * expansion_rate), MAX_WINDOW_SIZE)
    phase1 = neural_sparse_score(spark, postings, hi)
    cand = phase1.orderBy(F.desc("score"), F.asc("docID")).limit(window).select("docID")
    if lo:
        rescore = neural_sparse_score(spark, postings, lo, candidate_docs=cand)
        full = (
            phase1.join(cand, "docID", "semi")
            .unionByName(rescore)
            .groupBy("docID")
            .agg(F.sum("score").alias("score"))
        )
    else:
        full = phase1.join(cand, "docID", "semi")
    return full.orderBy(F.desc("score"), F.asc("docID")).limit(k)

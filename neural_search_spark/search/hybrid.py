"""Hybrid query: per-clause scoring → normalization → combination → top-k.

Reproduces the reference's normalization-processor workflow
(``processor/NormalizationProcessorWorkflow.java:64-107``):

- 1..5 sub-queries (``HybridQueryBuilder.java:67`` MAX_NUMBER_OF_SUB_QUERIES),
  each scored independently; a pushed ``filter`` restricts every clause
  (``HybridQueryBuilder.java:107-122``).
- per-clause candidate depth: the reference collects ``numHits =
  pagination_depth ?? size`` docs per clause *before* normalization
  (``HybridCollectorManager.java:102,591-607``); we cut each clause to
  ``depth`` by (score desc, docID asc).
- normalization stats are **global per clause** across all shards
  (``MinMaxScoreNormalizationTechnique.java:140-147``).
- combination sees a zero-filled float array per doc
  (``ScoreCombiner.java:291-305``): absent clauses contribute 0.0 and DO
  count in the arithmetic-mean denominator.
- final cut: combined score desc, docID asc (``ScoreCombiner.java:43-56``)
  and optional post_filter (membership only,
  ``HybridCollectorManager.java:121-133``).

Scale shape: each clause is cut to ``depth`` rows in Spark, the cuts are
unioned with their clause index, and one ``collect()`` brings at most
clauses × depth rows to the driver. Normalize, combine, post_filter and
the final cut run there in plain Python, as the reference's coordinator
works over the ≤ depth top docs each sub-query returns. The Python steps
keep the order of double operations of the Spark expressions they
replaced, so scores are the same doubles. ``hybrid_batch_topk`` stays
set-oriented: its min_max windows and pivot run in Spark over many
requests at once.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal
from functools import reduce
from operator import add

from pyspark.sql import DataFrame, functions as F, Window

from neural_search_spark.search.bm25 import term_score_col, topk
from neural_search_spark.session import local_table, top_per_key

MIN_SCORE = 0.001  # MinMaxScoreNormalizationTechnique.java MIN_SCORE
MAX_SCORE = 1.0  # MinMaxScoreNormalizationTechnique.java MAX_SCORE

NORMALIZATIONS = ("min_max", "l2", "z_score", "rrf")
COMBINATIONS = ("arithmetic_mean", "harmonic_mean", "geometric_mean", "rrf")
BOUND_MODES = ("apply", "clip", "ignore")  # bounds/BoundMode.java:18-23


def validate_weights(weights: list[float] | None, n_clauses: int) -> None:
    """``ScoreCombinationUtil.java:120-141``: each weight ∈ [0,1], sum 1.0±0.01."""
    if weights is None:
        return
    if len(weights) != n_clauses:
        raise ValueError("number of weights must match number of clauses")
    if any(w < 0.0 or w > 1.0 for w in weights):
        raise ValueError("all weights must be in [0.0, 1.0]")
    if abs(sum(weights) - 1.0) > 0.01:
        raise ValueError("sum of weights must be 1.0 (±0.01)")


def validate_technique_pair(normalization: str, combination: str) -> None:
    """rrf normalization only pairs with rrf combination
    (``ScoreNormalizationFactory.java:38-44,82-93``)."""
    if normalization not in NORMALIZATIONS:
        raise ValueError(f"unknown normalization {normalization}")
    if combination not in COMBINATIONS:
        raise ValueError(f"unknown combination {combination}")
    if (normalization == "rrf") != (combination == "rrf"):
        raise ValueError("rrf normalization must be paired with rrf combination")


def describe_normalization(
    technique: str,
    lower_bounds: list[tuple[str, float] | None] | None = None,
    upper_bounds: list[tuple[str, float] | None] | None = None,
) -> str:
    """The normalization explanation description string —
    ``"{describe()} normalization of:"`` (``ExplanationUtils.java:36``),
    where min_max ``describe()`` appends bound lists as
    ``", lower bounds [(mode, score), ...]"``
    (``MinMaxScoreNormalizationTechnique.java:155-176``; BoundMode
    ``toString()`` is lowercase)."""
    desc = technique
    for label, bounds in (("lower", lower_bounds), ("upper", upper_bounds)):
        if bounds:
            default = 0.0 if label == "lower" else 1.0  # {Lower,Upper}Bound DEFAULT_*_SCORE
            items = ", ".join(
                f"({m}, {float(v)!r})"
                for m, v in (b if b is not None else ("apply", default) for b in bounds)
            )
            desc += f", {label} bounds [{items}]"
    return f"{desc} normalization of:"


def describe_combination(technique: str, weights: list[float] | None = None) -> str:
    """``"{describe()} combination of:"`` (``ScoreCombiner.java:391-396``);
    with weights, describe() is ``"{name}, weights [w1, w2, ...]"``
    (``ExplanationUtils.java:51-60``, Java ``List<Float>.toString`` shape)."""
    if weights:
        w = ", ".join(f"{float(x)!r}" for x in weights)
        return f"{technique}, weights [{w}] combination of:"
    return f"{technique} combination of:"


def _effective_bound(bound, s, own, other, lower: bool) -> float:
    """Effective min (``lower``) or max under an optional bound — the
    branch order of ``normalization/bounds/LowerBound.java`` and
    ``UpperBound.java:determineEffectiveScore``."""
    if bound is None or bound[0] == "ignore":
        return own
    b = float(bound[1])
    if bound[0] == "apply":
        return b if ((other > b and s > b) if lower else (other < b and s < b)) else own
    return own if (other < b if lower else other > b) else b  # clip


def _check_bounds(technique: str, *bounds) -> None:
    for bound in bounds:
        if bound is not None and technique != "min_max":
            raise ValueError("bounds are only supported by min_max normalization")
        if bound is not None and bound[0] not in BOUND_MODES:
            raise ValueError(f"invalid bound mode: {bound[0]}, valid values are: {', '.join(BOUND_MODES)}")


def normalize_scores(
    rows: list[tuple[int, float]],
    technique: str,
    rank_constant: int = 60,
    lower_bound: tuple[str, float] | None = None,
    upper_bound: tuple[str, float] | None = None,
) -> list[tuple[int, float]]:
    """One clause's depth cut (docID, score) → (docID, nscore), in (score
    desc, docID asc) order, reference edge cases included.

    Statistics fold over the rows in that order, as the Spark windows over
    the cut did: sums add left to right from 0.0, the z_score deviation
    follows ``stddev_samp``'s row-by-row (n, mean, M2) update, and rrf
    rounds ``1/(rank_constant + rank)`` HALF_UP at scale 10.

    ``lower_bound``/``upper_bound``: optional ("apply"|"clip"|"ignore", value)
    pairs, min_max only — ``MinMaxScoreNormalizationTechnique.java:258-295``
    with the bound substitution/clip rules from ``normalization/bounds/``.
    """
    _check_bounds(technique, lower_bound, upper_bound)
    if not rows:
        return []
    rows = sorted(rows, key=lambda r: (-r[1], r[0]))
    scores = [s for _, s in rows]
    mn, mx = min(scores), max(scores)
    clip_lo = lower_bound is not None and lower_bound[0] == "clip"
    clip_hi = upper_bound is not None and upper_bound[0] == "clip"

    def min_max(s: float) -> float:
        lo = _effective_bound(lower_bound, s, mn, mx, lower=True)
        hi = _effective_bound(upper_bound, s, mx, mn, lower=False)
        # normalizeSingleScore branch order (MinMaxScoreNormalizationTechnique
        # .java:258-280): single-score → 1.0; clip-below → MIN_SCORE;
        # clip-above → MAX_SCORE; effMax==effMin → 1.0; raw==0 → MIN_SCORE.
        if mx == mn and mx == s:
            return 1.0
        if clip_lo and s < lo:
            return MIN_SCORE
        if clip_hi and s > hi:
            return MAX_SCORE
        if hi == lo:
            return 1.0
        raw = (s - lo) / (hi - lo)
        return MIN_SCORE if raw == 0.0 else raw

    if technique == "min_max":
        out = [min_max(s) for s in scores]
    elif technique == "l2":
        norm = math.sqrt(reduce(add, [0.0] + [s * s for s in scores]))
        out = [0.0 if norm == 0.0 else s / norm for s in scores]
    elif technique == "z_score":
        n, avg, m2 = 0.0, 0.0, 0.0
        for s in scores:
            n, delta = n + 1.0, s - avg
            avg, m2 = avg + delta / n, m2 + delta * (delta - delta / n)
        sd = math.sqrt(m2 / (n - 1.0)) if n > 1.0 else 0.0  # one row: null → 0.0
        mean = reduce(add, [0.0] + scores) / len(scores)  # avg(): sum / count
        z = [(s - mean) / sd if sd else 0.0 for s in scores]
        # s==mean → clause max; sd==0 → clause min; z<=0 → MIN_SCORE
        out = [mx if s == mean else mn if sd == 0.0 else MIN_SCORE if zi <= 0.0 else zi
               for s, zi in zip(scores, z)]
    elif technique == "rrf":
        # 1/(rank_constant + pos + 1), BigDecimal scale 10 HALF_UP
        # (RRFNormalizationTechnique.java:136-138)
        q = Decimal(1).scaleb(-10)
        out = [float(Decimal(repr(1.0 / (rank_constant + r))).quantize(q, ROUND_HALF_UP))
               for r in range(1, len(scores) + 1)]
    else:
        raise ValueError(technique)
    return [(d, v) for (d, _), v in zip(rows, out)]


def combine_scores(
    normalized: list[list[tuple[int, float]]],
    technique: str = "arithmetic_mean",
    weights: list[float] | None = None,
) -> dict[int, tuple[float, list[float]]]:
    """Per-doc combination over zero-filled per-clause scores → docID →
    (score, [s_0, ..., s_{n-1}]). A clause's score for a doc is 0.0 where
    the clause did not return the doc (``ScoreCombiner.java:291-305``),
    else the sum of its rows for the doc (a docID that repeats sums)."""
    n = len(normalized)
    validate_weights(weights, n)
    w = weights or [1.0] * n
    per_doc: dict[int, list[float]] = {}
    for i, rows in enumerate(normalized):
        for d, v in rows:
            per_doc.setdefault(d, [0.0] * n)[i] += v

    def comb(cols: list[float]) -> float:
        cw = list(zip(cols, w))
        if technique == "arithmetic_mean":
            # s >= 0 always holds post-zero-fill → all weights in denominator
            # (ArithmeticMeanScoreCombinationTechnique.java:42-60)
            den = float(sum(w))
            return 0.0 if den == 0.0 else reduce(add, [c * wi for c, wi in cw]) / den
        # harmonic/geometric skip zeros (HarmonicMeanScoreCombinationTechnique
        # .java:41-56, GeometricMeanScoreCombinationTechnique.java:43-59)
        sw = reduce(add, [wi if c > 0.0 else 0.0 for c, wi in cw])
        if technique == "harmonic_mean":
            sh = reduce(add, [wi / c if c > 0.0 else 0.0 for c, wi in cw])
            return sw / sh if sh > 0.0 else 0.0
        if technique == "geometric_mean":  # exp(Σ w·ln s / Σ w) over s>0
            sl = reduce(add, [wi * math.log(c) if c > 0.0 else 0.0 for c, wi in cw])
            return 0.0 if sw == 0.0 else math.exp(sl / sw)
        if technique == "rrf":
            # weighted SUM, not mean (RRFScoreCombinationTechnique.java:39-62)
            return reduce(add, [c * wi for c, wi in cw])
        raise ValueError(technique)

    return {d: (comb(cols), cols) for d, cols in per_doc.items()}


def hybrid_raw_sum(clause_scores: list[DataFrame]) -> DataFrame:
    """Aggregation-path scoring (§2.7): each doc matched by any clause is
    seen once with score = SUM of raw sub-query scores
    (``query/HybridQueryScorer.java:104-120``, ``HybridSubQueryScorer.java:28-36``).
    """
    long = reduce(DataFrame.unionByName, [df.select("docID", "score") for df in clause_scores])
    return long.groupBy("docID").agg(F.sum("score").alias("score"))


def check_sub_query_count(n: int) -> None:
    """Raise unless ``1 ≤ n ≤`` the live ``hybrid_max_sub_queries`` setting
    (``HybridQueryBuilder.java:67``, default 5)."""
    from neural_search_spark import settings

    max_sub = int(settings.get("hybrid_max_sub_queries"))
    if not 1 <= n <= max_sub:
        raise ValueError(f"hybrid query supports 1..{max_sub} sub-queries")


def hybrid_batch_topk(
    engine,
    batches: dict[int, list[list[str]]],
    k: int = 10,
    depth: int | None = 50,
) -> DataFrame:
    """MANY hybrid requests (min_max + arithmetic_mean, the reference's
    default processor pair) in ONE grouped plan → (qid, docID, score).

    Every request's lexical clauses are scored off a single postings
    scan (one broadcast (qid, clause, term) table), depth-cut, min-max
    normalized and mean-combined with windows/groupBys keyed by
    (qid, clause) — the set-oriented restatement of the per-request
    NormalizationProcessor pipeline for offline eval sets and query logs.
    Per-request numbers are IEEE-identical to :func:`hybrid_search`: the
    pivot into fixed per-clause columns keeps the combine's add order
    left-associated exactly like :func:`combine_scores`, and absent
    clauses zero-fill (they still count in the arithmetic-mean
    denominator, ``ScoreCombiner`` semantics).

    Scale shape: query tables broadcast; the corpus-sized work is one
    postings join + one (qid, clause, docID) aggregation; everything
    after the depth cut is bounded by Q × clauses × depth rows."""
    rows = []
    for qid, clauses in sorted(batches.items()):
        check_sub_query_count(len(clauses))
        for ci, terms in enumerate(clauses):
            for t in sorted(set(terms)):
                rows.append((int(qid), ci, t))
    spark = engine.spark
    if not rows:
        return local_table(spark, [], "qid int, docID long, score double")
    qt = F.broadcast(local_table(spark, rows, "qid int, cidx int, term string"))
    clause_scores = engine.postings.join(qt, "term").groupBy("qid", "cidx", "docID").agg(
        F.sum(term_score_col(engine.stats)).alias("score")
    )
    if depth is not None:
        clause_scores = top_per_key(clause_scores, ["qid", "cidx"], depth)
    # min_max per (qid, clause), no bounds: normalize_scores' branch order
    sc, w = F.col("score"), Window.partitionBy("qid", "cidx")
    mn, mx = F.min(sc).over(w), F.max(sc).over(w)
    raw = (sc - mn) / (mx - mn)
    normalized = clause_scores.select(
        "qid", "cidx", "docID",
        F.when(mx == mn, F.lit(1.0))
        .otherwise(F.when(raw == 0.0, F.lit(MIN_SCORE)).otherwise(raw))
        .alias("nscore"),
    )
    maxc = max(len(c) for c in batches.values())
    wide = normalized.groupBy("qid", "docID").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("cidx") == i, F.col("nscore"))), F.lit(0.0)
            ).alias(f"s_{i}")
            for i in range(maxc)
        ]
    )
    # clauses per request, looked up in a map literal (no join)
    nclause = F.create_map(
        *[F.lit(x) for qid, c in sorted(batches.items()) for x in (int(qid), float(len(c)))]
    )
    num = reduce(add, [F.col(f"s_{i}") for i in range(maxc)])
    # round-then-cut: the per-qid window orders by the ROUNDED score so the
    # engine and the DuckDB oracle (which rounds before ORDER BY/LIMIT)
    # share one cut contract — same reasoning as bm25_batch_topk; cutting
    # on the unrounded score can pick different docs on 4dp boundary ties.
    comb = wide.select(
        "qid", "docID", F.round(num / F.element_at(nclause, F.col("qid")), 4).alias("score")
    )
    return top_per_key(comb, "qid", k).orderBy("qid", F.col("score").desc(), "docID")


def hybrid_search(
    clause_scores: list[DataFrame],
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    k: int = 10,
    depth: int | None = None,
    rank_constant: int = 60,
    post_filter_docs: DataFrame | None = None,
    keep_clause_columns: bool = False,
    lower_bounds: list[tuple[str, float] | None] | None = None,
    upper_bounds: list[tuple[str, float] | None] | None = None,
) -> DataFrame:
    """Full hybrid pipeline over pre-scored clauses → top-k (docID, score).

    Runs the clause plans when called: the per-clause depth cuts come to
    the driver in one ``collect()`` (at most clauses × depth rows, else
    ValueError), and normalize, combine, post_filter and the final (score
    desc, docID asc) cut run there (:func:`normalize_scores`,
    :func:`combine_scores`). The result is a JVM-local table of at most
    ``k`` rows; with ``keep_clause_columns`` it also carries the
    zero-filled normalized clause scores ``s_0..s_{n-1}``.

    ``clause_scores``: per-clause (docID, score) DataFrames (raw scores).
    ``depth``: required per-clause collection depth ≥ 1 — the reference's
    ``numHits = pagination_depth ?? size``; a missing one raises ValueError.
    ``post_filter_docs``: docID membership filter applied after scoring,
    before the final cut (post_filter semantics); its membership of the
    cut docs is fetched in the same collect.
    ``lower_bounds``/``upper_bounds``: per-clause min_max bounds, one entry
    (or None) per clause (``MinMaxScoreNormalizationTechnique.java:52-64``).
    """
    n = len(clause_scores)
    check_sub_query_count(n)
    validate_technique_pair(normalization, combination)
    if depth is None or depth < 1:
        # the driver collects clauses × depth rows: bounded only by a cut
        raise ValueError("hybrid_search requires a per-clause depth (numHits) >= 1")
    validate_weights(weights, n)
    for bounds in (lower_bounds, upper_bounds):
        if bounds is not None and len(bounds) != n:
            raise ValueError("bounds list must have one entry per sub-query")
    lbs, ubs = lower_bounds or [None] * n, upper_bounds or [None] * n
    _check_bounds(normalization, *lbs, *ubs)
    # stats-API event counters (stats/events/EventStatName.java analog):
    # the normalization processor runs once per hybrid request; techniques
    # map to their typed counters (rrf is the rank-based processor +
    # comb_rrf pair in the reference)
    from neural_search_spark import stats as _stats

    _stats.record_event("hybrid_query_requests")
    if normalization == "rrf":
        _stats.record_event("rank_based_normalization_processor_executions")
    else:
        _stats.record_event("normalization_processor_executions")
        _stats.record_event(
            {"min_max": "norm_minmax_executions", "l2": "norm_l2_executions",
             "z_score": "norm_zscore_executions"}[normalization]
        )
    _stats.record_event(
        {"arithmetic_mean": "comb_arithmetic_executions", "geometric_mean": "comb_geometric_executions",
         "harmonic_mean": "comb_harmonic_executions", "rrf": "comb_rrf_executions"}[combination]
    )
    cuts = reduce(
        DataFrame.unionByName,
        [
            topk(df, depth).select(F.lit(i).alias("cidx"), "docID", "score")
            for i, df in enumerate(clause_scores)
        ],
    )
    if post_filter_docs is not None:
        # membership as a flag on each cut row (a left join against the
        # distinct members), so the collect stays clauses × depth rows
        pf = post_filter_docs.select("docID").distinct().withColumn("_pf", F.lit(True))
        cuts = cuts.join(pf, "docID", "left")
    rows = cuts.collect()
    if len(rows) > n * depth:
        raise ValueError(f"hybrid_search collected {len(rows)} rows, over clauses × depth = {n * depth}")
    normalized = [
        normalize_scores([(r["docID"], r["score"]) for r in rows if r["cidx"] == i],
                         normalization, rank_constant, lbs[i], ubs[i])
        for i in range(n)
    ]
    combined = combine_scores(normalized, combination, weights)
    if post_filter_docs is not None:
        members = {r["docID"] for r in rows if r["_pf"]}
        combined = {d: v for d, v in combined.items() if d in members}
    top = sorted(combined.items(), key=lambda kv: (-kv[1][0], kv[0]))[:k]
    cols = [f"s_{i}" for i in range(n)] if keep_clause_columns else []
    return local_table(
        clause_scores[0].sparkSession,
        [(d, score, *s_i[: len(cols)]) for d, (score, s_i) in top],
        ", ".join(["docID long", "score double"] + [f"{c} double" for c in cols]),
    )

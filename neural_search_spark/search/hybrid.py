"""Hybrid query: per-clause scoring → normalization → combination → top-k.

Reproduces the reference's normalization-processor workflow
(``processor/NormalizationProcessorWorkflow.java:64-107``) as one
declarative DataFrame plan:

- 1..5 sub-queries (``HybridQueryBuilder.java:67`` MAX_NUMBER_OF_SUB_QUERIES),
  each scored independently; a pushed ``filter`` restricts every clause
  (``HybridQueryBuilder.java:107-122``).
- per-clause candidate depth: the reference collects ``numHits =
  pagination_depth ?? size`` docs per clause *before* normalization
  (``HybridCollectorManager.java:102,591-607``); we cut each clause to
  ``depth`` by (score desc, docID asc).
- normalization stats are **global per clause** across all shards
  (``MinMaxScoreNormalizationTechnique.java:140-147``) — a whole-clause
  window aggregate here.
- combination sees a zero-filled float array per doc
  (``ScoreCombiner.java:291-305``): absent clauses contribute 0.0 and DO
  count in the arithmetic-mean denominator.
- final cut: combined score desc, docID asc (``ScoreCombiner.java:43-56``)
  and optional post_filter (membership only,
  ``HybridCollectorManager.java:121-133``).

Scale shape: each clause is cut to ``depth`` rows first, and its
normalization statistics are whole-clause windows over that cut. The cut
comes out of one task, as the reference's coordinator sees at most
``depth`` top docs per sub-query, so the windows need no exchange, no
broadcast and no cache, and every clause plan is referenced once. Clause
scores are then unioned long-form ``(docID, clause, score)`` and pivoted
in a single groupBy — one shuffle for any clause count, instead of k-1
outer joins.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F, Window

from neural_search_spark.session import local_table

# HybridQueryBuilder.java:67 — default; live value comes from the
# settings surface ("hybrid_max_sub_queries")
MAX_SUB_QUERIES = 5
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


def clause_depth_cut(scored: DataFrame, depth: int) -> DataFrame:
    """Per-clause collection depth (numHits): keep top ``depth`` docs by
    (score desc, docID asc)."""
    return scored.orderBy(F.desc("score"), F.asc("docID")).limit(depth)


def _effective_bounds(s, mn, mx, lower_bound, upper_bound):
    """Effective min/max under optional bounds — exact branch order of
    ``normalization/bounds/LowerBound.java:determineEffectiveScore`` and
    ``UpperBound.java:determineEffectiveScore``."""
    if lower_bound is None:
        eff_min = mn
    else:
        mode, bv = lower_bound
        b = F.lit(float(bv))
        if mode == "apply":
            eff_min = F.when((mx > b) & (s > b), b).otherwise(mn)
        elif mode == "clip":
            eff_min = F.when(mx < b, mn).otherwise(b)
        elif mode == "ignore":
            eff_min = mn
        else:
            raise ValueError(f"invalid bound mode: {mode}, valid values are: {', '.join(BOUND_MODES)}")
    if upper_bound is None:
        eff_max = mx
    else:
        mode, bv = upper_bound
        b = F.lit(float(bv))
        if mode == "apply":
            eff_max = F.when((mn < b) & (s < b), b).otherwise(mx)
        elif mode == "clip":
            eff_max = F.when(mn > b, mx).otherwise(b)
        elif mode == "ignore":
            eff_max = mx
        else:
            raise ValueError(f"invalid bound mode: {mode}, valid values are: {', '.join(BOUND_MODES)}")
    return eff_min, eff_max


def normalize_clause(
    scored: DataFrame,
    technique: str,
    rank_constant: int = 60,
    lower_bound: tuple[str, float] | None = None,
    upper_bound: tuple[str, float] | None = None,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """(docID, score) → (docID, nscore), reference edge cases included.

    Precondition: ``scored`` is a depth-cut clause (:func:`clause_depth_cut`,
    at most ``depth`` rows). The statistics are window aggregates over the
    whole clause, and with no ``keys`` the window is unpartitioned, so the
    clause runs through a single task. ``keys`` partitions the window when
    one frame holds many clauses (e.g. ``("qid", "cidx")``, each partition
    depth-cut); the key columns are kept in the output.

    ``lower_bound``/``upper_bound``: optional ("apply"|"clip"|"ignore", value)
    pairs, min_max only — ``MinMaxScoreNormalizationTechnique.java:258-295``
    with the bound substitution/clip rules from ``normalization/bounds/``.
    """
    s = F.col("score")
    w = Window.partitionBy(*keys)
    if technique != "min_max" and (lower_bound is not None or upper_bound is not None):
        raise ValueError("bounds are only supported by min_max normalization")
    if technique == "min_max":
        df = scored.select("*", F.min(s).over(w).alias("_mn"), F.max(s).over(w).alias("_mx"))
        mn, mx = F.col("_mn"), F.col("_mx")
        eff_min, eff_max = _effective_bounds(s, mn, mx, lower_bound, upper_bound)
        raw = (s - eff_min) / (eff_max - eff_min)
        # normalizeSingleScore branch order (MinMaxScoreNormalizationTechnique
        # .java:258-280): single-score → 1.0; clip-below → MIN_SCORE;
        # clip-above → MAX_SCORE; effMax==effMin → 1.0; raw==0 → MIN_SCORE.
        n = F.when((mx == mn) & (mx == s), F.lit(1.0))
        if lower_bound is not None and lower_bound[0] == "clip":
            n = n.when(s < eff_min, F.lit(MIN_SCORE))
        if upper_bound is not None and upper_bound[0] == "clip":
            n = n.when(s > eff_max, F.lit(MAX_SCORE))
        n = n.when(eff_max == eff_min, F.lit(1.0)).otherwise(
            F.when(raw == 0.0, F.lit(MIN_SCORE)).otherwise(raw)
        )
        return df.select(*keys, "docID", n.alias("nscore"))
    if technique == "l2":
        df = scored.select("*", F.sqrt(F.sum(s * s).over(w)).alias("_norm"))
        n = F.when(F.col("_norm") == 0.0, F.lit(0.0)).otherwise(s / F.col("_norm"))
        return df.select(*keys, "docID", n.alias("nscore"))
    if technique == "z_score":
        df = scored.select(
            "*",
            F.avg(s).over(w).alias("_mean"),
            F.coalesce(F.stddev_samp(s).over(w), F.lit(0.0)).alias("_sd"),
            F.max(s).over(w).alias("_mx"),
            F.min(s).over(w).alias("_mn"),
        )
        z = (s - F.col("_mean")) / F.col("_sd")
        n = (
            F.when(s == F.col("_mean"), F.col("_mx"))  # s==mean → clause max
            .when(F.col("_sd") == 0.0, F.col("_mn"))  # sd==0 → clause min
            .otherwise(F.when(z <= 0.0, F.lit(MIN_SCORE)).otherwise(z))
        )
        return df.select(*keys, "docID", n.alias("nscore"))
    if technique == "rrf":
        # 1/(rank_constant + pos + 1), BigDecimal scale 10 HALF_UP
        # (RRFNormalizationTechnique.java:136-138); rank within the clause's
        # collected order = score desc, docID asc
        rn = F.row_number().over(w.orderBy(F.desc("score"), F.asc("docID")))
        n = F.round(F.lit(1.0) / (F.lit(rank_constant) + rn), 10)
        return scored.select(*keys, "docID", n.alias("nscore"))
    raise ValueError(technique)


def combine_clauses(
    normalized: list[DataFrame],
    technique: str = "arithmetic_mean",
    weights: list[float] | None = None,
) -> DataFrame:
    """Per-doc combination over zero-filled per-clause score columns."""
    n = len(normalized)
    validate_weights(weights, n)
    w = weights or [1.0] * n
    long = reduce(
        DataFrame.unionByName,
        [
            df.select(
                F.col("docID"),
                F.lit(i).alias("_c"),
                F.col([c for c in df.columns if c != "docID"][0]).alias("nscore"),
            )
            for i, df in enumerate(normalized)
        ],
    )
    # one shuffle: pivot clause scores into columns, zero-fill absent
    wide = long.groupBy("docID").agg(
        *[
            F.coalesce(F.sum(F.when(F.col("_c") == i, F.col("nscore"))), F.lit(0.0)).alias(f"s_{i}")
            for i in range(n)
        ]
    )
    cols = [F.col(f"s_{i}") for i in range(n)]
    if technique == "arithmetic_mean":
        # s >= 0 always holds post-zero-fill → all weights in denominator
        # (ArithmeticMeanScoreCombinationTechnique.java:42-60)
        num = reduce(lambda a, b: a + b, [c * F.lit(wi) for c, wi in zip(cols, w)])
        den = F.lit(float(sum(w)))
        comb = F.when(den == 0.0, F.lit(0.0)).otherwise(num / den)
    elif technique == "harmonic_mean":
        # zeros skipped (HarmonicMeanScoreCombinationTechnique.java:41-56)
        sw = reduce(lambda a, b: a + b, [F.when(c > 0.0, F.lit(wi)).otherwise(F.lit(0.0)) for c, wi in zip(cols, w)])
        sh = reduce(lambda a, b: a + b, [F.when(c > 0.0, F.lit(wi) / c).otherwise(F.lit(0.0)) for c, wi in zip(cols, w)])
        comb = F.when(sh > 0.0, sw / sh).otherwise(F.lit(0.0))
    elif technique == "geometric_mean":
        # exp(Σ w·ln s / Σ w) over s>0 (GeometricMeanScoreCombinationTechnique.java:43-59)
        sw = reduce(lambda a, b: a + b, [F.when(c > 0.0, F.lit(wi)).otherwise(F.lit(0.0)) for c, wi in zip(cols, w)])
        sl = reduce(lambda a, b: a + b, [F.when(c > 0.0, F.lit(wi) * F.log(c)).otherwise(F.lit(0.0)) for c, wi in zip(cols, w)])
        comb = F.when(sw == 0.0, F.lit(0.0)).otherwise(F.exp(sl / sw))
    elif technique == "rrf":
        # weighted SUM, not mean (RRFScoreCombinationTechnique.java:39-62)
        comb = reduce(lambda a, b: a + b, [c * F.lit(wi) for c, wi in zip(cols, w)])
    else:
        raise ValueError(technique)
    return wide.select("docID", comb.alias("score"), *[F.col(f"s_{i}") for i in range(n)])


def hybrid_raw_sum(clause_scores: list[DataFrame]) -> DataFrame:
    """Aggregation-path scoring (§2.7): each doc matched by any clause is
    seen once with score = SUM of raw sub-query scores
    (``query/HybridQueryScorer.java:104-120``, ``HybridSubQueryScorer.java:28-36``).
    """
    long = reduce(DataFrame.unionByName, [df.select("docID", "score") for df in clause_scores])
    return long.groupBy("docID").agg(F.sum("score").alias("score"))


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
    left-associated exactly like :func:`combine_clauses`, and absent
    clauses zero-fill (they still count in the arithmetic-mean
    denominator, ``ScoreCombiner`` semantics).

    Scale shape: query tables broadcast; the corpus-sized work is one
    postings join + one (qid, clause, docID) aggregation; everything
    after the depth cut is bounded by Q × clauses × depth rows."""
    from neural_search_spark import settings
    from neural_search_spark.search import bm25

    max_sub = int(settings.get("hybrid_max_sub_queries"))
    rows = []
    for qid, clauses in sorted(batches.items()):
        if not 1 <= len(clauses) <= max_sub:
            raise ValueError(f"hybrid query supports 1..{max_sub} sub-queries")
        for ci, terms in enumerate(clauses):
            for t in sorted(set(terms)):
                rows.append((int(qid), ci, t))
    spark = engine.spark
    if not rows:
        return local_table(spark, [], "qid int, docID long, score double")
    qt = F.broadcast(local_table(spark, rows, "qid int, cidx int, term string"))
    postings, doclens, stats = engine.postings, engine.doclens, engine.stats
    dfreq = (
        postings.join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("ndoc"))
    )
    matched = (
        postings.join(qt, "term")
        .join(F.broadcast(dfreq), "term")
        .join(doclens, "docID")
    )
    tf = F.col("tf").cast("double")
    tf_norm = tf / (
        tf
        + F.lit(bm25.K1) * (F.lit(1.0 - bm25.B) + F.lit(bm25.B) * F.col("dlq") / F.lit(stats.avgdl))
    )
    clause_scores = matched.groupBy("qid", "cidx", "docID").agg(
        F.sum(bm25.idf_col(stats.n_docs, F.col("ndoc")) * tf_norm).alias("score")
    )
    if depth is not None:
        wd = Window.partitionBy("qid", "cidx").orderBy(
            F.col("score").desc(), F.col("docID").asc()
        )
        clause_scores = (
            clause_scores.withColumn("_rn", F.row_number().over(wd))
            .where(F.col("_rn") <= int(depth))
            .drop("_rn")
        )
    normalized = normalize_clause(clause_scores, "min_max", keys=("qid", "cidx"))
    maxc = max(len(c) for c in batches.values())
    wide = normalized.groupBy("qid", "docID").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("cidx") == i, F.col("nscore"))), F.lit(0.0)
            ).alias(f"s_{i}")
            for i in range(maxc)
        ]
    )
    nclause = F.broadcast(
        local_table(
            spark,
            [(int(qid), float(len(c))) for qid, c in sorted(batches.items())],
            "qid int, _nc double",
        )
    )
    num = reduce(lambda a, b: a + b, [F.col(f"s_{i}") for i in range(maxc)])
    # round-then-cut: the per-qid window orders by the ROUNDED score so the
    # engine and the DuckDB oracle (which rounds before ORDER BY/LIMIT)
    # share one cut contract — same reasoning as bm25_batch_topk; cutting
    # on the unrounded score can pick different docs on 4dp boundary ties.
    comb = wide.join(nclause, "qid").select(
        "qid", "docID", F.round(num / F.col("_nc"), 4).alias("score")
    )
    wk = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("docID").asc()
    )
    return (
        comb.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= int(k))
        .select("qid", "docID", "score")
        .orderBy("qid", F.col("score").desc(), "docID")
    )


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

    ``clause_scores``: per-clause (docID, score) DataFrames (raw scores).
    ``depth``: required per-clause collection depth ≥ 1 — the reference's
    ``numHits = pagination_depth ?? size``; a missing one raises ValueError.
    ``post_filter_docs``: docID membership filter applied after scoring,
    before the final cut (post_filter semantics).
    ``lower_bounds``/``upper_bounds``: per-clause min_max bounds, one entry
    (or None) per clause (``MinMaxScoreNormalizationTechnique.java:52-64``).
    """
    from neural_search_spark import settings

    max_sub = int(settings.get("hybrid_max_sub_queries"))
    if not 1 <= len(clause_scores) <= max_sub:
        raise ValueError(f"hybrid query supports 1..{max_sub} sub-queries")
    validate_technique_pair(normalization, combination)
    if depth is None or depth < 1:
        # normalize_clause's unpartitioned windows run the clause through
        # one task, which is bounded only over a depth cut
        raise ValueError("hybrid_search requires a per-clause depth (numHits) >= 1")
    # stats-API event counters (stats/events/EventStatName.java analog)
    from neural_search_spark import stats as _stats

    # EventStatName.java counters: the normalization processor runs once
    # per hybrid request; techniques map to their typed counters (rrf is
    # the rank-based processor + comb_rrf pair in the reference)
    _stats.record_event("hybrid_query_requests")
    if normalization == "rrf":
        _stats.record_event("rank_based_normalization_processor_executions")
    else:
        _stats.record_event("normalization_processor_executions")
        _stats.record_event(
            {
                "min_max": "norm_minmax_executions",
                "l2": "norm_l2_executions",
                "z_score": "norm_zscore_executions",
            }[normalization]
        )
    _stats.record_event(
        {
            "arithmetic_mean": "comb_arithmetic_executions",
            "geometric_mean": "comb_geometric_executions",
            "harmonic_mean": "comb_harmonic_executions",
            "rrf": "comb_rrf_executions",
        }[combination]
    )
    for bounds in (lower_bounds, upper_bounds):
        if bounds is not None and len(bounds) != len(clause_scores):
            raise ValueError("bounds list must have one entry per sub-query")
    lbs = lower_bounds or [None] * len(clause_scores)
    ubs = upper_bounds or [None] * len(clause_scores)
    normalized = [
        normalize_clause(
            clause_depth_cut(df, depth), normalization, rank_constant, lower_bound=lb, upper_bound=ub
        )
        for df, lb, ub in zip(clause_scores, lbs, ubs)
    ]
    combined = combine_clauses(normalized, combination, weights)
    if post_filter_docs is not None:
        combined = combined.join(post_filter_docs.select("docID"), "docID", "semi")
    out_cols = ["docID", "score"] + (
        [c for c in combined.columns if c.startswith("s_")] if keep_clause_columns else []
    )
    return combined.select(*out_cols).orderBy(F.desc("score"), F.asc("docID")).limit(k)

"""Hybrid normalization/combination: golden edge cases + e2e oracle parity.

Golden fixtures mirror the reference unit tests
(processor/normalization/*Tests.java, processor/combination/*Tests.java);
e2e mirrors NormalizationProcessorIT/ScoreCombinationIT configurations.
"""

import math

import pytest

from neural_search_spark import oracle
from neural_search_spark.oracle import bm25 as obm
from neural_search_spark.search.bm25 import BM25Engine
from neural_search_spark.search.hybrid import (
    combine_scores,
    hybrid_search,
    normalize_scores,
    validate_technique_pair,
    validate_weights,
)
from test_plan_shape import SF_DIR  # the sf0.001 test corpus

DELTA = 1e-3  # TestUtils.java:43 DELTA_FOR_SCORE_ASSERTION


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "docID long, score double")


def _norm(pairs, technique, **kw):
    return dict(normalize_scores(pairs, technique, **kw))


def _comb(clauses, technique, weights=None):
    return {d: score for d, (score, _) in combine_scores(clauses, technique, weights).items()}


# ---------------------------------------------------------------- golden


def test_min_max_basic():
    out = _norm([(1, 2.0), (2, 4.0), (3, 3.0)], "min_max")
    assert out[2] == pytest.approx(1.0)
    assert out[1] == pytest.approx(0.001)  # score==min → MIN_SCORE floor
    assert out[3] == pytest.approx(0.5)


def test_min_max_single_score_is_one():
    out = _norm([(7, 0.3)], "min_max")
    assert out[7] == pytest.approx(1.0)  # SINGLE_RESULT_SCORE


def test_min_max_all_equal_is_one():
    out = _norm([(1, 0.5), (2, 0.5)], "min_max")
    assert out == {1: pytest.approx(1.0), 2: pytest.approx(1.0)}


def test_min_max_lower_bound_apply():
    # LowerBound.APPLY: effMin = bound when max>bound AND score>bound, else min
    out = _norm([(1, 2.0), (2, 4.0), (3, 3.0)], "min_max", lower_bound=("apply", 2.5))
    assert out[1] == pytest.approx(0.001)  # s<=bound → effMin=min → raw 0 → floor
    assert out[3] == pytest.approx((3.0 - 2.5) / (4.0 - 2.5), abs=DELTA)
    assert out[2] == pytest.approx(1.0)


def test_min_max_lower_bound_clip():
    # LowerBound.CLIP: scores below the bound clip to MIN_SCORE
    out = _norm([(1, 2.0), (2, 4.0), (3, 3.0)], "min_max", lower_bound=("clip", 2.5))
    assert out[1] == pytest.approx(0.001)  # clipped below
    assert out[3] == pytest.approx((3.0 - 2.5) / (4.0 - 2.5), abs=DELTA)
    assert out[2] == pytest.approx(1.0)


def test_min_max_upper_bound_apply():
    # UpperBound.APPLY: effMax = bound when min<bound AND score<bound, else max
    out = _norm([(1, 2.0), (2, 4.0), (3, 3.0)], "min_max", upper_bound=("apply", 3.5))
    assert out[1] == pytest.approx(0.001)
    assert out[3] == pytest.approx((3.0 - 2.0) / (3.5 - 2.0), abs=DELTA)
    assert out[2] == pytest.approx(1.0)  # s>=bound → effMax=max → (4-2)/2


def test_min_max_upper_bound_clip():
    # UpperBound.CLIP: scores above the bound clip to MAX_SCORE=1.0
    out = _norm([(1, 2.0), (2, 4.0), (3, 3.0)], "min_max", upper_bound=("clip", 3.5))
    assert out[2] == pytest.approx(1.0)  # clipped above
    assert out[3] == pytest.approx((3.0 - 2.0) / (3.5 - 2.0), abs=DELTA)
    assert out[1] == pytest.approx(0.001)


def test_min_max_bounds_ignore_is_noop():
    plain = _norm([(1, 2.0), (2, 4.0), (3, 3.0)], "min_max")
    ignored = _norm(
        [(1, 2.0), (2, 4.0), (3, 3.0)],
        "min_max",
        lower_bound=("ignore", 2.5),
        upper_bound=("ignore", 3.5),
    )
    assert ignored == {k: pytest.approx(v) for k, v in plain.items()}


def test_bounds_rejected_for_non_minmax():
    with pytest.raises(ValueError):
        normalize_scores([(1, 1.0)], "l2", lower_bound=("apply", 0.5))
    with pytest.raises(ValueError):
        normalize_scores([(1, 1.0)], "min_max", lower_bound=("bogus", 0.5))


def test_l2():
    out = _norm([(1, 3.0), (2, 4.0)], "l2")
    assert out[1] == pytest.approx(0.6)
    assert out[2] == pytest.approx(0.8)


def test_l2_zero_norm():
    out = _norm([(1, 0.0), (2, 0.0)], "l2")
    assert out == {1: 0.0, 2: 0.0}


def test_z_score():
    # mean=2, sample sd=1; s==mean → clause max; z<=0 → 0.001
    out = _norm([(1, 1.0), (2, 2.0), (3, 3.0)], "z_score")
    assert out[3] == pytest.approx(1.0)  # (3-2)/1
    assert out[2] == pytest.approx(3.0)  # s==mean → max
    assert out[1] == pytest.approx(0.001)  # z=-1 → MIN_SCORE


def test_z_score_sd_zero():
    # both equal → s==mean branch fires first → max
    out = _norm([(1, 5.0), (2, 5.0)], "z_score")
    assert out == {1: pytest.approx(5.0), 2: pytest.approx(5.0)}


def test_rrf_normalization():
    out = _norm([(1, 9.0), (2, 5.0), (3, 7.0)], "rrf")
    assert out[1] == pytest.approx(round(1 / 61, 10), abs=1e-12)
    assert out[3] == pytest.approx(round(1 / 62, 10), abs=1e-12)
    assert out[2] == pytest.approx(round(1 / 63, 10), abs=1e-12)


def test_arithmetic_mean_absent_counts_in_denominator():
    # doc 2 matched clause0 only: (0.8*1 + 0*1)/(1+1) = 0.4
    c0 = [(1, 1.0), (2, 0.8)]
    c1 = [(1, 0.5)]
    out = _comb([c0, c1], "arithmetic_mean")
    assert out[1] == pytest.approx(0.75)
    assert out[2] == pytest.approx(0.4)


def test_harmonic_geometric_skip_zeros():
    c0 = [(1, 1.0), (2, 0.8)]
    c1 = [(1, 0.5)]
    h = _comb([c0, c1], "harmonic_mean")
    assert h[1] == pytest.approx(2 / (1 / 1.0 + 1 / 0.5))
    assert h[2] == pytest.approx(0.8)  # zero clause skipped entirely
    g = _comb([c0, c1], "geometric_mean")
    assert g[1] == pytest.approx(math.exp((math.log(1.0) + math.log(0.5)) / 2))
    assert g[2] == pytest.approx(0.8)


def test_weighted_arithmetic():
    c0 = [(1, 1.0)]
    c1 = [(1, 0.5)]
    out = _comb([c0, c1], "arithmetic_mean", weights=[0.4, 0.6])
    assert out[1] == pytest.approx((0.4 * 1.0 + 0.6 * 0.5) / 1.0)


def test_rrf_combination_is_sum():
    c0 = [(1, 0.3)]
    c1 = [(1, 0.2)]
    out = _comb([c0, c1], "rrf")
    assert out[1] == pytest.approx(0.5)


def test_weight_validation():
    validate_weights([0.5, 0.5], 2)
    with pytest.raises(ValueError):
        validate_weights([0.5, 0.6], 2)
    with pytest.raises(ValueError):
        validate_weights([1.5, -0.5], 2)
    with pytest.raises(ValueError):
        validate_weights([0.5], 2)


def test_technique_pair_validation():
    validate_technique_pair("rrf", "rrf")
    with pytest.raises(ValueError):
        validate_technique_pair("rrf", "arithmetic_mean")
    with pytest.raises(ValueError):
        validate_technique_pair("min_max", "rrf")


# ---------------------------------------------------------------- e2e vs oracle

CLAUSES = ("import ident0", "def class ident1")
CONFIGS = [
    ("min_max", "arithmetic_mean", None),
    ("min_max", "arithmetic_mean", [0.3, 0.7]),
    ("min_max", "harmonic_mean", None),
    ("min_max", "geometric_mean", None),
    ("l2", "arithmetic_mean", None),
    ("z_score", "arithmetic_mean", None),
    ("rrf", "rrf", None),
]


@pytest.fixture(scope="module")
def engine(spark, tiny_corpus):
    return BM25Engine(spark, tiny_corpus).cache()


@pytest.fixture(scope="module")
def oracle_idx(tiny_corpus_pdf):
    return obm.OracleIndex(dict(zip(tiny_corpus_pdf["docID"], tiny_corpus_pdf["content"])))


def _oracle_hybrid(oracle_idx, clauses, norm, comb, weights, k, depth):
    from neural_search_spark.analysis.tokenizer import tokenize_text

    per = []
    for text in clauses:
        scores = oracle_idx.clause_scores(tokenize_text(text))
        cut = dict(sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:depth])
        if norm == "min_max":
            per.append(obm.normalize_min_max(cut))
        elif norm == "l2":
            per.append(obm.normalize_l2(cut))
        elif norm == "z_score":
            per.append(obm.normalize_z_score(cut))
        elif norm == "rrf":
            per.append(obm.normalize_rrf(cut))
    combined = obm.combine(per, comb, weights)
    ranked = sorted(combined.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(d, float(s)) for d, s in ranked[:k]]


@pytest.mark.parametrize("norm,comb,weights", CONFIGS)
def test_hybrid_e2e_vs_oracle(engine, oracle_idx, norm, comb, weights):
    k, depth = 10, 50
    clause_dfs = [engine.match(t) for t in CLAUSES]
    got = [
        (r["docID"], r["score"])
        for r in hybrid_search(
            clause_dfs, norm, comb, weights=weights, k=k, depth=depth
        ).collect()
    ]
    want = _oracle_hybrid(oracle_idx, CLAUSES, norm, comb, weights, k, depth)
    got_map = dict(got)
    want_map = dict(want)
    assert set(got_map) == set(want_map), (norm, comb)
    for d in got_map:
        assert abs(got_map[d] - want_map[d]) <= DELTA, (norm, comb, d)
    # rank-identical where score gaps exceed float32 noise
    for (gd, gs), (wd, ws) in zip(got, want):
        if gd != wd:
            assert abs(gs - ws) <= 2 * DELTA, (norm, comb, gd, wd)


PAIRS = [("min_max", "arithmetic_mean"), ("l2", "harmonic_mean"), ("z_score", "geometric_mean"), ("rrf", "rrf")]


def test_depth_required(spark):
    """Every technique's stats are unpartitioned windows (single task), so
    hybrid_search enforces the depth cut instead of assuming it."""
    clauses = [_df(spark, [(1, 1.0)])]
    for norm, comb in PAIRS:
        with pytest.raises(ValueError, match="depth"):
            hybrid_search(clauses, norm, comb, k=5)
        for depth in (None, 0):
            with pytest.raises(ValueError, match="depth"):
                hybrid_search(clauses, norm, comb, k=5, depth=depth)


def test_hybrid_holds_no_cache_entries(spark, engine):
    """A hybrid request leaves the Spark cache as it found it: no clause cut
    is pinned, for any technique pair, with bounds or a post_filter."""
    clauses = [engine.match(t) for t in CLAUSES]
    for c in clauses:  # materialize the engine's own caches first
        c.count()
    jsc = spark.sparkContext._jsc.sc()

    def cached_rdds():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    before = cached_rdds()
    for norm, comb in PAIRS:
        hybrid_search(clauses, norm, comb, k=5, depth=20).collect()
    hybrid_search(
        clauses, k=5, depth=20,
        lower_bounds=[("clip", 0.5), None], upper_bounds=[None, ("apply", 5.0)],
        post_filter_docs=clauses[0].select("docID"),
    ).collect()
    assert cached_rdds() - before == set()


# ---------------------------------------------------------------- e2e vs DuckDB twin

LEX = ("table value spark", "join merge hash window")


@pytest.fixture(scope="module")
def docs_engine(spark):
    from neural_search_spark.corpus import corpus_from_documents

    return BM25Engine(spark, corpus_from_documents(spark, SF_DIR)).cache()


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    yield con
    con.close()


def _terms(texts):
    from neural_search_spark.analysis.tokenizer import tokenize_text

    return [tokenize_text(t) for t in texts]


TWIN_CASES = {
    "bounds_apply": (LEX, dict(lower_bounds=[("apply", 1.0), None], upper_bounds=[None, ("apply", 2.5)])),
    "bounds_clip": (LEX, dict(lower_bounds=[("clip", 0.5), ("clip", 1.5)], upper_bounds=[("clip", 3.0), None])),
    "post_filter": (LEX, dict(post_filter="lang = 'es'")),
    "keep_clause_columns": (LEX, dict(keep_clause_columns=True)),
    "rrf_zero_hit_clause": (("zzmissing", "slow order spark"), dict(normalization="rrf", combination="rrf")),
}


@pytest.mark.parametrize("case", sorted(TWIN_CASES))
def test_hybrid_e2e_vs_duckdb_twin(docs_engine, duck, case):
    """min_max bounds (apply, clip), post_filter_docs, keep_clause_columns
    and rrf over a clause that matches nothing: the driver-side finish
    returns the rows of the DuckDB twin, scores at 4 dp."""
    from pyspark.sql import functions as F

    from neural_search_spark import oracle_sql as osql

    texts, opts = TWIN_CASES[case]
    norm = opts.get("normalization", "min_max")
    comb = opts.get("combination", "arithmetic_mean")
    bounds = {b: opts[b] for b in ("lower_bounds", "upper_bounds") if b in opts}
    pf = opts.get("post_filter")
    keep = opts.get("keep_clause_columns", False)
    k, depth = 10, 50
    out = hybrid_search(
        [docs_engine.match(t) for t in texts], norm, comb, k=k, depth=depth,
        post_filter_docs=docs_engine.corpus.where(pf).select("docID") if pf else None,
        keep_clause_columns=keep, **bounds,
    )
    extra = [F.round(f"s_{i}", 4).alias(f"clause_{i}") for i in range(len(texts))] if keep else []
    got = [tuple(r) for r in out.select("docID", F.round("score", 4).alias("score"), *extra).collect()]
    if keep:
        sql = osql.hybrid_explain_sql(_terms(texts), k=k, depth=depth)
    else:
        sql = osql.hybrid_topk_sql(_terms(texts), norm, comb, k=k, depth=depth, post_filter=pf, **bounds)
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got and got == want, case
    if keep:
        assert out.columns == ["docID", "score", "s_0", "s_1"]

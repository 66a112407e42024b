"""Sparse scoring / prune / two-phase tests (reference:
NeuralSparseQueryIT semantics, PruneUtils unit tests)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark.search.sparse import (
    feature_quantize_np,
    neural_sparse_score,
    prune_vector,
    sparse_features_from_tf,
    sparse_postings,
    two_phase_topk,
)


class TestFeatureQuantize:
    def test_integers_exact_up_to_512(self):
        v = np.arange(1, 513, dtype=np.float32)
        assert np.array_equal(feature_quantize_np(v), v)

    def test_truncation(self):
        # 1.0 + 2^-9 loses its low mantissa bit (8 mantissa bits kept)
        got = feature_quantize_np(np.array([1.0 + 2.0**-9], dtype=np.float32))
        assert got[0] == np.float32(1.0)

    def test_monotone(self):
        v = np.sort(np.random.RandomState(1).uniform(0.01, 100, 1000).astype(np.float32))
        q = feature_quantize_np(v)
        assert np.all(np.diff(q) >= 0)


class TestPrune:
    VEC = {"a": 5.0, "b": 3.0, "c": 1.0, "d": 0.5}

    def test_top_k(self):
        hi, lo = prune_vector(self.VEC, "top_k", 2)
        assert hi == {"a": 5.0, "b": 3.0} and lo == {"c": 1.0, "d": 0.5}

    def test_max_ratio(self):
        hi, lo = prune_vector(self.VEC, "max_ratio", 0.4)
        assert hi == {"a": 5.0, "b": 3.0} and set(lo) == {"c", "d"}

    def test_abs_value(self):
        hi, lo = prune_vector(self.VEC, "abs_value", 1.0)
        assert set(hi) == {"a", "b", "c"} and set(lo) == {"d"}

    def test_alpha_mass(self):
        # total 9.5; keep while cumulative <= 0.85*9.5=8.075 → a (5), a+b (8)
        hi, lo = prune_vector(self.VEC, "alpha_mass", 0.85)
        assert set(hi) == {"a", "b"} and set(lo) == {"c", "d"}

    def test_nonpositive_rejected(self):
        with pytest.raises(ValueError):
            prune_vector({"a": 0.0}, "top_k", 1)


@pytest.fixture(scope="module")
def postings(spark, tiny_corpus):
    return sparse_postings(sparse_features_from_tf(tiny_corpus)).cache()


def _oracle_scores(pdf, qtok):
    """Pure-pandas oracle: sum qw*tf over tokens."""
    import re
    from collections import Counter

    out = {}
    for r in pdf.itertuples():
        tf = Counter(re.findall(r"[a-z0-9_]+", r.content.lower()))
        s = sum(w * tf[t] for t, w in qtok.items() if t in tf)
        if s > 0:
            out[r.docID] = s
    return out


def test_sparse_score_matches_oracle(spark, postings, tiny_corpus_pdf):
    qtok = {"import": 0.5, "def": 1.5, "ident3": 2.0}
    got = {r["docID"]: r["score"] for r in neural_sparse_score(spark, postings, qtok).collect()}
    want = _oracle_scores(tiny_corpus_pdf, qtok)
    assert got.keys() == want.keys()
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-9)


def test_doc_side_prune_over_the_analyzer(spark, tiny_corpus, tiny_corpus_pdf):
    """The doc-side prune of ``sparse_doc_pruned_topk``, a pandas pass over
    the analyzer's tf maps, runs and keeps exactly what ``prune_vector``
    keeps."""
    from collections import Counter

    from neural_search_spark.analysis.tokenizer import tokenize_text
    from neural_search_spark.search.sparse import prune_features

    pruned = prune_features(sparse_features_from_tf(tiny_corpus), "max_ratio", 0.4)
    got = {(r["docID"], r["term"]): r["weight"] for r in sparse_postings(pruned).collect()}
    want = {}
    for r in tiny_corpus_pdf.itertuples():
        tf = {t: float(c) for t, c in Counter(tokenize_text(r.content)).items()}
        if tf:
            want.update({(r.docID, t): w for t, w in prune_vector(tf, "max_ratio", 0.4)[0].items()})
    assert got == want and got


def test_two_phase_equals_full_when_window_covers(spark, postings):
    qtok = {"import": 1.0, "def": 0.9, "ident1": 0.2, "ident2": 0.1}
    full = (
        neural_sparse_score(spark, postings, qtok)
        .orderBy(F.desc("score"), F.asc("docID"))
        .limit(10)
        .collect()
    )
    tp = two_phase_topk(spark, postings, qtok, k=10, expansion_rate=100.0).collect()
    assert [(r["docID"], round(r["score"], 9)) for r in tp] == [
        (r["docID"], round(r["score"], 9)) for r in full
    ]


def test_two_phase_no_low_tokens(spark, postings):
    qtok = {"import": 1.0, "def": 0.9}
    tp = two_phase_topk(spark, postings, qtok, k=5, prune_ratio=0.4).collect()
    assert len(tp) == 5

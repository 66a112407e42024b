"""Round-8 optimization guards: every operator rewritten for performance
this round keeps byte-identical results, proven against the slow-but-
obviously-correct formulation it replaced (not just against fixtures).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# phrase scan: regexp_count sweep == tokenize + per-position array count
# ---------------------------------------------------------------------------


PHRASE_CASES = [
    # (text, terms) — overlap, underscores, digit/letter adjacency, punct
    ("a a a", ["a", "a"]),
    ("part filter part filter part", ["part", "filter"]),
    ("part filter part filter part", ["filter", "part"]),
    ("part  filter", ["part", "filter"]),
    ("part-filter!part,filter", ["part", "filter"]),
    ("apart filter part filters", ["part", "filter"]),
    ("a1b part filter", ["a1b", "part"]),
    ("x_y part", ["x_y", "part"]),
    ("a1 2b", ["a1", "2b"]),
    ("", ["part"]),
    ("part", ["part"]),
    ("PART FILTER", ["part", "filter"]),
    ("part\nfilter\tpart filter", ["part", "filter"]),
]


def test_phrase_freq_text_matches_token_form(spark):
    from neural_search_spark.analysis.tokenizer import analyzed_tokens
    from neural_search_spark.search.bm25 import phrase_freq_col, phrase_freq_text_col

    rows = [(i, t) for i, (t, _terms) in enumerate(PHRASE_CASES)]
    df = spark.createDataFrame(rows, "docID long, content string")
    toks = analyzed_tokens("content")
    for i, (text, terms) in enumerate(PHRASE_CASES):
        sub = df.where(F.col("docID") == i)
        old = sub.select(phrase_freq_col(toks, terms).alias("p")).head()["p"]
        new = sub.select(phrase_freq_text_col(F.col("content"), terms).alias("p")).head()["p"]
        assert old == new, (text, terms, old, new)


def test_phrase_freq_text_rejects_non_token_terms():
    from neural_search_spark.search.bm25 import phrase_freq_text_col

    for terms in (["has space"], ["a+b"], ["ok", "a.b"], []):
        with pytest.raises(ValueError, match="analyzer tokens"):
            phrase_freq_text_col(F.col("content"), terms)


# ---------------------------------------------------------------------------
# embedding near-dup: block-parallel numpy kernel == brute-force pairs
# ---------------------------------------------------------------------------


def _brute_pairs(vecs, threshold, bucket_of):
    """Reference pair set computed in pure Python with the exact fold/round
    order of the old self-join expression."""

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    out = []
    for i, (ida, va) in enumerate(vecs):
        for idb, vb in vecs[i + 1 :]:
            lo, hi = (ida, idb) if ida < idb else (idb, ida)
            vlo, vhi = (va, vb) if ida < idb else (vb, va)
            if bucket_of(va) != bucket_of(vb):
                continue
            c = fold_dot(vlo, vhi) / (
                math.sqrt(fold_dot(vlo, vlo)) * math.sqrt(fold_dot(vhi, vhi))
            )
            c4 = math.floor(c * 10000 + 0.5) / 10000
            if c4 >= threshold:
                out.append((lo, hi, c4))
    return sorted(out)


def test_embedding_near_dups_kernel_matches_bruteforce(spark):
    import random

    from neural_search_spark.pipeline import params as P
    from neural_search_spark.pipeline.dedup import embedding_near_dups

    rng = random.Random(8)
    base = [
        [rng.gauss(0, 1) for _ in range(P.EMBEDDING_DIM)] for _ in range(40)
    ]
    vecs = []
    for i, v in enumerate(base):
        vecs.append((i, v))
        if i % 3 == 0:  # exact + jittered copies to populate the >= thr set
            vecs.append((1000 + i, list(v)))
            vecs.append((2000 + i, [x * 1.0000001 for x in v]))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<double>",
    )

    def bucket_of(v):
        b = 0
        for j in range(P.N_HYPERPLANES):
            acc = 0.0
            for x, h in zip(v, P.HYPERPLANES[j]):
                acc = acc + x * h
            if acc > 0:
                b += 1 << j
        return b

    got = sorted(
        (r["idA"], r["idB"], r["cosine"])
        for r in embedding_near_dups(df, threshold=0.9).collect()
    )
    want = _brute_pairs(vecs, 0.9, bucket_of)
    assert got == want


def test_embedding_near_dups_plan_is_grouped_kernel(spark):
    """The quadratic verify must stay an applyInPandas group kernel — a
    join regression would reintroduce the interpreted per-pair fold."""
    from neural_search_spark.pipeline.dedup import embedding_near_dups

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    plan = embedding_near_dups(df)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


# ---------------------------------------------------------------------------
# PQ stored-code artifact: identical rows with and without stored codes
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pq_emb(spark):
    import random

    from neural_search_spark.pipeline import params as P

    rng = random.Random(7)
    rows = [
        (i, [float(rng.gauss(0, 1)) for _ in range(P.EMBEDDING_DIM)])
        for i in range(80)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_pq_stored_codes_identical_topk(pq_emb):
    from neural_search_spark.pipeline.ann import ann_pq_topk, pq_codebooks, pq_encode

    cents = pq_codebooks(pq_emb).cache()
    cb = {
        (int(r["m"]), int(r["code"])): [float(x) for x in r["centroid"]]
        for r in cents.collect()
    }
    codes = pq_encode(pq_emb, cb).cache()
    inline = ann_pq_topk(pq_emb, 3, k=5, codebooks=cents).collect()
    stored = ann_pq_topk(pq_emb, 3, k=5, codebooks=cents, codes=codes).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in stored]


def test_pq_stored_codes_identical_batch_and_ivfpq(pq_emb):
    from neural_search_spark.pipeline.ann import (
        ann_ivfpq_topk,
        ann_pq_batch_topk,
        ivf_assign,
        ivf_centroids,
        pq_codebooks,
        pq_encode,
    )

    cents = pq_codebooks(pq_emb).cache()
    cb = {
        (int(r["m"]), int(r["code"])): [float(x) for x in r["centroid"]]
        for r in cents.collect()
    }
    ivf_c = ivf_centroids(pq_emb).cache()
    asg = ivf_assign(pq_emb, ivf_c).cache()
    codes = pq_encode(pq_emb, cb).join(asg.select("vec_id", "list_id"), "vec_id").cache()
    b_inline = ann_pq_batch_topk(pq_emb, [3, 11], k=4, codebooks=cents).collect()
    b_stored = ann_pq_batch_topk(
        pq_emb, [3, 11], k=4, codebooks=cents, codes=codes
    ).collect()
    assert [tuple(r) for r in b_inline] == [tuple(r) for r in b_stored]
    i_inline = ann_ivfpq_topk(
        pq_emb, 3, k=4, centroids=ivf_c, assigned=asg, codebooks=cents
    ).collect()
    i_stored = ann_ivfpq_topk(
        pq_emb, 3, k=4, centroids=ivf_c, assigned=asg, codebooks=cents, codes=codes
    ).collect()
    assert [tuple(r) for r in i_inline] == [tuple(r) for r in i_stored]


def test_lsh_multi_probe_range_guard(pq_emb):
    from neural_search_spark.pipeline import params as P
    from neural_search_spark.pipeline.ann import ann_lsh_topk

    with pytest.raises(ValueError, match="multi_probe"):
        ann_lsh_topk(pq_emb, 3, multi_probe=P.N_HYPERPLANES + 1)


# ---------------------------------------------------------------------------
# text embedding stub: Arrow kernel == the relational formula
# ---------------------------------------------------------------------------


def test_text_embedding_stub_matches_formula(spark):
    from neural_search_spark.analysis.tokenizer import tokenize_text
    from neural_search_spark.pipeline.embedding import N_DIMS, text_embedding_stub

    rows = [
        (1, "the quick brown fox"),
        (2, "a bb ccc dddd eeeee"),
        (3, "!!! ..."),  # zero tokens -> must emit NO row
        (4, None),
        (5, "x" * 9),
    ]
    df = spark.createDataFrame(rows, "docID long, content string")
    got = {r["docID"]: list(r["embedding"]) for r in text_embedding_stub(df).collect()}

    want = {}
    for doc_id, text in rows:
        toks = tokenize_text(text or "")
        if not toks:
            continue
        dims = [0.0] * N_DIMS
        for t in toks:
            dims[len(t) % N_DIMS] += 1.0
        acc = 0.0
        for x in dims:
            acc = acc + x * x
        nrm = math.sqrt(acc)
        want[doc_id] = [x / nrm if nrm > 0 else 0.0 for x in dims]
    assert got == want


# ---------------------------------------------------------------------------
# multimodal: JVM metadata twin == the Arrow micro-batched extractor
# ---------------------------------------------------------------------------


def test_binary_meta_features_matches_arrow_path(spark, tiny_corpus):
    from neural_search_spark.pipeline.multimodal import (
        binary_meta_features,
        extract_binary_features,
        with_binary_payload,
    )

    payload = with_binary_payload(tiny_corpus)
    jvm = sorted(tuple(r) for r in binary_meta_features(payload).collect())
    arrow = sorted(tuple(r) for r in extract_binary_features(payload).collect())
    assert jvm == arrow


# ---------------------------------------------------------------------------
# decontamination: Arrow set-membership pass == relational semi-join
# ---------------------------------------------------------------------------


def test_decontaminate_matches_semijoin_form(spark):
    from neural_search_spark.pipeline.decontam import (
        _distinct_ngrams,
        ngram_decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "beta gamma delta zeta eta"),
            (3, "nothing shared here at all"),
            (4, "alpha beta gamma delta epsilon alpha beta gamma delta epsilon"),
        ],
        "docID long, content string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "docID long, content string"
    )
    n = 3
    got = {
        r["docID"]: r["n_hit_ngrams"]
        for r in ngram_decontaminate(corpus, bench, n=n).collect()
    }
    bench_grams = _distinct_ngrams(bench, n, "content", "docID").select("ngram").distinct()
    want = {
        r["docID"]: r["n"]
        for r in _distinct_ngrams(corpus, n, "content", "docID")
        .join(F.broadcast(bench_grams), "ngram", "semi")
        .groupBy("docID")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and 3 not in got


def test_pair_blocks_no_duplicates_when_chunked(spark, monkeypatch):
    """Regression: Spark's sequence(0, g-1) counts DOWN for g=0, which
    (unguarded) emitted a duplicated (0,0) block and 4x-duplicated pairs
    whenever the derived chunk count G exceeded 1. Force G > 1 and check
    both kernels emit each qualifying pair exactly once."""
    import random

    from neural_search_spark.pipeline import dedup as dd

    monkeypatch.setattr(dd, "PAIR_CHUNK_TARGET_ROWS", 4)

    rng = random.Random(11)
    from neural_search_spark.pipeline import params as P

    vec_rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(P.EMBEDDING_DIM)]
        vec_rows.append((i, [float(x) for x in v]))
        if i % 2 == 0:
            vec_rows.append((1000 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(vec_rows, "vec_id long, embedding array<double>")
    pairs = dd.embedding_near_dups(emb, threshold=0.95).collect()
    keys = [(r["idA"], r["idB"]) for r in pairs]
    assert len(keys) == len(set(keys)), "duplicated embedding pairs"
    assert all(a < b for a, b in keys)
    assert {(i, 1000 + i) for i in range(0, 60, 2)} <= set(keys)



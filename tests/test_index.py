"""Compressed block-max index: build, query parity, pruning, resume.

The correctness bar: the index path must return the SAME top-k docIDs and
scores as the DataFrame BM25 path (tests/test_bm25.py ties that path to
the pure-Python Lucene oracle), with and without block-max pruning.
"""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark.corpus import synthetic_code_corpus
from neural_search_spark.index.builder import build_index, read_manifest, update_index
from neural_search_spark.search.bm25 import BM25Engine, topk
from neural_search_spark.search.wand import BlockMaxIndex

QUERIES = [
    "import ident1 ident2",
    "def uniq_000003",
    "class ident0 ident7 ident42",
    "return self ident5",
    "nonexistent_token_xyz",
    "import",  # max-skew single term: present in ~every doc
]


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    corpus = synthetic_code_corpus(spark, n_rows=300, seed=7)
    d = str(tmp_path_factory.mktemp("bmidx"))
    build_index(spark, corpus, d, n_shards=4, block_size=16)
    return d


@pytest.fixture(scope="module")
def engine(spark):
    return BM25Engine(spark, synthetic_code_corpus(spark, n_rows=300, seed=7)).cache()


def _rows(df):
    return [(r["docID"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("prune", [True, False])
def test_index_matches_dataframe_path(spark, index_dir, engine, query, prune):
    idx = BlockMaxIndex(spark, index_dir)
    got = _rows(idx.match_topk(query, k=10, prune=prune))
    want = _rows(topk(engine.match(query), 10))
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in want], rtol=0, atol=1e-9
    )


def test_cached_uncached_and_dataframe_wand_topk_agree(spark, index_dir, engine):
    """The cached index (global df read off its shard-partitioned rows),
    the uncached one (the same plan with query-time exchanges) and the
    DataFrame path return the same rows, float-equal, on a rare-term
    query and a partly absent one; an all-absent query returns 0 rows."""
    cached = BlockMaxIndex(spark, index_dir).cache()
    uncached = BlockMaxIndex(spark, index_dir)
    try:
        for query in ("def uniq_000003", "import nonexistent_token_xyz ident1"):
            want = _rows(topk(engine.match(query), 10))
            assert want, query
            assert _rows(cached.match_topk(query, k=10)) == want, query
            assert _rows(uncached.match_topk(query, k=10)) == want, query
        for idx in (cached, uncached):
            assert _rows(idx.match_topk("nonexistent_token_xyz zzz_absent_term", k=10)) == []
    finally:
        cached.postings.unpersist()
        cached.doclens.unpersist()


def test_stats_match_corpus(spark, index_dir, engine):
    idx = BlockMaxIndex(spark, index_dir)
    assert idx.stats["n_docs"] == engine.stats.n_docs
    assert idx.stats["total_tokens"] == engine.stats.total_tokens


def test_token_less_docs_count_in_every_lexical_artifact(spark, tmp_path):
    """A doc with no tokens ("" or punctuation only) keeps a ``dl = 0``
    doclens row in the engine, the built index and the updated index, so
    all three agree on ``n_docs``/``total_tokens`` (as the DuckDB oracle
    counts every corpus doc) and the WAND top-k equals the DataFrame
    top-k."""
    docs = {1: "alpha beta", 2: "beta gamma gamma", 3: "", 4: "!!! ---", 5: "gamma delta", 6: ""}
    corpus = spark.createDataFrame(sorted(docs.items()), "docID long, content string")
    engine = BM25Engine(spark, corpus).cache()
    assert (engine.stats.n_docs, engine.stats.total_tokens) == (6, 7)
    built, updated = str(tmp_path / "built"), str(tmp_path / "updated")
    build_index(spark, corpus, built, n_shards=2, block_size=16)
    build_index(spark, corpus.where(F.col("docID") % 2 == 0), updated, n_shards=2, block_size=16)
    update_index(spark, corpus, updated)
    token_less = {3: (0, 0), 4: (0, 0), 6: (0, 0)}
    for d in (built, updated):
        idx = BlockMaxIndex(spark, d)
        assert (idx.stats["n_docs"], idx.stats["total_tokens"]) == (6, 7), d
        lens = {r["docID"]: (r["dl"], r["dlq"]) for r in idx.doclens.collect()}
        assert {i: lens[i] for i in token_less} == token_less, d
        for query in ("beta", "gamma delta", "alpha gamma"):
            want = _rows(topk(engine.match(query), 10))
            assert _rows(idx.match_topk(query, k=10)) == want, (d, query)
    lens = {r["docID"]: (r["dl"], r["dlq"]) for r in engine.doclens.collect()}
    assert len(lens) == 6 and {i: lens[i] for i in token_less} == token_less


def test_index_compresses(spark, index_dir):
    idx = BlockMaxIndex(spark, index_dir)
    row = (
        idx.postings.where(F.col("term") == "import")
        .select("df", F.length("doc_bytes").alias("nb"))
        .collect()
    )
    total_df = sum(r["df"] for r in row)
    total_bytes = sum(r["nb"] for r in row)
    assert total_df > 0
    # delta+varint: sorted in-shard docIDs (<300 docs, 4 shards) fit ~1 B/doc
    assert total_bytes <= 2 * total_df


def test_skewed_term_splits_across_shards(spark, index_dir):
    idx = BlockMaxIndex(spark, index_dir)
    shards = idx.postings.where(F.col("term") == "import").select("shard").distinct().count()
    assert shards == 4  # the salt: every shard holds a sub-list


def test_resume_skips_completed_shards(spark, tmp_path):
    corpus = synthetic_code_corpus(spark, n_rows=120, seed=11)
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, n_shards=4, block_size=16, shard_batch=2)
    m1 = read_manifest(d)
    assert [e["stage"] for e in m1] == ["raw", "postings", "postings"]

    # full results before the simulated crash
    idx = BlockMaxIndex(spark, d)
    want = _rows(idx.match_topk("import ident1", k=5))

    # simulate a crash after batch 1: drop batch 2 from manifest + disk
    lost = m1[-1]["shards"]
    with open(os.path.join(d, "manifest.jsonl"), "w") as f:
        for e in m1[:-1]:
            f.write(json.dumps(e) + "\n")
    for s in lost:
        shutil.rmtree(os.path.join(d, "postings", f"shard={s}"))

    build_index(spark, corpus, d, n_shards=4, block_size=16, shard_batch=2)
    m2 = read_manifest(d)
    # raw stage NOT redone (one raw entry), exactly one new postings entry
    assert [e["stage"] for e in m2] == ["raw", "postings", "postings"]
    assert m2[-1]["shards"] == lost

    got = _rows(BlockMaxIndex(spark, d).match_topk("import ident1", k=5))
    assert got == want


def test_rebuild_is_noop_when_complete(spark, tmp_path):
    corpus = synthetic_code_corpus(spark, n_rows=60, seed=3)
    d = str(tmp_path / "idx2")
    build_index(spark, corpus, d, n_shards=2, block_size=16)
    n1 = len(read_manifest(d))
    build_index(spark, corpus, d, n_shards=2, block_size=16)
    assert len(read_manifest(d)) == n1


# ------------------------------------------------------------- incremental


def _shard_file_state(d: str, sub: str) -> dict[str, str]:
    """shard dir -> sorted (name, size) fingerprint of its parquet files."""
    import hashlib

    out = {}
    root = os.path.join(d, sub)
    for shard in os.listdir(root):
        if not shard.startswith("shard="):
            continue
        h = hashlib.sha256()
        sd = os.path.join(root, shard)
        for fn in sorted(os.listdir(sd)):
            if fn.endswith(".parquet"):
                with open(os.path.join(sd, fn), "rb") as f:
                    h.update(fn.encode())
                    h.update(f.read())
        out[shard] = h.hexdigest()
    return out


def test_update_index_incremental(spark, tmp_path):
    from neural_search_spark.corpus import synthetic_code_corpus_pdf
    from neural_search_spark.index.builder import update_index

    base_pdf = synthetic_code_corpus_pdf(n_rows=200, seed=11)
    d = str(tmp_path / "incr")
    build_index(spark, spark.createDataFrame(base_pdf), d, n_shards=8, block_size=16)
    before = _shard_file_state(d, "postings")

    # v2 corpus: change 2 docs, remove 1, add 2
    v2 = base_pdf.copy()
    v2.loc[v2["docID"] == 5, "content"] = "import ident1 changed_token_aaa"
    v2.loc[v2["docID"] == 17, "content"] = "def changed_token_bbb():"
    v2 = v2[v2["docID"] != 42]
    extra = synthetic_code_corpus_pdf(n_rows=2, seed=99)
    extra["docID"] = [10001, 10002]
    v2 = __import__("pandas").concat([v2, extra], ignore_index=True)
    # recompute the carried sha for edited rows (the invariant column)
    import hashlib as _h

    v2["content_sha256"] = [
        _h.sha256(c.encode()).hexdigest() for c in v2["content"]
    ]

    summary = update_index(spark, spark.createDataFrame(v2), d)
    assert summary["changed"] == 2
    assert summary["removed"] == 1
    assert summary["added"] == 2

    # untouched shard partitions are byte-identical (no needless rewrite)
    after = _shard_file_state(d, "postings")
    touched = {f"shard={s}" for s in summary["shards"]}
    for shard, fp in before.items():
        if shard not in touched:
            assert after[shard] == fp, f"{shard} rewritten but not dirty"

    # updated index == fresh full rebuild of v2 (rank- and score-identical)
    d2 = str(tmp_path / "full")
    build_index(spark, spark.createDataFrame(v2), d2, n_shards=8, block_size=16)
    for q in ["import ident1", "changed_token_aaa", "def uniq_000003", "import"]:
        got = _rows(BlockMaxIndex(spark, d).match_topk(q, k=10))
        want = _rows(BlockMaxIndex(spark, d2).match_topk(q, k=10))
        assert [x[0] for x in got] == [x[0] for x in want], q
        np.testing.assert_allclose(
            [x[1] for x in got], [x[1] for x in want], rtol=0, atol=1e-9
        )

    # removed doc gone, added docs queryable
    assert 42 not in [x[0] for x in _rows(BlockMaxIndex(spark, d).match_topk("import", k=300))]
    man = read_manifest(d)
    assert any(e["stage"] == "update" for e in man)

    # no-op update: nothing dirty, no shards re-encoded
    noop = update_index(spark, spark.createDataFrame(v2), d)
    assert noop == {"added": 0, "removed": 0, "changed": 0, "shards": []}


def test_update_empties_whole_shard(spark, tmp_path):
    """An update that removes EVERY doc in a shard must clear that shard's
    postings partition (dynamic overwrite can't delete a partition it writes
    no rows for) — otherwise ghost postings survive with no doclens entry."""
    from neural_search_spark.corpus import synthetic_code_corpus_pdf
    from neural_search_spark.index.builder import update_index

    base_pdf = synthetic_code_corpus_pdf(n_rows=80, seed=13)
    d = str(tmp_path / "empt")
    build_index(spark, spark.createDataFrame(base_pdf), d, n_shards=4, block_size=16)

    sh = spark.read.parquet(os.path.join(d, "docmap")).select("docID", "shard").toPandas()
    victim = int(sh["shard"].iloc[0])
    dead = set(int(x) for x in sh[sh["shard"] == victim]["docID"])
    assert dead
    v2 = base_pdf[~base_pdf["docID"].isin(dead)].reset_index(drop=True)

    summary = update_index(spark, spark.createDataFrame(v2), d)
    assert summary["removed"] == len(dead)

    # the emptied shard's postings partition holds no parquet files
    pdir = os.path.join(d, "postings", f"shard={victim}")
    assert [f for f in os.listdir(pdir) if f.endswith(".parquet")] == []

    # swap lineage: staged/committed bracket per swapped path
    man = read_manifest(d)
    swaps = [e for e in man if e.get("stage") == "swap"]
    assert {e["state"] for e in swaps} == {"staged", "committed"}

    # queries: no ghost docs, parity with a fresh rebuild of v2
    got = _rows(BlockMaxIndex(spark, d).match_topk("import", k=1000))
    assert not ({x[0] for x in got} & dead)
    d2 = str(tmp_path / "empt_full")
    build_index(spark, spark.createDataFrame(v2), d2, n_shards=4, block_size=16)
    want = _rows(BlockMaxIndex(spark, d2).match_topk("import", k=1000))
    assert [x[0] for x in got] == [x[0] for x in want]
    np.testing.assert_allclose(
        [x[1] for x in got], [x[1] for x in want], rtol=0, atol=1e-9
    )


def test_positional_index_matches_scan_phrase(spark, tiny_corpus, tmp_path):
    """Index-backed phrase == scan-path phrase (same formula, same ranks)."""
    from neural_search_spark.index.positions import PositionalIndex, build_positions
    from neural_search_spark.search.bm25 import BM25Engine

    eng = BM25Engine(spark, tiny_corpus).cache()
    d = str(tmp_path / "pos")
    build_positions(spark, tiny_corpus, d)
    pidx = PositionalIndex(spark, d, eng.doclens, eng.stats)

    from neural_search_spark.analysis.tokenizer import tokenize_text

    toks0 = tokenize_text(tiny_corpus.limit(1).collect()[0]["content"])
    phrases = [
        f"{toks0[0]} {toks0[1]}",
        f"{toks0[0]} {toks0[1]} {toks0[2]}",
        f"{toks0[0]} {toks0[0]}",  # duplicate slots in one chain
        "import",
        "zzz missing",
    ]
    for phrase in phrases:
        scan = {(r["docID"], round(r["score"], 9)) for r in eng.match_phrase(phrase).collect()}
        idx = {(r["docID"], round(r["score"], 9)) for r in pidx.match_phrase(phrase).collect()}
        assert idx == scan, phrase


def test_multi_match_phrase_indexed_equals_scan(spark, tmp_path):
    """multi_match type=phrase through per-field positional indexes is
    score-identical to the per-field scan path (per-field df/avgdl stats,
    DisMax combine)."""
    from neural_search_spark.index.positions import PositionalIndex, build_positions
    from neural_search_spark.search.bm25 import BM25Engine, multi_match_scores

    rows = [
        (0, "quick brown fox", "repo alpha code"),
        (1, "brown fox jumps", "quick brown repo"),
        (2, "quick brown everywhere quick brown", "unrelated"),
        (3, "nothing here", "quick brown"),
    ]
    df = spark.createDataFrame(rows, "docID long, content string, title string")
    eng = BM25Engine(spark, df).cache()
    fields = {"content": 1.0, "title": 2.0}
    pos = {}
    for fld in fields:
        d = str(tmp_path / f"pos_{fld}")
        build_positions(spark, df, d, text_col=fld)
        _, doclens, stats = eng.field_artifacts(fld)
        pos[fld] = PositionalIndex(spark, d, doclens, stats)
    scan = {
        (r["docID"], round(r["score"], 9))
        for r in multi_match_scores(
            eng, fields, "quick brown", match_type="phrase", tie_breaker=0.3
        ).collect()
    }
    idx = {
        (r["docID"], round(r["score"], 9))
        for r in multi_match_scores(
            eng, fields, "quick brown", match_type="phrase", tie_breaker=0.3,
            pos_indexes=pos,
        ).collect()
    }
    assert idx == scan
    assert {d for d, _ in idx} == {0, 1, 2, 3}


def test_positional_index_overlapping_and_duplicate_terms(spark, tmp_path):
    from neural_search_spark.index.positions import PositionalIndex, build_positions
    from neural_search_spark.search.bm25 import BM25Engine

    rows = [(0, "a a a b"), (1, "a b a b"), (2, "b b")]
    df = spark.createDataFrame(rows, "docID long, content string")
    eng = BM25Engine(spark, df).cache()
    d = str(tmp_path / "pos2")
    build_positions(spark, df, d)
    pidx = PositionalIndex(spark, d, eng.doclens, eng.stats)
    for phrase in ["a a", "a b", "b b", "a b a"]:
        scan = {(r["docID"], round(r["score"], 9)) for r in eng.match_phrase(phrase).collect()}
        idx = {(r["docID"], round(r["score"], 9)) for r in pidx.match_phrase(phrase).collect()}
        assert idx == scan, phrase


def test_phrase_prefix_slot_holding_a_fixed_term(spark, tmp_path):
    """The prefix slot's expansion may contain a fixed term of the same
    phrase: "a a" expands its last slot to {a, ab}, so one term's
    positions feed both a fixed slot and the expansion slot."""
    from neural_search_spark.index.positions import PositionalIndex, build_positions
    from neural_search_spark.search.bm25 import BM25Engine

    rows = [(0, "a ab a"), (1, "a a a"), (2, "ab a"), (3, "b ab"), (4, "a b")]
    df = spark.createDataFrame(rows, "docID long, content string")
    eng = BM25Engine(spark, df).cache()
    d = str(tmp_path / "pos_prefix")
    build_positions(spark, df, d)
    pidx = PositionalIndex(spark, d, eng.doclens, eng.stats)
    got = {r["docID"]: r["score"] for r in pidx.match_phrase_prefix("a a", eng.term_dict).collect()}
    # "a" then {a, ab}: doc 0 at 1 ("a ab"), doc 1 at 1 and 2
    assert set(got) == {0, 1}
    # same ptf (2) as the phrase "a a" in doc 1, but the weight is Σ idf
    # over the one fixed position: half of the phrase's two
    mp = {r["docID"]: r["score"] for r in pidx.match_phrase("a a").collect()}
    assert mp.keys() == {1}
    assert got[1] == pytest.approx(mp[1] / 2)


def test_positional_and_scan_phrase_paths_agree(spark, tmp_path):
    """``match_phrase``, ``match_phrase_prefix`` and ``span_near`` at slop 1,
    scored off the position rows' own ``dlq`` and ``ndoc``, agree with a
    scan of the texts: the engine's scan path for ``match_phrase``, and for
    all three a Python scan over the analyzed texts with the engine's
    doclens, term dictionary and stats."""
    import math

    from neural_search_spark.analysis.tokenizer import tokenize_text
    from neural_search_spark.index.positions import PositionalIndex, build_positions
    from neural_search_spark.search.bm25 import B, K1

    rows = [
        (0, "quick brown fox"),
        (1, "quick brown quick brown"),
        (2, "quick red brown fox"),
        (3, "brown quick"),
        (4, "quick brownie fox quick fox"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "docID long, content string")
    eng = BM25Engine(spark, df).cache()
    d = str(tmp_path / "pos_agree")
    build_positions(spark, df, d)
    pidx = PositionalIndex(spark, d, eng.doclens, eng.stats)
    dlq = {r["docID"]: r["dlq"] for r in eng.doclens.collect()}
    ndoc = {r["term"]: r["ndoc"] for r in eng.term_dict.collect()}
    n, avgdl = eng.stats.n_docs, eng.stats.avgdl

    def scan(slots, n_weighted, slop):
        out = {}
        for doc_id, text in rows:
            toks = tokenize_text(text)
            chain = {i for i, t in enumerate(toks) if t in slots[0]}
            for s in slots[1:]:
                chain = {p for p, t in enumerate(toks) if t in s and any(1 <= p - c <= slop + 1 for c in chain)}
            if chain:
                qidf = sum(math.log(1.0 + (n - ndoc[s[0]] + 0.5) / (ndoc[s[0]] + 0.5)) for s in slots[:n_weighted])
                tf = float(len(chain))
                out[doc_id] = qidf * (tf / (tf + K1 * (1.0 - B + B * dlq[doc_id] / avgdl)))
        return out

    def got(df):
        return {r["docID"]: r["score"] for r in df.collect()}

    phrase = got(pidx.match_phrase("quick brown"))
    assert phrase == got(eng.match_phrase("quick brown"))
    cases = [
        (phrase, scan([("quick",), ("brown",)], 2, 0)),
        (got(pidx.match_phrase_prefix("quick bro", eng.term_dict)), scan([("quick",), ("brown", "brownie")], 1, 0)),
        (got(pidx.span_near("quick fox", slop=1)), scan([("quick",), ("fox",)], 2, 1)),
    ]
    for have, want in cases:
        assert want and have.keys() == want.keys()
        assert have == pytest.approx(want, rel=1e-12, abs=0)


def test_stale_positions_dir_is_refused(spark, tmp_path):
    """A positions dir written before the rows carried ``dlq``/``ndoc``
    fails at construction, naming the dir, instead of mid-query."""
    import re

    from neural_search_spark.index.positions import PositionalIndex
    from neural_search_spark.search.bm25 import CorpusStats

    d = str(tmp_path / "old_layout")
    old = spark.createDataFrame(
        [("alpha", 0, [0], 5), ("beta", 0, [1], 9)],
        "term string, docID long, positions array<int>, bucket int",
    )
    old.write.partitionBy("bucket").parquet(d)
    with pytest.raises(ValueError, match=re.escape(d) + ".*rebuild"):
        PositionalIndex(spark, d, None, CorpusStats(1, 2))


def test_positional_bucket_pruning(spark, tmp_path):
    """The read path only touches the buckets of the query's terms."""
    from neural_search_spark.index.positions import N_BUCKETS, PositionalIndex, build_positions, _bucket_col
    from neural_search_spark.pipeline.params import hash32_py
    from neural_search_spark.search.bm25 import BM25Engine
    from pyspark.sql import functions as F

    rows = [(0, "alpha beta"), (1, "gamma delta")]
    df = spark.createDataFrame(rows, "docID long, content string")
    eng = BM25Engine(spark, df)
    d = str(tmp_path / "pos3")
    build_positions(spark, df, d)
    # stored bucket equals the python-side pruning key for every term
    got = {r["term"]: r["bucket"] for r in spark.read.parquet(d).collect()}
    assert got == {t: hash32_py(t) % N_BUCKETS for t in got}
    pidx = PositionalIndex(spark, d, eng.doclens, eng.stats)
    plan = pidx._term_rows(["alpha"])._jdf.queryExecution().executedPlan().toString()
    assert "alpha" in plan  # term predicate reaches the scan


def test_span_near_matches_python_bruteforce(spark, tmp_path):
    from neural_search_spark.index.positions import PositionalIndex, build_positions
    from neural_search_spark.search.bm25 import BM25Engine
    from neural_search_spark.analysis.tokenizer import tokenize_text

    rows = [
        (0, "a x b"),        # a..b gap 1
        (1, "a b"),          # adjacent
        (2, "a x x b"),      # gap 2
        (3, "b a"),          # wrong order
        (4, "a x b x b"),    # two reachable ends at slop>=1
    ]
    df = spark.createDataFrame(rows, "docID long, content string")
    eng = BM25Engine(spark, df).cache()
    d = str(tmp_path / "span")
    build_positions(spark, df, d)
    pidx = PositionalIndex(spark, d, eng.doclens, eng.stats)

    def brute(phrase, slop):
        terms = tokenize_text(phrase)
        out = {}
        for doc_id, text in rows:
            toks = tokenize_text(text)
            chain = {i for i, t in enumerate(toks) if t == terms[0]}
            for t in terms[1:]:
                nxt = {i for i, x in enumerate(toks) if x == t}
                chain = {p for p in nxt if any(1 <= p - c <= slop + 1 for c in chain)}
            if chain:
                out[doc_id] = len(chain)
        return out

    for phrase, slop in [("a b", 0), ("a b", 1), ("a b", 2), ("a b b", 1)]:
        got = {r["docID"] for r in pidx.span_near(phrase, slop=slop).collect()}
        assert got == set(brute(phrase, slop)), (phrase, slop)
    # ptf surfaces through the score: doc 4 ("a x b x b") has two
    # reachable ends once the gap budget covers distance 4
    assert brute("a b", 2)[4] == 1 and brute("a b", 3)[4] == 2
    # slop=0 degenerates to match_phrase
    p0 = {(r["docID"], round(r["score"], 9)) for r in pidx.span_near("a b", slop=0).collect()}
    mp = {(r["docID"], round(r["score"], 9)) for r in pidx.match_phrase("a b").collect()}
    assert p0 == mp


def test_phrase_and_span_randomized_vs_python(spark, tmp_path):
    """Randomized property check: 300 random token arrays, every (phrase,
    slop) case compared against a pure-python positional model — one Spark
    job per case, not per example."""
    import numpy as np

    from neural_search_spark.index.positions import PositionalIndex, build_positions
    from neural_search_spark.search.bm25 import BM25Engine
    from neural_search_spark.analysis.tokenizer import tokenize_text

    rng = np.random.RandomState(11)
    vocab = ["a", "b", "c", "d"]
    rows = [
        (i, " ".join(rng.choice(vocab, size=rng.randint(0, 13)).tolist()))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "docID long, content string")
    eng = BM25Engine(spark, df).cache()
    d = str(tmp_path / "rand_pos")
    build_positions(spark, df, d)
    pidx = PositionalIndex(spark, d, eng.doclens, eng.stats)

    def brute(phrase, slop):
        terms = tokenize_text(phrase)
        out = {}
        for doc_id, text in rows:
            toks = tokenize_text(text)
            chain = {i for i, t in enumerate(toks) if t == terms[0]}
            for t in terms[1:]:
                nxt = {i for i, x in enumerate(toks) if x == t}
                chain = {p for p in nxt if any(1 <= p - c <= slop + 1 for c in chain)}
            if chain:
                out[doc_id] = len(chain)
        return out

    cases = [("a b", 0), ("a b", 1), ("b a c", 0), ("b a c", 2), ("a a", 0), ("a a b", 1)]
    for phrase, slop in cases:
        want = brute(phrase, slop)
        got = {r["docID"] for r in pidx.span_near(phrase, slop=slop).collect()}
        assert got == set(want), (phrase, slop)
        if slop == 0:
            scan = {r["docID"] for r in eng.match_phrase(phrase).collect()}
            assert scan == set(want), phrase


class TestFormatVersion:
    """BWC analog of the reference's restart-upgrade suites (qa/,
    build.gradle:325-446): an index written under a different on-disk
    format is REFUSED with a migrate hint — never silently decoded."""

    def _bump(self, d, to=99):
        import json as _json

        p = os.path.join(d, "stats.json")
        with open(p) as f:
            stats = _json.load(f)
        stats["format_version"] = to
        with open(p, "w") as f:
            _json.dump(stats, f)

    def test_build_stamps_version(self, index_dir):
        import json as _json

        from neural_search_spark.index.codec import FORMAT_VERSION

        with open(os.path.join(index_dir, "stats.json")) as f:
            assert _json.load(f)["format_version"] == FORMAT_VERSION
        stamps = [
            e["format_version"]
            for e in read_manifest(index_dir)
            if e["stage"] == "postings"
        ]
        assert stamps and all(v == FORMAT_VERSION for v in stamps)

    def test_reader_refuses_after_kill_bump_restart(self, spark, tmp_path):
        # kill mid-life: build, simulate an engine upgrade (version bump on
        # disk), restart the reader -> refusal with a migrate hint
        corpus = synthetic_code_corpus(spark, n_rows=60, seed=11)
        d = str(tmp_path / "bwc")
        build_index(spark, corpus, d, n_shards=2, block_size=16)
        assert BlockMaxIndex(spark, d).match_topk("import", k=3).count() > 0
        self._bump(d)
        with pytest.raises(ValueError, match="format_version=99"):
            BlockMaxIndex(spark, d)

    def test_resume_and_update_refuse_stale_format(self, spark, tmp_path):
        from neural_search_spark.index.builder import update_index

        corpus = synthetic_code_corpus(spark, n_rows=60, seed=11)
        d = str(tmp_path / "bwc2")
        build_index(spark, corpus, d, n_shards=2, block_size=16)
        self._bump(d)
        with pytest.raises(ValueError, match="migration"):
            build_index(spark, corpus, d, n_shards=2, block_size=16)  # resume
        with pytest.raises(ValueError, match="migration"):
            update_index(spark, corpus, d)
        # resume=False rebuilds from scratch and restamps
        build_index(spark, corpus, d, n_shards=2, block_size=16, resume=False)
        assert BlockMaxIndex(spark, d).match_topk("import", k=3).count() > 0

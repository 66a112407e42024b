"""Query-spec parsing (fromXContent analog), enricher defaulting, and the
stats-API event counters."""

import pytest

from neural_search_spark import stats
from neural_search_spark.search.bm25 import BM25Engine, topk
from neural_search_spark.search.hybrid import hybrid_search
from neural_search_spark.search.spec import enrich_spec, parse_hybrid_spec


@pytest.fixture(scope="module")
def engine(spark, tiny_corpus):
    return BM25Engine(spark, tiny_corpus).cache()


def _ids(df):
    return [r["docID"] for r in df.collect()]


def test_spec_matches_direct_call(spark, engine):
    spec = {
        "queries": [
            {"match": {"query": "import ident1 ident2"}},
            {"match": {"query": "def return ident3"}},
        ],
        "pagination_depth": 20,
    }
    got = parse_hybrid_spec(engine, spec, k=5)
    want = hybrid_search(
        [engine.match("import ident1 ident2"), engine.match("def return ident3")],
        "min_max",
        "arithmetic_mean",
        k=5,
        depth=20,
    )
    assert _ids(got) == _ids(want)


def test_spec_term_clause_and_filter(spark, engine):
    spec = {
        "queries": [{"term": {"query": "import"}}, {"match": {"query": "ident1"}}],
        "filter": "lang = 'python'",
        "pagination_depth": 10,
    }
    out = parse_hybrid_spec(engine, spec, k=10).collect()
    assert out
    py_docs = {r["docID"] for r in engine.corpus.where("lang = 'python'").collect()}
    assert all(r["docID"] in py_docs for r in out)


def test_spec_pipeline_config(spark, engine):
    spec = {"queries": [{"match": "import"}, {"match": "ident1"}], "pagination_depth": 15}
    pipeline = {
        "normalization": {"technique": "l2"},
        "combination": {"technique": "harmonic_mean"},
    }
    got = parse_hybrid_spec(engine, spec, pipeline=pipeline, k=5)
    want = hybrid_search(
        [engine.match("import"), engine.match("ident1")],
        "l2",
        "harmonic_mean",
        k=5,
        depth=15,
    )
    assert _ids(got) == _ids(want)


def test_spec_validation():
    class _Fake:
        pass

    with pytest.raises(ValueError):
        parse_hybrid_spec(_Fake(), {"queries": []})
    with pytest.raises(ValueError):
        parse_hybrid_spec(_Fake(), {"queries": [{"match": "a"}] * 6})
    with pytest.raises(ValueError):
        parse_hybrid_spec(_Fake(), {"queries": [{"hybrid": {}}, {"match": "a"}]})
    with pytest.raises(ValueError):
        # from > 0 without pagination_depth (HybridCollectorManager.java:591-607)
        parse_hybrid_spec(_Fake(), {"queries": [{"match": "a"}], "from": 5})


def test_spec_obeys_the_live_sub_query_cap(spark, engine):
    """The parser reads the ``hybrid_max_sub_queries`` setting, as
    ``hybrid_search`` does: a raised cap admits a 6-clause spec and a
    lowered one refuses a 2-clause spec."""
    from neural_search_spark import settings

    spec = {"queries": [{"match": {"query": f"ident{i}"}} for i in range(6)], "pagination_depth": 10}
    with settings.override(hybrid_max_sub_queries=6):
        got = parse_hybrid_spec(engine, spec, k=5)
        want = hybrid_search(
            [engine.match(f"ident{i}") for i in range(6)], "min_max", "arithmetic_mean", k=5, depth=10
        )
        assert _ids(got) == _ids(want)
    with settings.override(hybrid_max_sub_queries=1):
        with pytest.raises(ValueError, match="1..1 sub-queries"):
            parse_hybrid_spec(engine, {"queries": spec["queries"][:2]})


def test_spec_neural_clause_requires_embeddings(engine):
    """A neural clause needs the doc-embedding table (the text_embedding
    processor's output column at scale) — omitting it is a spec error."""
    with pytest.raises(KeyError, match="embeddings"):
        parse_hybrid_spec(
            engine,
            {"queries": [{"neural": {"query": "x", "model_id": "m"}}], "pagination_depth": 5},
        )


def test_enricher_defaults():
    spec = {
        "queries": [
            {"neural": {"query": "hello"}},
            {"neural": {"query": "hi", "model_id": "explicit"}},
        ]
    }
    out = enrich_spec(spec, {"neural": {"model_id": "default-model"}})
    assert out["queries"][0]["neural"]["model_id"] == "default-model"
    assert out["queries"][1]["neural"]["model_id"] == "explicit"  # explicit wins
    assert "model_id" not in spec["queries"][0]["neural"]  # input not mutated


def test_event_counters(spark, engine):
    from neural_search_spark import settings

    stats.reset()
    with settings.override(stats_enabled=True):
        topk(engine.match("import ident1"), 5).collect()
        hybrid_search(
            [engine.match("import"), engine.term("ident1")],
            "min_max", "arithmetic_mean", k=3, depth=10,
        ).collect()
    ev = stats.event_counts()
    assert ev["match_query_requests"] == 2
    assert ev["term_query_requests"] == 1
    assert ev["hybrid_query_requests"] == 1
    assert ev["normalization_processor_executions"] == 1
    assert ev["norm_minmax_executions"] == 1
    assert ev["comb_arithmetic_executions"] == 1


def test_build_metrics(spark, tmp_path, tiny_corpus):
    from neural_search_spark.index.builder import build_index

    d = str(tmp_path / "statsidx")
    build_index(spark, tiny_corpus, d, n_shards=2, block_size=16)
    m = stats.build_metrics(d)
    assert m["raw_rows"] > 0
    assert m["raw_rows_per_sec"] > 0
    assert m["encoded_postings"] > 0
    assert m["lineage_entries"] >= 2
    from neural_search_spark import settings

    with settings.override(stats_enabled=True):
        snap = stats.snapshot(d)
    assert "events" in snap and "build" in snap
    # disabled (the reference default) -> the API 403s
    import pytest as _pytest

    with _pytest.raises(PermissionError):
        stats.snapshot(d)


def test_spec_const_score_and_multi_match_clauses(spark, engine):
    """The full OpenSearch-core clause family through the dict parser:
    each clause resolves to exactly the direct engine call
    (HybridQueryIT.java:139-141 builds hybrid clauses from arbitrary
    QueryBuilders)."""
    from neural_search_spark.search.bm25 import (
        fuzzy_query_scores,
        multi_match_scores,
        prefix_query_scores,
        terms_query_scores,
    )

    spec = {
        "queries": [
            {"prefix": {"value": "ident1"}},
            {"fuzzy": {"value": "import", "fuzziness": 1, "prefix_length": 1}},
            {"terms": {"values": ["import", "def"]}},
            {"multi_match": {"query": "import ident1", "fields": {"content": 1.0, "repo": 2.0}, "tie_breaker": 0.3}},
        ],
        "pagination_depth": 20,
    }
    got = parse_hybrid_spec(engine, spec, k=5)
    want = hybrid_search(
        [
            prefix_query_scores(engine, "ident1"),
            fuzzy_query_scores(engine, "import", max_edits=1, prefix_length=1),
            terms_query_scores(engine, ["import", "def"]),
            multi_match_scores(engine, {"content": 1.0, "repo": 2.0}, "import ident1", tie_breaker=0.3),
        ],
        "min_max",
        "arithmetic_mean",
        k=5,
        depth=20,
    )
    assert _ids(got) == _ids(want)


def test_spec_bool_clause_recursive(spark, engine):
    from neural_search_spark.search.bm25 import bool_query_scores

    spec = {
        "queries": [
            {
                "bool": {
                    "must": [{"match": {"query": "import"}}],
                    "should": [{"match": {"query": "ident1"}}, {"term": {"query": "def"}}],
                    "must_not": [{"term": {"query": "uniq_000003"}}],
                    "minimum_should_match": 1,
                }
            },
            {"match": {"query": "return ident2"}},
        ],
        "pagination_depth": 20,
    }
    got = parse_hybrid_spec(engine, spec, k=5)
    want = hybrid_search(
        [
            bool_query_scores(
                must=[engine.match("import")],
                should=[engine.match("ident1"), engine.term("def")],
                must_not=[engine.term("uniq_000003")],
                minimum_should_match=1,
            ),
            engine.match("return ident2"),
        ],
        "min_max",
        "arithmetic_mean",
        k=5,
        depth=20,
    )
    assert _ids(got) == _ids(want)
    # boost on a bool clause is handled by the BoostQuery wrapper, but any
    # other unknown key is still a spec error
    with pytest.raises(ValueError, match="unsupported bool clause keys"):
        parse_hybrid_spec(
            engine,
            {"queries": [{"bool": {"must": [{"match": "a"}], "adjust_pure_negative": True}}]},
        )


def test_spec_neural_rank_features_rewrites_sparse(spark, engine):
    """neural clause targeting a rank_features field rewrites to sparse
    scoring (NeuralQueryBuilder field-type dispatch;
    NeuralSparseQueryBuilder.java:520-524)."""
    from neural_search_spark.search.sparse import (
        neural_sparse_score,
        sparse_features_from_tf,
        sparse_postings,
        sparse_query_encoding_stub,
    )

    postings = sparse_postings(sparse_features_from_tf(engine.corpus)).cache()
    qtext = "import ident1 ident1"
    spec = {
        "queries": [
            {"neural": {"query": qtext, "field_type": "rank_features", "postings": postings}},
            {"match": {"query": "def return"}},
        ],
        "pagination_depth": 20,
    }
    got = parse_hybrid_spec(engine, spec, k=5)
    want = hybrid_search(
        [
            neural_sparse_score(spark, postings, sparse_query_encoding_stub(qtext)),
            engine.match("def return"),
        ],
        "min_max",
        "arithmetic_mean",
        k=5,
        depth=20,
    )
    assert _ids(got) == _ids(want)
    # the stub doubles repeated query terms, like tf on the doc side
    assert sparse_query_encoding_stub(qtext)["ident1"] == 2.0


def test_spec_match_phrase_clause(spark, engine):
    from neural_search_spark.analysis.tokenizer import tokenize_text

    toks0 = tokenize_text(engine.corpus.limit(1).collect()[0]["content"])
    phrase = f"{toks0[0]} {toks0[1]}"
    spec = {
        "queries": [
            {"match_phrase": {"query": phrase}},
            {"match": {"query": "import ident1"}},
        ],
        "pagination_depth": 20,
    }
    got = parse_hybrid_spec(engine, spec, k=5)
    want = hybrid_search(
        [engine.match_phrase(phrase), engine.match("import ident1")],
        "min_max",
        "arithmetic_mean",
        k=5,
        depth=20,
    )
    assert _ids(got) == _ids(want)


def test_spec_dismax_boosting_constant_score(spark, engine):
    from neural_search_spark.search.bm25 import (
        boosting_query_scores,
        constant_score_query,
        dis_max_scores,
    )

    spec = {
        "queries": [
            {
                "dis_max": {
                    "queries": [{"match": "import"}, {"match": "ident1"}],
                    "tie_breaker": 0.4,
                }
            },
            {
                "boosting": {
                    "positive": {"match": "import def"},
                    "negative": {"match": "ident2"},
                    "negative_boost": 0.2,
                }
            },
            {"constant_score": {"filter": {"match": "return"}, "boost": 1.5}},
        ],
        "pagination_depth": 20,
    }
    got = parse_hybrid_spec(engine, spec, k=5)
    want = hybrid_search(
        [
            dis_max_scores([engine.match("import"), engine.match("ident1")], tie_breaker=0.4),
            boosting_query_scores(engine.match("import def"), engine.match("ident2"), 0.2),
            constant_score_query(engine.match("return"), 1.5),
        ],
        "min_max",
        "arithmetic_mean",
        k=5,
        depth=20,
    )
    assert _ids(got) == _ids(want)


def test_spec_wildcard_and_range_clauses(spark, engine):
    from neural_search_spark.search.bm25 import range_query_scores, wildcard_query_scores

    spec = {
        "queries": [
            {"wildcard": {"value": "ident?"}},
            {"range": {"field": "docID", "gte": 10, "lt": 60}},
        ],
        "pagination_depth": 30,
    }
    got = parse_hybrid_spec(engine, spec, k=5)
    want = hybrid_search(
        [
            wildcard_query_scores(engine, "ident?"),
            range_query_scores(engine, "docID", gte=10, lt=60),
        ],
        "min_max",
        "arithmetic_mean",
        k=5,
        depth=30,
    )
    assert _ids(got) == _ids(want)


def test_extract_query_text_registry_semantics():
    """Spec-level analog of highlight/extractor/*.java: field gating,
    must_not skipped, hybrid dedup, neural original text, nested
    delegation, unregistered kinds skipped."""
    from neural_search_spark.search.spec import extract_query_text

    # term: field-gated (TermQueryTextExtractor)
    assert extract_query_text({"term": "spark"}, "content") == "spark"
    assert extract_query_text(
        {"term": {"value": "spark", "field": "title"}}, "content"
    ) == ""
    # match: analyzed terms, space-joined (BooleanQuery-of-TermQuery rewrite)
    assert extract_query_text({"match": {"query": "Quick BROWN"}}, "content") == "quick brown"
    # bool: must + should joined, must_not (prohibited) skipped
    got = extract_query_text(
        {"bool": {
            "must": [{"match": "alpha"}],
            "should": [{"term": "beta"}],
            "must_not": [{"term": "gamma"}],
        }},
        "content",
    )
    assert got == "alpha beta"
    # neural: original query text, not field-gated
    assert extract_query_text(
        {"neural": {"query": "semantic intent", "field": "emb"}}, "content"
    ) == "semantic intent"
    # nested delegates to the inner query
    assert extract_query_text(
        {"nested": {"query": {"term": "inner"}}}, "content"
    ) == "inner"
    # hybrid: dedup of identical sub-texts, insertion order
    got = extract_query_text(
        {"queries": [{"term": "spark"}, {"match": "spark"}, {"term": "other"}]},
        "content",
    )
    assert got == "spark other"
    # unregistered kinds contribute nothing
    assert extract_query_text({"prefix": {"value": "sp"}}, "content") == ""


def test_parse_spec_with_highlight(spark, engine):
    from neural_search_spark.search.ops import highlight_semantic
    from neural_search_spark.search.spec import parse_hybrid_spec, parse_spec_with_highlight

    spec = {
        "queries": [{"match": {"query": "import ident1"}}, {"term": "def"}],
        "pagination_depth": 20,
        "highlight": {"field": "content", "fragment_delim": " "},
    }
    got = parse_spec_with_highlight(engine, spec, k=5).collect()
    inner = {k: v for k, v in spec.items() if k != "highlight"}
    want = highlight_semantic(
        parse_hybrid_spec(engine, inner, k=5),
        engine.corpus,
        "import ident1 def",
        fragment_delim=" ",
    ).collect()
    assert got == want
    assert len(got) == 5
    import pytest

    with pytest.raises(ValueError, match="highlight"):
        parse_spec_with_highlight(engine, inner, k=5)

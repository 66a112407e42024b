"""Settings-surface tests (``settings/NeuralSearchSettings.java:21-42``
analog): validated dynamic settings plumbed into live engine limits."""

import pytest

from neural_search_spark import settings, stats
from neural_search_spark.search.bm25 import BM25Engine


@pytest.fixture(scope="module")
def engine(spark, tiny_corpus):
    return BM25Engine(spark, tiny_corpus).cache()


class TestRegistry:
    def test_defaults(self):
        assert settings.get("reranker_max_document_fields") == 50
        assert settings.get("stats_enabled") is False  # reference default
        assert settings.get("max_broadcast_expansion") == 65536
        assert settings.get("hybrid_max_sub_queries") == 5

    def test_unknown_setting_rejected(self):
        with pytest.raises(KeyError):
            settings.get("no_such_setting")
        with pytest.raises(KeyError):
            settings.put("no_such_setting", 1)

    def test_validation(self):
        with pytest.raises(ValueError):
            settings.put("max_broadcast_expansion", 0)
        with pytest.raises(ValueError):
            settings.put("stats_enabled", "yes")

    def test_put_reset_roundtrip(self):
        settings.put("hybrid_max_sub_queries", 3)
        assert settings.get("hybrid_max_sub_queries") == 3
        settings.reset("hybrid_max_sub_queries")
        assert settings.get("hybrid_max_sub_queries") == 5

    def test_override_scoped(self):
        with settings.override(max_broadcast_expansion=7):
            assert settings.get("max_broadcast_expansion") == 7
        assert settings.get("max_broadcast_expansion") == 65536

    def test_as_dict(self):
        d = settings.as_dict()
        assert set(d) >= {"stats_enabled", "max_broadcast_expansion"}


class TestBroadcastCapFallback:
    """The VERDICT-mandated observable: lowering the cap makes the
    multi-term expansion semi-join fall back from a broadcast to a
    shuffle-hash join (the 100-TB-vocabulary safety path)."""

    def test_prefix_expansion_broadcasts_under_cap(self, engine):
        from neural_search_spark.search.bm25 import prefix_query_scores

        plan = prefix_query_scores(engine, "ident")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_prefix_expansion_falls_back_over_cap(self, engine):
        from neural_search_spark.search.bm25 import prefix_query_scores

        with settings.override(max_broadcast_expansion=2):
            df = prefix_query_scores(engine, "ident")
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan
            assert "ShuffledHashJoin" in plan
            # and the result is unchanged — only the join strategy moved
            fallback = sorted((r["docID"], r["score"]) for r in df.collect())
        normal = sorted(
            (r["docID"], r["score"])
            for r in prefix_query_scores(engine, "ident").collect()
        )
        assert fallback == normal


class TestHybridClauseCap:
    def test_lowered_cap_rejects(self, engine):
        from neural_search_spark.search.hybrid import hybrid_search

        clauses = [engine.match("import"), engine.term("ident1"), engine.match("def")]
        with settings.override(hybrid_max_sub_queries=2):
            with pytest.raises(ValueError, match="1..2 sub-queries"):
                hybrid_search(clauses, "min_max", "arithmetic_mean", k=3, depth=10)


class TestRerankFieldCap:
    def test_context_fields_capped(self, tiny_corpus):
        from neural_search_spark.search.ops import rerank_document_context

        with settings.override(reranker_max_document_fields=1):
            rerank_document_context(tiny_corpus, ["lang"])  # within cap
            with pytest.raises(ValueError, match="caps it at 1"):
                rerank_document_context(tiny_corpus, ["lang", "repo"])


class TestStatsGate:
    def test_disabled_noops_and_403s(self, engine):
        stats.reset()
        engine.match("import")  # records only when enabled
        assert stats.event_counts() == {}
        with pytest.raises(PermissionError):
            stats.snapshot()

    def test_enabled_counts(self, engine):
        stats.reset()
        with settings.override(stats_enabled=True):
            engine.match("import")
            snap = stats.snapshot()
        assert snap["events"]["match_query_requests"] == 1

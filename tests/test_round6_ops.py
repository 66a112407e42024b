"""Round-6 surfaces: ANN-backed dense clause (knn_method), rerank
request-context ext block, index migration (rolling-upgrade analog),
settings atomicity + ingest batch size, resume-path BWC gate."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from neural_search_spark import settings
from neural_search_spark.corpus import synthetic_code_corpus
from neural_search_spark.search.bm25 import BM25Engine

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def engine(spark, tiny_corpus):
    return BM25Engine(spark, tiny_corpus).cache()


@pytest.fixture(scope="module")
def doc_emb(spark, tiny_corpus):
    from neural_search_spark.pipeline.embedding import text_embedding_stub

    return text_embedding_stub(tiny_corpus).cache()


class TestAnnDenseClause:
    """knn_method surface of the kNN rewrite
    (query/NeuralKNNQueryBuilder.java:33-41 wraps the k-NN plugin's
    method params): the dense clause's candidate set is pruned, scores
    keep the round6 neural-clause contract."""

    def _qv(self):
        from neural_search_spark.search.neural import query_embedding_stub

        return query_embedding_stub("customer stream window partition")

    def test_ivf_candidates_come_from_probed_lists(self, doc_emb):
        from neural_search_spark.pipeline.ann import (
            _cosine,
            _dot,
            ivf_assign,
            ivf_centroids,
        )
        from neural_search_spark.search.neural import neural_clause_scores_ann

        qv_list = self._qv()
        cents = ivf_centroids(doc_emb, 4, id_col="docID", vec_col="embedding")
        asg = ivf_assign(doc_emb, cents, id_col="docID", vec_col="embedding")
        out = neural_clause_scores_ann(
            doc_emb, qv_list, method="ivf", k=20, n_lists=4, nprobe=2,
            centroids=cents, assigned=asg,
        )
        got = {r["docID"]: r["score"] for r in out.collect()}
        assert 0 < len(got) <= 20
        qv = F.array(*[F.lit(float(v)) for v in qv_list])
        probe = {
            r["list_id"]
            for r in cents.orderBy(
                F.desc(_cosine(F.col("centroid"), qv)), F.asc("list_id")
            ).limit(2).collect()
        }
        allowed = {
            r["vec_id"]
            for r in asg.where(F.col("list_id").isin(list(probe))).collect()
        }
        assert set(got) <= allowed
        # every returned score equals the brute-force round6 cosine
        from neural_search_spark.pipeline import params as P
        from neural_search_spark.pipeline.ann import _dot as dot

        brute = {
            r["docID"]: r["score"]
            for r in doc_emb.select(
                "docID", P.round6(dot(F.col("embedding"), qv)).alias("score")
            ).collect()
        }
        assert all(brute[d] == s for d, s in got.items())

    def test_quantized_rescore_scores_are_exact(self, doc_emb):
        from neural_search_spark.pipeline import params as P
        from neural_search_spark.pipeline.ann import _dot
        from neural_search_spark.search.neural import neural_clause_scores_ann

        qv_list = self._qv()
        out = neural_clause_scores_ann(
            doc_emb, qv_list, method="quantized_rescore", k=10, oversample=3
        )
        rows = out.collect()
        assert 0 < len(rows) <= 10
        qv = F.array(*[F.lit(float(v)) for v in qv_list])
        brute = {
            r["docID"]: r["score"]
            for r in doc_emb.select(
                "docID", P.round6(_dot(F.col("embedding"), qv)).alias("score")
            ).collect()
        }
        # rescored window scores are the exact float scores (not coarse)
        assert all(brute[r["docID"]] == r["score"] for r in rows)

    def test_quantized_rescore_keeps_the_top_of_the_coarse_window(self, doc_emb):
        """``knn_method="quantized_rescore"``, which no oracle key runs: the
        window is the k×oversample best docs by the round4 cosine of the
        int8-dequantized vectors (query dequantized the same way, docID-asc
        tie-break), and the clause returns exactly the top-k of that window
        by the round6 exact dot."""
        import math

        from neural_search_spark.pipeline import params as P
        from neural_search_spark.pipeline.ann import (
            _cosine,
            _dot,
            quantization_stats,
            quantize_int8,
        )
        from neural_search_spark.search.neural import (
            neural_clause_scores_ann,
            query_embedding_stub,
        )

        k, oversample = 5, 3
        for text in ("customer stream window partition", "import data", "return value"):
            qv_list = query_embedding_stub(text)
            mn, mx = quantization_stats(doc_emb)
            scale = (mx - mn) / 255.0 if mx > mn else 1.0
            dq = [mn + math.floor((v - mn) / scale + 0.5) * scale for v in qv_list]
            deq = F.transform(
                F.col("qvec"), lambda x: F.lit(mn) + x.cast("double") * F.lit(scale)
            )
            coarse = quantize_int8(doc_emb, mn, mx, id_col="docID").select(
                "vec_id",
                P.round4(
                    _cosine(deq, F.array(*[F.lit(v) for v in dq]))
                ).alias("cscore"),
            )
            ranked = sorted((-r["cscore"], r["vec_id"]) for r in coarse.collect())
            window = {d for _, d in ranked[: k * oversample]}
            qv = F.array(*[F.lit(float(v)) for v in qv_list])
            exact = doc_emb.select(
                "docID", P.round6(_dot(F.col("embedding"), qv)).alias("score")
            )
            want = sorted(
                (-r["score"], r["docID"]) for r in exact.collect() if r["docID"] in window
            )[:k]
            got = neural_clause_scores_ann(
                doc_emb, qv_list, method="quantized_rescore", k=k, oversample=oversample
            ).collect()
            assert [(r["docID"], r["score"]) for r in got] == [
                (d, -s) for s, d in want
            ], text

    def test_k_required_and_unknown_method_rejected(self, doc_emb):
        from neural_search_spark.search.neural import neural_clause_scores_ann

        with pytest.raises(ValueError, match="requires k"):
            neural_clause_scores_ann(doc_emb, self._qv(), method="ivf")
        with pytest.raises(ValueError, match="unknown knn_method"):
            neural_clause_scores_ann(doc_emb, self._qv(), method="hnsw", k=5)

    def test_spec_parser_routes_knn_method(self, engine, doc_emb):
        from neural_search_spark.search.spec import parse_hybrid_spec

        spec = {
            "queries": [
                {"match": "import data"},
                {
                    "neural": {
                        "query": "customer stream window partition",
                        "embeddings": doc_emb,
                        "k": 20,
                        "knn_method": "ivf",
                        "n_lists": 4,
                        "nprobe": 2,
                    }
                },
            ]
        }
        out = parse_hybrid_spec(engine, spec, k=5, pipeline=None)
        assert 0 < out.count() <= 5


class TestRerankContext:
    """ext.rerank request-context block
    (query/ext/RerankSearchExtBuilder.java +
    processor/rerank/context/DocumentContextSourceFetcher.java:30-70)."""

    def _spec(self, qc: dict, fields: list[str] | None = None) -> dict:
        ml: dict = {"query_context": qc}
        if fields is not None:
            ml["context"] = {"document_fields": fields}
        return {
            "queries": [{"match": "import data pipeline"}],
            "ext": {"rerank": {"ml_opensearch": ml}},
        }

    def test_query_text_path_resolves_from_request(self, engine, doc_emb):
        from neural_search_spark.search.spec import parse_spec_with_rerank

        spec = self._spec({"query_text_path": "queries.0.match"}, ["lang"])
        out = parse_spec_with_rerank(
            engine, spec, k=5, window=20, embeddings=doc_emb
        )
        rows = out.collect()
        assert 0 < len(rows) <= 5
        assert set(out.columns) == {"docID", "score", "lang"}
        # path text == literal text → identical output
        direct = parse_spec_with_rerank(
            engine,
            self._spec({"query_text": "import data pipeline"}, ["lang"]),
            k=5,
            window=20,
            embeddings=doc_emb,
        ).collect()
        assert [tuple(r) for r in rows] == [tuple(r) for r in direct]

    def test_exactly_one_query_text_source(self, engine, doc_emb):
        from neural_search_spark.search.spec import parse_spec_with_rerank

        for qc in ({}, {"query_text": "a", "query_text_path": "queries.0.match"}):
            with pytest.raises(ValueError, match="exactly one"):
                parse_spec_with_rerank(
                    engine, self._spec(qc), k=5, embeddings=doc_emb
                )

    def test_document_fields_cap_enforced(self, engine, doc_emb):
        from neural_search_spark.search.spec import parse_spec_with_rerank

        many = [f"f{i}" for i in range(51)]  # default cap is 50
        with pytest.raises(ValueError, match="caps it at 50"):
            parse_spec_with_rerank(
                engine, self._spec({"query_text": "import"}, many),
                k=5, embeddings=doc_emb,
            )

    def test_by_field_fetches_through_capped_fetcher(self, spark, tiny_corpus):
        from neural_search_spark.search.spec import parse_spec_with_rerank

        eng = BM25Engine(
            spark, tiny_corpus.withColumn("stars", F.length("content"))
        )
        spec = {
            "queries": [{"match": "import data pipeline"}],
            "ext": {"rerank": {"by_field": {"target_field": "stars"}}},
        }
        out = parse_spec_with_rerank(eng, spec, k=5, window=20)
        rows = out.collect()
        assert rows and all(r["score"] is not None for r in rows)
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        # the fetch goes through the capped fetcher: within cap=1 it works
        # (the >cap rejection is exercised on the ml path above)
        with settings.override(reranker_max_document_fields=1):
            assert parse_spec_with_rerank(eng, spec, k=5, window=20).count() > 0

    def test_path_resolution_errors(self):
        from neural_search_spark.search.spec import resolve_query_text_path

        spec = {"queries": [{"match": {"query": "hello"}}]}
        assert resolve_query_text_path(spec, "queries.0.match.query") == "hello"
        with pytest.raises(ValueError, match="no key"):
            resolve_query_text_path(spec, "queries.0.nope")
        with pytest.raises(ValueError, match="must resolve to a string"):
            resolve_query_text_path(spec, "queries.0.match")


class TestMigrateIndex:
    """Rolling-upgrade analog (qa/rolling-upgrade): a frozen version-0
    index (tests/fixtures/index_v0, byte-frozen old-codec shards) migrates
    to the current format and reads green; the reader keeps refusing the
    unmigrated dir; the content-sha256 docmap invariant holds."""

    def test_migrate_fixture_and_read(self, spark, tmp_path):
        from neural_search_spark.index.builder import migrate_index
        from neural_search_spark.index.codec import FORMAT_VERSION
        from neural_search_spark.search.wand import BlockMaxIndex

        old = os.path.join(FIXTURES, "index_v0")
        # unmigrated: reader refuses (restart-upgrade gate still stands)
        with pytest.raises(ValueError, match="format_version=0"):
            BlockMaxIndex(spark, old)
        new = str(tmp_path / "migrated")
        stats = migrate_index(spark, old, new)
        assert stats["format_version"] == FORMAT_VERSION
        idx = BlockMaxIndex(spark, new)
        assert idx.match_topk("import", k=3).count() > 0
        # sha256 invariant: docmap identical old vs new
        om = spark.read.parquet(os.path.join(old, "docmap")).select("docID", "sha")
        nm = spark.read.parquet(os.path.join(new, "docmap")).select("docID", "sha")
        assert om.exceptAll(nm).count() == 0 and nm.exceptAll(om).count() == 0

    def test_migrated_scores_match_fresh_build(self, spark, tmp_path):
        """Decode → re-join dlq → re-encode must reproduce the exact
        postings a fresh build of the same corpus produces (same query
        scores, doc for doc)."""
        from neural_search_spark.index.builder import build_index, migrate_index
        from neural_search_spark.search.wand import BlockMaxIndex

        old = os.path.join(FIXTURES, "index_v0")
        new = str(tmp_path / "m2")
        migrate_index(spark, old, new)
        fresh = str(tmp_path / "fresh")
        corpus = synthetic_code_corpus(spark, n_rows=60, seed=11)
        build_index(spark, corpus, fresh, n_shards=2, block_size=16)
        a = BlockMaxIndex(spark, new).match_topk("import data", k=10)
        b = BlockMaxIndex(spark, fresh).match_topk("import data", k=10)
        ra = [(r["docID"], round(r["score"], 6)) for r in a.collect()]
        rb = [(r["docID"], round(r["score"], 6)) for r in b.collect()]
        assert ra == rb

    def test_migrate_refuses_wrong_versions(self, spark, tmp_path):
        import json

        from neural_search_spark.index.builder import build_index, migrate_index

        corpus = synthetic_code_corpus(spark, n_rows=30, seed=3)
        d = str(tmp_path / "cur")
        build_index(spark, corpus, d, n_shards=2, block_size=16)
        with pytest.raises(ValueError, match="already format_version"):
            migrate_index(spark, d, str(tmp_path / "out"))
        with open(os.path.join(d, "stats.json")) as f:
            stats = json.load(f)
        stats["format_version"] = 99
        with open(os.path.join(d, "stats.json"), "w") as f:
            json.dump(stats, f)
        with pytest.raises(ValueError, match="migrates only"):
            migrate_index(spark, d, str(tmp_path / "out2"))


class TestResumeManifestGate:
    """ADVICE r5: an interrupted old-format build (manifest present,
    stats.json absent) must refuse to resume — the manifest's completed
    'postings' entries carry the stamp."""

    def test_resume_refuses_on_stale_manifest_entry(self, spark, tmp_path):
        import json

        from neural_search_spark.index.builder import build_index

        corpus = synthetic_code_corpus(spark, n_rows=30, seed=3)
        d = str(tmp_path / "interrupted")
        build_index(spark, corpus, d, n_shards=2, block_size=16)
        # simulate: older engine wrote shards + manifest, crashed before
        # stats.json; entries carry no format_version (reads as 0)
        os.remove(os.path.join(d, "stats.json"))
        lines = []
        with open(os.path.join(d, "manifest.jsonl")) as f:
            for line in f:
                e = json.loads(line)
                e.pop("format_version", None)
                lines.append(json.dumps(e))
        with open(os.path.join(d, "manifest.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
        with pytest.raises(ValueError, match="format_version=0"):
            build_index(spark, corpus, d, n_shards=2, block_size=16)
        # resume=False rebuilds cleanly
        build_index(spark, corpus, d, n_shards=2, block_size=16, resume=False)


class TestAnnBatch:
    """Batched IVF ANN: one assignment scan for Q queries; per-qid results
    must equal the single-query ann_ivf_topk contract."""

    def test_batch_equals_per_query(self, spark):
        from neural_search_spark.pipeline.ann import (
            ann_ivf_batch_topk,
            ann_ivf_topk,
            ivf_assign,
            ivf_centroids,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
            F.col("vec_id").cast("long").alias("vec_id"), "embedding"
        )
        cents = ivf_centroids(emb)
        asg = ivf_assign(emb, cents)
        qids = [3, 17, 42]
        batch = ann_ivf_batch_topk(emb, qids, k=5, centroids=cents, assigned=asg)
        got = {}
        for r in batch.collect():
            got.setdefault(r["qid"], []).append((r["vec_id"], r["score"]))
        assert set(got) == set(qids)
        for qid in qids:
            solo = [
                (r["vec_id"], r["score"])
                for r in ann_ivf_topk(
                    emb, qid, k=5, centroids=cents, assigned=asg
                ).collect()
            ]
            assert got[qid] == solo, qid

    def test_empty_batch(self, spark):
        from neural_search_spark.pipeline.ann import ann_ivf_batch_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
            F.col("vec_id").cast("long").alias("vec_id"), "embedding"
        )
        assert ann_ivf_batch_topk(emb, [], k=5).count() == 0


class TestSemanticDedup:
    def test_injected_duplicates_dropped(self, spark):
        """Exact copies share the cluster and cosine 1.0 — every injected
        duplicate (higher id) drops, every original keeps."""
        from neural_search_spark.corpus import inject_vector_duplicates
        from neural_search_spark.pipeline.dedup import semantic_dedup

        emb = inject_vector_duplicates(spark, "/root/testdata/sf0.001")
        out = {r["vec_id"]: r["keep"] for r in semantic_dedup(emb, n_lists=8).collect()}
        n = emb.count()
        assert len(out) == n
        injected = [v for v in out if v >= 100000]
        assert injected and all(not out[v] for v in injected)
        assert all(out[v] for v in out if v < 100000)

    def test_pairs_only_within_cluster(self, spark):
        """The pair join is keyed by list_id — vectors in different
        clusters never compare, so keep-flags are reproducible from the
        assignment alone (scale contract: never all-pairs)."""
        from neural_search_spark.pipeline.ann import ivf_assign, ivf_centroids
        from neural_search_spark.pipeline.dedup import semantic_dedup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
            F.col("vec_id").cast("long").alias("vec_id"), "embedding"
        )
        cents = ivf_centroids(emb, 4)
        asg = ivf_assign(emb, cents)
        out = semantic_dedup(emb, n_lists=4, centroids=cents, assigned=asg)
        # no injected dups → random synthetic vectors are all distinct
        assert out.where(~F.col("keep")).count() == 0


class TestStatsCatalog:
    """EventStatName.java catalog parity: typed names (unknown rejected),
    path grouping, and counter deltas over a mixed query sample."""

    def test_unknown_event_rejected_even_when_disabled(self):
        from neural_search_spark import stats

        with pytest.raises(ValueError, match="Event stat not found"):
            stats.record_event("not_a_stat")

    def test_catalog_covers_reference_names(self):
        from neural_search_spark import stats

        # spot-check verbatim EventStatName.java entries and their paths
        assert stats.EVENT_CATALOG["text_embedding_executions"] == "processors.ingest"
        assert stats.EVENT_CATALOG["norm_minmax_executions"] == "processors.search.hybrid"
        assert stats.EVENT_CATALOG["hybrid_query_with_filter_requests"] == "query.hybrid"
        assert stats.EVENT_CATALOG["neural_sparse_query_requests"] == "query.neural_sparse"
        assert stats.EVENT_CATALOG["rerank_ml_executions"] == "processors.search"
        assert len([n for n, p in stats.EVENT_CATALOG.items() if p != "query.core"]) == 33

    def test_mixed_sample_counter_deltas(self, spark, engine, doc_emb):
        from neural_search_spark import settings, stats
        from neural_search_spark.search.hybrid import hybrid_search
        from neural_search_spark.search.neural import (
            neural_clause_scores,
            neural_clause_scores_ann,
            query_embedding_stub,
            rerank_ml,
        )
        from neural_search_spark.search.sparse import two_phase_topk, sparse_postings, sparse_features_from_tf
        from neural_search_spark.search.spec import parse_hybrid_spec

        stats.reset()
        qv = query_embedding_stub("customer stream window")
        with settings.override(stats_enabled=True):
            hybrid_search(
                [engine.match("import data"), neural_clause_scores(doc_emb, qv, k=20)],
                "min_max", "arithmetic_mean", k=5, depth=20,
            )
            hybrid_search(
                [engine.match("import"), engine.term("ident1")], "rrf", "rrf",
                k=5, depth=20,
            )
            neural_clause_scores_ann(doc_emb, qv, method="ivf", k=10, n_lists=4, nprobe=2)
            spost = sparse_postings(sparse_features_from_tf(engine.corpus))
            two_phase_topk(spark, spost, {"import": 2.0, "data": 0.3}, k=5)
            rerank_ml(engine.match_topk("import", 10), doc_emb, "import")
            parse_hybrid_spec(
                engine,
                {"queries": [{"match": "import"}], "filter": "lang = 'python'"},
                k=3,
            )
            snap = stats.snapshot()
        ev = snap["events"]
        assert ev["hybrid_query_requests"] == 3  # 2 direct + 1 via spec
        assert ev["normalization_processor_executions"] == 2  # min_max runs
        assert ev["norm_minmax_executions"] == 2
        assert ev["comb_arithmetic_executions"] == 2
        assert ev["rank_based_normalization_processor_executions"] == 1  # rrf
        assert ev["comb_rrf_executions"] == 1
        assert ev["neural_query_requests"] == 2  # brute clause + ann clause
        assert ev["neural_query_against_knn_requests"] == 2
        assert ev["neural_sparse_query_requests"] >= 2  # two-phase = 2 passes
        assert ev["neural_sparse_two_phase_executions"] == 1
        assert ev["sparse_encoding_executions"] == 1
        assert ev["rerank_ml_executions"] == 1
        assert ev["hybrid_query_with_filter_requests"] == 1
        # path grouping mirrors EventStatName.getFullPath
        by_path = snap["events_by_path"]
        assert "norm_minmax_executions" in by_path["processors.search.hybrid"]
        assert "match_query_requests" in by_path["query.core"]
        assert "query.core" in snap["extension_paths"]


class TestSettingsRound6:
    def test_override_is_atomic(self):
        """A failed override leaves no partial state (ADVICE r5: earlier
        kwargs must not stay applied when a later one fails validation)."""
        before = settings.as_dict()
        with pytest.raises(ValueError):
            with settings.override(hybrid_max_sub_queries=3, stats_enabled="bogus"):
                pass  # pragma: no cover - never entered
        assert settings.as_dict() == before

    def test_ingest_batch_size_bounds(self):
        """NeuralSearchSettings.java intSetting(default 10, min 1, max 100)."""
        assert settings.get("semantic_ingest_batch_size") == 10
        for bad in (0, 101, -5):
            with pytest.raises(ValueError):
                settings.put("semantic_ingest_batch_size", bad)
        settings.put("semantic_ingest_batch_size", 100)
        settings.reset("semantic_ingest_batch_size")

    def test_ingest_batch_size_consumed_by_extract(self, spark, tiny_corpus):
        """The setting drives the model micro-batch size in the Arrow
        ingest path (InferenceProcessor.java:199-229 sub-batching)."""
        from neural_search_spark.pipeline.multimodal import (
            extract_binary_features,
            rechunk_ingest_batches,
            with_binary_payload,
        )
        import pandas as pd

        chunks = list(
            rechunk_ingest_batches(iter([pd.DataFrame({"x": range(25)})]), 10)
        )
        assert [len(c) for c in chunks] == [10, 10, 5]
        assert pd.concat(chunks)["x"].tolist() == list(range(25))
        # end-to-end: results are identical for any batch size
        payload = with_binary_payload(tiny_corpus)
        base = sorted(tuple(r) for r in extract_binary_features(payload).collect())
        with settings.override(semantic_ingest_batch_size=7):
            small = sorted(
                tuple(r) for r in extract_binary_features(payload).collect()
            )
        assert base == small

    def test_ingest_batches_sorted_by_length(self, spark, tiny_corpus):
        """Padding-waste optimization: each Arrow batch is stably sorted by
        input length BEFORE slicing into model micro-batches
        (InferenceProcessor.sortByLengthAndReturnOriginalOrder /
        doSubBatchExecute, InferenceProcessor.java:217-229), so every model
        call sees similar-length inputs; results are unchanged (row ids
        carry identity — no positional restore step needed in Spark)."""
        import pandas as pd

        from neural_search_spark.pipeline.multimodal import (
            extract_binary_features,
            rechunk_ingest_batches,
            with_binary_payload,
        )

        pdf = pd.DataFrame(
            {"i": range(6), "t": ["aaaa", "a", "aaa", "aa", "aaaaa", "a"]}
        )
        chunks = list(rechunk_ingest_batches(iter([pdf]), 2, sort_by_length="t"))
        flat = pd.concat(chunks)
        # globally length-sorted across the micro-batch sequence …
        assert flat["t"].map(len).tolist() == sorted(len(s) for s in pdf["t"])
        # … with a STABLE tie-break (the two 'a' rows keep input order)
        assert flat["i"].tolist()[:2] == [1, 5]
        assert [len(c) for c in chunks] == [2, 2, 2]
        # end-to-end: the sorted path still yields one row per doc with the
        # correct per-doc n_bytes (identity travels with the row, not the
        # list position)
        payload = with_binary_payload(tiny_corpus)
        feats = extract_binary_features(payload)
        want_bytes = {
            r["docID"]: r["n"]
            for r in payload.select("docID", F.col("meta.n_bytes").alias("n")).collect()
        }
        got_bytes = {r["docID"]: r["n_bytes"] for r in feats.collect()}
        assert got_bytes == want_bytes


class TestSemanticFieldQuery:
    """Query-time semantic-field resolution (NeuralQueryBuilder.java:
    673-706 / query/dto/NeuralQueryTargetFieldConfig.java): the neural
    query names only the raw field; model id, embedding path, and
    chunking mode resolve from the mapping."""

    def test_target_field_config_resolution(self, spark, tiny_corpus):
        from neural_search_spark.mapping import (
            apply_semantic_mapping,
            target_field_config,
        )

        cfg = target_field_config(tiny_corpus.schema, "nope")
        assert cfg.is_unmapped_field and not cfg.is_semantic_field

        cfg = target_field_config(tiny_corpus.schema, "content")
        assert not cfg.is_unmapped_field and not cfg.is_semantic_field

        dense = apply_semantic_mapping(tiny_corpus, "content", "m-dense-1")
        cfg = target_field_config(dense.schema, "content")
        assert cfg.is_semantic_field and not cfg.chunking_enabled
        assert cfg.search_model_id == "m-dense-1"
        assert cfg.embedding_field_path == "content_semantic_info.embedding"
        assert cfg.chunks_path is None

        chunked = apply_semantic_mapping(
            tiny_corpus, "content", "m-dense-2", chunking=True,
            chunk_algorithm="fixed_token_length", token_limit=8,
        )
        cfg = target_field_config(chunked.schema, "content")
        assert cfg.chunking_enabled
        assert cfg.chunks_path == "content_semantic_info.chunks"
        assert cfg.embedding_field_path == "content_semantic_info.chunks.embedding"
        assert cfg.search_model_id == "m-dense-2"

    def test_chunked_mapping_schema_and_order(self, spark, tiny_corpus):
        from neural_search_spark.mapping import (
            apply_semantic_mapping,
            derive_semantic_schema,
        )

        out = apply_semantic_mapping(
            tiny_corpus, "content", "m1", chunking=True,
            chunk_algorithm="fixed_token_length", token_limit=8,
        )
        want = derive_semantic_schema(tiny_corpus.schema, "content", chunking=True)
        assert [f.name for f in out.schema.fields] == [f.name for f in want.fields]
        info = out.schema["content_semantic_info"].dataType
        assert {f.name for f in info.fields} == {"model", "chunks"}
        row = out.where(F.col("docID") == 0).select("content_semantic_info").first()[0]
        # chunk texts in order re-join (offset-sliced round-trip) and every
        # stored embedding is L2-normalized
        assert row["model"]["id"] == "m1"
        texts = [c["text"] for c in row["chunks"]]
        orig = tiny_corpus.where(F.col("docID") == 0).first()["content"]
        assert "".join(texts) == orig
        for c in row["chunks"]:
            n2 = sum(v * v for v in c["embedding"])
            assert abs(n2 - 1.0) < 1e-9

    def test_semantic_query_routes_and_errors(self, spark, tiny_corpus):
        from neural_search_spark.mapping import apply_semantic_mapping
        from neural_search_spark.search.neural import (
            neural_clause_scores,
            neural_semantic_query,
            query_embedding_stub,
        )

        with pytest.raises(ValueError, match="not mapped"):
            neural_semantic_query(tiny_corpus, "nope", "any query")
        with pytest.raises(ValueError, match="not a semantic field"):
            neural_semantic_query(tiny_corpus, "content", "any query")

        q = "def ident return"
        dense = apply_semantic_mapping(tiny_corpus, "content", "m1")
        got = neural_semantic_query(dense, "content", q, k=5)
        assert got.columns == ["docID", "score"]
        # dense route == the explicit neural clause over the same stored
        # embeddings (stub is deterministic)
        from neural_search_spark.pipeline.embedding import text_embedding_stub

        want = neural_clause_scores(
            text_embedding_stub(tiny_corpus), query_embedding_stub(q), k=5
        )
        assert [tuple(r) for r in got.collect()] == [
            (r["docID"], r["score"]) for r in want.orderBy(
                F.desc("score"), F.asc("docID")).limit(5).collect()
        ]

    def test_semantic_chunked_matches_nested_query(self, spark, tiny_corpus):
        """The chunked route over STORED embeddings must equal the
        query-time-embedding nested query on the same chunking — the two
        paths share the model stub, so scores are bit-identical."""
        from neural_search_spark.analysis.chunking import chunk_table
        from neural_search_spark.mapping import apply_semantic_mapping
        from neural_search_spark.search.neural import (
            neural_nested_scores,
            neural_semantic_query,
            query_embedding_stub,
        )

        q = "import ident1 value"
        mapped = apply_semantic_mapping(
            tiny_corpus, "content", "m1", chunking=True,
            chunk_algorithm="fixed_token_length", token_limit=8,
        )
        got = neural_semantic_query(mapped, "content", q, k=8).collect()
        chunks = chunk_table(
            tiny_corpus, "content", "docID", "fixed_token_length", token_limit=8
        )
        want = neural_nested_scores(
            chunks, query_embedding_stub(q), expand_nested=False, k=8
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    def test_semantic_query_stats(self, spark, tiny_corpus):
        from neural_search_spark import stats
        from neural_search_spark.mapping import apply_semantic_mapping
        from neural_search_spark.search.neural import neural_semantic_query

        from neural_search_spark import settings

        dense = apply_semantic_mapping(tiny_corpus, "content", "m1")
        with settings.override(stats_enabled=True):
            stats.reset()
            neural_semantic_query(dense, "content", "def ident")
            got = stats.snapshot()["events"]
        assert got["neural_query_against_semantic_dense_requests"] == 1
        assert got["neural_query_requests"] == 1

    def test_sparse_mapping_schema_and_config(self, spark, tiny_corpus):
        """sparse_encoding model → rank_features child typed
        map<string,float> (SemanticInfoConfigBuilder.java), stored weights
        = term frequency, analyzer name stamped in field metadata."""
        from pyspark.sql.types import MapType

        from neural_search_spark.mapping import (
            apply_semantic_mapping,
            target_field_config,
        )

        out = apply_semantic_mapping(
            tiny_corpus, "content", "m-sparse-1",
            model_type="sparse_encoding", search_analyzer="whitespace",
        )
        info = out.schema["content_semantic_info"].dataType
        assert isinstance(info["embedding"].dataType, MapType)
        cfg = target_field_config(out.schema, "content")
        assert cfg.embedding_field_type == "rank_features"
        assert cfg.search_model_id == "m-sparse-1"
        assert cfg.semantic_field_search_analyzer == "whitespace"
        # dense mapping keeps knn_vector and no analyzer
        dense_cfg = target_field_config(
            apply_semantic_mapping(tiny_corpus, "content", "m1").schema, "content"
        )
        assert dense_cfg.embedding_field_type == "knn_vector"
        assert dense_cfg.semantic_field_search_analyzer is None
        # stored map is exactly the analyzed term-frequency vector
        from collections import Counter

        from neural_search_spark.analysis.tokenizer import tokenize_text

        row = out.where(F.col("docID") == 0).select(
            "content", "content_semantic_info.embedding"
        ).first()
        want = Counter(tokenize_text(row["content"]))
        assert {t: int(w) for t, w in row["embedding"].items()} == dict(want)

    def test_sparse_route_token_sources(self, spark, tiny_corpus):
        """NeuralQueryBuilder.java:756-780 priority: explicit model_id →
        model tokens (beats raw tokens); raw query_tokens next; mapping
        analyzer last; matched docs only."""
        from neural_search_spark.mapping import apply_semantic_mapping
        from neural_search_spark.search.neural import neural_semantic_query
        from neural_search_spark.search.sparse import (
            neural_sparse_score,
            sparse_features_from_tf,
            sparse_postings,
            sparse_query_encoding_stub,
            sparse_query_tokens_from_analyzer,
        )

        q = "def def ident"  # duplicate token separates the two sources
        postings = sparse_postings(sparse_features_from_tf(tiny_corpus)).cache()

        def _want(toks, k=6):
            return [
                tuple(r)
                for r in neural_sparse_score(spark, postings, toks)
                .orderBy(F.desc("score"), F.asc("docID"))
                .limit(k)
                .collect()
            ]

        # no analyzer in the mapping → model route (query-tf stub)
        plain = apply_semantic_mapping(
            tiny_corpus, "content", "m-s", model_type="sparse_encoding"
        )
        got = neural_semantic_query(plain, "content", q, k=6)
        assert got.columns == ["docID", "score"]
        assert [tuple(r) for r in got.collect()] == _want(
            sparse_query_encoding_stub(q)
        )
        # analyzer in the mapping → payload-less 1.0 tokens from it
        analyzed = apply_semantic_mapping(
            tiny_corpus, "content", "m-s", model_type="sparse_encoding",
            search_analyzer="standard",
        )
        got = neural_semantic_query(analyzed, "content", q, k=6)
        assert [tuple(r) for r in got.collect()] == _want(
            sparse_query_tokens_from_analyzer(q, "standard")
        )
        # raw query_tokens beat the analyzer …
        raw = {"ident": 3.0}
        got = neural_semantic_query(analyzed, "content", q, k=6, query_tokens=raw)
        assert [tuple(r) for r in got.collect()] == _want(raw)
        # … but an explicit model_id beats raw tokens (java:763-766)
        got = neural_semantic_query(
            analyzed, "content", q, k=6, query_tokens=raw, model_id="m-s"
        )
        assert [tuple(r) for r in got.collect()] == _want(
            sparse_query_encoding_stub(q)
        )
        # zero-overlap queries match nothing (rank_features term semantics)
        assert (
            neural_semantic_query(
                plain, "content", "zzzznope", k=6, query_tokens={"zzzznope": 1.0}
            ).count()
            == 0
        )

    def test_sparse_chunked_route_scoremode_max(self, spark, tiny_corpus):
        """Chunking + sparse → nested execution, parent score = best chunk
        (ScoreMode.Max), token-less chunks skipped."""
        from neural_search_spark.analysis.chunking import chunk_table
        from neural_search_spark.mapping import apply_semantic_mapping
        from neural_search_spark.search.neural import neural_semantic_query
        from neural_search_spark.search.sparse import (
            neural_sparse_score,
            sparse_features_from_tf,
            sparse_postings,
            sparse_query_encoding_stub,
        )

        q = "return value"
        mapped = apply_semantic_mapping(
            tiny_corpus, "content", "m-s", model_type="sparse_encoding",
            chunking=True, chunk_algorithm="fixed_token_length", token_limit=8,
        )
        got = neural_semantic_query(mapped, "content", q, k=8)
        assert got.columns == ["docID", "score", "best_chunk_idx"]
        # oracle: score each chunk independently, keep the per-doc max
        chunks = chunk_table(
            tiny_corpus, "content", "docID", "fixed_token_length", token_limit=8
        ).select(
            (F.col("docID") * 100000 + F.col("chunk_idx")).alias("ckey"), "chunk"
        )
        per_chunk = neural_sparse_score(
            spark,
            sparse_postings(sparse_features_from_tf(chunks, "chunk", "ckey")),
            sparse_query_encoding_stub(q),
        ).select(
            (F.col("docID") / 100000).cast("long").alias("pid"),
            F.col("score"),
        )
        want = (
            per_chunk.groupBy("pid")
            .agg(F.max("score").alias("score"))
            .orderBy(F.desc("score"), F.asc("pid"))
            .limit(8)
            .collect()
        )
        assert [(r["docID"], r["score"]) for r in got.collect()] == [
            tuple(r) for r in want
        ]

    def test_sparse_semantic_stats(self, spark, tiny_corpus):
        from neural_search_spark import settings, stats
        from neural_search_spark.mapping import apply_semantic_mapping
        from neural_search_spark.search.neural import neural_semantic_query

        sp = apply_semantic_mapping(
            tiny_corpus, "content", "m-s", model_type="sparse_encoding"
        )
        with settings.override(stats_enabled=True):
            stats.reset()
            neural_semantic_query(sp, "content", "def ident")
            got = stats.snapshot()["events"]
        assert got["neural_query_against_semantic_sparse_requests"] == 1
        assert got["neural_query_requests"] == 1
        assert "neural_query_against_semantic_dense_requests" not in got


class TestInfoStats:
    """InfoStatName catalog analog (stats/info/InfoStatName.java +
    InfoStatsManager.java): counters over CONFIGURED pipeline processors,
    computed from the pipeline config dicts, not incremented at run time."""

    INGEST = [
        {
            "processors": [
                {"text_embedding": {"model_id": "m1", "skip_existing": True}},
                {"text_chunking": {"algorithm": {"delimiter": {"delimiter": "\n\n"}}}},
                {"sparse_encoding": {"model_id": "m2"}},
            ]
        },
        {
            "processors": [
                {"text_embedding": {"model_id": "m3"}},
                # no algorithm key -> default case counts fixed_token_length
                # (InfoStatsManager.java:313-316)
                {"text_chunking": {}},
                {"text_image_embedding": {"model_id": "m4", "skip_existing": True}},
            ]
        },
    ]
    SEARCH = [
        {
            "request_processors": [{"neural_query_enricher": {"default_model_id": "m1"}}],
            "phase_results_processors": [
                {
                    "normalization-processor": {
                        "normalization": {"technique": "min_max"},
                        "combination": {"technique": "arithmetic_mean"},
                    }
                }
            ],
            "response_processors": [{"rerank": {"ml_opensearch": {"model_id": "x"}}}],
        },
        {
            "phase_results_processors": [
                {"score-ranker-processor": {"combination": {"technique": "rrf"}}}
            ],
            "response_processors": [{"rerank": {"by_field": {"target_field": "f"}}}],
        },
    ]

    def test_counters_match_configs(self):
        from neural_search_spark import stats

        got = stats.info_stats(self.INGEST, self.SEARCH)
        assert got["text_embedding_processors_in_pipelines"] == 2
        assert got["skip_existing_processors"] == 2  # text_embedding + text_image
        assert got["text_chunking_processors"] == 2
        assert got["text_chunking_delimiter_processors"] == 1
        assert got["text_chunking_fixed_token_length_processors"] == 1  # default case
        assert got["text_chunking_fixed_char_length_processors"] == 0
        assert got["sparse_encoding_processors"] == 1
        assert got["text_image_embedding_processors"] == 1
        assert got["normalization_processors"] == 1
        assert got["norm_minmax_processors"] == 1
        assert got["comb_arithmetic_processors"] == 1
        assert got["rank_based_normalization_processors"] == 1
        assert got["comb_rrf_processors"] == 1
        assert got["neural_query_enricher_processors"] == 1
        assert got["rerank_ml_processors"] == 1
        assert got["rerank_by_field_processors"] == 1
        from neural_search_spark import __version__

        assert got["cluster_version"] == __version__

    def test_catalog_paths_and_snapshot_shape(self):
        from neural_search_spark import settings, stats

        by_path = stats.info_stats_by_path(self.INGEST, self.SEARCH)
        assert set(by_path[""]) == {"cluster_version"}
        assert "normalization_processors" in by_path["processors.search.hybrid"]
        assert "rerank_ml_processors" in by_path["processors.search"]
        # every catalog name appears exactly once across paths
        names = [n for d in by_path.values() for n in d]
        assert sorted(names) == sorted(stats.INFO_CATALOG)
        with settings.override(stats_enabled=True):
            snap = stats.snapshot(
                ingest_pipelines=self.INGEST, search_pipelines=self.SEARCH
            )
        assert snap["info"][""]["cluster_version"]
        # info present (zeroed) even with no pipelines, like the reference
        with settings.override(stats_enabled=True):
            empty = stats.snapshot()
        assert empty["info"]["processors.ingest"]["text_chunking_processors"] == 0

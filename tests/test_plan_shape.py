"""Plan-shape regression guards for the scale-critical registry keys.

The scale design lives in the PHYSICAL PLAN (zero-exchange semantic
route, bounded-exchange WAND path, TakeOrderedAndProject cuts — see
PLANS.md); these tests pin the structural properties so a future edit
cannot silently turn an indexed path back into a corpus scan or add an
unneeded shuffle. Counts asserted here are data-size-independent
invariants (projection-only plans, cached-artifact window cuts), checked
at sf0.001 so the guard stays cheap.
"""

from __future__ import annotations

import pytest

from neural_search_spark.search.wand import SCORE_SCHEMA

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as m

    return m


def test_semantic_sparse_route_is_zero_exchange(spark, entry):
    """The stored rank_features map column is scored by a bounded
    per-token fold and cut by TakeOrderedAndProject — scan → project →
    top-k with NO shuffle at any corpus size."""
    for key in ("semantic_sparse_topk", "semantic_sparse_analyzer_topk"):
        plan = _plan(entry.queries()[key](spark, SF_DIR))
        assert plan.count(") Exchange") == 0, key
        assert "TakeOrderedAndProject" in plan, key


def test_wand_path_is_bounded_exchange_topk(spark, entry):
    """The block-max index query over its cached shard-partitioned rows is
    the term filter, the per-shard cogroup and the top-k cut: no
    query-time exchange (global df rides on the rows), a final
    TakeOrderedAndProject, and never a SortMergeJoin (a corpus re-sort
    would mean the index isn't used)."""
    from tools.plan_audit import query_time_nodes

    for key in ("bm25_wand_topk", "bm25_updated_index_topk"):
        entry.queries()[key](spark, SF_DIR).collect()  # builds the caches
        plan = _plan(entry.queries()[key](spark, SF_DIR))
        nodes = [n for _, n in query_time_nodes(plan)]
        assert not any("Exchange" in n for n in nodes), (key, nodes)
        assert "TakeOrderedAndProject" in plan, key
        assert "SortMergeJoin" not in plan, key


def test_phrase_default_routes_through_positional_index(spark, entry):
    """bm25_phrase_topk (the registry DEFAULT since round 6) must carry
    the positional-index plan: it reads the positional postings, never
    re-reads corpus text to verify positions, and has no SortMergeJoin.
    The explicit scan exhibit keeps the scan shape: a regexp verify over
    the corpus text, semi-joined to the postings candidates (the join
    strategy is the planner's), and no positional index."""
    from tools.plan_audit import query_time_details

    qmap = entry.queries()
    default = _plan(qmap["bm25_phrase_topk"](spark, SF_DIR))
    assert "SortMergeJoin" not in default
    assert "TakeOrderedAndProject" in default
    # the cached doclens artifact tokenizes once, when it is built
    assert "nss_positions_" in default and "regexp_" not in query_time_details(default)
    scan = _plan(qmap["bm25_phrase_scan_topk"](spark, SF_DIR))
    assert "nss_positions_" not in scan
    assert "regexp_" in query_time_details(scan) and "LeftSemi" in scan


def test_delegate_raw_routes_are_artifact_bounded(spark, entry):
    """The delegate raw-type routes never join the corpus against itself:
    token_count is a filter over the per-doc length artifact (its one
    query-time exchange is the output sort; the artifact's own build, a
    join of the corpus ids onto the cached postings, runs once), and
    match_only_text is a filter on the cached postings + one agg ending in
    TakeOrderedAndProject (the postings' own ``ndoc`` window exchange runs
    once, when the cache is built)."""
    from tools.plan_audit import query_time_nodes

    qmap = entry.queries()
    p = _plan(qmap["semantic_raw_token_count"](spark, SF_DIR))
    nodes = [n for _, n in query_time_nodes(p)]
    assert sum(n.startswith("Exchange") for n in nodes) <= 1
    assert not any("Join" in n for n in nodes)
    p = _plan(qmap["semantic_raw_match_only_topk"](spark, SF_DIR))
    nodes = [n for _, n in query_time_nodes(p)]
    assert sum(n.startswith("Exchange") for n in nodes) <= 1
    assert not any("Join" in n for n in nodes)
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_batched_quantized_ann_is_two_window_cuts(spark, entry):
    """ann_quantized_batch_topk: one byte-table scan feeding Q broadcast
    query vectors — the only exchanges are the two per-qid window cuts
    (coarse window, final cut); no sort-merge join at any size."""
    p = _plan(entry.queries()["ann_quantized_batch_topk"](spark, SF_DIR))
    assert p.count(") Exchange") <= 2
    assert "SortMergeJoin" not in p


def test_two_phase_spec_rescore_broadcasts_the_window(spark, entry, monkeypatch):
    """The spec-path two-phase rescore joins the corpus-sized phase-1
    table only against BROADCAST window tables (≤ 10000 rows by the
    processor cap) — a sort-merge join here would re-sort the corpus per
    query. The spec key's rescore is a hybrid clause, and ``hybrid_search``
    runs its clause plans when called, so those are checked as
    ``hybrid_search`` receives them, each with its depth cut."""
    from neural_search_spark.search import spec
    from neural_search_spark.search.bm25 import topk

    p = _plan(entry.queries()["sparse_two_phase_topk"](spark, SF_DIR))
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p
    clauses, real = [], spec.hybrid_search

    def capture(clause_scores, *a, **kw):
        clauses.extend(clause_scores)
        return real(clause_scores, *a, **kw)

    monkeypatch.setattr(spec, "hybrid_search", capture)
    entry.queries()["sparse_two_phase_spec"](spark, SF_DIR)
    assert len(clauses) == 2
    for c in clauses:
        p = _plan(topk(c, 50))
        assert "SortMergeJoin" not in p
        assert "TakeOrderedAndProject" in p


#: keys whose query-time plans used to read driver-side literal tables
#: (query terms, phrase positions, batch query vectors) as Python RDDs
PYRDD_FREE_KEYS = (
    "bm25_match_topk",
    "bm25_batch_topk",
    "bm25_phrase_topk",
    "bm25_phrase_indexed_topk",
    "bm25_phrase_scan_topk",
    "bm25_multi_match_phrase",
    "match_phrase_prefix_topk",
    "match_bool_prefix_topk",
    "prefix_topk",
    "fuzzy_topk",
    "terms_topk",
    "span_near_topk",
    "neural_batch_topk",
)


def test_query_time_literal_tables_stay_in_the_jvm(spark, entry):
    """No listed key — the lexical rewrites, every hybrid_* key (batch
    included), the spec and the sparse keys — plans a ``Scan
    ExistingRDD`` outside a cached relation: such a scan re-reads its
    rows through Python-worker tasks on every execution."""
    from tools.plan_audit import audit_one

    qmap = entry.queries()
    keys = set(PYRDD_FREE_KEYS) | {
        k for k in qmap if k.startswith("hybrid_") or "spec" in k or "sparse" in k
    }
    found = {k: audit_one(qmap[k](spark, SF_DIR))["pyrdd"] for k in sorted(keys)}
    assert {k: n for k, n in found.items() if n} == {}
    assert {"hybrid_batch_topk", "sparse_score_topk", "hybrid_spec_full"} <= keys


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([], "docID long, score double"),
        ([(7, "term")], "pos int, term string"),
        ([(1, [0.1, 0.30000000000000004]), (2, [-1e-300, 2.5])], "qid int, qv array<double>"),
        ([], SCORE_SCHEMA),
        ([(3, 1.5), (9, -0.25)], SCORE_SCHEMA),
    ],
    ids=["empty", "one_row", "array_double", "not_null_empty", "not_null"],
)
def test_local_table_plans_no_python_rdd(spark, rows, schema):
    """``local_table`` keeps its rows in the JVM for an empty table, one
    row, an ``array<double>`` column and NOT NULL fields (the block-max
    index's score schema), with the declared schema."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    from neural_search_spark.session import local_table
    from tools.plan_audit import python_rdd_scans

    df = local_table(spark, rows, schema)
    plan = _plan(df)
    assert python_rdd_scans(plan) == 0 and "ExistingRDD" not in plan
    assert df.schema == (schema if isinstance(schema, StructType) else _parse_datatype_string(schema))
    assert [tuple(r) for r in df.collect()] == rows


def test_local_table_rejects_misfit_rows(spark):
    """A row of the wrong width, a None in a NOT NULL field, or a value
    its declared type cannot hold raises instead of reading as null."""
    from neural_search_spark.session import local_table

    with pytest.raises(ValueError):
        local_table(spark, [(1, "a", "extra")], "pos int, term string")
    with pytest.raises(ValueError):
        local_table(spark, [(1, None)], SCORE_SCHEMA)
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        local_table(spark, [(2**40,)], "pos int").collect()


def test_python_rdd_scans_skips_cached_relations():
    """The audit counts a Python-RDD scan read at query time and skips the
    one under an InMemoryRelation (read once, when the cache is built);
    the query-time details hold the same nodes."""
    from tools.plan_audit import python_rdd_scans, query_time_details

    plan = """== Physical Plan ==
AdaptiveSparkPlan (8)
+- BroadcastHashJoin Inner BuildLeft (7)
   :- BroadcastExchange (4)
   :  +- InMemoryTableScan (1)
   :        +- InMemoryRelation (2)
   :              +- * Scan ExistingRDD (3)
   +- Filter (6)
      +- Scan ExistingRDD (5)


(3) Scan ExistingRDD [codegen id : 1]
(5) Scan ExistingRDD
"""
    assert python_rdd_scans(plan) == 1
    assert query_time_details(plan).split("\n")[0] == "(5) Scan ExistingRDD"
    assert "(3)" not in query_time_details(plan)


def test_library_builds_no_python_list_tables():
    """Static guard: the library calls ``createDataFrame`` only in
    ``corpus.py`` (over a pandas frame); every driver-side literal table
    goes through ``session.local_table``."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "neural_search_spark"
    hits = {
        (str(p.relative_to(root)), line.strip())
        for p in root.rglob("*.py")
        for line in p.read_text().splitlines()
        if re.search(r"\.createDataFrame\b", line)
    }
    assert hits == {("corpus.py", "return spark.createDataFrame(pdf)")}


def _without_initial_plans(plan: str) -> str:
    """A formatted plan without the nodes of any adaptive ``== Initial Plan
    ==`` section: once a cached relation with an exchange has run, the
    plan prints its adaptive plan's final plan and, beside it, the initial
    plan, which never executes. A node that also prints outside every
    such section is kept: a cache built over another cache (the doclens
    over the engine postings) reprints the inner cache's executed plan
    inside the outer initial plan."""
    import re

    skip, ran, marker = set(), set(), None  # marker: where the section's nodes start
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-*"))
        if "== Initial Plan ==" in line:
            marker = depth
            continue
        if marker is not None and depth < marker:
            marker = None
        m = re.match(r"[ :+\-*]*\S.*? \((\d+)\)", line)
        if m:
            (skip if marker is not None else ran).add(int(m.group(1)))
    skip -= ran
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    return "\n".join(
        b for b in blocks if not ((m := re.match(r"\((\d+)\) ", b)) and int(m.group(1)) in skip)
    )


def _analyzer_plan(df, what: str) -> str:
    """The plan runs the analyzer once and in the JVM: no Python eval node,
    and ``regexp_extract_all`` evaluated exactly once (a plan served from a
    cache of the same rows counts the cache's executed plan)."""
    plan = _plan(df)
    assert "EvalPython" not in plan, what
    assert _without_initial_plans(plan).count("regexp_extract_all(") == 1, what
    return plan


def test_analyzer_runs_once_in_the_jvm(spark):
    """Postings, doc lengths, the index build's stage A, the sparse route
    and the highlighter each evaluate the analyzer once per row without a
    Python worker, and stage A keeps its one shard exchange (counting tf
    inside the row adds none)."""
    from neural_search_spark.corpus import corpus_from_documents
    from neural_search_spark.index.builder import _shard_sorted_postings
    from neural_search_spark.search.bm25 import BM25Engine
    from neural_search_spark.search.ops import highlight_best_fragment
    from neural_search_spark.search.sparse import sparse_features_from_tf
    from neural_search_spark.session import local_table

    corpus = corpus_from_documents(spark, SF_DIR)
    eng = BM25Engine(spark, corpus)
    hits = local_table(spark, [(1, 2.5), (7, 1.0)], "docID long, score double")
    _analyzer_plan(eng.postings, "postings")
    _analyzer_plan(eng.doclens, "doclens")
    _analyzer_plan(sparse_features_from_tf(corpus), "sparse_features_from_tf")
    _analyzer_plan(highlight_best_fragment(hits, corpus, ["data", "import"]), "highlight")
    stage_a = _analyzer_plan(_shard_sorted_postings(corpus, 8, "content", "docID"), "stage A")
    assert stage_a.count(") Exchange") == 1


def test_one_spark_analyzer_in_the_library():
    """Static guard: no library module outside ``analysis/tokenizer.py``
    spells the Spark token regexp (the DuckDB oracle SQL interpolates
    ``SQL_TOKEN_PATTERN``, which this does not match), no Spark SQL string
    tokenizes, and the tokenizer defines no pandas UDF."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "neural_search_spark"
    hits = set()
    for p in root.rglob("*.py"):
        rel, src = p.relative_to(root).as_posix(), p.read_text()
        if rel == "analysis/tokenizer.py":
            assert "pandas_udf" not in src
            continue
        if rel == "analysis/__init__.py":  # the package re-export
            continue
        for line in src.splitlines():
            if (
                re.search(r"\bTOKEN_PATTERN\b", line)
                or "[a-z0-9_]+" in line
                or ("expr(" in line and "regexp_extract_all" in line)
            ):
                hits.add((rel, line.strip()))
    assert hits == set()


def test_one_phrase_scorer_in_the_library():
    """Static guard: only ``search/bm25.py`` spells the Spark tfNorm
    expression or calls ``idf_col`` (``search/wand.py``'s numpy kernels
    are exempt), and ``index/positions.py`` builds its position chain in
    one place."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "neural_search_spark"
    hits = set()
    for p in root.rglob("*.py"):
        rel, src = p.relative_to(root).as_posix(), p.read_text()
        if rel in ("search/bm25.py", "search/wand.py"):
            continue
        for line in src.splitlines():
            if "1.0 - b" in line or "idf_col" in line:
                hits.add((rel, line.strip()))
    assert hits == set()
    pos = (root / "index" / "positions.py").read_text()
    assert pos.count("F.array_intersect(") == 1
    assert pos.count("F.first(F.when(") == 1


def test_one_doc_length_source_in_the_library():
    """Static guard: only ``search/bm25.py`` quantizes a doc length or
    reads one off the analyzer (``doc_term_freqs``/``doc_lengths`` feed the
    engine, its field artifacts, ``build_index`` and ``update_index``), and
    the index builder has no per-doc ``groupBy`` of its own over the raw
    rows. Plain token counts for other ends (dedup keepers, packing,
    stream analytics) are not BM25 doc lengths and are not checked."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "neural_search_spark"
    hits = set()
    for p in root.rglob("*.py"):
        rel, src = p.relative_to(root).as_posix(), p.read_text()
        if rel == "search/bm25.py":
            continue
        for line in src.splitlines():
            if "quantize_length_col(" in line or '_tf.dl"' in line or '.alias("dlq")' in line:
                hits.add((rel, line.strip()))
    assert hits == set()
    builder = (root / "index" / "builder.py").read_text()
    assert 'groupBy("docID", "shard")' not in builder
    assert 'F.first("dl")' not in builder
    bm25 = (root / "search" / "bm25.py").read_text()
    assert "def quantized_doc_lengths" not in bm25
    assert bm25.count("quantize_length_col(") == 3  # its definition and two calls


def test_one_ann_pipeline_in_the_library():
    """Static guard: every ANN stage is written once, in ``pipeline/ann.py``
    (probe, int8 view, codebook load, coarse window plus exact rescore),
    and the dense clause's ``knn_method`` (``search/neural.py``) only calls
    it: it collects nothing itself and spells no int8 round trip."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    lib = root / "neural_search_spark"
    neural = (lib / "search" / "neural.py").read_text()
    ann = (lib / "pipeline" / "ann.py").read_text()
    assert ".collect(" not in neural and ".isin(" not in neural
    for spelling in ("quantization_stats(", "quantize_int8(", '"qvec"', "math.floor(", "* scale"):
        assert spelling not in neural, spelling
    assert ann.count("quantization_stats(") == 2  # its definition and one call
    assert ann.count('F.col("qvec")') == 1  # one dequantize
    assert ann.count('_cosine("centroid"') == 1  # one probe
    assert ann.count('F.col("list_id").isin(') == 1  # one literal probe predicate
    assert ann.count('"semi"') == 1  # one exact-rescore semi-join
    # four driver collects: the quantization interval, the probe ids, the
    # codebook rows and the batch PQ query vectors
    assert ann.count(".collect()") == 4
    assert ann.count("codebooks.collect()") == 1
    # the (m, code) -> centroid table is built in one place, entry included
    srcs = [p.read_text() for p in lib.rglob("*.py")] + [(root / "__spark_entry__.py").read_text()]
    assert sum(src.count('int(r["code"])') for src in srcs) == 1


@pytest.fixture(scope="module")
def cached_engine(spark):
    from neural_search_spark.corpus import corpus_from_documents
    from neural_search_spark.search.bm25 import BM25Engine

    eng = BM25Engine(spark, corpus_from_documents(spark, SF_DIR)).cache()
    eng.postings.count()
    eng.stats  # noqa: B018 - collects the corpus stats
    return eng


def _query_time_exchanges(df) -> list[str]:
    from tools.plan_audit import query_time_nodes

    return [n for _, n in query_time_nodes(_plan(df)) if n.startswith("Exchange")]


def test_match_clause_runs_without_a_shuffle(cached_engine):
    """A cached engine's postings are hash-partitioned by docID, so a
    ``match`` clause reads df and the quantized doc length off rows that
    its own partition holds: at query time the plan is a filter on the
    cached postings and one aggregation, with no exchange, no broadcast
    and no join. A ``multi_match`` field's postings plan the same way, and
    the batch scorer's ``(qid, docID)`` aggregation over its broadcast
    query table needs no exchange either."""
    from neural_search_spark.search.bm25 import bm25_batch_scores, bm25_clause_scores
    from tools.plan_audit import query_time_nodes

    nodes = [n for _, n in query_time_nodes(_plan(cached_engine.match("table value spark")))]
    assert not any(n.startswith("Exchange") for n in nodes), nodes
    assert not any("BroadcastExchange" in n or "Join" in n for n in nodes), nodes
    assert any(n.startswith("InMemoryTableScan") for n in nodes), nodes
    path_postings, _, path_stats = cached_engine.field_artifacts("path")
    path_postings.count()  # a cache not yet built plans with unknown partitioning
    assert _query_time_exchanges(bm25_clause_scores(path_postings, path_stats, ["src", "main"])) == []
    batch = bm25_batch_scores(
        cached_engine.spark, cached_engine.postings, cached_engine.stats,
        {1: ["table", "value"], 2: ["spark", "value"]},
    )
    assert _query_time_exchanges(batch) == []


def _warm_jobs(spark, group: str, request) -> list[int]:
    """The ids of the Spark jobs that a second ``request()`` runs (the
    first may compile code or build caches); both return the same rows."""
    sc = spark.sparkContext
    want = request()
    sc.setJobGroup(group, group)
    try:
        assert request() == want
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_lexical_hybrid_runs_at_most_two_jobs(spark, cached_engine):
    """A 2-clause lexical ``hybrid_search``, called and collected, runs at
    most 2 Spark jobs: one collect of the clauses' depth cuts (each clause
    scores its cached partitions in place, no shuffle stage), then the
    collect of the local result table."""
    from neural_search_spark.search.hybrid import hybrid_search

    def request():
        clauses = [cached_engine.match(t) for t in ("table value spark", "join merge hash window")]
        return hybrid_search(clauses, "min_max", "arithmetic_mean", k=10, depth=50).collect()

    jobs = _warm_jobs(spark, "lexical-hybrid-guard", request)
    assert 1 <= len(jobs) <= 2, jobs


def test_cached_wand_topk_runs_one_job(spark, entry):
    """A warm WAND top-k over the cached index is one Spark job: idf comes
    from the ``gdf`` on its postings rows (no df collect), and the
    shard-partitioned postings and doclens cogroup in place (no shuffle
    stage)."""
    idx = entry._index(spark, SF_DIR)
    jobs = _warm_jobs(spark, "wand-guard", lambda: idx.match_topk(entry.Q_MATCH, k=10).collect())
    assert len(jobs) == 1, jobs


def test_positional_phrase_topk_runs_at_most_two_jobs(spark, entry):
    """A positional ``match_phrase_topk`` reads ``dlq`` and ``ndoc`` off its
    position rows: the per-doc pivot's shuffle stage and the top-k, at
    most 2 Spark jobs, and no broadcast (no doclens join, no df table)."""
    pidx = entry._pos_index(spark, SF_DIR)
    jobs = _warm_jobs(spark, "phrase-guard", lambda: pidx.match_phrase_topk(entry.Q_PHRASE, k=10).collect())
    assert 1 <= len(jobs) <= 2, jobs
    assert "BroadcastExchange" not in _plan(pidx.match_phrase_topk(entry.Q_PHRASE, k=10))


def test_query_time_nodes_skip_a_cache_built_over_a_cache(cached_engine):
    """A clause over a cache of the cached postings, collected: the
    formatted plan prints the inner cache's adaptive sections at a
    shallower column than its ``InMemoryRelation`` and tags query stages
    with ``, Statistics(...)``. The query-time nodes are the outer final
    plan's: its stages and aggregations, and no Exchange (the rows are
    already placed by docID), none of the inner builds' nodes."""
    from neural_search_spark.search.bm25 import bm25_clause_scores, topk
    from tools.plan_audit import query_time_nodes

    postings = cached_engine.postings.repartition(8, "docID").cache()
    try:
        clause = bm25_clause_scores(postings, cached_engine.stats, ["table", "value", "spark"])
        df = topk(clause, 10)
        df.collect()
        nodes = [n for _, n in query_time_nodes(_plan(df))]
        assert not any(n.startswith("Exchange") for n in nodes), nodes
        assert not any(n.startswith(("Window", "Generate", "Scan parquet")) for n in nodes), nodes
        assert "TableCacheQueryStage" in nodes and "TakeOrderedAndProject" in nodes, nodes
    finally:
        postings.unpersist()

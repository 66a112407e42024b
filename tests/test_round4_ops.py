"""Round-4 operators: MLT, simple_query_string, regexp, aggregation family
under hybrid, entropy quality, OOV rate, exact-substring dedup spans."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from neural_search_spark.search.bm25 import (
    BM25Engine,
    more_like_this_scores,
    regexp_query_scores,
)
from neural_search_spark.search.spec import parse_simple_query_string


def _engine(spark, tiny_corpus):
    return BM25Engine(spark, tiny_corpus).cache()


# -- simple_query_string parser ---------------------------------------------


def test_sqs_parser_atoms():
    p = parse_simple_query_string('table value -slow "part filter"')
    assert p["should"] == [
        {"kind": "match", "terms": ["table"]},
        {"kind": "match", "terms": ["value"]},
        {"kind": "phrase", "terms": ["part", "filter"]},
    ]
    assert p["must_not"] == [["slow"]]


def test_sqs_parser_negated_phrase_and_junk():
    p = parse_simple_query_string('-"bad phrase" ok -- !!')
    assert p["must_not"] == [["bad", "phrase"]]
    assert p["should"] == [{"kind": "match", "terms": ["ok"]}]


def test_sqs_parser_never_throws_on_empty():
    assert parse_simple_query_string("") == {"should": [], "must_not": []}
    assert parse_simple_query_string('""  -') == {"should": [], "must_not": []}


# -- more_like_this -----------------------------------------------------------


def test_mlt_excludes_seed_and_is_deterministic(spark, tiny_corpus):
    eng = _engine(spark, tiny_corpus)
    seed = tiny_corpus.select("docID").orderBy("docID").first()["docID"]
    a = more_like_this_scores(eng, seed, max_query_terms=5, min_term_freq=1, min_doc_freq=2)
    rows = a.orderBy(F.col("score").desc(), "docID").limit(10).collect()
    assert rows, "MLT must find similar docs in a topically-uniform corpus"
    assert all(r["docID"] != seed for r in rows)
    b = more_like_this_scores(eng, seed, max_query_terms=5, min_term_freq=1, min_doc_freq=2)
    assert b.orderBy(F.col("score").desc(), "docID").limit(10).collect() == rows


def test_mlt_empty_when_no_qualifying_terms(spark, tiny_corpus):
    eng = _engine(spark, tiny_corpus)
    seed = tiny_corpus.select("docID").orderBy("docID").first()["docID"]
    # min_term_freq far above any real tf → no interesting terms → no hits
    out = more_like_this_scores(eng, seed, min_term_freq=10_000)
    assert out.count() == 0


# -- regexp query -------------------------------------------------------------


def test_regexp_matches_term_dict_expansion(spark, tiny_corpus):
    eng = _engine(spark, tiny_corpus)
    out = regexp_query_scores(eng, "^def$").collect()
    manual = (
        tiny_corpus.where(F.col("content").rlike(r"(^|[^a-z0-9_])def([^a-z0-9_]|$)"))
        .select("docID")
        .collect()
    )
    assert {r["docID"] for r in out} == {r["docID"] for r in manual}
    assert all(r["score"] == 1.0 for r in out)


# -- entropy / OOV / substring spans -----------------------------------------


def test_entropy_stats_values(spark):
    from neural_search_spark.pipeline.textstats import entropy_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a"),  # uniform single token: entropy 0
            (2, "a b c d a b c d e f g h"),  # mixed
            (3, ""),  # no tokens: absent
        ],
        "docID long, content string",
    )
    rows = {r["docID"]: r for r in entropy_stats(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["entropy"] == 0.0 and rows[1]["keep"] is False
    r2 = rows[2]
    # 8 distinct over 12 tokens: H = log2(12) - (4*2*log2(2))/12
    expected = math.log2(12) - (8 * 1.0) / 12
    assert abs(r2["entropy"] - round(expected, 4)) < 1e-9
    assert r2["n_tokens"] == 12 and r2["distinct_terms"] == 8
    assert r2["keep"] is True


def test_oov_rates_against_vocab(spark):
    from neural_search_spark.pipeline.textstats import oov_rates

    docs = spark.createDataFrame(
        [(1, "known known strange"), (2, "known"), (3, "alien words only")],
        "docID long, content string",
    )
    vocab = spark.createDataFrame([("known",), ("words",)], "term string")
    rows = {r["docID"]: r for r in oov_rates(docs, vocab).collect()}
    assert rows[1]["n_oov"] == 1 and rows[1]["oov_rate"] == round(1 / 3, 4)
    assert rows[2]["n_oov"] == 0 and rows[2]["oov_rate"] == 0.0
    assert rows[3]["n_oov"] == 2 and rows[3]["oov_rate"] == round(2 / 3, 4)


def test_substring_dup_stats_flags_shared_spans(spark):
    from neural_search_spark.pipeline.dedup import substring_dup_stats

    shared = "one two three four"  # the 4-gram both docs contain
    df = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma"),
            (2, "prefix words " + shared),
            (3, "totally unrelated text body here now"),
            (4, "tiny"),  # shorter than n → zero grams
        ],
        "docID long, content string",
    )
    rows = {r["docID"]: r for r in substring_dup_stats(df, n=4).collect()}
    assert rows[1]["n_dup_grams"] == 1 and rows[2]["n_dup_grams"] == 1
    assert rows[3]["n_dup_grams"] == 0 and rows[3]["dup_fraction"] == 0.0
    assert rows[4]["n_grams"] == 0 and rows[4]["dup_fraction"] == 0.0
    assert rows[1]["dup_fraction"] == round(1 / rows[1]["n_grams"], 4)


# -- aggregation family shapes ------------------------------------------------


def test_top_hits_respects_per_bucket_cut(spark, tiny_corpus):
    from pyspark.sql import Window

    eng = _engine(spark, tiny_corpus)
    scored = eng.match("def class import")
    hits = scored.join(tiny_corpus.select("docID", "lang"), "docID")
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), F.col("docID").asc())
    out = hits.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 2)
    per = out.groupBy("lang").count().collect()
    assert per and all(r["count"] <= 2 for r in per)


def test_significant_terms_jlh_positive_only(spark, tiny_corpus):
    """JLH buckets must all be over-represented (fgPct > bgPct)."""
    from pyspark.sql import Window

    eng = _engine(spark, tiny_corpus)
    hits = eng.match("def class import").join(
        tiny_corpus.select("docID", "lang"), "docID"
    )
    fg = (
        hits.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("fgc"))
        .withColumn("fgt", F.sum("fgc").over(Window.partitionBy()))
    )
    bg = tiny_corpus.groupBy("lang").agg(F.count(F.lit(1)).alias("bgc"))
    n = tiny_corpus.count()
    j = fg.join(bg, "lang")
    fgp = F.col("fgc") / F.col("fgt")
    bgp = F.col("bgc") / F.lit(float(n))
    sig = j.where(fgp > bgp).select(
        "lang", ((fgp - bgp) * (fgp / bgp)).alias("score")
    )
    assert all(r["score"] > 0 for r in sig.collect())


# -- rank_feature / function_score / keywords ---------------------------------


def test_rank_feature_saturation_bounds(spark):
    from neural_search_spark.search.bm25 import rank_feature_saturation

    feats = spark.createDataFrame(
        [(1, 100), (2, 0), (3, 10_000_000)], "docID long, v long"
    )
    rows = {r["docID"]: r["score"] for r in rank_feature_saturation(feats, "v", pivot=100.0).collect()}
    assert 2 not in rows  # non-positive feature never matches
    assert abs(rows[1] - 0.5) < 1e-12  # v == pivot → S = 0.5
    assert 0.99 < rows[3] < 1.0  # saturates below boost


def test_function_score_multiplies_log1p(spark):
    from neural_search_spark.search.bm25 import function_score_field_value

    scored = spark.createDataFrame([(1, 2.0), (2, 2.0)], "docID long, score double")
    feats = spark.createDataFrame([(1, 1000)], "docID long, v long")
    rows = {r["docID"]: r["score"] for r in function_score_field_value(scored, feats, "v", factor=0.001).collect()}
    assert abs(rows[1] - 2.0 * math.log1p(1.0)) < 1e-12
    assert rows[2] == 0.0  # missing feature → multiplier ln(1) = 0


def test_doc_keywords_rank_and_cut(spark):
    from neural_search_spark.pipeline.textstats import doc_keywords

    df = spark.createDataFrame(
        [
            (1, "rare rare rare common shared shared"),
            (2, "common common other other other words"),
        ],
        "docID long, content string",
    )
    out = doc_keywords(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["docID"], []).append((r["rank"], r["term"]))
    assert len(by_doc[1]) == 2 and len(by_doc[2]) == 2
    # doc 1: 'rare' tf=3 beats 'shared' tf=2; 'common' (df=2) loses to both
    assert by_doc[1][0] == (1, "rare") and by_doc[1][1] == (2, "shared")
    assert by_doc[2][0] == (1, "other")


# -- term suggester / retention / length buckets ------------------------------


def test_term_suggest_orders_and_excludes_input(spark, tiny_corpus):
    from neural_search_spark.search.bm25 import term_suggest

    eng = _engine(spark, tiny_corpus)
    rows = term_suggest(eng, "clas", max_edits=2, size=5).collect()
    assert rows, "corpus contains 'class' within 2 edits of 'clas'"
    assert all(r["term"] != "clas" for r in rows)
    assert [r["distance"] for r in rows] == sorted(r["distance"] for r in rows)
    assert "class" in {r["term"] for r in rows}


def test_retention_cohort_counts(spark):
    import datetime as dt

    from neural_search_spark.pipeline.events import retention

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows_in = [
        (1, t0, "a"), (1, t0 + dt.timedelta(days=1), "b"),
        (2, t0, "a"),
        (3, t0 + dt.timedelta(days=1), "a"), (3, t0 + dt.timedelta(days=3), "b"),
    ]
    ev = spark.createDataFrame(rows_in, "user_id long, ts timestamp, event_type string")
    out = {(str(r["cohort"]), r["d"]): r["users"] for r in retention(ev, 3).collect()}
    assert out[("2024-01-01", 0)] == 2  # users 1,2 in day-0 cohort
    assert out[("2024-01-01", 1)] == 1  # only user 1 came back next day
    assert out[("2024-01-02", 0)] == 1 and out[("2024-01-02", 2)] == 1  # user 3


def test_length_buckets_power_of_two(spark):
    from neural_search_spark.pipeline.training import length_buckets

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, "x"), (4, "")],
        "docID long, content string",
    )
    rows = {r["bucket"]: r for r in length_buckets(df).collect()}
    assert set(rows) == {1, 4}  # 3→4, 4→4, 1→1; empty doc excluded
    assert rows[4]["n_docs"] == 2 and rows[4]["total_tokens"] == 7
    assert rows[4]["pad_waste"] == 1  # the 3-token doc pads by 1
    assert rows[1]["pad_waste"] == 0


def test_contrastive_pairs_labels_and_exclusion(spark):
    from neural_search_spark.pipeline.training import contrastive_pairs

    docs = spark.createDataFrame([(i,) for i in range(10)], "docID long")
    positives = spark.createDataFrame([(0, 1), (3, 7)], "docA long, docB long")
    out = contrastive_pairs(docs, positives).collect()
    pos = {(r["idA"], r["idB"]) for r in out if r["label"] == 1}
    neg = {(r["idA"], r["idB"]) for r in out if r["label"] == 0}
    assert pos == {(0, 1), (3, 7)}
    assert len(neg) == 9  # N-1 adjacent pairs before exclusion overlap
    assert not pos & neg  # positives never appear as negatives
    assert all(a < b for a, b in neg)
    # deterministic across invocations
    again = contrastive_pairs(docs, positives).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


# -- spec-parser dispatch for the round-4 clause kinds -------------------------


def test_spec_new_clause_kinds(spark, tiny_corpus):
    from neural_search_spark.search.spec import _score_clause

    eng = _engine(spark, tiny_corpus)
    feats = tiny_corpus.select("docID", F.length("content").alias("nch"))

    out = _score_clause(eng, {"regexp": {"value": "^def$"}}, None)
    assert out.count() > 0 and out.columns == ["docID", "score"]

    out = _score_clause(
        eng, {"simple_query_string": {"query": 'def class -zzzz "def main"'}}, None
    )
    assert out.columns == ["docID", "score"] and out.count() > 0

    out = _score_clause(
        eng,
        {"more_like_this": {"like_doc": 0, "min_term_freq": 1, "min_doc_freq": 2}},
        None,
    )
    assert out.count() > 0 and all(r["docID"] != 0 for r in out.collect())

    out = _score_clause(
        eng, {"rank_feature": {"features": feats, "field": "nch", "pivot": 50.0}}, None
    )
    assert out.count() > 0

    out = _score_clause(
        eng,
        {
            "function_score": {
                "query": {"match": {"query": "def class"}},
                "features": feats,
                "field": "nch",
                "factor": 0.01,
            }
        },
        None,
    )
    assert out.count() > 0


def test_spec_simple_query_string_filter_pushdown(spark, tiny_corpus):
    from neural_search_spark.search.spec import _score_clause

    eng = _engine(spark, tiny_corpus)
    lang = tiny_corpus.select("lang").first()["lang"]
    out = _score_clause(
        eng, {"simple_query_string": {"query": "def class"}}, f"lang = '{lang}'"
    )
    allowed = {r["docID"] for r in tiny_corpus.where(F.col("lang") == lang).select("docID").collect()}
    assert {r["docID"] for r in out.collect()} <= allowed


def test_token_ids_vocab_ranks_and_unk(spark):
    from neural_search_spark.pipeline.textstats import vocab_topk
    from neural_search_spark.pipeline.training import token_ids

    docs = spark.createDataFrame(
        [(1, "aa aa aa bb bb zz"), (2, "aa bb cc")],
        "docID long, content string",
    )
    vocab = vocab_topk(docs, k=2, min_count=1)  # {aa: id 0, bb: id 1}
    rows = token_ids(docs, vocab).collect()
    by_pos = {(r["docID"], r["pos"]): r["token_id"] for r in rows}
    assert by_pos[(1, 1)] == 0 and by_pos[(1, 4)] == 1
    assert by_pos[(1, 6)] == -1  # zz OOV
    assert by_pos[(2, 3)] == -1  # cc cut from the top-2 vocab
    assert len(rows) == 9


def test_match_phrase_prefix_matches_expansion(spark, tiny_corpus, tmp_path):
    from neural_search_spark.index.positions import (
        MAX_EXPANSIONS,
        PositionalIndex,
        build_positions,
    )

    eng = _engine(spark, tiny_corpus)
    d = str(tmp_path / "pos")
    build_positions(spark, tiny_corpus, d)
    pidx = PositionalIndex(spark, d, eng.doclens, eng.stats)
    # "ident0 ident0": the prefix expands to the phrase's own fixed term,
    # so the prefix slot and the fixed slot pivot from the same rows
    for fixed, prefix in [("ident0", "pub"), ("ident0", "ident0")]:
        out = pidx.match_phrase_prefix(f"{fixed} {prefix}", eng.term_dict)
        got = {r["docID"] for r in out.collect()}
        # membership must equal the union of full-phrase matches over the
        # prefix's actual expansions in the dictionary
        expansions = [
            r["term"]
            for r in eng.term_dict.where(F.col("term").startswith(prefix))
            .orderBy("term").limit(MAX_EXPANSIONS).collect()
        ]
        want = set()
        for t in expansions:
            want |= {r["docID"] for r in eng.match_phrase(f"{fixed} {t}").collect()}
        assert got == want and got, ("phrase-prefix membership = union over expansions", prefix)


def test_unigram_ppl_values(spark):
    from neural_search_spark.pipeline.textstats import unigram_ppl

    df = spark.createDataFrame(
        [(1, "aa aa aa"), (2, "bb")], "docID long, content string"
    )
    rows = {r["docID"]: r for r in unigram_ppl(df).collect()}
    # corpus: aa x3, bb x1 → P(aa)=3/4, P(bb)=1/4
    assert rows[1]["avg_nll"] == round(-math.log2(3 / 4), 4)
    assert rows[2]["avg_nll"] == 2.0 and rows[2]["ppl"] == 4.0
    assert rows[1]["n_tokens"] == 3


def test_mix_report_fractions_sum_to_one(spark):
    from neural_search_spark.pipeline.training import mix_report

    df = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1), "python" if i % 2 else "java") for i in range(40)],
        "docID long, content string, lang string",
    )
    rows = mix_report(df).collect()
    assert abs(sum(r["token_frac"] for r in rows) - 1.0) < 1e-6
    assert sum(r["n_docs"] for r in rows) == 40
    assert {r["split"] for r in rows} <= {"train", "val", "test"}

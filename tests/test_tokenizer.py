from collections import Counter

import duckdb

from neural_search_spark.analysis.tokenizer import (
    SQL_TOKEN_PATTERN,
    tokenize_text,
)

SAMPLES = [
    "Hello world",
    "Hi to this place",
    "We would like to welcome everyone",
    "def foo_bar(x):\n    return x + 1",
    "public void Main() { int n9 = 42; }",
    "",
    "   \n\t  ",
    "UPPER lower MiXeD_case_42",
]

#: term_freqs edge cases: runs at the start and the end of the sorted
#: tokens, one run spanning the whole doc, all-distinct tokens, one token,
#: and an empty or null doc
TF_CASES = SAMPLES + [
    "b a b a c a",
    "x y y",
    "z z z",
    "c b a",
    "one",
    None,
]


def _duckdb_tokens(s):
    con = duckdb.connect()
    return con.execute(
        "SELECT regexp_extract_all(lower(?), ?)", [s, SQL_TOKEN_PATTERN]
    ).fetchone()[0]


def test_python_vs_duckdb_tokenizer():
    for s in SAMPLES:
        assert _duckdb_tokens(s) == tokenize_text(s), s


def test_spark_analyzer_tokens(spark):
    """The Spark analyzer, the Python oracle and DuckDB agree on every
    sample; null text analyzes to no tokens (the oracle SQL never sees a
    null, DuckDB would return NULL)."""
    from neural_search_spark.analysis.tokenizer import analyzed_tokens

    texts = SAMPLES + [None]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, s string")
    rows = df.select("i", analyzed_tokens("s").alias("toks")).orderBy("i").collect()
    assert [r["i"] for r in rows] == list(range(len(texts)))
    for r in rows:
        s = texts[r["i"]]
        assert list(r["toks"]) == tokenize_text(s), s
        if s is not None:
            assert list(r["toks"]) == _duckdb_tokens(s), s
    assert tokenize_text(None) == []


def test_term_freq_rows(spark):
    """``term_freqs`` equals ``Counter(tokenize_text(s))`` with ``dl`` the
    token count, for every edge case (an empty or null doc: empty map,
    ``dl`` 0); ``term_freq_rows`` explodes it to (docID, term, tf)."""
    from neural_search_spark.analysis.tokenizer import term_freq_rows, term_freqs

    df = spark.createDataFrame(list(enumerate(TF_CASES)), "docID long, content string")
    got = {
        r["docID"]: (dict(r["t"]["tf_map"]), r["t"]["dl"])
        for r in df.select("docID", term_freqs("content").alias("t")).collect()
    }
    for i, s in enumerate(TF_CASES):
        toks = tokenize_text(s)
        assert got[i] == (dict(Counter(toks)), len(toks)), s

    rows = {
        (r["docID"], r["term"]): r["tf"]
        for r in term_freq_rows(df, "content", "docID").collect()
    }
    assert rows == {
        (i, t): n for i, s in enumerate(TF_CASES) for t, n in Counter(tokenize_text(s)).items()
    }
    assert {t: n for (i, t), n in rows.items() if i == TF_CASES.index("b a b a c a")} == {
        "a": 3,
        "b": 2,
        "c": 1,
    }


def test_text_column_name_is_never_pasted_into_sql(spark, tmp_path):
    """A text column whose name is not a bare SQL identifier works: the
    analyzer takes a Column, where SQL text built from the name would read
    ``lower(body-text)`` as a subtraction and fail to resolve."""
    from neural_search_spark.index.positions import build_positions
    from neural_search_spark.pipeline.training import packing_efficiency

    df = spark.createDataFrame(
        [(0, "a b A"), (1, "c"), (2, "")], "docID long, `body-text` string"
    )
    r = packing_efficiency(df, context_len=2, text_col="body-text").collect()[0]
    assert (r["n_docs"], r["total_tokens"], r["slots_padded"], r["slots_packed"]) == (2, 4, 3, 2)

    out = str(tmp_path / "positions")
    build_positions(spark, df, out, text_col="body-text")
    got = {
        (r["docID"], r["term"]): list(r["positions"]) for r in spark.read.parquet(out).collect()
    }
    assert got == {(0, "a"): [0, 2], (0, "b"): [1], (1, "c"): [0]}

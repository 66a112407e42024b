"""Analyzer: lowercase + word tokenization, shared by engine, oracle, and SQL gate.

The reference delegates analysis to Lucene's ``standard`` analyzer (UAX#29
word break + lowercase); the chunkers default to the same analyzer
(reference ``processor/chunker/FixedTokenLengthChunker.java:52,158-169``).
For ASCII code/text — this engine's corpus per BASELINE.json input_hint —
UAX#29 word break reduces to "maximal runs of letters/digits, with
underscore joining runs" (ExtendNumLet, UAX#29 WB13), i.e. ``foo_bar`` is a
single token, exactly like Lucene's StandardTokenizer. We therefore define
the analyzer as:

    lowercase(coalesce(text, ''))  →  all matches of  [a-z0-9_]+

One analyzer, written once for each engine; the three must agree
bit-for-bit:

- Spark: :func:`analyzed_tokens` and :func:`term_freqs`, Column
  expressions that run in the JVM (no Python worker). Every Spark path
  that tokenizes text — postings, doc lengths, the index build, positions,
  highlighting, the training and dedup pipelines — derives from them, so
  no other module spells the Spark token regexp.
- DuckDB oracle SQL: ``regexp_extract_all(lower(text), SQL_TOKEN_PATTERN)``.
- Python: :func:`tokenize_text` (the test oracle) and :data:`TOKEN_RE`,
  the one compiled pattern for the pandas kernels that need
  ``finditer``/``fullmatch``.

Null text analyzes to no tokens in Spark and in Python. Every Spark site
passes the text as a Column (or a name resolved by ``F.col``), never
pasted into SQL text, so any column name works.

Non-ASCII input falls outside the parity contract (documented deviation
from full UAX#29; the reference test corpora are ASCII,
``HybridQueryIT.java:62-64``).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

#: the single source of truth for tokenization
TOKEN_PATTERN = r"[a-z0-9_]+"
#: same pattern, spelled for DuckDB's RE2 (identical here)
SQL_TOKEN_PATTERN = "[a-z0-9_]+"

#: compiled once, for Python code that needs ``finditer``/``fullmatch``
TOKEN_RE = re.compile(TOKEN_PATTERN)


def tokenize_text(text: str | None) -> list[str]:
    """Pure-Python analyzer: the test oracle, query-text analysis and the
    pandas kernels."""
    return TOKEN_RE.findall((text or "").lower())


def analyzed_tokens(col: Column | str) -> Column:
    """text → ``array<string>`` of analyzed tokens, in text order."""
    return F.regexp_extract_all(
        F.lower(F.coalesce(col, F.lit(""))), F.lit(TOKEN_PATTERN), F.lit(0)
    )


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once, bound as the lambda
    variable of a one-element ``transform``: an expression named inside a
    lambda body is evaluated again on every call of the lambda."""
    return F.element_at(F.transform(F.array(value), body), 1)


def term_freqs(col: Column | str) -> Column:
    """text → ``struct<tf_map: map<string,int>, dl: int>``: each distinct
    token's count, and the doc length in tokens.

    Computed inside the row, so it adds no exchange: sort the tokens, find
    where each run of equal tokens starts and ends, and take a run's tf as
    its length. Emitting one row per distinct (doc, term) instead of one
    per token shrinks any downstream postings shuffle by the mean tf.
    ``sort_array`` is the built-in ordering (``array_sort`` plans an
    interpreted comparator lambda). A run edge is where a token differs
    from its neighbour in a copy of the tokens shifted by one.

    Apply a pandas function to the result through ``mapInPandas``, not a
    scalar pandas UDF: Spark 4.1 can leave a scalar Python UDF over these
    lambda expressions unextracted, and the query fails (see
    :func:`neural_search_spark.search.sparse.prune_features`)."""

    def runs(s: Column) -> Column:  # the doc's tokens, sorted
        n = F.size(s)
        null = F.array(F.lit(None).cast("string"))
        before = F.slice(F.concat(null, s), 1, n)
        after = F.concat(F.slice(s, 2, n), null)

        def edges(neighbour: Column) -> Column:
            """1-based positions whose token differs from its neighbour
            (``zip_with`` pads with nulls, so an empty doc has none)."""
            differs = F.zip_with(s, neighbour, lambda x, y: ~x.eqNullSafe(y))
            return F.filter(
                F.transform(differs, lambda d, j: F.when(d, j + 1)), lambda i: i.isNotNull()
            )

        tf_map = F.map_from_entries(
            F.zip_with(
                edges(before), edges(after), lambda b, e: F.struct(F.element_at(s, b), e - b + 1)
            )
        )
        return F.struct(tf_map.alias("tf_map"), n.alias("dl"))

    return _let(F.sort_array(analyzed_tokens(col)), runs)


def explode_term_freqs(df: DataFrame, *keep: Column | str) -> DataFrame:
    """Rows carrying a :func:`term_freqs` struct in column ``_tf`` → one
    row per (``keep``..., term, tf), exploded in the JVM.

    ``explode_outer`` plus a null-term filter, not ``explode``: for an
    inner explode Catalyst infers ``size(tf_map) > 0`` and pushes it below
    the projection that computes ``tf_map``, which runs the analyzer a
    second time per doc. An empty doc yields one null-term row, dropped
    here."""
    return df.select(
        *keep, F.explode_outer("_tf.tf_map").alias("term", "tf")
    ).where(F.col("term").isNotNull())


def term_freq_rows(df: DataFrame, text_col: Column | str, id_col: str) -> DataFrame:
    """corpus → long-form postings rows ``(docID, term, tf)``.

    This is the engine's (term, docID, tf) emission step
    (BASELINE.json north_star); only distinct (doc, term) pairs hit any
    downstream shuffle.
    """
    tfs = df.select(F.col(id_col).alias("docID"), term_freqs(text_col).alias("_tf"))
    return explode_term_freqs(tfs, "docID")

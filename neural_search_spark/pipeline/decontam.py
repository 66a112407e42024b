"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The standard LLM pretraining hygiene step (the GPT-3 appendix-C /
PaLM-style 8-to-13-gram overlap filter): any training document containing
an exact word n-gram that also appears in a held-out benchmark document is
flagged (and usually dropped or scrubbed) so eval numbers are not
memorization artifacts.

Design: the benchmark side is eval-set-sized (thousands of documents).
Its distinct n-grams are collected once into one Python set on the
driver and broadcast; the corpus side is one Arrow-batched
``mapInPandas`` pass that intersects each document's n-grams with that
set in-process — no explode, no shuffle, no join, and the corpus is never
shuffled. There is no relational fallback: the driver must hold the whole
set, about (benchmark tokens) x (n-gram string bytes + per-entry set
overhead) — for 10^4 benchmark docs of 10^3 tokens at n=8 that is 10^7
grams, roughly 1-2 GB of Python objects. A benchmark beyond that needs an
n-gram hash filter or a semi-join instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from neural_search_spark.analysis.tokenizer import analyzed_tokens, tokenize_text

DECONTAM_N = 8  # word n-gram width (GPT-3 used 13; 8 suits short docs)


def _distinct_ngrams(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(docID, ngram) — each document's DISTINCT word n-grams (analyzed
    tokens, space-joined). The ``size >= n`` guard matters: Spark's
    ``sequence(1, 0)`` counts down."""
    toks = analyzed_tokens(text_col)
    base = df.select(F.col(id_col).alias("docID"), toks.alias("_toks"))
    grams = F.when(
        F.size("_toks") >= n,
        F.expr(
            f"transform(sequence(1, size(_toks) - {n - 1}),"
            f" i -> array_join(slice(_toks, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(
        "docID", F.explode(F.array_distinct(grams)).alias("ngram")
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = DECONTAM_N,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """(docID, n_hit_ngrams) for every corpus doc sharing at least one
    word ``n``-gram with any benchmark doc; ``n_hit_ngrams`` counts the
    doc's distinct contaminated n-grams (the drop/scrub decision input).
    Docs with no overlap are absent (the clean set is the anti-join).
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    # The benchmark side is eval-set-sized BY CONTRACT (module docstring),
    # so its distinct n-gram set is driver-collectable as one Python set.
    # Grams are built with the identical recipe as _distinct_ngrams
    # (analyzed tokens → space-join of n consecutive tokens): tokenize_text
    # is the Python twin of the Spark analyzer, pinned to it by
    # tests/test_tokenizer.py, so the two tokenizations agree.
    def _grams_of(text: str) -> set:
        toks = tokenize_text(text)
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    bench_set = set()
    for r in benchmark.select(F.col(text_col).alias("_t")).collect():
        bench_set |= _grams_of(r["_t"])
    bc = corpus.sparkSession.sparkContext.broadcast(bench_set)

    out_schema = StructType(
        [
            StructField("docID", corpus.schema[id_col].dataType, False),
            StructField("n_hit_ngrams", LongType(), False),
        ]
    )

    def _count_hits(batches):
        bset = bc.value
        for pdf in batches:
            hits = pdf[text_col].map(lambda text: len(_grams_of(text) & bset))
            keep = hits > 0  # docID keeps the caller's id dtype
            yield pd.DataFrame(
                {"docID": pdf["docID"][keep], "n_hit_ngrams": hits[keep].astype("int64")}
            )

    # one Arrow-batched pass over (docID, text): per-doc distinct grams
    # intersect the broadcast set in-process — no explode, no shuffle, no
    # join; docs with zero overlap are simply not emitted (same contract
    # as the semi-join + groupBy).
    return corpus.select(F.col(id_col).alias("docID"), text_col).mapInPandas(
        _count_hits, out_schema
    )

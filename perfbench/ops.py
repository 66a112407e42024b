"""The op kinds: how each one calls the library, and its DuckDB twin.

``build`` runs the library's public calls that return a lazy DataFrame,
each inside a span named after the module it enters. ``twin`` renders the
DuckDB SQL that must return the same rows; for top-k kinds it takes the
``k`` so the boundary-tie rule can ask it for more rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, functions as F

from neural_search_spark import oracle_sql as osql
from neural_search_spark.analysis.tokenizer import tokenize_text
from neural_search_spark.corpus import corpus_from_documents, inject_duplicates
from neural_search_spark.index.builder import build_index
from neural_search_spark.index.positions import PositionalIndex, build_positions
from neural_search_spark.pipeline import sql as psql
from neural_search_spark.pipeline.dedup import ngram_jaccard_pairs
from neural_search_spark.pipeline.embedding import text_embedding_stub
from neural_search_spark.pipeline.textstats import doc_keywords
from neural_search_spark.search.bm25 import BM25Engine, topk
from neural_search_spark.search.hybrid import hybrid_search
from neural_search_spark.search.neural import neural_clause_scores, query_embedding_stub
from neural_search_spark.search.wand import BlockMaxIndex

import gen

TOPK, ROWS = "topk", "rows"


@dataclass
class Artifacts:
    """What a workload's ops run against; built fresh in every run."""

    spark: object
    data_dir: Path
    sample_dir: Path
    engine: BM25Engine | None = None
    blockmax: BlockMaxIndex | None = None
    positions: PositionalIndex | None = None
    embeddings: DataFrame | None = None


def build_engine(a: Artifacts) -> None:
    a.engine = BM25Engine(a.spark, corpus_from_documents(a.spark, str(a.data_dir))).cache()
    a.engine.postings.count()
    a.engine.doclens.count()
    a.engine.stats  # noqa: B018 - collects the corpus stats


def build_blockmax(a: Artifacts, out_dir: Path) -> None:
    build_index(a.spark, corpus_from_documents(a.spark, str(a.data_dir)), str(out_dir), n_shards=8)
    a.blockmax = BlockMaxIndex(a.spark, str(out_dir)).cache()
    a.blockmax.postings.count()
    a.blockmax.doclens.count()


def build_positional(a: Artifacts, out_dir: Path) -> None:
    build_positions(a.spark, a.engine.corpus, str(out_dir))
    a.positions = PositionalIndex(a.spark, str(out_dir), a.engine.doclens, a.engine.stats)


def build_embeddings(a: Artifacts) -> None:
    a.embeddings = text_embedding_stub(corpus_from_documents(a.spark, str(a.data_dir))).cache()
    a.embeddings.count()


def _r4(df: DataFrame) -> DataFrame:
    return df.select("docID", F.round(F.col("score"), 4).alias("score"))


# -- build: op -> lazy DataFrame, one span per library call -----------------


def _wand(a, op, span):
    with span("search.wand.match_topk"):
        return _r4(a.blockmax.match_topk(op["query"], k=gen.K))


def _bm25(a, op, span):
    with span("search.bm25.match"):
        scored = a.engine.match(op["query"])
    with span("search.bm25.topk"):
        return _r4(topk(scored, gen.K))


def _phrase(a, op, span):
    with span("index.positions.match_phrase_topk"):
        return _r4(a.positions.match_phrase_topk(op["phrase"], k=gen.K))


def _hybrid(a, op, span):
    clauses = []
    for c in op["clauses"]:
        if c["kind"] == "neural":
            with span("search.neural.neural_clause_scores"):
                clauses.append(
                    neural_clause_scores(a.embeddings, query_embedding_stub(c["text"]), k=gen.DEPTH)
                )
        else:
            with span("search.bm25.match"):
                clauses.append(a.engine.match(c["text"]))
    with span("search.hybrid.hybrid_search"):
        out = hybrid_search(
            clauses,
            op["normalization"],
            op["combination"],
            weights=op["weights"],
            k=gen.K,
            depth=gen.DEPTH,
        )
    return _r4(out)


def _jaccard(a, op, span):
    with span("corpus.inject_duplicates"):
        docs = inject_duplicates(a.spark, str(a.sample_dir))
    with span("pipeline.dedup.ngram_jaccard_pairs"):
        return ngram_jaccard_pairs(docs, "lang")


def _keywords(a, op, span):
    docs = a.spark.read.parquet(str(a.sample_dir / "documents.parquet")).select(
        F.col("doc_id").cast("long").alias("docID"), F.col("text").alias("content")
    )
    with span("pipeline.textstats.doc_keywords"):
        return doc_keywords(docs, k=gen.KEYWORDS_PER_DOC)


# -- twins: op (+ k) -> DuckDB SQL -------------------------------------------


def _hybrid_twin(op, k):
    if all(c["kind"] == "match" for c in op["clauses"]):
        return osql.hybrid_topk_sql(
            [tokenize_text(c["text"]) for c in op["clauses"]],
            op["normalization"],
            op["combination"],
            weights=op["weights"],
            k=k,
            depth=gen.DEPTH,
        )
    specs = [
        {"kind": "neural", "qvec": query_embedding_stub(c["text"])}
        if c["kind"] == "neural"
        else {"kind": "match", "terms": tokenize_text(c["text"])}
        for c in op["clauses"]
    ]
    return osql.hybrid_mixed_topk_sql(
        specs, op["normalization"], op["combination"], weights=op["weights"], k=k, depth=gen.DEPTH
    )


@dataclass(frozen=True)
class Kind:
    build: object
    twin: object
    compare: str
    on_sample: bool = False  # the twin reads the curation sample


KINDS = {
    "wand.match_topk": Kind(_wand, lambda op, k: osql.bm25_topk_sql(tokenize_text(op["query"]), k=k), TOPK),
    "bm25.match_topk": Kind(_bm25, lambda op, k: osql.bm25_topk_sql(tokenize_text(op["query"]), k=k), TOPK),
    "positions.phrase_topk": Kind(
        _phrase, lambda op, k: osql.match_phrase_topk_sql(tokenize_text(op["phrase"]), k=k), TOPK
    ),
    "hybrid.lexical": Kind(_hybrid, _hybrid_twin, TOPK),
    "hybrid.dense": Kind(_hybrid, _hybrid_twin, TOPK),
    "dedup.ngram_jaccard": Kind(
        _jaccard, lambda op, k: psql.dedup_ngram_jaccard_sql(), ROWS, on_sample=True
    ),
    "textstats.doc_keywords": Kind(
        _keywords, lambda op, k: psql.doc_keywords_sql(gen.KEYWORDS_PER_DOC), ROWS, on_sample=True
    ),
}

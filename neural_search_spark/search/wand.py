"""Top-k retrieval over the compressed block-max index.

Per-shard kernel (Arrow-batched ``applyInPandas`` cogroup — the Spark
restatement of the reference's per-shard collection,
``search/collector/HybridTopScoreDocCollector.java:135-170``):

1. Terms are scored rarest-first (shard-local df ascending — the
   matchCost ordering idea of ``query/HybridQueryScorer.java:222-293``);
   partial sums accumulate per docID. A term's idf uses its index-wide
   df, ``gdf``, read off its own postings row (Lucene keeps docFreq in
   the terms dictionary): no query-time df aggregation or collect.
2. After the cheap terms, the k-th best *partial* total is a valid lower
   bound θ of the final k-th score (every final score ≥ its partial).
3. For each remaining expensive term, a block is decoded only if
   ``max_partial + block_ub + Σ ub(other remaining terms) ≥ θ``
   — any doc in a skipped block provably ends below θ, so skipping is
   rank-safe (block-max pruning per BASELINE.json north_star; the
   reference's block boundaries live in
   ``query/HybridScoreBlockBoundaryPropagator.java:25-90``).
4. Local top-k by (score desc, docID asc); the driver-side global merge
   (`topk`) reproduces the coordinator tie-break
   (``processor/combination/ScoreCombiner.java:43-56``).

All math is float64 and mirrors :mod:`neural_search_spark.search.bm25`
exactly — the two paths are asserted rank- and score-identical in tests.

Layout: :class:`BlockMaxIndex` adds ``gdf = sum(df) over (partition by
term)`` to the on-disk postings. Its cached postings and doclens are both
hash-partitioned by ``shard``, one partition per core, so a cached query
is the term filter plus the per-shard cogroup, with no exchange: one
Spark job. An uncached reader runs the same plan, with the window over
the filtered rows and the shard exchanges at query time.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from neural_search_spark.analysis.tokenizer import tokenize_text
from neural_search_spark.index.codec import decode_posting_list
from neural_search_spark.search.bm25 import B, K1, CorpusStats
from neural_search_spark.session import local_table

SCORE_SCHEMA = StructType(
    [StructField("docID", LongType(), False), StructField("score", DoubleType(), False)]
)


def _ub_tfn(max_tf: np.ndarray, min_dlq: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    mt = max_tf.astype(np.float64)
    return mt / (mt + k1 * (1.0 - b + b * min_dlq.astype(np.float64) / avgdl))


def _shard_kernel_factory(n_docs: int, avgdl: float, k: int, k1: float, b: float, prune: bool):
    def score_shard(postings: pd.DataFrame, doclens: pd.DataFrame) -> pd.DataFrame:
        if postings.empty:
            return pd.DataFrame({"docID": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")})
        dl_doc = doclens["docID"].to_numpy(dtype=np.int64)
        dl_q = doclens["dlq"].to_numpy(dtype=np.float64)
        order = np.argsort(dl_doc, kind="stable")
        dl_doc, dl_q = dl_doc[order], dl_q[order]

        # rarest-first by local df (cheap lists first; matchCost ordering)
        rows = postings.sort_values("df").to_dict("records")
        # idf from the index-wide df on the row; the upper bound per term
        # is the max over its blocks
        idf, term_ub = {}, []
        for r in rows:
            gdf = int(r["gdf"])
            idf[r["term"]] = math.log(1.0 + (n_docs - gdf + 0.5) / (gdf + 0.5))
            ub = idf[r["term"]] * float(
                np.max(
                    _ub_tfn(
                        np.asarray(r["blk_maxtf"], dtype=np.int64),
                        np.asarray(r["blk_mindlq"], dtype=np.int64),
                        avgdl,
                        k1,
                        b,
                    )
                )
            )
            term_ub.append(ub)

        acc_docs: list[np.ndarray] = []
        acc_scores: list[np.ndarray] = []
        theta = -math.inf
        max_partial = 0.0
        partial: pd.Series | None = None

        def contribs(r: dict, mask: np.ndarray | None):
            blocks = list(
                zip(r["blk_last"], r["blk_maxtf"], r["blk_mindlq"], r["blk_docend"], r["blk_tfend"])
            )
            d, t = decode_posting_list(bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), blocks, mask)
            if d.size == 0:
                return d, np.zeros(0, dtype=np.float64)
            pos = np.searchsorted(dl_doc, d)
            # bounds+equality guard: a posting docID absent from doclens is
            # a ghost (e.g. stale postings surviving a partial update) —
            # drop it instead of scoring with a neighbor's length or
            # indexing past the end of the doclens arrays
            inb = pos < dl_doc.size
            valid = inb.copy()
            valid[inb] = dl_doc[pos[inb]] == d[inb]
            if not valid.all():
                d, t, pos = d[valid], t[valid], pos[valid]
                if d.size == 0:
                    return d, np.zeros(0, dtype=np.float64)
            dlq = dl_q[pos]
            tf = t.astype(np.float64)
            tfn = tf / (tf + k1 * (1.0 - b + b * dlq / avgdl))
            return d, idf[r["term"]] * tfn

        n_cheap = len(rows) if not prune else max(1, len(rows) - max(1, len(rows) // 2))
        # cheap phase: exact-score the rarest half (≥1 term)
        for r in rows[:n_cheap]:
            d, s = contribs(r, None)
            acc_docs.append(d)
            acc_scores.append(s)
        if prune and len(rows) > n_cheap:
            partial = (
                pd.Series(np.concatenate(acc_scores), index=np.concatenate(acc_docs))
                .groupby(level=0)
                .sum()
                if acc_docs
                else pd.Series(dtype="float64")
            )
            if partial.size:
                max_partial = float(partial.max())
                if partial.size >= k:
                    theta = float(np.partition(partial.to_numpy(), -k)[-k])
            remaining_ub = term_ub[n_cheap:]
            for j, r in enumerate(rows[n_cheap:]):
                others = sum(remaining_ub) - remaining_ub[j]
                blk_ub = idf[r["term"]] * _ub_tfn(
                    np.asarray(r["blk_maxtf"], dtype=np.int64),
                    np.asarray(r["blk_mindlq"], dtype=np.int64),
                    avgdl,
                    k1,
                    b,
                )
                mask = (max_partial + blk_ub + others) >= theta
                d, s = contribs(r, mask)
                acc_docs.append(d)
                acc_scores.append(s)

        if not acc_docs:
            return pd.DataFrame({"docID": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")})
        total = (
            pd.Series(np.concatenate(acc_scores), index=np.concatenate(acc_docs))
            .groupby(level=0)
            .sum()
        )
        out = total.reset_index()
        out.columns = ["docID", "score"]
        out = out.sort_values(["score", "docID"], ascending=[False, True]).head(k)
        return out

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return score_shard(left, right)

    return kernel


class BlockMaxIndex:
    """Reader over a :func:`neural_search_spark.index.builder.build_index`
    directory; issues shard-parallel block-max top-k queries."""

    def __init__(self, spark: SparkSession, index_dir: str):
        from neural_search_spark.index.builder import check_format_version

        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "stats.json")) as f:
            self.stats = json.load(f)
        check_format_version(self.stats, index_dir)  # BWC gate: refuse stale
        self.corpus_stats = CorpusStats(self.stats["n_docs"], self.stats["total_tokens"])
        postings = spark.read.parquet(os.path.join(index_dir, "postings"))
        # idf is global (Lucene stats are per index, not per shard): every
        # row carries its term's index-wide df
        self.postings = postings.withColumn("gdf", F.sum("df").over(Window.partitionBy("term")))
        self.doclens = spark.read.parquet(os.path.join(index_dir, "doclens"))

    def cache(self) -> "BlockMaxIndex":
        """Cache the postings (with ``gdf``) and the doclens, both
        hash-partitioned by ``shard`` into one partition per core, so the
        per-shard cogroup of a query needs no exchange."""
        n = self.spark.sparkContext.defaultParallelism
        self.postings = self.postings.repartition(n, "shard").cache()
        self.doclens = self.doclens.repartition(n, "shard").cache()
        return self

    def match_topk(
        self,
        query_text: str,
        k: int = 10,
        k1: float = K1,
        b: float = B,
        prune: bool = True,
    ) -> DataFrame:
        terms = sorted(set(tokenize_text(query_text)))
        return self.terms_topk(terms, k=k, k1=k1, b=b, prune=prune)

    def terms_topk(
        self,
        terms: list[str],
        k: int = 10,
        k1: float = K1,
        b: float = B,
        prune: bool = True,
    ) -> DataFrame:
        terms = sorted(set(terms))
        if not terms:
            return local_table(self.spark, [], SCORE_SCHEMA)
        kernel = _shard_kernel_factory(
            self.corpus_stats.n_docs, self.corpus_stats.avgdl, k, k1, b, prune
        )
        matched = self.postings.where(F.col("term").isin(terms))
        local = (
            matched.groupBy("shard")
            .cogroup(self.doclens.groupBy("shard"))
            .applyInPandas(kernel, SCORE_SCHEMA)
        )
        return local.orderBy(F.desc("score"), F.asc("docID")).limit(k)

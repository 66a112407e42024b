"""text_embedding ingest-processor plumbing with a deterministic stand-in
model.

The reference's ``text_embedding`` processor batches text through an
external dense-embedding model (``processor/TextEmbeddingProcessor.java:40``,
batching in ``processor/InferenceProcessor.java:199-229``). No model runs
in this sandbox, so the MODEL is a clearly-marked deterministic stand-in
while the Spark plumbing is real and tested: schema (``array<float>``
column appended to the doc), fully relational computation (no per-row
Python), L2 normalization, and the same field-map shape (text column in,
embedding column out).

Stand-in model: ``dim(t) = len(t) % n_dims`` bag-of-dims over the
analyzed tokens, L2-normalized — chosen because BOTH Spark and the DuckDB
oracle can compute it exactly (token length is engine-agnostic, unlike
hash functions), so the plumbing is oracle-checked end to end. Swapping
in a real model means replacing :func:`token_dims` with a
``predict_batch_udf``-style Arrow UDF; nothing else changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

N_DIMS = 8


def text_embedding_stub(
    corpus: DataFrame,
    text_col: str = "content",
    id_col: str = "docID",
    n_dims: int = N_DIMS,
) -> DataFrame:
    """(docID, embedding array<double>) — the processor's output shape.

    The embedding is a PER-DOC function of the text, so it computes
    doc-locally in one Arrow pass — the relational form (explode →
    groupBy(docID, dim) → groupBy(docID)) paid two exchanges of the token
    stream per invocation for a map-side-computable value, which
    dominated the nested/semantic neural query paths at sf1.

    Bit-exactness vs the old expression plan (and the oracle): token
    counts are exact integers in float64; the norm accumulates x·x
    left-to-right from 0.0 exactly like the old ``F.aggregate`` fold;
    ``math.sqrt``/division are the same correctly-rounded IEEE ops as
    Spark's. Docs with zero tokens emit no row (the explode dropped them
    the same way)."""
    import math

    import pandas as pd

    from neural_search_spark import stats as _stats
    from neural_search_spark.analysis.tokenizer import tokenize_text

    _stats.record_event("text_embedding_executions")

    def _embed(batches):
        for pdf in batches:
            ids, embs = [], []
            for doc_id, t in zip(pdf["docID"], pdf["_text"]):
                toks = tokenize_text(t)
                if not toks:
                    continue
                dims = [0.0] * n_dims
                for tk in toks:
                    dims[len(tk) % n_dims] += 1.0
                acc = 0.0
                for x in dims:
                    acc = acc + x * x  # left-fold order, as the old plan
                nrm = math.sqrt(acc)
                embs.append([x / nrm if nrm > 0 else 0.0 for x in dims])
                ids.append(doc_id)
            yield pd.DataFrame(
                {
                    "docID": pd.Series(ids, dtype="int64"),
                    # object dtype keeps list cells; an EMPTY default-dtype
                    # column would reach Arrow as a float64 ndarray, which
                    # cannot convert to array<double>
                    "embedding": pd.Series(embs, dtype="object"),
                }
            )

    return corpus.select(
        F.col(id_col).cast("long").alias("docID"), F.col(text_col).alias("_text")
    ).mapInPandas(_embed, "docID long, embedding array<double>")


def embedding_col_udf(n_dims: int = N_DIMS):
    """Column form of the stand-in model: text → L2-normalized embedding,
    NULL when the text has no tokens — the inline twin of
    :func:`text_embedding_stub` (same per-row arithmetic in the same IEEE
    order), for callers that attach the embedding to an existing row
    (semantic mapping) and would otherwise pay a docID join + two
    exchanges to re-attach a value that is a pure function of the row."""
    import math

    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType

    from neural_search_spark.analysis.tokenizer import tokenize_text

    @F.pandas_udf(ArrayType(DoubleType()))
    def _emb(texts):
        out = []
        for t in texts:
            toks = tokenize_text(t)
            if not toks:
                out.append(None)
                continue
            dims = [0.0] * n_dims
            for tk in toks:
                dims[len(tk) % n_dims] += 1.0
            acc = 0.0
            for x in dims:
                acc = acc + x * x  # left-fold order, as text_embedding_stub
            nrm = math.sqrt(acc)
            out.append([x / nrm if nrm > 0 else 0.0 for x in dims])
        return pd.Series(out, dtype="object")

    return _emb


def sparse_features_col_udf():
    """Column form of the sparse_encoding stand-in: text → map<term,float>
    feature vector (weight = term frequency), NULL when the text has no
    tokens — the inline twin of
    :func:`neural_search_spark.search.sparse.sparse_features_from_tf`
    restricted to non-empty values, for the same join-avoidance reason as
    :func:`embedding_col_udf`."""
    import pandas as pd
    from pyspark.sql.types import FloatType, MapType, StringType

    from collections import Counter

    from neural_search_spark.analysis.tokenizer import tokenize_text

    @F.pandas_udf(MapType(StringType(), FloatType()))
    def _feats(texts):
        out = []
        for t in texts:
            toks = tokenize_text(t)
            if not toks:
                out.append(None)
                continue
            out.append({k: float(c) for k, c in Counter(toks).items()})
        return pd.Series(out, dtype="object")

    return _feats


def embedding_long_form(embedded: DataFrame) -> DataFrame:
    """(docID, dim, value) exploded form for oracle comparison."""
    return embedded.select(
        "docID", F.posexplode("embedding").alias("dim", "value")
    ).select("docID", F.col("dim").cast("int").alias("dim"), F.round("value", 6).alias("value"))

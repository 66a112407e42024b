"""Similarity search over an embedding column (array<float>).

Every search here is one pipeline: **probe → coarse window → exact
rescore**, each stage written once as a private helper and shared with
the dense clause's ``knn_method`` (``search/neural.py``):

- probe: the candidate rows — the whole table (:func:`cosine_topk`, the
  int8 and PQ paths), the query's LSH sign buckets (:func:`ann_lsh_topk`),
  or the ``nprobe`` IVF lists nearest the query by (cosine desc, list_id
  asc), collected to the driver and applied as a literal ``isin`` on
  ``list_id`` (:func:`_probed`). At 100 TB the table is written
  partitioned by ``list_id``, and the literal predicate prunes the scan
  to nprobe/n_lists of the data.
- coarse window (:func:`_window`): a cheap score over a compact
  view — int8-dequantized vectors (:func:`_int8_view`) or PQ codes scored
  by ADC from the collected codebooks (:func:`_codebook`) — keeps the
  ``k × oversample`` best rows by (coarse score desc, vec_id asc).
- exact rescore: the float vectors of the window only, read through one
  broadcast semi-join (:func:`_window`), scored exactly. Paths without a
  coarse score score their candidates exactly at once.

Dot products are sequential left folds (:func:`_dot`) that sum in the
DuckDB oracle's order, so scores are bit-identical doubles. The
``*_batch_topk`` functions run Q queries through one scan, with per-qid
window cuts (``session.top_per_key``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from neural_search_spark.pipeline import params as P
from neural_search_spark.session import local_table, top_per_key


def _dot(a, b) -> "F.Column":
    """Sequential left-fold dot product (zip_with + aggregate). IEEE-
    identical to the oracle's unrolled left-associated sum: the 0.0 init
    is exact, every subsequent add happens in the same order. Compact
    enough for whole-stage codegen (the unrolled 64-term expression form
    blows the JVM 64KB method limit and falls back to interpreted)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def plane_dot(vec, plane: list[float]) -> "F.Column":
    hp = F.array(*[F.lit(float(v)) for v in plane])
    return _dot(vec, hp)


def bucket_col(vec) -> "F.Column":
    """Hyperplane sign bucket — same bits as params.bucket_sql."""
    acc = F.lit(0)
    for j in range(P.N_HYPERPLANES):
        acc = acc + F.when(plane_dot(vec, P.HYPERPLANES[j]) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
    return acc


def _cosine(a: str, b: str) -> "F.Column":
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _vectors(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, v): the embedding table under the names every stage reads."""
    return emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))


def _query_row(vecs: DataFrame, query_id: int) -> DataFrame:
    """(qv): the one-row vector of ``query_id`` in a (vec_id, v) table."""
    return vecs.where(F.col("vec_id") == query_id).select(F.col("v").alias("qv"))


def _query_vector(vecs: DataFrame, query_id: int) -> list[float]:
    """The float vector of ``query_id`` in a (vec_id, v) table, fetched to
    the driver (one row); ValueError when the id is not in the table."""
    row = _query_row(vecs, query_id).head()
    if row is None:
        raise ValueError(f"query id {query_id} is not in the table")
    return [float(x) for x in row[0]]


def _query_rows(vecs: DataFrame, ids: list[int]) -> DataFrame:
    """(qid, qv): the broadcast vectors of ``ids`` in a (vec_id, v) table."""
    return F.broadcast(
        vecs.where(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv")
        )
    )


def _cosine_to(rows: DataFrame, q: DataFrame, query_id: int, name: str = "score") -> DataFrame:
    """(vec_id, name): round4 cosine of each row's ``v`` to the one-row
    query ``q``, the query itself excluded."""
    return (
        rows.where(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", P.round4(_cosine("v", "qv")).alias(name))
    )


def _top(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best (vec_id, score) rows by (score desc, vec_id asc)."""
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


def cosine_topk(
    emb: DataFrame,
    query_id: int,
    k: int = P.ANN_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to the vector with id `query_id` (excluded).

    Returns (vec_id, score) ordered score desc, vec_id asc.
    """
    e = _vectors(emb, id_col, vec_col)
    return _top(_cosine_to(e, _query_row(e, query_id), query_id), k)


def lsh_buckets(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, bucket): hyperplane sign-bit bucket per vector."""
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        bucket_col(vec_col).alias("bucket"),
    )


def _argmax_list(scored: DataFrame) -> DataFrame:
    """(vec_id, v, list_id): keep each vector's best list by (cosine desc,
    list_id asc). The window is partitioned by vec_id — parallel by key,
    never a global sort; each partition holds exactly n_lists rows."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("list_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("vec_id", "v", "list_id")
    )


def ivf_centroids(
    emb: DataFrame,
    n_lists: int = P.IVF_N_LISTS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(list_id, centroid): spherical-kmeans coarse quantizer, deterministic
    and oracle-reproducible.

    Seeds are the ``n_lists`` vectors with the smallest ids (list_id =
    their id rank); one Lloyd refinement assigns every vector to its
    max-cosine seed and takes the per-dimension mean, rounded to 6 dp so
    the refined centroids are bit-identical doubles across engines (group
    means are summation-order-dependent; the rounding absorbs the ~1e-15
    jitter). At 100 TB the training input is a deterministic sample, not
    the full table — the output is O(n_lists · dim), always broadcastable.
    """
    seeds = (
        emb.orderBy(F.asc(id_col))
        .limit(n_lists)
        .select(F.col(id_col).alias("seed_id"), F.col(vec_col).alias("c0"))
    )
    # n_lists rows — the global window is on an already-collapsed input
    seeds = seeds.select(
        (F.row_number().over(Window.orderBy("seed_id")) - 1).alias("list_id"), "c0"
    )
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    a0 = _argmax_list(
        base.crossJoin(F.broadcast(seeds)).select(
            "vec_id", "v", "list_id", _cosine("v", "c0").alias("cos")
        )
    )
    dims = (
        a0.select("list_id", F.posexplode("v").alias("pos", "val"))
        .groupBy("list_id", "pos")
        .agg(P.round6(F.avg(F.col("val").cast("double"))).alias("m"))
    )
    return dims.groupBy("list_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, v, list_id): each vector's max-cosine refined centroid.
    This is the ingest-time step at scale — one broadcast-join scan whose
    output is written partitioned by ``list_id``."""
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    return _argmax_list(
        base.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "v", "list_id", _cosine("v", "centroid").alias("cos")
        )
    )


def _ivf_tables(
    emb: DataFrame,
    centroids: DataFrame | None,
    assigned: DataFrame | None,
    n_lists: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned): the ingest-time IVF artifacts when passed,
    else trained and assigned on the fly."""
    cents = centroids if centroids is not None else ivf_centroids(emb, n_lists, id_col, vec_col)
    asg = assigned if assigned is not None else ivf_assign(emb, cents, id_col, vec_col)
    return cents, asg


def _probed(rows: DataFrame, cents: DataFrame, qv, nprobe: int) -> DataFrame:
    """The ``rows`` (keyed by ``list_id``) of the ``nprobe`` lists of
    ``cents`` nearest the query ``qv`` (a literal array column) by
    (cosine(centroid, qv) desc, list_id asc). Centroids are means, not
    unit vectors, so the probe ranks by the full cosine — the expression
    the oracle twins recompute. Probe-list selection is driver-side
    (O(nprobe) rows — every IVF system picks probe lists at the
    coordinator): the resulting LITERAL isin predicate statically prunes
    the assignment table — cached-batch pruning here, parquet list_id
    partition pruning at 100 TB — which a join-shaped restriction cannot
    do."""
    ids = [
        r["list_id"]
        for r in cents.orderBy(F.desc(_cosine("centroid", qv)), F.asc("list_id"))
        .limit(int(nprobe))
        .select("list_id")
        .collect()
    ]
    return rows.where(F.col("list_id").isin(ids))


def ann_ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = P.ANN_K,
    n_lists: int = P.IVF_N_LISTS,
    nprobe: int = P.IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine restricted to the query's ``nprobe``
    nearest IVF lists.

    Deterministic contract (oracle-checkable): probe lists = top-nprobe
    centroids by (cosine(query, centroid) desc, list_id asc); candidates =
    vectors assigned to those lists, query excluded; rank by (cosine desc,
    vec_id asc). Returns (vec_id, score).

    ``centroids``/``assigned``: pass the ingest-time artifacts (the real
    deployment shape — training and list assignment happen once at write
    time, queries only probe); derived on the fly when omitted.
    """
    cents, asg = _ivf_tables(emb, centroids, assigned, n_lists, id_col, vec_col)
    e = _vectors(emb, id_col, vec_col)
    qv = F.array(*[F.lit(x) for x in _query_vector(e, query_id)])
    return _top(
        _probed(asg, cents, qv, nprobe)
        .where(F.col("vec_id") != query_id)
        .select("vec_id", P.round4(_cosine("v", qv)).alias("score")),
        k,
    )


def ann_ivf_batch_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = P.ANN_K,
    n_lists: int = P.IVF_N_LISTS,
    nprobe: int = P.IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(qid, vec_id, score): MANY ANN queries through ONE assignment scan —
    the set-oriented twin of :func:`ann_ivf_topk` (bulk retrieval: eval
    sets, hard-negative mining, dedup candidate generation).

    All-relational batch shape: the Q query vectors broadcast; the probe
    is a (Q × n_lists)-row window (top-nprobe centroids per qid by cosine
    desc, list_id asc — the single-query contract per qid); candidates =
    ONE scan of the assignment table joined against the broadcast
    (qid, list_id) probe set, so Q queries share one pass instead of Q
    (per-query driver-side probe pruning stops paying once the probed
    union approaches all lists — amortization IS the batch win, exactly
    like bm25_batch_topk). Scores round4 BEFORE the per-qid cut
    (round-then-cut, the batch-path convention), self excluded.
    """
    cents, asg = _ivf_tables(emb, centroids, assigned, n_lists, id_col, vec_col)
    qt = _query_rows(_vectors(emb, id_col, vec_col), [int(q) for q in query_ids])
    probe = top_per_key(
        qt.crossJoin(F.broadcast(cents.select("list_id", F.col("centroid").alias("c")))),
        "qid", nprobe, score=_cosine("c", "qv"), id_col="list_id",
    ).select("qid", "list_id")
    cand = (
        asg.join(F.broadcast(probe), "list_id")
        .join(qt, "qid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", P.round4(_cosine("v", "qv")).alias("score"))
    )
    return top_per_key(cand, "qid", k, id_col="vec_id").orderBy(
        "qid", F.desc("score"), F.asc("vec_id")
    )


def quantization_stats(emb: DataFrame, vec_col: str = "embedding") -> tuple[float, float]:
    """Global (min, max) over every embedding component — the int8 scalar-
    quantization interval (Lucene's scalar quantizer uses a global
    confidence interval the same way). Two exact extremes, no sums → the
    values are bit-identical across engines. One scan, 1-row result."""
    row = emb.agg(
        F.min(F.array_min(F.col(vec_col))).alias("mn"),
        F.max(F.array_max(F.col(vec_col))).alias("mx"),
    ).collect()[0]
    return float(row["mn"]), float(row["mx"])


def quantize_int8(
    emb: DataFrame,
    mn: float,
    mx: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, qvec array<int>): each component mapped to an int bucket
    0..255 via floor((v - mn)/scale + 0.5) — byte storage, 4× smaller than
    float32 at rest. Pure column expressions (transform), codegen-friendly."""
    scale = (mx - mn) / 255.0 if mx > mn else 1.0
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor((x.cast("double") - F.lit(mn)) / F.lit(scale) + F.lit(0.5)).cast("int"),
    )
    return emb.select(F.col(id_col).alias("vec_id"), q.alias("qvec"))


def _int8_view(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"):
    """((vec_id, v), dequantize): the int8-dequantized vectors — every
    component through :func:`quantize_int8` over the global
    :func:`quantization_stats` interval and back — and ``dequantize``, the
    same round trip for a driver-side vector in the same double
    operations (floor, then ``mn + code · scale``), so a literal query
    lands on exactly the grid the table does."""
    mn, mx = quantization_stats(emb, vec_col)
    scale = (mx - mn) / 255.0 if mx > mn else 1.0
    deq = F.transform(
        F.col("qvec"), lambda x: F.lit(mn) + x.cast("double") * F.lit(scale)
    )
    view = quantize_int8(emb, mn, mx, id_col, vec_col).select("vec_id", deq.alias("v"))

    def dequantize(vec: list[float]) -> list[float]:
        return [mn + math.floor((float(v) - mn) / scale + 0.5) * scale for v in vec]

    return view, dequantize


def _window(coarse: DataFrame, k: int, oversample: int, exact: DataFrame) -> DataFrame:
    """The rows of ``exact`` (the (vec_id, v) float table) in the
    ``k × oversample`` best ``coarse`` (vec_id, cscore) rows by (cscore
    desc, vec_id asc) — the window the exact score rescores. Only the
    window's float rows are read: a broadcast semi-join, so the float
    table is never fully read at query time."""
    window = (
        coarse.orderBy(F.desc("cscore"), F.asc("vec_id"))
        .limit(int(k) * int(oversample))
        .select("vec_id")
    )
    return exact.join(F.broadcast(window), "vec_id", "semi")


def _batch_rescore(vecs: DataFrame, window: DataFrame, ids: list[int], k: int) -> DataFrame:
    """(qid, vec_id, score): each query's ``window`` (qid, vec_id) rows
    rescored by round4 exact cosine to that query's float vector in
    ``vecs`` (vec_id, v), one pass over the window union, cut to ``k``
    per qid."""
    scored = (
        vecs.join(window, "vec_id")
        .join(_query_rows(vecs, ids), "qid")
        .select("qid", "vec_id", P.round4(_cosine("v", "qv")).alias("score"))
    )
    return top_per_key(scored, "qid", k, id_col="vec_id").orderBy(
        "qid", F.desc("score"), F.asc("vec_id")
    )


def ann_quantized_topk(
    emb: DataFrame,
    query_id: int,
    k: int = P.ANN_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k over int8-DEQUANTIZED vectors (both sides pass
    through the same quantizer, query included) — the fidelity contract of
    byte-compressed vector search, oracle-checkable bit-for-bit. At 100 TB
    the qvec column is materialized at ingest; this query is one scan of
    the byte table + TakeOrderedAndProject, no shuffle."""
    d, _ = _int8_view(emb, id_col, vec_col)
    return _top(_cosine_to(d, _query_row(d, query_id), query_id), k)


def ann_quantized_rescore_topk(
    emb: DataFrame,
    query_id: int,
    k: int = P.ANN_K,
    oversample: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase quantized search with exact rescore — the
    ``NeuralKNNQueryBuilder`` ``rescore`` surface
    (``query/NeuralKNNQueryBuilder.java:33-41``; OpenSearch k-NN rescore
    with an oversample factor): the int8-dequantized cosine selects a
    ``k × oversample`` candidate window cheaply, then the exact float
    cosine rescores ONLY that window.

    Scale shape: the coarse pass scans the byte table (4× less I/O than
    float32) ending in TakeOrderedAndProject; the exact pass touches
    ``k × oversample`` rows via a broadcast-able semi-join — the raw float
    table is never fully read at query time."""
    d, _ = _int8_view(emb, id_col, vec_col)
    coarse = _cosine_to(d, _query_row(d, query_id), query_id, "cscore")
    e = _vectors(emb, id_col, vec_col)
    window = _window(coarse, k, oversample, e)
    return _top(_cosine_to(window, _query_row(e, query_id), query_id), k)


def ann_quantized_batch_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = P.ANN_K,
    oversample: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, vec_id, score): MANY quantized-rescore ANN queries through ONE
    int8 scan — the batch twin of :func:`ann_quantized_rescore_topk`,
    completing the batch family (bm25 / dense / hybrid / ivf are done).

    All Q coarse passes share a single pass over the byte table (the Q
    dequantized query vectors broadcast against it), each qid keeping its
    own ``k × oversample`` window (round4 coarse cosine, vec_id-asc
    tie-break — the single-query contract per qid); the exact float
    rescore then touches ONLY the union of the windows via one semi-join
    on (qid, vec_id), so the raw float table is never fully read. Scores
    round4 BEFORE the per-qid cut (round-then-cut, the batch-path
    convention), self excluded. Amortization is the batch win: Q queries
    cost one byte-table scan + Q × k × oversample exact rescores instead
    of Q scans."""
    ids = [int(q) for q in query_ids]
    d, _ = _int8_view(emb, id_col, vec_col)
    coarse = (
        d.crossJoin(_query_rows(d, ids))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", P.round4(_cosine("v", "qv")).alias("cscore"))
    )
    window = top_per_key(
        coarse, "qid", int(k) * int(oversample), score="cscore", id_col="vec_id"
    ).select("qid", "vec_id")
    return _batch_rescore(_vectors(emb, id_col, vec_col), window, ids, k)


def ann_lsh_topk(
    emb: DataFrame,
    query_id: int,
    k: int = P.ANN_K,
    multi_probe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine restricted to the query's LSH bucket.

    ``multi_probe=j`` additionally probes the j Hamming-1 neighbor buckets
    (query bucket with hyperplane bit 0..j-1 flipped) — multi-probe LSH
    (Lv et al. 2007): a vector just across one hyperplane from the query
    lands in a neighbor bucket, so probing them recovers most of what a
    single bucket loses, at (1+j)/2^planes of the corpus instead of
    1/2^planes. At 100 TB the table is partitioned by bucket either way —
    the probe set is a static partition-pruning predicate.

    Deterministic contract (oracle-checkable): candidates = vectors whose
    bucket is in the probe set; rank by cosine desc, vec_id asc.
    """
    if int(multi_probe) > P.N_HYPERPLANES:
        raise ValueError(
            f"multi_probe {multi_probe} > {P.N_HYPERPLANES} hyperplanes: "
            "flipping a bit beyond the plane count XORs toward buckets that "
            "cannot exist, so the extra probes would be silent no-ops"
        )
    b = lsh_buckets(emb, id_col, vec_col)
    q = b.where(F.col("vec_id") == query_id).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qbucket")
    )
    cond = F.col("bucket") == F.col("qbucket")
    for j in range(int(multi_probe)):
        cond = cond | (F.col("bucket") == F.col("qbucket").bitwiseXOR(F.lit(1 << j)))
    return _top(
        b.where(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .where(cond)
        .select("vec_id", P.round4(_cosine("v", "qv")).alias("score")),
        k,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): Jégou et al. 2011, the Faiss IVF,PQ storage
# path. The reference's k-NN engine ships PQ as the `pq` encoder on its
# IVF method (OpenSearch k-NN method spec: encoder {name: pq, parameters:
# {m, code_size}}); this is the Spark-first equivalent with the same
# ingest/query split: codebooks train once at write time, vectors persist
# as PQ_M byte codes (32× smaller than float32 at the shipped M=8; up to
# 64× at M=4), queries score codes via
# an ADC lookup table and exact-rescore only a k×oversample window.
# ---------------------------------------------------------------------------


def _l2(a, b) -> "F.Column":
    """Sequential left-fold squared L2 distance between two array columns —
    IEEE-identical to the oracle's unrolled left-associated chain (same
    reasoning as :func:`_dot`). PQ's native metric is L2 on subvectors."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _sub_long(
    df: DataFrame, id_out: str, id_col: str, vec_col: str, n_sub: int, subdim: int
) -> DataFrame:
    """(id, m, sv): one row per (vector, subspace) with the 1-based slice
    [m·subdim+1 .. (m+1)·subdim] — the long layout both training joins use."""
    slices = F.array(*[F.slice(F.col(vec_col), mm * subdim + 1, subdim) for mm in range(n_sub)])
    return df.select(F.col(id_col).alias(id_out), F.posexplode(slices).alias("m", "sv"))


def pq_codebooks(
    emb: DataFrame,
    n_sub: int = P.PQ_M,
    n_codes: int = P.PQ_K,
    subdim: int = P.PQ_SUBDIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(m, code, centroid): per-subspace codebooks, deterministic and
    oracle-reproducible — the same recipe as :func:`ivf_centroids` (seeds =
    the ``n_codes`` lowest-id vectors' subvectors, one Lloyd step, 6-dp
    per-dim means) but with L2 argmin (ties to the smaller code), PQ's
    native metric. Output is O(n_sub · n_codes · subdim) — always
    broadcastable / driver-collectable. At 100 TB the training input is a
    deterministic sample; assignment cost here is N·M·K rows through one
    broadcast join, linear in the corpus, and happens at WRITE time."""
    seeds = (
        emb.orderBy(F.asc(id_col))
        .limit(n_codes)
        .select(F.col(id_col).alias("seed_id"), F.col(vec_col).alias("sv0"))
    )
    seeds = seeds.select(
        (F.row_number().over(Window.orderBy("seed_id")) - 1).alias("code"), "sv0"
    )
    seeds_long = _sub_long(seeds, "code", "code", "sv0", n_sub, subdim).select(
        "code", "m", F.col("sv").alias("c0")
    )
    base_long = _sub_long(emb, "vec_id", id_col, vec_col, n_sub, subdim)
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("dist"), F.asc("code"))
    a0 = (
        base_long.join(F.broadcast(seeds_long), "m")
        .withColumn("dist", _l2("sv", "c0"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("m", "code", "sv")
    )
    dims = (
        a0.select("m", "code", F.posexplode("sv").alias("pos", "val"))
        .groupBy("m", "code", "pos")
        .agg(P.round6(F.avg(F.col("val").cast("double"))).alias("mu"))
    )
    return dims.groupBy("m", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mu"))), lambda s: s["mu"]
        ).alias("centroid")
    )


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Driver-side left-fold dot — bit-identical to the oracle's chain
    (Python floats ARE IEEE doubles; same order, same bits)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _code_pos_exprs(
    cb: dict[tuple[int, int], list[float]],
    n_sub: int,
    subdim: int,
) -> list[tuple[list[int], "F.Column"]]:
    """Per subspace: (trained code ids ascending, 1-based POSITION column of
    the L2-argmin code among them over the raw vector column ``v``) — ties
    to the smaller code via array_position-of-first-min. The position
    indexes any literal lookup array built in the same code order. Codes
    missing from ``cb`` (a seed that kept no members in the Lloyd step)
    simply don't compete — exactly like the oracle, whose codebook rows
    don't exist for them."""
    out = []
    for mm, codes_m in enumerate(_codes_by_sub(cb, n_sub)):
        sub = F.slice(F.col("v"), mm * subdim + 1, subdim)
        # one 2-D centroid literal + transform instead of K unrolled L2
        # chains: the loop body compiles ONCE (the unrolled form built
        # ~MB expression trees and dominated wall time in codegen), and
        # the arithmetic per element — fold order included — is identical,
        # so scores stay bit-for-bit the same as the oracle's chains
        cents2d = F.array(
            *[F.array(*[F.lit(x) for x in cb[(mm, c)]]) for c in codes_m]
        )
        dists = F.transform(cents2d, lambda c: _l2(sub, c))
        out.append(
            (codes_m, F.array_position(dists, F.array_min(dists)).cast("int"))
        )
    return out


def _codes_by_sub(cb: dict[tuple[int, int], list[float]], n_sub: int) -> list[list[int]]:
    """Per subspace, the trained code ids ascending — the shared ordering
    every position column / literal lookup array is built in."""
    return [sorted(c for (m2, c) in cb if m2 == mm) for mm in range(n_sub)]


def pq_encode(
    emb: DataFrame,
    cb: dict[tuple[int, int], list[float]],
    n_sub: int = P.PQ_M,
    subdim: int = P.PQ_SUBDIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, pos array<int>): the WRITE-TIME PQ encode — each vector's
    per-subspace 1-based code POSITION (index into that subspace's trained
    codes ascending, the same ordering the ADC literal arrays use). This
    is the stored byte-code table of the Faiss / k-NN ``pq`` encoder:
    computed once at ingest from the float column, after which every
    coarse pass reads ONLY this table (M small ints per vector, the 32×
    I/O story at M=8 over 64 float32 dims) and never re-encodes."""
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    pos_exprs = _code_pos_exprs(cb, n_sub, subdim)
    return base.select(
        "vec_id", F.array(*[pos for _codes, pos in pos_exprs]).alias("pos")
    )


def _stored_positions(
    cb: dict[tuple[int, int], list[float]], n_sub: int
) -> list[tuple[list[int], "F.Column"]]:
    """The :func:`_adc_lookup` positions input read from a stored ``pos``
    column (see :func:`pq_encode`) instead of inline-encoded floats."""
    return [
        (codes_m, F.element_at(F.col("pos"), mm + 1))
        for mm, codes_m in enumerate(_codes_by_sub(cb, n_sub))
    ]


def _adc_lookup(
    cb: dict[tuple[int, int], list[float]],
    qv: list[float],
    positions: list[tuple[list[int], "F.Column"]],
    subdim: int,
) -> "F.Column":
    """The round4 ADC coarse score of ONE query vector given the shared
    per-subspace code positions: approximate cosine = Σ_m dot(q_m, c_m) /
    (‖q‖ · sqrt(Σ_m ‖c_m‖²)), from literal per-(m, code) partial-dot and
    squared-norm lookups accumulated left-to-right across subspaces."""
    # math.sqrt is correctly rounded on every platform (pow(x, 0.5) is
    # not guaranteed to be), matching the oracle's sqrt() bit-for-bit
    qnorm = math.sqrt(_fold_dot(qv, qv))
    adot = None
    an2 = None
    for mm, (codes_m, pos) in enumerate(positions):
        qs = qv[mm * subdim : (mm + 1) * subdim]
        pd = F.element_at(
            F.array(*[F.lit(_fold_dot(qs, cb[(mm, c)])) for c in codes_m]), pos
        )
        pn = F.element_at(
            F.array(*[F.lit(_fold_dot(cb[(mm, c)], cb[(mm, c)])) for c in codes_m]),
            pos,
        )
        adot = pd if adot is None else (adot + pd)
        an2 = pn if an2 is None else (an2 + pn)
    return P.round4(adot / (F.lit(qnorm) * F.sqrt(an2)))


def _codebook(
    emb: DataFrame,
    codebooks: DataFrame | None,
    n_sub: int,
    n_codes: int,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[tuple[int, int], list[float]]:
    """The ``(m, code) → centroid`` table the ADC literals are built from:
    ``codebooks`` (trained by :func:`pq_codebooks` when None) collected
    with a bound of ``n_sub × n_codes`` rows. Each entry is checked
    against the ``n_sub × subdim`` layout: a codebook trained for another
    layout raises ValueError instead of scoring wrongly (``zip_with``
    truncates a short subvector, and a subspace past ``n_sub`` is never
    looked up)."""
    if codebooks is None:
        codebooks = pq_codebooks(emb, n_sub, n_codes, subdim, id_col, vec_col)
    bound = int(n_sub) * int(n_codes)
    rows = codebooks.collect()
    if len(rows) > bound:
        raise ValueError(
            f"codebook has {len(rows)} rows, over n_sub × n_codes = {bound} — it "
            "was trained for another layout"
        )
    cb: dict[tuple[int, int], list[float]] = {}
    for r in rows:
        mm, code, cent = int(r["m"]), int(r["code"]), [float(x) for x in r["centroid"]]
        if len(cent) != subdim or not 0 <= mm < n_sub:
            raise ValueError(
                f"codebook entry (m={mm}, code={code}) has subvector length "
                f"{len(cent)}, expected {subdim} over {n_sub} subspaces — a "
                "codebook trained for another layout would silently produce "
                "wrong ADC scores (zip_with truncates)"
            )
        cb[(mm, code)] = cent
    return cb


def ann_pq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = P.ANN_K,
    oversample: int = 3,
    n_sub: int = P.PQ_M,
    n_codes: int = P.PQ_K,
    subdim: int = P.PQ_SUBDIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Two-phase PQ search with exact rescore — the byte-code counterpart
    of :func:`ann_quantized_rescore_topk` at 32× (not 4×) compression
    (M=8 one-byte codes over 64 float32 dims; 64× at M=4).

    Coarse pass: each vector's code word (per-subspace L2 argmin against
    the codebooks, ties to the smaller code — read from the stored
    ``codes`` table, the write-time :func:`pq_encode` artifact, or
    computed inline) is scored via ADC: approximate
    cosine = Σ_m dot(q_m, c_{m,code_m}) / (‖q‖ · sqrt(Σ_m ‖c_{m,code_m}‖²)),
    with the per-(m, code) partial dots and squared norms DRIVER-computed
    from the collected codebooks — O(M·K) literals, the probe-list lesson:
    a bounded driver table beats a join because the scan stays one
    zero-shuffle codegen pass ending in TakeOrderedAndProject. Exact pass:
    float cosine over the k×oversample window via a semi-join; the float
    table is never fully read at query time. The stored and the inline
    code positions are the same ints, so the rows are the same.

    Deterministic contract (oracle-checkable): round4 coarse score,
    vec_id-asc tie-break, window = k×oversample, exact rescore round4 with
    the same tie-break, self excluded. Every sum (codebook training means,
    ADC partials, score accumulation) is left-associated in both engines.
    """
    cb = _codebook(emb, codebooks, n_sub, n_codes, subdim, id_col, vec_col)
    e = _vectors(emb, id_col, vec_col)
    q, qv = _query_row(e, query_id), _query_vector(e, query_id)
    if codes is not None:
        cand, positions = codes, _stored_positions(cb, n_sub)
    else:
        cand, positions = e, _code_pos_exprs(cb, n_sub, subdim)
    coarse = cand.where(F.col("vec_id") != query_id).select(
        "vec_id", _adc_lookup(cb, qv, positions, subdim).alias("cscore")
    )
    return _top(_cosine_to(_window(coarse, k, oversample, e), q, query_id), k)


def ann_ivfpq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = P.ANN_K,
    oversample: int = 3,
    n_lists: int = P.IVF_N_LISTS,
    nprobe: int = P.IVF_NPROBE,
    n_sub: int = P.PQ_M,
    n_codes: int = P.PQ_K,
    subdim: int = P.PQ_SUBDIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF×PQ — the Faiss ``IVF<n>,PQ<m>`` architecture (and the reference
    k-NN engine's IVF method with the `pq` encoder): the coarse quantizer
    prunes the corpus to ``nprobe/n_lists`` (partition pruning on the
    list-partitioned table at scale), PQ codes score the probed candidates
    via the ADC lookup (no float I/O), and the exact float cosine rescores
    only the k×oversample window.

    This closes the honest-cost gap of the flat quantized paths
    (:func:`ann_pq_topk` / :func:`ann_quantized_rescore_topk` coarse passes
    scan the whole byte table by definition): here the scan itself is
    probe-bounded, so query cost tracks nprobe/n_lists of the corpus —
    the sublinear plan the 100-TB deployment runs. Stored ``codes`` with a
    ``list_id`` column (Faiss keeps PQ codes inside the IVF lists the same
    way) are probed in place of the assignment table, so the probed scan
    reads only code rows.

    Deterministic contract: probe lists and codebooks exactly as in
    :func:`ann_ivf_topk` / :func:`ann_pq_topk` (PQ trains on raw
    subvectors corpus-wide, not per-list residuals — documented
    simplification); ADC score round4, vec_id-asc tie-break, self
    excluded; window k×oversample; exact rescore round4 same tie-break.
    """
    cents, asg = _ivf_tables(emb, centroids, assigned, n_lists, id_col, vec_col)
    cb = _codebook(emb, codebooks, n_sub, n_codes, subdim, id_col, vec_col)
    e = _vectors(emb, id_col, vec_col)
    q, qv = _query_row(e, query_id), _query_vector(e, query_id)
    if codes is not None and "list_id" in codes.columns:
        cand, positions = codes, _stored_positions(cb, n_sub)
    else:
        cand, positions = asg, _code_pos_exprs(cb, n_sub, subdim)
    coarse = (
        _probed(cand, cents, F.array(*[F.lit(x) for x in qv]), nprobe)
        .where(F.col("vec_id") != query_id)
        .select("vec_id", _adc_lookup(cb, qv, positions, subdim).alias("cscore"))
    )
    return _top(_cosine_to(_window(coarse, k, oversample, e), q, query_id), k)


def ann_pq_batch_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = P.ANN_K,
    oversample: int = 3,
    n_sub: int = P.PQ_M,
    n_codes: int = P.PQ_K,
    subdim: int = P.PQ_SUBDIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """(qid, vec_id, score): MANY PQ-ADC queries through ONE code scan —
    the batch twin of :func:`ann_pq_topk`, completing the batch family at
    the PQ tier (bm25 / dense / hybrid / ivf / int8 shipped r5–r7).

    The expensive per-row work — the per-subspace L2 argmin that turns a
    raw vector into its code word (the stored ``codes`` table, or computed
    inline) — is done ONCE per vector in a single projection; each of the
    Q queries then costs only M literal-array lookups on the shared code
    positions, emitted as Q (qid, cscore) rows per vector from the same
    scan (explode of a literal-built struct array — no join, no
    re-encode). Per-qid round4-then-cut k×oversample windows (the
    single-query contract per qid), one exact-rescore pass over the window
    union via a broadcast (qid, vec_id) join, self excluded. Amortization
    is the batch win: Q queries cost one encode scan + Q·k·oversample
    exact rescores instead of Q scans."""
    ids = [int(q) for q in query_ids]
    cb = _codebook(emb, codebooks, n_sub, n_codes, subdim, id_col, vec_col)
    e = _vectors(emb, id_col, vec_col)
    rows = _query_rows(e, ids).collect()
    if len(rows) > len(ids):
        raise ValueError(
            f"collected {len(rows)} query vectors for {len(ids)} query ids — "
            f"{id_col} is not unique"
        )
    qvs = {int(r["qid"]): [float(x) for x in r["qv"]] for r in rows}
    if not qvs:  # no query id is in the table: no rows, as the int8 twin
        return local_table(emb.sparkSession, [], "qid long, vec_id long, score double")
    if codes is not None:
        enc, shared = codes.select("vec_id", "pos"), _stored_positions(cb, n_sub)
    else:
        pos_exprs = _code_pos_exprs(cb, n_sub, subdim)
        enc = e.select(
            "vec_id",
            *[pos.alias(f"_p{mm}") for mm, (_codes, pos) in enumerate(pos_exprs)],
        )
        shared = [
            (codes_m, F.col(f"_p{mm}")) for mm, (codes_m, _p) in enumerate(pos_exprs)
        ]
    structs = [
        F.struct(
            F.lit(qid).alias("qid"),
            _adc_lookup(cb, qvs[qid], shared, subdim).alias("cscore"),
        )
        for qid in ids
        if qid in qvs  # an id not in the table has no rows
    ]
    coarse = (
        enc.select("vec_id", F.explode(F.array(*structs)).alias("s"))
        .select("vec_id", F.col("s.qid").alias("qid"), F.col("s.cscore").alias("cscore"))
        .where(F.col("vec_id") != F.col("qid"))
    )
    window = top_per_key(
        coarse, "qid", int(k) * int(oversample), score="cscore", id_col="vec_id"
    ).select("qid", "vec_id")
    return _batch_rescore(e, window, ids, k)

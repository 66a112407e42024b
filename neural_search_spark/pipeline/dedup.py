"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

All plans are declarative DataFrame ops (JVM-side, whole-stage codegen) —
no Python in the hot path. Scale notes per operator:

- exact: one shuffle on sha256(content); at 10^12 rows this is the
  cheapest possible dedup (hash-partitioned groupBy, map-side combine).
- MinHash+LSH: shingle explode → per-doc signature agg (one shuffle on
  docID) → band explode → self-join on (band_idx, band_val) (one shuffle
  on the band key; bucket sizes are bounded by the LSH S-curve, and AQE
  skew-join splits any hot bucket) → exact-Jaccard verification joins on
  shingle hash restricted to the candidate pairs. No all-pairs product
  ever materializes.
- SimHash: 64-bit fingerprint (two 32-bit words), 4 bands × 16 bits make
  the band join an *exact* prefilter for Hamming ≤ 3 (pigeonhole) with
  65,536 buckets per band — scalable AND lossless.
- embedding near-dup: random-hyperplane buckets prefilter the self-join;
  exact cosine verifies inside each bucket.

The reference has no dedup (it is a search plugin); these follow its
inference-skip idea (``processor/optimization/InferenceFilter.java``:
reuse work when ``sha256(content)`` is unchanged) extended to the
standard training-data dedup family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from neural_search_spark.analysis.tokenizer import TOKEN_PATTERN
from neural_search_spark.pipeline import params as P


def _tokens(col: str) -> Column:
    """JVM-side analyzer: lowercase + maximal [a-z0-9_]+ runs (same
    contract as the tokenizer pandas UDF, but codegen-friendly here)."""
    return F.expr(f"regexp_extract_all(lower({col}), '{TOKEN_PATTERN}', 0)")


def _hash32(col: Column) -> Column:
    """32-bit md5-prefix hash (params.hash32_*): identical in Spark,
    DuckDB and Python."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dups(df: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """Rows whose content is an exact duplicate of an earlier (min-id) row.

    Returns (docID, keep_docID): one row per *redundant* document, mapping
    it to the group's keeper. One shuffle on the content hash.
    """
    hashed = df.select(F.col(id_col).alias("docID"), F.sha2(F.col(text_col), 256).alias("h"))
    keepers = hashed.groupBy("h").agg(F.min("docID").alias("keep_docID"))
    return (
        hashed.join(keepers, "h")
        .where(F.col("docID") != F.col("keep_docID"))
        .select("docID", "keep_docID")
    )


# ---------------------------------------------------------------------------
# Shingles (token n-grams) — shared by MinHash and n-gram Jaccard
# ---------------------------------------------------------------------------


def _shingle_hash_udf(n: int):
    """Arrow-batched content → array of 32-bit shingle hashes.

    Measured on sf0.1 (6.7k docs, 340k shingles): the equivalent JVM
    expression chain (``transform(sequence, i -> conv(substring(md5(
    concat_ws(slice(toks,i,n))))))``) costs 6-9 s warm because Catalyst
    re-evaluates the token array per lambda element and the md5→hex→conv
    chain allocates several strings per shingle; this Arrow batch does the
    same hash (identical ``params.hash32_py`` contract, shared with the
    DuckDB oracle) in ~3 s — the same vectorized-UDF pattern as the
    engine's tokenizer. One Arrow round-trip per batch, no per-row Spark
    UDF calls."""
    import hashlib
    import re

    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    from neural_search_spark.analysis.tokenizer import TOKEN_PATTERN

    tok_re = re.compile(TOKEN_PATTERN)
    md5 = hashlib.md5

    # no type hints: dedup.py uses `from __future__ import annotations`,
    # which stringifies them beyond pyspark's hint resolver
    @F.pandas_udf(ArrayType(LongType()))
    def _sh(texts):
        out = []
        for t in texts.fillna(""):
            toks = tok_re.findall(t.lower())
            # per-doc DEDUP here (dict preserves first occurrence): every
            # consumer treats shingles as a per-doc SET, and doc-local
            # dedup inside the batch makes the former corpus-wide
            # .distinct() shuffle a no-op (docID is part of its key).
            # int.from_bytes(digest[:4]) == int(hexdigest()[:8], 16) —
            # same 32-bit value, no hex-string round-trip per shingle.
            out.append(
                list(
                    dict.fromkeys(
                        int.from_bytes(
                            md5((" ".join(toks[i : i + n])).encode()).digest()[:4],
                            "big",
                        )
                        for i in range(len(toks) - n + 1)
                    )
                )
            )
        return pd.Series(out)

    return _sh


def doc_shingles(
    df: DataFrame, text_col: str = "content", id_col: str = "docID", n: int = P.SHINGLE_N
) -> DataFrame:
    """(docID, sh): distinct 32-bit hashes of token n-gram shingles.

    Distinctness is doc-local and established INSIDE the hash UDF (each
    row's array is already a set, and docID is part of the output key), so
    no corpus-wide ``.distinct()`` exchange is needed — the old global
    distinct shuffled every shingle row once for a per-doc property."""
    return df.select(
        F.col(id_col).alias("docID"),
        F.explode(_shingle_hash_udf(n)(F.col(text_col))).alias("sh"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(docID, m0..m{k-1}): k permutation-min hashes per doc.

    Docs with zero shingles drop out (no signature — matches the oracle).
    Map-side partial min keeps the shuffle tiny regardless of doc size.
    """
    aggs = [
        F.min(
            (F.lit(P.MINHASH_A[i]) * F.col("sh") + F.lit(P.MINHASH_B[i])) % F.lit(P.MERSENNE_P)
        ).alias(f"m{i}")
        for i in range(P.NUM_MINHASHES)
    ]
    return shingles.groupBy("docID").agg(*aggs)


def _band_col(b: int) -> Column:
    acc = F.lit(0).cast("long")
    for r in range(P.LSH_ROWS):
        acc = (acc * 31 + F.col(f"m{b * P.LSH_ROWS + r}")) % F.lit(P.MERSENNE_P)
    return acc


def lsh_band_rows(sigs: DataFrame) -> DataFrame:
    """(docID, band_idx, band_val): ALL band values in one projection.

    A single ``select`` + ``posexplode`` of the band array computes every
    band in one pass over the signatures — the previous per-band
    ``unionByName`` loop re-executed the upstream minhash aggregation once
    per band per join side (up to 8×)."""
    return sigs.select(
        "docID",
        F.posexplode(F.array(*[_band_col(b) for b in range(P.LSH_BANDS)])).alias(
            "band_idx", "band_val"
        ),
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """(docA, docB) distinct pairs sharing at least one LSH band.

    Callers fanning the same signatures into both join sides should
    persist them first (see :func:`minhash_near_dups`)."""
    bands = lsh_band_rows(sigs)
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.docID") < F.col("y.docID")),
        )
        .select(F.col("x.docID").alias("docA"), F.col("y.docID").alias("docB"))
        .distinct()
    )


def verify_jaccard(shingles: DataFrame, pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps >= threshold.

    Returns (docA, docB, jaccard). The shingle join is restricted to the
    candidate pairs, so cost is O(candidates × shared shingles), not
    all-pairs.
    """
    sizes = shingles.groupBy("docID").agg(F.count("*").alias("cnt"))
    sa = shingles.select(F.col("docID").alias("docA"), "sh")
    sb = shingles.select(F.col("docID").alias("docB"), "sh")
    inter = (
        pairs.join(sa, "docA")
        .join(sb, ["docB", "sh"])
        .groupBy("docA", "docB")
        .agg(F.count("*").alias("inter"))
    )
    ca = sizes.select(F.col("docID").alias("docA"), F.col("cnt").alias("ca"))
    cb = sizes.select(F.col("docID").alias("docB"), F.col("cnt").alias("cb"))
    return (
        inter.join(ca, "docA")
        .join(cb, "docB")
        .select(
            "docA",
            "docB",
            (F.col("inter") / (F.col("ca") + F.col("cb") - F.col("inter"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "content",
    id_col: str = "docID",
    threshold: float = P.MINHASH_JACCARD_THRESHOLD,
    persist: bool = True,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact shingle Jaccard.

    Result contract (deterministic, oracle-checkable): pairs that share
    >= 1 LSH band AND have exact Jaccard >= threshold.

    ``persist`` (default on) caches the shingle and signature tables:
    downstream they feed BOTH sides of the band self-join plus the
    verification joins (up to 5 references), and without a cache Spark
    re-runs the tokenize+explode+agg lineage per reference. On a cluster
    run over 100 TB the equivalent move is checkpointing both tables to
    parquet/Iceberg between stages (same plan cut, spill-safe) — cache is
    the local[n] stand-in.
    """
    sh = doc_shingles(df, text_col, id_col)
    sigs = minhash_signatures(sh)
    if persist:
        sh = sh.persist()
        sigs = sigs.persist()
    pairs = lsh_candidate_pairs(sigs)
    return verify_jaccard(sh, pairs, threshold).select(
        "docA", "docB", P.round4(F.col("jaccard")).alias("jaccard")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "docA",
    b_col: str = "docB",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(docID, cluster_id) for every doc in a near-dup pair: connected
    components over the verified pair edges, cluster_id = MIN docID in the
    component (so the cluster id IS the canonical keeper — the dedup
    keeper rule).

    A dedup pipeline needs cluster ids, not just pairs: "keep one doc per
    group" is only well-defined after transitive closure (A~B, B~C must
    collapse to one keeper even if A~C was never emitted by LSH).

    Algorithm: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbors' labels; fixpoint in
    O(component diameter) rounds. Near-dup components are shallow (stars /
    short chains), so this converges in a handful of rounds where a
    general-graph large-star/small-star dance isn't warranted. Scale
    shape: the edge list is the (tiny) LSH-verify output, never the
    corpus; each round is one groupBy(docID) shuffle over edges + labels,
    and the convergence check is a 1-row aggregate. Each round's label
    blocks are released (``unpersist``) once the next round is
    checkpointed, so executor-local storage stays O(1 round), not
    O(rounds).

    ``checkpoint_dir`` — when set, each round cuts lineage with *reliable*
    ``checkpoint()`` into that directory (HDFS/S3 on a real cluster)
    instead of ``localCheckpoint()``. localCheckpoint stores blocks on
    executor-local disk and LOSES them if an executor is evicted — fine
    for local[] runs, fatal mid-iteration on a 100 TB cluster job; pass a
    reliable dir there.
    """
    # Lineage must be cut each round: iterative algorithms grow an
    # exponential plan if each round still references the previous rounds —
    # truncating per round keeps every round O(edges).
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = _cut(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    labels = _cut(
        edges.select(F.col("src").alias("docID"))
        .distinct()
        .withColumn("label", F.col("docID"))
    )
    for _ in range(max_iter):
        neighbor = (
            edges.join(labels, edges["src"] == labels["docID"])
            .select(F.col("dst").alias("docID"), "label")
        )
        new_labels = _cut(
            neighbor.unionByName(labels.select("docID", "label"))
            .groupBy("docID")
            .agg(F.min("label").alias("label"))
        )
        n_changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "docID")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # new_labels is checkpointed (no lineage back to the old labels),
        # and the convergence count above already consumed both — safe to
        # release the previous round's blocks now.
        labels.unpersist()
        labels = new_labels
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select("docID", F.col("label").alias("cluster_id")).orderBy(
        "docID"
    )


def canonical_per_cluster(
    clusters: DataFrame,
    corpus: DataFrame,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """The KEEP decision a dedup pipeline actually ships: one canonical
    doc per near-dup cluster → (cluster_id, canonical, n_members,
    canonical_tokens).

    Keeper rule: most analyzed tokens wins (keep the highest-content
    variant of the duplicate group), tie-break lowest docID — integer
    sort keys only, so engine and oracle cut identically with no float
    boundary. This refines the min-docID label that
    :func:`connected_components` uses as the cluster id (the id stays
    min-docID; the KEPT doc is chosen by content).

    Scale shape: ``clusters`` is LSH-verify-sized (never the corpus); the
    token counts come from one semi-joined projection of the corpus, and
    the per-cluster argmax is a window partitioned BY cluster — no global
    sort, no corpus shuffle."""
    dl = corpus.select(
        F.col(id_col).alias("docID"),
        F.size(_tokens(text_col)).cast("long").alias("dl"),
    )
    from pyspark.sql import Window

    m = clusters.join(dl, "docID")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("dl").desc(), F.col("docID").asc()
    )
    best = (
        m.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("docID").alias("canonical"),
            F.col("dl").alias("canonical_tokens"),
        )
    )
    members = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        best.join(members, "cluster_id")
        .select("cluster_id", "canonical", "n_members", "canonical_tokens")
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """(docID, sim_lo, sim_hi): 64-bit tf-weighted SimHash as two 32-bit
    words (params.SIMHASH_* — the two-word form keeps all bit arithmetic
    inside signed int64 in Spark, DuckDB and Python)."""
    tf = (
        df.select(F.col(id_col).alias("docID"), F.explode(_tokens(text_col)).alias("term"))
        .groupBy("docID", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("th_lo", _hash32(F.col("term")))
        .withColumn("th_hi", _hash32(F.concat(F.col("term"), F.lit(P.SIMHASH_HI_SUFFIX))))
    )

    def _g(src: str, j: int, name: str) -> Column:
        return F.sum(
            F.when(F.shiftright(F.col(src), j).bitwiseAND(F.lit(1)) == 1, F.col("tf")).otherwise(
                -F.col("tf")
            )
        ).alias(name)

    w = P.SIMHASH_WORD_BITS
    gs = [_g("th_lo", j, f"gl{j}") for j in range(w)] + [
        _g("th_hi", j, f"gh{j}") for j in range(w)
    ]
    per_doc = tf.groupBy("docID").agg(*gs)

    def _word(prefix: str) -> Column:
        acc = F.lit(0).cast("long")
        for j in range(w):
            acc = acc + F.when(F.col(f"{prefix}{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        return acc

    return per_doc.select("docID", _word("gl").alias("sim_lo"), _word("gh").alias("sim_hi"))


def simhash_band_rows(fp: DataFrame) -> DataFrame:
    """(docID, sim_lo, sim_hi, band_idx, band_val): all 4 × 16-bit bands in
    ONE projection (posexplode — same single-pass shape as
    :func:`lsh_band_rows`). Bands 0..1 slice sim_lo, 2..3 slice sim_hi."""
    mask = (1 << P.SIMHASH_BAND_BITS) - 1

    def _slice(word: str, k: int) -> Column:
        return F.shiftright(F.col(word), k * P.SIMHASH_BAND_BITS).bitwiseAND(F.lit(mask)).cast("long")

    per_word = P.SIMHASH_BANDS_PER_WORD
    band_vals = [
        _slice("sim_lo" if b < per_word else "sim_hi", b % per_word)
        for b in range(P.SIMHASH_BANDS)
    ]
    return fp.select(
        "docID",
        "sim_lo",
        "sim_hi",
        F.posexplode(F.array(*band_vals)).alias("band_idx", "band_val"),
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "content",
    id_col: str = "docID",
    max_hamming: int = P.SIMHASH_MAX_HAMMING,
    persist: bool = True,
) -> DataFrame:
    """(docA, docB, hamming) pairs with 64-bit Hamming <= max_hamming.

    Exact result: 4 bands × 16 bits cannot miss a pair within Hamming 3
    (pigeonhole: ≤3 differing bits cannot touch all 4 bands), so this
    equals the brute-force all-pairs answer while shuffling only on band
    keys — 65,536 buckets per band keeps bucket occupancy ~n/65k per band
    value at 100× corpus (the scale fix over the old 8-bit bands).
    ``persist`` caches the fingerprints feeding both self-join sides (the
    cluster-scale equivalent is a parquet checkpoint)."""
    if max_hamming >= P.SIMHASH_BANDS:
        raise ValueError(
            f"band prefilter is exact only for max_hamming < {P.SIMHASH_BANDS} "
            f"(got {max_hamming}); add bands or verify exhaustively"
        )
    fp = simhash(df, text_col, id_col)
    if persist:
        fp = fp.persist()
    bands = simhash_band_rows(fp)
    x, y = bands.alias("x"), bands.alias("y")
    ham = F.bit_count(F.col("x.sim_lo").bitwiseXOR(F.col("y.sim_lo"))) + F.bit_count(
        F.col("x.sim_hi").bitwiseXOR(F.col("y.sim_hi"))
    )
    cand = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.docID") < F.col("y.docID")),
        )
        .select(
            F.col("x.docID").alias("docA"),
            F.col("y.docID").alias("docB"),
            ham.alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard within a blocking key
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "content",
    id_col: str = "docID",
    threshold: float = P.NGRAM_JACCARD_THRESHOLD,
    persist: bool = True,
) -> DataFrame:
    """Exact shingle-Jaccard pairs within a blocking key (e.g. lang).

    The blocking key bounds the self-join; at 10^12 scale you'd compose
    this after an LSH prefilter (see minhash_near_dups) rather than rely
    on blocking alone. ``persist`` caches the shingle table — it feeds
    both self-join sides plus the per-doc size aggregate (3 references),
    and the tokenize+hash lineage would otherwise re-run per reference.
    """
    sh = doc_shingles(df, text_col, id_col).join(
        df.select(F.col(id_col).alias("docID"), F.col(block_col).alias("blk")), "docID"
    )
    if persist:
        sh = sh.persist()
    sa = sh.select(F.col("docID").alias("docA"), "sh", "blk")
    sb = sh.select(F.col("docID").alias("docB"), "sh", "blk")
    inter = (
        sa.join(sb, ["sh", "blk"])
        .where(F.col("docA") < F.col("docB"))
        .groupBy("docA", "docB")
        .agg(F.count("*").alias("inter"))
    )
    sizes = sh.groupBy("docID").agg(F.count("*").alias("cnt"))
    ca = sizes.select(F.col("docID").alias("docA"), F.col("cnt").alias("ca"))
    cb = sizes.select(F.col("docID").alias("docB"), F.col("cnt").alias("cb"))
    return (
        inter.join(ca, "docA")
        .join(cb, "docB")
        .select(
            "docA",
            "docB",
            P.round4(
                F.col("inter") / (F.col("ca") + F.col("cb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (hyperplane-LSH prefilter + exact verify)
# ---------------------------------------------------------------------------


def semantic_dedup(
    emb: DataFrame,
    n_lists: int | None = None,
    threshold: float = P.COSINE_DUP_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the trained coarse
    quantizer (k-means — :func:`neural_search_spark.pipeline.ann.ivf_centroids`),
    compare pairs ONLY within a cluster, and drop every vector that has a
    near-duplicate (round4 cosine ≥ ``threshold``) with a LOWER id in its
    cluster — the paper's per-cluster greedy keep-one rule with a
    deterministic keeper. Returns ``(vec_id, keep)`` for every vector.

    vs :func:`embedding_near_dups` (LSH sign buckets): the cluster buckets
    here are data-adaptive (trained centroids follow density), the
    clustering is the SAME ingest-time artifact the IVF index uses, and
    the scan shape is identical — a self-join keyed by ``list_id``, never
    all-pairs; at 100 TB the table is partitioned by ``list_id`` so each
    cluster's pair block is partition-local.

    ``n_lists=None`` (the default) sizes the cluster count from the corpus
    via :func:`neural_search_spark.pipeline.params.semantic_dedup_n_lists`
    — ``max(8, ceil(sqrt(N)), ceil(N / 1024))`` — so the EXPECTED cluster
    width stays constant as the corpus grows and total pair work stays
    linear (a fixed list count decays into all-pairs-divided-by-a-constant
    at 100 TB). The one extra ``count()`` is ingest-time work: clustering
    is a write-time artifact, not a per-query cost.
    """
    from neural_search_spark.pipeline.ann import _dot, ivf_assign, ivf_centroids

    if n_lists is None and centroids is None:
        n_lists = P.semantic_dedup_n_lists(emb.count())
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, n_lists, id_col, vec_col)
    )
    asg = assigned if assigned is not None else ivf_assign(emb, cents, id_col, vec_col)
    # per-row norm precomputed BEFORE the self-join (same reasoning as
    # embedding_near_dups: inside the join it would re-run per PAIR)
    b = asg.select(
        F.col("vec_id").alias("id"),
        "v",
        "list_id",
        F.sqrt(_dot("v", "v")).alias("nrm"),
    )
    x, y = b.alias("x"), b.alias("y")
    dot = _dot("x.v", "y.v")
    dropped = (
        x.join(
            y,
            (F.col("x.list_id") == F.col("y.list_id")) & (F.col("x.id") < F.col("y.id")),
        )
        .where(
            P.round4(dot / (F.col("x.nrm") * F.col("y.nrm"))) >= F.lit(float(threshold))
        )
        .select(F.col("y.id").alias("vec_id"))
        .distinct()
    )
    return (
        emb.select(F.col(id_col).alias("vec_id"))
        .join(dropped.withColumn("_drop", F.lit(True)), "vec_id", "left")
        .select("vec_id", F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"))
        .orderBy("vec_id")
    )


#: pair-block sizing for the vectorized in-bucket verify: chunks are cut so
#: one block's pair matrix is ~(TARGET_PAIR_CHUNK_ROWS)^2 — bounded task
#: memory at any corpus size (the chunk count G is DERIVED from the data,
#: never a constant tuned to one scale).
PAIR_CHUNK_TARGET_ROWS = 4096
PAIR_CHUNK_MAX = 64


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = P.COSINE_DUP_THRESHOLD,
) -> DataFrame:
    """(idA, idB, cosine) pairs in the same LSH bucket with cosine >= threshold.

    Identical/near-identical vectors always share the bucket (same signs),
    so the prefilter is lossless for the near-dup regime; the exact cosine
    runs only inside buckets.

    Execution shape: the in-bucket all-pairs verify is the quadratic hot
    loop (N²/2^planes pair scores), so it runs as an Arrow-batched numpy
    kernel instead of a codegen self-join — the per-pair 64-term fold as a
    zip_with/aggregate expression is interpreted per element, which at sf1
    was ~220 s of the whole bench. Each bucket is cut into G id-hash
    chunks and every unordered chunk pair (a, b) scores as one independent
    task (block-parallel, bounded memory; G derives from the corpus size).

    Bit-exactness: the kernel accumulates the dot left-to-right per
    dimension (acc = acc + x_d·y_d over float64 arrays), which is the
    identical IEEE operation order of the old fold expression and the
    oracle's unrolled chain; np.sqrt/np.floor are the same correctly-
    rounded IEEE ops as Spark's sqrt/floor, so every cosine is
    bit-for-bit what the self-join produced.
    """
    import numpy as np
    import pandas as pd

    n_total = emb.count()  # one cheap metadata-driven job, sizes the chunks
    per_bucket = max(1.0, float(n_total) / float(1 << P.N_HYPERPLANES))
    g = int(min(PAIR_CHUNK_MAX, max(1, -(-int(per_bucket) // PAIR_CHUNK_TARGET_ROWS))))

    # the sign bucket computes in the same Arrow pass as the rest of the
    # kernel pipeline: the JVM expression form (4 zip_with/aggregate plane
    # dots per row) is interpreted per element and cost ~1s of the scan at
    # sf1; the numpy accumulation below is the identical left-fold order
    # over float64 (stored float32 widens exactly on both paths), so every
    # sign — and bucket — matches the expression and the oracle bit-for-bit
    planes = [list(map(float, h)) for h in P.HYPERPLANES]

    @F.pandas_udf("int")
    def _bucket_udf(vecs):
        import numpy as np
        import pandas as pd

        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        vm = np.array([np.asarray(x, dtype="float64") for x in vecs])
        out = np.zeros(len(vecs), dtype="int32")
        for j, h in enumerate(planes):
            acc = np.zeros(len(vecs), dtype="float64")
            for d in range(vm.shape[1]):
                acc = acc + vm[:, d] * h[d]  # left-fold order
            out += (acc > 0).astype("int32") << j
        return pd.Series(out)

    b = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _bucket_udf(F.col(vec_col)).alias("bucket"),
        F.pmod(F.col(id_col), F.lit(g)).cast("int").alias("g"),
    )
    # replicate each row into every chunk-pair block it participates in:
    # blocks (g, j) for j >= g and (i, g) for i < g — exactly G copies.
    # NOTE: Spark's sequence(start, stop) counts DOWN when start > stop,
    # so the i < g leg must be guarded for g == 0 (sequence(0, -1) would
    # yield [0, -1]: a duplicated (0,0) block plus a bogus (-1,0) one,
    # i.e. duplicated output pairs whenever the chunk count > 1).
    empty_blocks = F.array().cast("array<struct<ga:int,gb:int>>")
    blocks = F.concat(
        F.transform(
            F.sequence(F.col("g"), F.lit(g - 1)),
            lambda j: F.struct(F.col("g").alias("ga"), j.alias("gb")),
        ),
        F.when(
            F.col("g") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("g") - 1),
                lambda i: F.struct(i.alias("ga"), F.col("g").alias("gb")),
            ),
        ).otherwise(empty_blocks)
        if g > 1
        else empty_blocks,
    )
    exploded = b.select(
        "id", "v", "bucket", "g", F.explode(blocks).alias("blk")
    ).select("id", "v", "bucket", "g", F.col("blk.ga").alias("ga"), F.col("blk.gb").alias("gb"))

    thr = float(threshold)

    def _score_block(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        _bucket, ga, gb = key
        empty = pd.DataFrame(
            {
                "idA": pd.Series(dtype="int64"),
                "idB": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        pdf = pdf.sort_values("id", kind="mergesort")
        same = int(ga) == int(gb)
        if same:
            ids_a = pdf["id"].to_numpy(dtype="int64")
            va = np.array([np.asarray(x, dtype="float64") for x in pdf["v"]])
            ids_b, vb = ids_a, va
        else:
            ma = pdf["g"].to_numpy() == int(ga)
            ids_a = pdf.loc[ma, "id"].to_numpy(dtype="int64")
            va = np.array([np.asarray(x, dtype="float64") for x in pdf.loc[ma, "v"]])
            mb = ~ma
            ids_b = pdf.loc[mb, "id"].to_numpy(dtype="int64")
            vb = np.array([np.asarray(x, dtype="float64") for x in pdf.loc[mb, "v"]])
        if len(ids_a) == 0 or len(ids_b) == 0:
            return empty

        def _norms(vm: "np.ndarray") -> "np.ndarray":
            acc = np.zeros(vm.shape[0], dtype="float64")
            for d in range(vm.shape[1]):
                acc = acc + vm[:, d] * vm[:, d]  # left-fold order
            return np.sqrt(acc)

        na, nb = _norms(va), _norms(vb)
        out_a: list = []
        out_b: list = []
        out_c: list = []
        # row-chunk the A side so the pair matrix stays bounded per step
        step = max(1, (1 << 23) // max(1, len(ids_b)))
        for s in range(0, len(ids_a), step):
            e = min(s + step, len(ids_a))
            acc = np.zeros((e - s, len(ids_b)), dtype="float64")
            for d in range(va.shape[1]):
                acc = acc + va[s:e, d][:, None] * vb[:, d][None, :]
            cos = acc / (na[s:e][:, None] * nb[None, :])
            c4 = np.floor(cos * 10000.0 + 0.5) / 10000.0
            mask = c4 >= thr
            # orient by id: the self-join emitted each unordered pair once
            # as (smaller id, larger id); cosine is bitwise symmetric
            # (per-dim products commute, fold order is the dim order).
            if same:
                mask &= ids_a[s:e][:, None] < ids_b[None, :]
            else:
                mask &= ids_a[s:e][:, None] != ids_b[None, :]
            ii, jj = np.nonzero(mask)
            if len(ii):
                ia, ib = ids_a[s + ii], ids_b[jj]
                lo = np.minimum(ia, ib)
                hi = np.maximum(ia, ib)
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(c4[ii, jj])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "idA": np.concatenate(out_a),
                "idB": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return exploded.groupBy("bucket", "ga", "gb").applyInPandas(
        _score_block, schema="idA long, idB long, cosine double"
    )


# -- exact-substring dedup (RefinedWeb/GPT-style duplicated-span stats) ------
SUBSTRING_N = 8  # word n-gram width for span matching


def substring_dup_stats(
    df: DataFrame,
    n: int = SUBSTRING_N,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """(docID, n_grams, n_dup_grams, dup_fraction): per-document fraction of
    word ``n``-gram positions whose n-gram also occurs in at least one
    OTHER document — the span-level signal behind exact-substring dedup
    (RefinedWeb / Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better": duplicated spans are removed even when the
    documents are not near-duplicates as wholes). This operator reports
    the per-doc duplicated-span mass; the scrub step drops or cuts docs
    above a threshold.

    Scale shape: tokenize + sliding n-grams are pure codegen array
    expressions; the corpus-wide duplicated-gram set is one
    (gram → distinct-doc-count) aggregation (hash-partitioned on the gram,
    map-side combine; boilerplate hot grams are bounded by AQE skew
    handling), then one semi-join back keyed on the same gram hash — the
    suffix array of the published approach is replaced by two gram-keyed
    exchanges, which is the shape that survives 100 TB. Docs shorter than
    ``n`` tokens report 0 grams and fraction 0.0.
    """
    from neural_search_spark.analysis.tokenizer import TOKEN_PATTERN

    toks = F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)")
    base = df.select(F.col(id_col).alias("docID"), toks.alias("_toks"))
    grams_arr = F.when(
        F.size("_toks") >= n,
        F.expr(
            f"transform(sequence(1, size(_toks) - {n - 1}),"
            f" i -> array_join(slice(_toks, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select("docID", F.explode(grams_arr).alias("gram"))
    dup_grams = (
        grams.select("gram", "docID")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("gram")
    )
    n_grams = grams.groupBy("docID").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    n_dup = (
        grams.join(dup_grams, "gram", "semi")
        .groupBy("docID")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_grams"))
    )
    ids = df.select(F.col(id_col).alias("docID"))
    return (
        ids.join(n_grams, "docID", "left")
        .join(n_dup, "docID", "left")
        .select(
            "docID",
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0).cast("long")).alias("n_dup_grams"),
            F.round(
                F.when(
                    F.coalesce("n_grams", F.lit(0)) > 0,
                    F.coalesce("n_dup_grams", F.lit(0).cast("long")).cast("double")
                    / F.col("n_grams").cast("double"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_fraction"),
        )
    )

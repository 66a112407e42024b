"""Training-data pipeline operators: deterministic splits and sequence
packing.

The reference is a search plugin with no training-data surface; these are
the operations a 100 TB LLM-pretraining pipeline runs downstream of the
dedup/quality stages in this package (SURVEY.md's pipeline scope). Both
ops are deterministic, engine-agnostic contracts shared with the DuckDB
oracle (:mod:`neural_search_spark.pipeline.sql`).

- :func:`split_assign` — hash-based train/val/test assignment. The split
  must be a pure function of the document identity (not of partitioning,
  sampling order, or cluster size) so reruns, backfills and multi-site
  processing agree doc-by-doc.
- :func:`pack_plan` — sequence-packing layout: documents are laid out in
  docID order on one global token tape and cut every ``budget`` tokens
  (the standard concat-then-cut LLM pretraining packing; documents may
  straddle a boundary). The op emits each doc's tape offset, owning pack,
  and how many packs it spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from neural_search_spark.analysis.tokenizer import analyzed_tokens

SPLIT_BUCKETS = 10000
DEFAULT_SPLITS = (("train", 9000), ("val", 500), ("test", 500))  # per-10000 weights


def split_assign(
    df: DataFrame,
    id_col: str = "docID",
    splits: tuple = DEFAULT_SPLITS,
    seed: str = "split-v1",
) -> DataFrame:
    """(docID, bucket, split): deterministic hash split.

    bucket = hash32(seed || ':' || docID) mod 10000; split boundaries are
    the cumulative weights (train < 9000 <= val < 9500 <= test). The hash
    is the engine-wide md5-prefix hash32 (``pipeline/params.py``) so
    Spark, DuckDB and Python agree bit-for-bit; the ``seed`` string
    versions the split (changing it re-rolls every assignment).

    Scale shape: a single projection — no shuffle, no sampling, no state.
    """
    from neural_search_spark.pipeline import params as P

    total = sum(w for _, w in splits)
    if total != SPLIT_BUCKETS:
        raise ValueError(f"split weights must sum to {SPLIT_BUCKETS}, got {total}")
    bucket = F.expr(
        P.hash32_sql_spark(f"concat('{seed}', ':', CAST({id_col} AS STRING))")
    ) % SPLIT_BUCKETS
    expr = None
    acc = 0
    for name, w in splits:
        acc += w
        cond = F.col("bucket") < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return (
        df.select(F.col(id_col).alias("docID"))
        .withColumn("bucket", bucket.cast("int"))
        .withColumn("split", expr)
        .orderBy("docID")
    )


def _partition_offsets(totals: DataFrame, total_col: str) -> DataFrame:
    """(_pid, _off): each range partition's base offset — the running sum
    of ``total_col`` over every earlier partition of the per-partition
    ``totals`` aggregate (one row per partition), computed in the JVM."""
    from pyspark.sql import Window

    before = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    return totals.select(
        "_pid", F.coalesce(F.sum(total_col).over(before), F.lit(0)).cast("long").alias("_off")
    )


def pack_plan(
    df: DataFrame,
    budget: int,
    text_col: str = "content",
    id_col: str = "docID",
    n_ranges: int = 32,
) -> DataFrame:
    """(docID, dl, start_offset, pack_id, n_packs): sequence-packing layout
    for a token budget.

    Contract: documents concatenate in docID order into one token tape;
    pack ``p`` owns tape positions [p·budget, (p+1)·budget). A document's
    ``pack_id`` is the pack containing its first token; ``n_packs`` is how
    many packs it spans (> 1 when it straddles boundaries — the standard
    concat-then-cut pretraining layout). Zero-length documents occupy the
    pack at their offset and span 0 packs.

    Scale shape: a global prefix sum WITHOUT a global sort — the two-stage
    distributed scan: range-partition by docID, per-partition running sums
    (window within partition), then a tiny per-partition-totals aggregate
    (``n_ranges`` rows) is prefix-summed by a window and broadcast back as
    each partition's base offset. No single-partition
    bottleneck at any size; the only wide exchange is the range partition.
    """
    dl = df.select(
        F.col(id_col).alias("docID"),
        F.size(analyzed_tokens(text_col)).cast("long").alias("dl"),
    )
    parts = dl.repartitionByRange(n_ranges, "docID").withColumn(
        "_pid", F.spark_partition_id()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_pid").orderBy("docID")
    local = parts.withColumn(
        "_local_start", F.sum("dl").over(w) - F.col("dl")
    ).persist()
    off_df = F.broadcast(
        _partition_offsets(local.groupBy("_pid").agg(F.sum("dl").alias("_t")), "_t")
    )
    start = F.col("_local_start") + F.col("_off")
    end = start + F.col("dl")  # exclusive
    out = (
        local.join(off_df, "_pid")
        .select(
            "docID",
            "dl",
            start.alias("start_offset"),
            F.floor(start / budget).cast("long").alias("pack_id"),
            F.when(F.col("dl") == 0, F.lit(0))
            .otherwise(F.floor((end - 1) / budget) - F.floor(start / budget) + 1)
            .cast("long")
            .alias("n_packs"),
        )
        .orderBy("docID")
    )
    return out


def shuffle_order(
    df: DataFrame,
    seed: str = "shuffle-v1",
    id_col: str = "docID",
    n_ranges: int = 32,
) -> DataFrame:
    """(docID, skey, pos): deterministic global training-shuffle order —
    every document gets a dense position in the permutation induced by
    ``hash32(seed ':' docID)`` (docID breaks hash ties). The example-order
    randomization step of a pretraining pipeline: unlike
    ``DataFrame.orderBy(rand())`` the permutation is a pure function of
    (seed, docID), so reruns, backfills, and resumed jobs agree
    position-by-position, and changing ``seed`` re-deals every epoch.

    Scale shape: a global dense rank WITHOUT a single-partition window —
    the same two-stage distributed scan as :func:`pack_plan`: range-
    partition by (skey, docID), per-partition ``row_number``, then the
    O(``n_ranges``) per-partition counts are prefix-summed by a window
    (one partition, ``n_ranges`` rows) and broadcast back as base offsets. The only wide
    exchange is the range partition.
    """
    from pyspark.sql import Window

    from neural_search_spark.pipeline import params as P

    skey = F.expr(
        P.hash32_sql_spark(f"concat('{seed}', ':', CAST({id_col} AS STRING))")
    )
    keyed = df.select(F.col(id_col).alias("docID")).withColumn("skey", skey)
    parts = keyed.repartitionByRange(n_ranges, "skey", "docID").withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy("skey", "docID")
    local = parts.withColumn("_local_pos", F.row_number().over(w) - 1).persist()
    off_df = F.broadcast(
        _partition_offsets(local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")), "_n")
    )
    return (
        local.join(off_df, "_pid")
        .select(
            "docID",
            "skey",
            (F.col("_local_pos") + F.col("_off")).cast("long").alias("pos"),
        )
    )


SAMPLE_SCALE = 1_000_000  # per-million keep threshold resolution


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    seed: str = "sample-v1",
    id_col: str = "docID",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff
    ``hash32(seed ':' docID) mod 1e6 < fraction(stratum) * 1e6``.

    The domain-mixing primitive of a pretraining pipeline (down-sample
    boilerplate-heavy sources, up-weight scarce languages): fractions map
    stratum value -> keep rate in [0, 1]; strata absent from the map are
    dropped (rate 0). Like :func:`split_assign`, membership is a pure
    function of (seed, docID) — independent of partitioning, order, and
    cluster size, so reruns and backfills agree row-by-row, unlike
    ``DataFrame.sample`` whose draw depends on the partition layout.

    Scale shape: a single filter projection, zero shuffle.
    """
    from neural_search_spark.pipeline import params as P

    for v in fractions.values():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fractions must be in [0, 1], got {v}")
    h = (
        F.expr(P.hash32_sql_spark(f"concat('{seed}', ':', CAST({id_col} AS STRING))"))
        % SAMPLE_SCALE
    )
    thresh = F.lit(0)
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(int(round(frac * SAMPLE_SCALE)))
        ).otherwise(thresh)
    return df.where(h < thresh)


def domain_mixture(
    df: DataFrame,
    strata_col: str,
    target: dict[str, float],
    weight_col: str,
    seed: str = "mix-v1",
    id_col: str = "docID",
) -> DataFrame:
    """(docID, stratum, keep_rate, kept): per-stratum keep rates that hit a
    TARGET mixture, then the deterministic doc-level draw.

    Where :func:`stratified_sample` takes explicit rates, this computes
    them from a target token distribution (the DoReMi/Pile-style "domain
    weights" step of a pretraining pipeline): given per-stratum token
    masses ``w_s`` and target shares ``t_s``, the largest corpus honoring
    the mixture is ``T = min_s(w_s / t_s)`` (the limiting stratum caps
    everything; its keep_rate is exactly 1) and ``keep_rate_s =
    t_s * T / w_s``. Strata absent from ``target`` drop to rate 0.

    Scale shape: one tiny aggregate (|strata| rows), a min over it, and a
    broadcast join back — the corpus itself is touched by exactly one
    projection + filter pass, zero corpus-sized shuffles. The draw is the
    engine-wide hash32(seed ':' docID), so membership is independent of
    partitioning and cluster size.
    """
    from neural_search_spark.pipeline import params as P

    total = sum(target.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"target shares must sum to 1, got {total}")
    share = None
    for stratum, t in sorted(target.items()):
        if not 0.0 < t <= 1.0:
            raise ValueError(f"target shares must be in (0, 1], got {t}")
        c = F.when(F.col(strata_col) == stratum, F.lit(float(t)))
        share = c if share is None else share.when(F.col(strata_col) == stratum, F.lit(float(t)))
    masses = (
        df.groupBy(strata_col)
        .agg(F.sum(weight_col).alias("_w"))
        .withColumn("_share", share)
        .where(F.col("_share").isNotNull())
    )
    cap = masses.agg(F.min(F.col("_w") / F.col("_share")).alias("_cap"))
    rates = (
        masses.crossJoin(F.broadcast(cap))
        .select(
            strata_col,
            F.round(F.col("_share") * F.col("_cap") / F.col("_w"), 6).alias("keep_rate"),
        )
    )
    h = (
        F.expr(P.hash32_sql_spark(f"concat('{seed}', ':', CAST({id_col} AS STRING))"))
        % SAMPLE_SCALE
    )
    thresh = F.round(F.col("keep_rate") * SAMPLE_SCALE).cast("long")
    return (
        df.join(F.broadcast(rates), strata_col, "left")
        .select(
            F.col(id_col).alias("docID"),
            F.col(strata_col).alias("stratum"),
            F.coalesce(F.col("keep_rate"), F.lit(0.0)).alias("keep_rate"),
            (h < F.coalesce(thresh, F.lit(0))).cast("int").alias("kept"),
        )
    )


def length_buckets(
    df: "DataFrame", text_col: str = "content", id_col: str = "docID"
) -> "DataFrame":
    """(bucket, n_docs, total_tokens, pad_waste): token-length histogram in
    power-of-2 buckets — the planning table for length-bucketed batching
    (docs padded to their bucket's length; ``pad_waste`` = padding tokens
    spent if every doc pads to its bucket boundary). Zero-token docs are
    excluded (they are dropped upstream by the quality gates).

    Scale shape: the length is a pure array expression, the bucket a
    closed-form column (2^ceil(log2 n) — exact for IEEE doubles at every
    relevant n), one tiny groupBy."""
    from pyspark.sql import functions as F

    n = F.size(analyzed_tokens(text_col))
    base = df.select(F.col(id_col).alias("docID"), n.alias("n")).where(F.col("n") >= 1)
    bucket = F.pow(F.lit(2.0), F.ceil(F.log2("n"))).cast("long")
    return (
        base.select("docID", "n", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum(F.col("bucket") - F.col("n")).cast("long").alias("pad_waste"),
        )
        .orderBy("bucket")
    )


def packing_efficiency(
    df: "DataFrame",
    context_len: int = 2048,
    text_col: str = "content",
    id_col: str = "docID",
) -> "DataFrame":
    """One-row packing accounting at a fixed context length L: what
    sequence packing SAVES versus pad-per-document batching —
    (context_len, n_docs, total_tokens, slots_padded, slots_packed,
    util_padded, util_packed). ``slots_padded`` = Σ ceil(len/L) (each doc
    alone in its slots, padded), ``slots_packed`` = ceil(Σ len / L) (the
    concat-and-slice ideal that :func:`pack_plan` realizes); utilization
    = total_tokens / (slots · L), round4. Integer-exact slot counts, so
    both engines agree bit-for-bit.

    Scale shape: one pure-projection pass + a single 1-row aggregate —
    no shuffle beyond the final combine."""
    L = int(context_len)
    n = F.size(analyzed_tokens(text_col))
    base = df.select(F.col(id_col).alias("docID"), n.alias("n")).where(
        F.col("n") >= 1
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum(F.ceil(F.col("n") / F.lit(L))).cast("long").alias("slots_padded"),
    )
    packed = F.ceil(F.col("total_tokens") / F.lit(L)).cast("long")
    tok = F.col("total_tokens").cast("double")
    return agg.select(
        F.lit(L).cast("long").alias("context_len"),
        "n_docs",
        "total_tokens",
        "slots_padded",
        packed.alias("slots_packed"),
        F.round(tok / (F.col("slots_padded") * L), 4).alias("util_padded"),
        F.round(tok / (packed * L), 4).alias("util_packed"),
    )


def contrastive_pairs(
    df: "DataFrame",
    positives: "DataFrame",
    seed: str = "pairs-v1",
    id_col: str = "docID",
) -> "DataFrame":
    """(idA, idB, label): contrastive training-pair mining for embedding /
    reranker models — positives (label 1) are the verified near-dup pairs
    (docA, docB); negatives (label 0) are documents ADJACENT IN THE
    DETERMINISTIC SHUFFLE ORDER, the standard in-batch-negative stand-in:
    a pure function of (seed, docID) — so reruns and backfills mine the
    same pairs — and uniform over the corpus because the order is a hash
    permutation. Any adjacent pair that is also a true positive is
    anti-joined out of the negative set.

    Scale shape: :func:`shuffle_order`'s two-stage distributed rank (no
    single-partition window), one pos-keyed equi-join for adjacency, one
    anti-join against the (near-dup-sized) positive set."""
    from pyspark.sql import functions as F

    order = shuffle_order(df, seed=seed, id_col=id_col).select("docID", "pos")
    nxt = order.select(
        F.col("docID").alias("_nbr"), (F.col("pos") - F.lit(1)).alias("pos")
    )
    adj = order.join(nxt, "pos").select(
        F.least("docID", "_nbr").alias("idA"),
        F.greatest("docID", "_nbr").alias("idB"),
    )
    pos = positives.select(F.col("docA").alias("idA"), F.col("docB").alias("idB"))
    neg = adj.join(pos, ["idA", "idB"], "anti")
    return pos.withColumn("label", F.lit(1)).unionByName(
        neg.withColumn("label", F.lit(0))
    )


def token_ids(
    df: "DataFrame",
    vocab: "DataFrame",
    text_col: str = "content",
    id_col: str = "docID",
    unk_id: int = -1,
) -> "DataFrame":
    """(docID, pos, token_id): the tokenize-to-ids materialization — the
    last transform before sequence packing writes training shards:
    analyzed tokens mapped to their vocabulary id, OOV → ``unk_id``.
    Vocabulary ids are the ranks of the (count desc, term asc) vocab
    order (0-based), so the id assignment is itself deterministic and
    rebuild-stable.

    Scale shape: the vocabulary is top-k-sized, so the id-assignment
    window runs over |V| rows (bounded by construction, one tiny
    partition) and the resulting (term → id) map BROADCASTS; the corpus
    side is one ``posexplode`` projection + a map-side hash probe — the
    token stream is never shuffled. Output arrives partitioned exactly
    as the corpus was read, ready for :func:`pack_plan`-style packing."""
    from pyspark.sql import Window, functions as F

    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    vids = vocab.withColumn("token_id", (F.row_number().over(w) - 1).cast("int")).select(
        "term", "token_id"
    )
    toks = df.select(
        F.col(id_col).alias("docID"),
        F.posexplode(analyzed_tokens(text_col)).alias("pos0", "term"),
    )
    return toks.join(F.broadcast(vids), "term", "left").select(
        "docID",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.coalesce(F.col("token_id"), F.lit(int(unk_id))).cast("int").alias("token_id"),
    )


def mix_report(
    df: "DataFrame",
    strata_col: str = "lang",
    seed: str = "split-v1",
    text_col: str = "content",
    id_col: str = "docID",
) -> "DataFrame":
    """(stratum, split, n_docs, n_tokens, token_frac): the data-mix
    accounting table every pretraining run publishes — documents and
    token mass per (stratum × train/val/test split), with each cell's
    fraction of the total token budget. The sanity check that the mixture
    weights and split hashing actually delivered the intended mix.

    Scale shape: token length is a pure array expression, the split a
    pure hash column (zero shuffle — same contract as
    :func:`split_assign`), then ONE tiny (stratum, split) groupBy and a
    window over the |strata|·3-row result."""
    from pyspark.sql import Window, functions as F

    from neural_search_spark.pipeline import params as P

    n = F.size(analyzed_tokens(text_col))
    bucket = (
        F.expr(P.hash32_sql_spark(f"concat('{seed}', ':', CAST({id_col} AS STRING))"))
        % SPLIT_BUCKETS
    )
    split = (
        F.when(bucket < 9000, "train").when(bucket < 9500, "val").otherwise("test")
    )
    base = df.select(
        F.col(strata_col).alias("stratum"), split.alias("split"), n.alias("n")
    )
    cells = base.groupBy("stratum", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return cells.select(
        "stratum",
        "split",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w), 4
        ).alias("token_frac"),
    ).orderBy("stratum", "split")

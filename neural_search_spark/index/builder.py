"""Inverted-index build job: corpus → compressed block-max postings.

Layout written under ``out_dir``:

- ``postings/shard=S/*.parquet`` — one row per (term, shard):
  ``(term, df, doc_bytes, tf_bytes, blk_last, blk_maxtf, blk_mindlq,
  blk_docend, blk_tfend)`` (parallel block-metadata arrays; see
  :mod:`neural_search_spark.index.codec`).
- ``doclens/shard=S/*.parquet`` — ``(docID, dl, dlq)`` for every docmap
  doc (a doc with no tokens has ``dl = 0``).
- ``stats.json`` — ``{n_docs, total_tokens, n_shards, block_size}``.
- ``manifest.jsonl`` — per-partition lineage: one line per completed unit
  ``{stage, shards, rows, terms, bytes, wall_s}`` — the checkpoint/resume
  record mandated by BASELINE.json north_rule.

Shuffle strategy (the north_star contract): postings rows are grouped by
the composite key ``(term, shard)`` where ``shard = xxhash64(docID) %
n_shards``. The shard component IS the explicit salt: a skewed token
('import', 'def', …) splits into ``n_shards`` independent reduce groups
instead of hot-spotting one reducer, and — because the salt is a pure
function of docID — every term's sub-list for shard S covers the same
document subset, so query-time top-k runs shard-local with a cheap global
merge (the reference's shard model,
``search/collector/HybridTopScoreDocCollector.java`` per-shard heaps).

Resume: the build loops over shard batches; a batch whose shards are all
present in the manifest is skipped. Stage A (tokenize → raw postings
checkpoint, partitioned by shard) runs once and is itself a manifest
stage; stage B re-reads only the batch's shard directories (partition
pruning), so a restart never re-tokenizes completed work.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from neural_search_spark.index.codec import (
    BLOCK_SIZE,
    FORMAT_VERSION,
    encode_posting_list,
)
from neural_search_spark.analysis.tokenizer import explode_term_freqs
from neural_search_spark.search.bm25 import corpus_stats_from_doclens, doc_lengths, doc_term_freqs

POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("shard", IntegerType(), False),
        StructField("df", LongType(), False),
        StructField("doc_bytes", BinaryType(), False),
        StructField("tf_bytes", BinaryType(), False),
        StructField("blk_last", ArrayType(LongType()), False),
        StructField("blk_maxtf", ArrayType(IntegerType()), False),
        StructField("blk_mindlq", ArrayType(IntegerType()), False),
        StructField("blk_docend", ArrayType(IntegerType()), False),
        StructField("blk_tfend", ArrayType(IntegerType()), False),
    ]
)


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest.jsonl")


def read_manifest(out_dir: str) -> list[dict]:
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(line) for line in f if line.strip()]


def _append_manifest(out_dir: str, entry: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(_manifest_path(out_dir), "a") as f:
        f.write(json.dumps(entry) + "\n")


def check_format_version(stats: dict, index_dir: str) -> None:
    """Refuse to touch an index written under a different on-disk format
    (BWC gate — see :data:`neural_search_spark.index.codec.FORMAT_VERSION`).
    A pre-versioning index reads as version 0."""
    found = int(stats.get("format_version", 0))
    if found != FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} has format_version={found}, this engine "
            f"reads format_version={FORMAT_VERSION}; rebuild the index with "
            f"build_index(..., resume=False) (or run a migration) instead "
            f"of decoding stale shards"
        )


def _encode_stream_factory(block_size: int):
    """Streaming shard encoder for ``mapInPandas``.

    Input: a partition holding whole shards, sorted by (shard, term, docID)
    — every (term, shard) posting list is one contiguous run. Runs are
    detected vectorized per Arrow batch; a run that straddles a batch
    boundary is carried over. This replaces a per-(term,shard)
    ``applyInPandas`` groupBy: at 10^12-file scale the group count is
    O(vocab x shards) and per-group scheduling/serialization dominates,
    while one streaming pass per shard keeps memory bounded by a single
    run and adds zero per-group Spark overhead.
    """

    def encode_stream(batches):
        out: list[dict] = []
        carry: pd.DataFrame | None = None

        def encode_run(term: str, shard: int, d, t, q) -> None:
            doc_b, tf_b, blocks = encode_posting_list(d, t, q, block_size=block_size)
            last, maxtf, mindlq, docend, tfend = (list(x) for x in zip(*blocks))
            out.append(
                {
                    "term": term,
                    "shard": int(shard),
                    "df": int(len(d)),
                    "doc_bytes": doc_b,
                    "tf_bytes": tf_b,
                    "blk_last": last,
                    "blk_maxtf": maxtf,
                    "blk_mindlq": mindlq,
                    "blk_docend": docend,
                    "blk_tfend": tfend,
                }
            )

        for pdf in batches:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            terms = pdf["term"].to_numpy()
            shards_ = pdf["shard"].to_numpy()
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            change[1:] = (terms[1:] != terms[:-1]) | (shards_[1:] != shards_[:-1])
            starts = np.nonzero(change)[0]
            # the final run may continue into the next batch — carry it
            carry = pdf.iloc[starts[-1] :]
            d_all = pdf["docID"].to_numpy()
            t_all = pdf["tf"].to_numpy()
            q_all = pdf["dlq"].to_numpy()
            for i in range(len(starts) - 1):
                s0, s1 = starts[i], starts[i + 1]
                encode_run(terms[s0], shards_[s0], d_all[s0:s1], t_all[s0:s1], q_all[s0:s1])
            if len(out) >= 512:
                yield pd.DataFrame(out)
                out = []
        if carry is not None and len(carry):
            encode_run(
                carry["term"].iloc[0],
                carry["shard"].iloc[0],
                carry["docID"].to_numpy(),
                carry["tf"].to_numpy(),
                carry["dlq"].to_numpy(),
            )
        if out:
            yield pd.DataFrame(out)

    return encode_stream


def _shard_col(id_col: str, n_shards: int):
    """``shard = xxhash64(docID) % n_shards``: the salt, a pure function of
    the doc id."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int").alias("shard")


def _compact_docs(corpus: DataFrame, n_shards: int, text_col: str, id_col: str) -> DataFrame:
    """corpus → (docID, shard, _tf, dl, dlq): one row per doc, the engine's
    per-doc projection (:func:`neural_search_spark.search.bm25.doc_term_freqs`)
    plus the shard."""
    return doc_term_freqs(corpus, text_col, id_col, _shard_col(id_col, n_shards))


def _postings_of(compact: DataFrame) -> DataFrame:
    """compact doc rows → (docID, shard, dl, dlq, term, tf)."""
    return explode_term_freqs(compact, "docID", "shard", "dl", "dlq")


def raw_postings(corpus: DataFrame, n_shards: int, text_col: str = "content", id_col: str = "docID") -> DataFrame:
    """corpus → (docID, shard, term, tf, dl, dlq): tokenize once, carry the
    doc length with every posting row so the encoder never joins doclens
    (at 10^12 docs that join would be a second full shuffle). Everything
    runs JVM-side; nothing per-posting ever touches Python here."""
    return _postings_of(_compact_docs(corpus, n_shards, text_col, id_col))


def _shard_sorted_postings(corpus: DataFrame, n_shards: int, text_col: str, id_col: str) -> DataFrame:
    """Stage A's raw checkpoint rows, with ONE shuffle for the whole build.

    The shuffle moves the COMPACT per-doc rows (docID, shard, tf_map, dl,
    dlq) — one record per document — not the exploded postings: the
    explode multiplies record count by the distinct-terms-per-doc factor
    (~23x here), and shuffling that many tiny rows dominates CPU in
    serialization + GC. The tf_map IS the map-side combine. Reduce side:
    explode, then partition-local sort by (shard, term, docID) so the raw
    checkpoint is stored run-contiguous and stage B is a pure scan+encode,
    shuffle-free. (Writing partitionBy straight from the map tasks instead
    would open n_shards parquet writers per task — buffer explosion.) 4x
    partitions so hash collisions between shard keys do not double-load
    reduce tasks (a key still lands wholly in one task)."""
    compact = _compact_docs(corpus, n_shards, text_col, id_col)
    return _postings_of(compact.repartition(4 * n_shards, "shard")).sortWithinPartitions(
        "shard", "term", "docID"
    )


def _docmap(corpus: DataFrame, n_shards: int, text_col: str, id_col: str) -> DataFrame:
    """(docID, sha, shard): content identity per doc. Reuses a carried
    ``content_sha256`` column when present (already verified by the per-row
    invariant) instead of re-hashing."""
    sha = (
        F.col("content_sha256")
        if "content_sha256" in corpus.columns
        else F.sha2(F.col(text_col), 256)
    )
    return corpus.select(F.col(id_col).alias("docID"), sha.alias("sha"), _shard_col(id_col, n_shards))


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    block_size: int = BLOCK_SIZE,
    text_col: str = "content",
    id_col: str = "docID",
    shard_batch: int | None = None,
    resume: bool = True,
) -> dict:
    """Build (or resume) the compressed index; returns summary metrics."""
    os.makedirs(out_dir, exist_ok=True)
    stats_path = os.path.join(out_dir, "stats.json")
    if resume and os.path.exists(stats_path):
        # a resumed build must not mix shards across on-disk formats
        with open(stats_path) as f:
            check_format_version(json.load(f), out_dir)
    done = read_manifest(out_dir) if resume else []
    # stats.json is written at the END of stage A, so an interrupted build
    # left by an older-format engine can have a manifest (and encoded
    # shards) with no stats.json — gate on the manifest's completed
    # 'postings' entries too, or the resume would silently mix stale-format
    # shards with new ones (a pre-versioning entry reads as version 0)
    for e in done:
        if e.get("stage") == "postings":
            check_format_version(e, out_dir)
    done_stage_a = any(e["stage"] == "raw" for e in done)
    done_shards = {s for e in done if e["stage"] == "postings" for s in e["shards"]}

    raw_dir = os.path.join(out_dir, "_postings_raw")
    t0 = time.perf_counter()

    if not done_stage_a:
        # docmap: (docID, sha) per shard — the content-identity checkpoint
        # that update_index anti-joins against to skip unchanged docs (the
        # reference's inference-skip filter,
        # processor/optimization/InferenceFilter.java). Submitted from a
        # side thread so its tasks FILL the tokenize shuffle's idle slots
        # (FIFO scheduling backfills trailing waves) instead of paying a
        # whole extra serial pass over the corpus.
        import threading

        docmap_err: list[BaseException] = []

        def _write_docmap() -> None:
            try:
                _docmap(corpus, n_shards, text_col, id_col).repartition(
                    n_shards, "shard"
                ).write.partitionBy("shard").mode("overwrite").parquet(
                    os.path.join(out_dir, "docmap")
                )
            except BaseException as e:  # noqa: BLE001 — re-raised on the main thread
                docmap_err.append(e)

        docmap_thread = threading.Thread(target=_write_docmap, daemon=True)
        docmap_thread.start()
        _shard_sorted_postings(corpus, n_shards, text_col, id_col).write.partitionBy(
            "shard"
        ).mode("overwrite").parquet(raw_dir)
        t_shuffle = time.perf_counter()
        docmap_thread.join()
        if docmap_err:
            raise docmap_err[0]
        t_docmap = time.perf_counter()
        # doclens: the raw rows' tf summed onto every docmap id, so a doc
        # with no tokens keeps its dl = 0 row
        doc_ids = spark.read.parquet(os.path.join(out_dir, "docmap")).select("docID", "shard")
        doc_lengths(spark.read.parquet(raw_dir), doc_ids).repartition(
            n_shards, "shard"
        ).write.partitionBy("shard").mode("overwrite").parquet(
            os.path.join(out_dir, "doclens")
        )
        t_doclens = time.perf_counter()
        _write_stats(
            spark, out_dir,
            {"n_shards": n_shards, "block_size": block_size, "format_version": FORMAT_VERSION},
        )
        nrows = spark.read.parquet(raw_dir).count()
        _append_manifest(
            out_dir,
            {
                "stage": "raw",
                "shards": list(range(n_shards)),
                "rows": nrows,
                "wall_s": round(time.perf_counter() - t0, 3),
                # sub-job walls (lineage metrics): the salted tokenize
                # shuffle, the docmap identity pass, the doclens projection
                "wall_shuffle_s": round(t_shuffle - t0, 3),
                "wall_docmap_s": round(t_docmap - t_shuffle, 3),
                "wall_doclens_s": round(t_doclens - t_docmap, 3),
                "wall_stats_s": round(time.perf_counter() - t_doclens, 3),
            },
        )

    batch = shard_batch or n_shards
    pending = [s for s in range(n_shards) if s not in done_shards]
    for i in range(0, len(pending), batch):
        _encode_shards(spark, out_dir, raw_dir, pending[i : i + batch], block_size)

    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    stats["build_wall_s"] = round(time.perf_counter() - t0, 3)
    return stats


def _write_stats(spark: SparkSession, out_dir: str, stats: dict) -> dict:
    """Write ``stats.json``: ``stats`` with ``n_docs``/``total_tokens``
    reduced from the index's doclens; returns what it wrote."""
    cs = corpus_stats_from_doclens(spark.read.parquet(os.path.join(out_dir, "doclens")))
    stats = {**stats, "n_docs": cs.n_docs, "total_tokens": cs.total_tokens}
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump(stats, f)
    return stats


#: on-disk format versions migrate_index can read. Version 0 is the
#: pre-versioning layout (same byte codec, no stamps anywhere).
MIGRATABLE_VERSIONS = {0}

_RAW_ROW_SCHEMA = StructType(
    [
        StructField("docID", LongType(), False),
        StructField("shard", IntegerType(), False),
        StructField("term", StringType(), False),
        StructField("tf", IntegerType(), False),
    ]
)


def migrate_index(spark: SparkSession, old_dir: str, new_dir: str) -> dict:
    """Rolling-upgrade analog (reference ``qa/rolling-upgrade``,
    ``build.gradle:325-446``): rewrite a version n−1 index into the current
    :data:`FORMAT_VERSION` under ``new_dir``. The reader keeps REFUSING
    unmigrated mismatches (restart-upgrade semantics,
    :func:`check_format_version`); this job is the upgrade path.

    Shape: one distributed pass per the old index's postings — each stale
    (term, shard) row is decoded with the version-tagged decoder
    (vectorized numpy inside ``mapInPandas``, never per-posting Python),
    per-doc quantized lengths are re-joined from the doclens table (block
    metadata only stores the block MIN), and the stream re-encodes through
    the current stage-B encoder. doclens/docmap are format-independent
    parquet and are rewritten as-is; the content-sha256 docmap invariant
    is verified before the new index is stamped. Returns the new stats.
    """
    with open(os.path.join(old_dir, "stats.json")) as f:
        old_stats = json.load(f)
    found = int(old_stats.get("format_version", 0))
    if found == FORMAT_VERSION:
        raise ValueError(
            f"index at {old_dir} is already format_version={FORMAT_VERSION}; nothing to migrate"
        )
    if found not in MIGRATABLE_VERSIONS:
        raise ValueError(
            f"index at {old_dir} has format_version={found}; this engine "
            f"migrates only versions {sorted(MIGRATABLE_VERSIONS)}"
        )
    n_shards = int(old_stats["n_shards"])
    block_size = int(old_stats.get("block_size", BLOCK_SIZE))
    os.makedirs(new_dir, exist_ok=True)
    t0 = time.perf_counter()

    from neural_search_spark.index.codec import decode_posting_list

    def _decode(batches):
        for pdf in batches:
            out_doc: list[np.ndarray] = []
            out_tf: list[np.ndarray] = []
            out_term: list[np.ndarray] = []
            out_shard: list[np.ndarray] = []
            for row in pdf.itertuples(index=False):
                blocks = list(
                    zip(row.blk_last, row.blk_maxtf, row.blk_mindlq,
                        row.blk_docend, row.blk_tfend)
                )
                d, t = decode_posting_list(bytes(row.doc_bytes), bytes(row.tf_bytes), blocks)
                out_doc.append(d)
                out_tf.append(t)
                out_term.append(np.repeat(row.term, d.size))
                out_shard.append(np.full(d.size, row.shard, dtype=np.int32))
            if not out_doc:
                continue
            yield pd.DataFrame(
                {
                    "docID": np.concatenate(out_doc),
                    "shard": np.concatenate(out_shard),
                    "term": np.concatenate(out_term),
                    "tf": np.concatenate(out_tf).astype(np.int32),
                }
            )

    old_postings = spark.read.parquet(os.path.join(old_dir, "postings"))
    decoded = old_postings.mapInPandas(_decode, _RAW_ROW_SCHEMA)
    doclens = spark.read.parquet(os.path.join(old_dir, "doclens"))
    raw = decoded.join(
        doclens.select("docID", "dl", "dlq"), "docID"
    ).select("docID", "shard", "dl", "dlq", "term", "tf")
    raw_dir = os.path.join(new_dir, "_postings_raw")
    (
        raw.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "term", "docID")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(raw_dir)
    )
    # doclens/docmap: format-independent parquet, rewritten shard-partitioned
    doclens.repartition(n_shards, "shard").write.partitionBy("shard").mode(
        "overwrite"
    ).parquet(os.path.join(new_dir, "doclens"))
    old_map = spark.read.parquet(os.path.join(old_dir, "docmap"))
    old_map.repartition(n_shards, "shard").write.partitionBy("shard").mode(
        "overwrite"
    ).parquet(os.path.join(new_dir, "docmap"))
    # content-identity invariant: the migrated docmap must carry exactly
    # the old (docID, sha256) pairs — checked distributed (anti-join both
    # ways collapses to one count), never by collecting the map
    new_map = spark.read.parquet(os.path.join(new_dir, "docmap"))
    drift = (
        old_map.select("docID", "sha").exceptAll(new_map.select("docID", "sha")).count()
        + new_map.select("docID", "sha").exceptAll(old_map.select("docID", "sha")).count()
    )
    if drift:
        raise RuntimeError(f"migration changed {drift} docmap rows — aborting before stamp")
    stats = {**old_stats, "format_version": FORMAT_VERSION, "block_size": block_size}
    stats.pop("build_wall_s", None)
    with open(os.path.join(new_dir, "stats.json"), "w") as f:
        json.dump(stats, f)
    _append_manifest(
        new_dir,
        {
            "stage": "raw",
            "shards": list(range(n_shards)),
            "migrated_from": {"dir": old_dir, "format_version": found},
            "wall_s": round(time.perf_counter() - t0, 3),
        },
    )
    _encode_shards(spark, new_dir, raw_dir, list(range(n_shards)), block_size)
    stats["migrate_wall_s"] = round(time.perf_counter() - t0, 3)
    return stats


def _encode_shards(
    spark: SparkSession, out_dir: str, raw_dir: str, shards: list[int], block_size: int
) -> None:
    """Stage B for one shard batch: stream-encode the (already sorted,
    run-contiguous) raw shard files into compressed posting lists — a pure
    scan+encode, no shuffle (stage A stored raw sorted per shard).
    A (term, shard) run split across parquet splits yields two partial
    posting rows covering disjoint docID ranges — still correct (query-side
    scores accumulate per doc and global df sums over rows). Dynamic
    partition overwrite so a crash-retried batch rewrites its own shard
    directories instead of appending duplicates; then manifest it. Shard
    count is the reduce-side parallelism knob — size it to the cluster
    (thousands at 10^12 files)."""
    tb = time.perf_counter()
    src = spark.read.parquet(raw_dir).where(F.col("shard").isin(shards))
    out = src.mapInPandas(_encode_stream_factory(block_size), POSTINGS_SCHEMA)
    out.write.partitionBy("shard").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(os.path.join(out_dir, "postings"))
    built = (
        spark.read.parquet(os.path.join(out_dir, "postings"))
        .where(F.col("shard").isin(shards))
        .agg(F.count("*").alias("terms"), F.sum("df").alias("postings"))
        .collect()[0]
    )
    _append_manifest(
        out_dir,
        {
            "stage": "postings",
            "shards": shards,
            "format_version": FORMAT_VERSION,
            "terms": int(built["terms"]),
            "rows": int(built["postings"] or 0),
            "wall_s": round(time.perf_counter() - tb, 3),
        },
    )


def _swap_shard_partitions(
    df: DataFrame, path: str, shards: list[int], out_dir: str | None = None
) -> None:
    """Replace ``path/shard=S`` for the given shards with ``df``'s rows.

    Spark cannot overwrite a path it is concurrently reading
    (self-overwrite), so we stage to a sibling temp dir and swap the shard
    directories on the driver. On a real deployment this whole dance is an
    Iceberg ``overwritePartitions`` commit; the logical plan (write new
    partition content, atomically swap pointers) is identical.

    Crash recovery: when ``out_dir`` is given, the swap is bracketed by
    manifest entries (``swap``/staged then ``swap``/committed). A manifest
    whose last ``swap`` entry for a path is ``staged`` marks an interrupted
    commit; re-running :func:`update_index` repairs it — the update is
    idempotent because the dirty set is derived from the docmap (swapped
    last) and ``kept()`` anti-joins every dirty doc before re-adding it."""
    import shutil

    tmp = path + "_swap"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.partitionBy("shard").mode("overwrite").parquet(tmp)
    rel = os.path.basename(path)
    if out_dir is not None:
        _append_manifest(out_dir, {"stage": "swap", "path": rel, "shards": shards, "state": "staged"})
    for s in shards:
        dst = os.path.join(path, f"shard={s}")
        src = os.path.join(tmp, f"shard={s}")
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.exists(src):
            os.rename(src, dst)
        else:
            os.makedirs(dst, exist_ok=True)  # shard emptied by the update
    if out_dir is not None:
        _append_manifest(out_dir, {"stage": "swap", "path": rel, "shards": shards, "state": "committed"})
    shutil.rmtree(tmp, ignore_errors=True)


def _clear_emptied_postings(
    spark: SparkSession, out_dir: str, raw_dir: str, shards: list[int]
) -> None:
    """Drop postings partitions for dirty shards whose raw data is now empty.

    ``_encode_shards`` writes with dynamic partition overwrite, which can
    only replace partitions it writes rows for — a shard emptied by an
    update (every doc removed) would otherwise keep its stale posting
    files while doclens/docmap say it has no docs, and query-time doclen
    lookups for those ghost postings would miss."""
    import shutil

    present = {
        r["shard"]
        for r in spark.read.parquet(raw_dir)
        .where(F.col("shard").isin(shards))
        .select("shard")
        .distinct()
        .collect()
    }
    for s in shards:
        if s not in present:
            d = os.path.join(out_dir, "postings", f"shard={s}")
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d, exist_ok=True)


def update_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_col: str = "docID",
    mode: str = "sync",
) -> dict:
    """Incremental index maintenance: bring ``out_dir`` up to date with
    ``corpus`` re-tokenizing ONLY added/changed docs.

    ``mode="sync"`` (default) treats ``corpus`` as the FULL desired state:
    indexed docs missing from it are removed. ``mode="upsert"`` treats it
    as a partial delta (e.g. one streaming micro-batch): docs absent from
    the batch are untouched — only additions and content changes apply.

    The content-identity skip mirrors the reference's inference filter
    (``processor/optimization/InferenceFilter.java``: reuse existing
    embeddings when the source text is unchanged): docs whose
    ``sha256(content)`` matches the stored docmap are never re-read. Docs
    present in the index but missing from (or changed in) ``corpus`` have
    their old postings dropped. Only shards containing dirty docs are
    re-encoded; untouched shard partitions keep their files byte-identical
    (verified in tests), so at 10^12-file scale an update touching 0.1% of
    repos re-encodes ~0.1%-ish of (term, shard) groups, not the index.

    Returns a summary dict {added, changed, removed, shards} (also appended
    to the manifest with wall-clock lineage).
    """
    if mode not in ("sync", "upsert"):
        raise ValueError(f"mode must be 'sync' or 'upsert', got {mode!r}")
    from neural_search_spark import stats as _stats

    # the update IS the skip_existing path (unchanged docs never re-read)
    _stats.record_event("skip_existing_executions")
    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    check_format_version(stats, out_dir)  # never re-encode a stale format
    n_shards = stats["n_shards"]
    raw_dir = os.path.join(out_dir, "_postings_raw")
    doclens_dir = os.path.join(out_dir, "doclens")
    docmap_dir = os.path.join(out_dir, "docmap")
    t0 = time.perf_counter()

    new_map = _docmap(corpus, n_shards, text_col, id_col)
    old_map = spark.read.parquet(docmap_dir).select("docID", "sha", "shard")

    # classify: changed (same doc, new sha), added, removed
    join_type = "full" if mode == "sync" else "left"
    joined = new_map.alias("n").join(old_map.alias("o"), "docID", join_type).select(
        F.col("docID"),
        F.col("n.sha").alias("new_sha"),
        F.col("o.sha").alias("old_sha"),
        F.coalesce(F.col("n.shard"), F.col("o.shard")).alias("shard"),
    )
    dirty = joined.where(
        F.col("new_sha").isNull()  # removed (sync mode only: left join keeps none)
        | F.col("old_sha").isNull()  # added
        | (F.col("new_sha") != F.col("old_sha"))  # changed
    ).cache()
    counts = dirty.agg(
        F.sum(F.when(F.col("old_sha").isNull(), 1).otherwise(0)).alias("added"),
        F.sum(F.when(F.col("new_sha").isNull(), 1).otherwise(0)).alias("removed"),
        F.sum(
            F.when(F.col("new_sha").isNotNull() & F.col("old_sha").isNotNull(), 1).otherwise(0)
        ).alias("changed"),
    ).collect()[0]
    shards = sorted(
        r["shard"] for r in dirty.select("shard").distinct().collect()
    )
    summary = {
        "added": int(counts["added"] or 0),
        "removed": int(counts["removed"] or 0),
        "changed": int(counts["changed"] or 0),
        "shards": shards,
    }
    if not shards:
        dirty.unpersist()
        return summary

    dirty_ids = dirty.select("docID")
    # re-tokenize ONLY added/changed docs (inference-skip: unchanged content
    # never re-read); broadcast the dirty id set — it is small by premise
    fresh_ids = dirty.where(F.col("new_sha").isNotNull()).select(
        F.col("docID").alias(id_col)
    )
    fresh_corpus = corpus.join(F.broadcast(fresh_ids), id_col, "semi")
    new_raw = raw_postings(fresh_corpus, n_shards, text_col, id_col)

    kept = lambda df: df.where(F.col("shard").isin(shards)).join(  # noqa: E731
        F.broadcast(dirty_ids), "docID", "anti"
    )
    old_raw = spark.read.parquet(raw_dir)
    merged_raw = (
        kept(old_raw)
        .unionByName(new_raw)
        .repartition(len(shards), "shard")
        .sortWithinPartitions("shard", "term", "docID")
    )
    _swap_shard_partitions(merged_raw, raw_dir, shards, out_dir=out_dir)

    # the dirty shards' docmap rows: every doc their doclens must cover
    merged_map = kept(spark.read.parquet(docmap_dir)).unionByName(
        new_map.join(F.broadcast(dirty_ids), "docID", "semi")
    )
    new_raw_rows = spark.read.parquet(raw_dir).where(F.col("shard").isin(shards))
    _swap_shard_partitions(
        doc_lengths(new_raw_rows, merged_map.select("docID", "shard")),
        doclens_dir, shards, out_dir=out_dir,
    )
    _swap_shard_partitions(merged_map, docmap_dir, shards, out_dir=out_dir)
    stats = _write_stats(spark, out_dir, stats)

    _encode_shards(spark, out_dir, raw_dir, shards, stats["block_size"])
    _clear_emptied_postings(spark, out_dir, raw_dir, shards)
    _append_manifest(
        out_dir,
        {"stage": "update", **summary, "wall_s": round(time.perf_counter() - t0, 3)},
    )
    dirty.unpersist()
    return summary

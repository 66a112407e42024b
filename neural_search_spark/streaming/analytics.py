"""Event-time windowed streaming analytics over a document stream.

The reference has no streaming surface (SURVEY.md §2.9); this module is
the Structured-Streaming-native analytics path a large-scale ingest
pipeline runs NEXT TO the index maintenance stream
(:mod:`neural_search_spark.streaming.ingest`): per-window corpus
statistics (doc counts, token volume, mean doc length) with late-data
handling via watermarks.

Semantics / scale notes:

- tokenization reuses the engine's one Spark analyzer
  (``analyzed_tokens``, a JVM expression — no Python worker), so the
  streamed statistics are defined over exactly the same token stream the
  index build sees.
- the aggregation is a standard watermarked tumbling-window groupBy —
  incremental state per (window, group) only, bounded by the watermark:
  state for windows older than ``max(event_time) - watermark_delay`` is
  finalized, emitted (append mode), and dropped. Late events behind the
  watermark are discarded, which is the documented trade for bounded
  state at unbounded input.
- at 100 TB/day the groupBy keys are (window, lang) — low cardinality —
  so the shuffle is tiny regardless of input volume; the heavy column
  (content) is projected away right after the token count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from neural_search_spark.analysis.tokenizer import analyzed_tokens


def windowed_doc_stats(
    corpus_stream: DataFrame,
    time_col: str = "event_time",
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    text_col: str = "content",
    group_col: str | None = None,
) -> DataFrame:
    """Streaming (or batch — the plan is mode-agnostic) tumbling-window
    corpus statistics: (window, [group], n_docs, total_tokens, avg_dl).

    In append-mode streaming a window row is emitted once, when the
    watermark passes the window end; events arriving later than
    ``watermark_delay`` behind the stream's max event time are dropped.
    """
    base = corpus_stream.withWatermark(time_col, watermark_delay).select(
        F.col(time_col),
        *( [F.col(group_col)] if group_col else [] ),
        F.size(analyzed_tokens(text_col)).alias("dl"),
    )
    keys = [F.window(time_col, window_duration).alias("window")]
    if group_col:
        keys.append(F.col(group_col))
    return base.groupBy(*keys).agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
        (F.sum("dl") / F.count("*")).alias("avg_dl"),
    )


def streaming_dedup_filter(
    corpus_stream: DataFrame,
    text_col: str = "content",
    id_col: str = "docID",
) -> DataFrame:
    """Streaming exact-dedup: emit only the FIRST document carrying each
    content hash; replays and later copies are suppressed.

    Custom stateful operator via ``applyInPandasWithState`` — the Spark
    construct for operators the built-in windowed aggregations can't
    express (here: keep-first semantics with per-key memory across
    micro-batches). Keyed by sha256(content); state per key is a single
    seen-flag, so state size is O(distinct content), and within one batch
    the smallest docID wins deterministically (the batch dedup keeper
    rule, ``pipeline/dedup.py``).

    Scale notes: the groupBy is the one shuffle; state lives in the state
    store (RocksDB in production) partitioned the same way; the Python
    hook receives Arrow batches per key group — no per-row Python. At
    10^12 docs the seen-flag state is the minimal possible footprint for
    exact streaming dedup (a Bloom-filter variant trades memory for false
    drops; keep-first exactness is the contract here).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [StructField("docID", LongType()), StructField("sha", StringType())]
    )
    state_schema = StructType([StructField("seen", LongType())])

    def _keep_first(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            return iter([])  # replay / later duplicate: suppress
        best = None
        for pdf in pdfs:
            m = int(pdf["docID"].min())
            best = m if best is None else min(best, m)
        state.update((1,))
        yield pd.DataFrame({"docID": [best], "sha": [key[0]]})

    hashed = corpus_stream.select(
        F.col(id_col).cast("long").alias("docID"),
        F.sha2(F.col(text_col), 256).alias("sha"),
    )
    return hashed.groupBy("sha").applyInPandasWithState(
        _keep_first,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_windowed_doc_stats(
    corpus_stream: DataFrame,
    checkpoint_dir: str,
    output_dir: str | None = None,
    query_name: str = "doc-window-stats",
    trigger_available_now: bool = True,
    **stats_kwargs,
):
    """Start the windowed-stats query. With ``output_dir`` the sink is
    parquet (resumable across restarts — the watermark state lives in the
    checkpoint); without it, an in-memory table named ``query_name``
    (single-run dashboards only: the memory sink cannot recover from a
    checkpoint). Append mode: only watermark-finalized windows are
    emitted, exactly once per window."""
    agg = windowed_doc_stats(corpus_stream, **stats_kwargs)
    flat = agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[c for c in agg.columns if c != "window"],
    )
    if output_dir is not None:
        writer = (
            flat.writeStream.format("parquet")
            .option("path", output_dir)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .queryName(query_name)
        )
    else:
        writer = (
            flat.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
        )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

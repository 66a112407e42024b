#!/usr/bin/env python
"""Scale exhibit: the most expensive registry keys at sf0.1 vs sf1 (10x).

Every per-key number in the regular bench is fixed-latency-dominated at
5,000 docs, which cannot distinguish a scan-path plan from an indexed one
— so this tool derives a DETERMINISTIC sf1 corpus (10x replication of the
driver-generated sf0.1 ``documents.parquet``; replica k>0 gets doc_id
offset k*100000 and a replica token appended to the text so doc identity
and doc length stay distinct) and runs the top keys at both scales.

Output: one JSON line per run in BENCH_SCALE_SF1.json with per-key medians
at each scale and the sf1/sf0.1 wall ratio. Reading the ratios: ~1x =
fixed-latency/index-pruned, ~10x = corpus-linear (expected for scan-path
contract exhibits like bm25_phrase_scan_topk), sublinear = the indexed path is
doing its job. Dedup keys are excluded on purpose: replication multiplies
near-duplicate density, so their sf1 pair count is not a plan signal.

Usage: python tools/bench_scale.py [reps]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/nss_scale_sf1"
REPLICAS = 10

#: top-expensive retrieval/query keys from BENCH_LOCAL_R04_FULL.json, plus
#: the scan-vs-indexed control pair and a cheap job-latency floor key.
KEYS = [
    "bm25_phrase_scan_topk",     # scan-path contract exhibit (expect ~linear)
    "bm25_phrase_topk",          # its indexed twin (expect sublinear)
    "match_phrase_prefix_topk",
    "highlight_spec",
    "hybrid_spec_full",
    "hybrid_lex_sparse_dense",
    "simple_query_string",
    "hybrid_bool_boosted",
    "hybrid_bool_lex",
    "mlt_topk",
    "hybrid_rrf",
    "bm25_wand_topk",
    "bm25_match_topk",           # job-latency floor
]


def make_sf1() -> None:
    import duckdb

    os.makedirs(SF1, exist_ok=True)
    con = duckdb.connect()
    reps = ", ".join(str(k) for k in range(REPLICAS))
    if not os.path.exists(os.path.join(SF1, "documents.parquet")):
        con.execute(
            f"""
            COPY (
                SELECT d.doc_id + r.k * 100000 AS doc_id,
                       CASE WHEN r.k = 0 THEN d.text
                            ELSE d.text || ' repvar' || r.k END AS text,
                       d.lang, d.source,
                       CASE WHEN r.k = 0 THEN d.n_chars
                            ELSE d.n_chars + 8 END AS n_chars
                FROM '{SF01}/documents.parquet' d
                CROSS JOIN (SELECT unnest([{reps}]) AS k) r
            ) TO '{SF1}/documents.parquet' (FORMAT PARQUET)
            """
        )
        n = con.execute(f"SELECT COUNT(*) FROM '{SF1}/documents.parquet'").fetchone()[0]
        print(f"# built {SF1}/documents.parquet: {n} docs", file=sys.stderr)
    if not os.path.exists(os.path.join(SF1, "embeddings.parquet")):
        # replica k>0: ids shifted far past inject_vector_duplicates'
        # +100000 offset; the vector circular-shifts by k positions so
        # replicas are NOT near-dups of the original (cosine of a random
        # vector vs its rotation ≈ 0) — the sf1 dedup wall measures the
        # PLAN at 10x rows, not an artificial 10x dup-density blowup.
        branches = ["SELECT vec_id, embedding, label FROM e"]
        for k in range(1, REPLICAS):
            branches.append(
                f"SELECT vec_id + {k} * 10000000 AS vec_id, "
                f"embedding[{k + 1}:] || embedding[1:{k}] AS embedding, label FROM e"
            )
        union = " UNION ALL ".join(branches)
        con.execute(
            f"""
            COPY (
                WITH e AS (SELECT * FROM '{SF01}/embeddings.parquet')
                {union}
            ) TO '{SF1}/embeddings.parquet' (FORMAT PARQUET)
            """
        )
        n = con.execute(f"SELECT COUNT(*) FROM '{SF1}/embeddings.parquet'").fetchone()[0]
        print(f"# built {SF1}/embeddings.parquet: {n} vectors", file=sys.stderr)
    if not os.path.exists(os.path.join(SF1, "events.parquet")):
        # replica k>0 = a disjoint user population with the same activity
        # shape: sessions/funnels scale linearly in users
        con.execute(
            f"""
            COPY (
                SELECT e.event_id + r.k * 100000000 AS event_id, e.ts,
                       e.user_id + r.k * 10000000 AS user_id,
                       e.event_type, e.value, e.props
                FROM '{SF01}/events.parquet' e
                CROSS JOIN (SELECT unnest([{reps}]) AS k) r
            ) TO '{SF1}/events.parquet' (FORMAT PARQUET)
            """
        )
        n = con.execute(f"SELECT COUNT(*) FROM '{SF1}/events.parquet'").fetchone()[0]
        print(f"# built {SF1}/events.parquet: {n} events", file=sys.stderr)


def main(reps: int = 3, only: str | None = None) -> None:
    global KEYS
    if only:
        KEYS = only.split(",")
    make_sf1()
    from neural_search_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="bench-scale",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    import __spark_entry__ as entry_mod

    qmap = entry_mod.queries()
    out: dict = {"metric": "sf1_vs_sf0.1_wall_ratio", "reps": reps, "keys": {}}
    walls: dict[str, dict[str, list[float]]] = {k: {"sf0.1": [], "sf1": []} for k in KEYS}
    for sf_label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
        t0 = time.perf_counter()
        entry_mod.warm(spark, sf_dir)
        w = time.perf_counter() - t0
        out[f"warm_{sf_label}_s"] = round(w, 2)
        print(f"# warm {sf_label}: {w:.1f}s", file=sys.stderr)
        for rep in range(reps):
            for k in KEYS:
                t0 = time.perf_counter()
                n = qmap[k](spark, sf_dir).count()
                dt = time.perf_counter() - t0
                walls[k][sf_label].append(dt)
                print(f"# {sf_label} rep{rep} {k}: {n} rows {dt:.3f}s", file=sys.stderr)
    for k in KEYS:
        m01 = statistics.median(walls[k]["sf0.1"])
        m1 = statistics.median(walls[k]["sf1"])
        out["keys"][k] = {
            "sf0.1_s": round(m01, 3),
            "sf1_s": round(m1, 3),
            "ratio": round(m1 / m01, 2),
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 3,
        sys.argv[2] if len(sys.argv) > 2 else None,
    )

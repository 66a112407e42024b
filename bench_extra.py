#!/usr/bin/env python
"""Focused per-key benchmark for optimization work (bench.py is frozen).

Times a comma-separated subset of queries() keys with the same methodology
as bench.py (warm index, df.count() timed, median of N reps), at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Usage: python bench_extra.py key1,key2,... [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    names = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from neural_search_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name="neural-search-bench-extra")

    import __spark_entry__ as entry_mod

    t0 = time.perf_counter()
    build_by_artifact = entry_mod.warm(spark, sf_dir)
    index_build = time.perf_counter() - t0

    qmap = entry_mod.queries()
    if names:
        missing = [n for n in names if n not in qmap]
        if missing:
            print(f"unknown keys: {missing}", file=sys.stderr)
            sys.exit(2)
        qmap = {n: qmap[n] for n in names}

    samples: dict[str, list[float]] = {n: [] for n in qmap}
    for rep in range(reps):
        for name, fn in qmap.items():
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.perf_counter() - t
            samples[name].append(dt)
            print(f"# rep{rep} {name}: {n} rows in {dt:.3f}s", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    out = {
        "sf_dir": sf_dir,
        "reps": reps,
        "index_build_sec": round(index_build, 4),
        "index_build_by_artifact": build_by_artifact,
        "queries": {n: round(_median(xs), 4) for n, xs in samples.items()},
        "queries_stats": {
            n: {"min": round(min(xs), 4), "max": round(max(xs), 4), "n": len(xs)}
            for n, xs in samples.items()
        },
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

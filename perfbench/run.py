"""Seeded, verified benchmark of the neural_search_spark library.

Usage (from the repository root):

    python3 perfbench/run.py --workload lexical --seed 1 --seconds 8 --trace 0

One client calls the library's public functions in a closed loop: each call
waits for its top-k rows on the driver before the next one starts. Inputs
(corpus and ops) come from ``--seed``. Every index the workload needs is
built from scratch into a run-private directory under the repository root,
which is removed at the end. After the timed window every op's rows are
checked against the op's DuckDB twin.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` they are the per-layer ones
(see README.md). Progress and the per-op listing go to standard error.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

import check
import gen
from measure import (
    ProcSampler,
    Tracer,
    descendants,
    dir_bytes,
    parse_event_log,
    process_start_age_s,
)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
T_START = time.perf_counter()

SPARK_MASTER = "local[4]"
DRIVER_MEMORY = "2g"
KIND_SUFFIXES = (
    "plan_s",
    "catalyst_s",
    "exec_s",
    "jobs",
    "tasks",
    "shuffle_records",
    "shuffle_bytes",
    "executor_cpu_s",
    "pyworker_cpu_s",
)
SETUP_METRICS = (
    "setup.session_s",
    "setup.bm25_engine_s",
    "setup.blockmax_index_s",
    "setup.positions_s",
    "setup.embeddings_s",
    "index.blockmax_bytes",
    "index.positions_bytes",
)
RUN_METRICS = (
    "cache.entries_growth",
    "cache.bytes_end",
    "latency_drift",
    "check.boundary_tie_ops",
    "trace.overhead_ratio",
)
UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "plan_s": "s",
    "catalyst_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_records": "count",
    "shuffle_bytes": "bytes",
    "executor_cpu_s": "s",
    "pyworker_cpu_s": "s",
    "index.blockmax_bytes": "bytes",
    "index.positions_bytes": "bytes",
    "cache.entries_growth": "count/op",
    "cache.bytes_end": "bytes",
    "latency_drift": "ratio",
    "check.boundary_tie_ops": "count",
    "trace.overhead_ratio": "ratio",
}
MAX_CYCLES = 200


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.startswith("setup."):
        return "s"
    return UNITS[name.rsplit(".", 1)[1]]


def per_layer_names() -> list[str]:
    kinds = [k for w in gen.WORKLOADS for k in gen.op_kinds(w)]
    return [*SETUP_METRICS, *(f"{k}.{s}" for k in kinds for s in KIND_SUFFIXES), *RUN_METRICS]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark run: owns the run directory, the Spark session, the
    process sampler and the DuckDB connections, and releases them all."""

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.sampler = ProcSampler()
        self.tracer = Tracer(self.sampler)
        self.spark = None
        self.jvm = None
        self.ducks = {}
        self.setup = {m: 0.0 for m in SETUP_METRICS}
        self.gen_s = 0.0
        self.kinds = gen.op_kinds(args.workload)

    # -- lifecycle -----------------------------------------------------------

    def start_session(self):
        from neural_search_spark.session import get_spark

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        # workers inherit the driver's environment through the JVM
        os.environ["TMPDIR"] = str(tmp)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.args.trace:
            (self.work / "eventlog").mkdir()
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = (self.work / "eventlog").as_uri()
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark(app_name="perfbench", master=SPARK_MASTER, extra_conf=conf)
        self.jvm = self.spark.sparkContext._gateway.proc
        self.sampler.jvm_pid = self.jvm.pid

    def stop_session(self):
        """Stop Spark, then the JVM, and wait for the JVM's Python workers."""
        if self.spark is None:
            return
        workers = descendants(self.jvm.pid)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            self.jvm.stdin.close()  # the gateway JVM exits on EOF
            try:
                self.jvm.wait(timeout=60)
            except Exception:  # noqa: BLE001 - any failure to stop means kill
                self.jvm.kill()
                self.jvm.wait(timeout=30)
            deadline = time.monotonic() + 30
            for pid in workers:
                while Path(f"/proc/{pid}").exists():
                    if time.monotonic() > deadline:
                        os.kill(pid, signal.SIGKILL)
                        deadline = time.monotonic() + 10
                    time.sleep(0.05)

    def close(self):
        self.sampler.stop()
        try:
            self.stop_session()
        finally:
            for con in self.ducks.values():
                con.close()
            shutil.rmtree(self.work, ignore_errors=True)
            parent = self.work.parent
            if parent.exists() and not any(parent.iterdir()):
                parent.rmdir()

    # -- set-up --------------------------------------------------------------

    def _timed_setup(self, metric: str, fn, *a):
        t0 = time.perf_counter()
        with self.tracer.span(metric):
            fn(*a)
        self.setup[metric] = time.perf_counter() - t0
        log(f"{metric} {self.setup[metric]:.2f}")

    def set_up(self):
        import ops

        t0 = time.perf_counter()
        data, sample = self.work / "data", self.work / "sample"
        data.mkdir(parents=True)
        sample.mkdir()
        docs = gen.documents(self.args.seed)
        docs.to_parquet(data / "documents.parquet", index=False)
        gen.curate_sample(docs, self.args.seed).to_parquet(sample / "documents.parquet", index=False)
        self.gen_s = time.perf_counter() - t0

        self.sampler.start()
        self._timed_setup("setup.session_s", self.start_session)
        self.tracer.enabled = bool(self.args.trace)
        a = self.artifacts = ops.Artifacts(self.spark, data, sample)
        self._timed_setup("setup.bm25_engine_s", ops.build_engine, a)
        if self.workload == "lexical":
            self._timed_setup("setup.blockmax_index_s", ops.build_blockmax, a, self.work / "index")
            self._timed_setup("setup.positions_s", ops.build_positional, a, self.work / "positions")
            self.setup["index.blockmax_bytes"] = dir_bytes(self.work / "index")
            self.setup["index.positions_bytes"] = dir_bytes(self.work / "positions")
        else:
            self._timed_setup("setup.embeddings_s", ops.build_embeddings, a)
        self.tracer.enabled = False

    # -- ops -----------------------------------------------------------------

    def run_op(self, op: dict, traced: bool) -> dict:
        import ops

        kind = ops.KINDS[op["kind"]]
        self.tracer.enabled = traced
        rec = {"op": op, "traced": traced, "rows": None, "error": None}
        t0 = time.perf_counter()
        try:
            with self.tracer.op(self.spark, op):
                with self.tracer.span("plan"):
                    df = kind.build(self.artifacts, op, self.tracer.span)
                if traced:
                    with self.tracer.span("catalyst"):
                        df._jdf.queryExecution().executedPlan()
                with self.tracer.span("exec"):
                    rows = df.collect()
            rec["latency_s"] = time.perf_counter() - t0
            rec["columns"] = [c.lower() for c in df.columns]
            rec["rows"] = [tuple(r) for r in rows]
        except Exception:  # noqa: BLE001 - a failing op is counted, the loop goes on
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = traceback.format_exc(limit=3)
        finally:
            self.tracer.enabled = False
        return rec

    def loop(self):
        # one warm-up op of each kind
        warm = {}
        for op in gen.cycles(self.workload, self.args.seed, 1, warm=True)[0]:
            warm.setdefault(op["kind"], op)
        self.warm = [self.run_op(op, traced=False) for op in warm.values()]
        self.setup_s = process_start_age_s() - self.gen_s
        log(f"ready after {self.setup_s:.2f} s; timed window starts")

        sc = self.spark.sparkContext
        self.cache_start = _storage(sc)
        self.timed = []
        t0 = time.perf_counter()
        for i, cycle in enumerate(gen.cycles(self.workload, self.args.seed, MAX_CYCLES)):
            traced = bool(self.args.trace) and i % 2 == 1
            self.timed += [self.run_op(op, traced) for op in cycle]
            if time.perf_counter() - t0 >= self.args.seconds and (not self.args.trace or traced):
                break
        self.window_s = time.perf_counter() - t0
        self.cache_end = _storage(sc)
        log(f"timed window {self.window_s:.2f} s, {len(self.timed)} ops")

    # -- checks --------------------------------------------------------------

    def _duck(self, on_sample: bool):
        import duckdb

        key = "sample" if on_sample else "data"
        if key not in self.ducks:
            con = duckdb.connect()
            con.execute("SET threads=4")
            path = self.work / key / "documents.parquet"
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            self.ducks[key] = con
        return self.ducks[key]

    def check(self, recs: list[dict]) -> None:
        import ops

        memo: dict[tuple, list] = {}

        def twin_rows(kind, op, k, order):
            sql = kind.twin(op, k)
            key = (kind.on_sample, sql)
            if key not in memo:
                res = self._duck(kind.on_sample).execute(sql)
                cols = [d[0].lower() for d in res.description]
                memo[key] = (cols, res.fetchall())
            cols, rows = memo[key]
            return _project(cols, rows, order or sorted(cols))

        for rec in recs:
            if rec["error"] is not None:
                rec["status"] = check.MISMATCH
                continue
            kind = ops.KINDS[rec["op"]["kind"]]
            order = ["docid", "score"] if kind.compare == ops.TOPK else None
            mine = _project(rec["columns"], rec["rows"], order or sorted(rec["columns"]))
            twin_at = functools.partial(twin_rows, kind, rec["op"], order=order)
            if kind.compare == ops.TOPK:
                rec["status"] = check.compare_topk(mine, twin_at(gen.K), twin_at)
            else:
                rec["status"] = check.compare_rows(mine, twin_at(None))

    # -- report --------------------------------------------------------------

    def end_to_end(self) -> dict:
        lat = [r["latency_s"] for r in self.timed]
        ok = sum(r["status"] != "mismatch" for r in self.timed)
        return {
            "setup_s": self.setup_s,
            "latency_p50_s": statistics.median(lat),
            "ops_per_s": ok / self.window_s,
            "peak_rss_mb": self.sampler.peak_bytes / 2**20,
        }

    def per_layer(self, events: dict) -> dict:
        out = {n: 0.0 for n in per_layer_names()}
        out.update(self.setup)
        traced = [r for r in self.timed if r["traced"]]
        plain = [r for r in self.timed if not r["traced"]]
        for kind in self.kinds:
            recs = [r for r in traced if r["op"]["kind"] == kind]
            if not recs:
                continue
            sums = dict.fromkeys(KIND_SUFFIXES, 0.0)
            for r in recs:
                oid = r["op"]["id"]
                spans = self.tracer.span_seconds(oid)
                counters = self.tracer.op_counters.get(oid, {})
                ev = events.get(oid, {})
                sums["plan_s"] += spans.get("plan", 0.0)
                sums["catalyst_s"] += spans.get("catalyst", 0.0)
                sums["exec_s"] += spans.get("exec", 0.0)
                for c in ("jobs", "tasks", "pyworker_cpu_s"):
                    sums[c] += counters.get(c, 0)
                for c in ("shuffle_records", "shuffle_bytes", "executor_cpu_s"):
                    sums[c] += ev.get(c, 0)
            for s, v in sums.items():
                out[f"{kind}.{s}"] = v / len(recs)
        n = len(self.timed)
        out["cache.entries_growth"] = (self.cache_end[0] - self.cache_start[0]) / n
        out["cache.bytes_end"] = self.cache_end[1]
        out["latency_drift"] = _drift(self.timed)
        out["check.boundary_tie_ops"] = sum(r["status"] == "tie" for r in self.timed)
        if traced and plain:
            out["trace.overhead_ratio"] = statistics.median(
                r["latency_s"] for r in traced
            ) / statistics.median(r["latency_s"] for r in plain)
        return out

    def write_trace(self, metrics: dict, events: dict) -> Path:
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        path = out_dir / f"trace-{self.workload}-seed{self.args.seed}.json"
        doc = {
            "workload": self.workload,
            "seed": self.args.seed,
            "metrics": metrics,
            "ops": [
                {
                    "id": r["op"]["id"],
                    "kind": r["op"]["kind"],
                    "traced": r["traced"],
                    "latency_s": r["latency_s"],
                    "status": r["status"],
                    **self.tracer.op_counters.get(r["op"]["id"], {}),
                    "events": events.get(r["op"]["id"], {}),
                }
                for r in self.timed
            ],
            "spans": self.tracer.spans,
        }
        path.write_text(json.dumps(doc, indent=1))
        return path


def _project(cols: list[str], rows: list, order: list[str]) -> list[tuple]:
    idx = [cols.index(c) for c in order]
    return [tuple(r[i] for i in idx) for r in rows]


def _storage(sc) -> tuple[int, int]:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def _drift(recs: list[dict]) -> float:
    """Median latency of the last quarter of ops over that of the first
    quarter, each op's latency taken relative to its kind's median so the
    kind mix does not masquerade as drift."""
    by_kind: dict[str, list[float]] = {}
    for r in recs:
        by_kind.setdefault(r["op"]["kind"], []).append(r["latency_s"])
    med = {k: statistics.median(v) for k, v in by_kind.items()}
    rel = [r["latency_s"] / med[r["op"]["kind"]] for r in recs]
    q = max(1, len(rel) // 4)
    return statistics.median(rel[-q:]) / statistics.median(rel[:q])


def main(argv=None) -> int:
    # SIGTERM unwinds like an exception, so the session stops and the run
    # directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(1, str(ROOT))
    args = parse_args(argv)
    try:
        import duckdb  # noqa: F401
        import ops  # noqa: F401 - imports the library and pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2

    run = Run(args)
    try:
        run.set_up()
        run.loop()
        run.sampler.stop()
        run.stop_session()
        events = parse_event_log(run.work / "eventlog") if args.trace else {}
        t0 = time.perf_counter()
        run.check(run.timed)
        log(f"checked {len(run.timed)} ops in {time.perf_counter() - t0:.2f} s")
    finally:
        run.close()

    failed = [r for r in run.timed if r["status"] == "mismatch"]
    bad_warm = [r for r in run.warm if r["error"] is not None]
    for r in run.warm + run.timed:
        note = r["error"].strip().splitlines()[-1] if r["error"] else ""
        status = r.get("status", "warm-up")
        log(f"{r['op']['id']:>6} {r['op']['kind']:<24} {r['latency_s']:7.3f}s {status} {note}")
        if status not in ("ok", "warm-up") or note:
            log(f"       op: {json.dumps(r['op'])[:400]}")
    if args.trace:
        metrics = run.per_layer(events)
        log(f"trace written to {run.write_trace(metrics, events)}")
    else:
        metrics = run.end_to_end()
    result = {
        "correct": not failed and not bad_warm,
        "attempted": len(run.timed),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

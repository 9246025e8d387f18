"""The measured client: one process running one workload as a single
closed-loop client (one query at a time) on ``session.get_spark()``.

Sequence: setup (registry.load_all, get_spark, first load_table of each
input table) -> cold pass -> check pass (outputs against the DuckDB
oracle) -> warm-up pass -> measured passes until ``--seconds`` have
passed and at least MIN_PASSES ran. With
``--trace 1`` the measured passes alternate untraced and traced, so the
run also gives the tracing overhead.

Every pass computes each query's full result: the noop sink, and a
parquet write for the ETL's load query. The result is written as JSON to
``--out``; run.py prints it.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import host  # noqa: E402
from spans import Tracer, covered, self_times  # noqa: E402
from workloads import LOAD_QUERY, WORKLOADS, canon_frame  # noqa: E402

WARMUP_PASSES = 1  # untimed noop passes after the check pass
MIN_PASSES = 2     # measured passes (of each kind, when tracing) per run


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True, type=Path)
    ap.add_argument("--oracle", required=True, type=Path)
    ap.add_argument("--work", required=True, type=Path)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned", type=float, required=True,
                    help="monotonic time at which the parent started this process")
    ap.add_argument("--out", required=True, type=Path)
    args = ap.parse_args()

    tracer = Tracer()
    tables = sorted(p.stem for p in args.data.glob("*.parquet"))
    with tracer.span("setup"):
        with tracer.span("load_all"):
            from challenge8_movies_etl_spark import registry
            registry.load_all()
        with tracer.span("get_spark"):
            from challenge8_movies_etl_spark.session import get_spark
            spark = get_spark()
        with tracer.span("load_table"):
            from challenge8_movies_etl_spark.sources.fixtures import load_table
            for name in tables:
                with tracer.span("load_table", table=name):
                    load_table(spark, str(args.data), name)
    setup_s = time.monotonic() - args.spawned
    try:
        bench = Bench(spark, registry.QUERIES, args, tracer)
        result = bench.run(setup_s)
    finally:
        stop(spark)
    args.out.write_text(json.dumps(result))
    return 0


def stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


class Bench:
    def __init__(self, spark, queries, args, tracer: Tracer) -> None:
        self.spark = spark
        self.queries = queries
        self.args = args
        self.tracer = tracer
        self.qids = WORKLOADS[args.workload]
        self.load_path = str(args.work / "load" / f"{LOAD_QUERY}.parquet")
        self.oracle = json.loads(args.oracle.read_text())
        self.attempted = 0
        self.failures: list[str] = []
        self.calib: list[float] = []
        self.peak_rss = 0.0
        from pyspark import SparkContext
        self.jvm_root = SparkContext._gateway.proc.pid

    # -- one query ---------------------------------------------------
    def sink(self, qid: str, df) -> None:
        if qid == LOAD_QUERY:
            df.write.mode("overwrite").parquet(self.load_path)
        else:
            df.write.format("noop").mode("overwrite").save()

    def check(self, qid: str, df) -> None:
        """Compare the full result (for the load query: the parquet read
        back) with the oracle's, canonicalised as tools/check.py does."""
        if qid == LOAD_QUERY:
            df.write.mode("overwrite").parquet(self.load_path)
            df = self.spark.read.parquet(self.load_path)
        cols, rows = canon_frame()(df.toPandas())
        want_cols, want_rows = self.oracle[qid]
        if cols != want_cols:
            raise AssertionError(f"columns {cols} != oracle {want_cols}")
        got = [list(r) for r in rows]
        if len(got) != len(want_rows):
            raise AssertionError(f"{len(got)} rows != oracle {len(want_rows)}")
        if got != want_rows:
            raise AssertionError("values differ from the oracle")

    def hygiene(self) -> None:
        """Drop what a query left cached so passes stay independent."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    # -- one pass ------------------------------------------------------
    def run_pass(self, label: str, action, traced: bool = False) -> dict:
        tracer = self.tracer if traced else None
        before = host.cpu_seconds(host.tree(self.jvm_root))
        queries: dict[str, dict] = {}
        t0 = time.perf_counter()
        with (tracer.span("pass", label=label) if tracer else nullcontext()):
            for qid in self.qids:
                queries[qid] = self.run_query(label, qid, action, tracer)
        wall = time.perf_counter() - t0
        pids = host.tree(self.jvm_root)
        cpu = host.cpu_seconds(pids) - before
        self.peak_rss = max(self.peak_rss, host.peak_rss_mb(pids))
        rec = {"label": label, "traced": traced, "wall_s": wall, "cpu_s": cpu,
               "queries": queries}
        if tracer:
            tracer.group(None)
            rec["layers"] = self.harvest(label, queries, wall)
        return rec

    def run_query(self, label: str, qid: str, action, tracer) -> dict:
        self.attempted += 1
        rec: dict = {}
        try:
            with (tracer.span("query", qid=qid) if tracer else nullcontext()):
                if tracer:
                    rec["exec0"] = tracer.last_execution()
                    tracer.group(f"{label}/{qid}/build")
                t0 = time.perf_counter()
                with (tracer.span("build") if tracer else nullcontext()) as span:
                    df = self.queries[qid](self.spark, str(self.args.data))
                t1 = time.perf_counter()
                if tracer:
                    rec["build_span"] = (span["t0"], span["t1"])
                    tracer.group(f"{label}/{qid}/action")
                with (tracer.span("action") if tracer else nullcontext()):
                    action(qid, df)
                t2 = time.perf_counter()
                if tracer:
                    rec["exec2"] = tracer.last_execution()
                    rec["leaked_rdds"] = tracer.persisted_rdds()
            rec.update(build_s=t1 - t0, action_s=t2 - t1, s=t2 - t0)
        except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
            self.failures.append(f"{label}:{qid}: {type(exc).__name__}: {str(exc)[:300]}")
            rec["error"] = True
        self.hygiene()
        return rec

    def harvest(self, label: str, queries: dict[str, dict], wall: float) -> dict:
        """Per-layer counters of one traced pass, per query and summed."""
        seen: set[int] = set()
        table = self.tracer.job_table()
        total: dict[str, float] = {}
        for qid, q in queries.items():
            if q.get("error"):
                continue
            build = self.tracer.jobs(f"{label}/{qid}/build", table, seen)
            action = self.tracer.jobs(f"{label}/{qid}/action", table, seen)
            from_plan, operators = self.tracer.plan(q["exec0"], q["exec2"])
            lo, hi = q["build_span"]
            layer = {
                "q.s": q["s"],
                "build.s": q["build_s"], "build.jobs": build["jobs"],
                "build.self_s": q["build_s"] - covered(build["intervals"], lo, hi),
                "exec.s": q["action_s"], "exec.jobs": action["jobs"],
                "exec.stages": action["stages"], "exec.tasks": action["tasks"],
                "exec.task_s": action["task_s"], "exec.task_cpu_s": action["task_cpu_s"],
                "exec.failed_tasks": action["failed_tasks"], "exec.gc_s": action["gc_s"],
                "all.task_s": build["task_s"] + action["task_s"],
                "sources.input_rows": build["input_rows"] + action["input_rows"],
                **{k.replace("_", ".", 1): build[k] + action[k]
                   for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb")},
                **from_plan,
                "cache.leaked_rdds": q["leaked_rdds"],
                "load.write_s": q["action_s"] if qid == LOAD_QUERY else 0.0,
            }
            q["layers"], q["operators"] = layer, operators
            for k, v in layer.items():
                total[k] = total.get(k, 0) + v
        cores = self.spark.sparkContext.defaultParallelism
        total["exec.core_util"] = total.pop("all.task_s", 0.0) / (wall * cores)
        total.pop("q.s", None)
        total["load.output_mb"] = _dir_mb(Path(self.load_path)) if LOAD_QUERY in queries else 0.0
        return total

    # -- the run -------------------------------------------------------
    def run(self, setup_s: float) -> dict:
        args = self.args
        self.tracer.attach(self.spark)
        cold = self.run_pass("cold", self.sink)
        check = self.run_pass("check", self.check)
        warmup = [self.run_pass(f"warmup{i}", self.sink) for i in range(WARMUP_PASSES)]
        measured: list[dict] = []
        steal0, total0 = host.steal_and_total()
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < args.seconds
               or len(measured) < MIN_PASSES * (1 + args.trace)):
            # traced and untraced passes alternate in ABBA order, so a
            # pass-time trend does not bias the overhead
            order = (False, True) if len(measured) % 4 == 0 else (True, False)
            for traced in (order if args.trace else (False,)):
                self.calib.append(host.calibrate())
                measured.append(self.run_pass(f"p{len(measured)}", self.sink, traced))
        steal1, total1 = host.steal_and_total()
        plain = [p for p in measured if not p["traced"]]
        pass_s = statistics.median(p["wall_s"] for p in plain)
        result = {
            "workload": args.workload,
            "failures": self.failures,
            "attempted": self.attempted,
            "metrics": {
                "setup_s": setup_s,
                "cold_pass_s": cold["wall_s"],
                "pass_s": pass_s,
                "cpu_s": statistics.median(p["cpu_s"] for p in plain),
            },
            "peak_rss_mb": self.peak_rss,
            "host": {"calib_s": statistics.median(self.calib),
                     "steal_frac": (steal1 - steal0) / max(1, total1 - total0)},
            "passes": [{k: p[k] for k in ("label", "traced", "wall_s", "cpu_s")}
                       for p in [cold, check, *warmup, *measured]],
            "per_query": {qid: statistics.median(p["queries"][qid].get("s", 0.0) for p in plain)
                          for qid in self.qids},
        }
        if args.trace:
            result["layers"], result["artifact"] = self.layers(measured, pass_s, result)
        return result

    def layers(self, measured: list[dict], pass_s: float, result: dict) -> tuple[dict, dict]:
        traced = [p for p in measured if p["traced"]]
        names = traced[0]["layers"].keys()
        layers = {k: statistics.median(p["layers"][k] for p in traced) for k in names}
        setup = {s["name"]: s["t1"] - s["t0"] for s in self.tracer.spans if s["parent"] == 0}
        traced_pass_s = statistics.median(p["wall_s"] for p in traced)
        layers.update({
            "registry.load_s": setup["load_all"],
            "session.start_s": setup["get_spark"],
            "sources.list_s": setup["load_table"],
            "host.calib_s": result["host"]["calib_s"],
            "host.steal_frac": result["host"]["steal_frac"],
            "peak_rss_mb": result["peak_rss_mb"],
            "trace.overhead_s": traced_pass_s - pass_s,
        })
        self_times(self.tracer.spans)
        base = self.tracer.spans[0]["t0"]
        spans = [{**s, "t0": s["t0"] - base, "t1": s["t1"] - base}
                 for s in self.tracer.spans]
        last = traced[-1]
        artifact = {
            "workload": self.args.workload,
            "per_layer": layers,
            "overhead": {"untraced_pass_s": pass_s, "traced_pass_s": traced_pass_s},
            "per_query": {qid: {"layers": q["layers"], "operators": q["operators"]}
                          for qid, q in last["queries"].items() if "layers" in q},
            "spans": spans,
        }
        return layers, artifact


def _dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 2**20


if __name__ == "__main__":
    raise SystemExit(main())

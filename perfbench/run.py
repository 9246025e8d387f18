"""Benchmark entry point.

    python3 perfbench/run.py --workload movies_etl --seed 1 --seconds 5 --trace 0

Run from the repository root. Makes the inputs from ``--seed`` (seed 0:
the committed sf0.01 fixtures as they are; any other seed: a seeded
row-order permutation of them, same files and row-group sizes), computes
the expected outputs with the DuckDB oracle, then runs the measured
client (client.py) in its own process and prints the metrics by name and
unit. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Everything the run writes stays under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zlib
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import host  # noqa: E402
from workloads import FIXTURES, ROOT, WORKLOADS, canon_frame  # noqa: E402

DEADLINE_S = 170  # the whole run, client included


def prepare_inputs(seed: int, out: Path) -> Path:
    """The input tables for ``seed``. Only the row order depends on the
    seed, and every query's result is order-independent, so the expected
    outputs do not."""
    if seed == 0:
        return FIXTURES
    import numpy as np
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    for src in sorted(FIXTURES.glob("*.parquet")):
        meta = pq.read_metadata(src)
        table = pq.read_table(src)
        rng = np.random.default_rng([seed, zlib.crc32(src.stem.encode())])
        pq.write_table(table.take(rng.permutation(table.num_rows)), out / src.name,
                       row_group_size=meta.row_group(0).num_rows,
                       compression="snappy", version=meta.format_version)
        if pq.read_schema(out / src.name) != pq.read_schema(src):
            raise RuntimeError(f"permuted {src.name} changed its schema")
    return out


def expected_outputs(qids: tuple[str, ...], data: Path, work: Path) -> dict:
    """Each query's oracle result, canonicalised as tools/check.py does."""
    import duckdb

    sys.path.insert(0, str(ROOT))
    from challenge8_movies_etl_spark import registry

    registry.load_all()
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{work / 'duckdb'}'")
    for src in data.glob("*.parquet"):
        con.execute(f"CREATE VIEW {src.stem} AS SELECT * FROM read_parquet('{src}')")
    try:
        return {qid: canon_frame()(con.execute(registry.ORACLE[qid]).df())
                for qid in qids}
    finally:
        con.close()


def run_client(args, data: Path, oracle: Path, work: Path, started: float) -> dict:
    tmp = work / "tmp"
    tmp.mkdir()
    cores = len(os.sched_getaffinity(0))
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_LOCAL_DIR=str(work / "spark-local"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        # both JVMs (spark-submit's launcher and the Spark driver) keep their
        # temp and perf-data files out of the host's /tmp
        SPARK_LAUNCHER_OPTS=jvm_opts,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '{jvm_opts}' pyspark-shell",
    )
    out = work / "result.json"
    cmd = [sys.executable, str(Path(__file__).resolve().parent / "client.py"),
           "--workload", args.workload, "--data", str(data), "--oracle", str(oracle),
           "--work", str(work), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", str(out)]
    proc = subprocess.Popen(cmd + ["--spawned", repr(time.monotonic())], env=env,
                            cwd=work, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, started + DEADLINE_S - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        reap_group(proc)
    if code != 0:
        raise RuntimeError(f"client {'timed out' if code is None else f'exited {code}'}")
    return json.loads(out.read_text())


def reap_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the client's process group (the JVM and
    its Python workers run in it) and wait until all of it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):  # orphans are reaped by init; wait for that
        if not host.group(proc.pid):
            return
        time.sleep(0.05)
    raise RuntimeError(f"processes of group {proc.pid} did not end")


def main() -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    qids = WORKLOADS[args.workload]
    data = prepare_inputs(args.seed, work / "data")
    oracle = work / "oracle.json"
    oracle.write_text(json.dumps(expected_outputs(qids, data, work)))
    res = run_client(args, data, oracle, work, started)

    values = {**res["metrics"], **res.get("layers", {}), "peak_rss_mb": res["peak_rss_mb"]}
    failed = len(res["failures"])
    attempted = res["attempted"]
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"passes={[round(p['wall_s'], 3) for p in res['passes']]}")
    for line in res["failures"]:
        print(f"FAILED {line}")
    print("  ".join(f"{m['name']}={values[m['name']]:.4f} {m['unit']}" for m in spec["end_to_end"])
          + f"  peak_rss_mb={values['peak_rss_mb']:.1f} MB"
          + f"  error_rate={failed / attempted:.4f} ({failed}/{attempted})")
    print(f"host: calib_s={res['host']['calib_s']:.4f} steal_frac={res['host']['steal_frac']:.4f}")
    print("per-query s: " + " ".join(f"{q}={s:.3f}" for q, s in res["per_query"].items()))
    if args.trace:
        artifact = work / "trace.json"
        artifact.write_text(json.dumps(res["artifact"], indent=1))
        print("per-layer: " + "  ".join(f"{k}={v:.4g}" for k, v in sorted(res["layers"].items())))
        print(f"trace artifact: {artifact.relative_to(ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

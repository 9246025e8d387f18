"""SparkSession factory for the engine.

Local testing runs on ``local[N]`` (single JVM); the same configs are the
100 TB-cluster defaults except parallelism knobs, which scale with the
cluster (see ``tuned_conf`` notes inline).

Reference parity: the reference (plin112/Challenge8_Movies-ETL,
``challenge.py`` — pandas, single process) has no session/engine concept;
this module is the engine bootstrap the reference never needed.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# SQL confs that MUST hold for correctness against the driver fixtures,
# regardless of who built the session (we defensively re-apply them at
# fixture-load time because the verify driver may pass us its own session).
RUNTIME_REQUIRED_CONF: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS); Spark 4.x rejects it by default
    # (PARQUET_TYPE_ILLEGAL). Read nanos as bigint, convert explicitly
    # (integer division — see sources/fixtures.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle (DuckDB) timestamps are UTC-naive; pin the session zone.
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 ANSI mode makes malformed casts throw; the reference's pandas
    # semantics (and our try_*-style parsers) want NULL-on-error. We use
    # try_* functions explicitly where it matters, but keep ANSI off so
    # reference-shaped messy-string parsing behaves permissively.
    "spark.sql.ansi.enabled": "false",
    # Python DataSource filter pushdown (sources/pydatasource.py):
    # readers implementing pushFilters() fail fast unless enabled.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "challenge8_movies_etl_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-aware defaults.

    At 100 TB the same logical plans run unchanged; only
    ``spark.sql.shuffle.partitions`` (sized ~2-3x total cores; AQE
    coalesces down) and memory knobs move to cluster values.
    """
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # Shuffle/spill files default to /tmp, which sits on the container's
    # overlay disk here; /dev/shm is a RAM-backed tmpfs sized to machine
    # memory. On a real cluster this is the node-local NVMe scratch dirs
    # (spark.local.dir is standard node config, not an app hack).
    # Guard: Docker's default shm is 64 MB — opting in on such a host
    # would turn every shuffle spill into ENOSPC. Require a real capacity
    # floor (8 GiB free), and allow SPARK_GRAFT_LOCAL_DIR=/tmp (or any
    # path / empty to disable) to override; /tmp default otherwise.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 8 << 30:
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
    else:
        local_dir = None
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, broadcast
        # demotion — the 100 TB safety net for every shuffle in this repo.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Python workers import pyspark from $SPARK_HOME/python/lib/
        # pyspark.zip, and before every task pyspark/worker.py calls
        # importlib.invalidate_caches(): on CPython 3.11/3.12 each of the
        # ~14 cached zipimporters then re-reads the whole archive
        # directory, ~0.11 s per task (4-core host; an identity
        # mapInPandas action took 0.39 s, 0.17 s with this daemon).
        # zipcache.py re-reads only an archive whose mtime/size changed;
        # CPython 3.13 already defers it to one lazy read. A directory
        # install of pyspark has no zipimporters: the fix is a no-op.
        .config("spark.python.daemon.module", "challenge8_movies_etl_spark.daemon")
        # Workers must import the daemon from any working directory.
        .config("spark.executorEnv.PYTHONPATH",
                str(Path(__file__).resolve().parent.parent))
    )
    if local_dir is not None:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in RUNTIME_REQUIRED_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    apply_required_conf(spark)
    return spark


def apply_required_conf(spark: SparkSession) -> None:
    """Re-apply runtime-settable required confs on an externally built
    session (the verify driver constructs its own)."""
    for k, v in RUNTIME_REQUIRED_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on this build — builder path set it
            pass

def fan_out_scan(df, *cols: str):
    """Conditional scan fan-out (guide §2.5 input skew / §6.1 split
    sizing): the fixture parquet files are single row groups, so an
    expression-heavy per-row pipeline downstream of a bare scan runs
    on ONE core unless fanned out — but at 100 TB the same scan has
    thousands of splits and an unconditional repartition becomes a
    pure extra exchange of the corpus (on round-robin sites, a
    shuffle of full raw text) before the per-row work. Repartition
    ONLY when the scan actually arrives narrower than the session's
    parallelism. The width check is metadata-only (physical planning,
    no job). Keyed callers pass the key columns so the fan-out keeps
    whatever co-location the site had; with no narrow scan the input
    partitioning flows through unchanged.

    Never changes query RESULTS: every consumer is a hash/equi-join,
    per-row transform, exact-arithmetic or key-partitioned
    aggregation (the perturbation sweep pins partition-layout
    independence)."""
    width = fanout_partitions(df.sparkSession)
    if df.rdd.getNumPartitions() >= width:
        return df
    return df.repartition(width, *cols) if cols else df.repartition(width)


def fanout_partitions(spark: SparkSession) -> int:
    """Scale-adaptive explicit-repartition width for operators that
    fan a small scan out across cores (pair joins over few input
    splits, mapInPandas decode chains): the session's default
    parallelism — local[N] gives N; on a cluster, the total executor
    cores. Replaces hard-coded repartition(32) constants that were
    tuned to local[32] (the driver also benches at lower core counts,
    and a cluster wants a matching fan-out, not 32).
    Repartition width never changes query RESULTS here — every
    consumer is a hash/equi-join, per-row transform, or key-partitioned
    aggregation; it only sets task granularity."""
    return spark.sparkContext.defaultParallelism

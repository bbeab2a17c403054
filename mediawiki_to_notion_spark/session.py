"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same settings are what we would
ship for a multi-executor cluster (AQE on, sane shuffle partitioning,
Arrow for the Pandas-UDF stages). Nothing here is local-mode-specific
except the master URL default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Local cores: ``$SPARK_GRAFT_CPUS`` when set, else the host's."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.isdigit() else (os.cpu_count() or 1)


def host_driver_memory() -> str:
    """Driver heap: ``$SPARK_DRIVER_MEMORY`` when set, else 60% of the
    host's MemTotal (the rest stays for Python workers and the OS)."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(ln.split()[1]) for ln in f
                            if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "4g"
    return f"{max(1024, int(total_kb * 0.6) // 1024)}m"


DEFAULT_SHUFFLE_PARTITIONS = host_cpus()

# Bytes of on-disk parquet per INITIAL AQE shuffle partition.  4 MiB of
# compressed parquet expands to ~30-60 MB in-flight, a healthy shuffle
# partition.  Calibrated by the r8 A/B (SCALING.md "wide-AQE A/B"):
# sf0.1 (17.5 MB) -> 32 initial partitions = Spark default, zero tax
# (the r7 constant 256 cost +0.5-1.1 s/query there); sf10 (1.6 GB) ->
# 256, reproducing the r7 soak win (substring cut exponent 1.25->1.03).
_AQE_BYTES_PER_INITIAL_PARTITION = 4 * 1024 * 1024


def _input_bytes(sf_dir: str) -> int:
    total = 0
    try:
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                if f.endswith(".parquet"):
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
    except OSError:
        pass
    return total


def _aqe_initial_partitions(sp: int, cpus: int, sf_dir: str) -> int:
    """Input-size-aware AQE initialPartitionNum (VERDICT r7 brief #1):
    small inputs keep Spark's default (= shuffle partitions — wide
    initial shuffles carry a fixed per-task cost the input can't
    amortize), big inputs start wide (up to 8x cores) so sort/agg
    partitions stay spill-free and AQE coalesces DOWN.  On a real
    cluster the same policy runs off the job's input listing; here the
    bench/test input is $SPARK_GRAFT_SF_DIR."""
    return max(sp, min(8 * cpus,
                       _input_bytes(sf_dir)
                       // _AQE_BYTES_PER_INITIAL_PARTITION))


def get_spark(app_name: str = "mediawiki_to_notion_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    AQE is enabled so that at 100 TB the runtime can coalesce small
    shuffle partitions, re-plan skewed joins (a single wiki page with
    500k blocks — reference FAQ.md:68 — is exactly AQE's skew case),
    and convert sort-merge joins to broadcast when a filtered side
    turns out small.
    """
    cpus = host_cpus()
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", host_driver_memory())
        .config("spark.ui.enabled", "false")
        # no console progress bars: they interleave carriage-return
        # frames into stdout, which corrupts line-oriented captures
        # (the driver tail-parses bench.py's final JSON line)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    # AQE initial shuffle-partition count (shuffles start wide, AQE
    # coalesces down), derived from the input size (see
    # _aqe_initial_partitions — r7's constant 8x cores taxed small
    # inputs +0.5-1.1 s/query, measured, SCALING.md "wide-AQE A/B").
    derived = _aqe_initial_partitions(
        sp, cpus, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    if derived > sp:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(derived))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with scale-oriented defaults.

The defaults here are the ones we would ship to a 1000-executor cluster:
AQE on (runtime re-planning + skew-join splitting), Arrow transport for
every pandas UDF, UTC session time zone (oracle comparability), and a
shuffle-partition count that callers override per deployment (tests use
~#cores; a real cluster uses 2-3x total cores and lets AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conservative Arrow batch size: mention detection carries whole documents
# per row; 1-4 KB content x 10k rows ~= 40 MB per batch, well inside
# executor memory even at 100x content size.
_ARROW_BATCH = "10000"

# default driver heap: this share of the machine's RAM, capped at 48g.
# A heap above physical memory lets the JVM grow until the OS kills it.
_HEAP_FRACTION = 0.5
_HEAP_CAP_MB = 48 * 1024


def _default_driver_memory() -> str:
    """``spark.driver.memory`` sized from MemTotal; the cap when
    MemTotal is unreadable (non-Linux)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024  # kB
                    return f"{min(int(total_mb * _HEAP_FRACTION), _HEAP_CAP_MB)}m"
    except OSError:
        pass
    return f"{_HEAP_CAP_MB}m"


def get_spark(
    master: str | None = None,
    app_name: str = "sling_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    or ``local[*]``. ``shuffle_partitions`` defaults to the local core
    count — on a real cluster pass ~2x total executor cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            # local[N], local[*], and local[N,maxFailures] are all
            # valid master forms — parse only the thread component
            inner = master[len("local[") : -1].split(",")[0].strip()
            if inner == "*":
                shuffle_partitions = os.cpu_count() or 8
            else:
                shuffle_partitions = int(inner)
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- oracle comparability -------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-plan, skew splitting -------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing --------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow everywhere (pandas UDFs are the only Python path) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", _ARROW_BATCH)
        # 128 MB parquet split: good balance for wide-content scans
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # wide-agg codegen: a 128-permutation minhash signature is 128
        # aggregate fields; above the default maxFields=100 whole-stage
        # codegen silently drops to interpreted eval (measured 6x on the
        # signature stage), so keep the engine's widest planned agg in
        # codegen range
        .config("spark.sql.codegen.maxFields", "256")
        # quiet the UI in tests / sandboxes
        .config("spark.ui.enabled", os.environ.get("SLING_SPARK_UI", "false"))
        # local mode: driver heap IS the executor heap; 32 concurrent
        # tasks caching token-array columns thrash an 8g heap (measured
        # 2x wall-clock regression), so default high — but from the
        # machine, never above its RAM. Override: SLING_SPARK_DRIVER_MEM.
        .config(
            "spark.driver.memory",
            os.environ.get("SLING_SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

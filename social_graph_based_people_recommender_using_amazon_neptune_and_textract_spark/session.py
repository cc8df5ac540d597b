"""SparkSession factory tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on) in a single JVM whose heap is ``$SPARK_GRAFT_DRIVER_MEM``
(default: half of physical memory), but every knob below is chosen for
the 1000-executor / 100 TB target:

- **AQE on** (`spark.sql.adaptive.*`): runtime re-planning gives us
  shuffle-partition coalescing, skew-join splitting (celebrity vertices in
  the social graph are the canonical skew source) and dynamic
  broadcast-join demotion/promotion at scale.
- **shuffle.partitions**: defaults to 2× local cores here; on a real
  cluster this is set to ~2–3× total executor cores (or left to AQE's
  coalescing with a high initial value). Exposed as a parameter.
- **Arrow enabled**: every Pandas-UDF boundary (OCR stub, multimodal
  decode, optional vectorized cosine) transfers columnar Arrow batches,
  not pickled rows.
- **parquet filter pushdown + session TZ UTC**: deterministic timestamp
  semantics so results match the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dirs() -> str | None:
    """Shuffle/spill scratch space. On this single-node harness the root
    disk is a throttled virtual device — shuffle writes through it showed
    6-20x run-to-run variance (129s vs 7s for the same 26M-row join).
    tmpfs removes the disk from the path entirely; on a real cluster
    SPARK_LOCAL_DIRS points at instance NVMe instead."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        return "/dev/shm/spark-graft-tmp"
    return None


#: Protected-storage share of unified memory (Spark's default).
STORAGE_FRACTION = "0.5"

#: Whole-stage-codegen compile cache (Spark default 100 entries). This
#: engine serves 200+ distinct query plans from one session (the
#: ES/Neptune-style serving model), each compiling several generated
#: classes — at the default size the cache thrashes and every re-serve
#: pays Janino recompilation. 2000 entries hold the full workload's
#: bytecode (tens of MB); the same sizing argument applies to any
#: wide-workload production deployment. Interleaved same-day A/B (fresh
#: sessions, 30-query steady-state pass ×2 per side): 16.2/14.4 s at 100
#: vs 10.4/12.8 s at 2000 — consistent direction in all four comparisons.
CODEGEN_CACHE_ENTRIES = "2000"


def _default_driver_mem() -> str:
    """Half of physical memory. local[N] runs every task thread AND all
    persisted blocks in the one driver JVM, so the heap is sized like N
    executors — but never past what the machine has: a heap larger than
    RAM (on a host without swap) lets the JVM grow until the kernel
    OOM-kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 2 // 2**20}m"


def get_spark(
    app_name: str = "sgr-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.memory.storageFraction", STORAGE_FRACTION)
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
    )
    local_dirs = _local_dirs()
    if local_dirs:
        builder = builder.config("spark.local.dir", local_dirs)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

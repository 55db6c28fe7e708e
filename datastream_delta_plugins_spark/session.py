"""SparkSession construction pinned for deterministic, DuckDB-comparable
semantics and local[N] throughput.

Settings rationale (all public Spark configs):
  - session timeZone=UTC: the DuckDB oracle reads parquet timestamps as
    UTC-naive; pinning UTC makes date/timestamp functions agree.
  - AQE on (+coalesce): runtime re-planning handles skew and avoids tiny
    shuffle partitions at small SF while staying correct at 100 TB.
  - shuffle.partitions defaults to the local core count; a real cluster
    deployment would size this to ~2-3x total executor cores.
  - Arrow enabled: fast toPandas()/pandas UDF transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _tune_worker_allocator() -> None:
    """Python workers inherit the JVM's env (set here, pre-launch).

    numpy frees/reallocates MB-scale temporaries constantly in the
    Arrow-batched decode paths; glibc's default 128 KiB mmap threshold
    turns each into an mmap/munmap pair, and at local[32] the resulting
    page-fault storm serializes in the kernel (measured on the since
    retired numpy wavefront Avro decoder: 16-way decode 2.8 s -> 2.0 s
    per file with these settings). Large thresholds keep big blocks on
    the reusable heap instead."""
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")


def _aqe_from_env() -> str:
    """Normalize SPARK_GRAFT_AQE to the 'true'/'false' the Spark conf
    requires, failing fast at session build on anything else — '0'
    passed verbatim would only blow up as an IllegalArgumentException
    deep inside the first query, far from the misspelled env var."""
    raw = os.environ.get("SPARK_GRAFT_AQE", "true").strip().lower()
    if raw in ("true", "1", "yes", "on"):
        return "true"
    if raw in ("false", "0", "no", "off"):
        return "false"
    raise ValueError(
        f"SPARK_GRAFT_AQE must be a boolean-ish value "
        f"(true/false/1/0/yes/no/on/off), got {raw!r}")


def sized_shuffle_partitions(input_bytes: int, cpus: int) -> int:
    """Shuffle-partition count sized by DATA VOLUME, per Spark's own
    tuning guidance (~128 MB advisory bytes per shuffle partition),
    instead of the core-count default.

    The initial partition number sets the shuffle WRITE width (map
    tasks each write one bucket per partition) and the sort-sampling
    width — costs AQE's read-side coalescing cannot undo. For inputs
    far under one advisory block, core-width shuffles are pure
    overhead: measured on the sf0.1 headline set (same-session
    interleaved A/B, pair-min), 32 -> 8 initial partitions cut the
    16-query total 4.88 -> 3.96 s with byte-identical results.

    Floor of 8 keeps reduce-side order-sensitive stages (window
    sorts, sessionize) off a single core at test scale; cap of
    3*cpus matches the classic cluster sizing rule, so at 100 TB
    (where input_bytes/128 MB is tens of thousands) this returns the
    large partition counts a real deployment runs with and AQE
    coalesces/splits from there.
    """
    return max(8, min(3 * cpus, input_bytes // (128 << 20)))


def get_spark(app_name: str = "datastream-delta-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = (shuffle_partitions
                          or int(os.environ.get(
                              "SPARK_GRAFT_SHUFFLE_PARTITIONS", "0"))
                          or cpus)
    _tune_worker_allocator()
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Split small files to at least the core count: test-scale files
        # are single-digit MB (< one 128 MB split), which would serialize
        # every scan stage on one core. At cluster scale the byte-size
        # rule dominates and this hint is a no-op.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # AQE default ON (skew-join splits + partition coalescing are
        # the 100 TB posture, and the multi-exchange operators need its
        # coalescing: d03 measured 0.6 s with AQE vs 1.5-2.0 s without,
        # its 8 exchanges paying full-width task counts). The
        # SPARK_GRAFT_AQE=false escape hatch exists for single-exchange
        # interactive workloads, where AQE's job-per-exchange launches
        # cost ~15-20% (measured on the bench's floor-bound queries) —
        # an operator tuning choice, never required for correctness.
        .config("spark.sql.adaptive.enabled", _aqe_from_env())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=false: Spark's AQE default coalesces shuffle
        # reads only down to defaultParallelism, so a KB-scale shuffle
        # still runs `cores` reduce tasks ("maximize parallelism");
        # Spark's own config doc recommends false — respect the 64 MB
        # advisory size and let reduce-task counts follow the DATA.
        # Measured here (same-session interleaved A/B, 16 headline
        # queries at sf0.1): total 4.74 -> 3.96 s combined with
        # byte-sized initial partitions (sized_shuffle_partitions).
        # At 100 TB every real shuffle exceeds the advisory size and
        # this is a no-op; it only stops tiny shuffles from paying
        # full-width task launches.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.session.timeZone", "UTC")
        # nanos-timestamp parquet (events.ts) reads as long session-wide;
        # sources.load_table converts cast-on-use (see its NOTE)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable determinism configs to an existing
    session (used when the harness, not us, built the SparkSession)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark

"""SparkSession factory with scale-oriented defaults.

Designed for a 1000-executor cluster reading ~100 TB; tested on local[N].
All knobs here are plain Spark SQL configs — nothing cluster-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """About half of physical memory (``MemTotal`` in ``/proc/meminfo``),
    leaving the rest to Python workers and the OS; ``8g`` where
    ``/proc/meminfo`` is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "quackosm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with AQE + Arrow enabled.

    Defaults follow the environment contract: ``local[$SPARK_GRAFT_CPUS]``
    with ``spark.sql.shuffle.partitions`` sized to the core count — at
    cluster scale these come from the deploy config instead, and AQE
    coalesces/splits partitions at runtime regardless.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # Python worker processes (PBF decode + UDF workers) don't inherit the
    # driver's sys.path mutations — without this, running from any directory
    # other than the repo root fails with ModuleNotFoundError inside the
    # PBF decode. On a real cluster the package is pip-installed on
    # executors instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, and dynamic join-strategy switching. This replaces the
        # reference's hand-rolled memory ladders (pbf_file_reader.py:138-159).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Actually shrink small shuffle outputs to minPartitionSize instead
        # of preserving parallelism: the deep prefilter/closure DAG has many
        # id-set stages whose default dozens of KB-sized tasks cost more in
        # scheduling than compute (measured: monaco filtered conversion
        # 13 s → 6.7 s). Large stages are unaffected — coalescing only ever
        # merges below-target partitions.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # Post-shuffle target partition size for AQE coalescing. With
        # parallelismFirst=false (above), AQE merges shuffle reads up to
        # THIS size — at the 64 MB default every MB-scale intermediate
        # (e.g. a pair table's partial-agg output) collapses to ONE task
        # and the final aggregate runs serially (measured r11: q17's
        # 5.7 MB groupBy read coalesced to 1 task, 0.49 s of its 1.5 s
        # wall; 1m advisory → q17 1.37→0.98 s, q07 0.40→0.33 s, q14
        # 0.54→0.48 s, interleaved A/B). Local-mode tasks cost ~1-5 ms to
        # schedule, so 1 MB tasks are effectively free there; on a real
        # cluster use 64-256 MB (scheduling + shuffle-fetch overheads
        # dominate below that — guide values), via env or extra_conf.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get(
                "SPARK_GRAFT_ADVISORY_PARTITION_SIZE",
                "1m" if master.startswith("local") else "64m",
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 128 MB scan splits — matches the reference's intermediate parquet
        # FILE_SIZE_BYTES '128MB' (pbf_file_reader.py:2686-2699) and is the
        # right granularity for 100 TB of parquet on a real cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Sane timestamps regardless of cluster TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # OSM tag keys are case-sensitive and real data contains keys that
        # differ only by case (monaco has both `fixme` and `FIXME`) — with
        # Spark's default case-insensitive resolution, exploded tag columns
        # for such keys become AMBIGUOUS_REFERENCE. DuckDB (the reference
        # engine) is case-sensitive here too.
        .config("spark.sql.caseSensitive", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # Long-lived sessions (the 300-test suite, notebooks, streaming
        # drivers) accumulate broadcast blocks + shuffle files that the
        # ContextCleaner only frees on driver GC; the default periodic-GC
        # interval (30 min) can be longer than the whole session. Fire it
        # every 5 min so a local[32] driver heap stays flat.
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

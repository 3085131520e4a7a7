"""SparkSession factory with CDC-ingest-appropriate defaults.

Scale notes (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalesce + skew-join split is the backstop for residual
  skew after our explicit salting (SURVEY.md §4 "Skew handling").
- shuffle.partitions defaults to the local core count; on a real cluster
  this is set to ~2-3x total cores via spark-submit conf.
- Arrow enabled: every Python-side transform in this engine is a vectorized
  pandas UDF (input_hint: "no per-row Python").
- UTC session TZ so parquet timestamps compare bit-exactly with the DuckDB
  oracle (which is UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 16g: a fixed 16g heap on a smaller
    host lets the JVM grow until the kernel OOM-kills it. Falls back to
    the 16g cap where /proc/meminfo is unavailable."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{max(1, min(16 * 1024, kb // 2048))}m"


def build_session(
    master: str | None = None,
    app_name: str = "tapdata_connectors_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode; never the 200 default
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT96 (the historical default) carries no parquet min/max stats,
        # which silently disables both parquet row-group pushdown and the
        # lake's manifest-bounds file skipping (lake/stats.py) on ts cols
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_memory())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def submit_session(
    app_name: str = "tapdata_connectors_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session factory for `spark-submit` entry points (jobs/replay_job.py).

    Unlike build_session, this NEVER sets a master, deploy mode, or driver
    memory — those belong to the spark-submit command line (the north
    rule's `spark-submit --py-files` shape: cluster topology is the
    operator's decision, not the job's). Only SQL-layer defaults that the
    engine depends on for correctness/portability are applied, and each
    yields to an explicit `--conf` from the submit command: under
    spark-submit no session exists yet and getOrCreate applies builder
    options ON TOP of the submit-provided SparkConf, so each default is
    set only when the submit conf does not already carry the key
    (advisor item — the r5 code documented the yield but overrode).
    `extra_conf` is the CALLER's explicit choice and always applies.
    shuffle.partitions is left to the cluster default unless passed via
    extra_conf or --conf.
    """
    from pyspark import SparkConf

    submitted = SparkConf()  # loads the spark-submit-provided properties
    builder = SparkSession.builder.appName(app_name)
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    }.items():
        if not submitted.contains(k):
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory.

Local testing runs a single JVM (local[N]); the configuration is written so
the same code lands well on a 1000-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), shuffle partitions
sized to the parallelism actually available, Arrow enabled for the
Pandas-UDF paths, and UTC timezone pinned so results compare bit-for-bit
against the DuckDB oracle. Statement rows (inserted/deleted tuples, DRL
literals, empty and catalog relations) enter Spark as Arrow-built JVM
``LocalRelation``s through ``algebra.local_frame``, independent of the
Arrow conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sakura-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all cores. Shuffle
    partitions default to the core count — at cluster scale this knob is
    replaced by AQE's coalescing, which is enabled.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else n_cores

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Split small scans across the cores (no shuffle — the scan itself
        # fans out). At cluster scale files dwarf maxPartitionBytes and
        # these floors are no-ops; at bench scale they stop a single small
        # parquet file from pinning expression-heavy pipelines to 1 task.
        # The floor is the HOST's physical count, not the session's core
        # budget, and that is deliberate (round-13 A/B at CPUS=8):
        # tying it to the budget (8 splits on 8 cores) removed the
        # 4-wave over-decomposition that load-balances expression-heavy
        # map stages across uneven parquet splits — dedup_minhash_pairs
        # regressed 2.32 -> 4.04 s while light scans gained ~0.1 s.
        .config("spark.sql.files.minPartitionNum", str(n_cores))
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        # Some sources write TIMESTAMP(NANOS) which Spark's vectorized reader
        # rejects; read them as raw nanos longs and convert in load_table().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, path: str):
    """Read a parquet table, normalizing TIMESTAMP(NANOS) columns.

    Self-sufficient on ANY session (the caller may pass a session built
    without :func:`get_spark`): when the footer shows a timestamp[ns]
    column, ``spark.sql.legacy.parquet.nanosAsLong`` — a runtime SQL conf —
    is set on the passed session before the read, so Spark surfaces the
    column as a raw nanos long instead of rejecting the file
    (PARQUET_TYPE_ILLEGAL). The long is then converted back to a proper
    timestamp (integer DIV — no double round-trip, nanos exceed 2^53).
    Footer inspection is driver-side and O(1).
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    try:
        schema = pq.read_schema(path)
        nanos = [f.name for f in schema if str(f.type) == "timestamp[ns]"]
    except Exception:
        nanos = []
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's parquet tables as a dict name -> DataFrame."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    return {n: load_table(spark, f"{sf_dir}/{n}.parquet") for n in names}

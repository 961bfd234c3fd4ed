"""SparkSession factory with the engine's performance settings.

Mirrors the reference's tuned session bootstrap
(``/root/reference/src/config.py:20-133`` and
``/root/reference/src/data_processor.py:41-85``): AQE on (incl. skew-join
and partition coalescing), broadcast threshold, shuffle parallelism and
input-split sizing, snappy parquet compression.

The settings are sized for ``local[N]`` single-JVM runs, where a shuffle
fan-out beyond the core count only adds task-scheduling overhead.
SCALING.md gives the cluster sizing (the reference's dev/staging/prod
tiers) for runs on many executors.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# shuffle fan-out when the master gives no core count (local[*], a
# cluster URL)
SHUFFLE_PARTITIONS = 32
# fixture files are ~10 MB, so 128 MB splits would scan them in 1-3
# tasks — split small so all cores engage
MAX_PARTITION_BYTES = str(2 * 1024 * 1024)
BROADCAST_THRESHOLD = "104857600"  # 100 MB (config.py:26,105)
EXTRA_CONF = {
    "spark.sql.files.openCostInBytes": "131072",
    # full-outer joins (MERGE writeAllChanges) can't broadcast;
    # shuffled-hash beats sort-merge at single-node scale (measured 2×
    # on MERGE). A cluster keeps SMJ — safer under skew/memory
    # pressure at 100 TB.
    "spark.sql.join.preferSortMergeJoin": "false",
}


def _shuffle_partitions_for(master: str) -> int:
    """Shuffle fan-out tracks the session's ACTUAL core count, parsed
    from the final ``local[N]`` master, whether that came from
    ``SPARK_GRAFT_CPUS`` or an explicit caller master: scale-adaptive,
    not a constant tuned for one core count — benchmarks run at
    several core counts, and 32 fixed tasks on e.g. 8 cores only add
    scheduling overhead; a caller-pinned master must not desync from an
    unrelated env var either.
    ``local[*]`` and cluster masters keep ``SHUFFLE_PARTITIONS``."""
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m and int(m.group(1)) > 0:
        return int(m.group(1))
    return SHUFFLE_PARTITIONS


def build_session(
    app_name: str = "spark-engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a tuned SparkSession.

    UTC session timezone is forced so timestamp semantics are stable and
    oracle-comparable. Arrow is enabled for the vectorized Pandas-UDF
    path used by the LLM-pipeline operators.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle_partitions = _shuffle_partitions_for(master)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE family (reference data_processor.py:59-62)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # shuffle / IO sizing (data_processor.py:65-68)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", MAX_PARTITION_BYTES)
        # join planning (data_processor.py:78-79)
        .config("spark.sql.autoBroadcastJoinThreshold", BROADCAST_THRESHOLD)
        # columnar storage (data_processor.py:82-83)
        .config("spark.sql.parquet.compression.codec", "snappy")
        # determinism + python interop
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in {**EXTRA_CONF, **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()


def get_or_create(spark: SparkSession | None = None) -> SparkSession:
    """Reuse an existing session when the driver hands us one."""
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()

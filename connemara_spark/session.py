"""SparkSession factory with scale-oriented defaults.

The reference pins UTC on every connection (connemara_replication.c:524,
``SET timezone TO 'UTC'``); we pin ``spark.sql.session.timeZone=UTC`` for
parity. AQE is enabled so skewed CDC keys / shuffles re-plan at runtime on a
real cluster; locally we size shuffle partitions to the core count.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "connemara-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``); on a
    real cluster the same config block applies unchanged — nothing here is
    local-mode specific except the master URL.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Event-time parity with the reference (UTC everywhere).
        .config("spark.sql.session.timeZone", "UTC")
        # Runtime re-planning: skew joins, partition coalescing, broadcast
        # conversion — essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Columnar Arrow transfer for the few pandas-UDF ops (similarity).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Nested-field pruning so payload-struct projections prune at the scan.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Driver testdata stores some timestamps as TIMESTAMP(NANOS); read as
        # long (converted to micros in the loader) instead of erroring.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    # Builder configs are ignored when getOrCreate() returns a PRE-EXISTING
    # session (e.g. one a test or notebook built bare), but NTZ epoch math
    # (functions/pg.extract_epoch) silently depends on session tz = UTC —
    # a non-UTC session with DST transitions would skew gap/sessionization
    # arithmetic by the offset change. Pin it at runtime too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set session config ``conf`` for the block only. On exit — normal
    or raising — each key gets back the value it had before, and a key
    that was never set is UNSET again (re-setting it to the value a bare
    ``get`` reports would pin Spark's built-in default explicitly, a
    silent leak into every later query of the session)."""
    # get(key, None) is None exactly when the key was never set
    before = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, old in before.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)

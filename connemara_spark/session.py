"""SparkSession factory with scale-oriented defaults.

The reference pins UTC on every connection (connemara_replication.c:524,
``SET timezone TO 'UTC'``); we pin ``spark.sql.session.timeZone=UTC`` for
parity. AQE is enabled so skewed CDC keys / shuffles re-plan at runtime on a
real cluster; locally we size shuffle partitions to the core count.
"""

from __future__ import annotations

import logging
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Entries of the JVM's generated-class cache (``spark.sql.codegen.cache.
# maxEntries``, Spark's default 100). The reference replayer reuses cached
# prepared statements for every change it applies (replay.pl:173-260); the
# Spark analog is this cache, and it only works while a batch's whole
# working set of generated classes fits. One steady ``fresh_views`` batch
# (perfbench: summary, fold, min/max and top-k patches, JDBC sink,
# watermark filter) uses ~158 classes, and the cache is an LRU split into
# 4 segments, so at 100 entries each class is evicted before the next
# batch asks for it again. Compiles per steady batch (batches 3-6 of a
# seed-1 run, 4-core host): 100 entries 156-158, 200 / 400 / 1000 / 2000
# entries 0. 200 holds ~50 classes per segment against ~40 needed; 1000
# leaves room for deployments with more views and sinks per batch.
_CODEGEN_CACHE_ENTRIES = 1000
_CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


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
        # static: sized before the JVM's first codegen (see the constant)
        .config(_CODEGEN_CACHE_CONF, str(_CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    # Builder configs are ignored when getOrCreate() returns a PRE-EXISTING
    # session (e.g. one a test or notebook built bare), but NTZ epoch math
    # (functions/pg.extract_epoch) silently depends on session tz = UTC —
    # a non-UTC session with DST transitions would skew gap/sessionization
    # arithmetic by the offset change. Pin it at runtime too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    check_codegen_cache(spark)
    return spark


def check_codegen_cache(spark: SparkSession) -> bool:
    """Whether ``spark``'s generated-class cache holds at least
    ``_CODEGEN_CACHE_ENTRIES`` classes; logs one warning when it does not.

    The cache size is a static conf: ``get_spark`` cannot change it on a
    session that already existed (a bare driver-harness session, a
    notebook), so such a session keeps the size it was built with."""
    entries = int(spark.conf.get(_CODEGEN_CACHE_CONF))
    if entries >= _CODEGEN_CACHE_ENTRIES:
        return True
    _log.warning(
        "%s=%d on an existing session (engine default %d): a steady-state "
        "CDC batch with maintained views needs ~160 generated classes, so "
        "each batch recompiles most of them (~157 classes, 1.6-2.0 s of "
        "compile per batch on a 4-core host); build the session with "
        "get_spark, or set the conf at startup",
        _CODEGEN_CACHE_CONF, entries, _CODEGEN_CACHE_ENTRIES,
    )
    return False


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics`` compile-time histogram count, a cache miss each).
    The counter is JVM-global: a delta over some code counts every
    concurrent query's compiles too."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


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

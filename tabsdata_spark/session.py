"""SparkSession bootstrap tuned for the tabsdata-spark engine.

The reference (tabsdata) runs Polars in-process and trusts its optimizer
(reference: client/td-sdk/tabsdata/tableframe/lazyframe/frame.py:545-563
enables predicate/projection/slice pushdown etc.).  On Spark the analogous
move is to enable AQE + all adaptive rewrites and let Catalyst do the rest.

All knobs here are scale-oriented: AQE coalesces post-shuffle partitions at
small SF and splits skewed joins at large SF, so one config serves both the
local[32] test harness and a 1000-executor cluster.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("TDSPARK_SHUFFLE_PARTITIONS", "32"))
CODEGEN_CACHE_ENTRIES = "5000"

_log = logging.getLogger(__name__)


def get_spark(
    app_name: str = "tabsdata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching (broadcast small post-filter sides).
    - Arrow on: every pandas_udf / toPandas crossing is Arrow-batched.
    - ANSI off: tabsdata/Polars semantics are non-ANSI (overflow wraps,
      bad casts -> null); `cast(strict=True)` opts into ANSI per-call.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.cbo.enabled", "true")
        # parquet TIMESTAMP(NANOS) (e.g. pandas-written) -> LongType nanos;
        # readers re-derive timestamps via timestamp_micros(ns div 1000)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("TDSPARK_DRIVER_MEM", "8g"))
        # The ContextCleaner reclaims the localCheckpoint, broadcast and
        # shuffle state of dropped DataFrames only after a JVM GC
        # processes their weak references, and its safety-net GC fires
        # every 30min by default — longer than a whole multi-query batch.
        # (Dataset persists are not among them: the CacheManager holds
        # those strongly until scale.invocation unpersists them.)  In
        # local mode (driver == executor JVM) hundreds of sequential
        # queries accumulate dead blocks that squeeze the unified memory
        # pool into GC storms (measured: an isolated 1.0s query read 30.9s
        # after 20 heavy queries on the default; 45s periodic GC removed
        # the spike with the identical workload — see
        # OPTIMIZATION_r11.md).  On a real cluster this costs one driver
        # System.gc() per interval: noise.
        .config("spark.cleaner.periodicGC.interval", "45s")
        # The whole-stage-codegen class cache holds only 100 entries by
        # default (static conf).  A multi-query application compiles ~5-10
        # codegen units per query, so after ~20 distinct queries earlier
        # entries are evicted and re-running a query re-pays Janino
        # compilation AND fresh JIT warmup — exactly the one-time costs a
        # warmup pass is supposed to absorb (measured: identical headline
        # pass after a 230-query warmup read 15.44s at 100 entries vs
        # 13.52s at 5000, same session shape back-to-back; iterative
        # queries that re-derive identical plans benefit most — see
        # OPTIMIZATION_r11.md).  Cost: cached GeneratedClass metadata in
        # metaspace (~30KB/entry, ~150MB at 5000) — bounded and equally
        # valid on a cluster, where executors keep their own cache.
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # static conf: the builder's value is silently ignored when
    # getOrCreate attaches to a session already running in this JVM
    codegen_cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    if codegen_cache != CODEGEN_CACHE_ENTRIES:
        _log.warning(
            "spark.sql.codegen.cache.maxEntries is %s, not %s (static conf:"
            " set by an existing session or extra_conf)", codegen_cache,
            CODEGEN_CACHE_ENTRIES)
    return spark

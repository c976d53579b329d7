"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the same configs are what we'd
ship in spark-defaults for a multi-executor cluster: AQE on (runtime
skew-join splitting + partition coalescing), Arrow on (all pandas-UDF
kernels are Arrow-batched), UTC session timezone (the reference floors
DATE keys in epoch-ms UTC — reference: src/upgini/utils/datetime_utils.py:146-168).

The generated-code cache (``spark.sql.codegen.cache.maxEntries``) holds
:data:`CODEGEN_CACHE_ENTRIES` classes instead of Spark's 100. One pass of
the fit → dedup → record ids → transform → metrics lifecycle plus its
knn/cluster/dedup/psi queries generates about 320 distinct classes, so
a 100-entry cache evicts them all and every pass compiles them again
(319 Janino compiles, ~1.8 s of driver time per warm pass at 4 cores,
and the fresh classes run JIT-cold in the tasks). The cache is static
and JVM-wide: Spark sizes it once, at the JVM's first compile, so it
must be set when the session is built.
"""

from __future__ import annotations

import logging
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# ~3x the ~320 classes of one lifecycle pass (the enrich flagship needs 53)
CODEGEN_CACHE_ENTRIES = 1000
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"

logger = logging.getLogger(__name__)


def get_spark(
    app_name: str = "upgini_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. ``shuffle_partitions`` defaults to
    ``max(32, 4 × $SPARK_GRAFT_CPUS)``, or 32 when that variable is
    unset — small enough to avoid tiny-task overhead locally, and AQE
    coalesces further at runtime; on a real cluster this would be sized
    to ~2-3x total executor cores.

    Static confs (the codegen cache size among them) only take effect
    when this call starts the SparkContext; attaching to a running one
    whose conf lacks the cache size logs a warning.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if cpus:
            shuffle_partitions = max(DEFAULT_SHUFFLE_PARTITIONS, 4 * int(cpus))
        else:
            shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_ENTRIES),
        **(extra_conf or {}),
    }
    attached = SparkContext._active_spark_context
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cache = conf[CODEGEN_CACHE_CONF]
    if attached is not None and attached.getConf().get(CODEGEN_CACHE_CONF) != cache:
        logger.warning(
            "attached to a running SparkContext without %s=%s: the JVM-wide "
            "codegen cache keeps its old size, so repeated passes recompile",
            CODEGEN_CACHE_CONF, cache,
        )
    return spark

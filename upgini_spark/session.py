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

DataFrame call-site capture (``spark.python.sql.dataFrameDebugging.enabled``,
:data:`DATAFRAME_DEBUGGING_CONF`) is off. PySpark 4 wraps every
``functions.*`` call and every ``Column`` method in ``_with_origin``
(``pyspark/errors/utils.py``); with the flag on (Spark's default) each
call reads the active session, looks up ``PySparkCurrentOrigin``, reads
a conf and sets and clears the origin through the JVM, walks the Python
stack and tries ``import IPython`` / ``import ipykernel``. Building
``(F.col("x") + i).alias("y")`` then costs 35-39 py4j round trips
instead of 5-7, and the first ``Column`` call in a process with IPython
installed imports it (~540 modules, ~0.3-0.4 s, ~19 MB of driver RSS),
while a process without ``ipykernel`` retries that import, a
``sys.path`` scan, on every later call. The engine
builds thousands of expressions per lifecycle pass, so the flag alone
roughly halves the driver's round trips. What it drops is the "DataFrame
call site" section of Spark runtime error messages; the error itself is
unchanged. To get it back while debugging, pass
``extra_conf={DATAFRAME_DEBUGGING_CONF: "true"}`` before the process
builds its first ``Column``: PySpark reads the flag once per process
(``pyspark.errors.utils.is_debugging_enabled``) and caches it.
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
DATAFRAME_DEBUGGING_CONF = "spark.python.sql.dataFrameDebugging.enabled"

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
        DATAFRAME_DEBUGGING_CONF: "false",
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

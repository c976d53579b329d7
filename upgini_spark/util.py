"""Small engine-wide helpers."""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterable, Sequence
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """Build a small DataFrame from driver rows as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list_of_tuples, ddl)`` plans a Python-RDD
    scan: every job that (re-)executes the frame starts a Python-worker
    stage, a fixed toll per consuming job even for a 10-row offset map
    (~200-300 ms on a 4-vCPU host with reused workers). Shipping the rows
    as one Arrow table instead makes the frame a ``LocalRelation`` with
    exact size statistics (the optimizer can prune it when empty and
    broadcast it when small) and no Python worker on any consumer.

    ``rows`` are tuples (or ``Row``s) in ``schema`` field order;
    ``schema`` is a DDL string or a ``StructType``. Values go through
    each field type's ``toInternal`` first — the conversion the
    Python-RDD path applies — so a naive ``datetime`` in a ``timestamp``
    column is read in the Python process's local time zone, as that path
    reads it, and every value lands bit-identical.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for field, col in zip(schema.fields, cols):
        t = field.dataType
        vals = [t.toInternal(v) for v in col] if t.needConversion() else list(col)
        arrays.append(pa.array(vals, type=to_arrow_type(t)))
    table = pa.Table.from_arrays(arrays, names=schema.names)
    return spark.createDataFrame(table, schema)


def spread_scan(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned input before CPU-heavy work.

    A single-row-group parquet file (or any unsplittable input) gives
    the scan ONE task, so every expensive projection above it — row
    hashing, per-row array kernels, partial aggregation, exchange
    serialization — runs on one core while the rest of the cluster
    idles (guide §2.5 "input skew: one huge unsplittable file"). One
    cheap shuffle of the raw rows, hash-partitioned on the full row,
    buys full parallelism downstream (measured: simhash_32 7.9 s →
    0.8 s at sf1.0/local[32]).

    Scale-adaptive: the target is the session's default parallelism,
    and inputs that already provide at least that many
    partitions (any real multi-file table at cluster scale) pass
    through untouched — on a 100 TB layout this is a no-op, not a
    wasted shuffle. Row-identical by construction; callers are
    partition-invariant by engine design (oracle-hash enforced).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    # hash-partition on the full row, NOT round-robin: a keyless
    # repartition(n) first pays a local sort of its input
    # (spark.sql.execution.sortBeforeRepartition, the SPARK-23207 retry
    # defense) — single-task for exactly the unsplittable scans this
    # helper targets, and measured slower than the win. A hash of the
    # row values is deterministic under task retries with no sort;
    # fully-identical duplicate rows co-locate, which is acceptable
    # spread skew for real data.
    cols = [df["`" + c.replace("`", "``") + "`"] for c in df.columns]
    return df.repartition(n, *cols)


def id_hash(cols: Sequence[str]) -> F.Column:
    """md5 hex of the columns' string casts joined by ``\\x1f`` (NULLs
    skipped) — the engine-portable hash behind hash sampling, hash folds
    and hash tie-breaks; ``record_ids.row_hash`` marks NULLs instead."""
    return F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))


def materialize(df: DataFrame) -> DataFrame:
    """Run ``df`` once and return a frame over the stored result: the one
    place the engine takes an eager checkpoint.

    A checkpoint, not ``persist()``: a persisted frame stays in the
    CacheManager for the session lifetime unless explicitly unpersisted,
    while checkpoint data is reclaimed by the ContextCleaner once the
    returned frame is garbage-collected. The cut lineage also freezes
    nondeterministic columns (``monotonically_increasing_id``) for every
    later job and stops iterative plans from growing.

    With a checkpoint directory on the SparkContext (read at call time)
    the checkpoint is reliable: written there, it survives executor loss
    (``get_spark`` sets ``cleanCheckpoints`` so the files are reclaimed
    too). Otherwise it is ``localCheckpoint``: blocks live on the
    executors only, and losing one fails the downstream jobs rather than
    recomputing through nondeterministic columns into silently
    inconsistent results."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def run_concurrently(*fns: Callable[[], object]) -> list:
    """Run each callable in its own driver thread, all at once, and return
    their results in argument order.

    The threads inherit the caller's Spark local properties (a plain
    thread has none, so its jobs escape the caller's job group) and tag
    their jobs with one tag per call. On the first exception the tagged
    sibling jobs are cancelled until every thread has returned (a
    sibling between two jobs misses one cancel), and that exception is
    re-raised."""
    spark = SparkSession.active()
    sc = spark.sparkContext
    tag = f"upgini_spark-concurrent-{uuid.uuid4().hex}"
    errors: list[BaseException] = []

    def tagged(fn):
        def run():
            sc.addJobTag(tag)
            try:
                return fn()
            except BaseException as e:
                errors.append(e)
                raise

        return inheritable_thread_target(spark)(run)

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(tagged(fn)) for fn in fns]
        pending = wait(futures, return_when=FIRST_EXCEPTION).not_done
        while pending:
            sc.cancelJobsWithTag(tag)
            pending = wait(pending, timeout=0.1).not_done
    if errors:
        raise errors[0]
    return [f.result() for f in futures]

"""Small engine-wide helpers."""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
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

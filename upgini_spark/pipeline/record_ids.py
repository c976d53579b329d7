"""System record ids + the deterministic fit sort.

Reference semantics (src/upgini/features_enricher.py:4488-4595 and
src/upgini/utils/sort.py:16-61): rows are sorted by [date column, row-hash
of (sorted search keys + ranked feature columns)], per eval-set segment,
then numbered. Spark has no implicit row order, so every ordered semantic
gets an explicit total order: (date, hash, tie-break hash of all columns).

The row-hash here is md5 of the concatenated normalized values — chosen
over xxhash64 because it is reproducible in ANSI SQL (DuckDB oracle
parity), while remaining deterministic and uniform. Ids are one dense
0-based sequence across the train-first segment blocks, exactly like the
reference's reset_index after its concat.

Scale: a naive ``row_number() OVER (ORDER BY ...)`` is a single-partition
exchange — every row funnels through one task. Instead this uses the
distributed zipWithIndex pattern:

1. range-partition + sort locally on the full order key (one shuffle,
   all partitions in parallel, partition p holds keys < partition p+1);
2. ``monotonically_increasing_id()`` = (partition_id << 33) + local index,
   monotone with the total order within each partition;
3. one tiny aggregation job collects per-partition row counts and
   min-ids (one row per partition on the driver);
4. dense id = cumulative-offset(partition) + (mid − min_mid) + base,
   attached via a broadcast join — no second full-data shuffle.

``.explain()`` shows no ``Exchange SinglePartition`` (asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from upgini_spark.joins.enrich import EVAL_SET_INDEX, SYSTEM_RECORD_ID
from upgini_spark.util import local_frame

_MID_BITS = 33  # monotonically_increasing_id: partition id << 33 | counter


def _consistent_checkpoint(df: DataFrame) -> DataFrame:
    """Eager checkpoint freezing nondeterministic mids for multi-job use:
    RELIABLE (checkpoint-dir) when the session has one configured,
    executor-local otherwise (see zip_with_index docstring for the
    tradeoff)."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().checkpointDir().isDefined():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


_RANGE_PARTITION_BYTES = 64 * 1024 * 1024


def _range_partitions(df: DataFrame) -> int:
    """Range-exchange width for the zip/running-sum pattern, derived from
    the input's SIZE ESTIMATE instead of a flat
    ``spark.sql.shuffle.partitions``: a small frame (a narrow count
    projection, a k-row stats table) would otherwise fan out into
    hundreds of sub-1k-row range partitions whose extra task waves are
    pure scheduler overhead (measured 1.5 → 0.7 s for the 50k-row
    pack-offsets frame at 128 vs 32 partitions). Targets ~64 MB per
    range partition (guide §2.2 "fewer, larger reduce partitions");
    floor = the session default parallelism (every core stays busy at
    any size), ceiling = the configured shuffle partitions (big or
    unestimable inputs keep the cluster-tuned width — the optimizer
    over-estimates unknown plans, which degrades to today's behavior,
    never below it). Uses the optimizer statistics, NOT ``df.rdd``
    (which finalizes an AQE plan and can trigger eager execution).
    Output values are partition-count-invariant by construction
    (offsets are computed per partition and broadcast), pinned by the
    record-id/running-sum tests."""
    spark = df.sparkSession
    conf_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    dp = spark.sparkContext.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return conf_n
    want = -(-size // _RANGE_PARTITION_BYTES)
    return max(1, min(conf_n, max(want, dp)))


def row_hash(cols: list[str], sep: str = "\x1f") -> F.Column:
    """Deterministic, engine-portable row hash (md5 hex of joined values)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    return F.md5(F.concat_ws(sep, *parts))


def zip_with_index(
    df: DataFrame,
    order,
    out_col: str,
    keep_cols: list[str] | None = None,
    base: int = 1,
) -> DataFrame:
    """Distributed dense ``base``-based row index along a total order —
    the zipWithIndex pattern described in the module docstring. ``order``
    is a list of Column sort expressions; the index is one continuous
    sequence over the whole frame.

    The sorted+indexed intermediate is materialized with an eager
    checkpoint so the offsets job and the final pass see ONE consistent
    mid assignment (mids are nondeterministic across recomputes).
    Checkpoint — not ``persist()`` — because DataFrame persist registers
    in the CacheManager and leaks for the session lifetime unless
    explicitly unpersisted, while checkpoint blocks are reclaimed by the
    ContextCleaner once the returned DataFrame is garbage-collected;
    repeated pipeline calls stay bounded.

    Fault-tolerance tradeoff, stated plainly: ``localCheckpoint``
    truncates lineage AND stores blocks only on executors, so on a
    multi-executor cluster an executor loss after the checkpoint fails
    the downstream jobs instead of recomputing (persist would recompute —
    but through nondeterministic mids, i.e. silently inconsistent ids,
    which is worse than failing). When a Spark checkpoint directory is
    configured (``spark.sparkContext.setCheckpointDir``), a RELIABLE
    checkpoint is used automatically: same consistency, executor-loss
    safe, at the cost of one write to the checkpoint filesystem.
    """
    spark = df.sparkSession
    out_cols = keep_cols or list(df.columns)
    work = (
        df.repartitionByRange(_range_partitions(df), *order)
        .sortWithinPartitions(*order)
        .withColumn("__sri_mid__", F.monotonically_increasing_id())
    )
    work = _consistent_checkpoint(work)

    pid = F.shiftright(F.col("__sri_mid__"), _MID_BITS)
    stats = (
        work.groupBy(pid.alias("__sri_pid__"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("__sri_mid__").alias("min_mid"))
        .collect()
    )
    if not stats:
        return df.select(*out_cols).withColumn(out_col, F.lit(None).cast("long"))

    stats.sort(key=lambda r: r["__sri_pid__"])
    offsets, acc = [], 0
    for r in stats:
        offsets.append((int(r["__sri_pid__"]), acc, int(r["min_mid"])))
        acc += int(r["cnt"])
    map_df = local_frame(
        spark, offsets, "__sri_pid__ long, __sri_off__ long, __sri_minmid__ long"
    )

    keyed = work.withColumn("__sri_pid__", pid)
    out = keyed.join(F.broadcast(map_df), "__sri_pid__")
    rid = (
        F.col("__sri_off__") + (F.col("__sri_mid__") - F.col("__sri_minmid__"))
        + base
    ).cast("long")
    return out.select(*out_cols, rid.alias(out_col))


def add_system_record_id(
    df: DataFrame,
    sort_date_col: str | None,
    hash_cols: list[str],
) -> DataFrame:
    """Assign order-defining ``system_record_id`` values after the
    deterministic sort.

    Mirrors _add_fit_system_record_id (features_enricher.py:4488-4595):
    each eval_set_index segment is sorted by [date, row-hash, tie-break
    row-hash of ALL columns] and the segment blocks are laid train-first
    (reference: per-segment sort_df + concat), then ONE continuous
    0-based id sequence runs across the blocks (the reference's single
    ``reset_index`` after the concat — verified against
    expected_prepared_with_entity_system_record_id.parquet: train ids
    0..n_train-1, eval1 the next block, ...). The tie-break makes ids
    partition-invariant even for rows duplicated on (date, hash_cols):
    fully identical rows are interchangeable, so any assignment among
    them yields the same output multiset. The row-hash itself is md5
    (engine-portable), a documented deviation from pandas'
    hash_pandas_object — within-block ORDER differs from the reference,
    the block layout and id density do not.
    """
    orig_cols = list(df.columns)
    seg = EVAL_SET_INDEX if EVAL_SET_INDEX in df.columns else None

    work = df.withColumn("__sri_h__", row_hash(hash_cols)).withColumn(
        "__sri_tie__", row_hash(orig_cols)
    )
    order = (
        ([F.col(seg).asc_nulls_first()] if seg else [])
        + ([F.col(sort_date_col).asc_nulls_last()] if sort_date_col else [])
        + [F.col("__sri_h__").asc(), F.col("__sri_tie__").asc()]
    )
    return zip_with_index(
        work, order, SYSTEM_RECORD_ID, keep_cols=orig_cols, base=0
    )


def global_running_sum(
    df: DataFrame,
    order,
    value_col: str,
    out_col: str,
) -> DataFrame:
    """Distributed inclusive running sum of ``value_col`` along a total
    order — the cumsum twin of :func:`zip_with_index`: range-partition +
    local sort, per-partition totals collected (one row per partition),
    prefix offsets broadcast back, local window cumsum per partition.
    No ``Exchange SinglePartition`` regardless of row count.

    Eager checkpoint (not persist) for the same reasons as
    zip_with_index: consistent mids across the two jobs, no
    session-lifetime CacheManager leak, reliable when a checkpoint dir
    is configured.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    out_cols = list(df.columns)
    work = (
        df.repartitionByRange(_range_partitions(df), *order)
        .sortWithinPartitions(*order)
        .withColumn("__grs_mid__", F.monotonically_increasing_id())
    )
    work = _consistent_checkpoint(work)
    pid = F.shiftright(F.col("__grs_mid__"), _MID_BITS)
    # Integral value columns accumulate EXACTLY in bigint (Python int on
    # the driver, long offsets shipped back) — a double accumulator loses
    # integer exactness past 2^53, a ceiling token-count offsets would
    # inherit. Fractional columns keep the double path. Totals beyond
    # 2^63 fail loudly under ANSI sum overflow rather than wrapping.
    integral = dict(work.dtypes)[value_col] in (
        "bigint", "int", "smallint", "tinyint",
    )
    off_type = "bigint" if integral else "double"
    totals = (
        work.groupBy(pid.alias("__grs_pid__"))
        .agg(F.sum(F.col(value_col)).alias("t"))
        .collect()
    )
    if not totals:
        return df.withColumn(out_col, F.lit(None).cast(off_type))
    totals.sort(key=lambda r: r["__grs_pid__"])
    offsets, acc = [], 0 if integral else 0.0
    for r in totals:
        offsets.append((int(r["__grs_pid__"]), acc))
        acc += r["t"] or 0
    map_df = local_frame(
        spark, offsets, f"__grs_pid__ long, __grs_off__ {off_type}"
    )

    w = (
        Window.partitionBy("__grs_pid__")
        .orderBy("__grs_mid__")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    keyed = work.withColumn("__grs_pid__", pid)
    out = keyed.join(F.broadcast(map_df), "__grs_pid__")
    return out.withColumn(
        out_col, F.col("__grs_off__") + F.sum(F.col(value_col)).over(w)
    ).select(*out_cols, out_col)

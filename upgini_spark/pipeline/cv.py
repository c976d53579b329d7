"""CV split factory — fold-id assignment columns.

Reference: src/upgini/utils/cv_utils.py:12-91 (KFold / StratifiedKFold /
GroupKFold / TimeSeriesSplit from CVType, metadata.py:380-388) and
src/upgini/utils/blocked_time_series.py:11-99 (BlockedTimeSeriesSplit:
k equal blocks, each block's head = train, trailing ``test_size`` share =
test). A distributed engine assigns folds as a *column* (deterministic,
order-free) rather than returning index arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from upgini_spark.util import id_hash, local_frame


def kfold_column(
    df: DataFrame, id_cols: list[str], n_splits: int = 5, out_col: str = "fold_id"
) -> DataFrame:
    """Hash-based KFold (shuffle-equivalent, deterministic)."""
    h = id_hash(id_cols)
    return df.withColumn(out_col, F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_splits)).cast("int"))


def stratified_kfold_column(
    df: DataFrame, target_col: str, id_cols: list[str], n_splits: int = 5,
    out_col: str = "fold_id",
) -> DataFrame:
    """Per-class round-robin over the hash order: every class spreads
    evenly across folds."""
    h = id_hash(id_cols)
    w = Window.partitionBy(target_col).orderBy(h.asc(), *[F.col(c) for c in id_cols])
    return df.withColumn(out_col, ((F.row_number().over(w) - 1) % n_splits).cast("int"))


def group_kfold_column(
    df: DataFrame, group_cols: list[str], n_splits: int = 5,
    out_col: str = "fold_id", max_groups: int = 1_000_000,
) -> DataFrame:
    """All rows of a group land in one fold, folds BALANCED like sklearn's
    GroupKFold (the reference's splitter, cv_utils.py:71): groups sorted
    by size descending, each greedily assigned to the currently-lightest
    fold (ties → lowest fold index, np.argmin-style). Tie order among
    EQUAL-SIZE groups breaks by group value — deterministic and
    engine-portable, a documented deviation from np.argsort's internal
    permutation; the balance guarantee is identical.

    The greedy is inherently sequential over the GROUP-SIZE table (the
    same in-memory step sklearn runs): collected to the driver up to
    ``max_groups`` distinct groups, result broadcast back. Beyond the cap
    it degrades to hash assignment (balanced in expectation only) — at
    that cardinality individual groups are tiny and hash balance is
    tight."""
    spark = df.sparkSession
    sizes = df.groupBy(*group_cols).count()
    if sizes.count() > max_groups:
        h = id_hash(group_cols)
        return df.withColumn(
            out_col,
            F.pmod(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_splits)
            ).cast("int"),
        )
    rows = sizes.collect()
    # tie-break on the RAW group values (nulls first) so the SQL oracle's
    # ORDER BY matches — str() would collate "10" < "9"
    ordered = sorted(
        rows,
        key=lambda r: (
            -r["count"],
            tuple((r[c] is None, r[c]) for c in group_cols),
        ),
    )
    loads = [0] * n_splits
    mapping = []
    for r in ordered:
        f = loads.index(min(loads))
        mapping.append(tuple(r[c] for c in group_cols) + (f,))
        loads[f] += r["count"]
    from pyspark.sql.types import IntegerType

    map_df = local_frame(
        spark, mapping, df.select(*group_cols).schema.add("__gkf__", IntegerType())
    )
    # Null group keys ARE assigned a fold by the greedy (sklearn treats
    # NaN as a group value), so the join-back must be null-safe — a plain
    # equi-join would leave those rows with a null fold while their load
    # still skewed the balance.
    map_df = map_df.select(
        *[F.col(c).alias(f"__gk_{i}__") for i, c in enumerate(group_cols)],
        "__gkf__",
    )
    cond = None
    for i, c in enumerate(group_cols):
        this = df[c].eqNullSafe(map_df[f"__gk_{i}__"])
        cond = this if cond is None else (cond & this)
    return (
        df.join(F.broadcast(map_df), on=cond, how="left")
        .withColumn(out_col, F.col("__gkf__").cast("int"))
        .drop("__gkf__", *[f"__gk_{i}__" for i in range(len(group_cols))])
    )


def _chronological_index(df: DataFrame, ts_col: str, tie_cols: list[str]):
    """Distributed dense 0-based chronological index (range partition +
    per-partition counts — NOT a global single-partition window)."""
    from upgini_spark.pipeline.record_ids import zip_with_index

    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tie_cols]
    indexed = zip_with_index(df, order, "__cv_rn__")
    return indexed.withColumn("__cv_rn__", F.col("__cv_rn__") - 1)


def time_series_split_column(
    df: DataFrame, ts_col: str, tie_cols: list[str], n_splits: int = 5,
    out_col: str = "fold_id",
) -> DataFrame:
    """sklearn TimeSeriesSplit fold of the TEST block each row falls in:
    sklearn-EXACT TimeSeriesSplit boundaries (the reference hands CV to
    sklearn's splitter, cv_utils.py:56): ``test_size = n // (n_splits+1)``
    and test block i = [n - (k-i)*test_size, n - (k-i-1)*test_size) — the
    remainder rows all land in the leading train-only region (fold null),
    NOT spread across blocks."""
    n = df.count()
    test_size = n // (n_splits + 1)
    if test_size == 0:
        # sklearn TimeSeriesSplit raises here; an all-null fold column
        # would silently degenerate to "everything is train-only head".
        raise ValueError(
            f"Cannot have number of folds={n_splits + 1} greater than the "
            f"number of samples={n}."
        )
    first = n - n_splits * test_size
    indexed = _chronological_index(df, ts_col, tie_cols)
    rn = F.col("__cv_rn__")
    return indexed.withColumn(
        out_col,
        F.when(rn >= first, F.floor((rn - first) / test_size)).cast("int"),
    ).drop("__cv_rn__")


def blocked_time_series_column(
    df: DataFrame, ts_col: str, tie_cols: list[str], n_splits: int = 3,
    test_size: float = 0.2, out_col: str = "fold_id", role_col: str = "cv_role",
) -> DataFrame:
    """BlockedTimeSeriesSplit — reference-EXACT (blocked_time_series.py:
    62-99, replayed against tests/test_data/binary/blocked_ts_logic.csv):
    ``fold_size = n // n_splits`` chronological blocks; within each block
    positions [0, int((1-test_size)*fold_size)) are train, the rest test.
    The reference's index arithmetic drops the trailing remainder rows
    entirely (``n % n_splits`` of them) — those get fold null /
    role 'unused' here (a fold COLUMN can say so; index arrays just omit
    them)."""
    n = df.count()
    fold_size = n // n_splits
    if fold_size == 0:
        # mirrors the TimeSeriesSplit guard: fewer rows than blocks would
        # mark every row 'unused' instead of erroring like the reference.
        raise ValueError(
            f"Cannot have number of splits={n_splits} greater than the "
            f"number of samples={n}."
        )
    test_start = int((1.0 - test_size) * fold_size)
    indexed = _chronological_index(df, ts_col, tie_cols)
    rn = F.col("__cv_rn__")
    in_range = rn < n_splits * fold_size
    block = F.floor(rn / fold_size).cast("int")
    pos_in_block = rn - block * fold_size
    return indexed.withColumn(
        out_col, F.when(in_range, block).cast("int")
    ).withColumn(
        role_col,
        F.when(~in_range, F.lit("unused"))
        .when(pos_in_block >= test_start, F.lit("test"))
        .otherwise(F.lit("train")),
    ).drop("__cv_rn__")

"""GroupByThen* operators (reference: src/upgini/autofe/groupby.py).

The reference groups a value column by a key column, aggregates, and
broadcasts the aggregate back to every row — exactly a Spark window
aggregate over ``partitionBy(key)``: one shuffle, no join-back needed.
NaN group keys produce null results (groupby.py:50,57 excludes them).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _grp(key: Column):
    return Window.partitionBy(key)


def _gated(key: Column, expr: Column) -> Column:
    return F.when(key.isNotNull(), expr)


def group_by_then(agg: str, key: Column, value: Column) -> Column:
    """GroupByThen{Min,Max,Mean,Median,Std,Sum} (groupby.py:8-39)."""
    w = _grp(key)
    if agg == "min":
        e = F.min(value).over(w)
    elif agg == "max":
        e = F.max(value).over(w)
    elif agg == "mean":
        e = F.avg(value).over(w)
    elif agg == "sum":
        e = F.sum(value).over(w)
    elif agg == "std":
        e = F.stddev_samp(value).over(w)
    elif agg == "median":
        e = F.median(value).over(w)
    else:
        raise ValueError(f"unsupported groupby agg {agg!r}")
    return _gated(key, e)


def group_by_then_rank(key: Column, value: Column) -> Column:
    """pandas ``rank(pct=True)`` within group = rank/count — note this is
    NOT Spark's percent_rank ((rank-1)/(n-1)); reference groupby.py:42-58.
    Ties get the average rank (pandas method='average')."""
    w_ordered = _grp(key).orderBy(value.asc())
    # pandas average rank = (rank + (rank + ties - 1)) / 2 = rank + (ties-1)/2
    rnk = F.rank().over(w_ordered).cast("double")
    ties = F.count(F.when(value.isNotNull(), 1)).over(Window.partitionBy(key, value)).cast("double")
    avg_rank = rnk + (ties - 1) / 2
    n = F.count(F.when(value.isNotNull(), 1)).over(_grp(key)).cast("double")
    return _gated(key, F.when(value.isNotNull(), F.try_divide(avg_rank, n)))


def group_by_then_nunique(key: Column, value: Column) -> Column:
    """Distinct count of value per group (groupby.py:61-78). Spark forbids
    DISTINCT window aggregates → size(collect_set)."""
    return _gated(key, F.size(F.collect_set(value).over(_grp(key))))


def group_by_then_freq(key: Column, value: Column) -> Column:
    """Within group, relative frequency of the row's value (groupby.py:81-94)."""
    cnt = F.count(F.when(value.isNotNull(), 1)).over(Window.partitionBy(key, value))
    total = F.count(F.when(value.isNotNull(), 1)).over(_grp(key))
    return _gated(key, F.when(value.isNotNull(), F.try_divide(cnt.cast("double"), total)))


def group_by_then_features(
    df,
    key_cols: list[str],
    aggs: list[tuple[str, str, str]],
):
    """Batched GroupByThen* as ONE aggregation + join-back — the scale
    path for per-group SCALAR aggregates (groupby.py:8-39).

    ``aggs``: (agg, value_col, out_name) triples. The window form
    shuffles the FULL table on the key; this form map-side-combines to a
    per-key aggregate (rows = distinct keys), broadcasts it, and joins —
    the big table never moves. Null keys get null features (join misses),
    matching the reference's NaN-key exclusion.

    Use the Column-form ``group_by_then`` only when composing with ops
    that genuinely need a window (rank, per-(key,value) freq).
    """
    _AGGS = {
        "min": F.min, "max": F.max, "mean": F.avg, "sum": F.sum,
        "std": F.stddev_samp, "median": F.median, "nunique": F.countDistinct,
    }
    exprs = [_AGGS[a](F.col(v)).alias(out) for a, v, out in aggs]
    small = df.groupBy(*[F.col(k) for k in key_cols]).agg(*exprs)
    return df.join(F.broadcast(small), on=key_cols, how="left")

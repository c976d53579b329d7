"""Enrichment equi-join on entity record ids.

Mirrors the reference's final merge of input rows with downloaded feature
rows on ENTITY_SYSTEM_RECORD_ID (src/upgini/features_enricher.py:4630-4698,
merge at :4680-4685): left join, input columns first, feature columns
appended, system ids dropped. The small feature side is broadcast when it
fits (Catalyst/AQE decides; we hint when we know it is dimension-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ENTITY_SYSTEM_RECORD_ID = "entity_system_record_id"
SYSTEM_RECORD_ID = "system_record_id"
EVAL_SET_INDEX = "eval_set_index"


def enrich(
    left: DataFrame,
    features: DataFrame,
    on: str = ENTITY_SYSTEM_RECORD_ID,
    how: str = "left",
    broadcast_features: bool = False,
) -> DataFrame:
    """Left/inner enrichment join; drops the join id from the feature side."""
    fcols = [c for c in features.columns if c != on]
    clash = set(fcols) & set(left.columns)
    if clash:
        raise ValueError(f"feature columns clash with input: {sorted(clash)}")
    right = F.broadcast(features) if broadcast_features else features
    return left.join(right, on=on, how=how)


def range_join(
    left: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    how: str = "left",
    bucket_width: int | None = None,
) -> DataFrame:
    """Interval/range enrichment (SearchKey.IP_RANGE_*, reference
    metadata.py:75-92 — server-side there, modeled here): attach the range
    row whose [lo, hi] contains the value. Assumes non-overlapping ranges
    (IP allocations).

    ``bucket_width`` turns the non-equi join (planned as
    BroadcastNestedLoopJoin — every row scans every range) into a bucketed
    EQUI-join: each range explodes into the fixed-width buckets it spans,
    values join on their bucket, a residual filter keeps the containing
    range. With width ≈ median range size each row probes O(1) candidates;
    this is the 100 TB plan (hash join, AQE-eligible). Without it, small
    range tables broadcast-NLJ (fine up to ~10^4 ranges)."""
    if bucket_width:
        w = int(bucket_width)
        buckets = ranges.withColumn(
            "__rb__",
            F.explode(
                F.sequence(
                    (F.col(lo_col) / w).cast("long"), (F.col(hi_col) / w).cast("long")
                )
            ),
        )
        b = F.broadcast(buckets)
        joined = left.join(
            b,
            on=(
                ((left[value_col] / w).cast("long") == b["__rb__"])
                & (left[value_col] >= b[lo_col])
                & (left[value_col] <= b[hi_col])
            ),
            how=how,
        )
        return joined.drop("__rb__")
    r = F.broadcast(ranges)
    cond = (left[value_col] >= r[lo_col]) & (left[value_col] <= r[hi_col])
    return left.join(r, on=cond, how=how)

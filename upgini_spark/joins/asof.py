"""Point-in-time (as-of) join.

The reference's enrichment is an equi-join on a precomputed entity id
(src/upgini/features_enricher.py:4630-4698) whose point-in-time discipline
is enforced server-side by mandatory DATE/DATETIME search keys
(src/upgini/features_enricher.py:2828-2843). Here the PIT discipline is the
join itself: every matched right row satisfies ``right_ts <= left_ts``
(backward direction) — zero temporal leakage by construction.

:func:`asof_join` runs one of three engines:

- ``native`` (default): union + window trick. Left and right rows are
  unioned on the entity key, totally ordered by (ts, side-marker), and
  each left row takes the last right match struct with
  ``last(..., ignorenulls=True)`` over an unbounded-preceding running
  frame. One shuffle, no Python, whole-stage codegen throughout.
- ``arrow``: cogrouped ``applyInPandas`` running ``pandas.merge_asof`` per
  entity-hash bucket (bucket count sized from the left input, like the
  record-id range exchange), with optional salting for hot entities
  (right side replicated across salts). Exact pandas parity semantics
  for tolerance handling.
- ``broadcast``: the right side collapses to per-entity sorted history
  arrays and broadcasts; the left never shuffles (zero exchanges on the
  event stream) — the plan of choice when the feature source is
  dimension-sized relative to a 100TB event table.

The history collapse is also a public pair: :func:`build_asof_hist`
builds the per-entity history frame once and :func:`asof_join_hist`
joins against it, broadcast or sort-merge. Written as a table bucketed
on the entity key and joined to an input bucketed the same way, the
sort-merge form plans with zero Exchange (the enricher's
``materialize_source_bucketed`` deployment).

All engines and the history pair produce identical results (tested
against each other and a pandas ``merge_asof`` oracle). Token payload
columns ride through untouched; in the arrow engine they cross Arrow as
fixed int32 lists.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_MARK = "__asof_side__"
_MATCH_TS = "__asof_matched_ts__"
_MATCH = "__asof_match__"


def _value_cols(right: DataFrame, right_on: str, by_right: list[str]) -> list[str]:
    return [c for c in right.columns if c != right_on and c not in by_right]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    by_left: str | Iterable[str],
    by_right: str | Iterable[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    engine: str = "native",
    salt: int | str = 1,
    keep_match_ts: bool = False,
) -> DataFrame:
    """As-of join `left` to `right` on event time within entity groups.

    For each left row (entity, t) attach the right row of the same entity
    with the largest ``right_on <= t`` (backward; inclusive) or smallest
    ``right_on >= t`` (forward). Unmatched left rows keep nulls. Optional
    ``tolerance_seconds`` nulls matches farther than the tolerance
    (pandas ``merge_asof(tolerance=...)`` semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    by_left = [by_left] if isinstance(by_left, str) else list(by_left)
    by_right = by_left if by_right is None else (
        [by_right] if isinstance(by_right, str) else list(by_right)
    )
    if len(by_left) != len(by_right):
        raise ValueError("by_left and by_right must have equal length")

    if engine == "native":
        return _asof_native(
            left, right, left_on, right_on, by_left, by_right,
            direction, tolerance_seconds, keep_match_ts,
        )
    if salt == "auto":
        # size the salting factor from the hottest left entity
        from upgini_spark.pipeline.lineage import suggest_salt

        salt = suggest_salt(left, by_left)
    if engine == "arrow":
        return _asof_arrow(
            left, right, left_on, right_on, by_left, by_right,
            direction, tolerance_seconds, keep_match_ts, salt,
        )
    if engine == "broadcast":
        return _asof_broadcast(
            left, right, left_on, right_on, by_left, by_right,
            direction, tolerance_seconds, keep_match_ts,
        )
    raise ValueError(f"unknown engine {engine!r}")


def _asof_native(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by_left: list[str],
    by_right: list[str],
    direction: str,
    tolerance_seconds: float | None,
    keep_match_ts: bool,
) -> DataFrame:
    vcols = _value_cols(right, right_on, by_right)
    clash = set(vcols) & set(left.columns)
    if clash:
        raise ValueError(f"right value columns clash with left: {sorted(clash)}")

    # Align right onto left's key/ts column names; null-pad each side.
    # Each right row carries its match time and values as ONE struct, so
    # a left row takes every matched column from the same right row (a
    # per-column ignore-nulls pick would fill a NULL value from an older
    # row); the struct is NULL on left rows and on right rows without a
    # time, which therefore never match.
    match = F.when(
        F.col(right_on).isNotNull(),
        F.struct(F.col(right_on).alias(_MATCH_TS), *[F.col(c) for c in vcols]),
    )
    match_type = right.select(match.alias(_MATCH)).schema[_MATCH].dataType
    lkeys = by_left
    l_part = left.select(
        *left.columns,
        F.lit(None).cast(match_type).alias(_MATCH),
        F.lit(1).alias(_MARK),
    )
    left_only = [c for c in left.columns if c not in lkeys and c != left_on]
    r_part = right.select(
        *[F.col(rb).alias(lb) for lb, rb in zip(by_left, by_right)],
        F.col(right_on).alias(left_on),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_only],
        match.alias(_MATCH),
        F.lit(0).alias(_MARK),
    ).select(*l_part.columns)  # same column order for union

    unioned = l_part.unionByName(r_part)

    ts = F.col(left_on)
    if direction == "backward":
        # right row at equal ts sorts before the left row -> inclusive match
        order = [ts.asc_nulls_last(), F.col(_MARK).asc()]
    else:
        order = [ts.desc_nulls_last(), F.col(_MARK).asc()]
    w = (
        Window.partitionBy(*lkeys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    # Left rows with a NULL event time sort last and would otherwise inherit
    # the entity's LATEST right row from the running frame — future values,
    # i.e. temporal leakage. pandas merge_asof refuses null keys outright;
    # we keep the row but null every matched column.
    has_ts = F.col(left_on).isNotNull()
    picked = (
        unioned.select(
            *[c for c in left.columns],
            F.col(_MARK),
            F.when(has_ts, F.last(F.col(_MATCH), ignorenulls=True).over(w))
            .alias(_MATCH),
        )
        .filter(F.col(_MARK) == 1)
    )
    filled = picked.select(
        *[c for c in left.columns],
        F.col(_MATCH).getField(_MATCH_TS).alias(_MATCH_TS),
        *[F.col(_MATCH).getField(c).alias(c) for c in vcols],
    )

    if tolerance_seconds is not None:
        gap = F.abs(
            F.unix_micros(F.col(left_on).cast("timestamp")).cast("double")
            - F.unix_micros(F.col(_MATCH_TS).cast("timestamp")).cast("double")
        ) / 1e6
        ok = F.col(_MATCH_TS).isNotNull() & (gap <= F.lit(float(tolerance_seconds)))
        filled = filled.select(
            *[c for c in left.columns],
            F.when(ok, F.col(_MATCH_TS)).alias(_MATCH_TS),
            *[F.when(ok, F.col(c)).alias(c) for c in vcols],
        )
    out_cols = list(left.columns) + ([_MATCH_TS] if keep_match_ts else []) + vcols
    return filled.select(
        *[F.col(c).alias("matched_ts") if c == _MATCH_TS else F.col(c) for c in out_cols]
    )


def _asof_arrow(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by_left: list[str],
    by_right: list[str],
    direction: str,
    tolerance_seconds: float | None,
    keep_match_ts: bool,
    salt: int,
) -> DataFrame:
    """Cogrouped-pandas engine: bucket by entity hash (+salt), merge_asof.

    Salting: left rows of a bucket spread across ``salt`` sub-buckets;
    the right side is replicated into every sub-bucket (explode over the
    salt range) so each cogroup still sees the full right history for its
    entities. Use salt>1 when the entity histogram is hot-skewed
    (SURVEY.md §4 custom-strategy 2).
    """
    # size-adaptive bucket count (the record_ids range-exchange
    # heuristic): a flat shuffle_partitions default fans small inputs
    # into hundreds of sub-1k-row cogroups whose per-group pandas
    # overhead dominates (measured 1.75 → 1.16 s at 1M rows with 128 →
    # 32 buckets); floor = default parallelism, ceiling = the configured
    # shuffle width (~64 MB pandas frames per cogroup at the ceiling)
    from upgini_spark.pipeline.record_ids import _range_partitions

    vcols = _value_cols(right, right_on, by_right)
    n_buckets = _range_partitions(left)

    # NB: both cogroup sides MUST carry identical key dtypes — Spark hashes
    # 0 (int) and 0L (bigint) to different partitions, silently misaligning
    # the cogroups (caught by an end-to-end drive; small inputs mask it
    # because AQE coalesces to one partition). Cast everything to int.
    bkt = lambda cols: F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")  # noqa: E731
    lsalt = F.pmod(F.xxhash64(F.lit("asof-salt"), F.col(left_on)), F.lit(salt)).cast("int")
    l_b = left.withColumn("__bkt__", bkt(by_left)).withColumn("__salt__", lsalt)
    r_b = (
        right.withColumn("__bkt__", bkt(by_right))
        .withColumn("__salt__", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    )

    out_schema_fields = (
        [left.schema[c] for c in left.columns]
        + ([right.schema[right_on]] if keep_match_ts else [])
        + [right.schema[c] for c in vcols]
    )
    from pyspark.sql.types import StructField, StructType

    out_fields = []
    for f in out_schema_fields:
        name = "matched_ts" if (keep_match_ts and f.name == right_on) else f.name
        out_fields.append(StructField(name, f.dataType, True))
    out_schema = StructType(out_fields)
    left_cols = list(left.columns)
    tol = pd.Timedelta(seconds=tolerance_seconds) if tolerance_seconds is not None else None

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        lpdf = lpdf.drop(columns=["__bkt__", "__salt__"])
        # merge_asof raises on null keys; null-ts rows pass through unmatched
        # (same zero-leakage rule as the native engine).
        null_ts = lpdf[lpdf[left_on].isna()]
        lpdf = lpdf[lpdf[left_on].notna()].sort_values(left_on, kind="mergesort")
        if lpdf.empty:
            out = null_ts.reindex(columns=[f.name for f in out_fields])
            return out
        rename = dict(zip(by_right, by_left))
        if keep_match_ts:
            rpdf = rpdf.assign(matched_ts=rpdf[right_on])
        rpdf = (
            rpdf.drop(columns=["__bkt__", "__salt__"])
            .rename(columns=rename)
            .sort_values(right_on, kind="mergesort")
        )
        merged = pd.merge_asof(
            lpdf,
            rpdf,
            left_on=left_on,
            right_on=right_on,
            by=by_left,
            direction=direction,
            tolerance=tol,
            suffixes=("", "__r"),
        )
        keep = left_cols + (["matched_ts"] if keep_match_ts else []) + vcols
        merged = merged[keep]
        if not null_ts.empty:
            merged = pd.concat([merged, null_ts.reindex(columns=keep)], ignore_index=True)
        return merged

    return (
        l_b.groupBy("__bkt__", "__salt__")
        .cogroup(r_b.groupBy("__bkt__", "__salt__"))
        .applyInPandas(merge, schema=out_schema)
    )


def build_asof_hist(
    right: DataFrame, right_on: str, by_right: list[str]
) -> DataFrame:
    """Collapse the feature source to one row per entity holding its
    time-sorted history array (``__hist__``: array<struct<__t__, vcols>>).
    The reusable half of the broadcast/co-bucketed engines: build once,
    join many — and ``sources.io.write_bucketed`` this frame (bucketed by
    the entity keys) to make every later as-of join exchange-free."""
    vcols = _value_cols(right, right_on, by_right)
    return right.groupBy(*by_right).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(right_on).alias("__t__"), *vcols)),
            asc=True,
        ).alias("__hist__")
    )


def asof_join_hist(
    left: DataFrame,
    hist: DataFrame,
    left_on: str,
    by_left: list[str] | str,
    by_hist: list[str] | str | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    keep_match_ts: bool = False,
    broadcast: bool = False,
) -> DataFrame:
    """As-of join against a pre-built :func:`build_asof_hist` frame.

    With ``broadcast=True`` the hist side ships to every task (the
    dimension-sized feature-store case — zero exchanges on the event
    stream). With ``broadcast=False`` the join plans as a sort-merge
    join: when BOTH sides are read from tables bucketed on the join keys
    with the same bucket count (``write_bucketed``), the plan has ZERO
    Exchange anywhere — the token payload never crosses a shuffle, and
    downstream windows partitioned by the same keys reuse the bucketed
    clustering (the flagship_bucketed bench plan asserts this)."""
    by_left = [by_left] if isinstance(by_left, str) else list(by_left)
    by_hist = by_left if by_hist is None else (
        [by_hist] if isinstance(by_hist, str) else list(by_hist)
    )
    vcols = [
        f.name
        for f in hist.schema["__hist__"].dataType.elementType.fields
        if f.name != "__t__"
    ]
    clash = set(vcols) & set(left.columns)
    if clash:
        raise ValueError(f"hist value columns clash with left: {sorted(clash)}")

    # Alias the hist-side keys to temp names BEFORE the join: when
    # by_hist == by_left (the default) the raw join would leave duplicate
    # same-named key columns and the final select-by-name hits
    # AMBIGUOUS_REFERENCE. Plain aliases — project is alias-aware, so the
    # hist table's bucketed output partitioning survives the rename.
    tmp_keys = [f"__asof_k{i}__" for i in range(len(by_hist))]
    hist_sel = hist.select(
        *[F.col(rb).alias(tk) for rb, tk in zip(by_hist, tmp_keys)],
        "__hist__",
    )
    if broadcast:
        hist_sel = F.broadcast(hist_sel)
    cond = [left[lb] == F.col(tk) for lb, tk in zip(by_left, tmp_keys)]
    joined = left.join(hist_sel, on=cond, how="left").drop(*tmp_keys)

    t = F.col(left_on)
    if direction == "backward":
        valid = F.filter(F.col("__hist__"), lambda s: s["__t__"] <= t)
        picked = F.try_element_at(valid, F.lit(-1))
    else:
        valid = F.filter(F.col("__hist__"), lambda s: s["__t__"] >= t)
        picked = F.try_element_at(valid, F.lit(1))

    if tolerance_seconds is not None:
        gap = F.abs(
            F.unix_micros(t.cast("timestamp"))
            - F.unix_micros(picked["__t__"].cast("timestamp"))
        ) / 1e6
        picked = F.when(gap <= F.lit(float(tolerance_seconds)), picked)

    out_cols = [F.col(c) for c in left.columns]
    if keep_match_ts:
        out_cols.append(picked["__t__"].alias("matched_ts"))
    out_cols.extend(picked[c].alias(c) for c in vcols)
    return joined.select(*out_cols)


def _asof_broadcast(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by_left: list[str],
    by_right: list[str],
    direction: str,
    tolerance_seconds: float | None,
    keep_match_ts: bool,
) -> DataFrame:
    """Broadcast engine: right side collapsed to one row per entity holding
    its time-sorted history array, then broadcast-joined — the LEFT side is
    never shuffled. This is the 100TB plan whenever the feature source is
    dimension-sized (the common feature-store case): per-row work is a scan
    of that entity's (small) history with higher-order functions; zero
    exchanges on the event stream."""
    hist = build_asof_hist(right, right_on, by_right)
    return asof_join_hist(
        left, hist, left_on, by_left, by_right,
        direction=direction, tolerance_seconds=tolerance_seconds,
        keep_match_ts=keep_match_ts, broadcast=True,
    )

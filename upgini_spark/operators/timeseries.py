"""Time-based window operators: Lag / Roll / Delta / Volatility / Session.

Reference semantics (src/upgini/autofe/timeseries/):

- every op runs over ``[ts, group_cols..., value]``, per-group, ordered by
  event time, with *time-based* (not row-based) windows robust to gaps
  (base.py:25-46);
- pandas ``Series.rolling("<n><unit>")`` windows are left-open right-closed
  ``(t - n*unit, t]`` with ``min_periods=1`` — we reproduce that exactly
  with ``Window.rangeBetween(-(n*unit_us) + 1, 0)`` over integer
  microseconds (``unix_micros``), which keeps everything JVM-side and
  codegen'd;
- duplicate (ts, groups) rows collapse keep-first before computation, and
  results broadcast back to all original rows (base.py:29,43-46) — see
  :func:`dedup_first`;
- Lag(n) (lag.py:60-68): earliest value in the ``(t-(n+1)u, t]`` window,
  iff that point is at least ``n`` units old (strict ``>`` on the window
  min ⇒ NaN), i.e. "the value as of t − n units, tolerating gaps up to 1
  unit";
- Roll aggs (roll.py:9-87): mean, min, max, std (sample), median,
  norm_mean (= value / rolling mean), q25, q75, iqr;
- RollingVolatility (volatility.py:75-146): std of step-returns
  ``v/lag_step(v) − 1`` (fillna 0, optional abs);
- VolatilityRatio (volatility.py:196-265): short-window vol / long-window
  vol, non-finite → 1;
- EWMAVolatility (volatility.py:15-72): recursive ``ewm(span).std()`` has
  no native Spark expression → Arrow-batched ``applyInPandas`` kernel;
- TrendCoefficient (trend.py:9-67): OLS slope per group over a resampled
  step grid — closed-form ``cov(i, v)/var(i)`` as native aggregates;
- Sessionization is not in the reference; the north rule mandates gap-based
  session windows keyed by doc_id gaps → cumulative-flag session ids
  (batch) / ``session_window`` (streaming-compatible aggregation).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from upgini_spark.util import id_hash

US = {"s": 1_000_000, "S": 1_000_000}
US["T"] = US["min"] = 60 * 1_000_000
US["h"] = US["H"] = 3600 * 1_000_000
US["D"] = US["d"] = 86400 * 1_000_000
US["W"] = US["w"] = 7 * 86400 * 1_000_000

_TS_US = "__ts_us__"


def unit_us(n: int, unit: str) -> int:
    if unit not in US:
        raise ValueError(f"unsupported time unit {unit!r}")
    return n * US[unit]


def epoch_us(c: F.Column) -> F.Column:
    """Integer epoch-µs; tolerates TIMESTAMP_NTZ inputs (session tz UTC)."""
    return F.unix_micros(c.cast("timestamp"))


def _with_ts_us(df: DataFrame, ts_col: str) -> DataFrame:
    return df.withColumn(_TS_US, epoch_us(F.col(ts_col)))


def _drop_ts_us(df: DataFrame) -> DataFrame:
    return df.drop(_TS_US)


def _rolling_window(groups: list[str], n: int, unit: str):
    """pandas `(t - n*unit, t]` time window → Spark range frame."""
    return (
        Window.partitionBy(*groups)
        .orderBy(F.col(_TS_US))
        .rangeBetween(-unit_us(n, unit) + 1, 0)
    )


def dedup_first(
    df: DataFrame, ts_col: str, groups: list[str], order_col: str | None = None
) -> DataFrame:
    """Keep-first dedup on (groups, ts) — reference base.py:29.

    Spark has no implicit row order; ``order_col`` supplies the explicit
    "first" tie-breaker (e.g. an ingestion id). Without it, ties break on
    the full row hash for determinism.
    """
    if order_col is None:
        tie = id_hash(df.columns)
    else:
        tie = F.col(order_col)
    w = Window.partitionBy(*groups, ts_col).orderBy(tie.asc())
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def ts_features_parity(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    features: list[tuple[str, object]],
    order_col: str | None = None,
    offset: tuple[int, str] | None = None,
) -> DataFrame:
    """Exact reference TimeSeriesBase.calculate_vector semantics
    (base.py:25-55) for one or more features over the same series:

    1. keep-first dedup on (groups, ts) (``order_col`` = explicit "first");
    2. drop rows with unparsable/null ts;
    3. optional offset: value series shifted forward by exactly
       ``offset``; rows with no exact t−offset point drop out entirely
       (the reference's inner merge, base.py:48-55);
    4. every ``(out_col, feature_fn)`` in ``features`` chains on the
       slim series (``feature_fn(slim_df)`` must add ``out_col``);
    5. broadcast back to every original row by (groups, ts) equi-join.

    The slim series is built ONCE and a single join carries ALL feature
    columns back; window stages share the (groups) exchange — one
    shuffle for N features instead of N. Compiling k formulas over the
    same (date, groups, value) one by one re-ran the entire upstream plan
    k times (22 exchanges for 3 formulas in the enricher's transform —
    round-4 plan audit)."""
    key = groups + [ts_col]
    slim = dedup_first(
        df.select(*key, value_col, *([order_col] if order_col else [])),
        ts_col, groups, order_col,
    ).filter(F.col(ts_col).isNotNull())
    if order_col:
        slim = slim.drop(order_col)
    if offset is not None:
        n_off, u_off = offset
        shifted = slim.select(
            *groups,
            (epoch_us(F.col(ts_col)) + F.lit(unit_us(n_off, u_off))).alias("__sh_us__"),
            F.col(value_col).alias("__sh_val__"),
        )
        # exact-timestamp shift: replace value with value(t - offset), inner
        slim_us = slim.withColumn("__us__", epoch_us(F.col(ts_col)))
        cond = [slim_us["__us__"] == shifted["__sh_us__"]] + [
            slim_us[g] == shifted[g] for g in groups
        ]
        slim = (
            slim_us.join(shifted, on=cond, how="inner")
            .select(*[slim_us[c] for c in key], F.col("__sh_val__").alias(value_col))
        )
    cur = slim
    names = []
    for out_col, fn in features:
        cur = fn(cur)
        names.append(out_col)
    feat = cur.select(*key, *names)
    return df.join(feat, on=key, how="left")


# Roll aggregates whose window expression IGNORES NULL inputs — for
# these, masking duplicate-(groups, ts) rows to NULL inside the frame is
# indistinguishable from removing them, which is what makes the
# single-pass form below exact ("last"/"first"/"norm_mean" are excluded:
# they read positional/raw values, where a masked NULL differs from an
# absent row).
_MASKED_ROLL_AGGS = frozenset(
    {"mean", "min", "max", "std", "sum", "count", "median", "q25", "q75",
     "iqr", "median_approx", "q25_approx", "q75_approx"}
)


def ts_features_masked(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    specs: list[tuple[str, str, dict]],
    order_col: str | None = None,
) -> DataFrame:
    """Single-pass twin of :func:`ts_features_parity` for range-framed
    kinds (``roll`` with a null-ignoring agg, time-based ``lag``):
    identical results, ZERO extra shuffles.

    The parity form builds the keep-first slim series and broadcasts the
    features back by (groups, ts) — which executes the upstream plan
    TWICE (the slim branch and the join-back left side prune to
    different columns, so the exchanges never canonically match and
    ReuseExchange cannot dedup them) plus a dedup window and a join.
    Equivalent single-pass: compute the same keep-first choice as a
    ``row_number`` mask over the RAW frame, feed the feature windows the
    MASKED value — every frame sees exactly the slim value sequence in
    the same (ts-ascending) order, so null-ignoring aggregates are
    bit-identical — and gate outputs on a non-null ts (the parity join
    leaves null-ts rows unmatched).  ``lag``'s positional ``first`` uses
    a struct mask (non-null for kept rows even when the VALUE is null)
    so a kept null value is preserved rather than skipped.  Window
    partitioning is (groups) / (groups, ts) — both satisfied by an
    upstream hash-clustering on groups, so everything stacks on one
    exchange.

    Duplicate tie-break replicates :func:`dedup_first` on the slim
    projection byte-for-byte: md5 over (groups, ts, value) casts when
    ``order_col`` is None, else the explicit order column."""
    key = groups + [ts_col]
    d = _with_ts_us(df, ts_col)
    if order_col is None:
        tie = id_hash([*key, value_col])
    else:
        tie = F.col(order_col)
    wdup = Window.partitionBy(*key).orderBy(tie.asc())
    kept = (F.row_number().over(wdup) == 1) & F.col(ts_col).isNotNull()
    d = d.withColumn("__mval__", F.when(kept, F.col(value_col))).withColumn(
        "__mstruct__", F.when(kept, F.struct(F.col(value_col).alias("v")))
    )
    has_ts = F.col(ts_col).isNotNull()
    out_cols = []
    for out_col, kind, p in specs:
        if kind == "roll":
            w = _rolling_window(groups, p["n"], p["unit"])
            expr = _roll_expr(p["agg"], "__mval__", w)
        elif kind == "lag":
            # lag_feature on the slim series: value at the frame's oldest
            # ts when that ts is old enough.  min(ts) is duplicate-proof
            # (dup rows repeat an existing ts); the struct mask picks the
            # kept row's value at the oldest ts, nulls preserved.
            w = _rolling_window(groups, p["n"] + 1, p["unit"])
            oldest_ts = F.min(_TS_US).over(w)
            oldest_val = F.first(F.col("__mstruct__"), ignorenulls=True).over(w)["v"]
            gate = oldest_ts <= (F.col(_TS_US) - F.lit(unit_us(p["n"], p["unit"])))
            expr = F.when(gate, oldest_val)
        else:  # pragma: no cover - guarded by the compile_features dispatch
            raise ValueError(f"kind {kind!r} is not maskable")
        out_cols.append(F.when(has_ts, expr).alias(out_col))
    return _drop_ts_us(
        d.select(*[F.col(c) for c in df.columns], *out_cols)
    )


# --------------------------------------------------------------------------
# Lag / Roll / Delta — native window expressions
# --------------------------------------------------------------------------

def lag_feature(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    n: int,
    unit: str = "D",
    out_col: str | None = None,
) -> DataFrame:
    """Time-based lag: value as of (t − n·unit), NaN when no point is old
    enough inside the (t−(n+1)·unit, t] lookback (lag.py:64-68)."""
    out_col = out_col or f"{value_col}_lag_{n}{unit}"
    d = _with_ts_us(df, ts_col)
    w = _rolling_window(groups, n + 1, unit)
    oldest_ts = F.min(_TS_US).over(w)
    oldest_val = F.first(F.col(value_col)).over(w)
    gate = oldest_ts <= (F.col(_TS_US) - F.lit(unit_us(n, unit)))
    return _drop_ts_us(d.withColumn(out_col, F.when(gate, oldest_val)))


ROLL_AGGS = (
    "mean", "min", "max", "std", "median", "sum", "count",
    "norm_mean", "q25", "q75", "iqr", "last", "first",
    # sketch-based quantiles: exact `percentile` over a sliding range frame
    # re-sorts the window per row (O(rows x window)); the approx variants
    # use Spark's KLL-style percentile_approx — the 100x-scale path when
    # bit-exact pandas parity is not required
    "median_approx", "q25_approx", "q75_approx",
)


def _roll_expr(agg: str, value_col: str, w) -> F.Column:
    v = F.col(value_col)
    if agg == "mean":
        return F.avg(v).over(w)
    if agg == "min":
        return F.min(v).over(w)
    if agg == "max":
        return F.max(v).over(w)
    if agg == "std":
        return F.stddev_samp(v).over(w)
    if agg == "sum":
        return F.sum(v).over(w)
    if agg == "count":
        return F.count(v).over(w)
    if agg == "median":
        return F.expr(f"percentile({value_col}, 0.5)").over(w)
    if agg == "q25":
        return F.expr(f"percentile({value_col}, 0.25)").over(w)
    if agg == "q75":
        return F.expr(f"percentile({value_col}, 0.75)").over(w)
    if agg == "median_approx":
        return F.expr(f"percentile_approx({value_col}, 0.5)").over(w)
    if agg == "q25_approx":
        return F.expr(f"percentile_approx({value_col}, 0.25)").over(w)
    if agg == "q75_approx":
        return F.expr(f"percentile_approx({value_col}, 0.75)").over(w)
    if agg == "iqr":
        return (
            F.expr(f"percentile({value_col}, 0.75)").over(w)
            - F.expr(f"percentile({value_col}, 0.25)").over(w)
        )
    if agg == "norm_mean":
        # try_divide: ANSI-safe; zero rolling mean -> null (pandas gives inf)
        return F.try_divide(v, F.avg(v).over(w))
    if agg == "last":
        return F.last(v).over(w)
    if agg == "first":
        return F.first(v).over(w)
    raise ValueError(f"unsupported roll agg {agg!r}")


def roll_feature(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    n: int,
    unit: str = "D",
    agg: str = "mean",
    out_col: str | None = None,
) -> DataFrame:
    """Time-based rolling aggregate over (t−n·unit, t], min_periods=1
    (roll.py:9-87)."""
    out_col = out_col or f"{value_col}_roll_{n}{unit}_{agg}"
    d = _with_ts_us(df, ts_col)
    w = _rolling_window(groups, n, unit)
    return _drop_ts_us(d.withColumn(out_col, _roll_expr(agg, value_col, w)))


def roll_features(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    specs: list[tuple[int, str, str]],
) -> DataFrame:
    """Vectorized form: many (n, unit, agg) in ONE pass — the Spark analog
    of FeatureGroup.make_groups batching (autofe/feature.py:433-451);
    Catalyst computes same-frame windows in a single Window node."""
    d = _with_ts_us(df, ts_col)
    cols = [F.col(c) for c in df.columns]
    # Fuse multiple exact quantiles over the SAME window into one
    # percentile(value, array(...)) buffer: the per-row sliding frame is
    # sorted once instead of once per quantile (each requested fraction
    # is computed from that buffer exactly as the single-fraction call
    # would — bit-identical results, oracle-checked).
    _QUANT = {"q25": 0.25, "median": 0.5, "q75": 0.75}
    by_win: dict[tuple, list[str]] = {}
    for n, unit, agg in specs:
        by_win.setdefault((n, unit), []).append(agg)
    fused: dict[tuple, tuple[list[str], str]] = {}
    stage_cols = []
    for (n, unit), aggs in by_win.items():
        qs = [a for a in aggs if a in _QUANT]
        if len(qs) >= 2:
            w = _rolling_window(groups, n, unit)
            fr = ",".join(repr(_QUANT[a]) for a in qs)
            name = f"__rollq_{n}{unit}__"
            stage_cols.append(
                F.expr(f"percentile({value_col}, array({fr}))").over(w).alias(name)
            )
            fused[(n, unit)] = (qs, name)
    if stage_cols:
        out_cols = list(cols)
        for n, unit, agg in specs:
            alias = f"{value_col}_roll_{n}{unit}_{agg}"
            hit = fused.get((n, unit))
            if hit and agg in hit[0]:
                out_cols.append(
                    F.element_at(F.col(hit[1]), hit[0].index(agg) + 1).alias(alias)
                )
            else:
                w = _rolling_window(groups, n, unit)
                out_cols.append(_roll_expr(agg, value_col, w).alias(alias))
        # keep _TS_US through the staging select: the second select's
        # non-fused window exprs still order by it
        return d.select(*cols, F.col(_TS_US), *stage_cols).select(*out_cols)
    for n, unit, agg in specs:
        w = _rolling_window(groups, n, unit)
        cols.append(_roll_expr(agg, value_col, w).alias(f"{value_col}_roll_{n}{unit}_{agg}"))
    return d.select(*cols)


def delta_feature(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    n: int,
    unit: str = "D",
    order: int = 1,
    out_col: str | None = None,
) -> DataFrame:
    """Delta = value − Lag_n(value); Delta2 applies it twice (delta.py:9-121)."""
    out_col = out_col or f"{value_col}_delta{'' if order == 1 else order}_{n}{unit}"
    cur = value_col
    d = df
    for i in range(order):
        tmp = f"__delta_{i}__" if i < order - 1 else out_col
        lag_col = f"__lag_{i}__"
        d = lag_feature(d, ts_col, groups, cur, n, unit, out_col=lag_col)
        d = d.withColumn(tmp, F.col(cur) - F.col(lag_col)).drop(lag_col)
        if i > 0:
            d = d.drop(cur)
        cur = tmp
    return d


# --------------------------------------------------------------------------
# Volatility family
# --------------------------------------------------------------------------

def step_returns(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    step: int = 1,
    step_unit: str = "D",
    out_col: str = "__ret__",
    use_abs: bool = False,
) -> DataFrame:
    """pandas ``pct_change(freq=step)`` parity (volatility.py:10-12):
    v(t)/v(t−step) − 1 against the EXACT t−step point (not the nearest),
    missing → 0. The exact-shift lookup is a degenerate range frame
    [−step, −step] — no join."""
    d = _with_ts_us(df, ts_col)
    w = (
        Window.partitionBy(*groups)
        .orderBy(F.col(_TS_US))
        .rangeBetween(-unit_us(step, step_unit), -unit_us(step, step_unit))
    )
    prev = F.first(F.col(value_col)).over(w)
    r = F.coalesce(F.try_divide(F.col(value_col), prev) - 1, F.lit(0.0))
    if use_abs:
        r = F.abs(r)
    return _drop_ts_us(d.withColumn(out_col, r))


def rolling_volatility(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    n: int,
    unit: str = "D",
    step: int = 1,
    step_unit: str = "D",
    use_abs: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """std over (t−n·unit, t] of exact-step returns (volatility.py:94-105);
    min_periods=1 ⇒ a single-point window yields null (sample std)."""
    out_col = out_col or f"{value_col}_roll_vol_{n}{unit}"
    ret = "__ret__"
    d = step_returns(df, ts_col, groups, value_col, step, step_unit, ret, use_abs)
    d = _with_ts_us(d, ts_col)
    w = _rolling_window(groups, n, unit)
    d = d.withColumn(out_col, F.stddev_samp(ret).over(w))
    return _drop_ts_us(d.drop(ret))


def volatility_ratio(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    short_n: int,
    long_n: int,
    unit: str = "D",
    out_col: str | None = None,
) -> DataFrame:
    """short-window vol / long-window vol; non-finite → 1
    (volatility.py:196-265)."""
    out_col = out_col or f"{value_col}_vol_ratio_{short_n}_to_{long_n}{unit}"
    d = rolling_volatility(df, ts_col, groups, value_col, short_n, unit, out_col="__vs__")
    d = rolling_volatility(d, ts_col, groups, value_col, long_n, unit, out_col="__vl__")
    ratio = F.try_divide(F.col("__vs__"), F.col("__vl__"))
    clean = F.when(ratio.isNull() | F.isnan(ratio) | (F.abs(ratio) == float("inf")), 1.0).otherwise(ratio)
    return d.withColumn(out_col, clean).drop("__vs__", "__vl__")


def ewma_volatility(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    span: int,
    step: int = 1,
    step_unit: str = "D",
    out_col: str | None = None,
) -> DataFrame:
    """Recursive EWM std of exact-step returns — no native Spark
    expression, so an Arrow-batched per-group pandas kernel reusing the
    very same pandas calls as the reference (volatility.py:62-72):
    ``pct_change(freq=step).fillna(0).ewm(span).std()``."""
    out_col = out_col or f"{value_col}_ewma_vol_{span}"
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(list(df.schema.fields) + [StructField(out_col, DoubleType(), True)])
    cols = list(df.columns)
    freq = f"{step}{step_unit}"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        s = pd.Series(
            pdf[value_col].astype("float64").values,
            index=pd.DatetimeIndex(pdf[ts_col].values),
        )
        ret = s.pct_change(freq=freq).fillna(0.0)
        pdf[out_col] = ret.ewm(span=span).std().values
        return pdf[cols + [out_col]]

    return df.groupBy(*groups).applyInPandas(kernel, schema=schema)


def trend_coefficient(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    step: int = 1,
    step_unit: str = "D",
    out_col: str | None = None,
) -> DataFrame:
    """Per-group OLS slope of value vs time-step index, constant per group,
    null→0 (trend.py:9-67). Closed form cov(i,v)/var(i) as native aggs over
    the step grid index i = floor((ts − min(ts))/step)."""
    out_col = out_col or f"{value_col}_trend_coef"
    d = _with_ts_us(df, ts_col)
    wg = Window.partitionBy(*groups)
    i = F.floor(
        (F.col(_TS_US) - F.min(_TS_US).over(wg)) / F.lit(unit_us(step, step_unit))
    ).cast("double")
    v = F.col(value_col).cast("double")
    slope = F.try_divide(
        F.avg(i * v).over(wg) - F.avg(i).over(wg) * F.avg(v).over(wg),
        F.avg(i * i).over(wg) - F.avg(i).over(wg) * F.avg(i).over(wg),
    )
    clean = F.when(slope.isNull() | F.isnan(slope), 0.0).otherwise(slope)
    return _drop_ts_us(d.withColumn(out_col, clean))


# --------------------------------------------------------------------------
# Sessionization (north-rule addition; no reference analog)
# --------------------------------------------------------------------------

def sessionize(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    gap_seconds: int,
    out_col: str = "session_id",
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Gap-based session ids per entity: a new session starts when the time
    since the previous event exceeds ``gap_seconds``. Pure window cumsum —
    one shuffle, codegen'd. Streaming analog: ``F.session_window`` +
    watermark (engine exposes batch ids; aggregation-level sessionization
    composes from these)."""
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tie_cols or [])]
    w = Window.partitionBy(*groups).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    new_sess = (
        prev.isNull()
        | ((epoch_us(F.col(ts_col)) - epoch_us(prev)) > gap_seconds * 1_000_000)
    ).cast("long")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out_col, F.sum(new_sess).over(wrun))


def cross_series_interaction(
    df: DataFrame,
    ts_col: str,
    descriptor_cols: list[str],
    left_descriptor: list[str],
    right_descriptor: list[str],
    value_col: str,
    op_fn,
    align_groups: list[str] | None = None,
    out_col: str = "cross_interaction",
) -> DataFrame:
    """CrossSeriesInteraction (autofe/timeseries/cross.py:13-149): pick the
    two series identified by descriptor values, align them on
    (align_groups, ts), apply the binary op, and write the interaction back
    to the rows of BOTH series (other rows null).

    ``op_fn(left_col, right_col) -> Column`` is any binary operator from
    operators.binary. Alignment is a full outer join on the time grid —
    one shuffle on (align_groups, ts).
    """
    align_groups = align_groups or []
    key = align_groups + [ts_col]

    def side(desc: list[str], alias: str) -> DataFrame:
        cond = F.lit(True)
        for c, v in zip(descriptor_cols, desc):
            cond = cond & (F.col(c).cast("string") == F.lit(v))
        return (
            df.filter(cond)
            .select(*key, F.col(value_col).alias(alias))
            .dropDuplicates(key)  # keep-first dedup analog (base.py:29)
        )

    left = side(left_descriptor, "__lv__")
    right = side(right_descriptor, "__rv__")
    inter = left.join(right, on=key, how="full").select(
        *key, op_fn(F.col("__lv__"), F.col("__rv__")).alias(out_col)
    )

    in_left = F.lit(True)
    for c, v in zip(descriptor_cols, left_descriptor):
        in_left = in_left & (F.col(c).cast("string") == F.lit(v))
    in_right = F.lit(True)
    for c, v in zip(descriptor_cols, right_descriptor):
        in_right = in_right & (F.col(c).cast("string") == F.lit(v))

    joined = df.join(inter, on=key, how="left")
    return joined.withColumn(
        out_col, F.when(in_left | in_right, F.col(out_col))
    )


def rolling_volatility2(
    df: DataFrame,
    ts_col: str,
    groups: list[str],
    value_col: str,
    n: int,
    unit: str = "D",
    step: int = 1,
    step_unit: str = "D",
    out_col: str | None = None,
) -> DataFrame:
    """Volatility of the abs-returns volatility (volatility.py:149-193):
    stage 1 = rolling std of |exact-step returns|, stage 2 = rolling std of
    the stage-1 series' exact-step returns."""
    out_col = out_col or f"{value_col}_roll_vol2_{n}{unit}"
    d = rolling_volatility(
        df, ts_col, groups, value_col, n, unit, step, step_unit,
        use_abs=True, out_col="__vol1__",
    )
    d = rolling_volatility(
        d, ts_col, groups, "__vol1__", n, unit, step, step_unit, out_col=out_col
    )
    return d.drop("__vol1__")

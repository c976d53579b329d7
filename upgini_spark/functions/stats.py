"""Distribution-stability and validation statistics.

- PSI (population stability index) — reference src/upgini/utils/psi.py:
  binned histograms per interval vs a base interval, Σ(p−q)·ln(p/q)
  (:180-181); we expose an equal-width variant (engine-portable bins) and
  a quantile variant (reference-faithful, approx_percentile edges).
- FeaturesValidator gates: constant / ≥99% top-share / ≥0.85 cardinality
  drops (src/upgini/utils/features_validator.py:25-91).
- Class-balance / imbalance detection (src/upgini/utils/target_utils.py:
  115-155: dedup'd min-class share < 0.6/k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as PWindow
from pyspark.sql import functions as F

from upgini_spark.util import local_frame, materialize, run_concurrently, spread_scan

EPS = 1e-6


def psi_equal_width(
    df: DataFrame,
    value_col: str,
    split_col,
    n_bins: int = 10,
) -> DataFrame:
    """PSI between split=0 (base) and each other split, equal-width bins
    over the global [min, max]. Pure aggregates — two passes, no windows.

    ``split_col`` is a Column evaluating to an integer interval id
    (0 = base interval, per psi.py base-interval convention).
    """
    d = df.select(F.col(value_col).alias("v"), split_col.cast("int").alias("split"))
    rng = d.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
    lo, hi = float(rng["lo"]), float(rng["hi"])
    width = (hi - lo) / n_bins or 1.0
    bin_expr = F.least(
        F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("int"),
        F.lit(n_bins - 1),
    )
    counts = (
        d.withColumn("bin", bin_expr)
        .groupBy("split", "bin")
        .count()
    )
    totals = counts.groupBy("split").agg(F.sum("count").alias("total"))
    shares = counts.join(totals, "split").select(
        "split", "bin", (F.col("count") / F.col("total")).alias("share")
    )
    base = shares.filter(F.col("split") == 0).select(
        "bin", F.col("share").alias("base_share")
    )
    rest = shares.filter(F.col("split") != 0)
    joined = rest.join(base, "bin", "full").select(
        F.coalesce(F.col("split"), F.lit(-1)).alias("split"),
        (F.coalesce(F.col("share"), F.lit(0.0)) + EPS).alias("p"),
        (F.coalesce(F.col("base_share"), F.lit(0.0)) + EPS).alias("q"),
    ).filter(F.col("split") >= 0)
    return joined.groupBy("split").agg(
        F.round(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6).alias("psi")
    )


def class_balance(df: DataFrame, target_col: str) -> DataFrame:
    """Per-class counts + share + imbalance flag
    (target_utils.py:115-155: imbalanced iff min share < 0.6/k)."""
    counts = df.groupBy(target_col).agg(F.count(F.lit(1)).alias("n"))
    total = df.count()
    k = counts.count()
    return counts.select(
        F.col(target_col),
        F.col("n"),
        F.round(F.col("n") / F.lit(float(total)), 6).alias("share"),
        (F.col("n") / F.lit(float(total)) < F.lit(0.6 / k)).alias("is_minor"),
    )


def feature_validator_stats(
    df: DataFrame, feature_cols: list[str],
    high_card_threshold: float = 0.85,
    top_share_threshold: float = 0.99,
) -> DataFrame:
    """Per-column: distinct count, top-value share, and the drop decisions
    (features_validator.py:25-91). Exact counts (the engine uses
    approx_count_distinct at scale; exact here for oracle parity).

    ONE scan for all columns: melt via ``stack`` → groupBy(column, value)
    counts → per-column rollup. The reference caps features at 3 500 —
    a per-column loop would be thousands of jobs; this is always two
    aggregations regardless of width.

    ``F.stack`` with Column args (not interpolated SQL) so arbitrary
    column names — quotes, backticks — are safe. ``n_distinct`` counts
    distinct STRING casts of the values (the melt requires one common
    type); for floats this may merge values whose casts collide, which
    cannot happen for the int/string/bool features this validator targets.
    """
    n = df.count()
    k = len(feature_cols)
    pairs: list = []
    for c in feature_cols:
        pairs.append(F.lit(c))
        # backtick-quote the identifier (doubling embedded backticks) so
        # names with quotes/dots/backticks resolve literally
        pairs.append(F.col("`" + c.replace("`", "``") + "`").cast("string"))
    melted = df.select(
        F.stack(F.lit(k), *pairs).alias("column_name", "v")
    )
    per_value = melted.groupBy("column_name", "v").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_value.groupBy("column_name")
        .agg(
            F.count(F.when(F.col("v").isNotNull(), 1)).alias("n_distinct"),
            F.max("cnt").alias("top_n"),
        )
        .select(
            "column_name",
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.round(F.col("top_n") / F.lit(float(n)), 6).alias("top_share"),
            (F.col("n_distinct") <= 1).alias("drop_constant"),
            (F.col("n_distinct") / F.lit(float(n)) >= high_card_threshold).alias(
                "drop_high_card"
            ),
        )
    )


def psi_quantile(
    df: DataFrame,
    value_col: str,
    split_col,
    n_bins: int = 10,
) -> DataFrame:
    """Reference-faithful PSI (utils/psi.py:293-298): bin edges are the
    base interval's quantiles (±inf outer edges), Σ(p−q)·ln(p/q) per
    non-base interval. Exact percentile here (oracle parity); swap in
    approx_percentile at the 100TB scale."""
    d = df.select(F.col(value_col).alias("v"), split_col.cast("int").alias("split"))
    qs = [i / n_bins for i in range(1, n_bins)]
    edges = (
        d.filter(F.col("split") == 0)
        .agg(F.expr(f"percentile(v, array({','.join(str(q) for q in qs)}))").alias("e"))
        .collect()[0]["e"]
    )
    bin_expr = F.lit(0)
    for e in edges:
        bin_expr = bin_expr + F.when(F.col("v") > F.lit(float(e)), 1).otherwise(0)
    counts = d.withColumn("bin", bin_expr).groupBy("split", "bin").count()
    totals = counts.groupBy("split").agg(F.sum("count").alias("total"))
    shares = counts.join(totals, "split").select(
        "split", "bin", (F.col("count") / F.col("total")).alias("share")
    )
    base = shares.filter(F.col("split") == 0).select("bin", F.col("share").alias("q"))
    rest = shares.filter(F.col("split") != 0)
    joined = rest.join(base, "bin", "left").select(
        "split",
        (F.col("share") + EPS).alias("p"),
        (F.coalesce(F.col("q"), F.lit(0.0)) + EPS).alias("q"),
    )
    return joined.groupBy("split").agg(
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
        ).alias("psi")
    )


def date_distribution_check(
    df: DataFrame, ts_col: str, lo: float = 0.8, hi: float = 1.2
) -> DataFrame:
    """Half-vs-half mean-daily-count ratio gate
    (utils/datetime_utils.py:392-443): split the date range in half, ratio
    of mean rows/day must fall in [lo, hi]."""
    daily = df.groupBy(F.to_date(F.col(ts_col)).alias("d")).count()
    rng = daily.agg(F.min("d").alias("lo_d"), F.max("d").alias("hi_d")).collect()[0]
    mid = rng["lo_d"] + (rng["hi_d"] - rng["lo_d"]) / 2
    agg = daily.agg(
        F.avg(F.when(F.col("d") <= F.lit(mid), F.col("count"))).alias("first_half"),
        F.avg(F.when(F.col("d") > F.lit(mid), F.col("count"))).alias("second_half"),
    ).select(
        F.round("first_half", 6).alias("first_half_mean"),
        F.round("second_half", 6).alias("second_half_mean"),
        F.round(F.try_divide(F.col("second_half"), F.col("first_half")), 6).alias("ratio"),
    )
    return agg.select(
        "*",
        ((F.col("ratio") >= lo) & (F.col("ratio") <= hi)).alias("is_stable"),
    )


def is_time_series_stats(df: DataFrame, ts_col: str) -> DataFrame:
    """Inputs to the is_time_series / is_blocked_time_series decision
    (datetime_utils.py:303-389): unique dates, gap-free share, multi-row
    date share, per-date count constancy."""
    daily = df.groupBy(F.to_date(F.col(ts_col)).alias("d")).count()
    return daily.agg(
        F.countDistinct("d").alias("n_unique_dates"),
        (F.datediff(F.max("d"), F.min("d")) + 1).alias("span_days"),
        F.round(
            F.countDistinct("d") / (F.datediff(F.max("d"), F.min("d")) + 1), 6
        ).alias("date_coverage"),
        F.round(
            F.avg((F.col("count") > 1).cast("double")), 6
        ).alias("multi_row_date_share"),
        F.countDistinct("count").alias("n_distinct_daily_counts"),
    )


def psi_sparsity(df: DataFrame, value_col: str, split_col) -> DataFrame:
    """Sparsity PSI (psi.py sparsity variant): PSI of the is-null mask —
    2 bins (null / not-null) per interval vs the base interval."""
    d = df.select(
        F.col(value_col).isNull().cast("int").alias("bin"),
        split_col.cast("int").alias("split"),
    )
    counts = d.groupBy("split", "bin").count()
    totals = counts.groupBy("split").agg(F.sum("count").alias("total"))
    shares = counts.join(totals, "split").select(
        "split", "bin", (F.col("count") / F.col("total")).alias("share")
    )
    base = shares.filter(F.col("split") == 0).select("bin", F.col("share").alias("q"))
    rest = shares.filter(F.col("split") != 0)
    joined = rest.join(base, "bin", "left").select(
        "split",
        (F.col("share") + EPS).alias("p"),
        (F.coalesce(F.col("q"), F.lit(0.0)) + EPS).alias("q"),
    )
    return joined.groupBy("split").agg(
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
        ).alias("psi")
    )


# --- monthly-interval PSI (reference utils/psi.py:72-298) --------------------

PSI_N_BINS = 10
PSI_MIN_INTERVALS = 10
PSI_CAT_TOP_PCT = 0.7
_PSI_EPS = 0.0001


def _fill_zeroes(percents: list[float]) -> list[float]:
    """psi.py:283-293: all-zero → eps; else zeros → min(nonzero)/1e6
    (or eps when that min is itself <= eps)."""
    nz = [p for p in percents if p != 0]
    if not nz:
        return [_PSI_EPS] * len(percents)
    m = min(nz)
    fill = _PSI_EPS if m <= _PSI_EPS else m / 10**6
    return [p if p != 0 else fill for p in percents]


def _psi_value(ref: list[float], cur: list[float]) -> float:
    import math

    return sum((r - c) * math.log(r / c) for r, c in zip(ref, cur))


def n_months_in(df: DataFrame, date_col: str) -> int:
    """psi.py:89: distinct calendar month NUMBER (1-12), not year-month."""
    return df.select(
        F.month(F.col(date_col).cast("timestamp")).alias("m")
    ).distinct().count()


def psi_monthly_report(
    df: DataFrame,
    feature_cols: list[str],
    cat_features: list[str],
    date_col: str,
    n_bins: int = PSI_N_BINS,
    min_intervals: int = PSI_MIN_INTERVALS,
    max_intervals: int | None = None,
    cat_top_pct: float = PSI_CAT_TOP_PCT,
    agg: str = "max",
    max_cat_keys: int = 100_000,
) -> list[tuple[str, float]]:
    """calculate_features_psi parity (psi.py:72-151): intervals =
    max(min_intervals, #distinct months) date quantiles; per feature the
    PSI of every interval vs interval 0, aggregated with ``agg``.

    Numerical features (>20 distinct in the reference interval): bins are
    the reference interval's quantile edges (±inf outer) plus a null bin;
    otherwise categorical: keys with total-count percentile rank ≥
    ``cat_top_pct`` plus a null bin. Percents divide by each interval's
    FULL row count (reference convention), zeros filled per
    psi.py:283-293.

    Job count is INDEPENDENT of feature count (r5 rewrite; the r4 version
    looped per feature — ~10k sequential jobs at the reference's 3,500
    feature cap): one distinct-count agg + one multi-column percentile agg
    decide and bin every numerical feature, an ``F.stack`` melt feeds one
    (feature, interval, bin) count pass, and the categorical top keys are
    derived from a per-feature COUNT-FREQUENCY histogram (small: one row
    per distinct frequency) so the driver never holds the full key set;
    the retained-key collect is additionally capped at ``max_cat_keys``
    per feature (deterministic: by count desc, key asc — a deviation from
    reference only above the cap, where pandas would OOM first).

    Only per-(feature, interval, bin) count tables reach the driver.
    """
    def q(name: str):
        return F.col("`" + name.replace("`", "``") + "`")

    # ---- head: cheap month-count agg, then ONLY the needed edge
    # fractions. Exact percentile's cost scales with the REQUESTED
    # fraction count (measured: 30 fractions 5.1 s vs 9 fractions 3.3 s
    # over 1M rows), so a one-job merged candidate grid loses more on
    # extra fractions than it saves in scans — two jobs it is, with the
    # month count via size(collect_set) (≤12-entry buffer; countDistinct
    # would work too but collect_set composes with other aggregates
    # without the Expand rewrite).
    dcast = F.col(date_col).cast("timestamp")
    us = F.unix_micros(dcast).cast("double")
    # ONE speculative head pass: the interval count is n_intervals =
    # clamp(#months, min_intervals, max_intervals), and data spanning
    # ≤ min_intervals months (the common monthly-PSI shape) always lands
    # on the FLOOR — so the floor's edge fractions are known before the
    # month count is. Fuse the month-count agg and the floor's percentile
    # grid into one spread pass (percentile ignores the NULL-date rows
    # natively, collect_set/max see them — same values as the two
    # separate jobs); only >floor-month data pays a second, correctly-
    # sized grid pass. This is NOT the rejected merged candidate grid:
    # no extra fractions are ever requested (exact percentile cost is
    # per-fraction — the r6 lesson), the speculative grid is exactly the
    # floor grid.
    spec_n = min_intervals if max_intervals is None else min(
        min_intervals, max_intervals
    )
    spec_qs = [i / spec_n for i in range(1, spec_n)]
    head = spread_scan(
        df.select(
            F.month(dcast).alias("__mo__"),
            F.col(date_col).isNull().cast("int").alias("__dn__"),
            us.alias("__u__"),
        )
    ).agg(
        F.size(F.collect_set("__mo__")).alias("__m__"),
        # n_months_in counted a NULL month as a distinct value
        F.max("__dn__").alias("__mn__"),
        F.percentile(
            F.col("__u__"), F.array(*[F.lit(x) for x in spec_qs])
        ).alias("__e__"),
    ).collect()[0]
    n_months = int(head["__m__"] or 0) + int(head["__mn__"] or 0)
    n_intervals = max(min_intervals, n_months)
    if max_intervals is not None:
        n_intervals = min(n_intervals, max_intervals)
    if n_intervals == spec_n:
        grid = head["__e__"]
    else:
        qs = [i / n_intervals for i in range(1, n_intervals)]
        # spread the NARROW epoch column before the percentile: the
        # partial buffers (value→count maps) then build in parallel
        # instead of one task (measured 3.3 s → 2.3 s on a 1M-row
        # single-row-group input)
        grid = spread_scan(
            df.filter(F.col(date_col).isNotNull()).select(us.alias("__u__"))
        ).agg(
            F.percentile(
                F.col("__u__"), F.array(*[F.lit(x) for x in qs])
            ).alias("__e__")
        ).collect()[0]["__e__"]
    interior_dates = sorted(
        set(float(e) for e in (grid or []) if e is not None)
    )
    itv_expr = F.lit(0)
    for e in interior_dates:
        itv_expr = itv_expr + F.when(us > F.lit(e), 1).otherwise(0)
    # materialize the frame NARROWED to (features, interval) and SPREAD: a
    # single-row-group input would otherwise leave the checkpoint — and
    # every one of the ~4 downstream count/quantile jobs — single-task
    # (guide §2.5).
    d = materialize(spread_scan(
        df.filter(F.col(date_col).isNotNull()).select(
            *[q(f).alias(f) for f in feature_cols],
            itv_expr.cast("int").alias("__itv__"),
        )
    ))
    itv_totals = {
        r["__itv__"]: r["count"] for r in d.groupBy("__itv__").count().collect()
    }
    itvs = sorted(itv_totals)
    agg_fn = max if agg == "max" else (min if agg == "min" else None)
    if agg_fn is None:
        raise ValueError(f"unsupported agg {agg!r}")

    dtypes = dict(df.dtypes)
    ref = d.filter(F.col("__itv__") == itvs[0])

    # ---- decide numerical vs categorical treatment: ONE agg ------------
    num_candidates = [
        f for f in feature_cols
        if f not in cat_features
        and dtypes[f] not in ("string", "boolean", "binary")
    ]
    num_feats: list[str] = []
    edges_by_feat: dict = {}
    if num_candidates:
        # exact countDistinct on the NATIVE column type (reference does
        # ref[feat].nunique() — a double cast could collide big longs);
        # kept SEPARATE from the percentile agg below: mixing DISTINCT
        # and percentile aggregates triggers the Expand rewrite. The two
        # aggs are independent scans of the same checkpointed ref frame,
        # so they run in two driver threads (guide §2.6); the edge
        # quantiles are computed SPECULATIVELY for every candidate (a
        # candidate that fails the >20-distinct test wastes one
        # percentile column — rare for numeric features, and both jobs
        # finish in the wall time of one).
        qs_arr = F.array(*[F.lit(i / n_bins) for i in range(n_bins + 1)])

        def _nvals():
            return ref.agg(
                *[
                    F.countDistinct(q(f)).alias(f"n{i}")
                    for i, f in enumerate(num_candidates)
                ]
            ).collect()[0]

        def _edges():
            # NaN is excluded from the edge quantiles (Spark percentile
            # would sort it above every double; np.histogram never sees
            # it) — the when() guard nulls NaN out, percentile skips nulls
            return ref.agg(*[
                F.percentile(
                    F.when(
                        ~F.isnan(q(f).cast("double")), q(f).cast("double")
                    ), qs_arr
                ).alias(f"e{i}")
                for i, f in enumerate(num_candidates)
            ]).collect()[0]

        nvals, edges_row = run_concurrently(_nvals, _edges)
        num_feats = [
            f for i, f in enumerate(num_candidates) if nvals[f"n{i}"] > 20
        ]
        edges_by_feat = {
            f: edges_row[f"e{i}"] for i, f in enumerate(num_candidates)
        }
    num_set = set(num_feats)
    cat_feats = [f for f in feature_cols if f not in num_set]

    # ---- numerical: ONE melted count pass over the decided bins --------
    num_counts: dict = {}
    if num_feats:
        pairs = []
        for f in num_feats:
            v = q(f)
            interior = [float(e) for e in edges_by_feat[f][1:-1]]  # outer → ±inf
            bin_expr = F.lit(0)
            for e in interior:
                # np.histogram: right-open bins except the last; with
                # -inf/+inf outer edges, index = #interior edges <= x
                bin_expr = bin_expr + F.when(
                    v.cast("double") >= F.lit(e), 1
                ).otherwise(0)
            # NaN joins null in the overflow bin: Spark orders NaN above
            # every double, while np.histogram excludes NaN and the
            # reference counts it with the nulls.
            pairs += [
                F.lit(f),
                F.when(
                    v.isNull() | F.isnan(v.cast("double")), F.lit(n_bins)
                ).otherwise(bin_expr).cast("int"),
            ]
        melted = d.select(
            "__itv__",
            F.stack(F.lit(len(num_feats)), *pairs).alias("__feat__", "__bin__"),
        )
        num_counts = {
            (r["__feat__"], r["__itv__"], r["__bin__"]): r["count"]
            for r in melted.groupBy("__feat__", "__itv__", "__bin__").count().collect()
        }

    # ---- categorical: histogram-derived top keys + ONE count pass ------
    cat_counts: dict = {}
    cat_keys_by_feat: dict[str, list] = {f: [] for f in cat_feats}
    if cat_feats:
        cpairs = []
        for f in cat_feats:
            cpairs += [F.lit(f), q(f).cast("string")]
        mc = d.select(
            "__itv__",
            F.stack(F.lit(len(cat_feats)), *cpairs).alias("__feat__", "__key__"),
        )
        key_counts = (
            mc.filter(F.col("__key__").isNotNull())
            .groupBy("__feat__", "__key__")
            .count()
        )
        # pandas rank(pct=True, method='average') ≥ cat_top_pct, replayed
        # from the count-frequency histogram: keys with equal counts share
        # an average rank, so the pass/fail boundary is a count cutoff
        hist_rows = (
            key_counts.groupBy("__feat__", F.col("count").alias("__c__"))
            .agg(F.count("*").alias("__n__"))
            .collect()
        )
        hist: dict[str, list] = {}
        for r in hist_rows:
            hist.setdefault(r["__feat__"], []).append((r["__c__"], r["__n__"]))
        cutoffs: dict[str, int] = {}
        for f, pairs_h in hist.items():
            pairs_h.sort()
            n_keys = sum(n for _, n in pairs_h)
            below = 0
            for c, n in pairs_h:
                avg_rank_pct = (below + (n + 1) / 2) / n_keys
                if avg_rank_pct >= cat_top_pct:
                    cutoffs[f] = int(c)
                    break
                below += n
        # a feature can legitimately have NO cutoff (all keys tied → every
        # avg rank 0.5 < cat_top_pct → pandas retains nothing); its
        # '__null__' bin must still be counted, so the count pass is
        # unconditional and cut_df may be empty
        spark = df.sparkSession
        cut_df = local_frame(
            spark, list(cutoffs.items()), "__feat__ string, __cut__ long"
        )
        retained = (
            key_counts.join(F.broadcast(cut_df), "__feat__")
            .filter(F.col("count") >= F.col("__cut__"))
        )
        w = PWindow.partitionBy("__feat__").orderBy(
            F.col("count").desc(), F.col("__key__")
        )
        retained = (
            retained.withColumn("__rk__", F.row_number().over(w))
            .filter(F.col("__rk__") <= max_cat_keys)
            .select("__feat__", F.col("__key__").alias("__bin__"))
            .withColumn("__keep__", F.lit(True))
        )
        binned = mc.withColumn(
            "__bin__",
            F.when(F.col("__key__").isNull(), F.lit("__null__"))
            .otherwise(F.col("__key__")),
        )
        sel = binned.join(retained, ["__feat__", "__bin__"], "left").filter(
            F.col("__keep__").isNotNull() | (F.col("__bin__") == "__null__")
        )
        for r in sel.groupBy("__feat__", "__itv__", "__bin__").count().collect():
            cat_counts[(r["__feat__"], r["__itv__"], r["__bin__"])] = r["count"]
        for (f, _itv, b) in cat_counts:
            if b != "__null__" and b not in cat_keys_by_feat[f]:
                cat_keys_by_feat[f].append(b)

    # ---- driver-side PSI assembly (tiny count tables) ------------------
    out: list[tuple[str, float]] = []
    for feat in feature_cols:
        if feat in num_set:
            bins: list = list(range(n_bins + 1))
            counts, src = num_counts, feat
        else:
            bins = cat_keys_by_feat.get(feat, []) + ["__null__"]
            counts, src = cat_counts, feat
        ref_pct = _fill_zeroes(
            [counts.get((src, itvs[0], b), 0) / itv_totals[itvs[0]] for b in bins]
        )
        psis = []
        for itv in itvs[1:]:
            cur_pct = _fill_zeroes(
                [counts.get((src, itv, b), 0) / itv_totals[itv] for b in bins]
            )
            psis.append(_psi_value(ref_pct, cur_pct))
        out.append((feat, float(agg_fn(psis)) if psis else None))
    return out


# is_time_series driver bound: the relativedelta pass is calendar-bounded
# in practice (~365×years distinct dates); a pathological sub-second
# series would otherwise collect unbounded rows — and a series with more
# distinct "dates" than this is not the constant-calendar-step shape the
# gate looks for anyway. A driver-memory safety bound, not a tuning knob.
_TS_MAX_DATES = 100_000


def is_time_series(df: DataFrame, date_col: str) -> bool:
    """is_time_series decision parity (datetime_utils.py:303-332): no null
    dates; per-date row count constant; consecutive UNIQUE dates separated
    by one constant calendar step (relativedelta equality — calendar-aware,
    so a monthly series passes even across 28/31-day months).

    The relativedelta pass runs on the collected DISTINCT dates only — for
    a true time series that is one value per period, a tiny list."""
    from dateutil.relativedelta import relativedelta

    d = F.col(date_col).cast("timestamp")
    if df.filter(d.isNull()).limit(1).count() > 0:
        return False
    vc = df.groupBy(d.alias("__d__")).count()
    if vc.select(F.countDistinct("count")).collect()[0][0] != 1:
        return False
    dates = [
        r["__d__"]
        for r in vc.select("__d__").orderBy("__d__")
        .limit(_TS_MAX_DATES + 1).collect()
    ]
    if len(dates) > _TS_MAX_DATES:
        return False
    if len(dates) < 2:
        return False
    rels = {
        (lambda r: (r.years, r.months, r.days, r.hours, r.minutes, r.seconds))(
            relativedelta(b, a)
        )
        for a, b in zip(dates, dates[1:])
    }
    return len(rels) == 1


def is_blocked_time_series(
    df: DataFrame, date_col: str, search_keys: list[str]
) -> bool:
    """is_blocked_time_series decision parity (datetime_utils.py:336-389):
    date-typed (no mixed intraday times), >=270 unique dates, >=30% of the
    span covered, >=99% of dates multi-row, and — when more than 3 columns
    remain after dropping the other search keys — at most 2 columns whose
    values change within any single date.

    All rules are aggregations; the changing-column rule is ONE
    groupBy(date) with per-column (distinct count + null flag) aggregates,
    not a per-group Python pass."""
    drop = [c for c in search_keys if c != date_col and c in df.columns]
    d = df.drop(*drop)
    ts = F.col(date_col).cast("timestamp")
    secs = F.unix_micros(ts) - F.unix_micros(F.date_trunc("DAY", ts))
    head = d.agg(
        F.max((secs != 0).cast("int")).alias("any_nz"),
        F.countDistinct(secs).alias("n_secs"),
        F.countDistinct(F.to_date(ts)).alias("nd"),
        F.min(F.to_date(ts)).alias("mn"),
        F.max(F.to_date(ts)).alias("mx"),
    ).collect()[0]
    if head["any_nz"] and head["n_secs"] > 1:
        return False
    nd = head["nd"]
    if nd is None or nd < 270:
        return False
    span = (head["mx"] - head["mn"]).days + 1
    if nd / span < 0.3:
        return False

    other_cols = [c for c in d.columns if c != date_col]
    per_date = d.groupBy(F.to_date(ts).alias("__d__")).agg(
        F.count(F.lit(1)).alias("__n__"),
        *[F.countDistinct(F.col(c)).alias(f"__nd_{i}__") for i, c in enumerate(other_cols)],
        *[F.max(F.col(c).isNull().cast("int")).alias(f"__hn_{i}__") for i, c in enumerate(other_cols)],
    )
    # nunique(dropna=False) = distinct non-null + (1 if any null)
    summary = per_date.agg(
        F.avg((F.col("__n__") > 1).cast("double")).alias("multi_share"),
        *[
            F.max(((F.col(f"__nd_{i}__") + F.col(f"__hn_{i}__")) > 1).cast("int"))
            .alias(f"__chg_{i}__")
            for i in range(len(other_cols))
        ],
    ).collect()[0]
    if summary["multi_share"] < 0.99:
        return False
    if len(d.columns) <= 3:
        return True
    changing = sum(summary[f"__chg_{i}__"] or 0 for i in range(len(other_cols)))
    return changing <= 2


def calculate_features_psi(
    df: DataFrame,
    feature_cols: list[str],
    cat_features: list[str],
    date_col: str,
    target_col: str | None = None,
    target_is_numerical: bool = False,
    target_threshold: float = 999.0,
    **kwargs,
) -> dict[str, float]:
    """calculate_features_psi parity incl. the TARGET gate
    (psi.py:72-151): when a target column is given, its PSI is computed
    first (5 bins, reference DEFAULT_TARGET_PARAMS); if it cannot be
    determined or exceeds the threshold, every feature reports 0.0
    (the reference's empty_res) and the feature pass is skipped."""
    d = df.filter(F.col(date_col).isNotNull())
    if target_col is not None:
        t_rows = psi_monthly_report(
            d.select(target_col, date_col),
            [target_col],
            [] if target_is_numerical else [target_col],
            date_col,
            n_bins=5,
        )
        t_psi = t_rows[0][1]
        if t_psi is None or t_psi != t_psi or t_psi > target_threshold:
            return {c: 0.0 for c in feature_cols}
    rows = psi_monthly_report(d, feature_cols, cat_features, date_col, **kwargs)
    return {c: p for c, p in rows}


def calculate_sparsity_psi(
    df: DataFrame,
    feature_cols: list[str],
    date_col: str,
    **kwargs,
) -> dict[str, float]:
    """calculate_sparsity_psi parity (psi.py:44-69): PSI of the NOT-NULL
    mask for every feature that has at least one null — null-pattern
    stability over the monthly intervals. Features with no nulls are
    omitted (the reference only checks sparse columns)."""
    null_counts = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in feature_cols]
    ).collect()[0]
    sparse = [c for c in feature_cols if (null_counts[c] or 0) > 0]
    if not sparse:
        return {}
    masked = df.select(
        F.col(date_col),
        *[F.col(c).isNotNull().cast("int").alias(c) for c in sparse],
    )
    # the mask is categorical 0/1 (reference passes the boolean frame on)
    rows = psi_monthly_report(masked, sparse, sparse, date_col, **kwargs)
    return {c: p for c, p in rows}


MAX_MULTICLASS_CLASS_COUNT = 100  # reference target_utils.py:14
MIN_TARGET_CLASS_ROWS = 100       # :15
IMBALANCE_THRESHOLD = 0.6         # :16


def is_imbalanced(
    df: DataFrame,
    target_col: str,
    task_type: str,
    binary_min_sample_threshold: int = 5_000,
) -> bool:
    """is_imbalanced parity (target_utils.py:115-155):

    1. full-row keep-first dedup, then remove ALL rows duplicated on the
       non-target columns (keep=False — surviving subset-dups necessarily
       conflict on target);
    2. BINARY with ≤ ``binary_min_sample_threshold`` rows → never
       imbalanced;
    3. > ``MAX_MULTICLASS_CLASS_COUNT`` target classes → ValueError
       (reference ValidationError);
    4. imbalanced iff the rarest class count < (0.6 / n_classes) × rows.

    (The reference also logs a warning when the rarest class has
    < ``MIN_TARGET_CLASS_ROWS`` rows — a message, not a decision, so it
    is not reproduced here.) Ties on class counts break by class value,
    like :func:`~upgini_spark.functions.sampling.imbalance_quotas`.
    """
    from pyspark.sql.window import Window

    if task_type not in ("BINARY", "MULTICLASS"):
        return False
    d = df.dropDuplicates()
    non_target = [c for c in d.columns if c != target_col]
    w = Window.partitionBy(*non_target)
    d = (
        d.withColumn("__dupn__", F.count(F.lit(1)).over(w))
        .filter(F.col("__dupn__") == 1)
        .drop("__dupn__")
    )
    counts_all = {r[0]: r[1] for r in d.groupBy(target_col).count().collect()}
    # pandas nunique()/value_counts() default dropna=True: a null target
    # is NOT a class, but its rows still count toward len(target).
    counts = {k: v for k, v in counts_all.items() if k is not None}
    total = sum(counts_all.values())
    if task_type == "BINARY" and total <= binary_min_sample_threshold:
        return False
    k = len(counts)
    if k > MAX_MULTICLASS_CLASS_COUNT:
        raise ValueError(
            f"number of target classes {k} exceeds the allowed threshold "
            f"{MAX_MULTICLASS_CLASS_COUNT}"
        )
    if not counts:
        return False
    min_count = sorted(counts.items(), key=lambda kv: (kv[1], str(kv[0])))[0][1]
    return min_count < (IMBALANCE_THRESHOLD / k) * total


def define_task(
    df: DataFrame, target_col: str, has_date: bool = False
) -> str:
    """define_task parity (target_utils.py:29-113): detect
    BINARY / MULTICLASS / REGRESSION from the target column.

    Decision ladder (reference-exact, replayed against
    tests/test_target_utils.py):

    1. clean: drop null / non-finite; non-numeric targets also drop '';
       empty → ValueError; single distinct value → ValueError;
    2. exactly 2 distinct → BINARY;
    3. not numeric-convertible → MULTICLASS;
    4. ≤ 50 distinct AND the unique values are exactly 0..n-1 or 1..n
       (int encoding) → MULTICLASS;
    5. a DATE search key present → REGRESSION;
    6. else: fractional floats, > 50 distinct non-zero values, or
       non-zero distinct/count ratio > 0.2 → REGRESSION, else MULTICLASS.

    Distributed shape: one cleaning projection + aggregates; the unique
    VALUE SET is only collected when the distinct count is ≤ 50 (bounded
    driver data at any scale).
    """
    dtype = dict(df.dtypes)[target_col]
    numeric_dtype = dtype in (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    ) or dtype.startswith("decimal")
    t = F.col(target_col)
    if numeric_dtype:
        clean = df.filter(t.isNotNull() & ~F.isnan(t.cast("double"))
                          & (F.abs(t.cast("double")) != float("inf")))
        num = clean.select(t.cast("double").alias("v"))
    else:
        clean = df.filter(t.isNotNull() & (t.cast("string") != ""))
        num = clean.select(t.cast("string").try_cast("double").alias("v"))

    agg = clean.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(t).alias("nd"),
    ).collect()[0]
    if agg["n"] == 0:
        raise ValueError("empty target")
    if agg["nd"] == 1:
        raise ValueError("constant target")
    if agg["nd"] == 2:
        return "BINARY"

    num_agg = num.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("v").alias("n_num"),
        F.max((F.col("v") != F.floor("v")).cast("int")).alias("has_frac"),
        F.countDistinct(F.when(F.col("v") != 0, F.col("v"))).alias("nz_items"),
        F.count(F.when(F.col("v") != 0, 1)).alias("nz_n"),
        F.countDistinct("v").alias("nd_num"),
    ).collect()[0]
    if num_agg["n_num"] < num_agg["n"]:  # some values not numeric-parsable
        return "MULTICLASS"
    if num_agg["nd_num"] <= 50:
        uniques = sorted(r["v"] for r in num.select("v").distinct().collect())
        k = len(uniques)
        if uniques == [float(x) for x in range(k)] or uniques == [
            float(x) for x in range(1, k + 1)
        ]:
            return "MULTICLASS"
    if has_date:
        return "REGRESSION"
    ratio = num_agg["nz_items"] / num_agg["nz_n"] if num_agg["nz_n"] else 0.0
    if (num_agg["has_frac"] or 0) or num_agg["nz_items"] > 50 or ratio > 0.2:
        return "REGRESSION"
    return "MULTICLASS"


def rank_auc(
    df: DataFrame,
    target_col: str,
    score_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed rank-based ROC AUC (+ GINI = 2·AUC − 1) — the exact
    Mann-Whitney statistic sklearn's roc_auc_score computes, expressed so
    NO row-level global sort exists in the plan: rows collapse to one row
    per (group, score) first (map-side combined), the cumulative
    below-count runs over that aggregated table, and the average rank of
    a tie group is ``c_lt + (c_eq + 1)/2``. With ``group_cols`` the
    cumsum is a per-group window; without, it rides the distributed
    :func:`~upgini_spark.pipeline.record_ids.global_running_sum` (range
    partition + offsets — never an ``Exchange SinglePartition``).

    The same statistic the driver-side metrics harness
    (pipeline/metrics.py ``roc_auc_score``) evaluates in numpy on the
    sampled frame — this is its at-scale twin for scoring the FULL
    table. Null targets/scores are excluded (pandas dropna semantics).
    Returns one row per group: (``*group_cols``, n_pos, n_neg, auc,
    gini)."""
    from pyspark.sql.window import Window

    groups = list(group_cols or [])
    d = df.filter(F.col(target_col).isNotNull() & F.col(score_col).isNotNull())
    pos = (F.col(target_col) == 1).cast("long")
    by_score = d.groupBy(*groups, F.col(score_col).alias("__s__")).agg(
        F.count(F.lit(1)).alias("__c__"), F.sum(pos).alias("__p__")
    )
    if groups:
        w = (
            Window.partitionBy(*groups)
            .orderBy(F.col("__s__").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = by_score.withColumn("__cum__", F.sum("__c__").over(w))
    else:
        from upgini_spark.pipeline.record_ids import global_running_sum

        cum = global_running_sum(
            by_score, [F.col("__s__").asc()], "__c__", "__cum__"
        )
    # avg rank of the tie group = rows strictly below + (c_eq + 1)/2
    contrib = F.col("__p__") * (
        (F.col("__cum__") - F.col("__c__")).cast("double")
        + (F.col("__c__") + 1).cast("double") / 2.0
    )
    agg = cum.groupBy(*groups).agg(
        F.sum("__p__").alias("n_pos"),
        (F.sum("__c__") - F.sum("__p__")).alias("n_neg"),
        F.sum(contrib).alias("__rs__"),
    )
    auc = F.try_divide(
        F.col("__rs__") - F.col("n_pos").cast("double") * (F.col("n_pos") + 1) / 2.0,
        F.col("n_pos").cast("double") * F.col("n_neg"),
    )
    return agg.select(
        *groups,
        "n_pos",
        "n_neg",
        F.round(auc, 6).alias("auc"),
        F.round(2 * auc - 1, 6).alias("gini"),
    )


def select_stable_features(
    train_df: DataFrame,
    eval_dfs: list[DataFrame],
    date_col: str,
    feature_cols: list[str],
    cat_features: list[str],
    stability_threshold: float = 0.2,
    min_rows: int = 1_000,
) -> tuple[list[str], dict[str, float], int | None]:
    """_check_stability parity (features_enricher.py:1419-1533) — the
    OOT-PSI feature-selection DECISION over distributed frames:

    1. eval-set election: frames missing the date column, under
       ``min_rows`` rows, or with a constant date are skipped; among
       frames whose min date >= the train min date the one with the
       HIGHEST max date wins, else the one with the highest min date
       (one small aggregate per frame — no data movement);
    2. sparsity PSI (null-mask stability) and value PSI run on the
       elected frame's monthly intervals;
    3. unstable = union of features whose sparsity OR value PSI exceeds
       ``stability_threshold`` (sorted); surviving value-PSI numbers are
       returned for reporting (the reference's ``self.psi_values``).

    Returns (unstable_features, psi_values_of_stable, elected_index) —
    ([], {}, None) when no frame qualifies, like the reference's early
    returns."""
    t_dates = train_df.select(F.col(date_col)).filter(F.col(date_col).isNotNull())
    t_agg = t_dates.agg(F.min(date_col).alias("mn"), F.count(F.lit(1)).alias("n")).collect()[0]
    if not t_agg["n"]:
        return [], {}, None
    main_min = t_agg["mn"]

    stats = []
    for i, ev in enumerate(eval_dfs):
        if date_col not in ev.columns:
            continue
        agg = ev.filter(F.col(date_col).isNotNull()).agg(
            F.count(F.lit(1)).alias("n"),
            F.min(date_col).alias("mn"),
            F.max(date_col).alias("mx"),
        ).collect()[0]
        if (agg["n"] or 0) < min_rows or agg["mn"] == agg["mx"]:
            continue
        stats.append((i, agg["mn"], agg["mx"]))
    if not stats:
        return [], {}, None

    later = [s for s in stats if s[1] >= main_min]
    if later:
        idx = max(later, key=lambda s: s[2])[0]
    else:
        idx = max(stats, key=lambda s: s[1])[0]
    chosen = eval_dfs[idx]

    cat = [c for c in cat_features if c in chosen.columns]
    feats = [c for c in feature_cols if c in chosen.columns]
    sparse_psi = calculate_sparsity_psi(chosen, feats, date_col)
    value_psi = calculate_features_psi(chosen, feats, cat, date_col)

    unstable = sorted(
        {f for f, p in sparse_psi.items() if p is not None and p > stability_threshold}
        | {f for f, p in value_psi.items() if p is not None and p > stability_threshold}
    )
    stable_vals = {
        f: p for f, p in value_psi.items()
        if p is not None and p <= stability_threshold
    }
    return unstable, stable_vals, idx

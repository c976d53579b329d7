"""Sampling / rebalancing operators (reference src/upgini/utils/
sample_utils.py, target_utils.py:164-276).

The reference samples with a seeded RNG; a distributed engine needs
order-free determinism instead, so the primary primitive here is
*hash-rank sampling*: keep the n rows with the smallest md5(id) — the
same rows on any cluster size, any partitioning, and reproducible in
ANSI SQL. Seeded ``DataFrame.sample``/``sampleBy`` variants are provided
for statistical (non-exact) paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from upgini_spark.util import id_hash, local_frame, materialize

FIT_SAMPLE_THRESHOLD = 100_000  # reference utils/config.py:18-21
FORCE_SAMPLE_SIZE = 7_000       # reference dataset.py:65


# Regime gate for hash_sample_exact, measured at 600k rows / local[32]
# (r4): direct TakeOrdered wins at n=1k (0.47 vs 1.1 s) but loses by the
# heap + global-sort degradation from n=10k (2.7 vs 0.9 s) and 4× at
# n=50k (6.3 vs 1.6 s) — mid-plan `orderBy().limit()` compiles to a full
# range-partitioned sort, not TakeOrderedAndProject. Both regimes return
# identical rows (exactness re-verified either way).
HASH_SAMPLE_HEAP_CEILING = 5_000


def hash_sample_exact(
    df: DataFrame, n: int, id_cols: list[str], total: int | None = None,
) -> DataFrame:
    """Deterministic exact-n sample: keep the n rows with the smallest
    md5 of the id tuple.

    Planned as ``TakeOrderedAndProject`` (per-partition top-n, merged) —
    NOT a global ``row_number()`` window, which would shuffle every row
    through one partition. Same rows on any cluster size.

    Ceiling: each task holds an n-row heap and the driver merges the
    per-partition top-n sets, so above ``HASH_SAMPLE_HEAP_CEILING`` rows
    a closed-form cut on the hash prefix pre-filters to ~1.25n candidate
    rows first (with a full-table fallback if the cut undershoots n),
    keeping the heap small at any n.
    Both regimes return identical rows: the final exact order/limit runs
    either way.
    """
    h = id_hash(id_cols)
    order = [h.asc()] + [F.col(c).asc() for c in id_cols]
    work = df
    if n > HASH_SAMPLE_HEAP_CEILING:
        # ``total`` lets callers that already counted skip a full scan
        if total is None:
            total = df.count()
        if total <= n:
            return df
        # lowercase fixed-width hex sorts identically to its numeric value,
        # so a 60-bit numeric prefix is a faithful rank proxy for the filter.
        # md5 prefixes are UNIFORM on [0, 2^60) by construction, so the
        # ~1.25n/total quantile is known in CLOSED FORM — no approxQuantile
        # scan needed (was one extra full-table job per sample). At the
        # n > 5k floor the 25 % margin is a ≥20 σ cushion against the
        # binomial count landing under n; the count check below keeps
        # exactness unconditional either way (undershoot → full table).
        num = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
        frac = min(1.0, 1.25 * n / total)
        cut = int(frac * float(1 << 60))
        cand = df.filter(num <= F.lit(cut))
        if cand.count() < n:  # margin undershot — exactness wins
            cand = df
        work = cand
    return work.orderBy(*order).limit(n)


BINARY_MIN_SAMPLE_THRESHOLD = 5_000       # reference utils/config.py:13
MULTICLASS_MIN_SAMPLE_THRESHOLD = 25_000  # :14
BINARY_BOOTSTRAP_LOOPS = 5                # :15
MULTICLASS_BOOTSTRAP_LOOPS = 2            # :16
RARE_CLASS_SHARE = 0.0001                 # target_utils.py:204


def imbalance_quotas(
    df: DataFrame, target_col: str, task_type: str | None = None,
    binary_min_sample_threshold: int = BINARY_MIN_SAMPLE_THRESHOLD,
    multiclass_min_sample_threshold: int = MULTICLASS_MIN_SAMPLE_THRESHOLD,
) -> tuple[dict, list]:
    """balance_undersample parity (target_utils.py:164-276). Returns
    (per-class keep-quota, classes-to-drop); a class absent from the quota
    map keeps everything.

    MULTICLASS: classes with <0.01% of rows drop (top-2 always kept); if
    rows > 25 000 and max_count > 2·min_count, every non-minority class
    caps at min(count, 2·(min + max((25000 − k·min)/(k−1), 0))).
    BINARY: if rows > 5 000, the majority side caps at
    min(max_count, 5·(min + max(5000 − 2·min, 0))); minority kept whole.
    Ties on class counts break by class value (deterministic)."""
    counts = {r[0]: r[1] for r in df.groupBy(target_col).count().collect()}
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], str(kv[0])))
    total = sum(counts.values())
    k = len(counts)
    if task_type is None:
        task_type = "BINARY" if k == 2 else "MULTICLASS"

    if task_type == "MULTICLASS":
        top_two = {cls for cls, _ in ordered[:2]}
        drop = [
            cls for cls, c in ordered
            if c / total < RARE_CLASS_SHARE and cls not in top_two
        ]
        kept = [(cls, c) for cls, c in ordered if cls not in set(drop)]
        total_k = sum(c for _, c in kept)
        k = len(kept)
        min_cls, min_cnt = kept[-1]
        max_cnt = kept[0][1]
        if total_k > multiclass_min_sample_threshold and max_cnt > (
            min_cnt * MULTICLASS_BOOTSTRAP_LOOPS
        ):
            quota = int(
                MULTICLASS_BOOTSTRAP_LOOPS
                * (
                    min_cnt
                    + max(
                        (multiclass_min_sample_threshold - k * min_cnt) / (k - 1), 0
                    )
                )
            )
            return (
                {cls: min(c, quota) for cls, c in kept if cls != min_cls},
                drop,
            )
        return {}, drop

    # BINARY
    min_cls, min_cnt = ordered[-1]
    max_cnt = ordered[0][1]
    if total > binary_min_sample_threshold:
        size = min(
            max_cnt,
            BINARY_BOOTSTRAP_LOOPS
            * (min_cnt + max(binary_min_sample_threshold - 2 * min_cnt, 0)),
        )
        return {cls: size for cls, _ in ordered if cls != min_cls}, []
    return {}, []


def undersample_imbalanced(
    df: DataFrame, target_col: str, id_cols: list[str], task_type: str | None = None,
    binary_min_sample_threshold: int = BINARY_MIN_SAMPLE_THRESHOLD,
    multiclass_min_sample_threshold: int = MULTICLASS_MIN_SAMPLE_THRESHOLD,
) -> DataFrame:
    """Deterministic undersample to the reference quotas — per-class
    md5-rank sampling replaces the seeded RandomUnderSampler (same rows on
    any partitioning). Thresholds are the reference defaults; the
    reference's SampleConfig overrides map to the keyword args (replayed
    in test_imbalanced_target)."""
    quotas, drop = imbalance_quotas(
        df, target_col, task_type,
        binary_min_sample_threshold=binary_min_sample_threshold,
        multiclass_min_sample_threshold=multiclass_min_sample_threshold,
    )
    out = df
    if drop:
        out = out.filter(~F.col(target_col).isin(drop))
    if not quotas:
        return out
    h = id_hash(id_cols)
    w = Window.partitionBy(target_col).orderBy(h.asc(), *[F.col(c).asc() for c in id_cols])
    ranked = out.withColumn("__rk__", F.row_number().over(w))
    quota_map = F.create_map(*[F.lit(x) for kv in quotas.items() for x in kv])
    keep = F.col("__rk__") <= F.coalesce(
        quota_map[F.col(target_col)], F.lit(2**62)
    )
    return ranked.filter(keep).drop("__rk__")


def ts_truncate_trailing(
    df: DataFrame, ts_col: str, groups: list[str], window_seconds: int
) -> DataFrame:
    """Keep each entity's trailing time window
    (sample_utils.py:155-332 trailing-window truncation)."""
    w = Window.partitionBy(*groups)
    max_us = F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).over(w)
    keep = (
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        > max_us - F.lit(window_seconds).cast("long") * 1_000_000
    )
    return (
        df.withColumn("__keep__", keep)
        .filter(F.col("__keep__"))
        .drop("__keep__")
    )


# --- time-series sampling fidelity (sample_utils.py:155-332, ts_utils.py) ---

# reference utils/config.py:7-11
TS_MIN_DIFFERENT_IDS_RATIO = 0.2
TS_HIGH_FREQ_TRUNC = [(30, 0), (24, 7)]     # (months, days): 2y6m, 2y+7d
TS_LOW_FREQ_TRUNC = [(84, 0), (60, 0)]      # 7y, 5y
TS_TIME_UNIT_THRESHOLD_S = 4 * 7 * 86400    # Timedelta(weeks=4)

# sample_time_series driver bound: a budget (or fallback id count) up to
# this many rows is ranked by a per-partition top-k collect and a Python
# cumsum; above it the distributed global_running_sum runs. Identical
# keep decisions on either side.
DRIVER_CUMSUM_ROWS = 100_000


def modal_time_unit_seconds(
    df: DataFrame, id_cols: list[str], date_col: str
) -> int | None:
    """get_most_frequent_time_unit parity (ts_utils.py:6-24): consecutive
    diffs over each id's sorted UNIQUE dates, each normalized to its exact
    offset (largest whole unit dividing it — pandas to_offset semantics is
    injective on seconds), then the most frequent diff; smallest wins ties.
    Returns the modal gap in seconds, or None with <2 dates everywhere.

    One dedup + one lag window + one small aggregation — no driver loops.
    """
    ids = id_cols or []
    dd = df.select(*ids, F.col(date_col).cast("timestamp").alias("__d__")).distinct()
    w = Window.partitionBy(*ids).orderBy("__d__")
    diffs = (
        dd.withColumn("__prev__", F.lag("__d__").over(w))
        .filter(F.col("__prev__").isNotNull())
        .select(
            ((F.unix_micros("__d__") - F.unix_micros("__prev__")) / 1_000_000)
            .cast("long")
            .alias("gap_s")
        )
    )
    top = (
        diffs.groupBy("gap_s")
        .count()
        .orderBy(F.col("count").desc(), F.col("gap_s").asc())
        .limit(1)
        .collect()
    )
    return int(top[0]["gap_s"]) if top else None


def trunc_datetime_offset(
    df: DataFrame, id_cols: list[str], date_col: str, months: int, days: int
) -> DataFrame:
    """trunc_datetime parity (ts_utils.py:27-41): keep rows with
    date > per-id max(date) − (months, days) DateOffset."""
    if id_cols:
        mx = F.max(F.col(date_col).cast("timestamp")).over(Window.partitionBy(*id_cols))
        cutoff = F.add_months(mx, -months) - F.expr(f"INTERVAL {days} DAYS")
        return (
            df.withColumn("__cutoff__", cutoff)
            .filter(F.col(date_col).cast("timestamp") > F.col("__cutoff__"))
            .drop("__cutoff__")
        )
    # no ids: broadcast the one-row global max instead of an
    # all-rows-to-one-partition empty window
    gmax = df.agg(F.max(F.col(date_col).cast("timestamp")).alias("__mx__"))
    cutoff = F.add_months(F.col("__mx__"), -months) - F.expr(f"INTERVAL {days} DAYS")
    return (
        df.crossJoin(F.broadcast(gmax))
        .filter(F.col(date_col).cast("timestamp") > cutoff)
        .drop("__mx__")
    )


def sample_time_series(
    df: DataFrame,
    id_cols: list[str],
    date_col: str,
    sample_size: int,
    min_different_ids_ratio: float = TS_MIN_DIFFERENT_IDS_RATIO,
    prefer_recent_dates: bool = True,
) -> DataFrame:
    """Whole-id priority sampling (sample_utils.py:276-332): rank ids by
    (max date, row count, tie-break) descending, keep whole ids while the
    cumulative row count fits the budget. If that keeps fewer than
    ``ratio × distinct-ids`` ids, fall back to the densest ids and the most
    recent dates. The reference breaks ties with a seeded RNG; a
    distributed engine needs order-free determinism, so the tie-break is
    the md5 of the id tuple (same (max, count) priority keys).

    The ranking cumsum runs on the per-id AGGREGATE (map-side combined)
    through the distributed global_running_sum — no single-partition
    stage at any id cardinality.
    """
    from upgini_spark.pipeline.record_ids import global_running_sum

    ids = id_cols or [date_col]
    d = F.col(date_col).cast("timestamp")
    stats = df.groupBy(*ids).agg(
        F.max(d).alias("__max__"), F.count(F.lit(1)).alias("__cnt__")
    )
    order = (
        [F.col("__max__").desc(), F.col("__cnt__").desc(), id_hash(ids).desc()]
        if prefer_recent_dates
        else [F.col("__cnt__").desc(), id_hash(ids).desc()]
    )
    spark = df.sparkSession
    if sample_size <= DRIVER_CUMSUM_ROWS:
        # every kept id holds ≥1 row, so the kept set lives in the first
        # ``sample_size`` rows of the priority order — a per-partition
        # top-k (TakeOrderedAndProject) + driver cumsum over ≤sample_size
        # aggregate rows replaces the whole distributed running-sum
        # machinery (range exchange + checkpoint + offsets collect).
        # Identical keep decisions; the distributed cumsum remains the
        # path for budgets past the driver bound.
        # Materialize the per-id aggregate once: the top-k job and the
        # id-count job below would otherwise each re-run the full
        # scan + groupBy (the distributed path already reads its cumsum's
        # checkpoint for both); at any scale one write of the id table
        # beats two extra full-table passes.
        stats = materialize(stats)
        head = stats.orderBy(*order).limit(sample_size).collect()
        acc, kept_rows = 0, []
        for r in head:
            acc += r["__cnt__"]
            if acc > sample_size:
                break
            kept_rows.append(tuple(r[c] for c in ids))
        n_kept = len(kept_rows)
        n_ids = stats.count()
        kept_schema = stats.select(*ids).schema
        kept_ids = local_frame(spark, kept_rows, kept_schema)
    else:
        # distributed running sum over the per-id aggregate — even a huge
        # id table (10^9 ids at 10^12 rows) never funnels through one
        # partition
        ranked = global_running_sum(stats, order, "__cnt__", "__cum__")
        kept_ids = ranked.filter(F.col("__cum__") <= sample_size).select(*ids)
        # both counts from the running-sum output in ONE job — it reads
        # the cumsum's eager checkpoint (row count identical to
        # ``stats``) instead of re-aggregating the full table
        cnts = ranked.agg(
            F.count(F.lit(1)).alias("__n_ids__"),
            F.coalesce(
                F.sum((F.col("__cum__") <= sample_size).cast("long")), F.lit(0)
            ).alias("__n_kept__"),
        ).collect()[0]
        n_ids, n_kept = int(cnts["__n_ids__"]), int(cnts["__n_kept__"])
    min_different_ids = max(int(n_ids * min_different_ids_ratio), 1)

    if n_kept < min_different_ids:
        # fallback: densest ids by distinct-date count, then a trailing
        # most-recent-dates window that fits the budget
        date_counts = df.groupBy(*ids).agg(F.countDistinct(d).alias("__nd__"))
        ids_limit = min_different_ids if n_kept > 0 else n_ids
        ids_to_sample = (
            date_counts.orderBy(F.col("__nd__").desc(), id_hash(ids).asc())
            .limit(ids_limit)
            .select(*ids)
        )
        if ids_limit <= DRIVER_CUMSUM_ROWS:
            # the kept-id frame feeds TWO broadcast semi-joins (the
            # per-date counts and the final filter) — left lazy, each
            # broadcast re-runs the full scan + distinct-date agg +
            # top-k chain. Collect the id rows once and rebuild the
            # frame from driver rows (same driver bound as the quota
            # path above); larger id budgets keep the lazy plan.
            ids_to_sample = local_frame(
                spark,
                ids_to_sample.collect(), date_counts.select(*ids).schema
            )
        sub = df.join(F.broadcast(ids_to_sample), on=ids, how="leftsemi")
        per_date = sub.groupBy(d.alias("__d__")).count()
        if sample_size <= DRIVER_CUMSUM_ROWS:
            # every kept date holds ≥1 row → the kept set lives in the
            # most-recent ``sample_size`` dates: per-partition top-k +
            # driver cumsum, same dispatch as the id path above
            head = (
                per_date.orderBy(F.col("__d__").desc())
                .limit(sample_size)
                .collect()
            )
            acc, kept = 0, []
            for r in head:
                acc += r["count"]
                if acc > sample_size:
                    break
                kept.append((r["__d__"],))
            kept_dates = local_frame(
                spark, kept, per_date.select("__d__").schema
            )
        else:
            # distributed most-recent-first cumsum over the per-date
            # counts — a partitionless window here would funnel every
            # distinct date through one task (unbounded at
            # second-granularity timestamps)
            kept_dates = (
                global_running_sum(
                    per_date, [F.col("__d__").desc()], "count", "__cum__"
                )
                .filter(F.col("__cum__") <= sample_size)
                .select(F.col("__d__"))
            )
        return sub.join(
            F.broadcast(kept_dates), on=d == F.col("__d__"), how="leftsemi"
        )
    return df.join(F.broadcast(kept_ids), on=ids, how="leftsemi")


def sample_time_series_trunc(
    df: DataFrame,
    id_cols: list[str] | None,
    date_col: str,
    sample_size: int,
) -> DataFrame:
    """sample_time_series_trunc parity (sample_utils.py:222-275): detect
    the modal time unit; unknown → unchanged; try the high-/low-frequency
    trailing-offset ladder; if still over budget, whole-id sampling."""
    ids = id_cols or []
    unit_s = modal_time_unit_seconds(df, ids, date_col)
    if unit_s is None:
        return df
    ladder = TS_HIGH_FREQ_TRUNC if unit_s < TS_TIME_UNIT_THRESHOLD_S else TS_LOW_FREQ_TRUNC
    sampled = df
    for months, days in ladder:
        sampled = trunc_datetime_offset(df, ids, date_col, months, days)
        if sampled.count() <= sample_size:
            break
    if sampled.count() > sample_size:
        sampled = sample_time_series(sampled, ids, date_col, sample_size)
    return sampled


def sample_time_series_train_eval(
    df: DataFrame,
    id_cols: list[str],
    date_col: str,
    sample_size: int,
    trim_threshold: int,
    max_rows: int,
    eval_set_index_col: str = "eval_set_index",
) -> DataFrame:
    """sample_time_series_train_eval parity (sample_utils.py:155-220):
    truncate train, drop eval rows whose ids vanished from train, truncate
    eval into the remaining budget."""
    if eval_set_index_col in df.columns:
        train = df.filter(F.col(eval_set_index_col) == 0)
        evals = df.filter(F.col(eval_set_index_col) > 0)
    else:
        train, evals = df, None

    train = sample_time_series_trunc(train, id_cols, date_col, sample_size)
    if evals is None:
        if train.count() > max_rows:
            return sample_time_series_trunc(train, id_cols, date_col, max_rows)
        return train

    if id_cols:
        evals = evals.join(
            F.broadcast(train.select(*id_cols).distinct()), on=id_cols, how="leftsemi"
        )
    n_train = train.count()
    if evals.count() > trim_threshold - n_train:
        evals = sample_time_series_trunc(evals, id_cols, date_col, max_rows - n_train)
    return train.unionByName(evals)


def forced_downsample_binary(
    df: DataFrame,
    target_col: str,
    id_cols: list[str],
    sample_size: int = FORCE_SAMPLE_SIZE,
) -> DataFrame:
    """balance_undersample_forced, BINARY path (sample_utils.py:335-410):
    cap at ``sample_size`` with a 50/50 split — the minority class keeps
    everything if it is under half the budget, otherwise exactly half;
    the majority side fills its half. The reference's seeded
    ``DataFrame.sample`` becomes deterministic hash-rank sampling (same
    rows on any cluster size).

    The split follows pandas: the minority is the rarest NON-NULL class
    (``value_counts`` drops NaN) and the majority side is every other
    row, NULL targets included (``target != min_class`` is True for NaN),
    so its ``total=`` counts exactly the rows its filter keeps."""
    # ONE per-class count pass supplies the total row count too (was: a
    # separate full count job first); per-class totals ride into the
    # samplers so their pre-filter regime never re-counts
    counts = df.groupBy(target_col).count().collect()
    total = sum(r["count"] for r in counts)
    if total <= sample_size:
        return df
    classes = [r for r in counts if r[target_col] is not None]
    if not classes:
        raise ValueError(f"{target_col!r} has no non-NULL target value")
    min_row = min(classes, key=lambda r: r["count"])
    min_class, min_count = min_row[target_col], min_row["count"]
    half = sample_size // 2

    is_min = F.col(target_col).eqNullSafe(F.lit(min_class))
    minority = df.filter(is_min)
    majority = df.filter(~is_min)
    if min_count > half:
        minority = hash_sample_exact(minority, half, id_cols, total=min_count)
    majority = hash_sample_exact(
        majority, half, id_cols, total=total - min_count
    )
    return minority.unionByName(majority)


# --- deterministic source mixing (training-data pipeline op) ---------------

def hash_uniform(id_cols: list[str], salt: str = "") -> F.Column:
    """Deterministic uniform [0,1) from the row's id tuple: first 60 md5
    bits / 2^60. Engine-portable — DuckDB replays it as
    ``('0x' || substr(md5(key), 1, 15))::BIGINT / 1152921504606846976.0``
    (2^60 = 16^15, so the division is exact in both engines). ``salt``
    derives independent streams from the same ids."""
    parts = [F.col(c).cast("string") for c in id_cols]
    if salt:
        parts.append(F.lit(salt))
    h = F.md5(F.concat_ws("\x1f", *parts))
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("double")
        / F.lit(float(1 << 60))
    )


def sample_by_rates(
    df: DataFrame,
    group_col: str,
    rates: dict[str, float],
    id_cols: list[str],
    default_rate: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Per-group deterministic sampling — the data-MIXING step of a
    pretraining pipeline (keep 100% of wiki, 25% of crawl, ...): keep a
    row iff its hash-uniform < the group's rate. Unlike ``sampleBy`` this
    is seed-free and cluster-size-invariant: the SAME rows survive on any
    partitioning, any engine (each row's fate is a pure function of its
    id), and rates compose monotonically — lowering a rate only removes
    rows, never swaps them. One filter, no shuffle."""
    u = hash_uniform(id_cols, salt=salt)
    rate_map = F.create_map(
        *[F.lit(x) for kv in rates.items() for x in (kv[0], float(kv[1]))]
    )
    rate = F.coalesce(rate_map[F.col(group_col)], F.lit(float(default_rate)))
    return df.filter(u < rate)


def temperature_mix_rates(
    df: DataFrame,
    group_col: str,
    alpha: float,
    budget: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-based mixture planning (the multinomial-sampling rule
    of multilingual/multi-source pretraining): target shares
    ``s_i ∝ n_i^alpha`` (alpha<1 upweights small sources), solved under
    the no-upsampling constraint rate ≤ 1 by exact water-filling — if a
    source's target exceeds its size it caps at n_i and the surplus
    redistributes over the rest. Returns one row per source:
    (group, n, rate, m) with m = min(n, λ·s_i) the planned keep count
    (Σm = budget when budget ≤ Σn). Compose with :func:`sample_by_rates`.

    The water-filling threshold has a CLOSED FORM over the per-group
    aggregate: order groups by n_i/s_i ascending; the capped set is a
    prefix, and λ_t = (B − Σ_capped n) / (Σ_uncapped s) is valid for
    exactly one boundary t (sandwich condition) — so the whole plan is
    one groupBy + windows over a k-row frame (k = #sources; the
    single-partition window is k-row by construction), replayable in
    pure window SQL with no recursion and no driver loop.

    ``weight_col`` switches the budget's UNIT: sizes become per-group
    WEIGHT sums (pass the token count — pretraining budgets are in
    tokens, not documents) and the returned rate is the share of each
    group's weight to keep; applying it with doc-level
    :func:`sample_by_rates` keeps the expected token share at the rate
    (exact when per-doc weights within a group are exchangeable)."""
    from pyspark.sql.window import Window

    size = (
        F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    )
    counts = df.groupBy(F.col(group_col).alias("group")).agg(
        size.cast("double").alias("n")
    )
    # a group whose weight sum is 0/negative (or NULL — all-null
    # weights) would otherwise produce a NaN/NULL rate that silently
    # drops all of its rows downstream (u < NaN is never true): route
    # such groups to an EXPLICIT rate 0 and keep them out of the
    # water-filling (r5 advice item)
    zero_groups = counts.filter(~(F.col("n") > 0))
    counts = counts.filter(F.col("n") > 0)
    s = F.pow(F.col("n"), F.lit(float(alpha)))
    g = counts.select("group", "n", s.alias("s"),
                      (F.col("n") / s).alias("ratio"))
    w_ord = Window.orderBy(F.col("ratio").asc(), F.col("group").asc())
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    tot = g.agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
    lam = (
        g.crossJoin(F.broadcast(tot))
        .withColumn("cn", F.coalesce(F.sum("n").over(w_cum), F.lit(0.0)))
        .withColumn("cs", F.coalesce(F.sum("s").over(w_cum), F.lit(0.0)))
        # λ with THIS group and everything after it uncapped
        .withColumn(
            "lam",
            (F.lit(float(budget)) - F.col("cn"))
            / (F.col("ts") - F.col("cs")),
        )
        # valid boundary: this group stays uncapped (λ·s ≤ n), and the
        # previous group (if any) was capped (handled by taking the
        # FIRST valid row in ratio order)
        .filter(F.col("lam") * F.col("s") <= F.col("n"))
        .orderBy(F.col("ratio").asc(), F.col("group").asc())
        .limit(1)
        .select(F.col("lam").alias("__lam__"))
        # budget ≥ Σn: every group caps, no boundary row survives the
        # filter — λ=+∞ makes min(n, λ·s) = n (all rates 1, no upsample)
        .agg(
            F.coalesce(F.min("__lam__"), F.lit(float("inf"))).alias("__lam__")
        )
    )
    planned = (
        g.crossJoin(F.broadcast(lam))
        .withColumn("m", F.least(F.col("n"), F.col("__lam__") * F.col("s")))
    )
    out = planned.select(
        "group",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("m") / F.col("n"), 9).alias("rate"),
        F.round("m", 6).alias("m"),
    )
    return out.unionByName(
        zero_groups.select(
            "group",
            F.col("n").cast("long").alias("n"),
            F.lit(0.0).alias("rate"),
            F.lit(0.0).alias("m"),
        )
    )


def weighted_sample_exact(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_cols: list[str],
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row draws its hash-uniform u and competes with
    key = ln(u)/w — the n LARGEST keys are a faithful weighted sample,
    and the whole op is one TakeOrderedAndProject (per-partition heaps),
    no shuffle of the data itself. Seed-free: the same rows win on any
    cluster size. Rows with weight ≤ 0 or NULL never win (key −∞ via
    filter). The key is floor-quantized at 1e-10 grain with an id
    tie-break so an engine's ln/division ULP can never flip the boundary
    row (same trick as bm25's idf)."""
    u = hash_uniform(id_cols, salt=salt)
    w = F.col(weight_col).cast("double")
    key = F.floor(F.log(u) / w * 1e10) / 1e10
    order = [F.col("__wsk__").desc()] + [F.col(c).asc() for c in id_cols]
    return (
        df.filter(w > 0)
        .withColumn("__wsk__", key)
        .orderBy(*order)
        .limit(n)
        .drop("__wsk__")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    n: int,
    id_cols: list[str],
    salt: str = "",
) -> DataFrame:
    """Per-group deterministic weighted sampling without replacement:
    :func:`weighted_sample_exact`'s A-ES key (ln(u)/w, quantized 1e-10 +
    id tie-break), ranked WITHIN each group — the n largest keys per
    group win. One window pass partitioned on the group key (rank
    truncates per partition after a single shuffle on group), seed-free
    and cluster-size-invariant like the global variant. Rows with
    weight ≤ 0 or NULL never win."""
    from pyspark.sql.window import Window

    u = hash_uniform(id_cols, salt=salt)
    w = F.col(weight_col).cast("double")
    key = F.floor(F.log(u) / w * 1e10) / 1e10
    order = [F.col("__wsk__").desc()] + [F.col(c).asc() for c in id_cols]
    win = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.filter(w > 0)
        .withColumn("__wsk__", key)
        .withColumn("__wsr__", F.row_number().over(win))
        .filter(F.col("__wsr__") <= n)
        .drop("__wsk__", "__wsr__")
    )


def sample_by_rates_df(
    df: DataFrame,
    group_col: str,
    rates: DataFrame,
    id_cols: list[str],
    salt: str = "",
) -> DataFrame:
    """:func:`sample_by_rates` with the rates carried as a DataFrame
    (columns ``group``, ``rate``) instead of a driver-side dict — the
    at-scale composition with :func:`temperature_mix_rates`: the plan
    never leaves the cluster (broadcast hash join on the group key, then
    the same hash-uniform filter). Groups absent from ``rates`` keep
    everything (left join, rate coalesced to 1)."""
    u = hash_uniform(id_cols, salt=salt)
    r = rates.select(
        F.col("group").alias("__smg__"), F.col("rate").alias("__smr__")
    )
    joined = df.join(
        F.broadcast(r), df[group_col] == F.col("__smg__"), "left"
    )
    return joined.filter(
        u < F.coalesce(F.col("__smr__"), F.lit(1.0))
    ).drop("__smg__", "__smr__")

"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one named query per implemented operator from
SURVEY.md §2, each runnable as ``fn(spark, sf_dir)``; ``oracle_sql()``
gives the DuckDB-checkable ANSI-SQL equivalent (same column names, same
values). Queries exercise the upgini_spark library operators — not ad-hoc
SQL — so the correctness gate actually covers the engine.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from upgini_spark.functions import keys as K
from upgini_spark.joins.asof import asof_join
from upgini_spark.operators import binary as B
from upgini_spark.operators import date as D
from upgini_spark.operators import groupby as G
from upgini_spark.operators import unary as U
from upgini_spark.operators import vector as V
from upgini_spark.operators.timeseries import (
    ewma_volatility,
    lag_feature,
    roll_features,
    sessionize,
    trend_coefficient,
)
from upgini_spark.util import local_frame, spread_scan

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _clicks(spark, sf_dir):
    """Right side for as-of joins: click events as a feature stream."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("click_value"),
        )
    )


_CLICKS_SQL = (
    "SELECT user_id AS r_user, ts AS r_ts, value AS click_value "
    "FROM events WHERE event_type = 'click'"
)


# ===========================================================================
# As-of joins (SURVEY.md §2.4 point-in-time enrichment)
# ===========================================================================

@_q(
    "asof_join_backward",
    f"""
    SELECT l.event_id, l.user_id, l.ts, r.r_ts AS matched_ts, r.click_value
    FROM events l
    ASOF LEFT JOIN ({_CLICKS_SQL}) r
      ON l.user_id = r.r_user AND l.ts >= r.r_ts
    """,
)
def asof_join_backward(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = asof_join(
        ev, _clicks(spark, sf_dir),
        left_on="ts", right_on="r_ts", by_left="user_id", by_right="r_user",
        engine="native", keep_match_ts=True,
    )
    return out.select("event_id", "user_id", "ts", F.col("matched_ts"), "click_value")


@_q(
    "asof_join_arrow",
    f"""
    SELECT l.event_id, l.user_id, l.ts, r.r_ts AS matched_ts, r.click_value
    FROM events l
    ASOF LEFT JOIN ({_CLICKS_SQL}) r
      ON l.user_id = r.r_user AND l.ts >= r.r_ts
    """,
)
def asof_join_arrow(spark, sf_dir):
    """Same semantics through the salted Arrow merge_asof kernel."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = asof_join(
        ev, _clicks(spark, sf_dir),
        left_on="ts", right_on="r_ts", by_left="user_id", by_right="r_user",
        engine="arrow", salt=2, keep_match_ts=True,
    )
    return out.select("event_id", "user_id", "ts", F.col("matched_ts"), "click_value")


@_q(
    "asof_join_tolerance",
    f"""
    WITH ranked AS (
      SELECT l.event_id, l.user_id, l.ts, r.r_ts, r.click_value,
             row_number() OVER (
               PARTITION BY l.event_id ORDER BY r.r_ts DESC
             ) AS rn
      FROM events l
      LEFT JOIN ({_CLICKS_SQL}) r
        ON l.user_id = r.r_user
       AND r.r_ts <= l.ts
       AND r.r_ts >= l.ts - INTERVAL 1 DAY
    )
    SELECT event_id, user_id, ts, r_ts AS matched_ts, click_value
    FROM ranked WHERE rn = 1
    """,
)
def asof_join_tolerance(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = asof_join(
        ev, _clicks(spark, sf_dir),
        left_on="ts", right_on="r_ts", by_left="user_id", by_right="r_user",
        engine="native", tolerance_seconds=86400, keep_match_ts=True,
    )
    return out.select("event_id", "user_id", "ts", "matched_ts", "click_value")


@_q(
    "asof_join_forward",
    """
    SELECT l.event_id, l.user_id, l.ts, r.r_ts AS matched_ts, r.click_value
    FROM events l
    ASOF LEFT JOIN (
      SELECT user_id AS r_user, ts AS r_ts, value AS click_value
      FROM events WHERE event_type = 'click'
    ) r ON l.user_id = r.r_user AND l.ts <= r.r_ts
    """,
)
def asof_join_forward(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = asof_join(
        ev, _clicks(spark, sf_dir),
        left_on="ts", right_on="r_ts", by_left="user_id", by_right="r_user",
        direction="forward", keep_match_ts=True,
    )
    return out.select("event_id", "user_id", "ts", "matched_ts", "click_value")


@_q(
    "enrich_entity_join",
    """
    WITH feat AS (
      SELECT md5(concat_ws(chr(31), CAST(user_id AS VARCHAR))) AS entity_system_record_id,
             round(avg(value), 6) AS user_avg_value,
             count(*) AS user_events
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.user_id, f.user_avg_value, f.user_events
    FROM (
      SELECT event_id, user_id,
             md5(concat_ws(chr(31), CAST(user_id AS VARCHAR))) AS entity_system_record_id
      FROM events
    ) e
    LEFT JOIN feat f USING (entity_system_record_id)
    """,
)
def enrich_entity_join(spark, sf_dir):
    """Enrichment equi-join on a deterministic entity id
    (features_enricher.py:4630-4698); md5 id for oracle portability."""
    from upgini_spark.joins.enrich import enrich
    from upgini_spark.pipeline.record_ids import row_hash

    ev = _t(spark, sf_dir, "events")
    with_id = ev.withColumn("entity_system_record_id", row_hash(["user_id"]))
    feats = (
        with_id.groupBy("entity_system_record_id")
        .agg(
            F.round(F.avg("value"), 6).alias("user_avg_value"),
            F.count(F.lit(1)).alias("user_events"),
        )
    )
    out = enrich(
        with_id.select("event_id", "user_id", "entity_system_record_id"),
        feats, broadcast_features=True,
    )
    return out.select("event_id", "user_id", "user_avg_value", "user_events")


# ===========================================================================
# Window / time-series operators (SURVEY.md §2.6)
# ===========================================================================

@_q(
    "roll_windows_7d",
    """
    SELECT event_id,
           round(avg(value) OVER w, 6) AS roll_mean,
           min(value) OVER w AS roll_min,
           max(value) OVER w AS roll_max,
           count(value) OVER w AS roll_count,
           round(coalesce(stddev_samp(value) OVER w, 0.0), 6) AS roll_std,
           round(sum(value) OVER w, 6) AS roll_sum
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_ms(ts)
      RANGE BETWEEN 604799999 PRECEDING AND CURRENT ROW
    )
    """,
)
def roll_windows_7d(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = roll_features(
        ev, "ts", ["user_id"], "value",
        [(7, "D", "mean"), (7, "D", "min"), (7, "D", "max"),
         (7, "D", "count"), (7, "D", "std"), (7, "D", "sum")],
    )
    return out.select(
        "event_id",
        F.round("value_roll_7D_mean", 6).alias("roll_mean"),
        F.col("value_roll_7D_min").alias("roll_min"),
        F.col("value_roll_7D_max").alias("roll_max"),
        F.col("value_roll_7D_count").alias("roll_count"),
        F.round(F.coalesce(F.col("value_roll_7D_std"), F.lit(0.0)), 6).alias("roll_std"),
        F.round("value_roll_7D_sum", 6).alias("roll_sum"),
    )


@_q(
    "roll_quantiles_7d",
    """
    SELECT event_id,
           round(median(value) OVER w, 6) AS roll_median,
           round(quantile_cont(value, 0.25) OVER w, 6) AS roll_q25,
           round(quantile_cont(value, 0.75) OVER w, 6) AS roll_q75,
           round(quantile_cont(value, 0.75) OVER w
                 - quantile_cont(value, 0.25) OVER w, 6) AS roll_iqr
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_ms(ts)
      RANGE BETWEEN 604799999 PRECEDING AND CURRENT ROW
    )
    """,
)
def roll_quantiles_7d(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = roll_features(
        ev, "ts", ["user_id"], "value",
        [(7, "D", "median"), (7, "D", "q25"), (7, "D", "q75"), (7, "D", "iqr")],
    )
    return out.select(
        "event_id",
        F.round("value_roll_7D_median", 6).alias("roll_median"),
        F.round("value_roll_7D_q25", 6).alias("roll_q25"),
        F.round("value_roll_7D_q75", 6).alias("roll_q75"),
        F.round("value_roll_7D_iqr", 6).alias("roll_iqr"),
    )


@_q(
    "time_lag_1d",
    """
    SELECT event_id,
           CASE WHEN min(epoch_ms(ts)) OVER w <= epoch_ms(ts) - 86400000
                THEN arg_min(value, epoch_ms(ts)) OVER w
           END AS lag_1d
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_ms(ts)
      RANGE BETWEEN 172799999 PRECEDING AND CURRENT ROW
    )
    """,
)
def time_lag_1d(spark, sf_dir):
    """Reference Lag semantics (lag.py:64-68): value as of t−1D within a
    2-day lookback, NaN when nothing is old enough."""
    ev = _t(spark, sf_dir, "events")
    out = lag_feature(ev, "ts", ["user_id"], "value", 1, "D", out_col="lag_1d")
    return out.select("event_id", "lag_1d")


@_q(
    "row_lag_delta",
    """
    SELECT event_id,
           lag(value) OVER w AS prev_value,
           round(value - lag(value) OVER w, 6) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def row_lag_delta(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id",
        prev.alias("prev_value"),
        F.round(F.col("value") - prev, 6).alias("delta"),
    )


@_q(
    "sessionize_30m",
    """
    SELECT event_id, user_id,
           CAST(sum(CASE WHEN prev_ts IS NULL
                     OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM (
      SELECT event_id, user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    """,
)
def sessionize_30m(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = sessionize(ev, "ts", ["user_id"], gap_seconds=1800, tie_cols=["event_id"])
    return out.select("event_id", "user_id", "session_id")


@_q(
    "session_stats",
    """
    WITH s AS (
      SELECT user_id, value, ts,
             CAST(sum(CASE WHEN prev_ts IS NULL
                       OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM (
        SELECT event_id, user_id, value, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
      )
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM s GROUP BY user_id, session_id
    """,
)
def session_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "ts", ["user_id"], gap_seconds=1800, tie_cols=["event_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("duration_us"),
    )


@_q(
    "trend_per_user",
    """
    WITH g AS (
      SELECT user_id, value,
             CAST(floor((epoch_ms(ts) - min(epoch_ms(ts)) OVER (PARTITION BY user_id))
                  / 86400000.0) AS DOUBLE) AS i
      FROM events
    )
    SELECT user_id,
           round(CASE WHEN (avg(i*i) - avg(i)*avg(i)) = 0 THEN 0.0
                 ELSE (avg(i*value) - avg(i)*avg(value))
                      / (avg(i*i) - avg(i)*avg(i)) END, 6) AS trend_coef
    FROM g GROUP BY user_id
    """,
)
def trend_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = trend_coefficient(ev, "ts", ["user_id"], "value", out_col="tc")
    return out.groupBy("user_id").agg(F.round(F.first("tc"), 6).alias("trend_coef"))


@_q(
    "ewma_volatility_span10",
    """
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS d, round(avg(value), 6) AS v
      FROM events GROUP BY 1, 2
    ), ret AS (
      SELECT a.user_id, a.d,
             coalesce(a.v / nullif(b.v, 0) - 1, 0.0) AS r
      FROM daily a
      LEFT JOIN daily b
        ON a.user_id = b.user_id AND b.d = a.d - INTERVAL 1 DAY
    ), pre AS (
      SELECT user_id, d,
             list(r) OVER (PARTITION BY user_id ORDER BY d
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS arr
      FROM ret
    ), calc AS (
      SELECT user_id, d, len(arr) AS m, arr,
             list_transform(range(1, len(arr) + 1),
                            j -> pow(1.0 - 2.0 / 11.0, len(arr) - j)) AS w
      FROM pre
    ), agg AS (
      SELECT user_id, d, m, arr, w,
             list_sum(w) AS sw,
             list_sum(list_transform(range(1, m + 1), j -> w[j] * w[j])) AS sw2,
             list_sum(list_transform(range(1, m + 1), j -> w[j] * arr[j])) AS swx
      FROM calc
    )
    SELECT user_id, d,
           round(CASE WHEN m >= 2 THEN
             sqrt(list_sum(list_transform(range(1, m + 1),
                    j -> w[j] * pow(arr[j] - swx / sw, 2)))
                  / (sw - sw2 / sw))
           END, 6) + 0.0 AS ewma_vol
    FROM agg
    """,
)
def ewma_volatility_span10(spark, sf_dir):
    """EWM std (adjust=True, unbiased) of exact-1d returns per user over
    the daily series (volatility.py:62-72). The Arrow kernel IS pandas
    ewm(span).std(); the oracle recomputes the weighted unbiased variance
    var = Σw(x−μ_w)² / (Σw − Σw²/Σw) with w_j = (1−α)^(i−j) in SQL."""
    daily = _daily_series(spark, sf_dir)
    out = ewma_volatility(daily, "d", ["user_id"], "v", span=10, out_col="ewma_vol")
    return out.select("user_id", "d", F.round("ewma_vol", 6).alias("ewma_vol"))


# ===========================================================================
# GroupByThen* (SURVEY.md §2.5)
# ===========================================================================

@_q(
    "groupby_then_ops",
    """
    SELECT o_orderkey,
           round(avg(o_totalprice) OVER (PARTITION BY o_orderpriority), 6) AS gb_mean,
           min(o_totalprice) OVER (PARTITION BY o_orderpriority) AS gb_min,
           max(o_totalprice) OVER (PARTITION BY o_orderpriority) AS gb_max,
           round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority), 4) AS gb_sum,
           round(stddev_samp(o_totalprice) OVER (PARTITION BY o_orderpriority), 6) AS gb_std,
           count(DISTINCT o_orderstatus) OVER (PARTITION BY o_orderpriority) AS gb_nunique,
           round(CAST(count(*) OVER (PARTITION BY o_orderpriority, o_orderstatus) AS DOUBLE)
                 / count(*) OVER (PARTITION BY o_orderpriority), 6) AS gb_freq,
           round((CAST(rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS DOUBLE)
                  + (count(*) OVER (PARTITION BY o_orderpriority, o_totalprice) - 1) / 2.0)
                 / count(*) OVER (PARTITION BY o_orderpriority), 6) AS gb_rank
    FROM orders
    """,
)
def groupby_then_ops(spark, sf_dir):
    """Scalar aggregates through the single-exchange batched form (one
    tiny groupBy + broadcast join-back — the big table is not shuffled
    for them); rank/freq keep the window (they are per-row / per-value
    by nature and share one exchange on the key)."""
    # materialize the spread scan once: the batched-agg branch and the
    # join-back both consume it, and each would re-pay the scan + spread
    # shuffle (ReuseExchange does not fire across the differing shapes;
    # measured 2.28 -> 1.78 s at 1.5M rows, outputs identical)
    o = spread_scan(_t(spark, sf_dir, "orders")).localCheckpoint(eager=True)
    key = F.col("o_orderpriority")
    val = F.col("o_totalprice")
    agged = G.group_by_then_features(
        o, ["o_orderpriority"],
        [("mean", "o_totalprice", "__mean__"), ("min", "o_totalprice", "__min__"),
         ("max", "o_totalprice", "__max__"), ("sum", "o_totalprice", "__sum__"),
         ("std", "o_totalprice", "__std__"),
         ("nunique", "o_orderstatus", "__nunique__")],
    )
    return agged.select(
        "o_orderkey",
        F.round("__mean__", 6).alias("gb_mean"),
        F.col("__min__").alias("gb_min"),
        F.col("__max__").alias("gb_max"),
        F.round("__sum__", 4).alias("gb_sum"),
        F.round("__std__", 6).alias("gb_std"),
        F.col("__nunique__").cast("long").alias("gb_nunique"),
        F.round(G.group_by_then_freq(key, F.col("o_orderstatus")), 6).alias("gb_freq"),
        F.round(G.group_by_then_rank(key, val), 6).alias("gb_rank"),
    )


# ===========================================================================
# Contract functions
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: as-of enrichment of events against the click stream +
    windowed temporal features + sessions, at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    enriched = asof_join(
        ev, _clicks(spark, sf_dir),
        left_on="ts", right_on="r_ts", by_left="user_id", by_right="r_user",
        keep_match_ts=True,
    )
    feat = roll_features(
        enriched, "ts", ["user_id"], "value",
        [(7, "D", "mean"), (7, "D", "std"), (1, "D", "count")],
    )
    feat = sessionize(feat, "ts", ["user_id"], gap_seconds=1800, tie_cols=["event_id"])
    return feat


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# ===========================================================================
# Scalar unary / binary / vector operators (SURVEY.md §2.7)
# ===========================================================================

@_q(
    "unary_scalars",
    """
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             (l_extendedprice - 30000.0) / 1000.0 AS x
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           round(abs(x), 6) AS u_abs,
           round(CASE WHEN x = 0 THEN NULL
                 ELSE CASE WHEN ln(abs(x)) >= 0
                      THEN floor(ln(abs(x)) * 1e10) / 1e10
                      ELSE -floor(-ln(abs(x)) * 1e10) / 1e10 END
                 END, 6) AS u_log,
           round(floor(sqrt(abs(x)) * 1e10) / 1e10, 6) AS u_sqrt,
           round(x * x, 6) AS u_square,
           round(floor(1.0 / (1.0 + exp(-x)) * 1e10) / 1e10, 6) AS u_sigmoid,
           CAST(floor(x) AS DOUBLE) AS u_floor,
           round(x - floor(x), 6) AS u_residual
    FROM t
    """,
)
def unary_scalars(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    x = (F.col("l_extendedprice") - 30000.0) / 1000.0
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(U.abs_(x), 6).alias("u_abs"),
        F.round(U.log_(x), 6).alias("u_log"),
        F.round(U.sqrt_(x), 6).alias("u_sqrt"),
        F.round(U.square_(x), 6).alias("u_square"),
        F.round(U.sigmoid_(x), 6).alias("u_sigmoid"),
        U.floor_(x).alias("u_floor"),
        F.round(U.residual_(x), 6).alias("u_residual"),
    )


@_q(
    "binary_scalars",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_quantity + l_discount, 6) AS b_add,
           round(l_extendedprice - l_tax, 6) AS b_sub,
           round(l_quantity * l_discount, 6) AS b_mul,
           round(CASE WHEN l_discount = 0 THEN NULL
                 ELSE l_quantity / l_discount END, 6) AS b_div,
           least(l_extendedprice, 1000.0 * l_quantity) AS b_min,
           greatest(l_extendedprice, 1000.0 * l_quantity) AS b_max,
           CASE WHEN l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
                THEN concat_ws('_', l_returnflag, l_linestatus) END AS b_combine
    FROM lineitem
    """,
)
def binary_scalars(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    q, d, e, t = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice"), F.col("l_tax")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(B.add(q, d), 6).alias("b_add"),
        F.round(B.subtract(e, t), 6).alias("b_sub"),
        F.round(B.multiply(q, d), 6).alias("b_mul"),
        F.round(B.divide(q, d), 6).alias("b_div"),
        B.min_(e, F.lit(1000.0) * q).alias("b_min"),
        B.max_(e, F.lit(1000.0) * q).alias("b_max"),
        B.combine(F.col("l_returnflag"), F.col("l_linestatus")).alias("b_combine"),
    )


@_q(
    "string_similarity",
    """
    SELECT p_partkey,
           round(CASE WHEN greatest(length(p_brand), length(p_type)) > 0
                 THEN 1.0 - CAST(levenshtein(p_brand, p_type) AS DOUBLE)
                      / greatest(length(p_brand), length(p_type))
                 ELSE 1.0 END, 6) AS sim_lv
    FROM part
    """,
)
def string_similarity(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(B.sim_levenshtein(F.col("p_brand"), F.col("p_type")), 6).alias("sim_lv"),
    )


@_q(
    "string_similarity_jw",
    """
    SELECT p_partkey,
           round(jaro_winkler_similarity(p_brand, p_type), 6) AS sim_jw1,
           round(jaro_winkler_similarity(reverse(p_brand), reverse(p_type)), 6)
             AS sim_jw2
    FROM part
    """,
)
def string_similarity_jw(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(B.sim_jaro_winkler(F.col("p_brand"), F.col("p_type")), 6).alias("sim_jw1"),
        F.round(B.sim_jaro_winkler_reversed(F.col("p_brand"), F.col("p_type")), 6).alias("sim_jw2"),
    )


@_q(
    "freq_operators",
    """
    SELECT o_orderkey,
           round(CAST(count(*) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
                 / count(*) OVER (), 6) AS freq_priority,
           round(CAST(count(*) OVER (PARTITION BY
                     concat_ws('_', o_orderstatus, o_orderpriority)) AS DOUBLE)
                 / count(*) OVER (), 6) AS combine_freq
    FROM orders
    """,
)
def freq_operators(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    total = o.count()  # fit-time param; keeps the plan free of global windows
    return o.select(
        "o_orderkey",
        F.round(U.freq_(F.col("o_orderpriority"), total), 6).alias("freq_priority"),
        F.round(
            B.combine_then_freq(F.col("o_orderstatus"), F.col("o_orderpriority"), total), 6
        ).alias("combine_freq"),
    )


@_q(
    "vector_rowwise",
    """
    SELECT l_orderkey, l_linenumber,
           round((coalesce(l_quantity, 0) + coalesce(l_discount, 0)
                  + coalesce(l_tax, 0)) / 3.0, 6) AS v_mean,
           round(coalesce(l_quantity, 0) + coalesce(l_discount, 0)
                 + coalesce(l_tax, 0), 6) AS v_sum
    FROM lineitem
    """,
)
def vector_rowwise(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cols = [F.col("l_quantity"), F.col("l_discount"), F.col("l_tax")]
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(V.mean(cols), 6).alias("v_mean"),
        F.round(V.sum_(cols), 6).alias("v_sum"),
    )


@_q(
    "norm_and_bin",
    """
    WITH n AS (SELECT sqrt(sum(o_totalprice * o_totalprice)) AS l2 FROM orders)
    SELECT o_orderkey,
           round(o_totalprice / (SELECT l2 FROM n), 9) AS normed,
           CAST(CASE WHEN o_totalprice IS NULL OR o_totalprice < 50000 THEN -1
                ELSE (CASE WHEN o_totalprice >= 50000 THEN 1 ELSE 0 END)
                   + (CASE WHEN o_totalprice >= 150000 THEN 1 ELSE 0 END)
                   + (CASE WHEN o_totalprice >= 300000 THEN 1 ELSE 0 END)
                END AS INT) AS binned
    FROM orders
    """,
)
def norm_and_bin(spark, sf_dir):
    """Norm: fit-time L2 aggregate replayed as a param (unary.py:119-148);
    Bin: learned-bounds bucketing (unary.py:158-190)."""
    o = _t(spark, sf_dir, "orders")
    l2 = o.agg(F.sqrt(F.sum(F.col("o_totalprice") ** 2))).collect()[0][0]
    return o.select(
        "o_orderkey",
        F.round(U.norm_(F.col("o_totalprice"), l2), 9).alias("normed"),
        U.bin_(F.col("o_totalprice"), [50000.0, 150000.0, 300000.0]).cast("int").alias("binned"),
    )


# ===========================================================================
# Date operators (SURVEY.md §2.7 date family + §2.3 cyclical)
# ===========================================================================

@_q(
    "date_diff_ops",
    """
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS DOUBLE) AS dd_days,
           CAST(trunc(datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) / 365.0) AS BIGINT) AS dd_years,
           CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
                     CAST(l.l_shipdate AS DATE)) >= 0
                THEN CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) AS DOUBLE) END AS dd_pos
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def date_diff_ops(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    a, b = F.col("l_shipdate"), F.col("o_orderdate")
    return j.select(
        "l_orderkey", "l_linenumber",
        D.date_diff(a, b, "D").alias("dd_days"),
        # BIGINT on both sides: DuckDB's trunc() yields -0.0 for negative
        # sub-year gaps, Spark yields +0.0 — integral cast makes the driver
        # hash engine-portable (CORRECTNESS_r01 hash-fail root cause).
        D.date_diff(a, b, "Y").cast("long").alias("dd_years"),
        D.date_diff(a, b, "D", replace_negative=True).alias("dd_pos"),
    )


@_q(
    "date_anniversary",
    """
    WITH t AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS a,
             CAST(make_date(1995, 1 + o_orderkey % 12,
                            1 + o_orderkey % 28) AS DATE) AS b
      FROM orders
    )
    SELECT o_orderkey,
           CAST(datediff('day', a,
             CASE WHEN make_date(year(a), month(b), day(b)) < a
                  THEN CAST(make_date(year(a), month(b), day(b))
                       + INTERVAL 12 MONTH AS DATE)
                  ELSE make_date(year(a), month(b), day(b)) END) AS DOUBLE)
             AS days_to_anniv
    FROM t
    """,
)
def date_anniversary(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    b = F.make_date(
        F.lit(1995), 1 + F.col("o_orderkey") % 12, 1 + F.col("o_orderkey") % 28
    )
    return o.select(
        "o_orderkey",
        D.date_diff_type2(F.col("o_orderdate"), b).alias("days_to_anniv"),
    )


@_q(
    "cyclical_date_features",
    """
    WITH t AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders
    ), q AS (
      SELECT o_orderkey, d,
             date_trunc('quarter', d) AS qs,
             CAST(date_trunc('quarter', d) + INTERVAL 3 MONTH AS DATE) AS qe
      FROM t
    )
    SELECT o_orderkey,
           round(sin(2 * pi() * (datediff('day', CAST(qs AS DATE), d) + 1)
                     / datediff('day', CAST(qs AS DATE), qe)), 6) + 0.0 AS sin_quarter,
           round(cos(2 * pi() * (datediff('day', CAST(qs AS DATE), d) + 1)
                     / datediff('day', CAST(qs AS DATE), qe)), 6) + 0.0 AS cos_quarter
    FROM q
    """,
)
def cyclical_date_features(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    feats = D.cyclical_features(F.col("o_orderdate"))
    # `+ 0.0` canonicalizes IEEE -0.0 → +0.0 (DuckDB round() of tiny
    # negatives emits -0.0; the driver hash distinguishes the sign bit).
    return o.select(
        "o_orderkey",
        (F.round(feats["datetime_day_in_quarter_sin"], 6) + F.lit(0.0)).alias("sin_quarter"),
        (F.round(feats["datetime_day_in_quarter_cos"], 6) + F.lit(0.0)).alias("cos_quarter"),
    )


@_q(
    "date_list_aggs",
    """
    SELECT o.o_orderkey,
           CAST(min(datediff('day', CAST(l.l_shipdate AS DATE),
                    CAST(o.o_orderdate AS DATE))) AS DOUBLE) AS dl_min,
           CAST(max(datediff('day', CAST(l.l_shipdate AS DATE),
                    CAST(o.o_orderdate AS DATE))) AS DOUBLE) AS dl_max,
           round(avg(CAST(datediff('day', CAST(l.l_shipdate AS DATE),
                    CAST(o.o_orderdate AS DATE)) AS DOUBLE)), 6) AS dl_mean,
           CAST(count(*) AS DOUBLE) AS dl_count,
           CAST(count(DISTINCT datediff('day', CAST(l.l_shipdate AS DATE),
                    CAST(o.o_orderdate AS DATE))) AS DOUBLE) AS dl_nunique
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    """,
)
def date_list_aggs(spark, sf_dir):
    """DateListDiff over array<date> cells (date.py:112-184): build the
    date-array per order with collect_list, then higher-order aggs."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    arrs = li.groupBy("l_orderkey").agg(
        F.collect_list(F.to_date("l_shipdate")).alias("ship_dates")
    )
    j = o.join(arrs, o.o_orderkey == arrs.l_orderkey)
    a, dl = F.col("o_orderdate"), F.col("ship_dates")
    return j.select(
        "o_orderkey",
        D.date_list_diff(a, dl, "min").alias("dl_min"),
        D.date_list_diff(a, dl, "max").alias("dl_max"),
        F.round(D.date_list_diff(a, dl, "mean"), 6).alias("dl_mean"),
        D.date_list_diff(a, dl, "count").alias("dl_count"),
        D.date_list_diff(a, dl, "nunique").alias("dl_nunique"),
    )


@_q(
    "date_list_bounded",
    """
    SELECT o.o_orderkey,
           CAST(coalesce(count(*) FILTER (
                 WHERE datediff('day', CAST(l.l_shipdate AS DATE),
                       CAST(o.o_orderdate AS DATE)) >= -60
                   AND datediff('day', CAST(l.l_shipdate AS DATE),
                       CAST(o.o_orderdate AS DATE)) < 0), 0) AS DOUBLE)
             AS dl_count_bounded,
           round(CAST(coalesce(count(*) FILTER (
                 WHERE datediff('day', CAST(l.l_shipdate AS DATE),
                       CAST(o.o_orderdate AS DATE)) >= -60
                   AND datediff('day', CAST(l.l_shipdate AS DATE),
                       CAST(o.o_orderdate AS DATE)) < 0), 0) AS DOUBLE)
                 / count(*), 6) AS dl_count_norm
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    """,
)
def date_list_bounded(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    arrs = li.groupBy("l_orderkey").agg(
        F.collect_list(F.to_date("l_shipdate")).alias("ship_dates")
    )
    j = o.join(arrs, o.o_orderkey == arrs.l_orderkey)
    a, dl = F.col("o_orderdate"), F.col("ship_dates")
    return j.select(
        "o_orderkey",
        D.date_list_diff_bounded(a, dl, "count", lo=-60.0, hi=0.0).alias("dl_count_bounded"),
        F.round(
            D.date_list_diff_bounded(a, dl, "count", lo=-60.0, hi=0.0, normalize=True), 6
        ).alias("dl_count_norm"),
    )


# ===========================================================================
# Search-key converters (SURVEY.md §2.3)
# ===========================================================================

@_q(
    "key_converters",
    """
    WITH t AS (
      SELECT c_custkey,
             replace(lower(c_name), '#', '.') || '@example.com' AS email,
             printf('+1 (%03d) 555-%04d', c_custkey % 1000, c_custkey % 10000) AS phone,
             printf('%05d', c_custkey % 100000) AS postal,
             ['United Kingdom', 'US', 'uk', 'Germany', 'FRANCE'][1 + c_custkey % 5]
               AS country
      FROM customer
    )
    SELECT c_custkey,
           sha256(email) AS hem,
           substr(email, 1, 1) || string_split(email, '@')[2] AS one_domain,
           string_split(email, '@')[2] AS domain,
           CAST(CASE WHEN length(regexp_replace(phone, '[^0-9]', '', 'g'))
                          BETWEEN 8 AND 15
                THEN regexp_replace(phone, '[^0-9]', '', 'g') END AS BIGINT)
             AS phone_int,
           CASE WHEN length(regexp_replace(regexp_replace(upper(
                     regexp_replace(postal, '\\.0+$', '')),
                     '[^0-9A-Z]', '', 'g'), '^0+', '')) > 0
                THEN regexp_replace(regexp_replace(upper(
                     regexp_replace(postal, '\\.0+$', '')),
                     '[^0-9A-Z]', '', 'g'), '^0+', '') END AS postal_norm,
           CASE regexp_replace(upper(country), '[^A-Z]', '', 'g')
             WHEN 'UNITEDKINGDOM' THEN 'GB' WHEN 'UK' THEN 'GB'
             WHEN 'US' THEN 'US' WHEN 'GERMANY' THEN 'DE' WHEN 'FRANCE' THEN 'FR'
           END AS country_iso
    FROM t
    """,
)
def key_converters(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    email = F.concat(F.regexp_replace(F.lower("c_name"), "#", "."), F.lit("@example.com"))
    phone = F.format_string(
        "+1 (%03d) 555-%04d", F.col("c_custkey") % 1000, F.col("c_custkey") % 10000
    )
    postal = F.format_string("%05d", F.col("c_custkey") % 100000)
    country = F.element_at(
        F.array(*[F.lit(x) for x in ["United Kingdom", "US", "uk", "Germany", "FRANCE"]]),
        (F.col("c_custkey") % 5 + 1).cast("int"),
    )
    return c.select(
        "c_custkey",
        K.email_to_hem(email).alias("hem"),
        K.email_one_domain(email).alias("one_domain"),
        K.email_domain(email).alias("domain"),
        K.phone_to_int(phone).alias("phone_int"),
        K.postal_normalize(postal).alias("postal_norm"),
        K.country_to_iso(country).alias("country_iso"),
    )


@_q(
    "date_multiformat_parse",
    """
    WITH t AS (
      SELECT c_custkey,
             CASE c_custkey % 4
               WHEN 0 THEN '2023-07-15'
               WHEN 1 THEN '15.07.2023'
               WHEN 2 THEN '2023/07/15'
               ELSE '---'
             END AS raw
      FROM customer
    )
    SELECT c_custkey,
           coalesce(try_strptime(raw, '%Y-%m-%d'),
                    try_strptime(raw, '%d.%m.%Y'),
                    try_strptime(raw, '%Y/%m/%d')) AS parsed,
           CAST(epoch_ms(coalesce(try_strptime(raw, '%Y-%m-%d'),
                    try_strptime(raw, '%d.%m.%Y'),
                    try_strptime(raw, '%Y/%m/%d'))) AS BIGINT) AS epoch_ms_floor
    FROM t
    """,
)
def date_multiformat_parse(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    raw = (
        F.when(F.col("c_custkey") % 4 == 0, F.lit("2023-07-15"))
        .when(F.col("c_custkey") % 4 == 1, F.lit("15.07.2023"))
        .when(F.col("c_custkey") % 4 == 2, F.lit("2023/07/15"))
        .otherwise(F.lit("---"))
    )
    parsed = K.parse_datetime_multi(raw)
    return c.select(
        "c_custkey",
        parsed.alias("parsed"),
        K.to_epoch_ms(parsed, floor_day=True).alias("epoch_ms_floor"),
    )


# ===========================================================================
# Dedup operators (SURVEY.md §2.9 + scale near-dup family)
# ===========================================================================

from upgini_spark.functions import dedup as DD  # noqa: E402
from upgini_spark.functions import sampling as SMP  # noqa: E402
from upgini_spark.functions import similarity as SIM  # noqa: E402
from upgini_spark.functions import stats as ST  # noqa: E402
from upgini_spark.functions import text as TX  # noqa: E402


@_q(
    "dedup_full_rows",
    """
    SELECT event_id FROM (
      SELECT event_id, row_number() OVER (
        PARTITION BY user_id, event_type, value ORDER BY event_id
      ) AS rn FROM events
    ) WHERE rn = 1
    """,
)
def dedup_full_rows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = DD.drop_full_duplicates(
        ev, subset=["user_id", "event_type", "value"], order_col="event_id"
    )
    return out.select("event_id")


@_q(
    "dedup_key_conflicts",
    """
    SELECT event_id FROM (
      SELECT event_id,
             count(DISTINCT CAST(value > 25 AS INT))
               OVER (PARTITION BY user_id, event_type, CAST(floor(value / 5) AS INT))
               AS nt
      FROM events
    ) WHERE nt <= 1
    """,
)
def dedup_key_conflicts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumns(
        {
            "vbucket": F.floor(F.col("value") / 5).cast("int"),
            "tgt": (F.col("value") > 25).cast("int"),
        }
    )
    out = DD.drop_key_conflicts(ev, ["user_id", "event_type", "vbucket"], "tgt")
    return out.select("event_id")


@_q(
    "fintech_dedup_1h",
    """
    WITH flagged AS (
      SELECT event_id, user_id, event_type,
             max(CASE WHEN prev_t IS NOT NULL AND prev_t <> tgt
                       AND epoch_us(ts) - epoch_us(prev_ts) < 3600000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, event_type) AS flag
      FROM (
        SELECT event_id, user_id, event_type, ts,
               CAST(value > 25 AS INT) AS tgt,
               lag(CAST(value > 25 AS INT))
                 OVER (PARTITION BY user_id, event_type ORDER BY ts) AS prev_t,
               lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts) AS prev_ts
        FROM events
      )
    )
    SELECT event_id FROM flagged WHERE flag = 0
    """,
)
def fintech_dedup_1h(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn("tgt", (F.col("value") > 25).cast("int"))
    out = DD.fintech_dedup(ev, ["user_id", "event_type"], "tgt", "ts", window_seconds=3600)
    return out.select("event_id")


@_q(
    "minhash_signatures",
    """
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> ('0x' || substr(md5(w), 1, 12))::BIGINT) AS wh
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(wh) - 2 >= 1
                  THEN list_transform(range(1, len(wh) - 1),
                       i -> (wh[i] * 31 + wh[i+1]) * 31 + wh[i+2])
                  ELSE [list_reduce(wh, (a, x) -> a * 31 + x)] END AS hs
      FROM t
    )
    SELECT doc_id,
           list_min(list_transform(hs, h -> xor(h, 736515776646961681))) AS mh0,
           list_min(list_transform(hs, h -> xor(h, 593602141490970062))) AS mh1,
           list_min(list_transform(hs, h -> xor(h, 744211396722294368))) AS mh2,
           list_min(list_transform(hs, h -> xor(h, 131124390282673233))) AS mh3
    FROM sh
    """,
)
def minhash_signatures(spark, sf_dir):
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    out = DD.minhash_signature(docs.select("doc_id", "text"), "text", k=4, shingle_n=3)
    return out.select("doc_id", "mh0", "mh1", "mh2", "mh3")


# Shared CTE body: documents -> minhash signatures -> LSH bands (k=8,
# 4 bands of 2) -> candidate pairs. Used by minhash_lsh_pairs and the
# connected-components dedup query.
_MINHASH_PAIRS_CTES = """
    t AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> ('0x' || substr(md5(w), 1, 12))::BIGINT) AS wh
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(wh) - 2 >= 1
                  THEN list_transform(range(1, len(wh) - 1),
                       i -> (wh[i] * 31 + wh[i+1]) * 31 + wh[i+2])
                  ELSE [list_reduce(wh, (a, x) -> a * 31 + x)] END AS hs
      FROM t
    ), sig AS (
      SELECT doc_id,
             list_transform(range(1, 9),
               j -> list_min(list_transform(hs,
                    h -> xor(h, [736515776646961681, 593602141490970062, 744211396722294368, 131124390282673233, 22963293732483802, 1127661227628911210, 714620866899011659, 1023044330036144015][CAST(j AS INT)])))) AS mh
      FROM sh
    ), banded AS (
      SELECT doc_id, b.range AS band_no,
             md5(CAST(mh[CAST(b.range * 2 + 1 AS INT)] AS VARCHAR) || '|'
                 || CAST(mh[CAST(b.range * 2 + 2 AS INT)] AS VARCHAR)) AS band_key
      FROM sig, range(0, 4) b
    ), cand_pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_no = b.band_no AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
    )
"""


@_q(
    "minhash_lsh_pairs",
    f"""
    WITH {_MINHASH_PAIRS_CTES}
    SELECT id_a, id_b FROM cand_pairs
    """,
)
def minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH band candidate pairs (k=8 signatures, 4 bands of 2) —
    md5-permutation minhash is engine-portable, so the full
    shingle→signature→band→self-join pipeline replays in SQL."""
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    return DD.minhash_band_pairs(docs, "doc_id", "text", k=8, bands=4)


@_q(
    "ngram_jaccard_pairs",
    """
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS words
      FROM documents WHERE doc_id < 40
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(words) - 2 >= 1
                  THEN list_distinct(list_transform(range(1, len(words) - 1),
                       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                  ELSE [text] END AS s
      FROM t
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
                 / (len(a.s) + len(b.s)
                    - len(list_filter(a.s, x -> list_contains(b.s, x)))), 6)
             AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_filter(a.s, x -> list_contains(b.s, x))) > 0
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    jac = DD.ngram_jaccard(F.col("ta"), F.col("tb"), n=3)
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") > 0)
        .select("id_a", "id_b", "jaccard")
    )


@_q(
    "simhash_32",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), h AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::UBIGINT AS th
      FROM w
    ), bits AS (
      SELECT doc_id, b.range AS b,
             sum(CASE WHEN (th >> CAST(b.range AS INT)) & 1 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM h, range(0, 32) b
      GROUP BY doc_id, b.range
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def simhash_32(spark, sf_dir):
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    return DD.simhash_table(
        docs, "text", out_col="simhash", bits=32, keep=["doc_id"]
    )


@_q(
    "embedding_near_dup",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planted AS (
      SELECT vec_id + 100000 AS vec_id,
             list_transform(v, x -> x * 1.0009765625) AS v
      FROM base WHERE vec_id < 50
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.99
    """,
)
def embedding_near_dup(spark, sf_dir):
    """Near-dup pairs via banded hyperplane LSH (similarity.py) — the
    equi-join scale plan, NOT the O(N²) all-pairs BroadcastNestedLoopJoin.
    The fixture plants scaled copies (x * (1 + 2^-10)) of the first 50
    vectors: pure positive scaling preserves every hyperplane sign bit, so
    LSH recall of the planted pairs is exactly 1 and the DuckDB all-pairs
    oracle matches bit-for-bit; max natural pairwise cosine in the
    testdata is ~0.60, far under the 0.99 threshold."""
    emb = spread_scan(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0009765625)).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    # n_planes=None auto-sizes the plane family from the corpus count
    # (~log2(N/64)): buckets stay ~64 rows as the SF grows instead of
    # the fixed-8 family's N/256 quadratic bucket blowup. Output is
    # unchanged at any size — pure positive scaling preserves every
    # sign bit, so the planted pairs collide under EVERY plane family.
    # The corpus count for the auto-sizing comes from the RAW scan
    # (parquet metadata + one pruned-column filter count) — counting the
    # spread+transform union would re-execute the whole heavy chain for
    # a number that is knowable without it (same value by construction).
    raw = _t(spark, sf_dir, "embeddings")
    n_corpus = raw.count() + raw.filter(F.col("vec_id") < 50).count()
    return SIM.embedding_near_dup_lsh(
        corpus, "vec_id", "embedding", threshold=0.99,
        n_planes=SIM.auto_n_planes(n_corpus, 64), n_bands=2,
    )


# ===========================================================================
# Similarity search (brute force + LSH)
# ===========================================================================

@_q(
    "knn_cosine_top3",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos_raw
      FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
    ), ranked AS (
      SELECT q_id, n_id, round(cos_raw, 6) AS cos,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos_raw DESC, n_id ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3
    """,
)
def knn_cosine_top3(spark, sf_dir):
    emb = spread_scan(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = SIM.cosine_topk_bruteforce(q, emb, "vec_id", "vec_id", "embedding", "embedding", k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_q(
    "knn_cosine_lsh",
    """
    WITH planes AS (
      SELECT p.range AS p, d.range AS d,
             CASE WHEN substr(md5(CAST(p.range AS VARCHAR) || '_'
                              || CAST(d.range AS VARCHAR)), 1, 1) >= '8'
                  THEN 1.0 ELSE -1.0 END AS s
      FROM range(0, 6) p, range(0, 64) d
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), dots AS (
      SELECT e.vec_id, pl.p, sum(e.v[CAST(pl.d AS INT) + 1] * pl.s) AS dot
      FROM e, planes pl GROUP BY e.vec_id, pl.p
    ), buckets AS (
      SELECT vec_id,
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
                        ORDER BY p) AS bucket
      FROM dots GROUP BY vec_id
    ), scored AS (
      SELECT qb.vec_id AS q_id, cb.vec_id AS n_id,
             list_cosine_similarity(qe.v, ce.v) AS cos_raw
      FROM buckets qb
      JOIN buckets cb ON qb.bucket = cb.bucket AND qb.vec_id <> cb.vec_id
      JOIN e qe ON qe.vec_id = qb.vec_id
      JOIN e ce ON ce.vec_id = cb.vec_id
      WHERE qb.vec_id < 5
    ), ranked AS (
      SELECT q_id, n_id, round(cos_raw, 6) AS cos,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos_raw DESC, n_id ASC) AS BIGINT)
               AS rank
      FROM scored
    )
    SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3
    """,
)
def knn_cosine_lsh(spark, sf_dir):
    """Approximate kNN through hyperplane-LSH buckets — the oracle
    replays the identical md5-derived planes, sign buckets, and
    within-bucket exact ranking, so the (deterministic) approximation is
    hash-checkable, not just rows-only."""
    emb = spread_scan(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = SIM.cosine_topk_lsh(
        q, emb, "vec_id", "vec_id", "embedding", "embedding", k=3, n_planes=6, dims=64
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ===========================================================================
# Text analysis
# ===========================================================================

@_q(
    "text_stats",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> len(t) > 0)) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_tokens_bpe,
           round(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                 t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                     'that','for','on','with','as','at','by','this','be','are'],
                                    lower(t)))) AS DOUBLE)
                 / len(list_filter(string_split_regex(trim(text), '\\s+'),
                       t -> len(t) > 0)), 6) AS stopword_ratio,
           round(CAST(list_sum(list_transform(
                     list_filter(string_split_regex(trim(text), '\\s+'), t -> len(t) > 0),
                     t -> len(t))) AS DOUBLE)
                 / len(list_filter(string_split_regex(trim(text), '\\s+'),
                       t -> len(t) > 0)), 6) AS mean_word_len
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count_ws(t).alias("n_tokens"),
        TX.token_count_bpe_ish(t).alias("n_tokens_bpe"),
        F.round(TX.stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(TX.mean_word_length(t), 6).alias("mean_word_len"),
    )


@_q(
    "html_strip_extract",
    """
    WITH html AS (
      SELECT doc_id,
        '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
        || '</title><style>p{margin:0}</style>'
        || '<script type="text/javascript">var x = "<b>1</b>";</script>'
        || '</head><body><!-- crawl id: ' || CAST(doc_id AS VARCHAR)
        || ' --><h1>Doc</h1><p>' || substr(text, 1, 60)
        || ' <b>mid</b> ' || substr(text, 61, 60)
        || '</p><p>x &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;y '
        || '&amp;amp; z</p></body></html>' AS h
      FROM documents
    ), stripped AS (
      SELECT doc_id, h,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(h, '(?is)<script\\b[^>]*>.*?</script>',
                                 ' ', 'g'),
                  '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
                '(?s)<!--.*?-->', ' ', 'g'),
              '(?s)<[^>]+>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
          '\\s+', ' ', 'g')) AS clean
      FROM html
    )
    SELECT doc_id,
           trim(regexp_extract(h, '(?is)<title[^>]*>(.*?)</title>', 1))
             AS title,
           CAST(len(regexp_extract_all(h, '(?s)<[^>]+>')) AS INT) AS n_tags,
           CAST(length(clean) AS INT) AS clean_len,
           md5(clean) AS clean_md5
    FROM stripped
    """,
)
def html_strip_extract(spark, sf_dir):
    """HTML boilerplate stripping (text.strip_html/html_title/
    html_tag_count): the C4/CCNet-style extraction pass — drop
    script/style blocks and comments wholesale, strip tags to spaces,
    decode common entities AFTER tag removal, collapse whitespace. The
    markup is synthesized deterministically around each document's text
    (nested tags inside script bodies, an HTML comment, double-encoded
    '&amp;amp;', every supported entity), every regex is RE2-compatible
    by construction (no backreferences), and the oracle replays the
    EXACT replace chain in DuckDB — clean_md5 gates the full cleaned
    string byte-for-byte. Pure native regexp chain, whole-stage
    codegen, no UDF. No reference counterpart (upgini has no text
    surface); pipeline operator defined here like lang-id/quality."""
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit('</title><style>p{margin:0}</style>'
              '<script type="text/javascript">var x = "<b>1</b>";</script>'
              "</head><body><!-- crawl id: "), did,
        F.lit(" --><h1>Doc</h1><p>"), F.substring("text", 1, 60),
        F.lit(" <b>mid</b> "), F.substring("text", 61, 60),
        F.lit("</p><p>x &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;y "
              "&amp;amp; z</p></body></html>"),
    )
    clean = TX.strip_html(html)
    return docs.select(
        "doc_id",
        TX.html_title(html).alias("title"),
        TX.html_tag_count(html).alias("n_tags"),
        F.length(clean).cast("int").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


@_q(
    "temperature_mix_plan",
    """
    WITH base AS (
      SELECT CASE WHEN doc_id % 100 < 50 THEN 'big'
                  WHEN doc_id % 100 < 80 THEN 'mid'
                  WHEN doc_id % 100 < 95 THEN 'small'
                  ELSE 'tiny' END AS grp
      FROM documents
    ), g2 AS (
      SELECT grp, CAST(count(*) AS DOUBLE) AS n,
             pow(CAST(count(*) AS DOUBLE), 0.5) AS s,
             CAST(count(*) AS DOUBLE) / pow(CAST(count(*) AS DOUBLE), 0.5)
               AS ratio
      FROM base GROUP BY grp
    ), t AS (
      SELECT sum(n) AS tn, sum(s) AS ts FROM g2
    ), lamc AS (
      SELECT grp, n, s, ratio,
        (420.0 - coalesce(sum(n) OVER w, 0))
          / (t.ts - coalesce(sum(s) OVER w, 0)) AS lam
      FROM g2, t
      WINDOW w AS (ORDER BY ratio ASC, grp ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), pick AS (
      SELECT lam FROM lamc WHERE lam * s <= n
      ORDER BY ratio ASC, grp ASC LIMIT 1
    )
    SELECT g2.grp, CAST(g2.n AS BIGINT) AS n,
      round(least(g2.n, pick.lam * g2.s) / g2.n, 9) AS rate,
      round(least(g2.n, pick.lam * g2.s), 6) AS m
    FROM g2, pick
    """,
)
def temperature_mix_plan(spark, sf_dir):
    """Temperature-based mixture planning (sampling.
    temperature_mix_rates): target shares ∝ n^0.5 under the
    no-upsampling cap, solved by CLOSED-FORM water-filling (order groups
    by n/s, the capped set is a prefix, λ from cumulative sums — one
    k-row window pass, no recursion, no driver loop; validated against
    iterative water-filling on 2000 random cases). The synthetic 50/30/
    15/5%% grouping with budget 420 caps exactly TWO groups at sf0.01
    (tiny and small keep 100%%, mid/big downsample), exercising the
    boundary scan. alpha=0.5 keeps s=sqrt(n) IEEE-exact across engines.
    Rates compose with sample_by_rates for the actual mixing filter."""
    from upgini_spark.functions.sampling import temperature_mix_rates

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 100
    grp = (
        F.when(m < 50, F.lit("big"))
        .when(m < 80, F.lit("mid"))
        .when(m < 95, F.lit("small"))
        .otherwise(F.lit("tiny"))
    )
    plan = temperature_mix_rates(
        docs.select(grp.alias("grp")), "grp", alpha=0.5, budget=420
    )
    return plan.select(F.col("group").alias("grp"), "n", "rate", "m")


@_q(
    "mask_tokens_mlm",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ex AS (
      SELECT doc_id, g.i AS pos, ws[g.i] AS word
      FROM w, (SELECT unnest(generate_series(1, 400)) AS i) g
      WHERE g.i <= len(ws) AND ws[g.i] <> ''
    ), counts AS (
      SELECT word, count(*) AS cnt FROM ex GROUP BY word
    ), vocab AS (
      SELECT word,
        CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS INT)
          AS token_id
      FROM counts
      QUALIFY row_number() OVER (ORDER BY cnt DESC, word ASC) <= 25
    ), enc AS (
      SELECT e.doc_id,
        row_number() OVER (PARTITION BY e.doc_id ORDER BY e.pos) - 1
          AS tpos,
        coalesce(v.token_id, 0) AS tok
      FROM ex e LEFT JOIN vocab v USING (word)
    ), mk AS (
      SELECT doc_id, tpos, tok,
        (CAST(('0x' || substr(md5(
            CAST(doc_id AS VARCHAR) || chr(31)
            || CAST(tpos AS VARCHAR) || chr(31)), 1, 15)) AS BIGINT)
         / 1152921504606846976.0) < 0.15 AS hit
      FROM enc
    ), agg AS (
      SELECT doc_id,
        count(*) AS n_tok,
        sum(CASE WHEN hit THEN 1 ELSE 0 END) AS n_masked,
        string_agg(CAST(CASE WHEN hit THEN -1 ELSE tok END AS VARCHAR),
                   ' ' ORDER BY tpos) AS mids,
        string_agg(CAST(CASE WHEN hit THEN tok ELSE -1 END AS VARCHAR),
                   ' ' ORDER BY tpos) AS lids
      FROM mk GROUP BY doc_id
    )
    SELECT d.doc_id,
      CAST(coalesce(a.n_tok, 0) AS INT) AS n_tok,
      CAST(coalesce(a.n_masked, 0) AS INT) AS n_masked,
      md5(coalesce(a.mids, '')) AS masked_md5,
      md5(coalesce(a.lids, '')) AS labels_md5
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def mask_tokens_mlm(spark, sf_dir):
    """Deterministic MLM corruption (tokens.mask_tokens) over the vocab
    encoder's token stream: position p of doc d masks iff the 60-bit
    md5-uniform of (d, p) < 0.15 — seed-free, so the SAME positions mask
    on any cluster size and the oracle replays the exact hash rule.
    masked/labels are the standard complementary pair (labels keep the
    original id at masked positions, mask_id=-1 elsewhere — -1 can never
    collide with vocabulary ids). Pure per-row transform, no shuffle
    beyond the encoder's; both streams md5-gated byte-for-byte."""
    from upgini_spark.functions.tokens import (
        build_word_vocab, encode_words, mask_tokens)

    # materialize the spread scan once: the vocabulary agg and the
    # encode projection both consume it (re-paid scan + spread shuffle
    # otherwise; 0.93 -> 0.76 s alternating A/B, outputs identical)
    docs = spread_scan(_t(spark, sf_dir, "documents")).localCheckpoint(eager=True)
    vocab = build_word_vocab(docs, "text", 25)
    enc = encode_words(docs, "doc_id", "text", vocab)
    mk = mask_tokens(enc, "doc_id", "token_ids", mask_id=-1, rate=0.15)

    def _md5(col):
        return F.md5(
            F.array_join(
                F.transform(F.col(col), lambda t: t.cast("string")), " "
            )
        )

    # masked is token_ids position for position, so its size is n_tok:
    # no self-join back to enc, whose vocab map would be planned twice
    return mk.select(
        "doc_id", F.size("masked").cast("int").alias("n_tok"), "n_masked",
        _md5("masked").alias("masked_md5"),
        _md5("labels").alias("labels_md5"),
    )


@_q(
    "dedup_incremental",
    """
    WITH inc AS (
      SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 1000000, text, n_chars FROM documents
      WHERE doc_id % 3 = 1 AND doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000, text, n_chars FROM documents
      WHERE doc_id % 3 = 0 AND doc_id % 11 = 0
    ), idx AS (
      SELECT DISTINCT md5(coalesce(text, '')) AS content_hash
      FROM documents WHERE doc_id % 3 <> 0
    ), hashed AS (
      SELECT md5(coalesce(text, '')) AS content_hash, doc_id, n_chars
      FROM inc
    ), novel AS (
      SELECT * FROM hashed h
      WHERE NOT EXISTS (SELECT 1 FROM idx i
                        WHERE i.content_hash = h.content_hash)
    ), keep AS (
      SELECT content_hash, min(doc_id) AS doc_id
      FROM novel GROUP BY content_hash
    )
    SELECT n.doc_id, n.n_chars
    FROM keep k JOIN novel n
      ON n.content_hash = k.content_hash AND n.doc_id = k.doc_id
    """,
)
def dedup_incremental(spark, sf_dir):
    """Snapshot-to-snapshot incremental dedup (dedup.dedup_against_index)
    — today's batch vs the hash index of everything already accepted:
    one 16-byte-key left ANTI join + one keep-one min-struct agg; the
    index stores hashes, never content. The fixture plants BOTH failure
    modes: re-crawled copies of indexed docs (doc_id%3==1 & %7==0,
    re-identified +1e6 — must drop against the index) and in-batch
    duplicates (doc_id%3==0 & %11==0, re-identified +2e6 — exactly one
    survivor, the min-doc_id row, because doc_id leads the min-struct's
    field order). The oracle replays anti-join + keep-min in SQL."""
    from upgini_spark.functions.dedup import dedup_against_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    accepted = docs.filter(F.col("doc_id") % 3 != 0)
    index = accepted.select(
        F.md5(
            F.concat_ws("\x1f", F.col("text").cast("string"))
        ).alias("content_hash")
    ).distinct()
    incoming = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .unionByName(
            docs.filter((F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 7 == 0))
            .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        )
        .unionByName(
            docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 11 == 0))
            .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        )
    )
    fresh, _delta = dedup_against_index(incoming, index, ["text"])
    return fresh.select("doc_id", "n_chars")


@_q(
    "temperature_mix_tokens",
    """
    WITH base AS (
      SELECT doc_id, n_chars,
             CASE WHEN doc_id % 100 < 50 THEN 'big'
                  WHEN doc_id % 100 < 80 THEN 'mid'
                  WHEN doc_id % 100 < 95 THEN 'small'
                  ELSE 'tiny' END AS grp
      FROM documents
    ), g2 AS (
      SELECT grp, CAST(sum(n_chars) AS DOUBLE) AS n,
             pow(CAST(sum(n_chars) AS DOUBLE), 0.5) AS s,
             CAST(sum(n_chars) AS DOUBLE)
               / pow(CAST(sum(n_chars) AS DOUBLE), 0.5) AS ratio
      FROM base GROUP BY grp
    ), t AS (
      SELECT sum(n) AS tn, sum(s) AS ts FROM g2
    ), lamc AS (
      SELECT grp, n, s, ratio,
        (80000.0 - coalesce(sum(n) OVER w, 0))
          / (t.ts - coalesce(sum(s) OVER w, 0)) AS lam
      FROM g2, t
      WINDOW w AS (ORDER BY ratio ASC, grp ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), pick AS (
      SELECT lam FROM lamc WHERE lam * s <= n
      ORDER BY ratio ASC, grp ASC LIMIT 1
    )
    SELECT g2.grp, CAST(g2.n AS BIGINT) AS n,
      round(least(g2.n, pick.lam * g2.s) / g2.n, 9) AS rate,
      round(least(g2.n, pick.lam * g2.s), 6) AS m
    FROM g2, pick
    """,
)
def temperature_mix_tokens(spark, sf_dir):
    """Temperature mixing with the budget in TOKEN units (sampling.
    temperature_mix_rates(weight_col=...)): per-group sizes are weight
    SUMS (n_chars as the token proxy), so the water-filling plan answers
    the question a pretraining run actually asks — how much of each
    source's TOKENS to keep under a token budget. Same closed-form
    prefix solve as temperature_mix_plan; the 80k-char budget caps
    exactly ONE group at sf0.01 (tiny keeps 100%), exercising the
    single-cap boundary the doc-count query doesn't."""
    from upgini_spark.functions.sampling import temperature_mix_rates

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 100
    grp = (
        F.when(m < 50, F.lit("big"))
        .when(m < 80, F.lit("mid"))
        .when(m < 95, F.lit("small"))
        .otherwise(F.lit("tiny"))
    )
    plan = temperature_mix_rates(
        docs.select(grp.alias("grp"), "n_chars"), "grp",
        alpha=0.5, budget=80_000, weight_col="n_chars",
    )
    return plan.select(F.col("group").alias("grp"), "n", "rate", "m")


@_q(
    "weighted_sample_100",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
        floor(
          ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) / 1152921504606846976.0)
          / CAST(n_chars AS DOUBLE) * 1e10) / 1e10 AS wkey
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, wkey
    FROM keyed ORDER BY wkey DESC, doc_id ASC LIMIT 100
    """,
)
def weighted_sample_100(spark, sf_dir):
    """Deterministic weighted sampling without replacement (sampling.
    weighted_sample_exact — Efraimidis-Spirakis A-ES): key = ln(u)/w
    with u the 60-bit md5 hash-uniform, top-100 keys win. One
    TakeOrderedAndProject (per-partition heaps), data never shuffled,
    same winners on any cluster size. Keys floor-quantized at 1e-10
    grain + doc_id tie-break so engine ln/division ULP can't flip the
    boundary row; the oracle replays the exact key formula."""
    from upgini_spark.functions.sampling import hash_uniform, weighted_sample_exact

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_exact(docs, "n_chars", 100, ["doc_id"])
    u = hash_uniform(["doc_id"])
    wkey = (
        F.floor(F.log(u) / F.col("n_chars").cast("double") * 1e10) / 1e10
    )
    return out.select("doc_id", "n_chars", wkey.alias("wkey"))


@_q(
    "temperature_mix_apply",
    """
    WITH base AS (
      SELECT doc_id, CASE WHEN doc_id % 100 < 50 THEN 'big'
                  WHEN doc_id % 100 < 80 THEN 'mid'
                  WHEN doc_id % 100 < 95 THEN 'small'
                  ELSE 'tiny' END AS grp
      FROM documents
    ), g2 AS (
      SELECT grp, CAST(count(*) AS DOUBLE) AS n,
             pow(CAST(count(*) AS DOUBLE), 0.5) AS s,
             CAST(count(*) AS DOUBLE) / pow(CAST(count(*) AS DOUBLE), 0.5)
               AS ratio
      FROM base GROUP BY grp
    ), t AS (
      SELECT sum(n) AS tn, sum(s) AS ts FROM g2
    ), lamc AS (
      SELECT grp, n, s, ratio,
        (420.0 - coalesce(sum(n) OVER w, 0))
          / (t.ts - coalesce(sum(s) OVER w, 0)) AS lam
      FROM g2, t
      WINDOW w AS (ORDER BY ratio ASC, grp ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), pick AS (
      SELECT lam FROM lamc WHERE lam * s <= n
      ORDER BY ratio ASC, grp ASC LIMIT 1
    ), plan AS (
      SELECT g2.grp, round(least(g2.n, pick.lam * g2.s) / g2.n, 9) AS rate
      FROM g2, pick
    )
    SELECT b.grp, CAST(count(*) AS BIGINT) AS kept, p.rate
    FROM base b JOIN plan p USING (grp)
    WHERE CAST(('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) / 1152921504606846976.0 < p.rate
    GROUP BY b.grp, p.rate
    """,
)
def temperature_mix_apply(spark, sf_dir):
    """END-TO-END temperature mixing (plan + filter composed, all
    cluster-side): temperature_mix_rates' water-filling plan rides a
    broadcast hash join into sample_by_rates_df's hash-uniform filter —
    the rates never leave the cluster (no driver collect, unlike the
    dict-based sample_by_rates), so the composition holds at any number
    of sources. Output is the per-group kept count, which lands within
    hash-uniform noise of the planned m (the plan itself is oracle-gated
    exactly by temperature_mix_plan). rate is 9dp-rounded on BOTH sides
    so the filter boundary is engine-portable."""
    from upgini_spark.functions.sampling import (
        sample_by_rates_df, temperature_mix_rates)

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 100
    grp = (
        F.when(m < 50, F.lit("big"))
        .when(m < 80, F.lit("mid"))
        .when(m < 95, F.lit("small"))
        .otherwise(F.lit("tiny"))
    )
    base = docs.select("doc_id", grp.alias("grp"))
    plan = temperature_mix_rates(base, "grp", alpha=0.5, budget=420)
    mixed = sample_by_rates_df(base, "grp", plan, ["doc_id"])
    return (
        mixed.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("kept"))
        .join(
            F.broadcast(plan.select(F.col("group").alias("grp"), "rate")),
            "grp",
        )
        .select("grp", "kept", "rate")
    )


@_q(
    "weighted_sample_by_lang",
    """
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
        floor(
          ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) / 1152921504606846976.0)
          / CAST(n_chars AS DOUBLE) * 1e10) / 1e10 AS wkey
      FROM documents WHERE n_chars > 0
    ), ranked AS (
      SELECT lang, doc_id, n_chars, wkey,
        row_number() OVER (PARTITION BY lang
                           ORDER BY wkey DESC, doc_id ASC) AS r
      FROM keyed
    )
    SELECT lang, doc_id, n_chars, wkey FROM ranked WHERE r <= 5
    """,
)
def weighted_sample_by_lang(spark, sf_dir):
    """Per-source weighted sampling (sampling.weighted_sample_per_group):
    the A-ES ln(u)/w key ranked WITHIN each lang — top-5 docs per
    language, length-weighted. One window pass after a single shuffle on
    the group key (rank truncates per partition); same quantized-key +
    id tie-break determinism as weighted_sample_100."""
    from upgini_spark.functions.sampling import (
        hash_uniform, weighted_sample_per_group)

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_per_group(docs, "lang", "n_chars", 5, ["doc_id"])
    u = hash_uniform(["doc_id"])
    wkey = (
        F.floor(F.log(u) / F.col("n_chars").cast("double") * 1e10) / 1e10
    )
    return out.select("lang", "doc_id", "n_chars", wkey.alias("wkey"))


@_q(
    "chunk_sliding_tokens",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ex AS (
      SELECT doc_id, g.i AS pos, ws[g.i] AS word
      FROM w, (SELECT unnest(generate_series(1, 400)) AS i) g
      WHERE g.i <= len(ws) AND ws[g.i] <> ''
    ), counts AS (
      SELECT word, count(*) AS cnt FROM ex GROUP BY word
    ), vocab AS (
      SELECT word,
        CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS INT)
          AS token_id
      FROM counts
      QUALIFY row_number() OVER (ORDER BY cnt DESC, word ASC) <= 25
    ), enc AS (
      SELECT e.doc_id,
        row_number() OVER (PARTITION BY e.doc_id ORDER BY e.pos) - 1
          AS tpos,
        coalesce(v.token_id, 0) AS tok
      FROM ex e LEFT JOIN vocab v USING (word)
    ), lens AS (
      SELECT doc_id, count(*) AS n FROM enc GROUP BY doc_id
    ), chunks AS (
      SELECT doc_id, g.k
      FROM lens, (SELECT unnest(generate_series(0, 60)) AS k) g
      WHERE g.k <= (n - 1) // 8
    )
    SELECT c.doc_id, CAST(c.k AS INT) AS chunk_idx,
      CAST(count(*) AS INT) AS n_chunk_tokens,
      md5(string_agg(CAST(e.tok AS VARCHAR), ' ' ORDER BY e.tpos))
        AS chunk_md5
    FROM chunks c JOIN enc e ON e.doc_id = c.doc_id
      AND e.tpos >= c.k * 8 AND e.tpos < c.k * 8 + 16
    GROUP BY c.doc_id, c.k
    """,
)
def chunk_sliding_tokens(spark, sf_dir):
    """Sliding-window chunking of token arrays (tokens.
    chunk_tokens_sliding): window 16 / stride 8 over the
    vocab_encode_words token stream — each doc becomes ⌈n/8⌉ overlapping
    chunks, the final one short (every token covered; a chunk never
    mixes documents, unlike pack_sequences' concat-and-chunk). Pure
    per-row sequence()+slice() explode, no shuffle beyond the encoder's.
    The md5 of each chunk's id sequence gates the windows byte-for-byte
    (arrays are driver-unsortable); the oracle regenerates chunks from
    (tpos // stride) range joins."""
    from upgini_spark.functions.tokens import (
        build_word_vocab, chunk_tokens_sliding, encode_words)

    # materialize the spread scan once: the vocabulary agg and the
    # encode projection both consume it (re-paid scan + spread shuffle
    # otherwise; 0.93 -> 0.76 s alternating A/B, outputs identical)
    docs = spread_scan(_t(spark, sf_dir, "documents")).localCheckpoint(eager=True)
    vocab = build_word_vocab(docs, "text", 25)
    enc = encode_words(docs, "doc_id", "text", vocab)
    ch = chunk_tokens_sliding(enc, "doc_id", "token_ids", 16, 8)
    return ch.select(
        "doc_id", "chunk_idx", "n_chunk_tokens",
        F.md5(
            F.array_join(
                F.transform(F.col("chunk"), lambda t: t.cast("string")),
                " ",
            )
        ).alias("chunk_md5"),
    )


@_q(
    "vocab_encode_words",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ex AS (
      SELECT doc_id, g.i AS pos, ws[g.i] AS word
      FROM w, (SELECT unnest(generate_series(1, 400)) AS i) g
      WHERE g.i <= len(ws) AND ws[g.i] <> ''
    ), counts AS (
      SELECT word, count(*) AS cnt FROM ex GROUP BY word
    ), vocab AS (
      SELECT word,
        CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS INT)
          AS token_id
      FROM counts
      QUALIFY row_number() OVER (ORDER BY cnt DESC, word ASC) <= 25
    ), enc AS (
      SELECT e.doc_id, e.pos, coalesce(v.token_id, 0) AS tok
      FROM ex e LEFT JOIN vocab v USING (word)
    )
    SELECT d.doc_id,
      CAST(coalesce(s.n_tok, 0) AS INT) AS n_tok,
      CAST(coalesce(s.n_oov, 0) AS INT) AS n_oov,
      md5(coalesce(s.ids, '')) AS ids_md5
    FROM documents d LEFT JOIN (
      SELECT doc_id, count(*) AS n_tok,
        sum(CASE WHEN tok = 0 THEN 1 ELSE 0 END) AS n_oov,
        string_agg(CAST(tok AS VARCHAR), ' ' ORDER BY pos) AS ids
      FROM enc GROUP BY doc_id
    ) s USING (doc_id)
    """,
)
def vocab_encode_words(spark, sf_dir):
    """Tokenizer front of the pipeline (tokens.build_word_vocab /
    encode_words): top-25 frequency vocabulary with the (count DESC,
    word ASC) total order — TakeOrderedAndProject, never a global sort —
    then OOV-0 encoding that preserves word order via in-row
    sort_array(struct(pos, id)). The md5 of the space-joined id sequence
    gates the full token stream byte-for-byte (arrays are driver-
    unsortable, the r02 crash class). With the corpus vocabulary larger
    than 25, the OOV path is exercised on real rows."""
    from upgini_spark.functions.tokens import build_word_vocab, encode_words

    # materialize the spread scan once: the vocabulary agg and the
    # encode projection both consume it (re-paid scan + spread shuffle
    # otherwise; 0.93 -> 0.76 s alternating A/B, outputs identical)
    docs = spread_scan(_t(spark, sf_dir, "documents")).localCheckpoint(eager=True)
    vocab = build_word_vocab(docs, "text", 25)
    enc = encode_words(docs, "doc_id", "text", vocab)
    return enc.select(
        "doc_id", "n_tok", "n_oov",
        F.md5(
            F.array_join(
                F.transform(
                    F.col("token_ids"), lambda t: t.cast("string")
                ),
                " ",
            )
        ).alias("ids_md5"),
    )


@_q(
    "url_canonical_dedup",
    """
    WITH u AS (
      SELECT doc_id,
        CASE doc_id % 5
          WHEN 0 THEN 'https://News.Example.com/articles/'
            || CAST(doc_id // 5 AS VARCHAR) || '/?utm_source=feed&x=2&a=1#top'
          WHEN 1 THEN 'HTTPS://news.example.com:443/articles/'
            || CAST(doc_id // 5 AS VARCHAR) || '?a=1&x=2'
          WHEN 2 THEN 'https://u:p@news.example.com/articles/'
            || CAST(doc_id // 5 AS VARCHAR) || '/?x=2&a=1&fbclid=z'
          WHEN 3 THEN 'https://blog.example.com/post-'
            || CAST(doc_id AS VARCHAR)
          ELSE 'doc-' || CAST(doc_id AS VARCHAR)
        END AS url
      FROM documents
    ), p1 AS (
      SELECT doc_id,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          AS scheme,
        regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      FROM u
    ), p2 AS (
      SELECT doc_id, scheme,
        lower(regexp_replace(regexp_extract(rest, '^([^/?#]*)', 1),
                             '^[^@/?#]*@', '')) AS auth,
        regexp_replace(rest, '^[^/?#]*', '') AS pathqf
      FROM p1
    ), p3 AS (
      SELECT doc_id, scheme,
        regexp_replace(auth, ':[0-9]*$', '') AS host,
        regexp_extract(auth, ':([0-9]+)$', 1) AS port,
        regexp_extract(pathqf, '^([^?#]*)', 1) AS raw_path,
        regexp_extract(pathqf, '^[^?#]*\\?([^#]*)', 1) AS query
      FROM p2
    ), p4 AS (
      SELECT *, array_to_string(list_sort(list_filter(
        string_split(query, '&'),
        p -> p <> '' AND NOT regexp_matches(
          p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)(=|$)'))), '&') AS qs
      FROM p3
    ), canon AS (
      SELECT doc_id,
        CASE WHEN scheme = '' THEN NULL ELSE
          scheme || '://' || host
          || (CASE WHEN port <> ''
                    AND NOT (scheme = 'http' AND port = '80')
                    AND NOT (scheme = 'https' AND port = '443')
              THEN ':' || port ELSE '' END)
          || (CASE WHEN regexp_replace(raw_path, '/+$', '') = ''
              THEN '/' ELSE regexp_replace(raw_path, '/+$', '') END)
          || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END)
        END AS canon_url
      FROM p4
    )
    SELECT c.doc_id, c.canon_url,
      coalesce(f.first_id = c.doc_id, TRUE) AS keep
    FROM canon c LEFT JOIN (
      SELECT canon_url, min(doc_id) AS first_id FROM canon
      WHERE canon_url IS NOT NULL GROUP BY canon_url
    ) f USING (canon_url)
    """,
)
def url_canonical_dedup(spark, sf_dir):
    """URL canonicalization + URL-keyed dedup (urls.canonical_url /
    url_dedup): the cheap first filter of C4/RefinedWeb-style crawl
    pipelines. Synthesized URLs hit every rule — scheme/host case, the
    https:443 default port, userinfo, trailing slash, fragment (with a
    decoy '?' AFTER '#'), utm/fbclid tracking params, param order — so
    mod-5 classes 0/1/2 collapse to ONE canonical per doc_id//5 group
    (min-id keeps), class 3 is unique, class 4 is schemeless → NULL
    canonical, always kept. The oracle replays the EXACT regexp/array
    chain; dedup is the min-agg + equi-join shape (no window over hot
    hosts)."""
    from upgini_spark.functions.urls import url_dedup

    docs = spread_scan(_t(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    k = F.floor(did / 5).cast("int").cast("string")
    url = (
        F.when(did % 5 == 0, F.concat(
            F.lit("https://News.Example.com/articles/"), k,
            F.lit("/?utm_source=feed&x=2&a=1#top")))
        .when(did % 5 == 1, F.concat(
            F.lit("HTTPS://news.example.com:443/articles/"), k,
            F.lit("?a=1&x=2")))
        .when(did % 5 == 2, F.concat(
            F.lit("https://u:p@news.example.com/articles/"), k,
            F.lit("/?x=2&a=1&fbclid=z")))
        .when(did % 5 == 3, F.concat(
            F.lit("https://blog.example.com/post-"), did.cast("string")))
        .otherwise(F.concat(F.lit("doc-"), did.cast("string")))
    )
    synth = docs.select("doc_id", url.alias("url"))
    return url_dedup(synth, "doc_id", "url")


@_q(
    "bigram_lm_nll",
    """
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), pairs AS (
      -- fixed-range + correlated WHERE (DuckDB generate_series cannot
      -- take correlated args inside a lateral unnest)
      SELECT doc_id, w[g.i] AS w1, w[g.i + 1] AS w2
      FROM ws, (SELECT unnest(generate_series(1, 400)) AS i) g
      WHERE g.i <= len(w) - 1
    ), c12 AS (
      SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1
    ), v AS (
      SELECT CAST(count(DISTINCT u.word) AS DOUBLE) AS v
      FROM (SELECT unnest(w) AS word FROM ws) u
    ), lm AS (
      SELECT c12.w1, c12.w2,
        floor(ln((c12.c12 + 0.5) / (c1.c1 + 0.5 * v.v)) * 1e10) / 1e10
          AS logp
      FROM c12 JOIN c1 USING (w1), v
    ), sc AS (
      SELECT p.doc_id, count(lm.logp) AS nb, round(-avg(lm.logp), 6) AS nll
      FROM pairs p LEFT JOIN lm ON p.w1 = lm.w1 AND p.w2 = lm.w2
      GROUP BY p.doc_id
    )
    SELECT d.doc_id,
      CAST(coalesce(sc.nb, 0) AS INT) AS n_bigrams,
      sc.nll AS avg_nll
    FROM documents d LEFT JOIN sc USING (doc_id)
    """,
)
def bigram_lm_nll(spark, sf_dir):
    """CCNet/KenLM-style perplexity quality filter (text.bigram_nll):
    per-document cross-entropy under an add-0.5-smoothed word-bigram LM
    trained on the corpus itself (one slice+zip explode, map-side-
    combinable count aggs, prefix counts derived from bigram counts, a
    1-row vocabulary agg broadcast back, AQE-decided LM join). Each ln
    floored at 1e-10 grain so the 6-dp mean rounds identically across
    engines; sub-2-word docs surface with n_bigrams=0 / NULL nll."""
    from upgini_spark.functions.text import bigram_nll

    return bigram_nll(_t(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "paragraph_dedup_corpus",
    """
    WITH d AS (
      SELECT doc_id,
        'Doc ' || CAST(doc_id AS VARCHAR) || ' intro: '
          || substr(text, 1, 40) AS p1,
        'Shared Topic ' || CAST(doc_id % 7 AS VARCHAR)
          || (CASE WHEN doc_id % 2 = 0 THEN ', body!'
                   ELSE '  BODY.' END) AS p2,
        'Subscribe to our newsletter, today!' AS p3
      FROM documents
    ), paras AS (
      -- trim mirrors the operator's split-then-trim (p1 can end on a
      -- space when substr cuts the source text mid-word)
      SELECT doc_id, 0 AS idx, trim(p1) AS para FROM d
      UNION ALL SELECT doc_id, 1, trim(p2) FROM d
      UNION ALL SELECT doc_id, 2, trim(p3) FROM d
    ), hashed AS (
      SELECT doc_id, idx, para,
        md5(trim(regexp_replace(lower(para), '[^a-z0-9]+', ' ', 'g'))) AS h
      FROM paras
    ), marked AS (
      SELECT doc_id, idx, para,
        (row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1)
          AS keep
      FROM hashed
    )
    SELECT doc_id,
      CAST(count(*) AS INT) AS n_paras,
      CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS INT) AS n_dup_paras,
      round(CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS DOUBLE)
            / count(*), 6) AS dup_share,
      CAST(length(coalesce(string_agg(
        CASE WHEN keep THEN para END, chr(10) || chr(10) ORDER BY idx),
        '')) AS INT) AS clean_len,
      md5(coalesce(string_agg(
        CASE WHEN keep THEN para END, chr(10) || chr(10) ORDER BY idx),
        '')) AS clean_md5
    FROM marked GROUP BY doc_id
    """,
)
def paragraph_dedup_corpus(spark, sf_dir):
    """CCNet-style corpus-wide paragraph dedup (dedup.paragraph_dedup):
    keep only the globally FIRST occurrence (min (doc_id, idx)) of each
    normalized-paragraph hash, re-assemble documents from survivors. The
    3-paragraph docs are synthesized deterministically: a unique intro,
    a mod-7-shared topic whose SURFACE form varies by parity (case +
    punctuation) but normalizes identically — exercising the lowercase/
    strip/collapse chain — and a global boilerplate footer. Expected:
    doc 0 keeps all 3, docs 1-6 keep 2, everyone else keeps 1.
    clean_md5 gates the re-assembled text byte-for-byte. The operator is
    a min-struct hash-group + equi-join (map-side combinable, AQE-skew-
    splittable), deliberately not a row_number window — a hot
    boilerplate hash would sort 10^8 occurrences on one partition."""
    from upgini_spark.functions.dedup import paragraph_dedup

    docs = spread_scan(_t(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    p1 = F.concat(
        F.lit("Doc "), did.cast("string"), F.lit(" intro: "),
        F.substring("text", 1, 40),
    )
    p2 = F.concat(
        F.lit("Shared Topic "), (did % 7).cast("string"),
        F.when(did % 2 == 0, F.lit(", body!")).otherwise(F.lit("  BODY.")),
    )
    p3 = F.lit("Subscribe to our newsletter, today!")
    synth = docs.select(
        "doc_id", F.concat_ws("\n\n", p1, p2, p3).alias("text")
    )
    out = paragraph_dedup(synth, "doc_id", "text")
    return out.select(
        "doc_id", "n_paras", "n_dup_paras", "dup_share",
        F.length("clean_text").cast("int").alias("clean_len"),
        F.md5("clean_text").alias("clean_md5"),
    )


@_q(
    "text_bm25_topk",
    """
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> len(t) > 0) AS toks
      FROM documents
    ), tf AS (
      SELECT doc_id, len(toks) AS dl,
             len(list_filter(toks, t -> t = 'spark')) AS tf0,
             len(list_filter(toks, t -> t = 'window')) AS tf1,
             len(list_filter(toks, t -> t = 'dup')) AS tf2
      FROM tok
    ), st AS (
      SELECT count(*) AS n, avg(dl) AS avgdl,
             sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      FROM tf
    )
    SELECT doc_id, CAST(dl AS INT) AS n_tok,
           round(0.0
             + CASE WHEN tf0 > 0 THEN
                 floor(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5)
                                / (CAST(df0 AS DOUBLE) + 0.5)) * 1e10) / 1e10
                 * CAST(tf0 AS DOUBLE) * (1.2 + 1.0)
                 / (CAST(tf0 AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               ELSE 0.0 END
             + CASE WHEN tf1 > 0 THEN
                 floor(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5)
                                / (CAST(df1 AS DOUBLE) + 0.5)) * 1e10) / 1e10
                 * CAST(tf1 AS DOUBLE) * (1.2 + 1.0)
                 / (CAST(tf1 AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               ELSE 0.0 END
             + CASE WHEN tf2 > 0 THEN
                 floor(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5)
                                / (CAST(df2 AS DOUBLE) + 0.5)) * 1e10) / 1e10
                 * CAST(tf2 AS DOUBLE) * (1.2 + 1.0)
                 / (CAST(tf2 AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               ELSE 0.0 END, 6) AS bm25
    FROM tf, st
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-20 for the query {spark, window, dup} (one common,
    one mid, one rare term — exercises the full idf range). Plan: one
    corpus scan + one single-row stats agg broadcast back + terminal
    TakeOrdered — no wide shuffle (see functions/text.py bm25_score)."""
    # materialize the spread scan once: the 1-row stats agg and the
    # scoring projection both consume it (0.48 -> 0.30 s alternating
    # A/B, outputs identical)
    docs = spread_scan(_t(spark, sf_dir, "documents")).localCheckpoint(eager=True)
    scored = TX.bm25_score(docs, "text", ["spark", "window", "dup"])
    return (
        scored.select(
            "doc_id", "n_tok", F.round(F.col("bm25"), 6).alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@_q(
    "lang_id_heuristic",
    """
    WITH s AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                  t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                      'that','for','on','with','as','at','by','this','be','are'],
                                     lower(t)))) AS DOUBLE)
             / len(list_filter(string_split_regex(trim(text), '\\s+'),
                   t -> len(t) > 0)) AS score
      FROM documents
    )
    SELECT doc_id, round(score, 6) AS en_score,
           CASE WHEN score >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred
    FROM s
    """,
)
def lang_id_heuristic(spark, sf_dir):
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.round(TX.lang_id_en_score(t), 6).alias("en_score"),
        TX.lang_id_predict(t).alias("lang_pred"),
    )


@_q(
    "doc_fingerprints",
    """
    WITH t AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ), w AS (
      SELECT doc_id, norm, string_split(norm, ' ') AS words FROM t
    )
    SELECT doc_id,
           md5(norm) AS fp_md5,
           CASE WHEN len(words) - 3 >= 1
                THEN list_min(list_transform(range(1, len(words) - 2),
                     i -> md5(words[i] || ' ' || words[i+1] || ' '
                              || words[i+2] || ' ' || words[i+3])))
                ELSE md5(norm) END AS fp_rolling
    FROM w
    """,
)
def doc_fingerprints(spark, sf_dir):
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    # rolling fingerprint falls back to md5(norm) for <window word docs
    norm = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    roll = TX.rolling_hash_fingerprint(t, window=4)
    n_words = F.size(F.split(norm, " "))
    return docs.select(
        "doc_id",
        TX.fingerprint_md5(t).alias("fp_md5"),
        F.when(n_words >= 4, roll).otherwise(F.md5(norm)).alias("fp_rolling"),
    )


# ===========================================================================
# Stats / stability / sampling (SURVEY.md §2.5, §2.10, §2.11)
# ===========================================================================

@_q(
    "psi_halves",
    """
    WITH d AS (
      SELECT value AS v,
             CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END AS split
      FROM events
    ), rng AS (SELECT min(v) AS lo, max(v) AS hi FROM d),
    binned AS (
      SELECT split,
             least(CAST(floor((v - (SELECT lo FROM rng))
                   / (((SELECT hi FROM rng) - (SELECT lo FROM rng)) / 10)) AS INT), 9)
               AS bin
      FROM d
    ), counts AS (
      SELECT split, bin, count(*) AS n FROM binned GROUP BY split, bin
    ), shares AS (
      SELECT split, bin, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY split) AS share
      FROM counts
    )
    SELECT CAST(p.split AS INT) AS split,
           round(sum((p.share + 1e-6 - coalesce(q.share, 0) - 1e-6)
                 * ln((p.share + 1e-6) / (coalesce(q.share, 0) + 1e-6))), 6) AS psi
    FROM shares p
    LEFT JOIN (SELECT bin, share FROM shares WHERE split = 0) q USING (bin)
    WHERE p.split != 0
    GROUP BY p.split
    """,
)
def psi_halves(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = ST.psi_equal_width(
        ev, "value", F.when(F.dayofmonth("ts") > 15, 1).otherwise(0), n_bins=10
    )
    return out.select(F.col("split").cast("int").alias("split"), "psi")


@_q(
    "class_balance",
    """
    WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS total, count(*) AS k FROM c)
    SELECT event_type, n,
           round(n / (SELECT total FROM t), 6) AS share,
           (n / (SELECT total FROM t)) < (0.6 / (SELECT k FROM t)) AS is_minor
    FROM c
    """,
)
def class_balance(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ST.class_balance(ev, "event_type")


@_q(
    "rank_auc_by_type",
    """
    WITH s AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS t, value AS sc
      FROM events WHERE value IS NOT NULL
    ), r AS (
      SELECT event_type, t,
             rank() OVER (PARTITION BY event_type ORDER BY sc) AS mr,
             count(*) OVER (PARTITION BY event_type, sc) AS ce
      FROM s
    ), a AS (
      SELECT event_type,
             sum(CASE WHEN t = 1 THEN mr + (ce - 1) / 2.0 END) AS rs,
             CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM r GROUP BY event_type
    )
    SELECT event_type, n_pos, n_neg,
           round((rs - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) + 0.0 AS auc,
           round(2.0 * (rs - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg) - 1.0, 6)
             + 0.0 AS gini
    FROM a
    """,
)
def rank_auc_by_type(spark, sf_dir):
    """Distributed rank-based ROC AUC / GINI (stats.rank_auc) — the
    at-scale twin of the driver-side metrics harness's numpy
    roc_auc_score (pipeline/metrics.py; reference metrics.py:539-542
    GINI = 2·AUC − 1). No row-level global sort: rows collapse per
    (group, score) first; the oracle replays the average-rank
    Mann-Whitney form with SQL window ranks."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("t"),
        F.col("value").alias("sc"),
    )
    out = ST.rank_auc(d, "t", "sc", group_cols=["event_type"])
    return out.select(
        "event_type", "n_pos", "n_neg",
        (F.col("auc") + 0.0).alias("auc"),
        (F.col("gini") + 0.0).alias("gini"),
    )


_IMB_SQL_CASE = """
    SELECT '{name}' AS case_name,
           CASE WHEN {binary} AND total <= 5000 THEN FALSE
                ELSE rarest < 0.6 / k * total END AS imbalanced
    FROM (
      SELECT (SELECT count(*) FROM y_{name}) AS total,
             min(n) AS rarest, count(*) AS k
      FROM (SELECT y, count(*) AS n FROM y_{name} WHERE y IS NOT NULL GROUP BY y)
    )
"""


@_q(
    "imbalance_decisions",
    """
    WITH y_bal_binary AS (
      SELECT CAST(event_id % 2 AS INT) AS y FROM events
    ), y_imb_binary AS (
      SELECT CAST(event_id % 20 = 0 AS INT) AS y FROM events
    ), y_null_class AS (
      SELECT CASE WHEN event_id % 5 = 0 THEN NULL
                  WHEN event_id % 4 = 0 THEN 'a' ELSE 'b' END AS y
      FROM events
    ), y_small_binary AS (
      SELECT CAST(event_id % 20 = 0 AS INT) AS y FROM events WHERE event_id < 3000
    )
    """
    + _IMB_SQL_CASE.format(name="bal_binary", binary="TRUE")
    + " UNION ALL " + _IMB_SQL_CASE.format(name="imb_binary", binary="TRUE")
    + " UNION ALL " + _IMB_SQL_CASE.format(name="null_class", binary="FALSE")
    + " UNION ALL " + _IMB_SQL_CASE.format(name="small_binary", binary="TRUE"),
)
def imbalance_decisions(spark, sf_dir):
    """is_imbalanced decision replay (stats.is_imbalanced, reference
    target_utils.py:115-155): four targets hit the min-sample gate, the
    balanced/imbalanced thresholds, and the r4 null-semantics fix (a
    null target is NOT a class — pandas nunique dropna — but its rows
    still count toward the total). event_id is unique so the dedup
    pre-steps are no-ops and the oracle replays the decision ladder from
    plain aggregates."""
    from upgini_spark.functions.stats import is_imbalanced

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    cases = [
        ("bal_binary", ev.select("event_id", (e % 2).cast("int").alias("y")), "BINARY"),
        ("imb_binary", ev.select("event_id", (e % 20 == 0).cast("int").alias("y")), "BINARY"),
        (
            "null_class",
            ev.select(
                "event_id",
                F.when(e % 5 == 0, F.lit(None))
                .when(e % 4 == 0, F.lit("a"))
                .otherwise(F.lit("b"))
                .alias("y"),
            ),
            "MULTICLASS",
        ),
        (
            "small_binary",
            ev.filter(e < 3000).select("event_id", (e % 20 == 0).cast("int").alias("y")),
            "BINARY",
        ),
    ]
    rows = [(n, is_imbalanced(d, "y", t)) for n, d, t in cases]
    return local_frame(spark, rows, "case_name string, imbalanced boolean")


@_q(
    "feature_validator_stats",
    """
    WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM lineitem)
    SELECT 'l_returnflag' AS column_name,
           count(DISTINCT l_returnflag) AS n_distinct,
           round((SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_returnflag))
                 / (SELECT total FROM n), 6) AS top_share,
           count(DISTINCT l_returnflag) <= 1 AS drop_constant,
           count(DISTINCT l_returnflag) / (SELECT total FROM n) >= 0.85 AS drop_high_card
    FROM lineitem
    UNION ALL
    SELECT 'l_orderkey',
           count(DISTINCT l_orderkey),
           round((SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey))
                 / (SELECT total FROM n), 6),
           count(DISTINCT l_orderkey) <= 1,
           count(DISTINCT l_orderkey) / (SELECT total FROM n) >= 0.85
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity',
           count(DISTINCT l_quantity),
           round((SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_quantity))
                 / (SELECT total FROM n), 6),
           count(DISTINCT l_quantity) <= 1,
           count(DISTINCT l_quantity) / (SELECT total FROM n) >= 0.85
    FROM lineitem
    """,
)
def feature_validator_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return ST.feature_validator_stats(li, ["l_returnflag", "l_orderkey", "l_quantity"])


@_q(
    "ts_truncate_trailing_7d",
    """
    SELECT event_id FROM (
      SELECT event_id,
             epoch_us(ts) > max(epoch_us(ts)) OVER (PARTITION BY user_id)
               - 604800000000 AS keep
      FROM events
    ) WHERE keep
    """,
)
def ts_truncate_trailing_7d(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = SMP.ts_truncate_trailing(ev, "ts", ["user_id"], 7 * 86400)
    return out.select("event_id")


@_q(
    "hash_sample_exact_1000",
    """
    SELECT event_id FROM (
      SELECT event_id, row_number() OVER (
        ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
      ) AS rk FROM events
    ) WHERE rk <= 1000
    """,
)
def hash_sample_exact_1000(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return SMP.hash_sample_exact(ev, 1000, ["event_id"]).select("event_id")


@_q(
    "undersample_imbalanced",
    """
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_orderkey % 15 = 0 THEN 1 ELSE 0 END AS y
      FROM lineitem
    ), c AS (SELECT y, count(*) AS n FROM t GROUP BY y),
    mm AS (SELECT min(n) AS mn, max(n) AS mx FROM c),
    minc AS (SELECT y FROM c ORDER BY n ASC, CAST(y AS VARCHAR) DESC LIMIT 1),
    sz AS (SELECT least(mx, 5 * (mn + greatest(5000 - 2 * mn, 0))) AS s FROM mm),
    ranked AS (
      SELECT l_orderkey, l_linenumber, y,
             row_number() OVER (
               PARTITION BY y
               ORDER BY md5(CAST(l_orderkey AS VARCHAR) || chr(31)
                            || CAST(l_linenumber AS VARCHAR)),
                        l_orderkey, l_linenumber) AS rk
      FROM t
    )
    SELECT l_orderkey, l_linenumber, y FROM ranked
    WHERE y = (SELECT y FROM minc) OR rk <= (SELECT s FROM sz)
    """,
)
def undersample_imbalanced(spark, sf_dir):
    """balance_undersample BINARY path (target_utils.py:255-276): minority
    kept whole; majority md5-rank-sampled to
    min(max_count, 5·(min + max(5000 − 2·min, 0)))."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (F.col("l_orderkey") % 15 == 0).cast("int").alias("y"),
    )
    out = SMP.undersample_imbalanced(li, "y", ["l_orderkey", "l_linenumber"])
    return out.select("l_orderkey", "l_linenumber", "y")


@_q(
    "undersample_multiclass",
    """
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_orderkey % 30000 = 0 THEN 9
                  WHEN l_orderkey % 10 < 7 THEN 0
                  WHEN l_orderkey % 10 < 9 THEN 1 ELSE 2 END AS cls
      FROM lineitem
    ), c AS (SELECT cls, count(*) AS n FROM t GROUP BY cls),
    tot AS (SELECT sum(n) AS s FROM c),
    top2 AS (SELECT cls FROM c ORDER BY n DESC, CAST(cls AS VARCHAR) ASC LIMIT 2),
    rare AS (
      SELECT c.cls FROM c, tot
      WHERE CAST(c.n AS DOUBLE) / tot.s < 0.0001
        AND c.cls NOT IN (SELECT cls FROM top2)
    ), kept AS (
      SELECT cls, n FROM c WHERE cls NOT IN (SELECT cls FROM rare)
    ), st AS (
      SELECT count(*) AS k, min(n) AS mn, max(n) AS mx, sum(n) AS tot2 FROM kept
    ), minc AS (
      SELECT cls FROM kept ORDER BY n ASC, CAST(cls AS VARCHAR) DESC LIMIT 1
    ), quota AS (
      SELECT CASE WHEN tot2 > 25000 AND mx > 2 * mn
                  THEN CAST(floor(2 * (mn + greatest(
                       (25000.0 - k * mn) / (k - 1), 0))) AS BIGINT)
                  ELSE NULL END AS q
      FROM st
    ), ranked AS (
      SELECT l_orderkey, l_linenumber, cls,
             row_number() OVER (
               PARTITION BY cls
               ORDER BY md5(CAST(l_orderkey AS VARCHAR) || chr(31)
                            || CAST(l_linenumber AS VARCHAR)),
                        l_orderkey, l_linenumber) AS rk
      FROM t WHERE cls NOT IN (SELECT cls FROM rare)
    )
    SELECT l_orderkey, l_linenumber, cls FROM ranked
    WHERE cls = (SELECT cls FROM minc)
       OR (SELECT q FROM quota) IS NULL
       OR rk <= (SELECT q FROM quota)
    """,
)
def undersample_multiclass(spark, sf_dir):
    """balance_undersample MULTICLASS path (target_utils.py:200-254):
    <0.01% rare classes drop (top-2 protected), then per non-minority
    class quota 2·(min + max((25000 − k·min)/(k−1), 0)) when the
    gates (rows > 25 000, max > 2·min) trip."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_orderkey") % 30000 == 0, 9)
        .when(F.col("l_orderkey") % 10 < 7, 0)
        .when(F.col("l_orderkey") % 10 < 9, 1)
        .otherwise(2).alias("cls"),
    )
    out = SMP.undersample_imbalanced(
        li, "cls", ["l_orderkey", "l_linenumber"], task_type="MULTICLASS"
    )
    return out.select("l_orderkey", "l_linenumber", "cls")


@_q(
    "system_record_ids",
    """
    SELECT event_id,
           CAST(row_number() OVER (
             ORDER BY date_trunc('day', ts),
                      md5(concat_ws(chr(31),
                          CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR)))
           ) - 1 AS BIGINT) AS system_record_id
    FROM events
    """,
)
def system_record_ids(spark, sf_dir):
    """Deterministic fit sort + dense record ids
    (features_enricher.py:4488-4595, utils/sort.py:16-61)."""
    from upgini_spark.pipeline.record_ids import add_system_record_id

    ev = _t(spark, sf_dir, "events").withColumn("__day__", F.date_trunc("day", "ts"))
    out = add_system_record_id(ev, "__day__", ["user_id", "event_id"])
    return out.select("event_id", F.col("system_record_id").cast("long").alias("system_record_id"))


@_q(
    "cross_series_ratio",
    """
    SELECT event_id,
           round(CASE WHEN avg(value) OVER (PARTITION BY date_trunc('day', ts)) = 0
                 THEN NULL ELSE value / avg(value)
                      OVER (PARTITION BY date_trunc('day', ts)) END, 6) AS vs_market
    FROM events
    """,
)
def cross_series_ratio(spark, sf_dir):
    """CrossSeriesInteraction analog (autofe/timeseries/cross.py:13-149):
    each series' value against the aligned cross-sectional aggregate."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    market = F.avg("value").over(Window.partitionBy(day))
    return ev.select(
        "event_id", F.round(F.try_divide(F.col("value"), market), 6).alias("vs_market")
    )


# ===========================================================================
# Batch 4: converters, CV folds, unnest/one-hot, cross-series, PSI-quantile,
# date-distribution, multimodal
# ===========================================================================

from upgini_spark.operators import binary as OB  # noqa: E402
from upgini_spark.operators.timeseries import cross_series_interaction  # noqa: E402
from upgini_spark.pipeline import cv as CV  # noqa: E402
from upgini_spark.pipeline import unnest as UN  # noqa: E402


@_q(
    "ip_converters",
    """
    WITH t AS (
      SELECT c_custkey,
             printf('%d.%d.%d.%d', 10 + c_custkey % 200, c_custkey % 256,
                    (c_custkey * 7) % 256, 1 + c_custkey % 254) AS ip
      FROM customer
    )
    SELECT c_custkey, ip,
           (10 + c_custkey % 200) * 16777216 + (c_custkey % 256) * 65536
             + ((c_custkey * 7) % 256) * 256 + (1 + c_custkey % 254) AS ip_int,
           (10 + c_custkey % 200) || '.' || (c_custkey % 256) AS ip_prefix
    FROM t
    """,
)
def ip_converters(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    ip = F.format_string(
        "%d.%d.%d.%d",
        10 + F.col("c_custkey") % 200,
        F.col("c_custkey") % 256,
        (F.col("c_custkey") * 7) % 256,
        1 + F.col("c_custkey") % 254,
    )
    return c.select(
        "c_custkey",
        ip.alias("ip"),
        K.ipv4_to_int(ip).alias("ip_int"),
        K.ipv4_prefix(ip, 2).alias("ip_prefix"),
    )


@_q(
    "date_percentile_bucket",
    """
    WITH t AS (
      SELECT o_orderkey,
             (CASE WHEN o_totalprice >= 25000 THEN 1 ELSE 0 END
              + CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END
              + CASE WHEN o_totalprice >= 200000 THEN 1 ELSE 0 END) AS cnt
      FROM orders
    )
    SELECT o_orderkey, CASE WHEN cnt > 0 THEN cnt END AS pct_bucket FROM t
    """,
)
def date_percentile_bucket(spark, sf_dir):
    """DatePercentile fixed-bounds slice (date.py:289-323): no bound hit
    → null (reference _perc NaN semantics)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        D.date_percentile(F.col("o_totalprice"), [25000.0, 100000.0, 200000.0])
        .cast("int").alias("pct_bucket"),
    )


@_q(
    "date_percentile_offset",
    """
    WITH t AS (
      SELECT o_orderkey,
             o_totalprice / 1000.0 AS x,
             12 * (year(CAST(o_orderdate AS DATE)) - 1995)
               + (month(CAST(o_orderdate AS DATE)) - 1) AS mdiff
      FROM orders
    ), b AS (
      SELECT o_orderkey,
             (CASE WHEN x >= 0.0 + mdiff * 2 THEN 1 ELSE 0 END
              + CASE WHEN x >= 60.0 + mdiff * 2 THEN 1 ELSE 0 END
              + CASE WHEN x >= 120.0 + mdiff * 2 THEN 1 ELSE 0 END
              + CASE WHEN x >= 240.0 + mdiff * 2 THEN 1 ELSE 0 END) AS cnt
      FROM t
    )
    SELECT o_orderkey, CASE WHEN cnt > 0 THEN cnt END AS pct_bucket FROM b
    """,
)
def date_percentile_offset(spark, sf_dir):
    """DatePercentile month-offset bound scaling (date.py:289-323):
    per-row bounds = zero_bounds + month_diff·step with
    month_diff = 12·(year−zero_year) + (month−zero_month)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        D.date_percentile(
            F.col("o_totalprice") / 1000.0,
            [0.0, 60.0, 120.0, 240.0],
            date=F.col("o_orderdate"),
            zero_year=1995,
            zero_month=1,
            step=2,
        ).alias("pct_bucket"),
    )


@_q(
    "cv_stratified_folds",
    """
    SELECT event_id,
           CAST((row_number() OVER (
             PARTITION BY event_type
             ORDER BY md5(concat_ws(chr(31), CAST(event_id AS VARCHAR))), event_id
           ) - 1) % 5 AS INT) AS fold_id
    FROM events
    """,
)
def cv_stratified_folds(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return CV.stratified_kfold_column(ev, "event_type", ["event_id"], 5).select(
        "event_id", "fold_id"
    )


@_q(
    "cv_time_series_folds",
    """
    WITH n AS (
      SELECT count(*) AS total, count(*) // 5 AS ts_size FROM events
    )
    SELECT event_id,
           CASE WHEN rn >= (SELECT total - 4 * ts_size FROM n)
                THEN CAST((rn - (SELECT total - 4 * ts_size FROM n))
                          // (SELECT ts_size FROM n) AS INT) END AS fold_id
    FROM (
      SELECT event_id,
             row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
      FROM events
    )
    """,
)
def cv_time_series_folds(spark, sf_dir):
    """sklearn-exact TimeSeriesSplit boundaries as a fold column
    (test_size = n//(k+1); remainder rows stay in the train-only head)."""
    ev = _t(spark, sf_dir, "events")
    return CV.time_series_split_column(ev, "ts", ["event_id"], 4).select(
        "event_id", "fold_id"
    )


@_q(
    "cv_blocked_folds",
    """
    WITH n AS (SELECT count(*) // 3 AS fold_size FROM events),
    r AS (
      SELECT event_id, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
      FROM events
    )
    SELECT event_id,
           CASE WHEN rn < 3 * (SELECT fold_size FROM n)
                THEN CAST(rn // (SELECT fold_size FROM n) AS INT) END AS fold_id,
           CASE WHEN rn >= 3 * (SELECT fold_size FROM n) THEN 'unused'
                WHEN rn % (SELECT fold_size FROM n)
                     -- floor, not CAST: DuckDB CAST rounds where python
                     -- int() truncates (0.8*fold_size with .8/.6 fracs)
                     >= CAST(floor(0.8 * (SELECT fold_size FROM n)) AS BIGINT)
                THEN 'test' ELSE 'train' END AS cv_role
    FROM r
    """,
)
def cv_blocked_folds(spark, sf_dir):
    """Reference-exact BlockedTimeSeriesSplit as a column: n//k blocks,
    int((1-test_size)*fold_size) boundary, trailing remainder 'unused'
    (blocked_ts_logic.csv replayed in tests)."""
    ev = _t(spark, sf_dir, "events")
    return CV.blocked_time_series_column(ev, "ts", ["event_id"], 3, 0.2).select(
        "event_id", "fold_id", "cv_role"
    )


@_q(
    "cv_hash_kfold",
    """
    SELECT event_id,
           CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::UBIGINT
                % 5 AS INT) AS fold_id
    FROM events
    """,
)
def cv_hash_kfold(spark, sf_dir):
    """Deterministic hash KFold: fold = first-32-md5-bits mod k — the
    shuffle-equivalent of the reference's seeded KFold (metrics.py CV
    factory), reproducible on any cluster size."""
    ev = _t(spark, sf_dir, "events")
    return CV.kfold_column(ev, ["event_id"], 5).select("event_id", "fold_id")


@_q(
    "unnest_multi_keys",
    """
    SELECT event_id, 'user_id' AS search_key_unnest,
           CAST(user_id AS VARCHAR) AS key_val
    FROM events
    UNION ALL
    SELECT event_id, 'event_type' AS search_key_unnest, event_type AS key_val
    FROM events
    """,
)
def unnest_multi_keys(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_type"),
    )
    out = UN.explode_multi_keys(ev, ["user_id", "event_type"], "key_val")
    return out.select("event_id", UN.SEARCH_KEY_UNNEST, "key_val")


@_q(
    "one_hot_decode",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'F' THEN '0'
                WHEN o_orderstatus = 'O' THEN '1'
                WHEN o_orderstatus = 'P' THEN '2' END AS cat
    FROM orders
    """,
)
def one_hot_decode(spark, sf_dir):
    """Build a one-hot group from o_orderstatus, detect it, decode it back."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderstatus") == "F").cast("int").alias("cat0"),
        (F.col("o_orderstatus") == "O").cast("int").alias("cat1"),
        (F.col("o_orderstatus") == "P").cast("int").alias("cat2"),
    )
    groups = UN.detect_one_hot_groups(o)
    assert "cat" in groups, groups
    return UN.decode_one_hot(o, "cat", groups["cat"]).select("o_orderkey", "cat")


@_q(
    "cross_series_click_vs_purchase",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, event_type,
             round(avg(value), 6) AS v
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2
    ),
    l AS (SELECT d, v FROM daily WHERE event_type = 'click'),
    r AS (SELECT d, v FROM daily WHERE event_type = 'purchase')
    SELECT coalesce(l.d, r.d) AS d,
           round(l.v - r.v, 6) AS click_minus_purchase
    FROM l FULL JOIN r ON l.d = r.d
    """,
)
def cross_series_click_vs_purchase(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), "event_type"
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    out = cross_series_interaction(
        daily, "d", ["event_type"], ["click"], ["purchase"], "v",
        OB.subtract, out_col="click_minus_purchase",
    )
    return (
        out.filter(F.col("event_type") == "click")
        .select("d", F.round("click_minus_purchase", 6).alias("click_minus_purchase"))
    )


@_q(
    "psi_quantile_halves",
    """
    WITH d AS (
      SELECT value AS v, CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END AS split
      FROM events
    ), e AS (
      SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS edges
      FROM d WHERE split = 0
    ), binned AS (
      SELECT split,
             len(list_filter((SELECT edges FROM e), x -> v > x)) AS bin
      FROM d
    ), counts AS (
      SELECT split, bin, count(*) AS n FROM binned GROUP BY 1, 2
    ), shares AS (
      SELECT split, bin,
             CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY split) AS share
      FROM counts
    )
    SELECT CAST(p.split AS INT) AS split,
           round(sum((p.share + 1e-6 - coalesce(q.share, 0) - 1e-6)
                 * ln((p.share + 1e-6) / (coalesce(q.share, 0) + 1e-6))), 6) AS psi
    FROM shares p
    LEFT JOIN (SELECT bin, share FROM shares WHERE split = 0) q USING (bin)
    WHERE p.split != 0 GROUP BY p.split
    """,
)
def psi_quantile_halves(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = ST.psi_quantile(
        ev, "value", F.when(F.dayofmonth("ts") > 15, 1).otherwise(0), n_bins=10
    )
    return out.select(F.col("split").cast("int").alias("split"), "psi")


@_q(
    "date_distribution_check",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1
    ), rng AS (
      SELECT min(d) AS lo_d,
             min(d) + CAST(floor(datediff('day', min(d), max(d)) / 2.0)
                      AS INT) AS mid
      FROM daily
    )
    SELECT round(avg(CASE WHEN d <= (SELECT mid FROM rng) THEN n END), 6)
             AS first_half_mean,
           round(avg(CASE WHEN d > (SELECT mid FROM rng) THEN n END), 6)
             AS second_half_mean,
           round(avg(CASE WHEN d > (SELECT mid FROM rng) THEN n END)
                 / avg(CASE WHEN d <= (SELECT mid FROM rng) THEN n END), 6) AS ratio,
           (avg(CASE WHEN d > (SELECT mid FROM rng) THEN n END)
            / avg(CASE WHEN d <= (SELECT mid FROM rng) THEN n END))
             BETWEEN 0.8 AND 1.2 AS is_stable
    FROM daily
    """,
)
def date_distribution_check(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ST.date_distribution_check(ev, "ts")


@_q(
    "is_time_series_stats",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events GROUP BY 1
    )
    SELECT count(DISTINCT d) AS n_unique_dates,
           datediff('day', min(d), max(d)) + 1 AS span_days,
           round(CAST(count(DISTINCT d) AS DOUBLE)
                 / (datediff('day', min(d), max(d)) + 1), 6) AS date_coverage,
           round(avg(CASE WHEN c > 1 THEN 1.0 ELSE 0.0 END), 6)
             AS multi_row_date_share,
           count(DISTINCT c) AS n_distinct_daily_counts
    FROM daily
    """,
)
def is_time_series_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = ST.is_time_series_stats(ev, "ts")
    return out.select(
        "n_unique_dates",
        F.col("span_days").cast("long").alias("span_days"),
        "date_coverage", "multi_row_date_share", "n_distinct_daily_counts",
    )


@_q(
    "multimodal_meta",
    """
    SELECT printf('m%09d', r) AS media_id,
           ['image','audio','video'][1 + r % 3] AS media_type_stub,
           32 * (1 + r % 8) AS n_bytes,
           sha256(repeat(md5(CAST(r AS VARCHAR)), 1 + r % 8)) AS content_sha256
    FROM (SELECT range AS r FROM range(0, 500))
    """,
)
def multimodal_meta(spark, sf_dir):
    """Binary-column plumbing through Arrow mapInPandas; payload metadata
    is oracle-checked (the media-type hash differs per engine → stubbed
    deterministically here from row id)."""
    from upgini_spark.functions.multimodal import synthetic_media, extract_media_features

    media = synthetic_media(spark, 500)
    feats = extract_media_features(media)
    # n_bytes and sha256 derive purely from the row id -> portable oracle
    rid = F.regexp_extract("media_id", r"(\d+)", 1).cast("long")
    return feats.select(
        "media_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (rid % 3 + 1).cast("int"),
        ).alias("media_type_stub"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "content_sha256",
    )


@_q(
    "multimodal_features",
    """
    WITH t AS (SELECT range AS i FROM range(0, 500)),
    p AS (
      SELECT printf('m%09d', i) AS media_id,
             repeat(md5(CAST(i AS VARCHAR)), CAST(i % 8 + 1 AS INT)) AS payload
      FROM t
    ), s AS (SELECT media_id, sha256(payload) AS h FROM p)
    SELECT media_id, CAST(x AS INT) AS dim,
           CAST(CAST(('0x' || substr(h, 4 * x + 1, 4))::UINTEGER
                     / 65535.0 AS FLOAT) AS DOUBLE) AS feat_value
    FROM s, generate_series(0, 15) AS g(x)
    """,
)
def multimodal_features(spark, sf_dir):
    """Arrow mapInPandas media plumbing with the deterministic fake decode
    (sha256-derived 16-dim embedding) — the oracle recomputes the same
    bytes → digest → float pipeline in SQL, proving batch shape, schema,
    and kernel determinism end-to-end.

    The 16-dim vector is exploded to (media_id, dim, feat_value) rows:
    the driver canonicalizes results with a pandas lexsort, and raw
    array<float> cells are unhashable there (CORRECTNESS_r02 crash).
    feat_value is the float32 widened to double — exact on both engines,
    no rounding needed."""
    from upgini_spark.functions.multimodal import synthetic_media, extract_media_features

    feats = extract_media_features(synthetic_media(spark, 500))
    return feats.select(
        "media_id", F.posexplode("features").alias("dim", "fv")
    ).select(
        "media_id",
        F.col("dim").cast("int").alias("dim"),
        F.col("fv").cast("double").alias("feat_value"),
    )


@_q(
    "media_decode_real",
    """
    WITH ids AS (SELECT range AS id FROM range(0, 400)),
    wav AS (
      SELECT 'm' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
             'wav' AS format,
             CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
             8000 AS sample_rate, 1 AS n_channels,
             CAST((400 + (id % 5) * 80) // 8 AS INT) AS duration_ms,
             round((1000 + (id % 7) * 1000) / 32768.0, 6) AS f0,
             round((1000 + (id % 7) * 1000) / 32768.0, 6) AS f1,
             round((1000 + (id % 7) * 1000) / 32768.0, 6) AS f2,
             CAST(NULL AS DOUBLE) AS f3
      FROM ids WHERE id % 2 = 0
    ), ppm AS (
      SELECT 'm' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
             'ppm' AS format,
             CAST(4 + id % 5 AS INT) AS width, CAST(3 + id % 4 AS INT) AS height,
             CAST(NULL AS INT) AS sample_rate, CAST(NULL AS INT) AS n_channels,
             CAST(NULL AS INT) AS duration_ms,
             round((id % 256) / 255.0, 6) AS f0,
             round(((id * 7) % 256) / 255.0, 6) AS f1,
             round(((id * 13) % 256) / 255.0, 6) AS f2,
             round(0.2126 * ((id % 256) / 255.0)
                   + 0.7152 * (((id * 7) % 256) / 255.0)
                   + 0.0722 * (((id * 13) % 256) / 255.0), 6) AS f3
      FROM ids WHERE id % 2 = 1
    )
    SELECT * FROM wav UNION ALL SELECT * FROM ppm
    """,
)
def media_decode_real(spark, sf_dir):
    """REAL media decode (r4): the payloads are genuine WAV (stdlib wave)
    and binary-PPM files synthesized per id inside an Arrow kernel, the
    decode stage sniffs magic bytes and parses them with stdlib-only
    decoders (multimodal.decode_media), and the oracle replays the
    CLOSED-FORM ground truth of every decoded field — duration from the
    frame count, square-wave RMS == amplitude/32768, solid-color channel
    means — so a wrong byte anywhere in the encode→decode round-trip
    hash-fails. Decode math is exact in f64 (integer sums, power-of-two
    divisors, n-cancelling means), so round(·, 6) is boundary-safe."""
    from upgini_spark.functions.multimodal import decode_media, synthetic_real_media

    out = decode_media(synthetic_real_media(spark, 400))

    def fe(i):
        return F.round(F.try_element_at("features", F.lit(i)), 6)

    return out.select(
        "media_id", "format", "width", "height", "sample_rate",
        "n_channels", "duration_ms",
        fe(1).alias("f0"), fe(2).alias("f1"), fe(3).alias("f2"),
        fe(4).alias("f3"),
    )


@_q(
    "media_decode_png",
    """
    WITH ids AS (SELECT range AS id FROM range(0, 400)),
    dims AS (
      SELECT id, 4 + id % 5 AS w, 3 + id % 4 AS h FROM ids
    ), means AS (
      SELECT id, w, h,
        CASE id % 3
          WHEN 0 THEN (id % 256) / 255.0
          WHEN 1 THEN CAST(h * (SELECT CAST(sum((id + 17 * x.range) % 256) AS BIGINT)
                                FROM range(0, 9) x WHERE x.range < w) AS DOUBLE) / (w * h) / 255.0
          ELSE CAST(h * (SELECT CAST(sum((id + 11 * x.range) % 256) AS BIGINT)
                         FROM range(0, 9) x WHERE x.range < w) AS DOUBLE) / (w * h) / 255.0
        END AS f0,
        CASE id % 3
          WHEN 0 THEN ((id * 7) % 256) / 255.0
          WHEN 1 THEN ((id * 7) % 256) / 255.0
          ELSE CAST(h * (SELECT CAST(sum((id + 11 * x.range) % 256) AS BIGINT)
                         FROM range(0, 9) x WHERE x.range < w) AS DOUBLE) / (w * h) / 255.0
        END AS f1,
        CASE id % 3
          WHEN 0 THEN ((id * 13) % 256) / 255.0
          WHEN 1 THEN CAST(w * (SELECT CAST(sum((id + 29 * y.range) % 256) AS BIGINT)
                                FROM range(0, 9) y WHERE y.range < h) AS DOUBLE) / (w * h) / 255.0
          ELSE CAST(h * (SELECT CAST(sum((id + 11 * x.range) % 256) AS BIGINT)
                         FROM range(0, 9) x WHERE x.range < w) AS DOUBLE) / (w * h) / 255.0
        END AS f2
      FROM dims
    )
    SELECT 'p' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
           'png' AS format,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(f0, 6) AS f0, round(f1, 6) AS f1, round(f2, 6) AS f2,
           round(0.2126 * f0 + 0.7152 * f1 + 0.0722 * f2, 6) AS f3
    FROM means
    """,
)
def media_decode_png(spark, sf_dir):
    """Pure-stdlib PNG decode (r5, multimodal._decode_png): the payloads
    are genuine PNG files — IHDR/IDAT/IEND chunk stream, CRC32, zlib
    deflate — synthesized per id inside an Arrow kernel with every
    scanline FILTER TYPE cycled per row ((id+y) % 5), across grayscale /
    RGB / RGBA color types. The oracle replays the closed-form channel
    means (solid colors and modular x/y gradients) with the decoder's
    exact division sequence (sum / n / 255.0), so a wrong unfilter
    branch, chunk walk, stride, or alpha handling hash-fails. No
    reference counterpart (upgini has no media surface) — semantics
    defined here, like the r4 WAV/PPM/Y4M work."""
    from upgini_spark.functions.multimodal import decode_media, synthetic_png_media

    out = decode_media(synthetic_png_media(spark, 400))

    def fe(i):
        return F.round(F.try_element_at("features", F.lit(i)), 6)

    return out.select(
        "media_id", "format", "width", "height",
        fe(1).alias("f0"), fe(2).alias("f1"), fe(3).alias("f2"),
        fe(4).alias("f3"),
    )


@_q(
    "media_decode_gif_bmp",
    """
    WITH ids AS (SELECT range AS id FROM range(0, 400)),
    bmp AS (
      SELECT id, 4 + id % 5 AS w, 3 + id % 4 AS h FROM ids WHERE id % 2 = 0
    ), bmp_m AS (
      SELECT id, w, h,
        CAST(h * (SELECT CAST(sum((id + 17 * x.range) % 256) AS BIGINT)
                  FROM range(0, 9) x WHERE x.range < w) AS DOUBLE)
          / (w * h) / 255.0 AS f0,
        ((id * 7) % 256) / 255.0 AS f1,
        CAST(w * (SELECT CAST(sum((id + 29 * y.range) % 256) AS BIGINT)
                  FROM range(0, 9) y WHERE y.range < h) AS DOUBLE)
          / (w * h) / 255.0 AS f2
      FROM bmp
    ), gif AS (
      SELECT id, 5 + id % 6 AS w, 4 + id % 5 AS h FROM ids WHERE id % 2 = 1
    ), gif_m AS (
      SELECT id, w, h,
        CAST((SELECT CAST(sum((id + 40 * ((x.range + y.range) % 4)) % 256) AS BIGINT)
              FROM range(0, 11) x, range(0, 9) y
              WHERE x.range < w AND y.range < h) AS DOUBLE)
          / (w * h) / 255.0 AS f0,
        CAST((SELECT CAST(sum((id * 3 + 50 * ((x.range + y.range) % 4)) % 256) AS BIGINT)
              FROM range(0, 11) x, range(0, 9) y
              WHERE x.range < w AND y.range < h) AS DOUBLE)
          / (w * h) / 255.0 AS f1,
        CAST((SELECT CAST(sum((id * 5 + 60 * ((x.range + y.range) % 4)) % 256) AS BIGINT)
              FROM range(0, 11) x, range(0, 9) y
              WHERE x.range < w AND y.range < h) AS DOUBLE)
          / (w * h) / 255.0 AS f2
      FROM gif
    ), both_m AS (
      SELECT id, 'bmp' AS format, w, h, f0, f1, f2 FROM bmp_m
      UNION ALL
      SELECT id, 'gif' AS format, w, h, f0, f1, f2 FROM gif_m
    )
    SELECT 'g' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
           format, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(f0, 6) AS f0, round(f1, 6) AS f1, round(f2, 6) AS f2,
           round(0.2126 * f0 + 0.7152 * f1 + 0.0722 * f2, 6) AS f3
    FROM both_m
    """,
)
def media_decode_gif_bmp(spark, sf_dir):
    """Pure-stdlib GIF + BMP decode (r5 continuation, multimodal.
    _decode_gif/_decode_bmp): the payloads are genuine files — GIF89a
    with a REAL variable-width LSB-first LZW stream (CLEAR/EOI, width
    growth, 12-bit cap), BMP with BGR byte order and 4-byte row padding
    — synthesized per id inside an Arrow kernel. The oracle replays the
    closed-form channel means (modular gradients for BMP, palette-stripe
    counting for GIF) with the decoder's exact division sequence
    (sum / n / 255.0), so a wrong LZW width bump, palette index, BGR
    swap, or padding byte hash-fails. The LZW decoder is additionally
    verified against an encoder-independent literal-only stream in
    tests. No reference counterpart (upgini has no media surface)."""
    from upgini_spark.functions.multimodal import (
        decode_media,
        synthetic_gif_bmp_media,
    )

    out = decode_media(synthetic_gif_bmp_media(spark, 400))

    def fe(i):
        return F.round(F.try_element_at("features", F.lit(i)), 6)

    return out.select(
        "media_id", "format", "width", "height",
        fe(1).alias("f0"), fe(2).alias("f1"), fe(3).alias("f2"),
        fe(4).alias("f3"),
    )


@_q(
    "media_decode_jpeg",
    """
    WITH ids AS (SELECT range AS id FROM range(0, 400)),
    p AS (
      SELECT id,
        CASE WHEN id % 2 = 0 THEN 6 + id % 11 ELSE 6 + id % 13 END AS w,
        CASE WHEN id % 2 = 0 THEN 5 + id % 9 ELSE 5 + id % 11 END AS h,
        CASE id % 5 WHEN 0 THEN 3 WHEN 1 THEN 5 WHEN 2 THEN 8
                    WHEN 3 THEN 12 ELSE 16 END AS q0
      FROM ids
    ), blocks AS (
      SELECT p.id, p.w, p.h, p.q0,
        (LEAST(p.w, 8 * (bx.range + 1)) - 8 * bx.range) AS cx,
        (LEAST(p.h, 8 * (by.range + 1)) - 8 * by.range) AS cy,
        CASE WHEN p.id % 2 = 0
             THEN (p.id + 37 * bx.range + 53 * by.range) % 256
             ELSE (3 * p.id + 41 * bx.range + 59 * by.range) % 256
        END AS lv
      FROM p, range(0, 3) bx, range(0, 3) by
      WHERE 8 * bx.range < p.w AND 8 * by.range < p.h
    ), dec AS (
      SELECT id, w, h, cx, cy,
        LEAST(255, GREATEST(0,
          CAST(floor((CAST(floor((2.0 * (8 * (lv - 128)) + q0)
                             / (2 * q0)) AS BIGINT) * q0 + 4)
                     / 8.0) AS BIGINT) + 128)) AS lp
      FROM blocks
    ), m AS (
      SELECT id, w, h,
        CAST(sum(lp * cx * cy) AS DOUBLE) / (w * h) / 255.0 AS mn
      FROM dec GROUP BY id, w, h
    )
    SELECT 'j' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
           'jpeg' AS format,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(mn, 6) AS f0, round(mn, 6) AS f1, round(mn, 6) AS f2,
           round(0.2126 * mn + 0.7152 * mn + 0.0722 * mn, 6) AS f3
    FROM m
    """,
)
def media_decode_jpeg(spark, sf_dir):
    """Pure-stdlib baseline JPEG decode (r5, functions/jpeg.py): the
    payloads are genuine baseline JFIF streams — DQT/DHT/SOF0/DRI/SOS
    marker structure, canonical-Huffman entropy coding with byte
    stuffing and restart markers, grayscale AND interleaved YCbCr 4:2:0
    — synthesized per id inside an Arrow kernel. Every 8x8 block is
    solid (DC-only), which makes the whole encode->decode loop
    INTEGER-exact (libjpeg-style DC shortcut: clamp(floor((dc+4)/8) +
    128)), so the oracle replays the quantizer rounding, the DC diff
    prediction chain across the MCU raster, restart resets, 4:2:0
    block interleave, and the crop arithmetic closed-form — a wrong
    Huffman bit, stuffed byte, predictor reset, or block-order swap
    hash-fails. General (AC-bearing) blocks are covered in pytest
    against an independent numpy IDCT. No reference counterpart
    (upgini has no media surface), like the PNG/GIF/BMP work."""
    from upgini_spark.functions.multimodal import decode_media, synthetic_jpeg_media

    out = decode_media(synthetic_jpeg_media(spark, 400))

    def fe(i):
        return F.round(F.try_element_at("features", F.lit(i)), 6)

    return out.select(
        "media_id", "format", "width", "height",
        fe(1).alias("f0"), fe(2).alias("f1"), fe(3).alias("f2"),
        fe(4).alias("f3"),
    )


@_q(
    "media_decode_au",
    """
    WITH ids AS (SELECT range AS id FROM range(0, 400)),
    p AS (SELECT id, 160 + (id % 5) * 40 AS n FROM ids),
    cw AS (
      SELECT p.id, p.n,
        (13 * p.id + 7 * j.range) % 256 AS u,
        255 - ((13 * p.id + 7 * j.range) % 256) AS c,
        xor((13 * p.id + 7 * j.range) % 256, 85) AS a
      FROM p, range(0, 360) j
      WHERE j.range < p.n
    ), lin AS (
      SELECT id, n,
        CASE WHEN id % 2 = 0 THEN
          -- mu-law (encoding 1): complemented code c = 255 - u
          CASE WHEN c >= 128
               THEN -(((c % 16) * 8 + 132)
                      * CAST(round(power(2, floor((c % 128) / 16.0))) AS BIGINT)
                      - 132)
               ELSE ((c % 16) * 8 + 132)
                    * CAST(round(power(2, floor((c % 128) / 16.0))) AS BIGINT)
                    - 132
          END
        ELSE
          -- A-law (encoding 27): a = u XOR 0x55, bit 7 set = positive
          CASE WHEN a >= 128 THEN 1 ELSE -1 END *
          CASE WHEN floor((a % 128) / 16.0) = 0 THEN (a % 16) * 16 + 8
               ELSE ((a % 16) * 16 + 264)
                    * CAST(round(power(2, floor((a % 128) / 16.0) - 1))
                           AS BIGINT)
          END
        END AS s
      FROM cw
    ), agg AS (
      SELECT id, n,
        CAST(sum(s * s) AS BIGINT) AS ss,
        CAST(sum(abs(s)) AS BIGINT) AS sa,
        CAST(max(abs(s)) AS BIGINT) AS mx,
        count(*) AS k
      FROM lin GROUP BY id, n
    )
    SELECT 'a' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
           'au' AS format,
           CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS n_channels,
           CAST(floor(n / 8.0) AS INT) AS duration_ms,
           round(sqrt(ss * 1.0 / k) / 32768.0, 6) AS f0,
           round(sa * 1.0 / k / 32768.0, 6) AS f1,
           round(mx * 1.0 / 32768.0, 6) AS f2
    FROM agg
    """,
)
def media_decode_au(spark, sf_dir):
    """Sun/NeXT .au G.711 audio decode (r5, multimodal._decode_au): the
    payloads are genuine .au files — big-endian header with annotation
    padding and unknown-length-sentinel variants — whose 8-bit G.711
    samples hit EVERY code point across the fixture set (byte j =
    (13 id + 7 j) % 256): even ids mu-law (encoding 1), odd ids A-law
    (encoding 27). The oracle replays BOTH expansion tables as pure
    integer bit-math (mu: c = 255-u, ((c%16)*8+132)*2^((c%128)//16) -
    132; A: a = u XOR 0x55, seg-0 special case, bit 7 set = positive —
    each validated exhaustively against the Python tables for all 256
    codes) and the decoder's exact division sequence (sqrt(ss/k)/32768,
    sa/k/32768, mx/32768), so a wrong table entry, header offset,
    encoding dispatch, or length-sentinel branch hash-fails. No
    reference counterpart (upgini has no media surface); second and
    third real audio codecs beside PCM WAV."""
    from upgini_spark.functions.multimodal import decode_media, synthetic_au_media

    out = decode_media(synthetic_au_media(spark, 400))

    def fe(i):
        return F.round(F.try_element_at("features", F.lit(i)), 6)

    return out.select(
        "media_id", "format", "sample_rate", "n_channels", "duration_ms",
        fe(1).alias("f0"), fe(2).alias("f1"), fe(3).alias("f2"),
    )


@_q(
    "media_probe_mp4",
    """
    WITH ids AS (SELECT range AS id FROM range(0, 400)),
    p AS (
      SELECT id,
        (id * 37) % 100000 AS dur,
        CASE id % 5 WHEN 0 THEN 600 WHEN 1 THEN 1000 WHEN 2 THEN 90000
                    WHEN 3 THEN 44100 ELSE 24 END AS ts,
        16 * (1 + id % 40) AS w, 16 * (1 + id % 23) AS h,
        CASE id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
                    WHEN 3 THEN 44100 ELSE 48000 END AS rate,
        1 + id % 2 AS ch,
        CASE WHEN id % 6 = 0 THEN 2.0 ELSE 1.0 END AS na
      FROM ids
    )
    SELECT 'v' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
           'mp4' AS format,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(rate AS INT) AS sample_rate, CAST(ch AS INT) AS n_channels,
           CAST(floor(dur * 1000.0 / ts) AS INT) AS duration_ms,
           round(1.0, 6) AS f0, round(na, 6) AS f1
    FROM p
    """,
)
def media_probe_mp4(spark, sf_dir):
    """ISO-BMFF (MP4) container probe (r5, multimodal._probe_mp4): the
    payloads are genuine minimal MP4s — ftyp + moov(mvhd + video/audio
    traks with tkhd/mdia/mdhd/hdlr/minf/stbl/stsd) + mdat, including
    64-bit largesize boxes, mvhd version 1, and multi-audio-track
    variants — synthesized per id in an Arrow kernel. The probe walks
    the box tree per ISO/IEC 14496-12 and extracts movie duration
    (mvhd timescale math, int-truncation replayed as floor in SQL),
    video geometry (16.16 fixed-point tkhd), audio rate/channels
    (AudioSampleEntry offsets), and track counts. SAMPLE decode of
    H.264/AAC stays behind the documented stub (codec libs absent) —
    this is the metadata pass a 100-TB ingest pipeline runs first.
    No reference counterpart (upgini has no media surface)."""
    from upgini_spark.functions.multimodal import decode_media, synthetic_mp4_media

    out = decode_media(synthetic_mp4_media(spark, 400))

    def fe(i):
        return F.round(F.try_element_at("features", F.lit(i)), 6)

    return out.select(
        "media_id", "format", "width", "height", "sample_rate",
        "n_channels", "duration_ms", fe(1).alias("f0"), fe(2).alias("f1"),
    )


@_q(
    "media_probe_mp3",
    """
    WITH ids AS (SELECT range AS id FROM range(0, 400)),
    p AS (
      SELECT id,
        3 + id % 7 AS frames,
        CASE 1 + id % 14
          WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
          WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
          WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
          WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END AS kbps,
        CASE id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000
          END AS rate,
        CASE WHEN id % 2 = 1 THEN 1 ELSE 2 END AS ch
      FROM ids
    )
    SELECT 'z' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
           'mp3' AS format,
           CAST(rate AS INT) AS sample_rate, CAST(ch AS INT) AS n_channels,
           CAST(floor(frames * 1152 * 1000.0 / rate) AS INT) AS duration_ms,
           round(CAST(frames AS DOUBLE), 6) AS f0,
           round(CAST(kbps AS DOUBLE), 6) AS f1
    FROM p
    """,
)
def media_probe_mp3(spark, sf_dir):
    """MPEG1 Layer III frame-header walk (r5, multimodal._probe_mp3):
    genuine MP3 streams — real 4-byte frame headers over the public
    bitrate/sample-rate tables, per-frame padding bits, zero audio
    payload, ID3v2 prefixes with syncsafe sizes — synthesized per id.
    The probe skips ID3, walks frames by computed size
    (144000·kbps/rate + pad), counts them, and derives duration
    (frames·1152/rate, int truncation replayed as floor), sample rate,
    and channel mode. A wrong table entry, padding-bit handling, or
    syncsafe decode desyncs the walk and hash-fails. Sample synthesis
    stays behind the documented stub — this is the metadata pass.
    No reference counterpart (upgini has no media surface)."""
    from upgini_spark.functions.multimodal import decode_media, synthetic_mp3_media

    out = decode_media(synthetic_mp3_media(spark, 400))

    def fe(i):
        return F.round(F.try_element_at("features", F.lit(i)), 6)

    return out.select(
        "media_id", "format", "sample_rate", "n_channels", "duration_ms",
        fe(1).alias("f0"), fe(2).alias("f1"),
    )


@_q(
    "media_resize",
    """
    WITH ids AS (SELECT range AS id FROM range(0, 400))
    SELECT 'm' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
           'ppm' AS format,
           CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
           round((id % 256) / 255.0, 6) AS f0,
           round(((id * 7) % 256) / 255.0, 6) AS f1,
           round(((id * 13) % 256) / 255.0, 6) AS f2,
           round(0.2126 * ((id % 256) / 255.0)
                 + 0.7152 * (((id * 7) % 256) / 255.0)
                 + 0.0722 * (((id * 13) % 256) / 255.0), 6) AS f3
    FROM ids WHERE id % 2 = 1
    """,
)
def media_resize(spark, sf_dir):
    """Image resize round-trip (r4, multimodal.resize_images): real PPM
    payloads → nearest-neighbor resize to 8×6 → re-encode → decode. The
    sources are solid-color, so the resized channel means must equal the
    originals EXACTLY while the decoded dims become (8, 6) — a wrong
    pixel map, header, or byte offset anywhere in parse→resize→emit→
    parse hash-fails. (Exact non-uniform pixel maps are unit-tested in
    test_round4_fixes.)"""
    from upgini_spark.functions.multimodal import (
        decode_media,
        resize_images,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, 400).filter(
        F.col("media_type") == "image"
    )
    out = decode_media(resize_images(media, 8, 6))

    def fe(i):
        return F.round(F.try_element_at("features", F.lit(i)), 6)

    return out.select(
        "media_id", "format", "width", "height",
        fe(1).alias("f0"), fe(2).alias("f1"), fe(3).alias("f2"),
        fe(4).alias("f3"),
    )


@_q(
    "media_frame_sample",
    """
    WITH ids AS (SELECT range AS id FROM range(0, 300)),
    frames AS (SELECT range AS f FROM range(0, 11))
    SELECT 'v' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
           'y4m' AS format,
           CAST(4 + id % 3 AS INT) AS width,
           CAST(2 + id % 3 AS INT) AS height,
           CAST(6 + id % 5 AS INT) AS n_frames,
           CAST(f AS INT) AS frame_idx,
           round(((id * 5 + f * 11) % 256) / 255.0, 6) AS luma_mean
    FROM ids, frames
    WHERE f < 6 + id % 5 AND f % 2 = 0
    """,
)
def media_frame_sample(spark, sf_dir):
    """Video frame sampling over REAL uncompressed Y4M payloads (r4,
    multimodal.sample_video_frames): every 2nd frame of each synthesized
    Cmono stream is decoded — only sampled frames' pixel bytes are read,
    the rest skip by offset arithmetic — and the per-frame luma mean is
    hash-checked against the closed-form ground truth (frame f of video
    i is solid gray (5i+11f) mod 256). Completes the image/audio/VIDEO
    decode triple with stdlib-only parsers."""
    from upgini_spark.functions.multimodal import sample_video_frames, synthetic_y4m

    out = sample_video_frames(synthetic_y4m(spark, 300), stride=2)
    return out.select(
        "media_id", "format", "width", "height", "n_frames", "frame_idx",
        F.round("luma_mean", 6).alias("luma_mean"),
    )


# ===========================================================================
# Batch 5: volatility family over a per-user daily series
# ===========================================================================

from upgini_spark.operators.timeseries import (  # noqa: E402
    rolling_volatility,
    rolling_volatility2,
    volatility_ratio,
)


def _daily_series(spark, sf_dir):
    """Per-(user, day) mean value — a regular grid so exact 1-day step
    returns exist (pct_change(freq='1D') parity)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(F.round(F.avg("value"), 6).alias("v"))


_DAILY_SQL = """
      SELECT user_id, date_trunc('day', ts) AS d, round(avg(value), 6) AS v
      FROM events GROUP BY 1, 2
"""

_RET_SQL = f"""
    WITH daily AS ({_DAILY_SQL}),
    ret AS (
      SELECT a.user_id, a.d,
             coalesce(a.v / nullif(b.v, 0) - 1, 0.0) AS r
      FROM daily a
      LEFT JOIN daily b
        ON a.user_id = b.user_id AND b.d = a.d - INTERVAL 1 DAY
    )
"""


@_q(
    "rolling_volatility_7d",
    _RET_SQL + """
    SELECT user_id, d,
           round(stddev_samp(r) OVER (
             PARTITION BY user_id ORDER BY epoch_ms(d)
             RANGE BETWEEN 604799999 PRECEDING AND CURRENT ROW), 6) AS vol_7d
    FROM ret
    """,
)
def rolling_volatility_7d(spark, sf_dir):
    daily = _daily_series(spark, sf_dir)
    out = rolling_volatility(daily, "d", ["user_id"], "v", 7, "D", out_col="vol_7d")
    return out.select("user_id", "d", F.round("vol_7d", 6).alias("vol_7d"))


@_q(
    "volatility_ratio_7_to_14",
    _RET_SQL + """
    , vols AS (
      SELECT user_id, d,
             stddev_samp(r) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(d)
               RANGE BETWEEN 604799999 PRECEDING AND CURRENT ROW) AS vs,
             stddev_samp(r) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(d)
               RANGE BETWEEN 1209599999 PRECEDING AND CURRENT ROW) AS vl
      FROM ret
    )
    SELECT user_id, d,
           round(CASE WHEN vs IS NULL OR vl IS NULL OR vl = 0 OR isnan(vs / vl)
                      THEN 1.0 ELSE vs / vl END, 6) AS vol_ratio
    FROM vols
    """,
)
def volatility_ratio_7_to_14(spark, sf_dir):
    daily = _daily_series(spark, sf_dir)
    out = volatility_ratio(daily, "d", ["user_id"], "v", 7, 14, "D", out_col="vol_ratio")
    return out.select("user_id", "d", F.round("vol_ratio", 6).alias("vol_ratio"))


@_q(
    "rolling_volatility2_7d",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    reta AS (
      SELECT a.user_id, a.d,
             abs(coalesce(a.v / nullif(b.v, 0) - 1, 0.0)) AS r
      FROM daily a
      LEFT JOIN daily b
        ON a.user_id = b.user_id AND b.d = a.d - INTERVAL 1 DAY
    ), vol1 AS (
      SELECT user_id, d,
             stddev_samp(r) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(d)
               RANGE BETWEEN 604799999 PRECEDING AND CURRENT ROW) AS v1
      FROM reta
    ), ret2 AS (
      SELECT a.user_id, a.d,
             coalesce(a.v1 / nullif(b.v1, 0) - 1, 0.0) AS r2
      FROM vol1 a
      LEFT JOIN vol1 b
        ON a.user_id = b.user_id AND b.d = a.d - INTERVAL 1 DAY
    )
    SELECT user_id, d,
           round(stddev_samp(r2) OVER (
             PARTITION BY user_id ORDER BY epoch_ms(d)
             RANGE BETWEEN 604799999 PRECEDING AND CURRENT ROW), 6) AS vol2_7d
    FROM ret2
    """,
)
def rolling_volatility2_7d(spark, sf_dir):
    """Vol-of-vol (volatility.py:149-193): stage 1 = 7d rolling std of
    |exact-1d returns|, stage 2 = 7d rolling std of stage 1's returns."""
    daily = _daily_series(spark, sf_dir)
    out = rolling_volatility2(daily, "d", ["user_id"], "v", 7, "D", out_col="vol2_7d")
    return out.select("user_id", "d", F.round("vol2_7d", 6).alias("vol2_7d"))


@_q(
    "trend_coefficient_daily",
    """
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS d, round(avg(value), 6) AS v
      FROM events GROUP BY 1, 2
    ), g AS (
      SELECT user_id, v,
             CAST(floor((epoch_ms(d) - min(epoch_ms(d)) OVER (PARTITION BY user_id))
                  / 86400000.0) AS DOUBLE) AS i
      FROM daily
    )
    SELECT user_id,
           round(CASE WHEN (avg(i*i) - avg(i)*avg(i)) = 0 THEN 0.0
                 ELSE (avg(i*v) - avg(i)*avg(v)) / (avg(i*i) - avg(i)*avg(i))
                 END, 6) AS trend
    FROM g GROUP BY user_id
    """,
)
def trend_coefficient_daily(spark, sf_dir):
    daily = _daily_series(spark, sf_dir)
    out = trend_coefficient(daily, "d", ["user_id"], "v", out_col="trend")
    return out.groupBy("user_id").agg(F.round(F.first("trend"), 6).alias("trend"))


# ===========================================================================
# Batch 6: eval-set / target correction / hit-rate
# ===========================================================================

from upgini_spark.pipeline.evalset import (  # noqa: E402
    combine_train_eval,
    correct_target,
    hit_rate_report,
)


@_q(
    "eval_set_combine",
    """
    SELECT o_orderkey, 0 AS eval_set_index, o_totalprice AS target
    FROM orders WHERE o_orderkey % 10 < 8
    UNION ALL
    SELECT o_orderkey, 1, o_totalprice FROM orders
    WHERE o_orderkey % 10 = 8
    UNION ALL
    SELECT o_orderkey, 2, NULL FROM orders
    WHERE o_orderkey % 10 = 9
    """,
)
def eval_set_combine(spark, sf_dir):
    """Train/eval/OOT concat with eval_set_index
    (features_enricher.py:2483-2501); OOT targets nulled."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("target")
    )
    train = o.filter(F.col("o_orderkey") % 10 < 8)
    ev = o.filter(F.col("o_orderkey") % 10 == 8)
    oot = o.filter(F.col("o_orderkey") % 10 == 9)
    out = combine_train_eval(train, [ev, oot], target_col="target", oot_indices={2})
    return out.select("o_orderkey", "eval_set_index", "target")


@_q(
    "target_correction",
    """
    WITH t AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 25 = 0 THEN 'bad'
                  ELSE CAST(o_totalprice AS VARCHAR) END AS y
      FROM orders
    )
    SELECT o_orderkey, TRY_CAST(y AS DOUBLE) AS y_corrected FROM t
    """,
)
def target_correction(spark, sf_dir):
    """<5% non-numeric targets -> NaN-coerce path
    (features_enricher.py:4597-4613)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 25 == 0, F.lit("bad"))
        .otherwise(F.col("o_totalprice").cast("string")).alias("y"),
    )
    out = correct_target(o, "y")
    return out.select("o_orderkey", "y_corrected")


@_q(
    "enrichment_hit_rate",
    f"""
    WITH joined AS (
      SELECT l.event_id, l.event_type, r.r_ts
      FROM events l
      ASOF LEFT JOIN ({_CLICKS_SQL}) r
        ON l.user_id = r.r_user AND l.ts >= r.r_ts
    )
    SELECT event_type, count(*) AS rows,
           round(avg(CASE WHEN r_ts IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
             AS hit_rate
    FROM joined GROUP BY event_type
    """,
)
def enrichment_hit_rate(spark, sf_dir):
    """Per-segment enrichment match share (metadata.py:308-314)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "ts")
    joined = asof_join(
        ev, _clicks(spark, sf_dir),
        left_on="ts", right_on="r_ts", by_left="user_id", by_right="r_user",
        keep_match_ts=True,
    )
    return hit_rate_report(joined, "matched_ts", by=["event_type"])


@_q(
    "outlier_dist_per_class",
    """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), dims AS (
      SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e
    ), per_dim AS (
      SELECT label, dim, avg(x) AS m FROM dims GROUP BY label, dim
    ), cents AS (
      SELECT label, list(m ORDER BY dim) AS centroid FROM per_dim GROUP BY label
    )
    SELECT e.vec_id,
           round(1 - list_cosine_similarity(e.v, c.centroid), 6) AS outlier_dist
    FROM e JOIN cents c USING (label)
    """,
)
def outlier_dist_per_class(spark, sf_dir):
    """outlier_dist: distance to own-class centroid (unary.py:193-219)."""
    from upgini_spark.operators.vector import outlier_distance

    emb = spread_scan(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    out = outlier_distance(emb, "v", "label")
    return out.select("vec_id", F.round("outlier_dist", 6).alias("outlier_dist"))


@_q(
    "asof_join_broadcast",
    f"""
    SELECT l.event_id, l.user_id, l.ts, r.r_ts AS matched_ts, r.click_value
    FROM events l
    ASOF LEFT JOIN ({_CLICKS_SQL}) r
      ON l.user_id = r.r_user AND l.ts >= r.r_ts
    """,
)
def asof_join_broadcast(spark, sf_dir):
    """Broadcast as-of engine: feature histories broadcast, event stream
    never shuffled — the feature-store-sized-right-side plan."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = asof_join(
        ev, _clicks(spark, sf_dir),
        left_on="ts", right_on="r_ts", by_left="user_id", by_right="r_user",
        engine="broadcast", keep_match_ts=True,
    )
    return out.select("event_id", "user_id", "ts", "matched_ts", "click_value")


@_q(
    "ip_range_join",
    """
    WITH ips AS (
      SELECT c_custkey,
             (10 + c_custkey % 200) * 16777216 + (c_custkey % 256) * 65536
               + ((c_custkey * 7) % 256) * 256 + (1 + c_custkey % 254) AS ip_int
      FROM customer
    ), ranges AS (
      SELECT r * 16777216 AS ip_lo, (r + 1) * 16777216 - 1 AS ip_hi,
             'block_' || CAST(r AS VARCHAR) AS block_name
      FROM (SELECT range AS r FROM range(0, 256))
    )
    SELECT i.c_custkey, i.ip_int, g.block_name
    FROM ips i LEFT JOIN ranges g
      ON i.ip_int >= g.ip_lo AND i.ip_int <= g.ip_hi
    """,
)
def ip_range_join(spark, sf_dir):
    """Range join: IP int against /8 allocation blocks (broadcast ranges)."""
    from upgini_spark.joins.enrich import range_join

    c = _t(spark, sf_dir, "customer")
    ip = F.format_string(
        "%d.%d.%d.%d",
        10 + F.col("c_custkey") % 200, F.col("c_custkey") % 256,
        (F.col("c_custkey") * 7) % 256, 1 + F.col("c_custkey") % 254,
    )
    ips = c.select("c_custkey", K.ipv4_to_int(ip).alias("ip_int"))
    ranges = spark.range(0, 256).select(
        (F.col("id") * 16777216).alias("ip_lo"),
        ((F.col("id") + 1) * 16777216 - 1).alias("ip_hi"),
        F.concat(F.lit("block_"), F.col("id").cast("string")).alias("block_name"),
    )
    # bucketed equi-join plan: ranges explode into 16M-wide buckets,
    # values hash-join on their bucket (no BroadcastNestedLoopJoin)
    out = range_join(ips, ranges, "ip_int", "ip_lo", "ip_hi", bucket_width=16777216)
    return out.select("c_custkey", "ip_int", "block_name")


@_q(
    "cyclical_intraday",
    """
    SELECT event_id,
           round(sin(2 * pi() * second(ts) / 60.0), 6) + 0.0 AS sin_second,
           round(cos(2 * pi() * second(ts) / 60.0), 6) + 0.0 AS cos_second,
           round(sin(2 * pi() * minute(ts) / 60.0), 6) + 0.0 AS sin_minute,
           round(sin(2 * pi() * (minute(ts) % 30) / 30.0), 6) + 0.0 AS sin_minute_half,
           round(cos(2 * pi() * hour(ts) / 24.0), 6) + 0.0 AS cos_hour
    FROM events
    """,
)
def cyclical_intraday(spark, sf_dir):
    """Intraday cyclical encodings (datetime_utils.py:184-252)."""
    ev = _t(spark, sf_dir, "events")
    feats = D.cyclical_features(F.col("ts"), intraday=True)
    return ev.select(
        "event_id",
        (F.round(feats["datetime_second_sin_60"], 6) + F.lit(0.0)).alias("sin_second"),
        (F.round(feats["datetime_second_cos_60"], 6) + F.lit(0.0)).alias("cos_second"),
        (F.round(feats["datetime_minute_sin_60"], 6) + F.lit(0.0)).alias("sin_minute"),
        (F.round(feats["datetime_minute_sin_30"], 6) + F.lit(0.0)).alias("sin_minute_half"),
        (F.round(feats["datetime_hour_cos_24"], 6) + F.lit(0.0)).alias("cos_hour"),
    )


@_q(
    "psi_sparsity_halves",
    """
    WITH d AS (
      SELECT CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
             CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END AS split
      FROM events
    ), counts AS (
      SELECT split, CASE WHEN v IS NULL THEN 1 ELSE 0 END AS bin, count(*) AS n
      FROM d GROUP BY 1, 2
    ), shares AS (
      SELECT split, bin, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY split) AS share
      FROM counts
    )
    SELECT CAST(p.split AS INT) AS split,
           round(sum((p.share + 1e-6 - coalesce(q.share, 0) - 1e-6)
                 * ln((p.share + 1e-6) / (coalesce(q.share, 0) + 1e-6))), 6) AS psi
    FROM shares p
    LEFT JOIN (SELECT bin, share FROM shares WHERE split = 0) q USING (bin)
    WHERE p.split != 0 GROUP BY p.split
    """,
)
def psi_sparsity_halves(spark, sf_dir):
    """Sparsity PSI on a synthetic null mask (value nulled for 'error'
    events) — reference utils/psi.py sparsity variant."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") != "error", F.col("value"))
    )
    out = ST.psi_sparsity(ev, "v", F.when(F.dayofmonth("ts") > 15, 1).otherwise(0))
    return out.select(F.col("split").cast("int").alias("split"), "psi")


@_q(
    "formula_compiled_features",
    """
    SELECT o_orderkey,
           round(o_totalprice / 1000.0 + CAST(o_custkey AS DOUBLE), 6) AS f_arith,
           round(CASE WHEN ln(abs(avg(o_totalprice)
                 OVER (PARTITION BY o_orderpriority))) >= 0
             THEN floor(ln(abs(avg(o_totalprice)
                  OVER (PARTITION BY o_orderpriority))) * 1e10) / 1e10
             ELSE -floor(-ln(abs(avg(o_totalprice)
                  OVER (PARTITION BY o_orderpriority))) * 1e10) / 1e10 END, 6)
             AS f_log_gbmean,
           CASE WHEN o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
                THEN concat_ws('_', o_orderstatus, o_orderpriority) END AS f_combine,
           CAST(CASE WHEN o_totalprice IS NULL OR o_totalprice < 50000 THEN -1
                ELSE (CASE WHEN o_totalprice >= 50000 THEN 1 ELSE 0 END)
                   + (CASE WHEN o_totalprice >= 150000 THEN 1 ELSE 0 END)
                   + (CASE WHEN o_totalprice >= 300000 THEN 1 ELSE 0 END)
                END AS INT) AS f_bin_replayed
    FROM orders
    """,
)
def formula_compiled_features(spark, sf_dir):
    """Formula strings through the §2.12 DAG compiler: parse -> one fused
    select (feature.py:308-371 grammar). f_bin_replayed exercises the full
    FitState replay: serialized (formula, params) → parse_formula +
    set_op_params → compile (feature.py:97-127 round-trip)."""
    from upgini_spark.plans.feature_dag import (
        compile_features, get_op_params, parse_formula, set_op_params,
    )

    o = _t(spark, sf_dir, "orders").withColumn(
        "price_k", F.col("o_totalprice") / 1000.0
    ).withColumn("cust_d", F.col("o_custkey").cast("double"))

    fit_node = parse_formula("bin(o_totalprice)")
    fit_node.params["bin_bounds"] = [50000.0, 150000.0, 300000.0]
    frozen = (fit_node.formula(), get_op_params(fit_node))  # serialize
    replayed = parse_formula(frozen[0])
    set_op_params(replayed, frozen[1])                       # deserialize

    out = compile_features(
        o,
        {
            "f_arith": "(price_k+cust_d)",
            "f_log_gbmean": "log(GroupByThenMean(o_totalprice,o_orderpriority))",
            "f_combine": "Combine(o_orderstatus,o_orderpriority)",
            "f_bin_replayed": replayed,
        },
    )
    return out.select(
        "o_orderkey",
        F.round("f_arith", 6).alias("f_arith"),
        F.round("f_log_gbmean", 6).alias("f_log_gbmean"),
        "f_combine",
        F.col("f_bin_replayed").cast("int").alias("f_bin_replayed"),
    )


# ===========================================================================
# Round-2 converter fidelity (SURVEY.md §2.3 tails: phone prefixes, full
# country map, IPv6) — reference phone_utils.py:108-354,
# country_utils.py:50-251, ip_utils.py:37-100.
# ===========================================================================

def _phone_prefix_values_sql() -> str:
    from upgini_spark.functions.keys_tables import PHONE_COUNTRY_PREFIXES

    rows = ", ".join(
        f"('{cc}', '{pre}', {nd})" for cc, (pre, nd) in PHONE_COUNTRY_PREFIXES.items()
    )
    return f"(VALUES {rows}) AS pp(cc, prefix, ndigits)"


def _country_map_values_sql() -> str:
    from upgini_spark.functions.keys_tables import COUNTRY_NAMES_TO_ISO

    rows = ", ".join(
        "('" + name.replace("'", "''") + f"', '{code}')"
        for name, code in COUNTRY_NAMES_TO_ISO.items()
    )
    return f"(VALUES {rows}) AS cm(name, code)"


@_q(
    "phone_prefix_converters",
    f"""
    WITH t AS (
      SELECT c_custkey,
             ['CH','US','DE','GB','ZZ',NULL][1 + c_custkey % 6] AS country,
             CASE c_custkey % 3
               WHEN 0 THEN printf('0%-2d 3834%04d', c_custkey % 100, c_custkey % 10000)
               WHEN 1 THEN printf('%03d555%04d', c_custkey % 1000, c_custkey % 10000)
               ELSE printf('%08d.0', c_custkey % 100000000)
             END AS phone
      FROM customer
    ), conv AS (
      SELECT c_custkey, country,
             CAST(CASE WHEN regexp_replace(regexp_replace(phone, '\\.0$', ''),
                            '[^0-9]', '', 'g') = '' THEN NULL
                  ELSE regexp_replace(regexp_replace(phone, '\\.0$', ''),
                       '[^0-9]', '', 'g') END AS BIGINT) AS p
      FROM t
    ), gated AS (
      SELECT c_custkey, country,
             CASE WHEN p BETWEEN 10000000 AND 999999999999999 THEN p END AS p
      FROM conv
    )
    SELECT g.c_custkey,
           CASE WHEN g.p IS NOT NULL AND pp.prefix IS NOT NULL
                     AND length(CAST(g.p AS VARCHAR)) = pp.ndigits
                THEN CAST(pp.prefix || CAST(g.p AS VARCHAR) AS BIGINT)
                ELSE g.p END AS phone_e164
    FROM gated g LEFT JOIN {_phone_prefix_values_sql()} ON g.country = pp.cc
    """,
)
def phone_prefix_converters(spark, sf_dir):
    """Country-prefix phone normalization (phone_utils.py:32-42,108-354):
    the national number gets the calling code iff its digit count matches
    the country's expected length; value-range gate [1e7, 1e15)."""
    c = _t(spark, sf_dir, "customer")
    country = F.element_at(
        F.array(*[F.lit(x) for x in ["CH", "US", "DE", "GB", "ZZ"]] + [F.lit(None).cast("string")]),
        (F.col("c_custkey") % 6 + 1).cast("int"),
    )
    phone = (
        F.when(F.col("c_custkey") % 3 == 0,
               F.format_string("0%-2d 3834%04d", F.col("c_custkey") % 100, F.col("c_custkey") % 10000))
        .when(F.col("c_custkey") % 3 == 1,
              F.format_string("%03d555%04d", F.col("c_custkey") % 1000, F.col("c_custkey") % 10000))
        .otherwise(F.format_string("%08d.0", F.col("c_custkey") % 100000000))
    )
    return c.select(
        "c_custkey",
        K.phone_with_country_prefix(phone, country).alias("phone_e164"),
    )


@_q(
    "country_full_map",
    f"""
    WITH t AS (
      SELECT c_custkey,
             ['United States','COTE D''IVOIRE','Bosnia and Herzegovina','france',
              'Ukraine','ZZ','Sweden','NORTH MACEDONIA','Republic of Korea',
              'russian federation','Czech Republic','Holy See'][1 + c_custkey % 12]
               AS raw
      FROM customer
    )
    SELECT t.c_custkey, coalesce(cm.code, t.raw) AS country_iso
    FROM t LEFT JOIN {_country_map_values_sql()} ON upper(t.raw) = cm.name
    """,
)
def country_full_map(spark, sf_dir):
    """Full ~200-entry country-name map (country_utils.py:36-48 +
    table :50-251): uppercase lookup, unmapped values pass through."""
    c = _t(spark, sf_dir, "customer")
    names = [
        "United States", "COTE D'IVOIRE", "Bosnia and Herzegovina", "france",
        "Ukraine", "ZZ", "Sweden", "NORTH MACEDONIA", "Republic of Korea",
        "russian federation", "Czech Republic", "Holy See",
    ]
    raw = F.element_at(
        F.array(*[F.lit(x) for x in names]), (F.col("c_custkey") % 12 + 1).cast("int")
    )
    return c.select(
        "c_custkey", K.country_full_name_to_iso(raw).alias("country_iso")
    )


@_q(
    "ip_v6_converters",
    """
    WITH t AS (
      SELECT c_custkey,
             c_custkey % 65536 AS x,
             c_custkey % 6 AS v
      FROM customer
    )
    SELECT c_custkey,
           CASE v
             WHEN 0 THEN '2001:0db8:0000:0000:0000:0000:0000:'
                         || lpad(lower(hex(x)), 4, '0')
             WHEN 1 THEN '0000:0000:0000:0000:0000:ffff:'
                         || lpad(lower(hex(160 * 256 + x % 256)), 4, '0') || ':'
                         || lpad(lower(hex((x % 256) * 256 + 7)), 4, '0')
             WHEN 2 THEN 'fe80:0000:0000:0000:0000:0000:'
                         || lpad(lower(hex(x)), 4, '0') || ':0001'
             ELSE NULL
           END AS exploded,
           CASE v
             WHEN 0 THEN '2001:0db8'
             WHEN 1 THEN '160.' || CAST(x % 256 AS VARCHAR)
             WHEN 2 THEN 'fe80:0000'
             WHEN 3 THEN '10.' || CAST(x % 256 AS VARCHAR)
             ELSE NULL
           END AS prefix,
           CASE v
             WHEN 0 THEN '20010db800000000000000000000'
                         || lpad(lower(hex(x)), 4, '0')
             WHEN 1 THEN lpad(lower(hex(160 * 256 + x % 256)), 4, '0')
                         || lpad(lower(hex((x % 256) * 256 + 7)), 4, '0')
             WHEN 2 THEN 'fe8000000000000000000000'
                         || lpad(lower(hex(x)), 4, '0') || '0001'
             WHEN 3 THEN lpad(lower(hex(((10 * 256 + x % 256) * 256 + 3) * 256 + 44)), 8, '0')
             ELSE NULL
           END AS bin_hex
    FROM t
    """,
)
def ip_v6_converters(spark, sf_dir):
    """IPv6 native parsing (ip_utils.py:37-100): exploded form, prefix
    (first 2 exploded groups; v4-mapped unwraps to first 2 octets), and
    the packed-bytes hex (v4-mapped packs to 4 bytes). Patterns: full v6,
    '::ffff:a.b.c.d' v4-mapped, compressed v6, dotted v4, invalid, null."""
    c = _t(spark, sf_dir, "customer")
    x = (F.col("c_custkey") % 65536).cast("long")
    v = F.col("c_custkey") % 6
    ip = (
        F.when(v == 0, F.concat(F.lit("2001:db8::"), F.lower(F.hex(x))))
        .when(v == 1, F.concat(F.lit("::ffff:160."), (x % 256).cast("string"), F.lit(".")
                               , (x % 256).cast("string"), F.lit(".7")))
        .when(v == 2, F.concat(F.lit("fe80::"), F.lower(F.hex(x)), F.lit(":1")))
        .when(v == 3, F.concat(F.lit("10."), (x % 256).cast("string"), F.lit(".3.44")))
        .when(v == 4, F.lit("not-an-ip"))
    )
    staged = c.select("c_custkey", ip.alias("__ip__")).withColumn(
        "__g__", K.ipv6_groups(F.col("__ip__"))
    )
    g = F.col("__g__")
    return staged.select(
        "c_custkey",
        K.ipv6_exploded(F.col("__ip__"), groups=g).alias("exploded"),
        K.ip_prefix(F.col("__ip__"), groups=g).alias("prefix"),
        K.ip_binary_hex(F.col("__ip__"), groups=g).alias("bin_hex"),
    )


# ===========================================================================
# Round-2 sampling fidelity (SURVEY.md §2.10 tails) —
# reference sample_utils.py:155-410, ts_utils.py:6-41.
# ===========================================================================

@_q(
    "forced_downsample_binary",
    """
    WITH t AS (
      SELECT event_id,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
      FROM events
    ), c AS (
      SELECT y, count(*) AS n FROM t GROUP BY y
    ), minority AS (
      SELECT y AS min_y, n AS min_n FROM c ORDER BY n ASC, y ASC LIMIT 1
    ), ranked AS (
      SELECT event_id, y,
             row_number() OVER (
               PARTITION BY y
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
      FROM t
    )
    SELECT r.event_id, r.y
    FROM ranked r, minority m
    WHERE (r.y = m.min_y AND (m.min_n <= 3500 OR r.rk <= 3500))
       OR (r.y <> m.min_y AND r.rk <= 3500)
    """,
)
def forced_downsample_binary_q(spark, sf_dir):
    """balance_undersample_forced BINARY path (sample_utils.py:335-410):
    7000-row cap, 50/50 split, minority kept whole when under half;
    seeded pandas sample becomes deterministic md5-rank sampling."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", (F.col("event_type") == "error").cast("int").alias("y")
    )
    return SMP.forced_downsample_binary(ev, "y", ["event_id"], sample_size=7000)


@_q(
    "ts_id_priority_sample",
    """
    WITH stats AS (
      SELECT user_id, max(ts) AS mx, count(*) AS cnt
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT user_id,
             sum(cnt) OVER (
               ORDER BY mx DESC, cnt DESC, md5(CAST(user_id AS VARCHAR)) DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM stats
    ), kept AS (SELECT user_id FROM ranked WHERE cum <= 3000)
    SELECT e.event_id, e.user_id FROM events e
    SEMI JOIN kept k ON e.user_id = k.user_id
    """,
)
def ts_id_priority_sample(spark, sf_dir):
    """Whole-id priority TS sampling (sample_utils.py:276-332): ids ranked
    by (max date, count, md5 tie-break) desc, whole ids kept while the
    cumulative row count fits the 3000-row budget (quota path; the
    ≥20%-distinct-ids fallback is unit-tested)."""
    ev = _t(spark, sf_dir, "events")
    out = SMP.sample_time_series(ev, ["user_id"], "ts", 3000)
    return out.select("event_id", "user_id")


@_q(
    "ts_modal_unit",
    """
    WITH dd AS (
      SELECT DISTINCT user_id, ts FROM events
    ), gaps AS (
      SELECT CAST(floor(epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)))
                  AS BIGINT) AS gap_s
      FROM dd
    )
    SELECT gap_s AS modal_gap_s,
           CAST(gap_s < 2419200 AS BOOLEAN) AS is_high_freq
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY gap_s ORDER BY count(*) DESC, gap_s ASC LIMIT 1
    """,
)
def ts_modal_unit(spark, sf_dir):
    """Modal time-unit detection (ts_utils.py:6-24): most frequent
    consecutive-unique-date gap per id, smallest on ties; the 4-week
    threshold picks the high-/low-frequency truncation ladder."""
    ev = _t(spark, sf_dir, "events")
    gap = SMP.modal_time_unit_seconds(ev, ["user_id"], "ts")
    return local_frame(
        spark,
        [(gap, gap < SMP.TS_TIME_UNIT_THRESHOLD_S)],
        "modal_gap_s long, is_high_freq boolean",
    )


@_q(
    "psi_monthly",
    """
    WITH d AS (
      SELECT value AS v, CAST(epoch_us(ts) AS DOUBLE) AS us
      FROM events WHERE ts IS NOT NULL
    ), e AS (
      SELECT quantile_cont(us, [x/10.0 for x in range(1, 10)]) AS edges FROM d
    ), b AS (
      SELECT v,
             (CASE WHEN us > edges[1] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[2] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[3] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[4] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[5] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[6] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[7] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[8] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[9] THEN 1 ELSE 0 END) AS itv
      FROM d, e
    ), t AS (
      SELECT itv, count(*) AS tot FROM b GROUP BY itv
    ), ve AS (
      SELECT quantile_cont(v, [x/10.0 for x in range(1, 10)]) AS ve
      FROM b WHERE itv = 0 AND v IS NOT NULL
    ), bb AS (
      SELECT itv,
             CASE WHEN v IS NULL THEN 10 ELSE
               (CASE WHEN v >= ve[1] THEN 1 ELSE 0 END
                + CASE WHEN v >= ve[2] THEN 1 ELSE 0 END
                + CASE WHEN v >= ve[3] THEN 1 ELSE 0 END
                + CASE WHEN v >= ve[4] THEN 1 ELSE 0 END
                + CASE WHEN v >= ve[5] THEN 1 ELSE 0 END
                + CASE WHEN v >= ve[6] THEN 1 ELSE 0 END
                + CASE WHEN v >= ve[7] THEN 1 ELSE 0 END
                + CASE WHEN v >= ve[8] THEN 1 ELSE 0 END
                + CASE WHEN v >= ve[9] THEN 1 ELSE 0 END) END AS bin
      FROM b, ve
    ), c AS (
      SELECT itv, bin, count(*) AS cnt FROM bb GROUP BY itv, bin
    ), grid AS (
      SELECT i.itv, r.range AS bin
      FROM (SELECT DISTINCT itv FROM b) i, range(0, 11) r
    ), p AS (
      SELECT g.itv, g.bin,
             CAST(coalesce(c.cnt, 0) AS DOUBLE) / t.tot AS pct
      FROM grid g LEFT JOIN c ON g.itv = c.itv AND g.bin = c.bin
      JOIN t ON g.itv = t.itv
    ), f AS (
      SELECT itv, bin,
             CASE WHEN pct != 0 THEN pct
                  WHEN min_nz IS NULL THEN 0.0001
                  WHEN min_nz <= 0.0001 THEN 0.0001
                  ELSE min_nz / 1e6 END AS pct
      FROM (SELECT *, min(CASE WHEN pct != 0 THEN pct END)
                        OVER (PARTITION BY itv) AS min_nz FROM p)
    ), psis AS (
      SELECT cur.itv, sum((ref.pct - cur.pct) * ln(ref.pct / cur.pct)) AS psi
      FROM (SELECT bin, pct FROM f WHERE itv = 0) ref
      JOIN (SELECT itv, bin, pct FROM f WHERE itv > 0) cur USING (bin)
      GROUP BY cur.itv
    )
    SELECT 'value' AS column_name, round(max(psi), 6) + 0.0 AS psi FROM psis
    """,
)
def psi_monthly(spark, sf_dir):
    """Monthly-interval PSI (psi.py:72-298): intervals = max(10, #distinct
    months) date quantiles, reference = first interval, numerical
    reference-quantile bins + null bin, zero-fill, max over intervals."""
    ev = _t(spark, sf_dir, "events")
    rows = ST.psi_monthly_report(ev, ["value"], [], "ts")
    return local_frame(
        spark,
        [(c, round(p, 6) + 0.0 if p is not None else None) for c, p in rows],
        "column_name string, psi double",
    )


@_q(
    "psi_categorical",
    """
    WITH d AS (
      SELECT event_type AS v, CAST(epoch_us(ts) AS DOUBLE) AS us
      FROM events WHERE ts IS NOT NULL
    ), e AS (
      SELECT quantile_cont(us, [x/10.0 for x in range(1, 10)]) AS edges FROM d
    ), b AS (
      SELECT v,
             (CASE WHEN us > edges[1] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[2] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[3] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[4] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[5] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[6] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[7] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[8] THEN 1 ELSE 0 END
              + CASE WHEN us > edges[9] THEN 1 ELSE 0 END) AS itv
      FROM d, e
    ), t AS (
      SELECT itv, count(*) AS tot FROM b GROUP BY itv
    ), kc AS (
      SELECT v AS k, count(*) AS n FROM b WHERE v IS NOT NULL GROUP BY v
    ), keys AS (
      -- pandas rank(pct=True, method='average') >= 0.7
      SELECT k FROM (
        SELECT k, (rank() OVER (ORDER BY n)
                   + count(*) OVER (PARTITION BY n) - 1 + rank() OVER (ORDER BY n))
                  / 2.0 / count(*) OVER () AS pctrank
        FROM kc
      ) WHERE pctrank >= 0.7
    ), c AS (
      SELECT itv, b.v AS k, count(*) AS cnt FROM b
      SEMI JOIN keys ON b.v = keys.k
      GROUP BY itv, b.v
    ), grid AS (
      SELECT i.itv, keys.k FROM (SELECT DISTINCT itv FROM b) i, keys
    ), p AS (
      SELECT g.itv, g.k,
             CAST(coalesce(c.cnt, 0) AS DOUBLE) / t.tot AS pct
      FROM grid g LEFT JOIN c ON g.itv = c.itv AND g.k = c.k
      JOIN t ON g.itv = t.itv
    ), f AS (
      SELECT itv, k,
             CASE WHEN pct != 0 THEN pct
                  WHEN min_nz IS NULL THEN 0.0001
                  WHEN min_nz <= 0.0001 THEN 0.0001
                  ELSE min_nz / 1e6 END AS pct
      FROM (SELECT *, min(CASE WHEN pct != 0 THEN pct END)
                        OVER (PARTITION BY itv) AS min_nz FROM p)
    ), psis AS (
      SELECT cur.itv, sum((ref.pct - cur.pct) * ln(ref.pct / cur.pct)) AS psi
      FROM (SELECT k, pct FROM f WHERE itv = 0) ref
      JOIN (SELECT itv, k, pct FROM f WHERE itv > 0) cur USING (k)
      GROUP BY cur.itv
    )
    SELECT 'event_type' AS column_name, round(max(psi), 6) + 0.0 AS psi FROM psis
    """,
)
def psi_categorical(spark, sf_dir):
    """Categorical PSI variant (psi.py:236-258): top-70%-by-count keys
    histogram per interval (+ null bin), same zero-fill and max-agg.
    The null bin is empty on this fixture so the SQL replica omits it."""
    ev = _t(spark, sf_dir, "events")
    rows = ST.psi_monthly_report(ev, ["event_type"], ["event_type"], "ts")
    return local_frame(
        spark,
        [(c, round(p, 6) + 0.0 if p is not None else None) for c, p in rows],
        "column_name string, psi double",
    )


# ===========================================================================
# Round-2 decision rules (SURVEY.md §2.5 is_time_series; §2.9 fintech gates)
# — reference datetime_utils.py:303-389, deduplicate_utils.py:21-135.
# ===========================================================================

@_q(
    "ts_decisions",
    """
    WITH a AS (
      SELECT (DATE '2020-01-01' + CAST(r.range AS INT)) AS d FROM range(0, 400) r
    ), vc AS (
      SELECT d, count(*) AS c FROM a GROUP BY d
    ), gaps AS (
      SELECT d - lag(d) OVER (ORDER BY d) AS g FROM vc
    ), blk AS (
      SELECT (DATE '2020-01-01' + CAST(r.range AS INT)) AS d,
             CAST((r.range * 37 + b.range) % 1000 AS BIGINT) AS f1,
             CAST((r.range * 11 + 29 * b.range) % 1000 AS BIGINT) AS f2,
             CAST(r.range AS BIGINT) AS f3,
             CAST((r.range * 7 + 13 * b.range) % 1000 AS BIGINT) AS f3x
      FROM range(0, 400) r, range(0, 2) b
    ), pd AS (
      SELECT d, count(*) AS n,
             count(DISTINCT f1) AS n1, count(DISTINCT f2) AS n2,
             count(DISTINCT f3) AS n3, count(DISTINCT f3x) AS n3x
      FROM blk GROUP BY d
    ), agg AS (
      SELECT count(*) AS nd,
             CAST(max(d) - min(d) AS INT) + 1 AS span,
             avg(CASE WHEN n > 1 THEN 1.0 ELSE 0.0 END) AS multi,
             max(CASE WHEN n1 > 1 THEN 1 ELSE 0 END)
               + max(CASE WHEN n2 > 1 THEN 1 ELSE 0 END)
               + max(CASE WHEN n3 > 1 THEN 1 ELSE 0 END) AS chg3,
             max(CASE WHEN n1 > 1 THEN 1 ELSE 0 END)
               + max(CASE WHEN n2 > 1 THEN 1 ELSE 0 END)
               + max(CASE WHEN n3x > 1 THEN 1 ELSE 0 END) AS chg3x
      FROM pd
    )
    SELECT
      ((SELECT count(DISTINCT c) FROM vc) = 1
       AND (SELECT count(DISTINCT g) FROM gaps WHERE g IS NOT NULL) = 1)
        AS is_ts_daily,
      FALSE AS is_blocked_univariate,
      (SELECT nd >= 270 AND CAST(nd AS DOUBLE) / span >= 0.3
              AND multi >= 0.99 AND chg3 <= 2 FROM agg) AS is_blocked_2chg,
      (SELECT nd >= 270 AND CAST(nd AS DOUBLE) / span >= 0.3
              AND multi >= 0.99 AND chg3x <= 2 FROM agg) AS is_blocked_3chg
    """,
)
def ts_decisions(spark, sf_dir):
    """is_time_series / is_blocked_time_series decisions
    (datetime_utils.py:303-389): gap-free constant-count series; >=270
    multi-row dates with >=30% coverage and <=2 changing columns."""
    n = 400
    base = spark.range(n).select(
        F.expr("date_add(to_date('2020-01-01'), cast(id as int))").alias("date"),
        F.col("id"),
    )
    uni = base.select("date")
    blocks = spark.range(2).select(F.col("id").alias("b"))
    blk = base.crossJoin(blocks).select(
        "date",
        ((F.col("id") * 37 + F.col("b")) % 1000).alias("f1"),
        ((F.col("id") * 11 + 29 * F.col("b")) % 1000).alias("f2"),
        F.col("id").alias("f3"),
        ((F.col("id") * 7 + 13 * F.col("b")) % 1000).alias("f3x"),
    )
    r = (
        ST.is_time_series(uni, "date"),
        ST.is_blocked_time_series(uni, "date", ["date"]),
        ST.is_blocked_time_series(blk.drop("f3x"), "date", ["date"]),
        ST.is_blocked_time_series(blk.drop("f3"), "date", ["date"]),
    )
    return local_frame(
        spark,
        [r],
        "is_ts_daily boolean, is_blocked_univariate boolean, "
        "is_blocked_2chg boolean, is_blocked_3chg boolean",
    )


@_q(
    "fintech_dedup_gated",
    """
    WITH t AS (
      SELECT event_id, user_id,
             CASE WHEN user_id % 4 = 0 THEN CAST(event_id % 2 AS INT)
                  ELSE 0 END AS target,
             (DATE '2023-01-01' + CAST(user_id % 28 AS INT)
              + CAST(CASE WHEN user_id % 4 = 0 THEN (event_id % 2) * 4
                     ELSE 0 END AS INT)) AS d
      FROM events
    ), grp AS (
      SELECT user_id, count(*) AS n, count(DISTINCT d) AS ndates,
             count(DISTINCT target) AS ntgt
      FROM t GROUP BY user_id
    ), gates AS (
      SELECT sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) > 0
             AND CAST(sum(CASE WHEN ndates > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) < 0.6
             AND sum(CASE WHEN n > 1 AND ntgt > 1 THEN 1 ELSE 0 END) > 0 AS ok
      FROM grp
    ), w AS (
      SELECT *, lag(target) OVER (PARTITION BY user_id ORDER BY d) AS pt,
             lag(d) OVER (PARTITION BY user_id ORDER BY d) AS pd
      FROM t
    ), flagged AS (
      SELECT DISTINCT user_id FROM w
      WHERE pt IS NOT NULL AND pt <> target AND d - pd < 60
    )
    SELECT t.event_id, t.user_id, t.target FROM t
    WHERE (NOT (SELECT ok FROM gates))
       OR t.user_id NOT IN (SELECT user_id FROM flagged)
    """,
)
def fintech_dedup_gated(spark, sf_dir):
    """Gated fintech dedup (deduplicate_utils.py:21-135): BINARY-task and
    <60%-multi-date-share applicability gates, then whole-key removal of
    groups whose target flips within 60 days."""
    ev = _t(spark, sf_dir, "events")
    fixture = ev.select(
        "event_id", "user_id",
        F.when(F.col("user_id") % 4 == 0, (F.col("event_id") % 2).cast("int"))
        .otherwise(F.lit(0)).alias("target"),
        F.expr(
            "date_add(date_add(to_date('2023-01-01'), cast(user_id % 28 as int)), "
            "cast(CASE WHEN user_id % 4 = 0 THEN (event_id % 2) * 4 ELSE 0 END as int))"
        ).cast("timestamp").alias("d"),
    )
    out = DD.remove_fintech_duplicates(fixture, ["user_id"], "target", "d")
    return out.select("event_id", "user_id", "target")


@_q(
    "knn_cosine_ivf",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS ci,
             v AS cv
      FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
    ), sims AS (
      SELECT e.vec_id, cent.ci,
             list_cosine_similarity(e.v, cent.cv) AS s
      FROM e, cent
    ), ranked_cells AS (
      SELECT vec_id, ci,
             row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci ASC) AS rn
      FROM sims
    ), cells AS (
      SELECT vec_id, ci AS cell FROM ranked_cells WHERE rn = 1
    ), probes AS (
      SELECT vec_id, ci AS cell FROM ranked_cells WHERE rn <= 2 AND vec_id < 5
    ), scored AS (
      SELECT DISTINCT p.vec_id AS q_id, c.vec_id AS n_id,
             list_cosine_similarity(qe.v, ce.v) AS cos_raw
      FROM probes p
      JOIN cells c ON p.cell = c.cell AND p.vec_id <> c.vec_id
      JOIN e qe ON qe.vec_id = p.vec_id
      JOIN e ce ON ce.vec_id = c.vec_id
    ), ranked AS (
      SELECT q_id, n_id, round(cos_raw, 6) AS cos,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos_raw DESC, n_id ASC) AS BIGINT)
               AS rank
      FROM scored
    )
    SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3
    """,
)
def knn_cosine_ivf(spark, sf_dir):
    """IVF-style approximate kNN: deterministic md5-sampled centroids
    partition the corpus into cells; each query probes its 2 nearest
    cells and ranks exactly within candidates — cell equi-join, no cross
    join. The oracle replays the identical quantizer in SQL."""
    emb = spread_scan(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = SIM.cosine_topk_ivf(
        q, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=3, n_cells=8, n_probe=2,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@_q(
    "normalize_types_q",
    """
    WITH t AS (
      SELECT c_custkey,
             c_custkey % 2 = 0 AS flag,
             CAST(c_custkey % 100 AS VARCHAR) || ',' ||
               CAST(c_custkey % 10 AS VARCHAR) AS dec_comma,
             repeat('x', 24580 * (c_custkey % 2) + 5) AS longstr,
             CAST(c_acctbal AS FLOAT) AS smallfloat
      FROM customer
    )
    SELECT c_custkey,
           CAST(flag AS VARCHAR) AS flag,
           CAST(replace(dec_comma, ',', '.') AS DOUBLE) AS dec_comma,
           CAST(length(substr(longstr, 1, 24573)) AS INT) AS longstr_len,
           CAST(smallfloat AS DOUBLE) AS smallfloat
    FROM t
    """,
)
def normalize_types_q(spark, sf_dir):
    """Type-floor normalization (normalize_utils.py:158-226): bool→string,
    decimal-comma strings→double (auto-detected on a head probe), string
    truncation at 24 573 chars, numeric floor to double."""
    from upgini_spark.pipeline.normalizer import detect_decimal_comma, normalize_types

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 2 == 0).alias("flag"),
        F.concat(
            (F.col("c_custkey") % 100).cast("string"), F.lit(","),
            (F.col("c_custkey") % 10).cast("string"),
        ).alias("dec_comma"),
        F.repeat(F.lit("x"), (24580 * (F.col("c_custkey") % 2) + 5).cast("int")).alias("longstr"),
        F.col("c_acctbal").cast("float").alias("smallfloat"),
    )
    feats = ["flag", "dec_comma", "longstr", "smallfloat"]
    dc = detect_decimal_comma(c, feats)
    out = normalize_types(c, feats, decimal_comma_cols=dc)
    return out.select(
        "c_custkey", "flag",
        F.col("dec_comma"),
        F.length("longstr").cast("int").alias("longstr_len"),
        "smallfloat",
    )


@_q(
    "key_validity_filter",
    """
    WITH t AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN 'bad-email'
                  ELSE lower(replace(c_name, '#', '.')) || '@example.com'
             END AS email,
             CASE WHEN c_custkey % 3 = 0 THEN NULL
                  ELSE CAST(date_add(DATE '1998-06-01',
                       CAST(c_custkey % 1000 AS INT)
                       - CAST(700 * (c_custkey % 2) AS INT)) AS TIMESTAMP)
             END AS dt
      FROM customer
    ), flagged AS (
      SELECT c_custkey, email, dt,
             regexp_matches(email,
               '^[A-Za-z0-9][A-Za-z0-9._%+-]*@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$')
               AS email_ok,
             dt IS NOT NULL AND dt >= TIMESTAMP '2000-01-01' AS dt_ok
      FROM t
    )
    SELECT c_custkey,
           CASE WHEN dt_ok THEN dt END AS clean_dt
    FROM flagged WHERE email_ok OR dt_ok
    """,
)
def key_validity_filter(spark, sf_dir):
    """Key-validity row filter + old-date cleanup (dataset.py:272-428,
    datetime_utils.py:293-300): rows where EVERY search key is invalid
    are dropped; surviving dates before 2000-01-01 null out."""
    from upgini_spark.pipeline.evalset import filter_invalid_keys

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("bad-email")).otherwise(
            F.concat(F.lower(F.regexp_replace("c_name", "#", ".")), F.lit("@example.com"))
        ).alias("email"),
        F.when(
            F.col("c_custkey") % 3 != 0,
            F.date_add(
                F.lit("1998-06-01").cast("date"),
                (F.col("c_custkey") % 1000).cast("int") - (700 * (F.col("c_custkey") % 2)).cast("int"),
            ).cast("timestamp"),
        ).alias("dt"),
    )
    flags = {
        "email": K.email_valid(F.col("email")),
        "dt": K.clean_old_dates(F.col("dt")).isNotNull(),
    }
    filtered, _stats = filter_invalid_keys(c, flags)
    return filtered.select(
        "c_custkey", K.clean_old_dates(F.col("dt")).alias("clean_dt")
    )


@_q(
    "stream_window_counts",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    w AS (
      SELECT event_type,
             time_bucket(INTERVAL 1 DAY, ts) AS ws,
             count(*) AS n_events,
             round(avg(value), 6) AS mean_value,
             round(sum(value), 6) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           epoch_us(ws) AS win_start_us,
           CAST(n_events AS BIGINT) AS n_events, mean_value, sum_value
    FROM w, mx
    WHERE epoch_ms(ws + INTERVAL 1 DAY) <= epoch_ms(m) - 86400000
    """,
)
def stream_window_counts(spark, sf_dir):
    """STRUCTURED STREAMING with an exact SQL oracle (r5): events.parquet
    replayed as a file stream (availableNow), 1-day tumbling windows with
    a 1-day watermark in APPEND mode — so only windows the watermark has
    CLOSED are ever emitted. The oracle recomputes the same windowed
    aggregates in DuckDB and replays the closure rule exactly:
    window_end <= max(event_ts) − 1 day, compared at Spark's millisecond
    watermark granularity (epoch_ms — DuckDB epoch_ms truncates µs just
    like Spark's watermark tracker). Hash-equality therefore verifies the
    watermark semantics themselves, not just the arithmetic. (The last
    day's window is legitimately withheld — unemittable until later data
    advances the watermark.)"""
    import tempfile

    from upgini_spark.streaming.stream_features import windowed_agg_stream

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    sdf = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # watermarks require TIMESTAMP (testdata is NTZ; session tz is
        # UTC so the cast is value-preserving)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = windowed_agg_stream(
        sdf, "ts", ["event_type"], "value",
        window_duration="1 day", watermark="1 day",
    )
    sink = "stream_window_counts_sink"
    spark.catalog.dropTempView(sink)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory").queryName(sink)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", ckpt).start()
        )
        q.awaitTermination(180)
        if q.isActive:
            q.stop()
    return spark.table(sink).select(
        "event_type",
        F.unix_micros(F.col("window_start").cast("timestamp")).alias("win_start_us"),
        F.col("n_events").cast("long").alias("n_events"),
        "mean_value", "sum_value",
    )


@_q(
    "stream_pit_enrich",
    f"""
    SELECT l.event_id, l.user_id, l.ts, r.r_ts AS matched_ts, r.click_value
    FROM events l
    ASOF LEFT JOIN ({_CLICKS_SQL}) r
      ON l.user_id = r.r_user AND l.ts >= r.r_ts
    """,
)
def stream_pit_enrich(spark, sf_dir):
    """Point-in-time STREAM enrichment against a static feature snapshot
    (r5): the events file stream enriched row-by-row with the
    most-recent click at or before each event time
    (streaming/enrich_stream_static — collapsed per-entity history
    array, stream-static join, higher-order prefix pick). Stateless, so
    append mode emits every row and the SAME DuckDB ASOF JOIN oracle as
    the batch engines applies verbatim — the streaming path must produce
    byte-identical matches to the three batch as-of engines."""
    import tempfile

    from upgini_spark.streaming.stream_features import enrich_stream_static

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    sdf = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("event_id", "user_id", "ts")
    )
    out = enrich_stream_static(
        sdf, _clicks(spark, sf_dir), "user_id", "ts",
        source_entity_col="r_user", source_ts_col="r_ts",
    )
    sink = "stream_pit_enrich_sink"
    spark.catalog.dropTempView(sink)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.format("memory").queryName(sink)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", ckpt).start()
        )
        q.awaitTermination(180)
        if q.isActive:
            q.stop()
    return spark.table(sink).select(
        "event_id", "user_id", "ts", F.col("matched_ts"), "click_value"
    )


@_q(
    "stream_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_keys(spark, sf_dir):
    """STREAMING exact dedup (streaming.dedup_stream →
    dropDuplicatesWithinWatermark): first arrival of each (user_id,
    event_type) wins, duplicates within the 1-day event-time horizon
    drop, state bounded by the horizon instead of growing with the
    stream. With availableNow over the single events file the whole
    replay is ONE micro-batch, so no state can expire mid-run and the
    emitted key set closes to exactly the global DISTINCT — which the
    oracle replays (keys only: WHICH physical row survives is
    arrival-order-dependent, so payloads stay out of the hash). The
    bounded-state expiry semantics (re-emission beyond the horizon) are
    pinned by the multi-batch test_dedup_stream_within_watermark."""
    import tempfile

    from upgini_spark.streaming.stream_features import dedup_stream

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    sdf = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = dedup_stream(
        sdf, ["user_id", "event_type"], "ts", watermark="1 day"
    )
    sink = "stream_dedup_keys_sink"
    spark.catalog.dropTempView(sink)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.format("memory").queryName(sink)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", ckpt).start()
        )
        q.awaitTermination(180)
        if q.isActive:
            q.stop()
    return spark.table(sink).select("user_id", "event_type")


@_q(
    "stream_session_windows",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    s AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    g AS (
      SELECT *, sum(brk) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
      ) AS sid FROM s
    ),
    agg AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events,
             round(sum(value), 6) AS sum_value
      FROM g GROUP BY user_id, sid
    )
    SELECT user_id,
           epoch_us(session_start) AS sess_start_us,
           epoch_us(session_end) AS sess_end_us,
           CAST(n_events AS BIGINT) AS n_events, sum_value
    FROM agg, mx
    WHERE epoch_us(session_end) <= (epoch_ms(m) - 86400000) * 1000
    """,
)
def stream_session_windows(spark, sf_dir):
    """STATEFUL session-window streaming with an exact SQL oracle (r5):
    gap-based ``session_window`` (the north rule's sessions-keyed-by-gaps,
    streaming side) over the events file stream, append mode with a 1-day
    watermark. The oracle rebuilds the sessions in SQL (island detection:
    new session iff ts − prev ≥ gap — the strict-< merge rule of Spark's
    [start, last+gap) windows) and replays the closure rule at the right
    granularity: session_end carries MICROSECONDS (last event + gap)
    while the watermark ticks in truncated MILLISECONDS, so the emit
    filter is epoch_us(end) <= (epoch_ms(max_ts) − delay_ms) · 1000.
    Hash equality verifies merge semantics, closure, and aggregates."""
    import tempfile

    from upgini_spark.streaming.stream_features import session_agg_stream

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    sdf = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = session_agg_stream(
        sdf, "ts", ["user_id"], "value", gap="30 minutes", watermark="1 day",
    )
    sink = "stream_session_windows_sink"
    spark.catalog.dropTempView(sink)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory").queryName(sink)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", ckpt).start()
        )
        q.awaitTermination(180)
        if q.isActive:
            q.stop()
    return spark.table(sink).select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("sess_start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("sess_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        "sum_value",
    )


@_q(
    "search_key_autodetect",
    """
    WITH r AS (SELECT range AS i FROM range(0, 80)),
    shares AS (
      SELECT
        sum(CASE WHEN regexp_full_match(
              CASE WHEN i % 10 < 6
                   THEN '2023-01-' || lpad(CAST(i % 27 + 1 AS VARCHAR), 2, '0')
                   ELSE 'x' || CAST(i AS VARCHAR) END,
              '\\d{4}-\\d{2}-\\d{2}([ T].*)?') THEN 1 ELSE 0 END) * 1.0
          / count(*) AS event_date_share,
        sum(CASE WHEN regexp_full_match(
              CASE WHEN i % 20 != 0 THEN CAST(20230000 + i AS VARCHAR)
                   ELSE 'abc' END,
              '\\d{8}') THEN 1 ELSE 0 END) * 1.0 / count(*) AS ref_code_share,
        sum(CASE WHEN regexp_full_match(
              CASE WHEN i % 5 = 0 THEN 'u' || CAST(i AS VARCHAR) || '@mail.com'
                   ELSE 'note ' || CAST(i AS VARCHAR) END,
              '[^@ ]+@[^@ ]+\\.[A-Za-z]{2,}') THEN 1 ELSE 0 END) * 1.0
          / count(*) AS contact_share,
        sum(CASE WHEN regexp_full_match(
              CASE WHEN i % 5 != 0 THEN '+49 30 ' || CAST(1000000 + i AS VARCHAR)
                   ELSE 'n/a' END,
              '\\+?[0-9 ()\\-.]{8,20}') THEN 1 ELSE 0 END) * 1.0
          / count(*) AS mobile_share,
        sum(CASE WHEN upper(regexp_replace(
              CASE WHEN i % 3 = 0
                   THEN CASE (i // 3) % 3 WHEN 0 THEN 'Germany'
                        WHEN 1 THEN 'France' ELSE 'Brazil' END
                   ELSE 'zone ' || CAST(i AS VARCHAR) END,
              '[^A-Za-z]', '', 'g'))
              IN ('GERMANY', 'FRANCE', 'BRAZIL') THEN 1 ELSE 0 END) * 1.0
          / count(*) AS origin_share,
        sum(CASE WHEN regexp_full_match(
              CASE WHEN i % 4 != 0 THEN CAST(10000 + i AS VARCHAR)
                   ELSE 'B1' END,
              '[0-9]{4,6}|[A-Za-z][0-9][A-Za-z] ?[0-9][A-Za-z][0-9]')
              THEN 1 ELSE 0 END) * 1.0 / count(*) AS post_box_share
      FROM r
    )
    SELECT column_name, key_type FROM (
      SELECT 'email' AS column_name, 'EMAIL' AS key_type, TRUE AS keep
      UNION ALL SELECT 'stamp', 'DATE', TRUE
      UNION ALL SELECT 'country', 'COUNTRY', TRUE
      UNION ALL SELECT 'zip_code', 'POSTAL_CODE', TRUE
      UNION ALL SELECT 'event_date', 'DATE', event_date_share >= 0.5 FROM shares
      UNION ALL SELECT 'ref_code', 'DATE', ref_code_share >= 0.9 FROM shares
      UNION ALL SELECT 'contact', 'EMAIL', contact_share > 0.1 FROM shares
      UNION ALL SELECT 'mobile_line', 'PHONE', mobile_share > 0.5 FROM shares
      UNION ALL SELECT 'origin', 'COUNTRY', origin_share > 0.1 FROM shares
      UNION ALL SELECT 'post_box', 'POSTAL_CODE', post_box_share > 0.5 FROM shares
    ) WHERE keep
    """,
)
def search_key_autodetect(spark, sf_dir):
    """Search-key autodetection as an oracle query (r5; reference
    features_enricher.py:5198-5265 + utils/*_utils.py detectors, lowered
    in pipeline/autodetect.py): a deterministic 80-row frame hits every
    ladder branch — name rules (email/country/zip), dtype rule
    (timestamp), name-hint+0.5 and bare-0.9 date-share rules, the >0.1
    email/country value shares, the phone name-hint+shape rule, and the
    'post'+shape postal rule — plus a noise column that must be OMITTED.
    The oracle recomputes every share with the same regexes over the
    same generated values (name/dtype rules are data-independent
    constants there, as in the reference), so a threshold, regex, or
    normalization drift on either side breaks the hash."""
    import datetime as _dt

    from upgini_spark.pipeline.autodetect import detect_search_keys

    rows = []
    countries = ["Germany", "France", "Brazil"]
    for i in range(80):
        rows.append((
            f"e{i}",                                                   # email (name rule)
            _dt.datetime(2024, 1 + i % 12, 1 + i % 27),                # stamp (dtype)
            f"c{i}",                                                   # country (name rule)
            f"z{i}",                                                   # zip_code (name rule)
            f"2023-01-{i % 27 + 1:02d}" if i % 10 < 6 else f"x{i}",    # event_date
            f"{20230000 + i}" if i % 20 != 0 else "abc",               # ref_code
            f"u{i}@mail.com" if i % 5 == 0 else f"note {i}",           # contact
            f"+49 30 {1000000 + i}" if i % 5 != 0 else "n/a",          # mobile_line
            countries[(i // 3) % 3] if i % 3 == 0 else f"zone {i}",    # origin
            f"{10000 + i}" if i % 4 != 0 else "B1",                    # post_box
            f"text {i}",                                               # comment (omitted)
        ))
    df = local_frame(
        spark,
        rows,
        "email string, stamp timestamp, country string, zip_code string, "
        "event_date string, ref_code string, contact string, "
        "mobile_line string, origin string, post_box string, comment string",
    ).coalesce(1)
    detected = detect_search_keys(df, head_rows=100)
    return local_frame(
        spark, sorted(detected.items()), "column_name string, key_type string"
    )


# ===========================================================================
# Round 3: auto-sized ANN structures over a larger planted fixture
# (VERDICT r02 item 4 — the documented scaling rules, now in code)
# ===========================================================================

_PLANTED_DIMS = 16


def _planted_vectors(spark, n: int):
    """Deterministic synthetic embedding corpus: v[d] = md5-derived uint16
    scaled to [-1, 1] — byte-identical in any SQL engine, sf-independent."""
    i = F.col("id")
    v = F.transform(
        F.sequence(F.lit(0), F.lit(_PLANTED_DIMS - 1)),
        lambda d: F.conv(
            F.substring(
                F.md5(F.concat(i.cast("string"), F.lit("_"), d.cast("string"))), 1, 4
            ),
            16, 10,
        ).cast("double") / 65535.0 * 2 - 1,
    )
    return spark.range(n).select(i.alias("vec_id"), v.alias("v"))


def _planted_vectors_sql(n: int) -> str:
    return f"""
      SELECT r AS vec_id,
             list_transform(range(0, {_PLANTED_DIMS}), d ->
               ('0x' || substr(md5(CAST(r AS VARCHAR) || '_' || CAST(d AS VARCHAR)),
                               1, 4))::UINTEGER / 65535.0 * 2 - 1) AS v
      FROM range(0, {n}) t(r)
    """


def _lsh_buckets_sql(src: str, n_planes: int, n_bands: int) -> str:
    """(vec_id, band, bucket) rows replaying hyperplane_sign_bits: band b
    uses the plane family [b*n_planes, (b+1)*n_planes)."""
    total = n_planes * n_bands
    return f"""
      planes AS (
        SELECT p.range AS p, d.range AS d,
               CASE WHEN substr(md5(CAST(p.range AS VARCHAR) || '_'
                                || CAST(d.range AS VARCHAR)), 1, 1) >= '8'
                    THEN 1.0 ELSE -1.0 END AS s
        FROM range(0, {total}) p, range(0, {_PLANTED_DIMS}) d
      ), dots AS (
        SELECT e.vec_id, pl.p // {n_planes} AS band, pl.p,
               sum(e.v[CAST(pl.d AS INT) + 1] * pl.s) AS dot
        FROM {src} e, planes pl GROUP BY e.vec_id, pl.p
      ), buckets AS (
        SELECT vec_id, band,
               string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
                          ORDER BY p) AS bucket
        FROM dots GROUP BY vec_id, band
      )
    """


_LSH_AUTO_N = 20_000
# auto_n_planes(20000, target=64) — the Spark side computes this from
# corpus.count(); the oracle bakes the same value for the planted fixture
_LSH_AUTO_PLANES = 9


@_q(
    "knn_cosine_lsh_auto",
    f"""
    WITH e AS ({_planted_vectors_sql(_LSH_AUTO_N)}),
    {_lsh_buckets_sql('e', _LSH_AUTO_PLANES, 2)},
    scored AS (
      SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS n_id,
             list_cosine_similarity(qe.v, ce.v) AS cos_raw
      FROM buckets qb
      JOIN buckets cb ON qb.band = cb.band AND qb.bucket = cb.bucket
                      AND qb.vec_id <> cb.vec_id
      JOIN e qe ON qe.vec_id = qb.vec_id
      JOIN e ce ON ce.vec_id = cb.vec_id
      WHERE qb.vec_id < 5
    ), ranked AS (
      SELECT q_id, n_id, round(cos_raw, 6) AS cos,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos_raw DESC, n_id ASC) AS BIGINT)
               AS rank
      FROM scored
    )
    SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3
    """,
)
def knn_cosine_lsh_auto(spark, sf_dir):
    """Auto-sized hyperplane LSH kNN: n_planes=None derives
    ceil(log2(20000/64)) = 9 planes from the corpus count
    (similarity.auto_n_planes), so the expected bucket stays at the
    64-row target as N grows — the round-2 verdict's scaling gap. The
    oracle replays the same 9-plane, 2-band family in SQL."""
    corp = _planted_vectors(spark, _LSH_AUTO_N)
    q = corp.filter(F.col("vec_id") < 5)
    out = SIM.cosine_topk_lsh(
        q, corp, "vec_id", "vec_id", "v", "v",
        k=3, n_planes=None, dims=_PLANTED_DIMS, n_bands=2,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


_NEAR_DUP_AUTO_N = 20_000


@_q(
    "embedding_near_dup_auto",
    f"""
    WITH base AS ({_planted_vectors_sql(_NEAR_DUP_AUTO_N)}),
    planted AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(v, x -> x * 1.0009765625) AS v
      FROM base WHERE vec_id < 30
    ),
    e AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
    {_lsh_buckets_sql('e', _LSH_AUTO_PLANES, 2)},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a
      JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS cos
    FROM cand c
    JOIN e ea ON ea.vec_id = c.id_a
    JOIN e eb ON eb.vec_id = c.id_b
    WHERE list_cosine_similarity(ea.v, eb.v) >= 0.99
    """,
)
def embedding_near_dup_auto(spark, sf_dir):
    """Near-dup pairs with the auto-sized plane family (9 planes from
    N=20030) — planted sign-preserving clones guarantee 30 true pairs
    survive every band, so LSH recall of the plant is exactly 1 and the
    oracle replays the identical candidate join (an all-pairs oracle at
    20k rows would be 4·10^8 comparisons)."""
    base = _planted_vectors(spark, _NEAR_DUP_AUTO_N)
    planted = base.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(1.0009765625)).alias("v"),
    )
    corp = base.unionByName(planted)
    return SIM.embedding_near_dup_lsh(
        corp, "vec_id", "v", threshold=0.99,
        n_planes=None, n_bands=2, dims=_PLANTED_DIMS,
    )


_IVF_KM_N = 10_000
_IVF_KM_CELLS = 100  # auto_n_cells(10000) = ceil(sqrt(N)); oracle bakes it


def _kmeans_assign_sql(cent: str, out: str, who: str = "e") -> str:
    """argmax-cosine assignment CTE (ties -> smallest cell), replaying
    similarity._nearest_cell."""
    return f"""
      {out} AS (
        SELECT vec_id, v, cell FROM (
          SELECT {who}.vec_id, {who}.v, {cent}.cell,
                 row_number() OVER (PARTITION BY {who}.vec_id
                   ORDER BY list_cosine_similarity({who}.v, {cent}.cv) DESC,
                            {cent}.cell ASC) AS rn
          FROM {who}, {cent}) WHERE rn = 1
      )
    """


def _kmeans_update_sql(assign: str, out: str, dims: int = _PLANTED_DIMS) -> str:
    """Per-dim mean rounded to 9dp, rebuilt as an ordered list — replays
    similarity.kmeans_centroids' update step (the 1e-9 quantum dwarfs
    float-summation order noise, so both engines get identical doubles)."""
    return f"""
      {out} AS (
        SELECT cell, list(m ORDER BY dim) AS cv FROM (
          SELECT {assign}.cell, d.range AS dim,
                 round(avg({assign}.v[CAST(d.range AS INT) + 1]), 9) AS m
          FROM {assign}, range(0, {dims}) d
          GROUP BY {assign}.cell, d.range)
        GROUP BY cell
      )
    """


@_q(
    "knn_cosine_ivf_kmeans",
    f"""
    WITH e AS ({_planted_vectors_sql(_IVF_KM_N)}),
    c0 AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
             v AS cv
      FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_KM_CELLS}
    ),
    {_kmeans_assign_sql('c0', 'a0')},
    {_kmeans_update_sql('a0', 'c1')},
    {_kmeans_assign_sql('c1', 'a1')},
    {_kmeans_update_sql('a1', 'c2')},
    {_kmeans_assign_sql('c2', 'cells')},
    probes AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c2.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c2.cv) DESC,
                          c2.cell ASC) AS rn
        FROM e, c2 WHERE e.vec_id < 5) WHERE rn <= 4
    ), scored AS (
      SELECT DISTINCT p.vec_id AS q_id, c.vec_id AS n_id,
             list_cosine_similarity(qe.v, ce.v) AS cos_raw
      FROM probes p
      JOIN cells c ON p.cell = c.cell AND p.vec_id <> c.vec_id
      JOIN e qe ON qe.vec_id = p.vec_id
      JOIN e ce ON ce.vec_id = c.vec_id
    ), ranked AS (
      SELECT q_id, n_id, round(cos_raw, 6) AS cos,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos_raw DESC, n_id ASC) AS BIGINT)
               AS rank
      FROM scored
    )
    SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3
    """,
)
def knn_cosine_ivf_kmeans(spark, sf_dir):
    """IVF kNN with sqrt(N) auto-sized cells (auto_n_cells(10000) = 100)
    and TWO deterministic Lloyd refinements from the md5-sample seed —
    the round-2 verdict's IVF scale gap. Centroids ride a broadcast
    DataFrame (not literal expressions), so the same code path works at
    any cell count; the oracle replays init → assign → mean(9dp-round) →
    assign → mean → final assignment bit-for-bit in SQL."""
    corp = _planted_vectors(spark, _IVF_KM_N)
    q = corp.filter(F.col("vec_id") < 5)
    out = SIM.cosine_topk_ivf_kmeans(
        q, corp, "vec_id", "vec_id", "v", "v",
        k=3, n_cells=None, n_probe=4, n_iter=2,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@_q(
    "knn_cosine_pq_adc",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    long AS (
      SELECT vec_id, s.range AS sub,
             CASE WHEN s.range = 0 THEN v[1:32] ELSE v[33:64] END AS sv
      FROM e, range(0, 2) s
    ),
    seed AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell, v
      FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4
    ),
    c0 AS (
      SELECT s.range AS sub, seed.cell,
             CASE WHEN s.range = 0 THEN v[1:32] ELSE v[33:64] END AS cv
      FROM seed, range(0, 2) s
    ),
    a0 AS (
      SELECT vec_id, sub, sv, cell FROM (
        SELECT l.vec_id, l.sub, l.sv, c.cell,
               row_number() OVER (PARTITION BY l.vec_id, l.sub
                 ORDER BY list_distance(l.sv, c.cv) ASC, c.cell ASC) AS rn
        FROM long l JOIN c0 c ON l.sub = c.sub) WHERE rn = 1
    ),
    c1 AS (
      SELECT sub, cell, list(mm ORDER BY dim) AS cv FROM (
        SELECT a0.sub, a0.cell, d.range AS dim,
               round(avg(a0.sv[CAST(d.range AS INT) + 1]), 9) AS mm
        FROM a0, range(0, 32) d GROUP BY a0.sub, a0.cell, d.range)
      GROUP BY sub, cell
    ),
    enc AS (
      SELECT vec_id, sub, cell FROM (
        SELECT l.vec_id, l.sub, c.cell,
               row_number() OVER (PARTITION BY l.vec_id, l.sub
                 ORDER BY list_distance(l.sv, c.cv) ASC, c.cell ASC) AS rn
        FROM long l JOIN c1 c ON l.sub = c.sub) WHERE rn = 1
    ),
    tbl AS (
      SELECT q.vec_id AS q_id, c.sub, c.cell,
             list_inner_product(
               CASE WHEN c.sub = 0 THEN q.v[1:32] ELSE q.v[33:64] END,
               c.cv) AS p
      FROM e q JOIN c1 c ON true WHERE q.vec_id < 5
    ),
    adc AS (
      SELECT t.q_id, enc.vec_id AS n_id, sum(t.p) AS a
      FROM enc JOIN tbl t ON t.sub = enc.sub AND t.cell = enc.cell
      WHERE t.q_id <> enc.vec_id
      GROUP BY t.q_id, enc.vec_id
    )
    SELECT q_id, n_id, adc, rank FROM (
      SELECT q_id, n_id, round(a, 6) AS adc,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY a DESC, n_id ASC) AS INT) AS rank
      FROM adc
    ) WHERE rank <= 5
    """,
)
def knn_cosine_pq_adc(spark, sf_dir):
    """Product-quantization ADC top-k (similarity.pq_topk_adc): PQ is the
    memory-scale ANN path the IVF family lacks — d=64 vectors compress
    to m=2 codebook ids (argmin-L2, deterministic 9dp Lloyd from the
    md5-ordered seed, same recipe as kmeans_centroids), and queries
    score every row with m table LOOKUPS instead of d multiplies. The
    oracle replays train → encode → per-query dot-product table →
    ADC sum → rank bit-for-bit in SQL (m=2 keeps every float sum
    2-term-commutative, so no ordering caveats). Approximates the inner
    product; exact cosine re-rank over the returned ids composes with
    cosine_topk_bruteforce."""
    emb = spread_scan(_t(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = SIM.pq_topk_adc(
        q, emb, "vec_id", "vec_id", "v", "v",
        dim=64, k=5, m=2, k_sub=4, n_iter=1,
    )
    return out


@_q(
    "knn_cosine_ivf_pq",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
             v AS cv
      FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4
    ),
    {_kmeans_assign_sql('c0', 'a0')},
    {_kmeans_update_sql('a0', 'c1', dims=64)},
    {_kmeans_assign_sql('c1', 'af')},
    probes AS (
      SELECT vec_id AS q_id, cell FROM (
        SELECT e.vec_id, c1.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c1.cv) DESC,
                          c1.cell ASC) AS rn
        FROM e, c1 WHERE e.vec_id < 5) WHERE rn <= 2
    ),
    long AS (
      SELECT vec_id, s.range AS sub,
             CASE WHEN s.range = 0 THEN v[1:32] ELSE v[33:64] END AS sv
      FROM e, range(0, 2) s
    ),
    pseed AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell, v
      FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4
    ),
    pc0 AS (
      SELECT s.range AS sub, pseed.cell,
             CASE WHEN s.range = 0 THEN v[1:32] ELSE v[33:64] END AS cv
      FROM pseed, range(0, 2) s
    ),
    pa0 AS (
      SELECT vec_id, sub, sv, cell FROM (
        SELECT l.vec_id, l.sub, l.sv, c.cell,
               row_number() OVER (PARTITION BY l.vec_id, l.sub
                 ORDER BY list_distance(l.sv, c.cv) ASC, c.cell ASC) AS rn
        FROM long l JOIN pc0 c ON l.sub = c.sub) WHERE rn = 1
    ),
    pc1 AS (
      SELECT sub, cell, list(mm ORDER BY dim) AS cv FROM (
        SELECT pa0.sub, pa0.cell, d.range AS dim,
               round(avg(pa0.sv[CAST(d.range AS INT) + 1]), 9) AS mm
        FROM pa0, range(0, 32) d GROUP BY pa0.sub, pa0.cell, d.range)
      GROUP BY sub, cell
    ),
    enc AS (
      SELECT vec_id, sub, cell FROM (
        SELECT l.vec_id, l.sub, c.cell,
               row_number() OVER (PARTITION BY l.vec_id, l.sub
                 ORDER BY list_distance(l.sv, c.cv) ASC, c.cell ASC) AS rn
        FROM long l JOIN pc1 c ON l.sub = c.sub) WHERE rn = 1
    ),
    tbl AS (
      SELECT q.vec_id AS q_id, c.sub, c.cell,
             list_inner_product(
               CASE WHEN c.sub = 0 THEN q.v[1:32] ELSE q.v[33:64] END,
               c.cv) AS p
      FROM e q JOIN pc1 c ON true WHERE q.vec_id < 5
    ),
    cand AS (
      SELECT pr.q_id, af.vec_id AS n_id
      FROM probes pr JOIN af ON af.cell = pr.cell
      WHERE pr.q_id <> af.vec_id
    ),
    adc AS (
      SELECT c.q_id, c.n_id, sum(t.p) AS a
      FROM cand c
      JOIN enc ON enc.vec_id = c.n_id
      JOIN tbl t ON t.q_id = c.q_id AND t.sub = enc.sub
                AND t.cell = enc.cell
      GROUP BY c.q_id, c.n_id
    )
    SELECT q_id, n_id, adc, rank FROM (
      SELECT q_id, n_id, round(a, 6) AS adc,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY a DESC, n_id ASC) AS INT) AS rank
      FROM adc
    ) WHERE rank <= 5
    """,
)
def knn_cosine_ivf_pq(spark, sf_dir):
    """IVF+PQ composition (similarity.pq_topk_ivf_adc) — the 10^12-row
    ANN shape (FAISS IVFADC minus residual encoding, documented there):
    coarse k-means cells (cosine, deterministic md5 seed + one 9dp Lloyd
    step), the corpus PQ-encoded ONCE into (id, cell, codes), queries
    probe their 2 nearest cells and ADC-score candidates fetched by an
    EQUI-JOIN on the cell id — per-query work is |probed cells|, not
    |corpus| (the plan's join on cell replaces knn_cosine_pq_adc's
    whole-corpus BNLJ). The oracle replays coarse train+assign, PQ
    train+encode, probe selection, the per-query dot-product table and
    the ADC sum bit-for-bit in SQL."""
    emb = spread_scan(_t(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    q = emb.filter(F.col("vec_id") < 5)
    return SIM.pq_topk_ivf_adc(
        q, emb, "vec_id", "vec_id", "v", "v",
        dim=64, k=5, m=2, k_sub=4, n_cells=4, n_probe=2,
        coarse_iter=1, pq_iter=1,
    )


@_q(
    "cluster_assign",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
             v AS cv
      FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4
    ),
    {_kmeans_assign_sql('c0', 'a0')},
    {_kmeans_update_sql('a0', 'c1', dims=64)},
    cmap AS (
      SELECT cell, CAST(row_number() OVER (ORDER BY cell) - 1 AS INT) AS dense
      FROM c1
    ),
    {_kmeans_assign_sql('c1', 'af')}
    SELECT af.vec_id, cmap.dense AS cluster_id
    FROM af JOIN cmap USING (cell)
    """,
)
def cluster_assign(spark, sf_dir):
    """`cluster` lowered LOCALLY (round-3): nearest fitted-centroid id
    through the formula/params protocol, exactly like outlier_dist —
    the reference declares `cluster` (autofe/unary.py:151-156) but
    computes it server-side; the fit stage here is one Lloyd step from
    the md5-sample seed (similarity.kmeans_centroids), serialized into
    the formula params and replayed by the oracle in SQL."""
    import json as _json
    from upgini_spark.plans.feature_dag import (
        parse_formula, set_op_params, lower_to_column,
    )

    emb = spread_scan(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cent = SIM.kmeans_centroids(emb, "vec_id", "v", n_cells=4, n_iter=1)
    # sort the ≤ 4 collected rows here: an orderBy over the centroids'
    # LocalRelation plans a shuffle and a sort (3 jobs)
    cents = [
        [float(x) for x in r["cvec"]]
        for r in sorted(cent.collect(), key=lambda r: r["cell"])
    ]
    node = parse_formula("cluster(v)")
    set_op_params(node, {"centroids": _json.dumps(cents)})
    return emb.select("vec_id", lower_to_column(node).alias("cluster_id"))


@_q(
    "dedup_components",
    f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    sym AS (
      SELECT id_a AS a, id_b AS b FROM cand_pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM cand_pairs
    ),
    cc(node, lab) AS (
      SELECT a, a FROM sym
      UNION
      SELECT e.a, cc.lab FROM cc JOIN sym e ON e.b = cc.node
    )
    SELECT node, min(lab) AS component, node = min(lab) AS kept
    FROM cc GROUP BY node
    """,
)
def dedup_components(spark, sf_dir):
    """Duplicate-cluster resolution — the step between LSH candidate
    pairs and an actual dedup pass at 10^12 rows: MinHash-LSH pairs →
    distributed min-label-propagation connected components
    (functions/dedup.connected_components) → canonical min-id per
    cluster; ``kept`` marks the one row per cluster a keep-canonical
    dedup retains (near_dup_keep_canonical). The oracle replays the
    pair pipeline plus a recursive-CTE transitive closure."""
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    pairs = DD.minhash_band_pairs(docs, "doc_id", "text", k=8, bands=4)
    cc = DD.connected_components(pairs)
    return cc.select(
        "node", "component", (F.col("node") == F.col("component")).alias("kept")
    )


@_q(
    "pack_sequences_512",
    """
    WITH d AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> CAST(('0x' || substr(md5(w), 1, 4))::UINTEGER % 32000
                         AS INT)) AS toks
      FROM documents
    ), o AS (
      SELECT doc_id, toks,
             sum(len(toks)) OVER (ORDER BY doc_id) - len(toks) AS off
      FROM d
    ), tok AS (
      SELECT doc_id, off + generate_subscripts(toks, 1) - 1 AS p,
             unnest(toks) AS tk
      FROM o
    ), ch AS (
      SELECT CAST(p // 512 AS BIGINT) AS chunk_id,
             CAST(p % 512 AS INT) AS pos, tk, doc_id
      FROM tok
    )
    SELECT chunk_id,
           CAST(count(*) AS INT) AS n_tokens,
           CAST(count(DISTINCT doc_id) AS INT) AS n_docs,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           md5(string_agg(CAST(tk AS VARCHAR), ',' ORDER BY pos)) AS tokens_md5
    FROM ch GROUP BY chunk_id
    """,
)
def pack_sequences_512(spark, sf_dir):
    """Concat-and-chunk sequence packing (functions/tokens.pack_sequences)
    — the canonical pretraining layout for the north rule's token
    payload: documents laid end-to-end in doc_id order, cut into 512-token
    chunks, offsets from the distributed running sum. tokens_md5 hashes
    the packed token list, proving BYTE-IDENTICAL token arrays per chunk
    against the SQL replay (arrays themselves would crash the driver's
    canonicalizer). Word-md5 token ids stand in for a real tokenizer —
    engine-portable and sf-scalable."""
    from upgini_spark.functions.tokens import pack_sequences

    docs = spread_scan(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.transform(
            F.split("text", " "),
            lambda w: (F.conv(F.substring(F.md5(w), 1, 4), 16, 10) % 32000)
            .cast("int"),
        ).alias("toks"),
    )
    packed = pack_sequences(docs, "doc_id", "toks", 512)
    return packed.select(
        "chunk_id", "n_tokens", "n_docs", "first_doc", "last_doc",
        F.md5(
            F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string")))
        ).alias("tokens_md5"),
    )


@_q(
    "mix_sources_sample",
    """
    WITH u AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               / 1152921504606846976.0 AS uf
      FROM documents
    )
    SELECT doc_id, source FROM u
    WHERE uf < CASE source WHEN 'src1' THEN 1.0
                           WHEN 'src2' THEN 0.5
                           WHEN 'src3' THEN 0.25
                           ELSE 0.6 END
    """,
)
def mix_sources_sample(spark, sf_dir):
    """Deterministic data mixing (functions/sampling.sample_by_rates):
    per-source keep rates applied via the row's hash-uniform — seed-free,
    cluster-size-invariant (each row's fate is a pure function of its id),
    rates compose monotonically. 2^60 = 16^15 makes the uniform an exact
    double on both engines, so the oracle matches bit-for-bit."""
    from upgini_spark.functions.sampling import sample_by_rates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = sample_by_rates(
        docs, "source", {"src1": 1.0, "src2": 0.5, "src3": 0.25},
        id_cols=["doc_id"], default_rate=0.6,
    )
    return out.select("doc_id", "source")


@_q(
    "quality_filter_decisions",
    """
    WITH s AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> len(t) > 0) AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS nt,
             CASE WHEN len(toks) = 0 THEN NULL
                  ELSE CAST(list_reduce(list_transform(toks, t -> len(t)),
                                        (a, b) -> a + b) AS DOUBLE) / len(toks)
             END AS mwl,
             CASE WHEN len(text) = 0 THEN 0.0
                  ELSE CAST(len(regexp_replace(text,
                       '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
                       / len(text) END AS pr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks,
                    t -> list_contains(['the','a','an','and','or','of','to',
                                        'in','is','it','that','for','on',
                                        'with','as','at','by','this','be',
                                        'are'], lower(t)))) AS DOUBLE)
                       / len(toks) END AS en
      FROM s
    )
    SELECT doc_id,
           CASE WHEN nt IS NULL THEN 'empty'
                WHEN nt < 5 THEN 'too_short'
                WHEN nt > 100000 THEN 'too_long'
                WHEN mwl < 2.0 OR mwl > 12.0 THEN 'word_length'
                WHEN pr > 0.2 THEN 'punctuation'
                WHEN en < 0.05 THEN 'language'
                ELSE 'ok' END AS reject_reason,
           CASE WHEN nt IS NULL THEN FALSE
                WHEN nt < 5 THEN FALSE
                WHEN nt > 100000 THEN FALSE
                WHEN mwl < 2.0 OR mwl > 12.0 THEN FALSE
                WHEN pr > 0.2 THEN FALSE
                WHEN en < 0.05 THEN FALSE
                ELSE TRUE END AS keep
    FROM m
    """,
)
def quality_filter_decisions(spark, sf_dir):
    """C4/Gopher-style document filter (functions/text.quality_filter):
    length band, mean-word-length sanity, punctuation ratio, stopword
    language score — first failing rule is the reject reason, fixed
    priority. All native expressions replayed exactly in SQL; the
    decision step a pretraining pipeline runs after text stats."""
    from upgini_spark.functions.text import quality_filter

    docs = spread_scan(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    out = quality_filter(docs, "text")
    return out.select("doc_id", "reject_reason", "keep")


@_q(
    "pack_by_source_256",
    """
    WITH d AS (
      SELECT doc_id, source,
             list_transform(string_split(text, ' '),
               w -> CAST(('0x' || substr(md5(w), 1, 4))::UINTEGER % 32000
                         AS INT)) AS toks
      FROM documents
    ), o AS (
      SELECT doc_id, source, toks,
             sum(len(toks)) OVER (
               PARTITION BY source ORDER BY doc_id) - len(toks) AS off
      FROM d
    ), tok AS (
      SELECT doc_id, source, off + generate_subscripts(toks, 1) - 1 AS p,
             unnest(toks) AS tk
      FROM o
    ), ch AS (
      SELECT source, CAST(p // 256 AS BIGINT) AS chunk_id,
             CAST(p % 256 AS INT) AS pos, tk, doc_id
      FROM tok
    )
    SELECT source, chunk_id,
           CAST(count(*) AS INT) AS n_tokens,
           CAST(count(DISTINCT doc_id) AS INT) AS n_docs,
           md5(string_agg(CAST(tk AS VARCHAR), ',' ORDER BY pos)) AS tokens_md5
    FROM ch GROUP BY source, chunk_id
    """,
)
def pack_by_source_256(spark, sf_dir):
    """Per-group packing: chunks never cross a source boundary and chunk
    ids restart per source — the per-shard layout of a mixed-corpus
    pipeline (tokens.pack_sequences with group_cols; offsets from a
    per-group window cumsum, distributed across groups)."""
    from upgini_spark.functions.tokens import pack_sequences

    docs = spread_scan(_t(spark, sf_dir, "documents")).select(
        "doc_id", "source",
        F.transform(
            F.split("text", " "),
            lambda w: (F.conv(F.substring(F.md5(w), 1, 4), 16, 10) % 32000)
            .cast("int"),
        ).alias("toks"),
    )
    packed = pack_sequences(docs, "doc_id", "toks", 256, group_cols=["source"])
    return packed.select(
        "source", "chunk_id", "n_tokens", "n_docs",
        F.md5(
            F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string")))
        ).alias("tokens_md5"),
    )


@_q(
    "pii_redaction_stats",
    """
    WITH t AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1 (555) 123-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' at 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
               AS raw
      FROM documents
    ), r AS (
      SELECT doc_id, raw,
             regexp_replace(regexp_replace(regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
               '\\+?\\d[\\d ()-]{7,}\\d', '<PHONE>', 'g') AS red
      FROM t
    )
    SELECT doc_id, md5(red) AS redacted_md5,
           CAST(len(regexp_extract_all(red, '<EMAIL>')) AS INT) AS email_hits,
           CAST(len(regexp_extract_all(red, '<PHONE>')) AS INT) AS phone_hits,
           CAST(len(regexp_extract_all(red, '<IP>')) AS INT) AS ip_hits
    FROM r
    """,
)
def pii_redaction_stats(spark, sf_dir):
    """PII redaction (functions/text.redact_pii): emails, IPv4 literals
    and phone-shaped digit runs → typed placeholders, pure native
    regexp_replace chain. The fixture plants one of each per document;
    md5 of the redacted text proves byte-identical scrubbing against the
    SQL replay, and the placeholder counts prove every plant was hit."""
    from upgini_spark.functions.text import redact_pii

    docs = spread_scan(_t(spark, sf_dir, "documents"))
    raw = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 (555) 123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" at 10."), (F.col("doc_id") % 256).cast("string"), F.lit(".0.1"),
    )
    red = redact_pii(raw)
    return docs.select(
        "doc_id",
        F.md5(red).alias("redacted_md5"),
        F.regexp_count(red, F.lit("<EMAIL>")).cast("int").alias("email_hits"),
        F.regexp_count(red, F.lit("<PHONE>")).cast("int").alias("phone_hits"),
        F.regexp_count(red, F.lit("<IP>")).cast("int").alias("ip_hits"),
    )


@_q(
    "repetition_share",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(
               CASE WHEN doc_id % 10 = 0
                    THEN text || ' ' || text || ' ' || text ELSE text END),
               '\\s+'), t -> len(t) > 0) AS words
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(words) - 2 >= 1 THEN
             round(1.0 - CAST(len(list_distinct(
               list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])))
               AS DOUBLE) / (len(words) - 2), 6)
           END AS dup3_share
    FROM w
    """,
)
def repetition_share(spark, sf_dir):
    """Gopher-style repetition filter signal (text.dup_ngram_share):
    1 − distinct/total word trigrams. Every 10th document is tripled so
    the planted repetition is visible (share ≈ 2/3) next to natural text."""
    from upgini_spark.functions.text import dup_ngram_share

    docs = spread_scan(_t(spark, sf_dir, "documents"))
    boosted = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat_ws(" ", "text", "text", "text"),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id", F.round(dup_ngram_share(boosted, n=3), 6).alias("dup3_share")
    )


@_q(
    "decontaminate_overlap",
    """
    WITH wh AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> ('0x' || substr(md5(w), 1, 12))::BIGINT) AS wh
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(wh) - 2 >= 1
                  THEN list_transform(range(1, len(wh) - 1),
                       i -> (wh[i] * 31 + wh[i+1]) * 31 + wh[i+2])
                  ELSE [list_reduce(wh, (a, x) -> a * 31 + x)] END AS hs
      FROM wh
    ), bench AS (
      SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % 25 = 0
    ), corp AS (
      SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % 25 <> 0
    ), hits AS (
      SELECT DISTINCT c.doc_id FROM corp c JOIN bench b ON c.h = b.h
    )
    SELECT s.doc_id,
           s.doc_id IN (SELECT doc_id FROM hits) AS contaminated
    FROM sh s WHERE s.doc_id % 25 <> 0
    """,
)
def decontaminate_overlap(spark, sf_dir):
    """Benchmark decontamination (dedup.decontaminate_ngrams): every 25th
    document plays the held-out benchmark; training docs sharing ANY word
    trigram with it are flagged — the GPT-3-style overlap check, as one
    shingle-hash explode + semi-join (same Rabin-Karp word-hash roll as
    the minhash family, replayed in SQL)."""
    from upgini_spark.functions.dedup import decontaminate_ngrams

    docs = spread_scan(_t(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    return decontaminate_ngrams(corpus, bench, "doc_id", "text", "text")


def _define_task_sql(name: str, expr: str, has_date: str = "FALSE") -> str:
    """One task-type decision row, recomputing define_task's ladder from
    SQL aggregates over the cleaned target (numeric targets here)."""
    return f"""
    SELECT '{name}' AS target_name,
           CASE WHEN nd = 2 THEN 'BINARY'
                WHEN nd <= 50 AND whole = 0 AND (mn = 0 OR mn = 1)
                     AND mx - mn + 1 = nd THEN 'MULTICLASS'
                WHEN {has_date} THEN 'REGRESSION'
                WHEN whole = 1 OR nz_items > 50
                     OR CAST(nz_items AS DOUBLE) / nz_n > 0.2
                     THEN 'REGRESSION'
                ELSE 'MULTICLASS' END AS task
    FROM (
      SELECT count(DISTINCT v) AS nd,
             max(CASE WHEN v <> floor(v) THEN 1 ELSE 0 END) AS whole,
             min(v) AS mn, max(v) AS mx,
             count(DISTINCT CASE WHEN v <> 0 THEN v END) AS nz_items,
             count(CASE WHEN v <> 0 THEN 1 END) AS nz_n
      FROM (SELECT CAST({expr} AS DOUBLE) AS v FROM events WHERE {expr} IS NOT NULL)
    )
    """


@_q(
    "define_task_decisions",
    f"""
    {_define_task_sql('t_binary', 'CAST(value > 25 AS INT)')}
    UNION ALL
    {_define_task_sql('t_multi_int', 'user_id % 5')}
    UNION ALL
    {_define_task_sql('t_regression', 'value')}
    UNION ALL
    SELECT 't_multi_str' AS target_name,
           CASE WHEN count(DISTINCT event_type) = 2 THEN 'BINARY'
                ELSE 'MULTICLASS' END AS task
    FROM events
    """,
)
def define_task_decisions(spark, sf_dir):
    """Task-type autodetection (stats.define_task, reference
    target_utils.py:29-113 — replayed against test_target_utils.py):
    four synthesized targets hit four ladder branches (2-distinct BINARY,
    0..4 int-encoded MULTICLASS, fractional-float REGRESSION, non-numeric
    MULTICLASS); the oracle recomputes the ladder from SQL aggregates."""
    from upgini_spark.functions.stats import define_task

    ev = _t(spark, sf_dir, "events")
    targets = {
        "t_binary": ev.select((F.col("value") > 25).cast("int").alias("y")),
        "t_multi_int": ev.select((F.col("user_id") % 5).alias("y")),
        "t_regression": ev.select(F.col("value").alias("y")),
        "t_multi_str": ev.select(F.col("event_type").alias("y")),
    }
    rows = [(n, define_task(d, "y")) for n, d in targets.items()]
    return local_frame(spark, rows, "target_name string, task string")


@_q(
    "cv_group_kfold",
    """
    WITH RECURSIVE g AS (
      SELECT grp, cnt,
             row_number() OVER (ORDER BY cnt DESC, grp) - 1 AS ord
      FROM (
        SELECT user_id % 37 AS grp, count(*) AS cnt
        FROM events GROUP BY 1
      )
    ), greedy(ord, grp, fold, loads) AS (
      SELECT ord, grp, 0,
             list_transform(range(1, 6),
               j -> CASE WHEN j = 1 THEN cnt ELSE CAST(0 AS BIGINT) END)
      FROM g WHERE ord = 0
      UNION ALL
      SELECT g.ord, g.grp,
             CAST(list_indexof(p.loads, list_min(p.loads)) - 1 AS INT),
             list_transform(range(1, 6),
               j -> p.loads[CAST(j AS INT)] + CASE
                 WHEN j = list_indexof(p.loads, list_min(p.loads))
                 THEN g.cnt ELSE 0 END)
      FROM greedy p JOIN g ON g.ord = p.ord + 1
    )
    SELECT e.event_id, CAST(gr.fold AS INT) AS fold_id
    FROM events e JOIN greedy gr ON e.user_id % 37 = gr.grp
    """,
)
def cv_group_kfold(spark, sf_dir):
    """Balanced GroupKFold (sklearn semantics, cv_utils.py:71): size-desc
    greedy onto the lightest fold, all rows of a group together. The
    oracle replays the sequential greedy as a recursive CTE carrying the
    per-fold load vector through the recursion."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "grp", F.col("user_id") % 37
    )
    out = CV.group_kfold_column(ev, ["grp"], n_splits=5)
    return out.select("event_id", "fold_id")

"""Replay the reference's golden time-series expectations through the Spark
operators (reference: tests/autofe/test_lag.py, test_roll.py — expected
values only; semantics per src/upgini/autofe/timeseries/)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from upgini_spark.functions.keys import parse_datetime_multi
from upgini_spark.operators.timeseries import (
    delta_feature,
    lag_feature,
    roll_feature,
    sessionize,
    trend_coefficient,
    ts_features_parity,
    volatility_ratio,
)

NAN = float("nan")


def _mkdf(spark, dates, values, groups=None):
    rows = []
    for i, (d, v) in enumerate(zip(dates, values)):
        row = {"date_raw": d, "value": float(v), "ord": i}
        if groups:
            for gname, gvals in groups.items():
                row[gname] = gvals[i]
        rows.append(row)
    df = spark.createDataFrame(rows)
    return df.withColumn("ts", parse_datetime_multi(F.col("date_raw")))


def _result(df, out_col):
    got = {r["ord"]: r[out_col] for r in df.collect()}
    return [got[i] for i in sorted(got)]


def _check(got, expected):
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        if e is None or (isinstance(e, float) and math.isnan(e)):
            assert g is None or (isinstance(g, float) and math.isnan(g)), (g, e)
        else:
            assert g is not None and np.isclose(g, e), (g, e)


# ---- Lag (tests/autofe/test_lag.py) ----------------------------------------

def test_lag_date(spark):
    df = _mkdf(spark, ["2024-05-06", "2024-05-07", "2024-05-08", "2024-05-09"], [1, 2, 3, 4])
    for n, exp in [(1, [NAN, 1.0, 2.0, 3.0]), (2, [NAN, NAN, 1.0, 2.0])]:
        out = ts_features_parity(
            df, "ts", [], "value",
            [("lag", lambda s, n=n: lag_feature(s, "ts", [], "value", n, "D", out_col="lag"))],
            order_col="ord",
        )
        _check(_result(out, "lag"), exp)


def test_lag_date_groups(spark):
    df = _mkdf(
        spark,
        ["2024-05-06", "2024-05-06", "---", "2024-05-07", "2024-05-07", "2024-05-07"],
        [1, 2, 3, 4, 4, 5],
        groups={"f1": ["a", "b", "a", "a", "a", "c"], "f2": [1, 2, 1, 1, 1, 2]},
    )
    for n, exp in [
        (1, [NAN, NAN, NAN, 1.0, 1.0, NAN]),
        (2, [NAN, NAN, NAN, NAN, NAN, NAN]),
    ]:
        out = ts_features_parity(
            df, "ts", ["f1", "f2"], "value",
            [("lag", lambda s, n=n: lag_feature(
                s, "ts", ["f1", "f2"], "value", n, "D", out_col="lag"))],
            order_col="ord",
        )
        _check(_result(out, "lag"), exp)


def test_lag_hours(spark):
    df = _mkdf(
        spark,
        ["2024-05-05 22:00", "2024-05-06 23:00", "2024-05-07 00:00",
         "2024-05-08 01:00", "2024-05-08 02:00"],
        [1, 2, 3, 4, 5],
    )
    cases = [
        (1, "D", [NAN, 1.0, 1.0, 2.0, 2.0]),
        (2, "D", [NAN, NAN, NAN, 1.0, 1.0]),
        (1, "h", [NAN, NAN, 2.0, NAN, 4.0]),
    ]
    for n, unit, exp in cases:
        out = ts_features_parity(
            df, "ts", [], "value",
            [("lag", lambda s, n=n, u=unit: lag_feature(
                s, "ts", [], "value", n, u, out_col="lag"))],
            order_col="ord",
        )
        _check(_result(out, "lag"), exp)


def test_lag_with_offset(spark):
    df = _mkdf(
        spark,
        ["2024-05-05", "2024-05-06", "2024-05-07", "2024-05-08", "2024-05-08"],
        [1, 2, 3, 4, 5],
    )
    cases = [
        (1, 0, [NAN, 1.0, 2.0, 3.0, 3.0]),
        (1, 1, [NAN, NAN, 1.0, 2.0, 2.0]),
        (2, 1, [NAN, NAN, NAN, 1.0, 1.0]),
    ]
    for n, off, exp in cases:
        out = ts_features_parity(
            df, "ts", [], "value",
            [("lag", lambda s, n=n: lag_feature(s, "ts", [], "value", n, "D", out_col="lag"))],
            order_col="ord",
            offset=(off, "D") if off else None,
        )
        _check(_result(out, "lag"), exp)


# ---- Roll (tests/autofe/test_roll.py) ---------------------------------------

ROLL_DATE_CASES = [
    ("mean", [1.0, 3.5, NAN, 2.5, 4.5, 4.5, 4.5]),
    ("min", [1.0, 2.0, NAN, 1.0, 4.0, 4.0, 4.0]),
    ("max", [1.0, 5.0, NAN, 4.0, 5.0, 5.0, 5.0]),
    ("std", [NAN, 2.1213203435596424, NAN, 2.1213203435596424,
             0.7071067811865476, 0.7071067811865476, 0.7071067811865476]),
    ("median", [1.0, 3.5, NAN, 2.5, 4.5, 4.5, 4.5]),
    ("norm_mean", [1.0, 0.5714285714285714, NAN, 1.6,
                   1.1111111111111112, 1.1111111111111112, 1.1111111111111112]),
    ("q25", [1.0, 2.75, NAN, 1.75, 4.25, 4.25, 4.25]),
    ("q75", [1.0, 4.25, NAN, 3.25, 4.75, 4.75, 4.75]),
    ("iqr", [0.0, 1.5, NAN, 1.5, 0.5, 0.5, 0.5]),
]


@pytest.mark.parametrize("agg,expected", ROLL_DATE_CASES)
def test_roll_date(spark, agg, expected):
    df = _mkdf(
        spark,
        ["2024-05-06", "2024-05-09", "---", "2024-05-07", "2024-05-08", "2024-05-08", "2024-05-08"],
        [1, 2, 3, 4, 5, 5, 6],
    )
    out = ts_features_parity(
        df, "ts", [], "value",
        [("roll", lambda s: roll_feature(s, "ts", [], "value", 2, "D", agg, out_col="roll"))],
        order_col="ord",
    )
    _check(_result(out, "roll"), expected)


def test_roll_date_groups(spark):
    df = _mkdf(
        spark,
        ["2024-05-06", "2024-05-06", "---", "2024-05-07", "2024-05-07", "2024-05-07"],
        [1, 2, 3, 4, 4, 5],
        groups={"f1": ["a", "b", "a", "a", "a", "c"], "f2": [1, 2, 1, 1, 1, 2]},
    )
    cases = [
        (1, "mean", [1.0, 2.0, NAN, 4.0, 4.0, 5.0]),
        (2, "mean", [1.0, 2.0, NAN, 2.5, 2.5, 5.0]),
        (2, "norm_mean", [1.0, 1.0, NAN, 1.6, 1.6, 1.0]),
    ]
    for n, agg, exp in cases:
        out = ts_features_parity(
            df, "ts", ["f1", "f2"], "value",
            [("roll", lambda s, n=n, a=agg: roll_feature(
                s, "ts", ["f1", "f2"], "value", n, "D", a, out_col="roll"))],
            order_col="ord",
        )
        _check(_result(out, "roll"), exp)


def test_roll_with_offset(spark):
    df = _mkdf(
        spark,
        ["2024-05-05", "2024-05-06", "2024-05-07", "2024-05-08", "2024-05-08"],
        [1, 2, 3, 4, 5],
    )
    cases = [
        (2, 0, "mean", [1.0, 1.5, 2.5, 3.5, 3.5]),
        (2, 1, "mean", [NAN, 1.0, 1.5, 2.5, 2.5]),
        (3, 1, "median", [NAN, 1.0, 1.5, 2.0, 2.0]),
    ]
    for n, off, agg, exp in cases:
        out = ts_features_parity(
            df, "ts", [], "value",
            [("roll", lambda s, n=n, a=agg: roll_feature(
                s, "ts", [], "value", n, "D", a, out_col="roll"))],
            order_col="ord",
            offset=(off, "D") if off else None,
        )
        _check(_result(out, "roll"), exp)


def test_roll_with_offset_and_groups(spark):
    df = _mkdf(
        spark,
        ["2024-05-05", "2024-05-06", "2024-05-07", "2024-05-08", "2024-05-08"] * 2,
        [1, 2, 3, 4, 5, 10, 20, 30, 40, 50],
        groups={"grp": ["A"] * 5 + ["B"] * 5},
    )
    cases = [
        (2, 0, "mean", [1.0, 1.5, 2.5, 3.5, 3.5, 10.0, 15.0, 25.0, 35.0, 35.0]),
        (2, 1, "mean", [NAN, 1.0, 1.5, 2.5, 2.5, NAN, 10.0, 15.0, 25.0, 25.0]),
        (3, 1, "median", [NAN, 1.0, 1.5, 2.0, 2.0, NAN, 10.0, 15.0, 20.0, 20.0]),
    ]
    for n, off, agg, exp in cases:
        out = ts_features_parity(
            df, "ts", ["grp"], "value",
            [("roll", lambda s, n=n, a=agg: roll_feature(
                s, "ts", ["grp"], "value", n, "D", a, out_col="roll"))],
            order_col="ord",
            offset=(off, "D") if off else None,
        )
        _check(_result(out, "roll"), exp)


def test_roll_hours(spark):
    df = _mkdf(
        spark,
        ["2024-05-05 22:00", "2024-05-06 23:00", "2024-05-07 00:00",
         "2024-05-08 01:00", "2024-05-08 02:00"],
        [1, 2, 3, 4, 5],
    )
    cases = [
        (1, "D", "mean", [1.0, 2.0, 2.5, 4.0, 4.5]),
        (2, "D", "median", [1.0, 1.5, 2.0, 3.0, 3.5]),
        (2, "h", "norm_mean", [1.0, 1.0, 1.2, 1.0, 1.111111]),
    ]
    for n, unit, agg, exp in cases:
        out = ts_features_parity(
            df, "ts", [], "value",
            [("roll", lambda s, n=n, u=unit, a=agg: roll_feature(
                s, "ts", [], "value", n, u, a, out_col="roll"))],
            order_col="ord",
        )
        _check(_result(out, "roll"), exp)


# ---- Delta / trend / vol-ratio / session — semantic sanity ------------------

def test_delta(spark):
    df = _mkdf(spark, ["2024-05-06", "2024-05-07", "2024-05-08", "2024-05-09"], [1, 3, 6, 10])
    out = delta_feature(df.filter("ts is not null"), "ts", [], "value", 1, "D", out_col="d1")
    _check(_result(out, "d1"), [NAN, 2.0, 3.0, 4.0])
    out2 = delta_feature(df.filter("ts is not null"), "ts", [], "value", 1, "D", order=2, out_col="d2")
    _check(_result(out2, "d2"), [NAN, NAN, 1.0, 1.0])


def test_trend_coefficient(spark):
    # perfectly linear series -> slope == 2 everywhere
    df = _mkdf(spark, ["2024-05-06", "2024-05-07", "2024-05-08", "2024-05-09"], [0, 2, 4, 6])
    out = trend_coefficient(df, "ts", [], "value", out_col="tc")
    _check(_result(out, "tc"), [2.0, 2.0, 2.0, 2.0])


def test_volatility_ratio_constant_series(spark):
    # constant series: vols are 0 -> ratio non-finite -> 1 per reference
    df = _mkdf(spark, ["2024-05-06", "2024-05-07", "2024-05-08", "2024-05-09"], [5, 5, 5, 5])
    out = volatility_ratio(df, "ts", [], "value", 2, 3, "D", out_col="vr")
    _check(_result(out, "vr"), [1.0, 1.0, 1.0, 1.0])


def test_sessionize_gaps(spark):
    df = _mkdf(
        spark,
        ["2024-05-06 10:00", "2024-05-06 10:10", "2024-05-06 12:00",
         "2024-05-06 12:05", "2024-05-07 09:00"],
        [1, 2, 3, 4, 5],
    )
    out = sessionize(df, "ts", [], gap_seconds=1800, tie_cols=["ord"])
    _check([float(x) for x in _result(out, "session_id")], [1.0, 1.0, 2.0, 2.0, 3.0])


# ---- Delta goldens (tests/autofe/test_delta.py) ------------------------------

def test_delta_golden(spark):
    df = _mkdf(spark, ["2024-05-05", "2024-05-06", "2024-05-07", "2024-05-09"], [1, 2, 3, 5])
    cases = [(1, [NAN, 1.0, 1.0, NAN]), (2, [NAN, NAN, 2.0, 2.0])]
    for n, exp in cases:
        out = ts_features_parity(
            df, "ts", [], "value",
            [("d", lambda s, n=n: delta_feature(s, "ts", [], "value", n, "D", out_col="d"))],
            order_col="ord",
        )
        _check(_result(out, "d"), exp)


def test_delta_groups_golden(spark):
    df = _mkdf(
        spark,
        ["2024-05-06", "2024-05-06", "---", "2024-05-07", "2024-05-07", "2024-05-07"],
        [1, 1, 3, 4, 4, 5],
        groups={"f1": ["a", "b", "a", "a", "a", "b"], "f2": [1, 2, 1, 1, 1, 2]},
    )
    cases = [
        (1, [NAN, NAN, NAN, 3.0, 3.0, 4.0]),
        (2, [NAN, NAN, NAN, NAN, NAN, NAN]),
    ]
    for n, exp in cases:
        out = ts_features_parity(
            df, "ts", ["f1", "f2"], "value",
            [("d", lambda s, n=n: delta_feature(
                s, "ts", ["f1", "f2"], "value", n, "D", out_col="d"))],
            order_col="ord",
        )
        _check(_result(out, "d"), exp)


def test_delta2_golden(spark):
    df = _mkdf(
        spark,
        ["2024-05-05", "2024-05-06", "2024-05-07", "2024-05-08", "2024-05-09"],
        [1, 2, 4, 7, 11],
    )
    cases = [
        (1, [NAN, NAN, 1.0, 1.0, 1.0]),
        (2, [NAN, NAN, NAN, NAN, 4.0]),
    ]
    for n, exp in cases:
        out = ts_features_parity(
            df, "ts", [], "value",
            [("d", lambda s, n=n: delta_feature(
                s, "ts", [], "value", n, "D", order=2, out_col="d"))],
            order_col="ord",
        )
        _check(_result(out, "d"), exp)


# ---- Volatility goldens (tests/autofe/test_rolling_vol.py, test_ewma_vol.py) --

from upgini_spark.operators.timeseries import ewma_volatility, rolling_volatility  # noqa: E402

VOL_DATES = ["2024-05-01", "2024-05-02", "2024-05-03", "2024-05-04", "2024-05-05"]
VOL_VALUES = [100, 110, 99, 121, 115]


@pytest.mark.parametrize("n,expected", [
    (3, [NAN, 0.07071067811865482, 0.10000000000000003, 0.16266808337776115, 0.17332473642609442]),
    (2, [NAN, 0.07071067811865482, 0.14142135623730956, 0.22784551838233202, 0.1921979864382168]),
    (5, [NAN, 0.07071067811865482, 0.10000000000000003, 0.1378852627332318, 0.12833643782026619]),
])
def test_rolling_volatility_golden(spark, n, expected):
    df = _mkdf(spark, VOL_DATES, VOL_VALUES)
    out = ts_features_parity(
        df, "ts", [], "value",
        [("v", lambda s: rolling_volatility(s, "ts", [], "value", n, "D", out_col="v"))],
        order_col="ord",
    )
    _check(_result(out, "v"), expected)


@pytest.mark.parametrize("span,expected", [
    (3, [NAN, 0.07071067811865477, 0.1164964745021435, 0.17599803590374327, 0.15403830565097604]),
    (2, [NAN, 0.07071067811865481, 0.12403473458920847, 0.19273115769200153, 0.16516062582879912]),
    (5, [NAN, 0.07071067811865482, 0.1100239208440362, 0.16118516299625862, 0.14428760780515082]),
])
def test_ewma_volatility_golden(spark, span, expected):
    df = _mkdf(spark, VOL_DATES, VOL_VALUES)
    out = ts_features_parity(
        df, "ts", [], "value",
        [("v", lambda s: ewma_volatility(s, "ts", [], "value", span, out_col="v"))],
        order_col="ord",
    )
    _check(_result(out, "v"), expected)


# ---- Cross-series golden (tests/autofe/test_cross.py) -----------------------

def test_cross_series_golden(spark):
    from upgini_spark.operators import binary as B
    from upgini_spark.operators.timeseries import cross_series_interaction

    dates = ["2024-05-06", "2024-05-07", "2024-05-08", "2024-05-09"] * 2
    cats = ["A"] * 4 + ["B"] * 4
    vals = [10.0, 20.0, 30.0, 40.0, 5.0, 15.0, 25.0, 35.0]
    df = _mkdf(spark, dates, vals, groups={"category": cats})
    cases = [
        (B.add, [15.0, 35.0, 55.0, 75.0] * 2),
        (B.subtract, [5.0, 5.0, 5.0, 5.0] * 2),
        (B.multiply, [50.0, 300.0, 750.0, 1400.0] * 2),
        (B.divide, [2.0, 20 / 15, 30 / 25, 40 / 35] * 2),
    ]
    for op, exp in cases:
        out = cross_series_interaction(
            df, "ts", ["category"], ["A"], ["B"], "value", op, out_col="x"
        )
        _check(_result(out, "x"), exp)


# ---- VolatilityRatio golden (tests/autofe/test_volatility_ratio.py) ---------

def test_volatility_ratio_golden(spark):
    import pandas as pd
    import numpy as np
    from upgini_spark.operators.timeseries import volatility_ratio

    dates = ["2024-05-01", "2024-05-02", "2024-05-03", "2024-05-04",
             "2024-05-05", "2024-05-06", "2024-05-07"]
    vals = [100.0, 110.0, 99.0, 121.0, 115.0, 105.0, 112.0]

    def pandas_expected(short, long):
        s = pd.Series(vals, index=pd.to_datetime(dates))
        ret = s.pct_change(freq="1D").fillna(0)
        sv = ret.rolling(f"{short}D", min_periods=1).std()
        lv = ret.rolling(f"{long}D", min_periods=1).std()
        ratio = sv / lv
        ratio[~np.isfinite(ratio)] = 1.0
        return ratio.tolist()

    df = _mkdf(spark, dates, vals)
    for short, long in [(2, 4), (3, 6)]:
        out = ts_features_parity(
            df, "ts", [], "value",
            [("vr", lambda s, a=short, b=long: volatility_ratio(
                s, "ts", [], "value", a, b, "D", out_col="vr"
            ))],
            order_col="ord",
        )
        _check(_result(out, "vr"), pandas_expected(short, long))


def test_session_window_agg_equivalence(spark):
    """Batch F.session_window aggregation == aggregating our cumulative
    session ids: the two sessionization representations agree."""
    from upgini_spark.fixtures import tokenized_sequences

    df = tokenized_sequences(spark, 400, n_partitions=4).select(
        "doc_id", "event_time", F.col("n_tok").cast("double").alias("v")
    )
    gap = "1 hour"
    via_window = (
        df.groupBy("doc_id", F.session_window("event_time", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 6).alias("s"))
        .select("doc_id", F.col("sw.start").alias("start"), "n", "s")
    )
    ids = sessionize(df, "event_time", ["doc_id"], gap_seconds=3600, tie_cols=["v"])
    via_ids = ids.groupBy("doc_id", "session_id").agg(
        F.min("event_time").alias("start"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v"), 6).alias("s"),
    ).select("doc_id", "start", "n", "s")
    a = via_window.orderBy("doc_id", "start").collect()
    b = via_ids.orderBy("doc_id", "start").collect()
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert (x["doc_id"], x["start"], x["n"], x["s"]) == (
            y["doc_id"], y["start"], y["n"], y["s"]
        )


def test_rolling_volatility2_golden(spark):
    """Vol-of-vol (tests/autofe/test_rolling_vol2.py): stage1 = rolling std
    of |exact-step returns|, stage2 = rolling std of stage1's returns."""
    import pandas as pd
    import numpy as np
    from upgini_spark.operators.timeseries import rolling_volatility2

    dates = ["2024-05-01", "2024-05-02", "2024-05-03", "2024-05-04", "2024-05-05"]
    vals = [100.0, 110.0, 99.0, 121.0, 115.0]

    def pandas_vol(series, n, use_abs):
        ret = series.pct_change(freq="1D").fillna(0)
        if use_abs:
            ret = ret.abs()
        return ret.rolling(f"{n}D", min_periods=1).std()

    s = pd.Series(vals, index=pd.to_datetime(dates))
    stage1 = pandas_vol(s, 3, True)
    expected = pandas_vol(stage1, 3, False).tolist()

    df = _mkdf(spark, dates, vals)
    out = ts_features_parity(
        df, "ts", [], "value",
        [("v2", lambda sl: rolling_volatility2(sl, "ts", [], "value", 3, "D", out_col="v2"))],
        order_col="ord",
    )
    _check(_result(out, "v2"), expected)

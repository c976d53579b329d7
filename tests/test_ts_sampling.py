"""TS sampling fidelity — replays the reference's own test cases
(tests/test_sample_utils.py:7-130) against the Spark implementations:
whole-id priority sampling, most-recent-dates fallback, modal time unit,
trailing-offset truncation, and the forced 50/50 binary downsample
(sample_utils.py:155-410, ts_utils.py:6-41)."""

import pandas as pd
from pyspark.sql import functions as F

from upgini_spark.functions.sampling import (
    forced_downsample_binary,
    modal_time_unit_seconds,
    sample_time_series,
    sample_time_series_train_eval,
    sample_time_series_trunc,
    trunc_datetime_offset,
)


def _df(spark, data):
    return spark.createDataFrame(pd.DataFrame(data))


# reference test_sample_time_series_trim_ids
def test_trim_ids(spark):
    df = _df(spark, {
        "id": [1, 1, 1, 2, 2, 2, 3, 3, 3],
        "date": ["2020-01-01", "2020-01-02", "2020-01-03"] * 3,
    })
    out = sample_time_series(df, ["id"], "date", 6, min_different_ids_ratio=2 / 3).toPandas()
    assert len(out) == 6
    assert out["id"].nunique() == 2


# reference test_sample_time_series_trim_dates (fallback path)
def test_trim_dates_fallback(spark):
    df = _df(spark, {
        "id": [1] * 6 + [2] * 6,
        "date": ["2020-01-0%d" % d for d in range(1, 7)] * 2,
    })
    out = sample_time_series(df, ["id"], "date", 4, min_different_ids_ratio=1.0).toPandas()
    assert len(out) == 4
    assert out["id"].nunique() == 2
    assert out["date"].nunique() == 2
    assert set(out["date"].astype(str).str[:10]) == {"2020-01-05", "2020-01-06"}


# reference test_balance_undersampling_time_series_multiple_ids
def test_multiple_id_columns(spark):
    df = _df(spark, {
        "id1": [1, 1, 1, 2, 2, 2],
        "id2": ["A", "A", "A", "B", "B", "B"],
        "date": ["2020-01-01", "2020-01-02", "2020-01-03"] * 2,
    })
    out = sample_time_series(df, ["id1", "id2"], "date", 4, min_different_ids_ratio=1.0).toPandas()
    assert len(out) == 4
    assert out.groupby(["id1", "id2"]).ngroups == 2
    assert out["date"].astype(str).max()[:10] == "2020-01-03"


# reference test_sample_time_series_no_ids
def test_no_ids(spark):
    df = _df(spark, {"date": ["2020-01-0%d" % d for d in range(1, 10)]})
    out = sample_time_series(df, [], "date", 6, min_different_ids_ratio=2 / 3).toPandas()
    assert len(out) == 6
    dates = out["date"].astype(str).str[:10]
    assert dates.max() == "2020-01-09" and dates.min() == "2020-01-04"


# reference test_sample_time_series_shifted_dates: recency beats id order
def test_shifted_dates_prefer_recent(spark):
    df = _df(spark, {
        "id": [1, 1, 1, 2, 2, 2, 3, 3, 3],
        "date": ["2020-01-01", "2020-01-02", "2020-01-03",
                 "2020-01-02", "2020-01-03", "2020-01-04",
                 "2020-01-02", "2020-01-03", "2020-01-04"],
    })
    out = sample_time_series(df, ["id"], "date", 6, min_different_ids_ratio=2 / 3).toPandas()
    assert len(out) == 6
    assert out["id"].nunique() == 2
    dates = out["date"].astype(str).str[:10]
    assert dates.max() == "2020-01-04" and dates.min() == "2020-01-02"
    assert set(out["id"]) == {2, 3}  # the two most-recent ids


def test_partition_invariance(spark):
    df = spark.range(2000).select(
        (F.col("id") % 37).alias("k"),
        F.to_timestamp(
            F.concat(F.lit("2023-01-"), F.lpad((F.col("id") % 28 + 1).cast("string"), 2, "0"))
        ).alias("date"),
    )
    a = sample_time_series(df.repartition(2), ["k"], "date", 500).toPandas()
    b = sample_time_series(df.repartition(16), ["k"], "date", 500).toPandas()
    ka = sorted(map(tuple, a.astype(str).values.tolist()))
    kb = sorted(map(tuple, b.astype(str).values.tolist()))
    assert ka == kb


def test_modal_time_unit(spark):
    # daily gaps dominate; one hourly outlier
    df = _df(spark, {
        "id": [1, 1, 1, 1, 2, 2],
        "date": ["2020-01-01", "2020-01-02", "2020-01-03", "2020-01-03 01:00:00",
                 "2020-02-01", "2020-02-02"],
    }).select("id", F.to_timestamp("date").alias("date"))
    assert modal_time_unit_seconds(df, ["id"], "date") == 86400
    one = _df(spark, {"id": [1], "date": ["2020-01-01"]})
    assert modal_time_unit_seconds(one, ["id"], "date") is None


def test_trunc_datetime_offset(spark):
    df = _df(spark, {
        "id": [1, 1, 1],
        "date": ["2016-01-01", "2019-06-01", "2020-01-01"],
    }).select("id", F.to_timestamp("date").alias("date"))
    # 2y6m trailing from 2020-01-01 → cutoff 2017-07-01
    out = trunc_datetime_offset(df, ["id"], "date", 30, 0).toPandas()
    assert len(out) == 2
    out7y = trunc_datetime_offset(df, ["id"], "date", 84, 0).toPandas()
    assert len(out7y) == 3


def test_sample_trunc_ladder(spark):
    # high-frequency (daily) series spanning 4 years, budget forces the ladder
    df = spark.range(1460).select(
        F.lit(1).alias("id"),
        F.expr("date_add(to_date('2016-01-05'), cast(id as int))").alias("date"),
    ).select("id", F.col("date").cast("timestamp").alias("date"))
    out = sample_time_series_trunc(df, ["id"], "date", 1000)
    n = out.count()
    assert n <= 1000
    assert out.agg(F.max("date")).collect()[0][0] == df.agg(F.max("date")).collect()[0][0]


def test_train_eval_missing_ids(spark):
    # eval rows whose ids got truncated out of train are dropped
    df = _df(spark, {
        "id": [1, 1, 1, 2, 2, 2, 1, 3],
        "eval_set_index": [0, 0, 0, 0, 0, 0, 1, 1],
        "date": ["2020-01-01", "2020-01-02", "2020-01-03",
                 "2020-01-01", "2020-01-02", "2020-01-03",
                 "2020-01-04", "2020-01-04"],
    }).select("id", "eval_set_index", F.to_timestamp("date").alias("date"))
    out = sample_time_series_train_eval(df, ["id"], "date", 100, 100, 100).toPandas()
    assert 3 not in set(out[out["eval_set_index"] > 0]["id"])  # id 3 absent from train
    assert 1 in set(out[out["eval_set_index"] > 0]["id"])


def test_forced_downsample_binary(spark):
    df = spark.range(20000).select(
        F.col("id"),
        (F.col("id") % 10 == 0).cast("int").alias("y"),  # 2000 minority
    )
    out = forced_downsample_binary(df, "y", ["id"], sample_size=7000)
    counts = {r["y"]: r["count"] for r in out.groupBy("y").count().collect()}
    assert counts[1] == 2000          # minority under half the budget: kept whole
    assert counts[0] == 3500          # majority: exactly half the budget
    # deterministic on any partitioning
    out2 = forced_downsample_binary(df.repartition(11), "y", ["id"], sample_size=7000)
    assert sorted(r["id"] for r in out.collect()) == sorted(r["id"] for r in out2.collect())
    small = spark.range(100).select(F.col("id"), F.lit(0).alias("y"))
    assert forced_downsample_binary(small, "y", ["id"]).count() == 100


def test_forced_downsample_binary_null_targets(spark, monkeypatch):
    """NULL targets are never the minority (the NULL group here is the
    smallest), and the majority side's ``total=`` counts exactly the rows
    its filter keeps — NULL targets included, as pandas ``!=`` keeps NaN."""
    import upgini_spark.functions.sampling as SMP

    df = spark.range(510).select(
        F.col("id"),
        F.when(F.col("id") < 300, 0)
        .when(F.col("id") < 500, 1)
        .otherwise(F.lit(None))
        .cast("int")
        .alias("y"),
    )
    seen = []
    real = SMP.hash_sample_exact

    def checked(frame, n, id_cols, total=None, **kw):
        seen.append((frame.count(), total))
        return real(frame, n, id_cols, total=total, **kw)

    monkeypatch.setattr(SMP, "hash_sample_exact", checked)
    out = forced_downsample_binary(df, "y", ["id"], sample_size=100)
    counts = {r["y"]: r["count"] for r in out.groupBy("y").count().collect()}
    assert out.count() == 100
    assert counts[1] == 50                            # minority: class 1, capped at half
    assert counts[0] + counts.get(None, 0) == 50      # majority side: class 0 + NULLs
    assert seen == [(200, 200), (310, 310)]


def test_undersample_binary_reference_formula(spark):
    from upgini_spark.functions.sampling import undersample_imbalanced

    df = spark.range(8000).select(
        F.col("id"), (F.col("id") % 8 == 0).cast("int").alias("y")  # minority 1000
    )
    out = undersample_imbalanced(df, "y", ["id"])
    counts = {r["y"]: r["count"] for r in out.groupBy("y").count().collect()}
    # size = min(7000, 5*(1000 + max(5000-2000, 0))) = min(7000, 20000) = 7000
    assert counts[1] == 1000 and counts[0] == 7000
    small = spark.range(4000).select(F.col("id"), (F.col("id") % 8 == 0).cast("int").alias("y"))
    assert undersample_imbalanced(small, "y", ["id"]).count() == 4000  # <=5000 gate


def test_undersample_multiclass_rare_drop_and_quota(spark):
    from upgini_spark.functions.sampling import undersample_imbalanced

    df = spark.range(60000).select(
        F.col("id"),
        F.when(F.col("id") < 3, 9)            # rare: 3/60000 < 0.01%
        .when(F.col("id") % 10 < 7, 0)        # ~42k
        .when(F.col("id") % 10 < 9, 1)        # ~12k
        .otherwise(2).alias("cls"),           # ~6k (minority)
    )
    out = undersample_imbalanced(df, "cls", ["id"], task_type="MULTICLASS")
    counts = {r["cls"]: r["count"] for r in out.groupBy("cls").count().collect()}
    assert 9 not in counts                       # rare class dropped
    mn = counts[2]
    k = 3
    quota = int(2 * (mn + max((25000 - k * mn) / (k - 1), 0)))
    assert counts[0] == quota
    assert counts[1] <= quota and 2 in counts

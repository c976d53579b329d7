"""``util.materialize`` and ``util.run_concurrently``: the one eager
checkpoint policy and the one way to run Spark job chains side by side.

A checkpoint directory switches every materialization to a reliable
checkpoint without changing any result. The concurrent helper keeps the
caller's job group on its threads, returns results in argument order,
and on the first exception cancels the sibling jobs instead of waiting
them out.
"""

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from upgini_spark.util import run_concurrently


def _record_ids(spark):
    from upgini_spark.pipeline.record_ids import add_system_record_id

    df = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        (F.col("id") % 3).cast("int").alias("eval_set_index"),
    )
    out = add_system_record_id(df, None, ["k"])
    return sorted(tuple(r) for r in out.collect())


def _components(spark):
    from upgini_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    return sorted(tuple(r) for r in connected_components(pairs).collect())


def _psi(spark):
    from upgini_spark.functions.stats import psi_monthly_report

    rows = [
        (dt.datetime(2024, 1 + i % 12, 1 + i % 27), float(i % 97) + (i % 12) * 0.5,
         f"k{i % 5}")
        for i in range(1200)
    ]
    df = spark.createDataFrame(rows, "d timestamp, x double, c string")
    return psi_monthly_report(df, ["x", "c"], ["c"], "d", min_intervals=4)


def _minhash(spark):
    from upgini_spark.functions.dedup import minhash_band_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [(i, base + (" again" * (i % 3)) if i % 4 else f"unrelated text {i}")
         for i in range(40)],
        "id long, text string",
    )
    return sorted(tuple(r) for r in minhash_band_pairs(df, "id", "text").collect())


def _ivf_pq(spark):
    from upgini_spark.functions.similarity import build_ivf_pq_index

    corpus = spark.createDataFrame(
        [(i, [float((i * 13 + d * 7) % 23) / 7.0 - 1.5 for d in range(8)])
         for i in range(300)],
        "vid long, v array<double>",
    )
    idx = build_ivf_pq_index(corpus, "vid", "v", 8, m=2, k_sub=3, n_cells=4)
    return {
        name: sorted(tuple(r) for r in frame.collect())
        for name, frame in idx.items()
    }


def _metrics(spark):
    from upgini_spark.fixtures import feature_source, tokenized_sequences
    from upgini_spark.pipeline.enricher import SparkFeaturesEnricher

    left = tokenized_sequences(spark, 600).withColumn(
        "client_f", (F.col("n_tok") % 100).cast("double")
    ).withColumn(
        "target_bin", (F.col("n_tok") % 2).cast("int")
    ).withColumn(
        # train + two eval segments: three collects side by side
        "eval_set_index",
        F.when(F.col("n_tok") % 5 == 0, 1)
        .when(F.col("n_tok") % 7 == 0, 2)
        .otherwise(0),
    )
    enr = SparkFeaturesEnricher(feature_source(spark, 600)).fit(
        left, "doc_id", "event_time", feature_cols=["client_f"],
        target_col="target_bin", validate_features=False,
    )
    report = enr.calculate_metrics(left, "target_bin")
    assert report["Dataset type"].tolist() == ["Train", "Eval 1", "Eval 2"]
    return report.to_dict("list")


CASES = {
    "add_system_record_id": _record_ids,
    "connected_components": _components,
    "psi_monthly_report": _psi,
    "minhash_band_pairs": _minhash,
    "build_ivf_pq_index": _ivf_pq,
    "calculate_metrics": _metrics,
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_checkpoint_mode_invariance(spark, tmp_path, monkeypatch, name):
    """Same rows with and without a checkpoint directory; with one, every
    materialization is a reliable checkpoint whose files are in the dir.
    ``connected_components`` runs its distributed side (it materializes
    only there): the driver edge cap is 0 for every case."""
    import upgini_spark.functions.dedup as DD

    monkeypatch.setattr(DD, "DRIVER_EDGE_CAP", 0)
    run = CASES[name]
    frame_cls = type(spark.range(1))
    reliable = frame_cls.checkpoint
    ckpt = tmp_path / "ckpt"
    written = []

    def spy(self, eager=True):
        out = reliable(self, eager)
        # listed while ``out`` still holds the checkpointed RDD, before
        # the ContextCleaner may reclaim its files
        written.append(any(ckpt.rglob("rdd-*")))
        return out

    monkeypatch.setattr(frame_cls, "checkpoint", spy)
    local = run(spark)
    assert written == []
    spark.sparkContext.setCheckpointDir(str(ckpt))
    try:
        assert run(spark) == local
    finally:
        spark.sparkContext.setCheckpointDir(None)
    assert written and all(written), written


def test_run_concurrently_keeps_job_group_and_order(spark):
    sc = spark.sparkContext
    sc.setJobGroup("run_concurrently_group", "group probe")
    try:
        counts = run_concurrently(
            lambda: spark.range(7).count(), lambda: spark.range(3).count()
        )
    finally:
        sc.setJobGroup(None, None)
    assert counts == [7, 3]
    assert len(sc.statusTracker().getJobIdsForGroup("run_concurrently_group")) >= 2

    def late():
        time.sleep(0.3)
        return "first"

    assert run_concurrently(late, lambda: "second", lambda: 3) == ["first", "second", 3]


def test_run_concurrently_cancels_siblings_on_first_exception(spark):
    sc = spark.sparkContext
    group = "run_concurrently_cancel"
    sleep_s = 60
    slow_udf = F.udf(lambda x: time.sleep(sleep_s) or x, "long")
    sibling_error = []

    def sibling():
        try:
            return spark.range(1, numPartitions=1).select(slow_udf("id")).collect()
        except Exception as e:
            sibling_error.append(e)
            raise

    def failing():
        deadline = time.time() + 30
        while not sc.statusTracker().getJobIdsForGroup(group):
            assert time.time() < deadline, "sibling job never started"
            time.sleep(0.05)
        raise ValueError("first failure")

    sc.setJobGroup(group, "cancel probe")
    t0 = time.time()
    try:
        with pytest.raises(ValueError, match="first failure"):
            run_concurrently(sibling, failing)
    finally:
        sc.setJobGroup(None, None)
    assert time.time() - t0 < sleep_s / 3
    assert sibling_error and "cancel" in str(sibling_error[0]).lower()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    deadline = time.time() + 10
    while sc.statusTracker().getJobInfo(jobs[0]).status != "FAILED":
        assert time.time() < deadline
        time.sleep(0.05)

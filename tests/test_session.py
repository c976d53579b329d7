"""``get_spark`` sizes Spark's JVM-wide generated-code cache to the
engine's working set: a query whose plan generates more classes than
Spark's default 100-entry cache must not recompile them on a rerun. It
also turns off PySpark's per-call DataFrame call-site capture, which
costs every ``Column`` call several extra py4j round trips."""

import logging

from py4j import clientserver
from pyspark.sql import functions as F

from upgini_spark.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
    DATAFRAME_DEBUGGING_CONF,
    get_spark,
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_more_than_spark_default(spark):
    assert spark.sparkContext.getConf().get(CODEGEN_CACHE_CONF) == str(
        CODEGEN_CACHE_ENTRIES
    )

    def run():
        # a fresh plan each time (a re-collected DataFrame reuses its
        # compiled plan); each branch's literal gives its stage distinct
        # generated source
        df = spark.range(0, 2, 1, 1).select((F.col("id") * 7).alias("x"))
        for i in range(1, 60):
            df = df.unionAll(
                spark.range(0, 2, 1, 1).select((F.col("id") * 7 + i).alias("x"))
            )
        return sorted(r["x"] for r in df.collect())

    before = _compiles(spark)
    first = run()
    mid = _compiles(spark)
    second = run()
    after = _compiles(spark)

    assert mid - before > 100  # more classes than Spark's default cache
    assert after - mid <= 2
    assert second == first == sorted(7 * k + i for i in range(60) for k in (0, 1))


def test_attach_without_cache_size_warns(spark, caplog):
    kw = dict(app_name="upgini_spark_tests", master="local[4]", shuffle_partitions=8)
    with caplog.at_level(logging.WARNING, logger="upgini_spark.session"):
        get_spark(**kw)
        assert not caplog.records
        get_spark(**kw, extra_conf={CODEGEN_CACHE_CONF: "500"})
    assert len(caplog.records) == 1
    assert CODEGEN_CACHE_CONF in caplog.records[0].getMessage()


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get(DATAFRAME_DEBUGGING_CONF) == "false"
    assert spark.sparkContext.getConf().get(DATAFRAME_DEBUGGING_CONF) == "false"


def test_column_expressions_cost_few_round_trips(spark, monkeypatch):
    """With call-site capture on, each wrapped ``functions.*`` call and
    ``Column`` method adds ~5 JVM calls: building the expression below
    costs ~35-39 round trips then, ~5-7 with it off."""
    sent = [0]
    send = clientserver.ClientServerConnection.send_command

    def counted(self, command):
        sent[0] += 1
        return send(self, command)

    _ = (F.col("x") + 0).alias("y")  # first call: lazy imports, conf reads
    monkeypatch.setattr(clientserver.ClientServerConnection, "send_command", counted)
    for i in range(100):
        _ = (F.col("x") + i).alias("y")
    monkeypatch.undo()
    assert sent[0] <= 10 * 100, sent[0] / 100

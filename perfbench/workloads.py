"""The two workloads, each made of two parts run in one session.

A part writes its inputs in ``setup`` and runs one checked pass in
``run``. ``run`` takes an optional tracer, and with one it records the
layer spans listed in ``spans.SPANS``. It returns the pass's wall time
(checks excluded) and its checks, each a ``(name, passed)`` pair.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import shutil
import time
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
import oracles
from spans import noop

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS_DIR = os.path.join(HERE, "corpus")
ORACLE_FILE = os.path.join(HERE, "corpus", "oracle.json")

ENRICH_ROWS = 30_000      # sequences enriched per pass, per layout
LIFECYCLE_ROWS = 5_000   # sequences through the lifecycle per pass
BUCKETS = 16
CURATION_QUERIES = ["knn_cosine_ivf_pq", "cluster_assign", "dedup_components", "psi_monthly"]


def _exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def _digest_aggs():
    """Order-insensitive digest of ``(doc_id, event_time, tokens)``: the
    row count and the sums of the two 32-bit halves of each row's hash."""
    h = F.xxhash64("doc_id", "event_time", "tokens")
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
    ]


def _input_digest(df) -> dict:
    return df.agg(*_digest_aggs()).first().asDict()


@functools.lru_cache(maxsize=1)
def _tables(seed: int, n: int):
    return inputs.sequences(n, seed), inputs.features(n, seed)


def _write_inputs(work: str, seed: int, n: int):
    if os.path.isdir(f"{work}/sequences"):  # another part of the workload wrote them
        return
    seq, feat = _tables(seed, n)
    inputs.write(seq, f"{work}/sequences", 8)
    inputs.write(feat, f"{work}/features", 4)


def _value_aggs():
    """The enriched values as ``oracles.enrich_expect`` aggregates them."""
    aggs = [F.count("matched_ts").alias("matches"),
            F.sum(F.unix_seconds("matched_ts")).alias("matched_ts_sum"),
            F.sum("session_id").alias("session_sum")]
    for c in oracles.ROLL_COLS + oracles.VALUE_COLS:
        aggs += [F.count(c).alias(f"{c}__n"), F.sum(c).alias(f"{c}__sum")]
    return aggs


def _enrich_checks(obs: dict, expect: dict, values: dict) -> list[tuple[str, bool]]:
    return [
        ("rows_preserved", obs["rows"] == expect["rows"]),
        ("payload_digest", (obs["lo"], obs["hi"]) == (expect["lo"], expect["hi"])),
        ("no_future_match", obs["leaks"] == 0),
        ("enriched_values", oracles.close(obs, values)),
    ]


def _observed(df):
    """``df`` with the enrich-output checks collected as it is written."""
    obs = Observation()
    leaks = F.sum(F.when(F.col("matched_ts") > F.col("event_time"), 1).otherwise(0))
    return df.observe(obs, *_digest_aggs(), leaks.alias("leaks"), *_value_aggs()), obs


class _Enrich:
    """A join stage then the window stages, timed as one noop write and
    traced as prefixes. Both layouts read the same generated inputs."""

    rows = ENRICH_ROWS

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.exchanges = 0
        self.expect = None
        self.values = oracles.enrich_expect(*_tables(seed, self.rows))

    def setup(self, spark, work: str) -> None:
        _write_inputs(work, self.seed, self.rows)
        self.left = spark.read.parquet(f"{work}/sequences")
        self.right = spark.read.parquet(f"{work}/features")
        if self.expect is None:  # every set-up writes the same inputs
            self.expect = _input_digest(self.left)

    def _stages(self):
        from upgini_spark.operators.timeseries import roll_features, sessionize

        return [
            ("operators.roll_features",
             lambda d: roll_features(d, "event_time", ["doc_id"], "f_ext_num_1",
                                    oracles.ROLL_SPECS)),
            ("operators.sessionize",
             lambda d: sessionize(d, "event_time", ["doc_id"], gap_seconds=86400,
                                  tie_cols=["n_tok"])),
        ]

    def _pipeline(self, upto: int):
        df = self._join()
        for _, stage in self._stages()[:upto]:
            df = stage(df)
        return df

    def run(self, spark, tracer=None, relayout=False) -> tuple[float, list[tuple[str, bool]]]:
        full = len(self._stages())
        t0 = time.perf_counter()
        if tracer is None:
            df = self._pipeline(full)
            observed, obs = _observed(df)
            noop(observed)
        else:
            prev = tracer.prefix(self.join_span, lambda: noop(self._pipeline(0)), None)
            for i, (name, _) in enumerate(self._stages()[:-1], start=1):
                prev = tracer.prefix(name, lambda i=i: noop(self._pipeline(i)), prev)
            df = self._pipeline(full)
            observed, obs = _observed(df)
            tracer.prefix(self._stages()[-1][0], lambda: noop(observed), prev)
        elapsed = time.perf_counter() - t0
        self.exchanges = _exchanges(df)
        return elapsed, _enrich_checks(obs.get, self.expect, self.values)


class _Shuffled(_Enrich):
    """As-of join on the native engine, then rolling features and sessions,
    over the sequences read from parquet: the token payload crosses every
    Exchange."""

    join_span = "joins.asof_join"

    def _join(self):
        from upgini_spark.joins.asof import asof_join

        return asof_join(self.left, self.right, left_on="event_time", right_on="feature_ts",
                         by_left="doc_id", by_right="entity_id", keep_match_ts=True)


class _Bucketed(_Enrich):
    """The same pipeline over a co-bucketed layout (sequences plus the
    per-entity history collapse) written in set-up: zero Exchanges. The
    broadcast threshold is off while it runs, so the bucket-to-bucket
    sort-merge join is what gets measured."""

    join_span = "joins.asof_join_hist"
    tables = ("perfbench_seq_bkt", "perfbench_hist_bkt")

    def setup(self, spark, work: str) -> None:
        super().setup(spark, work)
        self.write_layout(spark)

    @contextmanager
    def _no_broadcast(self, spark):
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    def write_layout(self, spark, tracer=None) -> None:
        from upgini_spark.joins.asof import build_asof_hist
        from upgini_spark.sources.io import ensure_bucketed

        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.teardown(spark)
        for t in self.tables:
            # a layout left on disk would be re-registered, not written
            shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
        seq_t, hist_t = self.tables

        def write() -> None:
            ensure_bucketed(spark, lambda: self.left, seq_t, ["doc_id"], BUCKETS,
                            sort_cols=["doc_id", "event_time"])
            ensure_bucketed(
                spark, lambda: build_asof_hist(self.right, "feature_ts", ["entity_id"]),
                hist_t, ["entity_id"], BUCKETS)

        with self._no_broadcast(spark):
            if tracer is None:
                write()
            else:
                hist = tracer.prefix(
                    "joins.build_asof_hist",
                    lambda: noop(build_asof_hist(self.right, "feature_ts", ["entity_id"])),
                    None)
                tracer.prefix("sources.ensure_bucketed", write, hist)
        self.bl, self.bh = spark.table(seq_t), spark.table(hist_t)

    def run(self, spark, tracer=None, relayout=False) -> tuple[float, list[tuple[str, bool]]]:
        """``relayout`` rewrites the layout first and counts it in the pass
        (the traced run attributes the write to its layers)."""
        t0 = time.perf_counter()
        if relayout:
            self.write_layout(spark, tracer)
        with self._no_broadcast(spark):
            elapsed, checks = super().run(spark, tracer)
        if relayout:
            elapsed = time.perf_counter() - t0
        return elapsed, checks + [("zero_exchanges", self.exchanges == 0)]

    def _join(self):
        from upgini_spark.joins.asof import asof_join_hist

        return asof_join_hist(self.bl, self.bh, "event_time", ["doc_id"], ["entity_id"],
                              keep_match_ts=True)

    def teardown(self, spark) -> None:
        for t in self.tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


class _Lifecycle:
    """fit(validate_features=True) → clean_duplicates → with_record_ids →
    transform → calculate_metrics over sequences with train / eval / OOT
    segments: many small jobs, collects and driver-side CV fits."""

    rows = LIFECYCLE_ROWS
    eager_spans = [
        ("upgini_spark.pipeline.normalizer", "validate_features",
         "pipeline.normalizer.validate_features"),
        ("upgini_spark.pipeline.enricher", "add_system_record_id",
         "pipeline.record_ids.add_system_record_id"),
        ("upgini_spark.pipeline.enricher", "compile_features",
         "plans.feature_dag.compile_features"),
        ("upgini_spark.functions.sampling", "hash_sample_exact",
         "functions.sampling.hash_sample_exact"),
        ("upgini_spark.pipeline.cv", "stratified_kfold_column",
         "pipeline.cv.stratified_kfold_column"),
        ("upgini_spark.pipeline.metrics", "calculate_metrics_report",
         "pipeline.metrics.calculate_metrics_report"),
    ]

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.exchanges = 0
        m = oracles.asof(*_tables(seed, self.rows))
        self.matched = m.drop_duplicates(["doc_id", "t"]).set_index(["doc_id", "t"])[
            ["matched_ts", *oracles.VALUE_COLS]]

    def setup(self, spark, work: str) -> None:
        _write_inputs(work, self.seed, self.rows)
        self.seq = spark.read.parquet(f"{work}/sequences").withColumn(
            "client_const", F.lit(1.0))
        self.right = spark.read.parquet(f"{work}/features")

    def run(self, spark, tracer=None, relayout=False) -> tuple[float, list[tuple[str, bool]]]:
        from contextlib import nullcontext

        from upgini_spark.pipeline.enricher import SparkFeaturesEnricher

        span = tracer.span if tracer is not None else (lambda name: nullcontext())
        t0 = time.perf_counter()
        enr = SparkFeaturesEnricher(self.right).fit(
            self.seq, "doc_id", "event_time", feature_cols=["client_f", "client_const"],
            target_col="target_bin", validate_features=True)
        with span("pipeline.enricher.clean_duplicates"):
            deduped = enr.clean_duplicates(self.seq, "target_bin", order_col="n_tok")
        prepared = enr.with_record_ids(deduped)

        with span("pipeline.enricher.transform"):
            out = enr.transform(prepared)
            rid = F.col("system_record_id")
            obs = Observation()
            noop(out.observe(
                obs, F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(F.col("matched_ts") > F.col("event_time"), 1)
                      .otherwise(0)).alias("leaks"),
                F.min(rid).alias("lo"), F.max(rid).alias("hi"),
                F.sum(rid).alias("s1"), F.sum(rid * rid).alias("s2")))

        report = enr.calculate_metrics(prepared, "target_bin", max_rows=self.rows // 4)
        elapsed = time.perf_counter() - t0
        # after the timed steps and before the curation part runs: a check
        # job right before the yardstick would slow the yardstick
        enriched = out.select(
            "doc_id", F.unix_seconds("event_time").alias("t"),
            F.unix_seconds("matched_ts").alias("matched_ts"), *oracles.VALUE_COLS).toPandas()

        self.exchanges = _exchanges(out)
        o = obs.get
        n = o["rows"]
        return elapsed, [
            ("constant_feature_dropped", enr.state.dropped_features == {"client_const": "constant"}),
            ("no_future_match", o["leaks"] == 0),
            ("record_ids_dense_unique",
             n > 0 and (o["lo"], o["hi"], o["s1"], o["s2"])
             == (0, n - 1, n * (n - 1) // 2, (n - 1) * n * (2 * n - 1) // 6)),
            ("metrics_report", _report_ok(report)),
            ("enriched_values", n > 0 and self._enriched_ok(enriched)),
        ]

    def _enriched_ok(self, got) -> bool:
        """Every transformed row carries the match and the feature values
        the oracle finds for its ``(doc_id, event_time)``."""
        import numpy as np
        import pandas as pd

        keys = pd.MultiIndex.from_frame(got[["doc_id", "t"]])
        if len(got) == 0 or not keys.isin(self.matched.index).all():
            return False
        expect = self.matched.reindex(keys)
        return all(np.array_equal(got[c].to_numpy("float64"), expect[c].to_numpy("float64"),
                                  equal_nan=True) for c in expect.columns)


def _report_ok(report) -> bool:
    expect_cols = {"Dataset type", "Rows", "Mean target", "Baseline GINI", "Enriched GINI"}
    if report["Dataset type"].tolist() != ["Train", "Eval 1", "Eval 2"]:
        return False
    if not expect_cols <= set(report.columns) or not (report["Rows"] > 0).all():
        return False
    for col in ("Mean target", "Baseline GINI", "Enriched GINI"):
        for v in report[col]:
            if not math.isfinite(float(str(v).split("±")[0])):
                return False
    return True


class _CorpusCuration:
    """Four ``__spark_entry__.queries()`` entries over the fixed corpus
    under ``corpus/``, each output compared with its DuckDB oracle digest."""

    eager_spans = [
        ("upgini_spark.functions.similarity", "pq_topk_ivf_adc",
         "functions.similarity.pq_topk_ivf_adc"),
        ("upgini_spark.functions.similarity", "kmeans_centroids",
         "functions.similarity.kmeans_centroids"),
        ("upgini_spark.functions.dedup", "minhash_band_pairs",
         "functions.dedup.minhash_band_pairs"),
        ("upgini_spark.functions.dedup", "connected_components",
         "functions.dedup.connected_components"),
        ("upgini_spark.functions.stats", "psi_monthly_report",
         "functions.stats.psi_monthly_report"),
    ]

    def __init__(self, seed: int) -> None:
        # the corpus is fixed: the seed has no effect on this workload
        import json

        with open(ORACLE_FILE) as f:
            self.oracle = json.load(f)
        self.rows = sum(pq.read_metadata(f"{CORPUS_DIR}/{t}.parquet").num_rows
                        for t in ("documents", "embeddings", "events"))
        self.exchanges = 0

    def setup(self, spark, work: str) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()

    def run(self, spark, tracer=None, relayout=False) -> tuple[float, list[tuple[str, bool]]]:
        elapsed, results = 0.0, []
        for q in CURATION_QUERIES:
            t0 = time.perf_counter()
            df = self.queries[q](spark, CORPUS_DIR)
            pdf = df.toPandas()
            elapsed += time.perf_counter() - t0
            results.append((q, df, pdf))
        self.exchanges = sum(_exchanges(df) for _, df, _ in results)
        return elapsed, [(f"{q}_matches_oracle", frame_digest(pdf) == self.oracle[q])
                         for q, _, pdf in results]


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a result frame: column names plus the
    sorted rows, every cell rendered as text (ints and whole floats alike,
    timestamps at microsecond precision)."""
    import pandas as pd

    cols = sorted(pdf.columns)
    rendered = []
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(str)
        rendered.append([_cell(v) for v in s])
    rows = sorted(zip(*rendered)) if rendered else []
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest()


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


class Workload:
    """Parts run one after another in one session; a pass is one pass of
    each part. ``warmup_passes`` run before measuring (they count in
    set-up); ``seconds_per_pass`` turns ``--seconds`` into the number of
    measured passes."""

    def __init__(self, name: str, parts: list, warmup_passes: int,
                 seconds_per_pass: float) -> None:
        self.name, self.parts = name, parts
        self.warmup_passes, self.seconds_per_pass = warmup_passes, seconds_per_pass
        self.rows = sum(p.rows for p in parts)
        self.eager_spans = [s for p in parts for s in getattr(p, "eager_spans", [])]
        self.exchanges = 0

    def setup(self, spark, work: str) -> None:
        for p in self.parts:
            p.setup(spark, work)

    def run(self, spark, tracer=None, relayout=False) -> tuple[float, list[tuple[str, bool]]]:
        elapsed, checks = 0.0, []
        for p in self.parts:
            e, c = p.run(spark, tracer, relayout)
            elapsed += e
            checks += c
        self.exchanges = sum(p.exchanges for p in self.parts)
        return elapsed, checks

    def teardown(self, spark) -> None:
        for p in self.parts:
            if hasattr(p, "teardown"):
                p.teardown(spark)


# Pass counts trade steadiness against a run of about a minute on a 4-vCPU
# VM: enrich passes keep speeding up (JIT) for 10+ passes, and a
# lifecycle_curation pass takes about 14 s warm. At --seconds 10 a run
# measures 5 and 1 passes.
WORKLOADS = {
    # exchange-heavy and exchange-free enrichment of the same sequences
    "enrich": lambda seed: Workload("enrich", [_Shuffled(seed), _Bucketed(seed)], 8, 2.0),
    # many small jobs, collects and driver-side fits
    "lifecycle_curation": lambda seed: Workload(
        "lifecycle_curation", [_Lifecycle(seed), _CorpusCuration(seed)], 1, 15.0),
}

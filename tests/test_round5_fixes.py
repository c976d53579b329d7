"""Round-5 regression tests: psi_monthly_report single-pass rewrite
(job count independent of feature count, no cache leak), deterministic
rank_feature_columns sampling, metrics-harness reference asymmetries,
and the multimodal P6 hardening from ADVICE r4."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# psi_monthly_report: batched rewrite
# ---------------------------------------------------------------------------


def _psi_frame(spark, n=3000):
    rows = []
    for i in range(n):
        d = dt.datetime(2024, 1 + (i % 12), 1 + (i % 27))
        rows.append((
            d,
            float(i % 97) + (i % 12) * 0.5,          # numerical, drifts
            float((i * 7) % 51),                      # numerical
            f"k{i % 5}",                              # categorical
            f"m{(i * 3) % 7}" if i % 11 else None,    # categorical w/ nulls
            float(i % 13),                            # low-card numeric → cat path
            None if i % 3 else float(i % 29),         # numeric w/ nulls
        ))
    return spark.createDataFrame(
        rows, "d timestamp, x double, y double, c string, m string, "
              "lc double, xn double"
    )


def _run_report(spark, df, feats, cats):
    from upgini_spark.functions.stats import psi_monthly_report

    sc = spark.sparkContext
    group = "psi_jobcount_" + "_".join(feats)
    sc.setJobGroup(group, "psi job-count probe")
    try:
        rows = psi_monthly_report(df, feats, cats, "d", min_intervals=4)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return rows, len(jobs)


def test_psi_monthly_job_count_independent_of_feature_count(spark):
    """The r4 version issued ~3 Spark jobs PER feature; the r5 rewrite
    batches decisions, edges, and counts, so the job count is identical
    for 2 features and 6 features. Both runs take the same branches: each
    has a categorical with a non-empty cut set (``m``)."""
    df = _psi_frame(spark).localCheckpoint(eager=True)
    rows_small, jobs_small = _run_report(spark, df, ["x", "m"], ["m"])
    rows_big, jobs_big = _run_report(
        spark, df, ["x", "y", "c", "m", "lc", "xn"], ["c", "m"]
    )
    # AQE may add a stage-job or two for the bigger melt; the old
    # per-feature loop added ~3 jobs PER extra feature (≥12 here)
    assert jobs_big - jobs_small <= 4, (jobs_small, jobs_big)
    assert len(rows_small) == 2 and len(rows_big) == 6
    # same features → same values regardless of batch composition
    d_small, d_big = dict(rows_small), dict(rows_big)
    assert d_small["x"] == pytest.approx(d_big["x"], abs=1e-12)
    assert d_small["m"] == pytest.approx(d_big["m"], abs=1e-12)
    # all keys of ``c`` tie → no cutoff → an empty cut set, which the
    # optimizer may prune; that branch must not cost MORE jobs
    rows_tied, jobs_tied = _run_report(spark, df, ["x", "c"], ["c"])
    assert jobs_tied <= jobs_small, (jobs_tied, jobs_small)
    assert dict(rows_tied)["c"] == pytest.approx(d_big["c"], abs=1e-12)


def test_psi_monthly_matches_pandas_reference_math(spark):
    """Replay of the reference per-feature math (psi.py:72-151) in plain
    pandas against the batched Spark result, numerical + categorical +
    null-bearing features."""
    from upgini_spark.functions.stats import (
        _fill_zeroes,
        _psi_value,
        psi_monthly_report,
    )

    df = _psi_frame(spark, 2000)
    feats, cats = ["x", "c", "m", "lc", "xn"], ["c", "m"]
    got = dict(psi_monthly_report(df, feats, cats, "d", min_intervals=4))

    pdf = df.toPandas()
    # interval index: date quantile bins, right-inclusive (qcut-style)
    us = pdf["d"].astype("int64") / 1000.0  # ns → µs; monotone, same bins
    n_itv = max(4, pdf["d"].dt.month.nunique())
    edges = sorted(set(np.percentile(us, [100 * i / n_itv for i in range(1, n_itv)])))
    itv = np.zeros(len(pdf), dtype=int)
    for e in edges:
        itv += (us > e).astype(int).to_numpy()
    pdf["__itv__"] = itv
    itvs = sorted(pdf["__itv__"].unique())
    totals = pdf.groupby("__itv__").size().to_dict()
    expected = {}
    for feat in feats:
        ref = pdf[pdf["__itv__"] == itvs[0]]
        s_all = pdf[feat]
        is_num = feat not in cats and pd.api.types.is_numeric_dtype(s_all)
        if is_num and ref[feat].dropna().nunique() > 20:
            vals = ref[feat].dropna()
            qedges = np.percentile(vals, [100 * i / 10 for i in range(11)])
            interior = qedges[1:-1]
            b = np.zeros(len(pdf), dtype=int)
            for e in interior:
                b += (s_all >= e).fillna(False).astype(int).to_numpy()
            b[s_all.isna().to_numpy()] = 10
            bins = list(range(11))
            key = pd.Series(b)
        else:
            counts_by_key = s_all.dropna().astype(str).value_counts()
            srt = pd.Series(counts_by_key)
            keys = list(srt.index[srt.rank(pct=True) >= 0.7]) if len(srt) else []
            key = s_all.astype(str).where(s_all.notna(), "__null__")
            key = key.where(key.isin(keys + ["__null__"]))
            bins = keys + ["__null__"]
        cnt = pd.crosstab(key, pdf["__itv__"])
        ref_pct = _fill_zeroes(
            [int(cnt.loc[b, itvs[0]]) if b in cnt.index and itvs[0] in cnt.columns
             else 0 for b in bins]
        )
        ref_pct = _fill_zeroes([
            (int(cnt.loc[b, itvs[0]]) if b in cnt.index and itvs[0] in cnt.columns else 0)
            / totals[itvs[0]]
            for b in bins
        ])
        psis = []
        for t in itvs[1:]:
            cur = _fill_zeroes([
                (int(cnt.loc[b, t]) if b in cnt.index and t in cnt.columns else 0)
                / totals[t]
                for b in bins
            ])
            psis.append(_psi_value(ref_pct, cur))
        expected[feat] = max(psis)
    for feat in feats:
        assert got[feat] == pytest.approx(expected[feat], rel=1e-9), feat


def test_psi_monthly_no_cache_leak(spark):
    """The rewrite uses util.materialize, never persist — no
    CacheManager entry may remain after a run (r4 verdict hygiene)."""
    from upgini_spark.functions.stats import psi_monthly_report

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getRDDStorageInfo()
    df = _psi_frame(spark, 500)
    psi_monthly_report(df, ["x", "c"], ["c"], "d", min_intervals=3)
    cached_tables = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert cached_tables, "psi_monthly_report left a CacheManager entry"
    del before


def test_psi_monthly_all_keys_tied_keeps_null_bin(spark):
    """All categorical keys tied → pandas rank pct = ~0.5 < 0.7 → NO key
    retained; the report must still count the '__null__' bin instead of
    dropping the feature (r5 edge case found in review)."""
    from upgini_spark.functions.stats import psi_monthly_report

    rows = []
    for i in range(400):
        d = dt.datetime(2024, 1 + (i % 4), 1 + (i % 27))
        # 8 keys, all equal frequency; nulls drift across months
        rows.append((d, f"k{i % 8}" if (i % 5 != 0 or i % 2) else None))
    df = spark.createDataFrame(rows, "d timestamp, c string")
    got = dict(psi_monthly_report(df, ["c"], ["c"], "d", min_intervals=4))
    assert got["c"] is not None and got["c"] >= 0.0


# ---------------------------------------------------------------------------
# rank_feature_columns: deterministic sampling
# ---------------------------------------------------------------------------


def test_rank_feature_columns_partition_invariant_sample(spark):
    """Above the sample cap the ranking must be computed on a
    deterministic hash sample — identical ranking for 1-partition and
    16-partition layouts of the same data (the old bare limit() was
    layout-dependent)."""
    from upgini_spark.pipeline.sort import rank_feature_columns

    n = 4000
    pdf = pd.DataFrame({
        "a": np.sin(np.arange(n) * 0.37),
        "b": (np.arange(n) * 17 % 91).astype(float),
        "s": [f"v{i % 13}" for i in range(n)],
        "t": (np.arange(n) % 7 < 3).astype(float),
    })
    df = spark.createDataFrame(pdf)
    r1 = rank_feature_columns(
        df.coalesce(1), ["a", "b", "s"], "t", sample_rows=1500
    )
    r16 = rank_feature_columns(
        df.repartition(16), ["a", "b", "s"], "t", sample_rows=1500
    )
    assert r1 == r16


# ---------------------------------------------------------------------------
# Co-bucketed zero-exchange flagship (r5 verdict item 5)
# ---------------------------------------------------------------------------


def test_cobucketed_flagship_zero_exchange(spark):
    """The full flagship pipeline — as-of join + rolling window features +
    sessionization — over co-bucketed tables plans with ZERO Exchange:
    the hist side sort-merge-joins bucket-to-bucket, and every window
    reuses the left table's bucketed clustering, so the token payload
    never crosses a shuffle. Results must equal the native engine's."""
    from upgini_spark.fixtures import feature_source, tokenized_sequences
    from upgini_spark.joins.asof import asof_join, asof_join_hist, build_asof_hist
    from upgini_spark.operators.timeseries import roll_features, sessionize
    from upgini_spark.sources.io import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = tokenized_sequences(spark, 3000)
        right = feature_source(spark, 3000, points_per_entity=4)
        hist = build_asof_hist(right, "feature_ts", ["entity_id"])
        write_bucketed(left, "bkt_seq_r5", ["doc_id"], 8,
                       sort_cols=["doc_id", "event_time"])
        write_bucketed(hist, "bkt_hist_r5", ["entity_id"], 8)
        bl, bh = spark.table("bkt_seq_r5"), spark.table("bkt_hist_r5")

        def pipeline(enriched):
            feat = roll_features(
                enriched, "event_time", ["doc_id"], "f_ext_num_1",
                [(7, "D", "mean"), (1, "D", "count")],
            )
            return sessionize(feat, "event_time", ["doc_id"],
                              gap_seconds=86400, tie_cols=["n_tok"])

        out = pipeline(asof_join_hist(
            bl, bh, "event_time", ["doc_id"], ["entity_id"],
            keep_match_ts=True,
        ))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:4000]

        # value parity vs the native engine on the same data
        ref = pipeline(asof_join(
            left, right, left_on="event_time", right_on="feature_ts",
            by_left="doc_id", by_right="entity_id", keep_match_ts=True,
        ))
        key = ["doc_id", "event_time", "n_tok"]
        a = {tuple(str(r[k]) for k in key):
             (str(r["matched_ts"]), str(r["f_ext_num_1"]), r["session_id"])
             for r in out.collect()}
        b = {tuple(str(r[k]) for k in key):
             (str(r["matched_ts"]), str(r["f_ext_num_1"]), r["session_id"])
             for r in ref.collect()}
        assert a == b
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_seq_r5")
        spark.sql("DROP TABLE IF EXISTS bkt_hist_r5")


def test_pipeline_crash_resume_e2e(spark, tmp_path):
    """North-rule resumability, end to end: the flagship pipeline staged
    through StageLedger crashes after stage 1, resumes in a fresh ledger
    WITHOUT recomputing stage 1, and the final output is content-
    identical (digest) to an uninterrupted run — with per-partition
    row/skew metrics recorded for every stage."""
    import json
    import os

    from upgini_spark.fixtures import feature_source, tokenized_sequences
    from upgini_spark.joins.asof import asof_join
    from upgini_spark.operators.timeseries import roll_features, sessionize
    from upgini_spark.pipeline.lineage import StageLedger, content_digest

    left = tokenized_sequences(spark, 1500)
    right = feature_source(spark, 1500, points_per_entity=3)
    builds = {"enrich": 0, "features": 0, "sessions": 0}

    def run_pipeline(ledger, crash_after_enrich=False):
        def b_enrich():
            builds["enrich"] += 1
            return asof_join(
                left, right, left_on="event_time", right_on="feature_ts",
                by_left="doc_id", by_right="entity_id", keep_match_ts=True,
            )

        s1 = ledger.run("enrich", b_enrich)
        if crash_after_enrich:
            raise RuntimeError("simulated mid-pipeline crash")

        def b_feat():
            builds["features"] += 1
            return roll_features(
                s1, "event_time", ["doc_id"], "f_ext_num_1",
                [(7, "D", "mean"), (1, "D", "count")],
            )

        s2 = ledger.run("features", b_feat)

        def b_sess():
            builds["sessions"] += 1
            return sessionize(s2, "event_time", ["doc_id"],
                              gap_seconds=86400, tie_cols=["n_tok"])

        return ledger.run("sessions", b_sess, digest=True)

    root = str(tmp_path / "run")
    with pytest.raises(RuntimeError, match="simulated"):
        run_pipeline(StageLedger(spark, root), crash_after_enrich=True)
    assert builds == {"enrich": 1, "features": 0, "sessions": 0}

    out = run_pipeline(StageLedger(spark, root))  # resume in a NEW ledger
    assert builds["enrich"] == 1  # stage 1 came from the snapshot
    assert builds["features"] == 1 and builds["sessions"] == 1

    clean = run_pipeline(StageLedger(spark, str(tmp_path / "clean")))
    assert content_digest(out) == content_digest(clean)

    ledger_json = json.load(open(os.path.join(root, "ledger.json")))
    assert set(ledger_json) == {"enrich", "features", "sessions"}
    for stage, entry in ledger_json.items():
        assert entry["status"] == "done"
        m = entry["metrics"]
        assert m["rows"] > 0 and m["partitions"] >= 1
        assert "skew_max_over_mean" in m and "per_partition" in m
    assert "digest" in ledger_json["sessions"]


def test_register_bucketed_restores_shuffle_free_plan(spark, tmp_path):
    """A bucketed layout written in one session can be re-registered in a
    fresh catalog (register_bucketed DDL over the existing files) and
    still joins shuffle-free — ephemeral in-memory catalogs forget
    managed tables between sessions while the bucket-suffixed files
    survive."""
    import shutil

    from pyspark.sql import functions as F
    from upgini_spark.sources.io import register_bucketed, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.range(500).select(
            (F.col("id") % 40).alias("k"), F.col("id").alias("x")
        )
        write_bucketed(df, "bkt_orig_r5", ["k"], 8, sort_cols=["k", "x"])
        src_loc = (
            spark.sql("DESCRIBE TABLE EXTENDED bkt_orig_r5")
            .filter(F.col("col_name") == "Location").collect()[0]["data_type"]
        ).removeprefix("file:")
        # simulate "files survive, catalog forgot": copy layout elsewhere
        dst = str(tmp_path / "bkt_copy_r5")
        shutil.copytree(src_loc, dst)
        register_bucketed(spark, "bkt_copy_r5", dst, ["k"], 8, sort_cols=["k", "x"])
        a, b = spark.table("bkt_orig_r5"), spark.table("bkt_copy_r5")
        joined = a.join(b.withColumnRenamed("x", "y"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        # k = id % 40 over 500 ids: keys 0-19 have 13 rows, 20-39 have 12
        assert joined.count() == 20 * 13 * 13 + 20 * 12 * 12
        # content parity
        assert sorted(r["x"] for r in b.collect()) == list(range(500))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_orig_r5")
        spark.sql("DROP TABLE IF EXISTS bkt_copy_r5")


# ---------------------------------------------------------------------------
# metrics harness: reference asymmetries (ADVICE r4)
# ---------------------------------------------------------------------------


def test_multiclass_proba_scorer_raises():
    """roc_auc-family proba scorers are binary-only: proba.max(axis=1)
    into roc_auc_score is a meaningless statistic, so the harness raises
    instead of returning a bogus metric."""
    from upgini_spark.pipeline.metrics import CVMetricsHarness

    rng = np.random.RandomState(7)
    pdf = pd.DataFrame({
        "f": rng.randn(300),
        "g": rng.randn(300),
        "target": rng.randint(0, 3, 300),
        "fold_id": np.arange(300) % 3,
    })
    h = CVMetricsHarness("MULTICLASS", scoring="roc_auc")
    with pytest.raises(ValueError, match="binary"):
        h.cross_val_predict(pdf, ["f", "g"], "target", "fold_id")


# ---------------------------------------------------------------------------
# multimodal: P6 hardening (ADVICE r4)
# ---------------------------------------------------------------------------


def _ppm(w, h, maxval, px):
    return f"P6\n{w} {h}\n{maxval}\n".encode() + px


def test_16bit_ppm_rejected_as_corrupt(spark):
    """maxval > 255 means 2 bytes/sample; a 1-byte parse would silently
    decode garbage — such payloads must surface as format='corrupt'."""
    from upgini_spark.functions.multimodal import decode_media

    good = _ppm(2, 2, 255, bytes(range(12)))
    wide = _ppm(2, 2, 65535, bytes(24))  # valid 16-bit P6
    df = spark.createDataFrame(
        [("a", good), ("b", wide)], "media_id string, content binary"
    )
    out = {r["media_id"]: r for r in decode_media(df).collect()}
    assert out["a"]["format"] == "ppm"
    assert out["b"]["format"] == "corrupt"


def test_resize_corrupt_p6_nulls_geometry(spark):
    """A payload that sniffs as P6 but fails to parse (truncated /
    16-bit) keeps its bytes but gets NULL width/height, so it is
    distinguishable from a deliberately skipped non-PPM row."""
    from upgini_spark.functions.multimodal import MEDIA_SCHEMA, resize_images

    good = _ppm(4, 4, 255, bytes(48))
    trunc = _ppm(4, 4, 255, bytes(10))
    wav = b"RIFFxxxxWAVEdata"
    rows = [
        ("g", "image", good, None, 4, 4, None),
        ("t", "image", trunc, None, 4, 4, None),
        ("w", "audio", wav, None, 7, 7, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_images(df, 2, 2).collect()}
    assert (out["g"]["width"], out["g"]["height"]) == (2, 2)
    assert out["g"]["content"][:2] == b"P6"
    assert out["t"]["width"] is None and out["t"]["height"] is None
    assert bytes(out["t"]["content"]) == trunc  # payload untouched
    assert (out["w"]["width"], out["w"]["height"]) == (7, 7)  # non-PPM skipped


def test_png_decode_all_filters_and_color_types():
    """Round-trip through the stdlib PNG codec: every scanline filter ×
    every supported color type reproduces exact closed-form channel
    means; unsupported shapes raise."""
    import struct
    import zlib

    from upgini_spark.functions.multimodal import _decode_png, _encode_png

    w, h = 7, 5
    rgb_rows = []
    for y in range(h):
        r = bytearray()
        for x in range(w):
            r += bytes([(x * 31 + y * 57) % 256, (x * 3 + y) % 256, (y * 91 + x * 5) % 256])
        rgb_rows.append(bytes(r))
    exp_r = sum((x * 31 + y * 57) % 256 for x in range(w) for y in range(h)) / (w * h) / 255.0
    for filters in ([0], [1], [2], [3], [4], [3, 4, 1, 2, 0]):
        dw, dh, feats = _decode_png(_encode_png(w, h, rgb_rows, 2, filters))
        assert (dw, dh) == (w, h)
        assert feats[0] == pytest.approx(exp_r, abs=1e-15), filters
    # RGBA: alpha ignored; grayscale: r == g == b
    rgba = [bytes(b for x in range(w) for b in ((x * 9 + y) % 256, 10, (y * 13) % 256, 7))
            for y in range(h)]
    _, _, f4 = _decode_png(_encode_png(w, h, rgba, 6, [4, 3, 2, 1, 0]))
    assert f4[1] == pytest.approx(10 / 255, abs=1e-15)
    gray = [bytes((x + y * 3) % 256 for x in range(w)) for y in range(h)]
    _, _, fg = _decode_png(_encode_png(w, h, gray, 0, [1, 2, 3, 4]))
    assert fg[0] == fg[1] == fg[2]

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF)

    sig = b"\x89PNG\r\n\x1a\n"
    for ihdr in (
        struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0),  # 16-bit
        struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0),   # palette
        struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1),   # interlaced
    ):
        bad = sig + chunk(b"IHDR", ihdr) + chunk(
            b"IDAT", zlib.compress(bytes(64))) + chunk(b"IEND", b"")
        with pytest.raises(ValueError):
            _decode_png(bad)


def test_decode_media_sniffs_png(spark):
    """decode_media routes PNG by its 8-byte signature alongside WAV/P6,
    and a truncated PNG surfaces as 'corrupt'."""
    from upgini_spark.functions.multimodal import _encode_png, decode_media

    png = _encode_png(3, 2, [bytes([5, 6, 7]) * 3] * 2, 2, [4])
    rows = [("p", png), ("c", png[:24]), ("x", b"\x00\x01nothing")]
    df = spark.createDataFrame(rows, "media_id string, content binary")
    out = {r["media_id"]: r for r in decode_media(df).collect()}
    assert out["p"]["format"] == "png"
    assert (out["p"]["width"], out["p"]["height"]) == (3, 2)
    assert out["p"]["features"][0] == pytest.approx(5 / 255, abs=1e-15)
    assert out["c"]["format"] == "corrupt"
    assert out["x"]["format"] == "unknown"


def test_decode_ppm_delegates_to_parse_ppm():
    """_decode_ppm must compute stats from _parse_ppm (one header parser
    repo-wide — the r4 duplicate drifted once already)."""
    import inspect

    from upgini_spark.functions import multimodal as M

    src = inspect.getsource(M._decode_ppm)
    assert "_parse_ppm(" in src
    # and the math still agrees with the closed form on a solid color
    w, h, (r, g, b, lum) = M._decode_ppm(_ppm(3, 2, 255, bytes([10, 20, 30]) * 6))
    assert (w, h) == (3, 2)
    assert r == pytest.approx(10 / 255) and g == pytest.approx(20 / 255)
    assert lum == pytest.approx(0.2126 * 10 / 255 + 0.7152 * 20 / 255 + 0.0722 * 30 / 255)

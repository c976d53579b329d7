"""Round-5 continuation: table-backed bucketed feature sources through the
enricher API, the numpy histogram-GBDT estimator + TreeSHAP, and stdlib
GIF/BMP media decode."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Enricher-level co-bucketed deployment (CLAUDE.md r5 candidate: "plumbing
# table-backed feature sources through the enricher API")
# ---------------------------------------------------------------------------


def test_enricher_bucketed_transform_zero_exchange(spark):
    """materialize_source_bucketed + bucketize_input: the FULL enricher
    transform — as-of enrichment, cyclical date features, and the three
    default generated TS formulas (dedup slim pass + join-back included)
    — plans with ZERO Exchange when both sides ride co-bucketed tables,
    and values match the native shuffled engine exactly."""
    from upgini_spark.fixtures import feature_source, tokenized_sequences
    from upgini_spark.pipeline.enricher import SparkFeaturesEnricher

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seq = tokenized_sequences(spark, 2500)
        src = feature_source(spark, 2500, points_per_entity=3)

        enr = SparkFeaturesEnricher(src)
        enr.fit(seq, "doc_id", "event_time", validate_features=False)
        enr.materialize_source_bucketed("r5b_hist_bkt", 8)
        assert enr._hist is not None
        bl = SparkFeaturesEnricher.bucketize_input(
            seq, "r5b_seq_bkt", "doc_id", "event_time", 8
        )

        out = enr.transform(bl)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:4000]

        ref_enr = SparkFeaturesEnricher(src)
        ref_enr.fit(seq, "doc_id", "event_time", validate_features=False)
        ref = ref_enr.transform(seq)

        cols = ["matched_ts", "f_ext_num_1", "f_autofe_roll_7d_mean",
                "f_autofe_roll_30d_max", "f_autofe_lag_1d",
                "datetime_day_in_quarter_sin"]
        key = ["doc_id", "event_time", "n_tok"]

        def snap(df):
            return {
                tuple(str(r[k]) for k in key): tuple(str(r[c]) for c in cols)
                for r in df.select(*key, *cols).collect()
            }

        assert snap(out) == snap(ref)

        # idempotent re-materialization in the same session (catalog hit)
        enr2 = SparkFeaturesEnricher(src)
        enr2.fit(seq, "doc_id", "event_time", validate_features=False)
        enr2.materialize_source_bucketed("r5b_hist_bkt", 8)
        out2 = enr2.transform(bl, keep_cyclical=False)
        assert "Exchange" not in out2._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "true")
        spark.sql("DROP TABLE IF EXISTS r5b_hist_bkt")
        spark.sql("DROP TABLE IF EXISTS r5b_seq_bkt")


# ---------------------------------------------------------------------------
# Histogram-GBDT + exact TreeSHAP (pipeline/gbdt.py) — the CatBoost twin
# ---------------------------------------------------------------------------

import numpy as np
import pandas as pd


def _xor_frame(n=2500, seed=7):
    rng = np.random.RandomState(seed)
    x = pd.DataFrame({
        "a": rng.uniform(-2, 2, n),
        "b": rng.uniform(-2, 2, n),
        "noise": rng.uniform(0, 1, n),
        "cat": rng.choice(["u", "v", "w"], n),
    })
    y = ((x.a > 0) ^ (x.b > 0)).astype(float).to_numpy()
    return x, y


def test_gbdt_learns_nonlinear_where_linear_cannot():
    """XOR target: trees must reach AUC ~1 while the linear stand-in
    stays at coin-flip — proves real split learning, not a wrapper."""
    from upgini_spark.pipeline.gbdt import GBDTClassifier
    from upgini_spark.pipeline.metrics import LogisticEstimator, roc_auc_score

    x, y = _xor_frame()
    clf = GBDTClassifier().fit(x, y)
    auc_gbdt = roc_auc_score(y, clf.predict_proba(x)[:, 1])
    lin = LogisticEstimator().fit(x, y)
    auc_lin = roc_auc_score(y, lin.predict_proba(x)[:, 1])
    assert auc_gbdt > 0.97
    assert abs(auc_lin - 0.5) < 0.1
    # bit-deterministic refit
    clf2 = GBDTClassifier().fit(x, y)
    assert np.array_equal(clf.predict_proba(x), clf2.predict_proba(x))


def test_treeshap_local_accuracy_exact():
    """The defining TreeSHAP invariant: phi.sum(axis=1) + expected ==
    raw margin for EVERY row, to machine precision — this catches any
    indexing slip in extend/unwind. A constant feature (never split on)
    must get exactly zero attribution."""
    from upgini_spark.pipeline.gbdt import GBDTClassifier, GBDTRegressor

    x, y = _xor_frame(1200)
    x = x.assign(const=1.0)
    rng = np.random.RandomState(5)
    yr = 3 * np.sin(x.a.to_numpy()) + (x.cat == "w").to_numpy() * 2.0
    yr = yr + rng.normal(0, 0.1, len(x))

    reg = GBDTRegressor().fit(x, yr)
    sub = x.iloc[:150]
    phi, exp = reg.shap_values(sub)
    raw = reg.core.raw_margin(reg._binned(sub))
    assert np.abs(phi.sum(axis=1) + exp - raw).max() < 1e-9
    assert np.abs(phi[:, list(x.columns).index("const")]).max() == 0.0

    clf = GBDTClassifier().fit(x, y)
    phi_c, exp_c = clf.shap_values(sub)
    raw_c = clf.cores[0].raw_margin(clf._binned(sub))
    assert np.abs(phi_c.sum(axis=1) + exp_c - raw_c).max() < 1e-9


def test_gbdt_loss_ladder():
    """loss_function accepts the CatBoost calculation names the
    custom-loss resolution emits; semantics sanity per loss."""
    import pytest

    from upgini_spark.pipeline.gbdt import GBDTClassifier, GBDTRegressor

    rng = np.random.RandomState(11)
    n = 1500
    x = pd.DataFrame({"a": rng.uniform(0, 4, n), "b": rng.normal(size=n)})
    # Poisson: counts with log-link rate = exp(0.8*a)
    y_pois = rng.poisson(np.exp(0.8 * x.a.to_numpy()))
    m = GBDTRegressor(loss_function="Poisson").fit(x, y_pois)
    pred = m.predict(x)
    assert (pred > 0).all()  # rate space, not raw margin
    assert np.corrcoef(pred, np.exp(0.8 * x.a.to_numpy()))[0, 1] > 0.95

    # Quantile(0.5): asymmetric-noise target — median tracked, not mean
    noise = rng.exponential(2.0, n)  # heavy right tail
    y_q = x.a.to_numpy() + noise
    mq = GBDTRegressor(loss_function="Quantile").fit(x, y_q)
    resid = y_q - mq.predict(x)
    frac_above = float((resid > 0).mean())
    assert 0.35 < frac_above < 0.65  # median regression, mean would be ~0.3

    m2 = GBDTRegressor(loss_function="MAPE").fit(x, y_q)
    assert np.isfinite(m2.predict(x)).all()

    with pytest.raises(ValueError):
        GBDTRegressor(loss_function="Nope").fit(x, y_q)
    with pytest.raises(ValueError):
        GBDTClassifier(loss_function="RMSE")


def test_harness_gbdt_estimator_and_shap_importance():
    """CVMetricsHarness(estimator='gbdt'): CV runs on real trees, and
    shap_importance ranks the informative feature first; the linear
    harness returns {} from shap_importance (no trees to explain)."""
    from upgini_spark.pipeline.metrics import CVMetricsHarness

    rng = np.random.RandomState(3)
    n = 600
    x = rng.normal(size=n)
    pdf = pd.DataFrame({
        "f": x, "noise": rng.normal(size=n),
        "target": (x + rng.normal(scale=0.5, size=n) > 0).astype(int),
        "fold_id": np.arange(n) % 4,
    })
    h = CVMetricsHarness("BINARY", estimator="gbdt")
    res = h.cross_val_predict(pdf, ["f", "noise"], "target", "fold_id")
    assert res.metric is not None and res.metric > 0.3  # GINI of a real signal
    imp = h.shap_importance(pdf, "fold_id")
    assert imp["f"] > imp["noise"] >= 0.0

    h_lin = CVMetricsHarness("BINARY")
    h_lin.cross_val_predict(pdf, ["f", "noise"], "target", "fold_id")
    assert h_lin.shap_importance(pdf, "fold_id") == {}


def test_enricher_calculate_metrics_gbdt_e2e(spark):
    """estimator='gbdt' + loss='binary' through the full Spark lifecycle:
    reference report layout intact, feature_importances_ comes from
    TreeSHAP (non-empty, all finite)."""
    from upgini_spark.fixtures import feature_source, tokenized_sequences
    from upgini_spark.pipeline.enricher import SparkFeaturesEnricher

    left = tokenized_sequences(spark, 600).withColumn(
        "client_f", (F.col("n_tok") % 100).cast("double")
    ).withColumn(
        "target_bin", (F.col("n_tok") % 2).cast("int")
    ).withColumn(
        "eval_set_index", F.when(F.col("n_tok") % 5 == 0, 1).otherwise(0)
    )
    right = feature_source(spark, 600)
    enr = SparkFeaturesEnricher(right).fit(
        left, "doc_id", "event_time", feature_cols=["client_f"],
        target_col="target_bin", validate_features=False,
    )
    report = enr.calculate_metrics(left, "target_bin", estimator="gbdt", loss="binary")
    assert report["Dataset type"].tolist() == ["Train", "Eval 1"]
    assert "Baseline GINI" in report.columns
    assert "Enriched GINI" in report.columns
    imps = enr.feature_importances_
    assert imps and all(np.isfinite(v) for v in imps.values())


# ---------------------------------------------------------------------------
# BM25 relevance scoring (functions/text.py bm25_score)
# ---------------------------------------------------------------------------


def test_bm25_score_exact_and_plan(spark):
    """BM25 matches a hand-rolled reference on a tiny corpus, the floored
    Lucene idf included; the plan has exactly one broadcast (the 1-row
    stats frame), no explode/Generate, and a single wide shuffle."""
    import math

    from upgini_spark.functions.text import bm25_score

    corpus = [
        (0, "spark window spark join"),
        (1, "window scan scan scan"),
        (2, "dup dup spark"),
        (3, "scan join merge sort hash"),
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_tok"], r["bm25"])
        for r in bm25_score(df, "text", ["spark", "dup"]).collect()
    }

    docs = [t.split() for _, t in corpus]
    n, avgdl = len(docs), sum(len(d) for d in docs) / len(docs)

    def ref_score(toks):
        s = 0.0
        for term in ["spark", "dup"]:
            tf = toks.count(term)
            if tf == 0:
                continue
            dfreq = sum(1 for d in docs if term in d)
            idf = math.floor(
                math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5)) * 1e10
            ) / 1e10
            s += idf * tf * (1.2 + 1.0) / (
                tf + 1.2 * (0.25 + 0.75 * len(toks) / avgdl)
            )
        return s

    for i, toks in enumerate(docs):
        assert out[i][0] == len(toks)
        assert out[i][1] == pytest.approx(ref_score(toks), abs=1e-12)
    assert out[3][1] == 0.0  # no query term -> exactly zero, not ~zero

    plan = (
        bm25_score(df, "text", ["spark", "dup"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastExchange") == 1
    assert "Generate" not in plan  # tf via higher-order filter, no explode
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2


# ---------------------------------------------------------------------------
# GIF (LZW) + BMP stdlib decode (functions/multimodal.py)
# ---------------------------------------------------------------------------


def test_lzw_round_trip_and_independent_stream():
    """The LZW pair round-trips across code widths, the KwKwK case, and a
    table overflow forcing a mid-stream CLEAR; the decoder additionally
    decodes an encoder-INDEPENDENT literal-only stream (the classic
    'uncompressed GIF' trick), so a symmetric off-by-one in the width
    bump that round-trip alone would hide gets caught."""
    import random

    from upgini_spark.functions.multimodal import _lzw_decode, _lzw_encode

    rng = random.Random(7)
    for mcs, n in [(2, 1), (2, 500), (4, 3000), (8, 30000)]:
        idx = [rng.randrange(1 << mcs) for _ in range(n)]
        assert list(_lzw_decode(_lzw_encode(idx, mcs), mcs)) == idx
    for mcs in (2, 3, 8):  # long runs: KwKwK special case on every step
        idx = [1] * 5000 + [0, 1, 0, 0, 1, 1] * 300
        assert list(_lzw_decode(_lzw_encode(idx, mcs), mcs)) == idx

    def literal_stream(indices, mcs):
        clear = 1 << mcs
        eoi = clear + 1
        out = bytearray()
        acc = bits = 0
        cs = mcs + 1
        size = eoi + 1
        first = True

        def emit(c):
            nonlocal acc, bits
            acc |= c << bits
            bits += cs
            while bits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                bits -= 8

        emit(clear)
        for px in indices:
            emit(px)
            if first:
                first = False
            else:
                size += 1
            if size == (1 << cs) - 1:  # decoder would bump next append
                emit(clear)
                size = eoi + 1
                first = True
        emit(eoi)
        if bits:
            out.append(acc & 0xFF)
        return bytes(out)

    for mcs in (2, 3, 5):
        idx = [rng.randrange(1 << mcs) for _ in range(2000)]
        assert list(_lzw_decode(literal_stream(idx, mcs), mcs)) == idx


def test_gif_bmp_decode_closed_form_and_corrupt():
    from upgini_spark.functions.multimodal import (
        _decode_bmp,
        _decode_gif,
        _encode_bmp,
        _encode_gif,
    )

    i = 7
    w, h = 5 + i % 6, 4 + i % 5
    pal = [((i + 40 * c) % 256, (i * 3 + 50 * c) % 256,
            (i * 5 + 60 * c) % 256) for c in range(4)]
    idx = [(x + y) % 4 for y in range(h) for x in range(w)]
    gw, gh, feats = _decode_gif(_encode_gif(w, h, idx, pal))
    sums = [sum(pal[k][ch] for k in idx) for ch in range(3)]
    assert (gw, gh) == (w, h)
    assert feats[:3] == [s / (w * h) / 255.0 for s in sums]

    i = 4
    w, h = 4 + i % 5, 3 + i % 4  # w*3 = 24: exercises zero AND real padding
    rows = [
        bytes(b for x in range(w)
              for b in ((i + 17 * x) % 256, (i * 7) % 256, (i + 29 * y) % 256))
        for y in range(h)
    ]
    bw, bh, bf = _decode_bmp(_encode_bmp(w, h, rows))
    sr = sum((i + 17 * x) % 256 for x in range(w)) * h
    sg = (i * 7) % 256 * w * h
    sb = sum((i + 29 * y) % 256 for y in range(h)) * w
    assert (bw, bh) == (w, h)
    assert bf[:3] == [sr / (w * h) / 255.0, sg / (w * h) / 255.0,
                      sb / (w * h) / 255.0]

    with pytest.raises(ValueError):
        _decode_gif(b"GIF89a" + b"\x00" * 5)  # truncated LSD
    with pytest.raises(ValueError):
        _decode_bmp(b"BM" + b"\x00" * 60)  # bpp=0
    with pytest.raises(ValueError):
        _decode_bmp(_encode_bmp(2, 2, [b"\x00" * 6] * 2)[:-3])  # truncated px
    # interlace flag set -> unsupported, not silently wrong
    good = bytearray(_encode_gif(3, 3, [0] * 9, [(1, 2, 3)]))
    desc = good.index(0x2C, 13)
    good[desc + 9] |= 0x40
    with pytest.raises(ValueError):
        _decode_gif(bytes(good))


def test_decode_media_gif_bmp_e2e(spark):
    """End-to-end through the Arrow kernel: sniffing routes GIF/BMP to the
    new decoders and every row decodes (no 'corrupt'/'unknown')."""
    from upgini_spark.functions.multimodal import (
        decode_media,
        synthetic_gif_bmp_media,
    )

    out = decode_media(synthetic_gif_bmp_media(spark, 60))
    rows = out.collect()
    assert len(rows) == 60
    by_fmt = {}
    for r in rows:
        by_fmt.setdefault(r["format"], 0)
        by_fmt[r["format"]] += 1
        assert r["width"] is not None and r["features"] is not None
    assert by_fmt == {"bmp": 30, "gif": 30}


# ---------------------------------------------------------------------------
# Product quantization (similarity.pq_codebooks / pq_encode / pq_topk_adc)
# ---------------------------------------------------------------------------


def _pq_planted(spark, n, dims=16):
    i = F.col("id")
    v = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda d: F.conv(
            F.substring(F.md5(F.concat(i.cast("string"), F.lit("_"),
                                       d.cast("string"))), 1, 4), 16, 10,
        ).cast("double") / 65535.0 * 2 - 1,
    )
    return spark.range(n).select(i.alias("vec_id"), v.alias("v"))


def test_pq_encode_and_adc_replay(spark):
    """Codebook shape, code validity, and a full Python replay of the ADC
    arithmetic: adc(q, x) must equal sum_j dot(q_j, codebook[j][code_j])
    computed independently from the collected codebooks + codes."""
    from upgini_spark.functions.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk_adc,
    )

    corp = _pq_planted(spark, 300)
    m, k_sub, dims = 4, 4, 16
    cb = pq_codebooks(corp, "vec_id", "v", dims, m=m, k_sub=k_sub, n_iter=1)
    cb_rows = cb.collect()
    assert len(cb_rows) <= m * k_sub  # empty cells may drop out
    book = {(r["sub"], r["cell"]): list(r["cvec"]) for r in cb_rows}
    assert all(len(v) == dims // m for v in book.values())

    codes = pq_encode(corp, "vec_id", "v", cb, dims, m=m)
    crows = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert len(crows) == 300
    assert all(
        len(cs) == m and all((j, c) in book for j, c in enumerate(cs))
        for cs in crows.values()
    )

    q = corp.filter(F.col("vec_id") < 3)
    out = pq_topk_adc(
        q, corp, "vec_id", "vec_id", "v", "v", dim=dims,
        k=4, m=m, k_sub=k_sub, n_iter=1,
    )
    got = {(r["q_id"], r["n_id"]): r["adc"] for r in out.collect()}
    vecs = {r["vec_id"]: list(r["v"]) for r in corp.collect()}
    dm = dims // m
    for (qi, ni), adc in got.items():
        qv = vecs[qi]
        expect = 0.0
        for j, c in enumerate(crows[ni]):
            cv = book[(j, c)]
            expect += sum(
                qv[j * dm + t] * cv[t] for t in range(dm)
            )
        assert adc == pytest.approx(expect, abs=1e-6)


def test_pq_adc_recall_vs_bruteforce(spark):
    """ADC is an approximation; on the deterministic planted corpus its
    top-5 by inner product must overlap the exact top-5 well above
    chance (5/300), and the exact-dot of ADC's top-1 must be close to
    the true best (quantization bounds the regret)."""
    from upgini_spark.functions.similarity import pq_topk_adc
    from upgini_spark.operators.binary import _dot

    corp = _pq_planted(spark, 300)
    q = corp.filter(F.col("vec_id") < 10)
    approx = pq_topk_adc(
        q, corp, "vec_id", "vec_id", "v", "v", dim=16,
        k=5, m=4, k_sub=8, n_iter=1,
    ).collect()

    qq = q.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    exact = (
        qq.crossJoin(corp)
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn("ip", _dot(F.col("qv"), F.col("v")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("ip").desc(), F.col("vec_id").asc()
    )
    ex = (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    )
    ex_top = {}
    best_ip = {}
    for r in ex:
        ex_top.setdefault(r["q_id"], set()).add(r["vec_id"])
        if r["rank"] == 1:
            best_ip[r["q_id"]] = r["ip"]
    ip_of = {(r["q_id"], r["vec_id"]): r["ip"] for r in exact.collect()}

    hits = total = 0
    for r in approx:
        total += 1
        hits += r["n_id"] in ex_top[r["q_id"]]
    recall = hits / total
    assert recall >= 0.25, recall  # >> 5/300 chance level

    # uniform random vectors are the WORST case for PQ (no cluster
    # structure to quantize); the deterministic fixture measures mean
    # top-1 regret 0.87 / worst 2.69 — assert with margin
    regrets = [
        best_ip[r["q_id"]] - ip_of[(r["q_id"], r["n_id"])]
        for r in approx if r["rank"] == 1
    ]
    assert max(regrets) <= 3.2, regrets
    assert sum(regrets) / len(regrets) <= 1.5, regrets


# ---------------------------------------------------------------------------
# HTML boilerplate stripping (C4/CCNet-style extraction stage)
# ---------------------------------------------------------------------------


def test_strip_html_edge_cases(spark):
    """Edge semantics pinned: script/style CONTENT dropped (including
    tag-shaped strings inside), comments dropped, entities decoded AFTER
    tag strip so decoded '<b>' survives as text, double-encoded &amp;amp;
    decodes exactly one level, tags become spaces (no word merging),
    whitespace collapses, title extraction returns '' when absent."""
    from upgini_spark.functions.text import (
        html_tag_count, html_title, strip_html,
    )

    cases = [
        # (html, clean, title, n_tags)
        ("<p>a</p><p>b</p>", "a b", "", 4),
        ("<script>var a = '<b>hi</b>';</script>after", "after", "", 4),
        ("<style>p { color: red }</style>x", "x", "", 2),
        # raw-markup tag count: '<!-- secret <b>' and '</b>' both match
        ("<!-- secret <b>bold</b> -->seen", "seen", "", 2),
        ("x &lt;b&gt;not a tag&lt;/b&gt; y", "x <b>not a tag</b> y", "", 0),
        ("a &amp;amp; b", "a &amp; b", "", 0),
        ("one<br/>two", "one two", "", 1),
        ("<title>T &amp; Co</title>body", "T & Co body",
         "T &amp; Co", 2),
        ("no markup at all", "no markup at all", "", 0),
        ("&quot;q&quot; &#39;s&#39;&nbsp;end", '"q" \'s\' end', "", 0),
        ("<SCRIPT TYPE='x'>hidden</SCRIPT>ok", "ok", "", 2),
        ("  <div>   spaced   </div>  ", "spaced", "", 2),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, *_) in enumerate(cases)], "i int, h string"
    )
    rows = (
        df.select(
            "i",
            strip_html(F.col("h")).alias("clean"),
            html_title(F.col("h")).alias("title"),
            html_tag_count(F.col("h")).alias("n_tags"),
        )
        .orderBy("i")
        .collect()
    )
    for r, (h, clean, title, n_tags) in zip(rows, cases):
        assert r["clean"] == clean, (h, r["clean"])
        assert r["title"] == title, (h, r["title"])
        assert r["n_tags"] == n_tags, (h, r["n_tags"])


# ---------------------------------------------------------------------------
# Paragraph-level corpus dedup (CCNet-style)
# ---------------------------------------------------------------------------


def test_paragraph_dedup_semantics(spark):
    """Keep-first by global (id, idx); normalization unifies case/punct
    variants; whitespace-only paragraphs are dropped BEFORE indexing;
    zero-paragraph docs survive with n_paras=0 and clean_text=''."""
    from upgini_spark.functions.dedup import paragraph_dedup

    rows = [
        (0, "Unique intro zero.\n\nShared Topic!\n\n  \n\nSubscribe, Today!"),
        (1, "unique intro one\n\nshared topic\n\nsubscribe today"),
        (2, "another one two\n\nsubscribe   TODAY???"),
        (3, ""),
        (4, "   \n\n  "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in paragraph_dedup(df, "doc_id", "text").collect()
    }
    assert len(got) == 5
    assert got[0]["n_paras"] == 3 and got[0]["n_dup_paras"] == 0
    assert got[0]["clean_text"] == (
        "Unique intro zero.\n\nShared Topic!\n\nSubscribe, Today!"
    )
    # doc 1: 'shared topic' and 'subscribe today' normalize into doc 0's
    assert got[1]["n_dup_paras"] == 2
    assert got[1]["clean_text"] == "unique intro one"
    assert got[1]["dup_share"] == pytest.approx(2 / 3, abs=1e-6)
    assert got[2]["clean_text"] == "another one two"
    for empty in (3, 4):
        assert got[empty]["n_paras"] == 0
        assert got[empty]["n_dup_paras"] == 0
        assert got[empty]["dup_share"] == 0.0
        assert got[empty]["clean_text"] == ""


def test_paragraph_dedup_plan_shape(spark):
    """Scale contract: the first-occurrence pass is a map-side-combinable
    partial aggregate + equi-join — NO window over the hash (a hot
    boilerplate hash would single-partition-sort at corpus scale)."""
    from upgini_spark.functions.dedup import paragraph_dedup

    df = spark.createDataFrame([(0, "a\n\nb")], "doc_id int, text string")
    plan = (
        paragraph_dedup(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowExec" not in plan, plan[:3000]
    assert "partial_min" in plan or "HashAggregate" in plan, plan[:3000]


# ---------------------------------------------------------------------------
# Bigram-LM perplexity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------


def test_bigram_nll_self_and_heldout(spark):
    """Self-trained values hand-computed; held-out scoring backs off:
    unseen bigram with a SEEN prefix uses ln(a/(c1+aV)), unseen prefix
    degenerates to ln(1/V) — OOV bigrams are penalized, not skipped."""
    import math
    from upgini_spark.functions.text import bigram_nll

    train_rows = [(0, "a b a b c"), (1, "a b"), (3, "c a b a")]
    train = spark.createDataFrame(train_rows, "doc_id int, text string")
    self_scored = {
        r["doc_id"]: r for r in bigram_nll(train, "doc_id", "text").collect()
    }
    # c12: ab=4 ba=2 bc=1 ca=1; c1: a=4 b=3 c=1; V=3
    exp0 = -(
        math.log(4.5 / 5.5) + math.log(2.5 / 4.5)
        + math.log(4.5 / 5.5) + math.log(1.5 / 4.5)
    ) / 4
    assert self_scored[0]["avg_nll"] == pytest.approx(exp0, abs=2e-6)
    assert self_scored[0]["n_bigrams"] == 4

    held = spark.createDataFrame([(9, "b z c a")], "doc_id int, text string")
    out = bigram_nll(held, "doc_id", "text", train=train).collect()[0]
    # bz: seen prefix b -> ln(.5/(3+1.5)); zc: unseen prefix -> ln(.5/1.5)
    # ca: seen -> ln(1.5/2.5)
    exp9 = -(
        math.log(0.5 / 4.5) + math.log(0.5 / 1.5) + math.log(1.5 / 2.5)
    ) / 3
    assert out["n_bigrams"] == 3
    assert out["avg_nll"] == pytest.approx(exp9, abs=2e-6)

    short = spark.createDataFrame([(7, "solo")], "doc_id int, text string")
    s = bigram_nll(short, "doc_id", "text", train=train).collect()[0]
    assert s["n_bigrams"] == 0 and s["avg_nll"] is None


# ---------------------------------------------------------------------------
# URL canonicalization + URL-keyed dedup
# ---------------------------------------------------------------------------


def test_canonical_url_rules(spark):
    """Every canonicalization rule pinned: case, userinfo, default vs
    non-default ports, trailing slash, empty path, fragment (including a
    decoy '?' after '#'), tracking/empty params, param sorting,
    schemeless -> NULL."""
    from upgini_spark.functions.urls import canonical_url, url_dedup

    cases = [
        ("HTTP://Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
         "http://example.com/a/b?a=1&b=2"),
        ("http://example.com/a/b?a=1&b=2",
         "http://example.com/a/b?a=1&b=2"),
        ("https://User:pw@Example.com:443/", "https://example.com/"),
        ("https://example.com", "https://example.com/"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),
        ("http://example.com/?ref=tw&fbclid=abc", "http://example.com/"),
        ("ftp://Files.example.com/Pkg/", "ftp://files.example.com/Pkg"),
        ("not a url", None),
        ("http://example.com/a/b#?fakequery=1", "http://example.com/a/b"),
        ("http://example.com/x?gclid=1&&a=", "http://example.com/x?a="),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "id int, url string"
    )
    got = {
        r["id"]: r["c"]
        for r in df.select(
            "id", canonical_url(F.col("url")).alias("c")
        ).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i])

    keep = {r["id"]: r["keep"] for r in url_dedup(df, "id", "url").collect()}
    # 0 and 1 collapse (min id 0 keeps); 2 and 3 collapse (2 keeps);
    # NULL canonical (7) is always kept
    assert keep == {0: True, 1: False, 2: True, 3: False, 4: True,
                    5: True, 6: True, 7: True, 8: True, 9: True}


# ---------------------------------------------------------------------------
# Vocabulary build + word-id encoding
# ---------------------------------------------------------------------------


def test_vocab_build_and_encode(spark):
    """Total order (count DESC, word ASC) pins ids; OOV -> 0; word order
    preserved; empty docs survive with an empty array; the top-k plan is
    TakeOrdered, not a global sort."""
    from upgini_spark.functions.tokens import build_word_vocab, encode_words

    rows = [(0, "the cat sat on the mat"), (1, "the dog sat"),
            (2, ""), (3, "zebra the")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    vocab = build_word_vocab(df, "text", 3)
    assert [
        (r["word"], r["token_id"]) for r in vocab.orderBy("token_id").collect()
    ] == [("the", 1), ("sat", 2), ("cat", 3)]
    plan = vocab._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]

    got = {
        r["doc_id"]: r.asDict()
        for r in encode_words(df, "doc_id", "text", vocab).collect()
    }
    assert got[0]["token_ids"] == [1, 3, 2, 0, 1, 0]
    assert got[0]["n_tok"] == 6 and got[0]["n_oov"] == 2
    assert got[1]["token_ids"] == [1, 0, 2]
    assert got[2]["token_ids"] == [] and got[2]["n_tok"] == 0
    assert got[3]["token_ids"] == [0, 1]


def test_vocab_min_count(spark):
    from upgini_spark.functions.tokens import build_word_vocab

    df = spark.createDataFrame(
        [(0, "a a a b b c")], "doc_id int, text string"
    )
    v = build_word_vocab(df, "text", 10, min_count=2)
    assert [r["word"] for r in v.orderBy("token_id").collect()] == ["a", "b"]


# ---------------------------------------------------------------------------
# Temperature mixing + weighted sampling (training-data mixing ops)
# ---------------------------------------------------------------------------


def _water_fill_iterative(ns, alpha, budget):
    """Reference iterative water-filling: cap one group at a time."""
    import math

    s = {g: n ** alpha for g, n in ns.items()}
    capped = set()
    while True:
        rem_b = budget - sum(ns[g] for g in capped)
        rem_s = sum(s[g] for g in ns if g not in capped)
        lam = rem_b / rem_s
        over = [g for g in ns if g not in capped and lam * s[g] > ns[g]]
        if not over:
            break
        capped.update(over)
    return {g: min(ns[g], lam * s[g]) for g in ns}, lam


@pytest.mark.parametrize(
    "ns,alpha,budget",
    [
        ({"a": 1000, "b": 300, "c": 50, "d": 5}, 0.5, 420),
        ({"a": 1000, "b": 300, "c": 50, "d": 5}, 0.3, 900),
        ({"a": 100, "b": 100, "c": 100}, 1.0, 150),
        ({"a": 7, "b": 9000}, 0.5, 5000),
        ({"a": 10, "b": 20, "c": 30}, 0.7, 60),  # budget == total
    ],
)
def test_temperature_mix_matches_iterative(spark, ns, alpha, budget):
    """Closed-form prefix water-filling == the iterative reference, and
    Σm == min(budget, Σn) with every rate in (0, 1]."""
    from upgini_spark.functions.sampling import temperature_mix_rates

    rows = [(g,) for g, n in ns.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "grp string").repartition(7)
    got = {
        r["group"]: r.asDict()
        for r in temperature_mix_rates(df, "grp", alpha, budget).collect()
    }
    want, _ = _water_fill_iterative(ns, alpha, budget)
    assert set(got) == set(ns)
    for g in ns:
        assert got[g]["n"] == ns[g]
        assert got[g]["m"] == pytest.approx(want[g], abs=1e-5), (g, got[g])
        assert 0.0 < got[g]["rate"] <= 1.0
    assert sum(v["m"] for v in got.values()) == pytest.approx(
        min(budget, sum(ns.values())), abs=1e-4
    )


def test_temperature_mix_budget_exceeds_total(spark):
    """budget > Σn: nothing can upsample — every group keeps 100%."""
    from upgini_spark.functions.sampling import temperature_mix_rates

    df = spark.createDataFrame(
        [("a",)] * 30 + [("b",)] * 10, "grp string"
    )
    got = {
        r["group"]: r.asDict()
        for r in temperature_mix_rates(df, "grp", 0.5, 1000).collect()
    }
    assert got["a"]["rate"] == 1.0 and got["a"]["m"] == 30.0
    assert got["b"]["rate"] == 1.0 and got["b"]["m"] == 10.0


def test_weighted_sample_exact_properties(spark):
    """A-ES: partition-invariant winners, weight≤0/NULL excluded,
    n ≥ eligible rows returns all of them, and the plan is a
    TakeOrdered (per-partition heaps), not a global sort."""
    from upgini_spark.functions.sampling import weighted_sample_exact

    rows = [(i, float(1 + (i * 37) % 100)) for i in range(500)]
    rows += [(1000, 0.0), (1001, -3.0), (1002, None)]
    df = spark.createDataFrame(rows, "id long, w double")

    got1 = {r["id"] for r in weighted_sample_exact(df, "w", 50, ["id"]).collect()}
    got2 = {
        r["id"]
        for r in weighted_sample_exact(
            df.repartition(13), "w", 50, ["id"]
        ).collect()
    }
    assert got1 == got2 and len(got1) == 50
    assert got1.isdisjoint({1000, 1001, 1002})

    out = weighted_sample_exact(df, "w", 10_000, ["id"])
    assert out.count() == 500

    plan = (
        weighted_sample_exact(df, "w", 50, ["id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_weighted_sample_bias(spark):
    """Heavier rows win more: with half the corpus at weight 100 and half
    at weight 1, a top-100 sample of 2000 rows is overwhelmingly from
    the heavy half (deterministic given the hash — exact count pinned
    by construction, loose bound asserted)."""
    from upgini_spark.functions.sampling import weighted_sample_exact

    rows = [(i, 100.0 if i % 2 == 0 else 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = [r["id"] for r in weighted_sample_exact(df, "w", 100, ["id"]).collect()]
    heavy = sum(1 for i in got if i % 2 == 0)
    assert heavy >= 95, heavy


def test_weighted_sample_per_group(spark):
    """Per-group A-ES: exactly min(n, group size) winners per group,
    partition-invariant, and each group's winners equal the GLOBAL
    variant restricted to that group (same key, same order)."""
    from upgini_spark.functions.sampling import (
        weighted_sample_exact, weighted_sample_per_group)

    rows = [(i, "g%d" % (i % 3), float(1 + (i * 37) % 100))
            for i in range(300)]
    rows += [(900, "tiny", 5.0), (901, "tiny", 1.0)]
    df = spark.createDataFrame(rows, "id long, grp string, w double")

    got = weighted_sample_per_group(df, "grp", "w", 10, ["id"]).collect()
    by = {}
    for r in got:
        by.setdefault(r["grp"], set()).add(r["id"])
    assert {g: len(s) for g, s in by.items()} == {
        "g0": 10, "g1": 10, "g2": 10, "tiny": 2
    }
    got2 = weighted_sample_per_group(
        df.repartition(11), "grp", "w", 10, ["id"]
    ).collect()
    assert {r["id"] for r in got2} == {r["id"] for r in got}
    for g in ("g0", "g1", "g2"):
        sub = df.filter(F.col("grp") == g)
        want = {r["id"] for r in
                weighted_sample_exact(sub, "w", 10, ["id"]).collect()}
        assert by[g] == want, g


def test_sample_by_rates_df_matches_dict(spark):
    """DataFrame-borne rates == dict-borne rates row for row; missing
    groups keep everything; plan is a BroadcastHashJoin."""
    from upgini_spark.functions.sampling import (
        sample_by_rates, sample_by_rates_df)

    df = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(400)], "id long, grp string"
    )
    rates = {"a": 0.3}
    rdf = spark.createDataFrame([("a", 0.3)], "group string, rate double")
    d1 = {r["id"] for r in sample_by_rates(df, "grp", rates, ["id"]).collect()}
    d2 = {r["id"] for r in sample_by_rates_df(df, "grp", rdf, ["id"]).collect()}
    assert d1 == d2
    assert {i for i in d2 if i % 2 == 1} == {i for i in range(400) if i % 2}

    plan = (
        sample_by_rates_df(df, "grp", rdf, ["id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_chunk_tokens_sliding(spark):
    """Window/stride semantics: starts at 0,s,2s,…; last chunk short;
    every token covered; empty docs vanish; stride=window tiles with
    no overlap; bad params raise."""
    from upgini_spark.functions.tokens import chunk_tokens_sliding

    rows = [(0, list(range(10))), (1, list(range(3))), (2, []),
            (3, list(range(4)))]
    df = spark.createDataFrame(rows, "doc_id long, toks array<int>")
    got = {
        (r["doc_id"], r["chunk_idx"]): r["chunk"]
        for r in chunk_tokens_sliding(df, "doc_id", "toks", 4, 2).collect()
    }
    # doc 0: n=10 -> starts 0,2,4,6,8
    assert got[(0, 0)] == [0, 1, 2, 3]
    assert got[(0, 3)] == [6, 7, 8, 9]
    assert got[(0, 4)] == [8, 9]          # short tail
    assert got[(1, 0)] == [0, 1, 2] and (1, 1) in got
    assert got[(1, 1)] == [2]
    assert all(k[0] != 2 for k in got)    # empty doc -> no chunks
    # stride == window: exact tiling, every token exactly once
    tiles = chunk_tokens_sliding(df, "doc_id", "toks", 5, 5).collect()
    flat = [t for r in tiles if r["doc_id"] == 0 for t in r["chunk"]]
    assert sorted(flat) == list(range(10)) and len(flat) == 10

    with pytest.raises(ValueError):
        chunk_tokens_sliding(df, "doc_id", "toks", 4, 0)


def test_ivf_pq_full_probe_equals_adc_scan(spark):
    """IVF+PQ with n_probe = n_cells degenerates to pq_topk_adc's full
    ADC scan EXACTLY (same codebooks, same scores, same ranks); with
    n_probe=1 every returned neighbour lives in the query's single
    nearest coarse cell; and the candidate fetch is a hash join on the
    cell id, not a nested-loop corpus scan."""
    import numpy as np

    from upgini_spark.functions.similarity import (
        _nearest_cell, kmeans_centroids, pq_topk_adc, pq_topk_ivf_adc)

    rng = np.random.RandomState(7)
    vecs = rng.randn(200, 8).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    q = corpus.filter(F.col("vec_id") < 4)

    kw = dict(dim=8, k=5, m=2, k_sub=4)
    full = pq_topk_adc(q, corpus, "vec_id", "vec_id", "v", "v",
                       n_iter=1, **kw)
    ivf_all = pq_topk_ivf_adc(q, corpus, "vec_id", "vec_id", "v", "v",
                              n_cells=3, n_probe=3, coarse_iter=1,
                              pq_iter=1, **kw)
    a = {(r["q_id"], r["rank"]): (r["n_id"], r["adc"]) for r in full.collect()}
    b = {(r["q_id"], r["rank"]): (r["n_id"], r["adc"])
         for r in ivf_all.collect()}
    assert a == b

    # prebuilt materialized index == lazy inline build, row for row
    from upgini_spark.functions.similarity import build_ivf_pq_index

    idx = build_ivf_pq_index(corpus, "vec_id", "v", n_cells=3,
                             coarse_iter=1, pq_iter=1, dim=8, m=2, k_sub=4)
    ivf_idx = pq_topk_ivf_adc(q, corpus, "vec_id", "vec_id", "v", "v",
                              n_cells=3, n_probe=3, coarse_iter=1,
                              pq_iter=1, index=idx, **kw)
    c = {(r["q_id"], r["rank"]): (r["n_id"], r["adc"])
         for r in ivf_idx.collect()}
    assert c == b

    ivf_1 = pq_topk_ivf_adc(q, corpus, "vec_id", "vec_id", "v", "v",
                            n_cells=3, n_probe=1, coarse_iter=1,
                            pq_iter=1, **kw)
    got = ivf_1.collect()
    assert got, "n_probe=1 returned nothing"
    cent = kmeans_centroids(corpus, "vec_id", "v", n_cells=3, n_iter=1)
    cells = {
        r["n_id"]: r["cell"]
        for r in _nearest_cell(
            corpus.select(F.col("vec_id").alias("n_id"),
                          F.col("v").alias("n_vec")),
            cent, "n_vec",
        ).collect()
    }
    # the query's own nearest cell IS its cell assignment (queries come
    # from the corpus here)
    for r in got:
        assert cells[r["n_id"]] == cells[r["q_id"]], r

    plan = ivf_1._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_water_filling_closed_form_2000_random_cases():
    """Pure-python twin of temperature_mix_rates' closed form vs the
    iterative reference over 2000 random (sizes, alpha, budget) cases —
    the prefix/sandwich argument the docstring cites, kept honest in the
    suite (no Spark; runs in milliseconds)."""
    import random

    def closed_form(ns, alpha, budget):
        s = {g: n ** alpha for g, n in ns.items()}
        rows = sorted(ns, key=lambda g: (ns[g] / s[g], g))
        ts = sum(s.values())
        cn = cs = 0.0
        lam = float("inf")
        for g in rows:
            cand = (budget - cn) / (ts - cs)
            if cand * s[g] <= ns[g]:
                lam = cand
                break
            cn += ns[g]
            cs += s[g]
        return {g: min(ns[g], lam * s[g]) for g in ns}

    rng = random.Random(42)
    for _ in range(2000):
        k = rng.randint(1, 12)
        ns = {f"g{i}": rng.randint(1, 10 ** rng.randint(1, 6))
              for i in range(k)}
        alpha = rng.choice([0.2, 0.3, 0.5, 0.7, 0.9, 1.0])
        budget = rng.randint(1, int(sum(ns.values()) * 1.5) + 1)
        want = _water_fill_iterative(ns, alpha, budget)[0] \
            if budget < sum(ns.values()) else {g: float(n) for g, n in ns.items()}
        got = closed_form(ns, alpha, budget)
        for g in ns:
            assert abs(want[g] - got[g]) / max(1.0, want[g]) < 1e-9


def test_temperature_mix_weighted(spark):
    """weight_col switches sizes to per-group weight sums: a group with
    FEW huge docs outweighs one with many small docs, and Σm == budget
    in weight units (closed form vs the iterative reference on sums)."""
    from upgini_spark.functions.sampling import temperature_mix_rates

    rows = [("a", 100.0)] * 10 + [("b", 1.0)] * 200
    df = spark.createDataFrame(rows, "grp string, w double")
    got = {
        r["group"]: r.asDict()
        for r in temperature_mix_rates(
            df, "grp", alpha=0.5, budget=600, weight_col="w"
        ).collect()
    }
    # sizes are weight sums: a=1000, b=200
    assert got["a"]["n"] == 1000 and got["b"]["n"] == 200
    want, _ = _water_fill_iterative({"a": 1000, "b": 200}, 0.5, 600)
    for g in ("a", "b"):
        assert got[g]["m"] == pytest.approx(want[g], abs=1e-5)
    assert got["a"]["m"] + got["b"]["m"] == pytest.approx(600, abs=1e-4)


def test_dedup_against_index(spark):
    """Incremental dedup semantics: indexed content drops, in-batch
    duplicates keep exactly one deterministic winner on any
    partitioning, and the returned index delta is exactly the fresh
    hashes (appending it makes a re-run of the same batch return 0)."""
    from upgini_spark.functions.dedup import dedup_against_index

    idx_rows = [("seen one",), ("seen two",)]
    index = spark.createDataFrame(
        [(r[0],) for r in idx_rows], "text string"
    ).select(F.md5(F.concat_ws("\x1f", F.col("text"))).alias("content_hash"))

    batch = spark.createDataFrame(
        [(1, "seen one"), (2, "new a"), (3, "new a"), (4, "new b"),
         (5, "seen two"), (6, "new a")],
        "doc_id long, text string",
    )
    fresh, delta = dedup_against_index(batch, index, ["text"])
    got = sorted(r["doc_id"] for r in fresh.collect())
    assert got == [2, 4]  # min doc_id wins the in-batch 'new a' group
    assert delta.count() == 2

    fresh2, _ = dedup_against_index(
        batch.repartition(7), index, ["text"]
    )
    assert sorted(r["doc_id"] for r in fresh2.collect()) == got

    # append the delta -> the same batch is fully deduped next increment
    fresh3, _ = dedup_against_index(
        batch, index.unionByName(delta), ["text"]
    )
    assert fresh3.count() == 0


def test_mask_tokens_semantics(spark):
    """Complementarity (masked==-1 XOR labels==-1 per position),
    partition invariance, rate in a sane band, salt independence, and
    empty docs survive."""
    from upgini_spark.functions.tokens import mask_tokens

    rows = [(i, list(range(1, 41))) for i in range(50)] + [(99, [])]
    df = spark.createDataFrame(rows, "doc_id long, toks array<int>")
    out = {r["doc_id"]: r for r in
           mask_tokens(df, "doc_id", "toks", rate=0.15).collect()}
    total = masked = 0
    for d, r in out.items():
        if d == 99:
            assert r["masked"] == [] and r["n_masked"] == 0
            continue
        for m, l, orig in zip(r["masked"], r["labels"], range(1, 41)):
            assert (m == -1) != (l == -1)
            assert (m == orig) or (l == orig)
        total += 40
        masked += r["n_masked"]
    assert 0.08 < masked / total < 0.25, masked / total

    out2 = {r["doc_id"]: r["masked"] for r in
            mask_tokens(df.repartition(7), "doc_id", "toks",
                        rate=0.15).collect()}
    assert all(out2[d] == out[d]["masked"] for d in out2)

    alt = {r["doc_id"]: r["masked"] for r in
           mask_tokens(df, "doc_id", "toks", rate=0.15,
                       salt="epoch2").collect()}
    assert any(alt[d] != out[d]["masked"] for d in alt if d != 99)

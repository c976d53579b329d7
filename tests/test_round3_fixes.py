"""Round-3 regressions: ADVICE fixes (null segments, identifier-safe melt,
NaN PSI binning, persist leaks) and the remaining plan/scale gaps from
VERDICT round 2."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


# -- ADVICE: null eval_set_index must not vanish / crash ---------------------

def test_record_ids_null_segment(spark):
    from upgini_spark.pipeline.record_ids import add_system_record_id

    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else i % 2, f"u{i % 5}", float(i)) for i in range(30)],
        "rid int, eval_set_index int, user string, val double",
    )
    out = add_system_record_id(df, None, ["user"])
    assert out.count() == 30
    nulls = out.filter(F.col("eval_set_index").isNull())
    assert nulls.count() == 10
    # null segment sorts first; one continuous 0-based sequence across
    # segment blocks (reference reset_index-after-concat layout)
    ids = sorted(r[0] for r in nulls.select("system_record_id").collect())
    assert ids == list(range(0, 10))
    all_ids = sorted(r[0] for r in out.select("system_record_id").collect())
    assert all_ids == list(range(0, 30))


def test_fintech_dedup_null_segment(spark):
    from upgini_spark.functions.dedup import remove_fintech_duplicates

    fd = spark.createDataFrame(
        [
            (f"p{i % 4}", "2024-01-0%d" % (i % 5 + 1), i % 2,
             None if i % 4 == 0 else 1)
            for i in range(40)
        ],
        "phone string, d string, target int, eval_set_index int",
    ).withColumn("d", F.to_timestamp("d"))
    out = remove_fintech_duplicates(fd, ["phone"], "target", "d")
    assert out.count() == 40  # gates keep everything; nothing dropped/crashed


# -- ADVICE: identifier-safe stack melt + exotic column names ----------------

def test_validator_stats_quoted_column_names(spark):
    from upgini_spark.functions.stats import feature_validator_stats

    df = spark.range(100).select(
        (F.col("id") % 7).alias("it's"),
        (F.col("id") % 2).alias("back`tick"),
        F.lit(1).alias("const"),
    )
    out = {r["column_name"]: r.asDict() for r in
           feature_validator_stats(df, ["it's", "back`tick", "const"]).collect()}
    assert out["it's"]["n_distinct"] == 7
    assert out["back`tick"]["n_distinct"] == 2
    assert out["const"]["drop_constant"] is True


# -- ADVICE: NaN routes to the null bin in monthly PSI -----------------------

def test_psi_monthly_nan_in_null_bin(spark):
    from upgini_spark.functions.stats import psi_monthly_report

    # 60 distinct values so the numerical-quantile path triggers; NaN rows
    # in the SECOND month only — with NaN in the top bin the distribution
    # shift would be large, with NaN counted as null both months match.
    rows = []
    for m in (1, 2):
        for i in range(60):
            rows.append((f"2024-0{m}-15", float(i)))
        for _ in range(20):
            rows.append((f"2024-0{m}-15", float("nan") if m == 2 else None))
    df = spark.createDataFrame(rows, "d string, x double").withColumn(
        "d", F.to_timestamp("d")
    )
    psi = dict(psi_monthly_report(df, ["x"], [], "d", min_intervals=2))
    assert psi["x"] == pytest.approx(0.0, abs=1e-9)


# -- ADVICE: no session-lifetime cache leak from record-id helpers -----------

def test_zip_with_index_no_cachemanager_entry(spark):
    from upgini_spark.pipeline.record_ids import add_system_record_id

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 3).alias("k"), F.col("id").cast("string").alias("s")
    )
    out = add_system_record_id(df, None, ["k"])
    assert out.count() == 500
    # DataFrame.persist would register in the shared CacheManager and leak;
    # util.materialize (an eager checkpoint) must leave it empty.
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "record-id helper leaked a CacheManager entry"


# -- VERDICT #3: TS-sampling fallback cumsum is distributed ------------------

def test_ts_sampling_fallback_distributed(spark):
    from upgini_spark.functions.sampling import sample_time_series

    # one id owns almost all rows -> whole-id quota keeps <20% of ids,
    # forcing the dense-id + trailing-dates fallback path
    rows = [("hog", f"2024-01-{d % 28 + 1:02d} {h:02d}:00:00")
            for d in range(28) for h in range(24)]
    rows += [(f"u{i}", "2024-01-15 12:00:00") for i in range(10)]
    df = spark.createDataFrame(rows, "uid string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = sample_time_series(df, ["uid"], "ts", sample_size=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    n = out.count()
    assert 0 < n <= 100
    # most-recent dates kept: max kept date == max available date
    assert (
        out.agg(F.max("ts")).collect()[0][0]
        == df.join(out.select("uid").distinct(), "uid").agg(F.max("ts")).collect()[0][0]
    )


# -- VERDICT #4: ANN auto-sizing rules + bounded buckets ---------------------

def test_auto_sizing_rules():
    from upgini_spark.functions.similarity import auto_n_planes, auto_n_cells

    for n in (10, 10_000, 10**6, 10**9, 10**12):
        planes = auto_n_planes(n, target_bucket_rows=64)
        assert n / 2 ** planes <= 64  # expected bucket bounded at any N
    assert auto_n_planes(20_000) == 9
    assert auto_n_planes(10**9) == 24
    assert auto_n_cells(10_000) == 100  # ceil(sqrt(N))
    assert auto_n_cells(10**9) == 31_623
    assert auto_n_cells(10**12) == 65_536  # broadcastable cap


def _planted(spark, n, dims=16):
    i = F.col("id")
    v = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda d: F.conv(
            F.substring(F.md5(F.concat(i.cast("string"), F.lit("_"),
                                       d.cast("string"))), 1, 4), 16, 10,
        ).cast("double") / 65535.0 * 2 - 1,
    )
    return spark.range(n).select(i.alias("vec_id"), v.alias("v"))


def test_lsh_auto_bucket_size_bounded(spark):
    from upgini_spark.functions.similarity import (
        auto_n_planes, hyperplane_sign_bits,
    )

    target = 16
    for n in (500, 4000):  # 8x growth, same bound
        planes = auto_n_planes(n, target_bucket_rows=target)
        df = _planted(spark, n).withColumn(
            "b", hyperplane_sign_bits("v", planes, dims=16)
        )
        n_buckets = df.select("b").distinct().count()
        assert n / n_buckets <= 2 * target  # avg occupancy stays bounded


def test_kmeans_centroids_partition_invariant(spark):
    from upgini_spark.functions.similarity import kmeans_centroids

    corp = _planted(spark, 2000)
    a = kmeans_centroids(corp.repartition(16), "vec_id", "v", n_cells=16,
                         n_iter=2).toPandas()
    b = kmeans_centroids(corp.repartition(3), "vec_id", "v", n_cells=16,
                         n_iter=2).toPandas()
    a = a.sort_values("cell").reset_index(drop=True)
    b = b.sort_values("cell").reset_index(drop=True)
    assert list(a["cell"]) == list(b["cell"])
    for va, vb in zip(a["cvec"], b["cvec"]):
        assert list(va) == list(vb)  # 9dp rounding kills sum-order noise


def test_ivf_kmeans_recall_vs_bruteforce(spark):
    from upgini_spark.functions.similarity import (
        cosine_topk_bruteforce, cosine_topk_ivf_kmeans,
    )

    corp = _planted(spark, 2000)
    q = corp.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(q, corp, "vec_id", "vec_id", "v", "v", k=3)
    approx = cosine_topk_ivf_kmeans(
        q, corp, "vec_id", "vec_id", "v", "v", k=3, n_probe=8, n_iter=1
    )
    ex = {(r["q_id"], r["n_id"]) for r in exact.collect()}
    ap = {(r["q_id"], r["n_id"]) for r in approx.collect()}
    assert len(ap & ex) / len(ex) >= 0.4  # random vectors: hard ANN regime


# -- VERDICT #5: `cluster` lowered locally (params round-trip + semantics) ---

def test_cluster_formula_round_trip(spark):
    import json
    from upgini_spark.plans.feature_dag import (
        parse_formula, get_op_params, set_op_params, lower_to_column,
        is_server_side,
    )

    assert not is_server_side("cluster")
    assert is_server_side("emb") and is_server_side("onnx_score")

    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    node = parse_formula("cluster(v)")
    set_op_params(node, {"centroids": json.dumps(cents)})
    # round-trip through the serialized form, like a stored formula replay
    replayed = set_op_params(parse_formula("cluster(v)"), get_op_params(node))
    df = spark.createDataFrame(
        [(0, [0.9, 0.1, 0.0]), (1, [0.0, 0.8, 0.2]), (2, [0.1, 0.0, 0.7]),
         (3, [1.0, 1.0, 1.0])],  # equidistant -> smallest id wins
        "i int, v array<double>",
    )
    out = {r["i"]: r["c"] for r in
           df.select("i", lower_to_column(replayed).alias("c")).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 0}


# -- Duplicate-cluster resolution: connected components + keep-canonical ----

def test_connected_components_chain_and_islands(spark):
    from upgini_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 7), (7, 4), (4, 9),          # chain -> component 2
         (20, 30), (30, 20),              # duplicate/reversed edges
         (100, 101)],
        "id_a int, id_b int",
    )
    cc = {r["node"]: r["component"] for r in
          connected_components(pairs).collect()}
    assert cc == {2: 2, 7: 2, 4: 2, 9: 2, 20: 20, 30: 20, 100: 100, 101: 100}


def test_connected_components_partition_invariant(spark):
    from upgini_spark.functions.dedup import connected_components

    import random
    rnd = random.Random(7)
    # 40 clusters of ~5 nodes, randomly chained
    edges = []
    for c in range(40):
        ids = [c * 100 + i for i in range(5)]
        rnd.shuffle(ids)
        edges += list(zip(ids, ids[1:]))
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {r["node"]: r["component"] for r in
         connected_components(pairs.repartition(16)).collect()}
    b = {r["node"]: r["component"] for r in
         connected_components(pairs.repartition(2)).collect()}
    assert a == b
    assert all(v == (k // 100) * 100 for k, v in a.items())


def test_near_dup_keep_canonical(spark):
    from upgini_spark.functions.dedup import near_dup_keep_canonical

    df = spark.range(10).select(F.col("id").cast("int").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (7, 8)], "id_a int, id_b int"
    )
    kept = sorted(r["doc_id"] for r in near_dup_keep_canonical(
        df, "doc_id", pairs).collect())
    # clusters {1,3,5} -> keep 1; {7,8} -> keep 7; singletons kept
    assert kept == [0, 1, 2, 4, 6, 7, 9]


# -- Token ops: concat-and-chunk packing + truncate/pad ----------------------

def test_pack_sequences_matches_python_reference(spark):
    from upgini_spark.functions.tokens import pack_sequences

    docs = [(i, [i * 10 + j for j in range(i % 7 + 1)]) for i in range(50)]
    df = spark.createDataFrame(docs, "doc_id int, toks array<int>")
    out = pack_sequences(df, "doc_id", "toks", max_len=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    got = {r["chunk_id"]: (r["n_tokens"], r["n_docs"], list(r["tokens"]))
           for r in out.collect()}

    stream, owners = [], []
    for i, toks in docs:
        stream += toks
        owners += [i] * len(toks)
    want = {}
    for c in range(0, len(stream), 16):
        want[c // 16] = (
            len(stream[c:c + 16]),
            len(set(owners[c:c + 16])),
            stream[c:c + 16],
        )
    assert got == want

    # partition invariance (the offsets must not depend on layout)
    got2 = {r["chunk_id"]: list(r["tokens"])
            for r in pack_sequences(df.repartition(7), "doc_id", "toks",
                                    max_len=16).collect()}
    assert got2 == {k: v[2] for k, v in want.items()}


def test_truncate_pad_tokens(spark):
    from upgini_spark.functions.tokens import truncate_pad_tokens

    df = spark.createDataFrame(
        [(1, [5, 6, 7, 8, 9]), (2, [1]), (3, [])],
        "i int, toks array<int>",
    )
    out = {r["i"]: list(r["t"]) for r in df.select(
        "i", truncate_pad_tokens("toks", 3, pad_id=-1).alias("t")).collect()}
    assert out == {1: [5, 6, 7], 2: [1, -1, -1], 3: [-1, -1, -1]}


# -- Deterministic data mixing (per-source rates) -----------------------------

def test_sample_by_rates_invariant_and_monotone(spark):
    from upgini_spark.functions.sampling import sample_by_rates

    df = spark.range(4000).select(
        F.col("id"),
        F.element_at(
            F.array(F.lit("web"), F.lit("wiki"), F.lit("books")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("src"),
    )
    kept = sample_by_rates(df, "src", {"web": 0.5, "wiki": 1.0}, ["id"],
                           default_rate=0.25)
    rows = kept.groupBy("src").count().collect()
    by = {r["src"]: r["count"] for r in rows}
    assert by["wiki"] == 1333            # rate 1.0 keeps everything
    assert 500 < by["web"] < 840         # ~50% of 1334
    assert 230 < by["books"] < 440       # ~25% of 1333
    # partition invariance: same exact rows
    a = sorted(r["id"] for r in kept.collect())
    b = sorted(r["id"] for r in sample_by_rates(
        df.repartition(13), "src", {"web": 0.5, "wiki": 1.0}, ["id"],
        default_rate=0.25).collect())
    assert a == b
    # monotone composition: lowering a rate only removes rows
    lower = {r["id"] for r in sample_by_rates(
        df, "src", {"web": 0.2, "wiki": 1.0}, ["id"],
        default_rate=0.25).collect()}
    assert lower <= set(a)


# -- Quality filter: first failing rule wins, fixed priority ------------------

def test_quality_filter_reasons(spark):
    from upgini_spark.functions.text import quality_filter

    rows = [
        (0, "too short"),                                        # 2 tokens
        (1, "a " * 10 + "verylongwordssssss " * 40),             # mwl ok? 'a'=1 char x10 + 18 x40 -> mwl ~14.6 -> word_length
        (2, ".,;:!! " * 30),                                     # punctuation
        (3, "zzz qqq www rrr ttt yyy uuu iii"),                  # no stopwords -> language
        (4, "the cat sat on the mat with a hat and a rat today"),  # keep
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: (r["reject_reason"], r["keep"]) for r in
           quality_filter(df, "text").collect()}
    assert out[0] == ("too_short", False)
    assert out[1] == ("word_length", False)
    assert out[2][0] in ("word_length", "punctuation") and not out[2][1]
    assert out[3] == ("language", False)
    assert out[4] == ("ok", True)


def test_pack_sequences_per_group(spark):
    from upgini_spark.functions.tokens import pack_sequences

    docs = [(i, "g%d" % (i % 2), list(range(i, i + 5))) for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id int, g string, toks array<int>")
    out = pack_sequences(df, "doc_id", "toks", 8, group_cols=["g"])
    rows = out.collect()
    # groups never mix and chunk ids restart per group
    assert {r["g"] for r in rows} == {"g0", "g1"}
    for g in ("g0", "g1"):
        ids = sorted(r["chunk_id"] for r in rows if r["g"] == g)
        assert ids == list(range(len(ids)))
    # per-group token stream equals the python reference
    for g in ("g0", "g1"):
        stream = [t for i, gg, toks in docs if gg == g for t in toks]
        got = []
        for r in sorted((r for r in rows if r["g"] == g),
                        key=lambda r: r["chunk_id"]):
            got += list(r["tokens"])
        assert got == stream


def test_connected_components_long_chain_pointer_jumping(spark):
    from upgini_spark.functions.dedup import connected_components

    # a 600-node chain: pure neighbor propagation needs ~600 rounds;
    # pointer jumping must finish within the default 20 (O(log n))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(599)], "id_a int, id_b int"
    )
    cc = connected_components(pairs)
    comps = {r["component"] for r in cc.collect()}
    assert comps == {0}
    assert cc.count() == 600


# -- PII redaction + repetition signal ---------------------------------------

def test_redact_pii_and_dup_share(spark):
    from upgini_spark.functions.text import redact_pii, dup_ngram_share

    df = spark.createDataFrame(
        [(0, "mail me at jo.doe+x@corp.example.org now"),
         (1, "server 192.168.001.12 rebooted"),
         (2, "call +44 (20) 7946-0958 today"),
         (3, "clean text with no identifiers at all"),
         (4, "spam spam spam spam spam spam")],
        "i int, t string",
    )
    out = {r["i"]: (r["red"], r["d"]) for r in df.select(
        "i", redact_pii(F.col("t")).alias("red"),
        F.round(dup_ngram_share(F.col("t")), 4).alias("d")).collect()}
    assert out[0][0] == "mail me at <EMAIL> now"
    assert out[1][0] == "server <IP> rebooted"
    assert out[2][0] == "call <PHONE> today"
    assert out[3][0] == "clean text with no identifiers at all"
    assert out[3][1] == 0.0
    assert out[4][1] == 0.75  # 4 trigrams, 1 distinct


def test_quality_filter_null_text_explicit(spark):
    from upgini_spark.functions.text import quality_filter

    df = spark.createDataFrame(
        [(0, None), (1, "the cat sat on the mat with a hat and a rat")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: (r["reject_reason"], r["keep"]) for r in
           quality_filter(df, "text").collect()}
    assert out[0] == ("empty", False)  # explicit rule, not CASE null-fallthrough
    assert out[1] == ("ok", True)


def test_zip_with_index_reliable_checkpoint(spark, tmp_path):
    from upgini_spark.pipeline.record_ids import add_system_record_id

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        df = spark.range(200).select(
            F.col("id"), (F.col("id") % 3).alias("k")
        )
        out = add_system_record_id(df, None, ["k"])
        ids = sorted(r["system_record_id"] for r in out.collect())
        assert ids == list(range(0, 200))
        import os
        assert any(os.scandir(str(tmp_path / "ckpt")))  # reliable path used
    finally:
        spark.sparkContext.setCheckpointDir(None)


def test_decontaminate_ngrams(spark):
    from upgini_spark.functions.dedup import decontaminate_ngrams

    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two")], "i int, t string"
    )
    corpus = spark.createDataFrame(
        [(0, "totally unrelated text about weather patterns today"),
         (1, "i memorized the secret eval answer yesterday"),   # shares trigram
         (2, "short doc")],                                      # sub-shingle fallback
        "i int, t string",
    )
    out = {r["i"]: r["contaminated"] for r in
           decontaminate_ngrams(corpus, bench, "i", "t", "t").collect()}
    assert out == {0: False, 1: True, 2: False}


# -- Reference etalon-validation replays -------------------------------------

def test_hash_column_name_250_char_cap():
    import hashlib
    from upgini_spark.pipeline.normalizer import hash_column_name

    name = "columnname" * 260
    out = hash_column_name(name)
    digest = hashlib.sha256(name.encode()).hexdigest()[:6]
    assert out == "columnname" * 25 + "_" + digest  # test_too_long_columns
    assert len(out) == 257


def test_is_imbalanced_reference_cases(spark):
    import pytest as _pytest
    from upgini_spark.functions.stats import is_imbalanced

    # test_fail_on_small_class_observations: a1 b4 c5 d10 -> min 1 < 0.6/4*20
    df = spark.createDataFrame(
        [(i, f"p{i}", "123", "a" if i == 0 else ("b" if i < 5 else ("c" if i < 10 else "d")))
         for i in range(20)],
        "system_record_id int, phone string, f string, target string",
    )
    assert is_imbalanced(df, "target", "MULTICLASS") is True

    # test_fail_on_too_many_classes: 200 distinct targets -> raises
    many = spark.createDataFrame(
        [(i, f"p{i}", "x", i) for i in range(200)],
        "system_record_id int, phone string, f string, target int",
    )
    with _pytest.raises(ValueError, match="exceeds the allowed threshold"):
        is_imbalanced(many, "target", "MULTICLASS")

    # binary small-sample exemption: <=5000 rows never imbalanced
    small = spark.createDataFrame(
        [(i, i % 100, 1 if i < 10 else 0) for i in range(1000)],
        "id int, f int, target int",
    )
    assert is_imbalanced(small, "target", "BINARY") is False


def test_undersample_reference_resample_replay(spark):
    """test_etalon_validation.py test_imbalanced_target: a100 b400 c500
    d1000 with multiclass_min_sample_threshold=1000 -> 1600 rows, d capped
    at 600, everything else kept whole."""
    from upgini_spark.functions.sampling import undersample_imbalanced

    rows = []
    for i in range(2000):
        t = "a" if i < 100 else ("b" if i < 500 else ("c" if i < 1000 else "d"))
        rows.append((i, t))
    df = spark.createDataFrame(rows, "system_record_id int, target string")
    out = undersample_imbalanced(
        df, "target", ["system_record_id"], task_type="MULTICLASS",
        multiclass_min_sample_threshold=1000,
    )
    counts = {r["target"]: r["count"] for r in out.groupBy("target").count().collect()}
    assert counts == {"a": 100, "b": 400, "c": 500, "d": 600}


def test_datetime_with_ms_reference_golden(spark):
    """tests/test_etalon_validation.py test_datetime_with_ms replayed:
    microsecond ISO timestamps -> floor-day epoch ms + the full cyclical
    encoding table, 6dp-exact."""
    from upgini_spark.functions.keys import to_epoch_ms
    from upgini_spark.operators.date import cyclical_features

    rows = [
        ("2023-10-07T07:07:51.006677",),
        ("2023-09-26T10:36:12.885666",),
        ("2023-09-25T19:49:32.098655",),
        ("2023-09-19T18:47:58.268237",),
    ]
    df = spark.createDataFrame(rows, "s string").withColumn(
        "ts", F.to_timestamp("s")
    )
    feats = cyclical_features(F.col("ts"), intraday=True)
    out = df.select(
        to_epoch_ms(F.to_date("ts").cast("timestamp")).alias("date"),
        *[F.round(v, 6).alias(k) for k, v in feats.items()],
    ).collect()
    expected = [
        # date_ms, q_sin, q_cos, sec_sin, sec_cos, min_sin, min_cos,
        # min30_sin, min30_cos, hour_sin, hour_cos
        (1696636800000, 0.460065, 0.887885, -0.809017, 0.587785,
         0.669131, 0.743145, 0.994522, 0.104528, 0.965926, -0.258819),
        (1695686400000, -0.269797, 0.962917, 0.951057, 0.309017,
         -0.587785, -0.809017, 0.951057, 0.309017, 0.5, -0.866025),
        (1695600000000, -0.33488, 0.942261, -0.207912, -0.978148,
         -0.913545, 0.406737, -0.743145, -0.669131, -0.965926, 0.258819),
        (1695081600000, -0.682553, 0.730836, -0.207912, 0.978148,
         -0.978148, 0.207912, -0.406737, -0.913545, -1.0, -0.0),
    ]
    for r, (date_ms, qs, qc, ss, sc, ms, mc, hs, hc, hrs, hrc) in zip(out, expected):
        assert r["date"] == date_ms
        assert r["datetime_day_in_quarter_sin"] == qs
        assert r["datetime_day_in_quarter_cos"] == qc
        assert r["datetime_second_sin_60"] == ss
        assert r["datetime_second_cos_60"] == sc
        assert r["datetime_minute_sin_60"] == ms
        assert r["datetime_minute_cos_60"] == mc
        assert r["datetime_minute_sin_30"] == hs
        assert r["datetime_minute_cos_30"] == hc
        assert r["datetime_hour_sin_24"] == hrs
        assert r["datetime_hour_cos_24"] == hrc


def test_define_task_reference_cases(spark):
    """tests/test_target_utils.py define_task cases replayed verbatim."""
    import pytest as _pytest
    from upgini_spark.functions.stats import define_task

    def s(vals, typ):
        return spark.createDataFrame([(v,) for v in vals], f"y {typ}")

    with _pytest.raises(ValueError, match="empty target"):
        define_task(s(["", "", ""], "string"), "y")
    with _pytest.raises(ValueError, match="empty target"):
        define_task(s([float("nan"), float("inf"), float("-inf")], "double"), "y")
    with _pytest.raises(ValueError, match="constant target"):
        define_task(s([1, 1, 1, 1, 1], "int"), "y")

    assert define_task(s([0, 1, 0, 1, 0, 1], "int"), "y") == "BINARY"
    assert define_task(s(["a", "b", "a", "b", "a"], "string"), "y", True) == "BINARY"

    assert define_task(s(list(range(1, 51)), "int"), "y") == "MULTICLASS"
    assert define_task(s([float(x) for x in range(1, 51)], "double"), "y", True) == "MULTICLASS"
    assert define_task(s(list(range(50)), "int"), "y") == "MULTICLASS"
    assert define_task(s(["a", "b", "c", "b", "a"], "string"), "y") == "MULTICLASS"
    assert define_task(s(["0", "1", "2", "3", "a"], "string"), "y") == "MULTICLASS"
    zero35 = [0.0, 3.0, 5.0, 0.0, 5.0, 0.0, 3.0, 0.0, 5.0, 0.0, 5.0, 0.0,
              3.0, 0.0, 3.0, 5.0, 3.0]
    assert define_task(s(zero35, "double"), "y", False) == "MULTICLASS"
    assert define_task(s(zero35, "double"), "y", True) == "REGRESSION"

    assert define_task(s([0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.5], "double"), "y") == "REGRESSION"
    assert define_task(s([0, 1, 2, 3, 4, 5, 6, 8], "int"), "y", True) == "REGRESSION"
    assert define_task(s([0.0, 3.0, 5.0, 0.0, 5.0, 0.0, 3.0], "double"), "y") == "REGRESSION"


# -- Whole-dataset validation replays on the reference's own fixture data ----

def test_reference_dataset_validation_replay(spark):
    """test_binary_dataset / test_categorical_dataset: the reference's own
    data.csv.gz fixtures run through OUR converters + validity filter and
    keep exactly the reference's expected_valid_rows (everything valid:
    multi-format dates parse, none pre-2000, keys + target present)."""
    import os
    import pytest as _pytest

    from upgini_spark.functions import keys as K
    from upgini_spark.pipeline.evalset import filter_invalid_keys

    base = "/root/reference/tests/test_data"
    if not os.path.isdir(base):
        _pytest.skip("reference fixtures not available")

    for name, expected in (
        ("binary", 15555), ("categorical", 16913),
        # test_continuous_dataset: all 20401 rows valid (r4)
        ("continuous", 20401),
    ):
        df = spark.read.csv(
            f"{base}/{name}/data.csv.gz", header=True, inferSchema=True
        )
        if "score" in df.columns:
            df = df.withColumnRenamed("score", "target")
        d = df.withColumn("ts", K.parse_datetime_multi(F.col("rep_date")))
        d = d.withColumn("ts", K.clean_old_dates(F.col("ts")))
        flags = {
            "phone_num": F.col("phone_num").isNotNull(),
            "ts": F.col("ts").isNotNull(),
        }
        filtered, _stats = filter_invalid_keys(d, flags)
        filtered = filtered.filter(F.col("target").isNotNull())
        assert filtered.count() == expected, name


def test_prepared_upload_layout_vs_reference_golden(spark):
    """test_idempotent_order_with_balanced_dataset's expected parquet
    replayed structurally: the reference's own data.csv sliced the same
    way through OUR combine -> convert -> hashed-rename -> record-id
    pipeline reproduces the reference's id-block layout (one continuous
    0-based sequence laid train-first across segment-sorted blocks) and
    the exact per-segment (phone, date_ms, target) multisets. Within-block
    ORDER deviates by design (md5 row-hash vs pandas hash_pandas_object —
    partition-invariance is the property that survives distribution)."""
    import os
    import pandas as pd
    import pytest as _pytest

    from upgini_spark.functions.keys import parse_datetime_multi, to_epoch_ms
    from upgini_spark.pipeline.evalset import combine_train_eval
    from upgini_spark.pipeline.normalizer import rename_columns_hashed
    from upgini_spark.pipeline.record_ids import add_system_record_id

    base = "/root/reference/tests/test_data/binary"
    if not os.path.isdir(base):
        _pytest.skip("reference fixtures not available")

    pdf = pd.read_csv(f"{base}/data.csv")
    pdf = pdf.drop(columns=["SystemRecordId_473310000", "client_feature"])
    pdf = pdf[pdf["phone_num"] >= 10_000_000]
    train, ev1, ev2 = pdf.head(10000), pdf[10000:11000], pdf[11000:12000]

    def sdf(p):
        return spark.createDataFrame(p)

    combined = combine_train_eval(sdf(train), [sdf(ev1), sdf(ev2)], "target")
    converted = combined.select(
        F.col("phone_num"),
        to_epoch_ms(
            parse_datetime_multi(F.col("rep_date")), floor_day=True
        ).alias("rep_date"),
        "target", "eval_set_index",
    )
    renamed, _m = rename_columns_hashed(
        converted, exclude={"target", "eval_set_index"}
    )
    out = add_system_record_id(
        renamed, "rep_date_f5d6bb", ["phone_num_a54a33", "rep_date_f5d6bb"]
    ).toPandas()

    exp = pd.read_parquet(
        f"{base}/expected_prepared_with_entity_system_record_id.parquet"
    )
    assert list(out.columns) == [
        "phone_num_a54a33", "rep_date_f5d6bb", "target", "eval_set_index",
        "system_record_id",
    ]
    for seg, lo, hi in ((0, 0, 10000), (1, 10000, 11000), (2, 11000, 12000)):
        got = out[out["eval_set_index"] == seg]
        want = exp[exp["eval_set_index"] == seg]
        # id-block layout parity
        assert set(got["system_record_id"]) == set(range(lo, hi))
        assert set(want["system_record_id"]) == set(range(lo, hi))
        # per-segment converted-value multisets match the reference bytes
        key = ["phone_num_a54a33", "rep_date_f5d6bb", "target"]
        g = got[key].sort_values(key).reset_index(drop=True)
        w = want[key].astype({"phone_num_a54a33": "int64"}).sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(g.astype("int64"), w.astype("int64"))


def test_phone_normalizer_reference_replay(spark):
    """normalizer/test_phone_normalizer.py float/int/str cases verbatim."""
    from upgini_spark.functions import keys as K

    def run(vals, typ):
        df = spark.createDataFrame([(v,) for v in vals], f"p {typ}")
        return [r[0] for r in df.select(K.phone_to_int(F.col("p")).alias("o"))
                .collect()]

    assert run([7.2, 0.1, 3.9, 123456789012345.1, None], "double") == \
        [None, None, None, 123456789012345, None]
    assert run([0, -2, 100, 123456789012345, 1234567890123456, None], "long") == \
        [None, None, None, 123456789012345, None, None]
    assert run(["+4(234)5678", "01 02 03 04 05", "223-45-678",
                "+86 10 6764 5489", "123456789012345", "123", "abc"],
               "string") == \
        [42345678, 102030405, 22345678, 861067645489, 123456789012345,
         None, None]


def test_blocked_ts_split_reference_etalon(spark):
    """test_blocked_time_series.py test_bts_split_logic replayed: fold/role
    columns over the reference's data2.csv.gz reproduce the exact per-fold
    index stats from blocked_ts_logic.csv (n_splits=5, test_size=0.25)."""
    import os
    import pandas as pd
    import pytest as _pytest

    from upgini_spark.pipeline.cv import blocked_time_series_column

    base = "/root/reference/tests/test_data/binary"
    if not os.path.isdir(base):
        _pytest.skip("reference fixtures not available")

    pdf = pd.read_csv(f"{base}/data2.csv.gz").reset_index()
    df = spark.createDataFrame(pdf[["index"]])
    out = blocked_time_series_column(
        df, "index", [], n_splits=5, test_size=0.25
    ).toPandas()

    etalon = pd.read_csv(f"{base}/blocked_ts_logic.csv")
    got = []
    for fold in sorted(out["fold_id"].dropna().unique()):
        tr = out[(out["fold_id"] == fold) & (out["cv_role"] == "train")]["index"]
        te = out[(out["fold_id"] == fold) & (out["cv_role"] == "test")]["index"]
        got.append([len(tr), tr.min(), tr.max(), len(te), te.min(), te.max()])
    got = pd.DataFrame(
        got, columns=["train_len", "train_min", "train_max",
                      "test_len", "test_min", "test_max"],
    )
    pd.testing.assert_frame_equal(got.astype("int64"), etalon.astype("int64"))


def test_time_series_split_sklearn_boundaries(spark):
    """sklearn TimeSeriesSplit(n_splits=3) on 10 rows: train-only head of
    n - k*(n//(k+1)) = 4 rows, then test blocks [4,6) [6,8) [8,10)."""
    from upgini_spark.pipeline.cv import time_series_split_column

    df = spark.range(10).select(F.col("id").alias("t"))
    out = {r["t"]: r["fold_id"] for r in
           time_series_split_column(df, "t", [], 3).collect()}
    assert out == {0: None, 1: None, 2: None, 3: None,
                   4: 0, 5: 0, 6: 1, 7: 1, 8: 2, 9: 2}


def test_group_kfold_balanced_greedy(spark):
    """sklearn-style balanced GroupKFold: one giant group must not drag
    its whole fold — greedy assignment keeps fold sizes near-equal, all
    rows of a group stay together, and the result equals the python
    greedy reference."""
    from upgini_spark.pipeline.cv import group_kfold_column

    rows = [(i, "big") for i in range(300)]
    rows += [(1000 + i, f"g{i % 20}") for i in range(700)]
    df = spark.createDataFrame(rows, "rid int, grp string")
    out = group_kfold_column(df, ["grp"], n_splits=4).toPandas()
    assert out.groupby("grp")["fold_id"].nunique().max() == 1  # integrity
    sizes = out.groupby("fold_id").size()
    assert sizes.max() - sizes.min() <= 310  # 'big' alone caps one fold

    counts = out.groupby("grp").size().sort_values(
        ascending=False, kind="mergesort"
    )
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    loads = [0] * 4
    want = {}
    for g, c in ordered:
        f = loads.index(min(loads))
        want[g] = f
        loads[f] += c
    got = out.drop_duplicates("grp").set_index("grp")["fold_id"].to_dict()
    assert got == want


def test_date_diff_year_bucket_registry(spark):
    """autofe/test_autofe_registry.py date_diff_Y_18_23_count: the Y-unit
    bounded date-list diff parses from the registry formula and counts
    birthdates whose trunc(days/365) age falls in [18, 23)."""
    import datetime as dt

    from upgini_spark.plans.feature_dag import (
        _parse_date_list_diff, parse_formula, lower_to_column,
    )

    assert _parse_date_list_diff("date_diff_Y_18_23_count") == (
        "Y", "count", 18.0, 23.0, False
    )
    assert _parse_date_list_diff("not_an_operand") is None

    base = dt.date(2024, 1, 1)
    rows = [(
        base,
        [base.replace(year=2024 - 20), base.replace(year=2024 - 30),
         base.replace(year=2024 - 18), base.replace(year=2024 - 23)],
    )]
    df = spark.createDataFrame(rows, "d date, births array<date>")
    node = parse_formula("date_diff_Y_18_23_count(d,births)")
    out = df.select(lower_to_column(node).alias("n")).collect()[0]["n"]
    # ages trunc(days/365): 20, 30, 18, 23 -> [18,23) keeps 20 and 18
    assert out == 2


def test_volatility_base_returns_reference_golden(spark):
    """autofe/test_volatility_base.py replayed: exact 1-day-step returns
    with NaN/gap handling — [100,110,99,121,NaN] over 05-01..05-06 (no
    05-04) gives [0, .1, -.1, 0, 0]: the 2-day gap and the NaN both zero."""
    from upgini_spark.operators.timeseries import step_returns

    rows = [
        ("2024-05-01", 100.0), ("2024-05-02", 110.0), ("2024-05-03", 99.0),
        ("2024-05-05", 121.0), ("2024-05-06", None),
    ]
    df = spark.createDataFrame(rows, "d string, value double").withColumn(
        "d", F.to_timestamp("d")
    )
    out = step_returns(df, "d", [], "value", 1, "D", "ret")
    got = {str(r["d"])[:10]: r["ret"] for r in out.collect()}
    want = {"2024-05-01": 0.0, "2024-05-02": 0.1, "2024-05-03": -0.1,
            "2024-05-05": 0.0, "2024-05-06": 0.0}
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-12), k


def test_validate_search_keys_reference_rules():
    """test_search_keys_validation replayed + the multi-key and email/hem
    rules from features_enricher.py:3254-3301."""
    import pytest as _pytest
    from upgini_spark.pipeline.autodetect import validate_search_keys

    with _pytest.raises(ValueError, match="simultaneously"):
        validate_search_keys({"d1": "DATE", "dt2": "DATETIME"})
    with _pytest.raises(ValueError, match="country"):
        validate_search_keys({"postal_code": "POSTAL_CODE"})
    validate_search_keys({"postal_code": "POSTAL_CODE", "c": "COUNTRY"})
    validate_search_keys({"postal_code": "POSTAL_CODE"}, country_code="US")
    with _pytest.raises(ValueError, match="multiple"):
        validate_search_keys({"d1": "DATE", "d2": "DATE"})
    validate_search_keys({"p1": "PHONE", "p2": "PHONE"})  # multi allowed
    with _pytest.raises(ValueError, match="simultaneously"):
        validate_search_keys({"e": "EMAIL", "h": "HEM"})


def test_cross_formula_parses_and_lowers(spark):
    """cross_<op> formulas (timeseries/cross.py grammar) now parse and
    lower: descriptors ride in the fit params like the reference's
    pydantic fields, and the compiled feature equals the direct
    cross_series_interaction call."""
    import json

    from upgini_spark.operators.binary import divide
    from upgini_spark.operators.timeseries import cross_series_interaction
    from upgini_spark.plans.feature_dag import (
        compile_features, parse_formula, parse_ts_op, set_op_params,
    )

    assert parse_ts_op("cross_div") == ("cross", {"op": "div"})
    assert parse_ts_op("cross_div_offset_1D") == (
        "cross", {"op": "div", "offset": (1, "D")}
    )

    rows = []
    for d in range(1, 8):
        for etype in ("click", "purchase"):
            rows.append((f"2024-01-0{d}", etype, float(d * (2 if etype == "click" else 1))))
    df = spark.createDataFrame(rows, "d string, etype string, v double").withColumn(
        "d", F.to_timestamp("d")
    )
    node = parse_formula("cross_div(d,etype,v)")
    set_op_params(node, {
        "descriptor_indices": "[0]",
        "left_descriptor": json.dumps(["click"]),
        "right_descriptor": json.dumps(["purchase"]),
    })
    out = compile_features(df, {"cross_ratio": node}).toPandas()

    direct = cross_series_interaction(
        df, "d", ["etype"], ["click"], ["purchase"], "v", divide,
        out_col="cross_ratio",
    ).toPandas()
    key = ["d", "etype"]
    a = out.sort_values(key).reset_index(drop=True)["cross_ratio"]
    b = direct.sort_values(key).reset_index(drop=True)["cross_ratio"]
    assert a.fillna(-1).tolist() == b.fillna(-1).tolist()
    assert (a.dropna() == 2.0).all()  # click/purchase = 2 every day

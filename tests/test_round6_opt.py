"""Round-6 optimization regression tests: the rewritten internals must
produce bit-identical results to their previous forms.

- _nearest_subcell and the fused index kernel must agree exactly with
  the JVM forms (scores bit-identical; ties to the smallest cell). The
  size dispatches themselves (connected_components' union-find,
  _nearest_cell's Arrow kernel, the driver-side Lloyd fits) are forced
  to both sides in test_dispatch_sides.
- pack_sequences dropped its countDistinct (Expand rewrite) for an
  in-struct doc id: n_docs must still count distinct docs per chunk.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from upgini_spark.session import get_spark

    s = get_spark("t_r06", master="local[4]", shuffle_partitions=8)
    yield s


def test_cc_driver_path_is_one_collect_job(spark):
    """The driver path's size probe is its capped collect: the edge
    checkpoint plus ONE collect job on a multi-partition edge set (no
    separate count job, no partition-by-partition limit scan)."""
    from upgini_spark.functions.dedup import connected_components

    pairs = spark.range(0, 200_000, 2, numPartitions=7).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    sc = spark.sparkContext
    sc.setJobGroup("cc_probe_jobs", "connected_components job-count probe")
    try:
        comp = connected_components(pairs)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("cc_probe_jobs")
    assert len(jobs) <= 2, jobs
    assert comp.filter("component != node AND component != node - 1").count() == 0
    assert comp.count() == 200_000


def test_pack_sequences_n_docs_gaps(spark):
    from upgini_spark.functions.tokens import pack_sequences

    # doc ids with gaps; chunk 0 spans docs {1, 5}, chunk 1 spans {5, 9}
    df = spark.createDataFrame(
        [(1, [1, 2, 3]), (5, [4, 5, 6]), (9, [7, 8])],
        "doc_id long, toks array<int>",
    )
    out = {r["chunk_id"]: r for r in pack_sequences(df, "doc_id", "toks", 4).collect()}
    assert out[0]["n_docs"] == 2 and out[0]["first_doc"] == 1
    assert out[0]["tokens"] == [1, 2, 3, 4]
    assert out[1]["n_docs"] == 2 and out[1]["tokens"] == [5, 6, 7, 8]


def _composed_pq_encode(corpus, id_col, vec_col, codebooks, dim, m):
    """The pre-r6 pq_encode pipeline (explode → _nearest_subcell →
    struct-min regroup), kept here as the equality reference for the
    fused one-pass _index_rows_kernel."""
    import upgini_spark.functions.similarity as SIM

    long_df = corpus.select(
        F.col(id_col).alias("__pid__"),
        F.posexplode(SIM._subvectors(vec_col, m, dim)).alias("sub", "sv"),
    )
    assigned = SIM._nearest_subcell(long_df, codebooks)
    return (
        assigned.groupBy("__pid__")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cell"))),
                lambda s: s["cell"],
            ).alias("codes")
        )
        .select(F.col("__pid__").alias(id_col), "codes")
    )


def test_fused_encode_matches_composed(spark):
    """pq_encode's fused one-pass kernel must equal the previous
    explode/join/regroup composition — including NULL, short,
    empty and NaN vectors, and codebooks with a missing subspace."""
    import upgini_spark.functions.similarity as SIM

    rows = [
        (1, [1.0] * 16), (2, None), (3, [0.5] * 8),
        (4, [float("nan")] * 16), (5, [0.0] * 16), (6, [2.0] * 16),
        (7, [1.0] * 15), (8, []),
    ] + [
        (100 + i, [float((i * 13 + d * 5) % 17) - 8.0 for d in range(16)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cbrows = []
    for sub in range(4):
        cbrows.append((sub, 0, [0.1 * sub, 1.0, 0.0, 2.0]))
        cbrows.append(
            (sub, 1, [1.5, float("nan") if sub == 2 else 0.5, 1.0, 0.0])
        )
    cb = spark.createDataFrame(cbrows, "sub int, cell int, cvec array<double>")
    for book in (cb, cb.filter(F.col("sub") != 1)):
        a = _composed_pq_encode(df, "vec_id", "v", book, 16, 4)
        b = SIM.pq_encode(df, "vec_id", "v", book, 16, 4)
        pa = {r["vec_id"]: list(r["codes"]) for r in a.collect()}
        pb = {r["vec_id"]: list(r["codes"]) for r in b.collect()}
        assert pa == pb


def test_fused_index_matches_composed(spark):
    """build_ivf_pq_index's fused (cell + codes) kernel row set must
    equal the previous _nearest_cell ⋈ pq_encode composition."""
    import upgini_spark.functions.similarity as SIM

    df = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(16)])
         for i in range(80)] + [(99, [0.0] * 16)]
        # one longer row in the same Arrow batch as the 16-dim corpus
        + [(100, [float(d % 5) - 2.0 for d in range(20)])],
        "vec_id long, v array<double>",
    )
    fit = SIM.fit_vector_sample(df, "vec_id", "v")
    cent = SIM.kmeans_centroids(df, "vec_id", "v", n_cells=3, n_iter=1, fit=fit)
    cb = SIM.pq_codebooks(df, "vec_id", "v", 16, m=2, k_sub=2, n_iter=1, fit=fit)
    src = df.select(
        F.col("vec_id").alias("n_id"), F.col("v").alias("n_vec")
    ).coalesce(1)
    composed = SIM._nearest_cell(src, cent, "n_vec").select("n_id", "cell").join(
        _composed_pq_encode(df, "vec_id", "v", cb, 16, 2)
        .select(F.col("vec_id").alias("n_id"), "codes"),
        "n_id",
    )
    fused = SIM._index_rows_kernel(
        src, "n_id", "n_vec", SIM._cb_by_sub(cb), 16, 2,
        cent_rows=sorted(cent.collect(), key=lambda r: int(r["cell"])),
    )
    assert composed.exceptAll(fused).count() == 0
    assert fused.exceptAll(composed).count() == 0


def test_index_rows_kernel_null_elements_match_jvm(spark, monkeypatch):
    """_index_rows_kernel against the JVM forms — _nearest_cell's
    crossJoin scoring for the cell, _l2sq + min(struct(d, cell)) per
    _subvectors slice for the codes. A NULL element makes its whole
    vector score NULL for the cell but only its own subvector NULL for
    the codes; NULL then takes the smallest id, where NaN would lose to
    (L2) or beat (cosine) a length-mismatched cell."""
    import upgini_spark.functions.similarity as SIM

    df = spark.createDataFrame(
        [(1, [1.0, None, 0.5, 0.5]), (2, [0.5, 0.5, None, 1.0]),
         (3, [1.0, float("nan"), 0.5, 0.5]), (4, [0.0, 1.0, 1.0, 0.0]),
         (5, [1.0, 0.0, 0.0, 1.0]), (6, None), (7, [0.2, 0.9])],
        "n_id long, n_vec array<double>",
    ).coalesce(1)
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
         (2, [0.0, 1.0, 0.0, 0.0])],
        "cell int, cvec array<double>",
    )
    cb = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (0, 1, [0.0, 1.0, 0.0]),
         (1, 0, [1.0, 0.0]), (1, 1, [0.0, 1.0, 0.0])],
        "sub int, cell int, cvec array<double>",
    )
    monkeypatch.setattr(SIM, "_KERNEL_MIN_WORK", 10**9)  # the JVM crossJoin path
    ref_cell = {
        r["n_id"]: r["cell"]
        for r in SIM._nearest_cell(df, cent, "n_vec").collect()
    }
    ref_codes = (
        df.select(
            "n_id", F.posexplode(SIM._subvectors("n_vec", 2, 4)).alias("sub", "sv")
        )
        .join(F.broadcast(cb), on="sub")
        .withColumn("d", SIM._l2sq(F.col("sv"), F.col("cvec")))
        .groupBy("n_id", "sub")
        .agg(F.min(F.struct("d", "cell")).alias("b"))
        .collect()
    )
    want = {i: (c, [None, None]) for i, c in ref_cell.items()}
    for r in ref_codes:
        want[r["n_id"]][1][r["sub"]] = r["b"]["cell"]
    got = SIM._index_rows_kernel(
        df, "n_id", "n_vec", SIM._cb_by_sub(cb), 4, 2,
        cent_rows=sorted(cent.collect(), key=lambda r: int(r["cell"])),
    ).collect()
    assert {r["n_id"]: (r["cell"], list(r["codes"])) for r in got} == want
    assert want[1] == (0, [0, 1]) and want[2] == (0, [1, 0])


def test_nearest_subcell_matches_l2sq_struct_min(spark):
    """_nearest_subcell on mixed-length subvectors in one Arrow batch
    must equal the Spark form: _l2sq per (row, cell) pair, then
    min(struct(d, cell)) — a NULL distance (length mismatch, NULL
    subvector) wins, NaN loses, ties go to the smallest cell."""
    import upgini_spark.functions.similarity as SIM

    long_df = spark.createDataFrame(
        [(1, 0, [0.9, 0.1]), (2, 0, [1.0, 2.0, 3.0]), (3, 0, [0.2, 0.7]),
         (4, 0, None), (5, 0, []), (6, 0, [float("nan"), 0.0]),
         (7, 0, [0.5, 0.5]), (8, 0, [None, 0.5]),
         (1, 1, [0.1, 0.9]), (2, 1, [1.0, 0.0, 0.0]), (3, 1, [0.0, 1.0, 2.0]),
         # NULL element: NULL against every cell, so the smallest cell
         # wins (a NaN distance would lose to cell 1's length mismatch)
         (9, 1, [1.0, None, 0.0])],
        "__pid__ long, sub int, sv array<double>",
    ).coalesce(1)
    cb = spark.createDataFrame(
        [(0, 0, [0.0, 1.0]), (0, 1, [1.0, 0.0]),
         (1, 0, [1.0, 0.0, 0.0]), (1, 1, [0.0, 1.0])],
        "sub int, cell int, cvec array<double>",
    )
    ref = (
        long_df.join(F.broadcast(cb), on="sub")
        .withColumn("d", SIM._l2sq(F.col("sv"), F.col("cvec")))
        .groupBy("__pid__", "sub")
        .agg(F.min(F.struct("d", "cell")).alias("b"))
        .select("__pid__", "sub", F.col("b.cell").alias("cell"))
    )
    got = SIM._nearest_subcell(long_df, cb).collect()
    want = {(r[0], r[1]): r[2] for r in ref.collect()}
    assert {(r["__pid__"], r["sub"]): r["cell"] for r in got} == want
    assert want[(1, 0)] == 1 and want[(9, 1)] == 0
    # the subvector rides through the kernel untouched: NaN stays NaN
    sv = {(r[0], r[1]): repr(r[2]) for r in long_df.collect()}
    assert {(r["__pid__"], r["sub"]): repr(r["sv"]) for r in got} == sv


def test_ts_features_masked_matches_parity(spark):
    """The single-pass masked TS-formula path must equal the slim
    dedup + join-back parity form on frames with duplicate (group, ts)
    rows carrying different values, kept NULL values and NULL
    timestamps — with and without an explicit order column."""
    import datetime as dt
    import random

    import upgini_spark.operators.timeseries as TS

    base = dt.datetime(2023, 1, 1)
    rnd = random.Random(7)
    rows = []
    for g in ["a", "b"]:
        for i in range(150):
            ts = base + dt.timedelta(hours=rnd.randint(0, 1500))
            v = None if rnd.random() < 0.12 else round(rnd.uniform(-5, 5), 3)
            rows.append((g, ts, v, rnd.randint(0, 10**6)))
            if rnd.random() < 0.3:  # dup ts, DIFFERENT value
                rows.append(
                    (g, ts, round(rnd.uniform(-5, 5), 3), rnd.randint(0, 10**6))
                )
    rows += [("a", None, 1.5, 1), ("a", None, None, 2)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double, ord long")

    specs = [
        ("f_mean", "roll", {"n": 7, "unit": "D", "agg": "mean"}),
        ("f_max", "roll", {"n": 30, "unit": "D", "agg": "max"}),
        ("f_std", "roll", {"n": 7, "unit": "D", "agg": "std"}),
        ("f_med", "roll", {"n": 7, "unit": "D", "agg": "median"}),
        ("f_cnt", "roll", {"n": 7, "unit": "D", "agg": "count"}),
        ("f_lag1", "lag", {"n": 1, "unit": "D"}),
    ]

    def fns():
        out = []
        for o, k, p in specs:
            if k == "roll":
                out.append((o, lambda s, p=p, o=o: TS.roll_feature(
                    s, "ts", ["g"], "v", p["n"], p["unit"], p["agg"], out_col=o)))
            else:
                out.append((o, lambda s, p=p, o=o: TS.lag_feature(
                    s, "ts", ["g"], "v", p["n"], p["unit"], out_col=o)))
        return out

    for oc in (None, "ord"):
        a = TS.ts_features_parity(df, "ts", ["g"], "v", fns(), order_col=oc)
        b = TS.ts_features_masked(df, "ts", ["g"], "v", specs, order_col=oc)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def _packed_exploded_reference(d_groups, df, id_col, tokens_col, max_len):
    """The pre-r6c pack_sequences chunk assembly (one row per TOKEN
    through the chunk shuffle), kept as the equality reference for the
    per-(doc, chunk) array-slice form."""
    from pyspark.sql.window import Window

    from upgini_spark.pipeline.record_ids import global_running_sum

    groups = list(d_groups or [])
    d = df.select(
        *groups,
        F.col(id_col).alias("__pid__"),
        F.col(tokens_col).alias("__ptok__"),
        F.size(tokens_col).cast("long").alias("__pnt__"),
    )
    if groups:
        w = (
            Window.partitionBy(*groups)
            .orderBy(F.col("__pid__").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        d = d.withColumn("__pend__", F.sum("__pnt__").over(w))
    else:
        offs = global_running_sum(
            d.select("__pid__", "__pnt__"),
            [F.col("__pid__").asc()], "__pnt__", "__pend__",
        ).select("__pid__", "__pend__")
        d = d.join(offs, "__pid__")
    tok = (
        d.select(
            *groups,
            "__pid__",
            (F.col("__pend__").cast("long") - F.col("__pnt__")).alias("__poff__"),
            F.posexplode("__ptok__").alias("__pi__", "tok"),
        )
        .withColumn("__pp__", F.col("__poff__") + F.col("__pi__"))
        .withColumn("chunk_id", (F.col("__pp__") / max_len).cast("long"))
        .withColumn("pos", (F.col("__pp__") % max_len).cast("int"))
    )
    agged = tok.groupBy(*groups, "chunk_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.min("__pid__").alias("first_doc"),
        F.max("__pid__").alias("last_doc"),
        F.array_sort(
            F.collect_list(F.struct("pos", "tok", "__pid__"))
        ).alias("__st__"),
    )
    return agged.select(
        *groups,
        "chunk_id",
        "n_tokens",
        F.size(
            F.array_distinct(
                F.transform(F.col("__st__"), lambda s: s["__pid__"])
            )
        ).cast("int").alias("n_docs"),
        "first_doc",
        "last_doc",
        F.transform(F.col("__st__"), lambda s: s["tok"]).alias("tokens"),
    )


def test_pack_sequences_slices_match_exploded(spark):
    """The slice-per-(doc, chunk) chunk assembly must equal the per-token
    explode byte for byte: multi-chunk docs, chunk-aligned boundaries,
    empty/NULL token arrays, in-array NULL tokens, id gaps, and the
    grouped (per-source) path."""
    from upgini_spark.functions.tokens import pack_sequences

    rows = [
        (1, "a", list(range(10))),          # spans multiple 4-chunks
        (2, "a", []),                       # empty -> invisible
        (3, "a", [99]),
        (5, "a", None),                     # NULL array -> invisible
        (7, "a", [1, None, 3]),             # NULL tokens preserved
        (8, "b", list(range(8))),           # exactly two aligned chunks
        (9, "b", [5]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, toks array<int>")
    for groups in (None, ["src"]):
        new = pack_sequences(df, "doc_id", "toks", 4, group_cols=groups)
        ref = _packed_exploded_reference(groups, df, "doc_id", "toks", 4)
        assert new.exceptAll(ref).count() == 0
        assert ref.exceptAll(new).count() == 0


def test_encode_words_map_matches_exploded(spark):
    """The one-row-map encoder must equal the exploded broadcast-join
    form: OOV -> 0, order preserved, empty/NULL texts -> empty arrays."""
    from upgini_spark.functions.tokens import build_word_vocab, encode_words

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "dog  dog unknown"),
         (3, ""), (4, None), (5, "   "), (6, "the the the")],
        "doc_id long, text string",
    )
    vocab = build_word_vocab(df, "text", 3)
    out = {r["doc_id"]: r for r in
           encode_words(df, "doc_id", "text", vocab).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    # vocab: the(5) dog(2) cat(1 by asc tie over mat/on/sat? no: count desc,
    # word asc) -> the=1, dog=2, cat=3
    assert out[6]["token_ids"] == [1, 1, 1]
    assert out[3]["token_ids"] == [] and out[3]["n_tok"] == 0
    assert out[4]["token_ids"] == [] and out[4]["n_oov"] == 0
    assert out[5]["token_ids"] == []
    assert out[2]["token_ids"][:2] == [2, 2] and out[2]["n_oov"] == 1
    enc1 = out[1]
    assert enc1["n_tok"] == 6 and enc1["token_ids"][0] == 1
    assert enc1["token_ids"][4] == 1  # second 'the'


def test_round_half_up_matches_spark_round(spark):
    """_round_half_up must agree with F.round(double, 9) bit for bit on
    representative values (incl. shortest-repr decimal midpoints, where
    banker's rounding would diverge)."""
    import upgini_spark.functions.similarity as SIM

    vals = [0.1234567895, -0.1234567895, 1.0000000005, 2.5e-9, -2.5e-9,
            0.123456789123, 7.000000001499999, -3.1415926535897931,
            1e20, 5e-10, 1.5e-9, 0.0, -0.0]
    rows = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.round("x", 9).alias("r")).collect()
    import struct as st
    for v, r in zip(vals, rows):
        a, b = SIM._round_half_up(v, 9), r["r"]
        assert st.pack("d", a) == st.pack("d", b), (v, a, b)


def test_range_partitions_bounds(spark):
    """_range_partitions: floored at default parallelism, capped at the
    configured shuffle partitions, scaled by the size estimate."""
    from upgini_spark.pipeline.record_ids import _range_partitions

    dp = spark.sparkContext.defaultParallelism
    conf_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tiny = spark.range(100).toDF("id")
    n = _range_partitions(tiny)
    assert dp <= n <= conf_n or n == conf_n  # tiny frame -> the dp floor
    assert n == max(1, min(conf_n, dp))
    # a checkpointed frame has an exact (small) size estimate -> floor
    ck = spark.range(1000).toDF("id").localCheckpoint(eager=True)
    assert _range_partitions(ck) == max(1, min(conf_n, dp))


def test_mask_tokens_mlm_builds_vocab_map_once(spark, tmp_path):
    """The mask_tokens_mlm query takes n_tok from the masked array: no
    self-join back to the encoder, so the plan encodes the documents and
    aggregates the vocabulary map once (the self-join planned both
    twice; at run time AQE reused the map's exchange but still
    re-encoded every document for the join)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as E

    words = ["the", "a", "cat", "dog", "sat"]
    spark.createDataFrame(
        [(i, " ".join(words[: i % 6]) or None) for i in range(30)],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    df = E.mask_tokens_mlm(spark, str(tmp_path))
    rows = df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    initial = adaptive.initialPlan().toString()
    final = adaptive.executedPlan().toString()
    assert initial.count("output=[__vmap__") == 1
    assert final.count("BroadcastExchange") == 1  # the vocab map only
    assert "BroadcastHashJoin" not in final
    assert len(rows) == 30
    assert all(r["n_tok"] == r["doc_id"] % 6 for r in rows)


def _fit_sample(spark, rows, id_type="long"):
    """A checkpointed (__fid__, __fv__) fit sample over 3 partitions, so
    both seed paths read the same rows in the same partition order."""
    from upgini_spark.util import local_frame

    df = local_frame(spark, rows, f"__fid__ {id_type}, __fv__ array<double>")
    return len(rows), df.repartition(3).localCheckpoint(eager=True)


def test_driver_seed_order_matches_seed_vecs(spark):
    """collect_fit_matrix sorts the seeds on the driver; the order must
    be _seed_vecs' (md5(cast(id as string)) asc NULLS FIRST, id asc)
    TakeOrdered. Duplicate ids tie on both keys, where Spark's order is
    unspecified, so they carry one vector."""
    import upgini_spark.functions.similarity as SIM

    def vec(i):
        return [float((i * 13 + d * 7) % 23) / 7.0 - 1.5 for d in range(4)]

    cases = {
        "string ids": ([(f"k{i}", vec(i)) for i in range(40)], "string"),
        "int ids": ([(i, vec(i)) for i in range(40)], "long"),
        "a NULL id": ([(i, vec(i)) for i in range(39)] + [(None, vec(99))], "long"),
        "duplicate ids": (
            [(i, vec(i)) for i in range(30)] + [(7, vec(7)), (7, vec(7)), (21, vec(21))],
            "long",
        ),
    }
    for name, (rows, id_type) in cases.items():
        fit = _fit_sample(spark, rows, id_type)
        for n_seed in (5, len(rows)):
            seeds, matrix = SIM.collect_fit_matrix(fit, n_seed)
            assert matrix is not None and matrix.shape == (len(rows), 4), name
            want = SIM._seed_vecs(fit[1], n_seed)
            assert [list(v) for v in seeds] == [list(v) for v in want], name


def test_unclean_fit_sample_takes_distributed_loop(spark, monkeypatch):
    """A ragged, NULL-vector, NULL-element or oversized sample gets no
    fit matrix and _seed_vecs' seeds, and kmeans_centroids runs the
    distributed Lloyd loop on it; a NaN element is clean (NaN flows
    through both paths identically)."""
    import upgini_spark.functions.similarity as SIM

    base = [(i, [float(i % 5), float(i % 3), 1.0, -1.0]) for i in range(40)]
    unclean = {
        "ragged": base + [(40, [1.0, 2.0, 3.0])],
        "NULL vector": base + [(40, None)],
        "NULL element": base + [(40, [1.0, None, 0.0, 2.0])],
    }
    for name, rows in unclean.items():
        fit = _fit_sample(spark, rows)
        seeds, matrix = SIM.collect_fit_matrix(fit, 6)
        assert matrix is None, name
        assert [repr(list(v)) for v in seeds] == [
            repr(list(v)) for v in SIM._seed_vecs(fit[1], 6)
        ], name

    fit = _fit_sample(spark, base + [(40, [1.0, float("nan"), 0.0, 2.0])])
    assert SIM.collect_fit_matrix(fit, 6)[1] is not None
    monkeypatch.setattr(SIM, "_DRIVER_FIT_ELEMS", 4 * 41 - 1)  # one element short
    assert SIM.collect_fit_matrix(fit, 6)[1] is None
    assert SIM.collect_fit_matrix(fit, 6, dim=4)[1] is None
    monkeypatch.undo()

    def driver_fit(*_a, **_kw):
        raise AssertionError("driver-side Lloyd fit on an unclean sample")

    steps = []
    means = SIM._lloyd_means

    def counted_means(*a, **kw):
        steps.append(1)
        return means(*a, **kw)

    monkeypatch.setattr(SIM, "_lloyd_driver", driver_fit)
    monkeypatch.setattr(SIM, "_lloyd_means", counted_means)
    for rows in unclean.values():
        fit = _fit_sample(spark, rows)
        SIM.kmeans_centroids(fit[1], "__fid__", "__fv__", n_cells=3, n_iter=1, fit=fit).collect()
    assert len(steps) == len(unclean)


def test_ivf_pq_fit_inputs_are_one_collect(spark, monkeypatch):
    """build_ivf_pq_index on a clean sample: after the shared sample is
    counted and checkpointed, the seeds and the fit matrix of both fits
    come from ONE collect (the TakeOrdered seed fetch, the cleanliness
    agg and the toPandas of the sample used to be three actions)."""
    import upgini_spark.functions.similarity as SIM
    from upgini_spark.util import local_frame

    corpus = local_frame(
        spark,
        [(i, [float((i * 13 + d * 7) % 23) / 7.0 - 1.5 for d in range(8)])
         for i in range(300)],
        "vid long, v array<double>",
    )
    sc = spark.sparkContext
    sample = SIM.fit_vector_sample

    def sample_in_own_group(*a, **kw):
        sc.setJobGroup("ivfpq_sample", "fit sample")
        try:
            return sample(*a, **kw)
        finally:
            sc.setJobGroup("ivfpq_fit", "fit inputs")

    monkeypatch.setattr(SIM, "fit_vector_sample", sample_in_own_group)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("ivfpq_fit", "fit inputs")
    try:
        idx = SIM.build_ivf_pq_index(
            corpus, "vid", "v", 8, m=2, k_sub=3, n_cells=4, materialize=False)
    finally:
        sc.setJobGroup(None, None)
    # the fits run in pool threads, whose jobs carry no group
    pool_jobs = set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
    fit_jobs = sc.statusTracker().getJobIdsForGroup("ivfpq_fit")
    assert len(fit_jobs) + len(pool_jobs) <= 2, (fit_jobs, pool_jobs)
    assert sc.statusTracker().getJobIdsForGroup("ivfpq_sample")
    assert idx["index"].count() == 300



def test_minhash_band_join_broadcasts_one_bigint_key(spark):
    """minhash_band_pairs' band self-join broadcasts on ONE bigint key
    (the xxhash64 of band number and band key; the exact band match is a
    residual): a (int, string) key builds an UnsafeHashedRelation holding
    a full 64 MB Tungsten page on the driver for a few KB of rows. The
    pairs equal the docs sharing a full band of their minhash signature."""
    import re
    from itertools import combinations

    from upgini_spark.functions import dedup as DD

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    docs = spark.createDataFrame(
        [(i, " ".join(words[(i * j) % 8] for j in range(1, 7 + i % 3)))
         for i in range(40)],
        "doc_id long, text string",
    )
    pairs = DD.minhash_band_pairs(docs, "doc_id", "text", k=8, bands=4)
    got = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())

    sig = {r["doc_id"]: [r[f"mh{j}"] for j in range(8)]
           for r in DD.minhash_signature(docs, "text", k=8).collect()}
    want = sorted({
        (a, b) for a, b in combinations(sorted(sig), 2)
        if any(sig[a][2 * band:2 * band + 2] == sig[b][2 * band:2 * band + 2]
               for band in range(4))
    })
    assert got == want and got

    plan = pairs._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"HashedRelationBroadcastMode\(List\(([^)]*)\)", plan)
    assert keys and all(re.fullmatch(r"input\[\d+, bigint, false\]", k)
                        for k in keys), keys

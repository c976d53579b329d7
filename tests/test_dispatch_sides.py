"""Every size dispatch, forced to each side, gives identical output.

A size dispatch reads a named module constant (or, for the range
exchange width, ``record_ids._range_partitions``) at call time, so a test
forces a side with ``monkeypatch.setattr``: 0 takes the large-input
branch, 10**9 the small-input one. Where one branch calls a helper the
other never does, the case names it as a probe and the test checks that
exactly one side called it — a constant read at import time would make
both sides take one branch and the equality pass vacuously.

The AST guard below keeps numeric size literals out of dispatch
conditions: a threshold gets a name, so this file can force it.
"""

import ast
import importlib
from pathlib import Path

import pytest
from pyspark.sql import functions as F

SIDES = (0, 10**9)
PKG = Path(__file__).resolve().parent.parent / "upgini_spark"


def _hash_sample(spark):
    from upgini_spark.functions.sampling import hash_sample_exact

    df = spark.range(5000).select(
        F.col("id"), (F.col("id") % 13).alias("k")
    ).repartition(8)
    ids = sorted(r["id"] for r in hash_sample_exact(df, 700, ["id"]).collect())
    assert len(ids) == 700
    return ids


def _components(spark):
    from upgini_spark.functions.dedup import connected_components

    # chain 1-2-3-4, clique {10,11,12}, pair (20, 21), self-contained dup
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21),
         (2, 1)],
        "id_a long, id_b long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
                    20: 20, 21: 20}
    return comp


def _ts_frame(spark):
    return spark.range(2000).select(
        (F.col("id") % 37).alias("k"),
        F.to_timestamp(
            F.concat(F.lit("2023-01-"),
                     F.lpad((F.col("id") % 28 + 1).cast("string"), 2, "0"))
        ).alias("date"),
        F.col("id"),
    )


def _ts_sample(spark, fallback):
    """37 ids of ~54 rows each, budget 500: whole ids keep ~9 of them,
    which passes a 0.2 id ratio; a 1.0 ratio takes the date fallback,
    which keeps every id on the most recent dates."""
    from upgini_spark.functions.sampling import sample_time_series

    out = sample_time_series(
        _ts_frame(spark), ["k"], "date", 500,
        min_different_ids_ratio=1.0 if fallback else 0.2,
    )
    rows = sorted(r["id"] for r in out.collect())
    assert 0 < len(rows) <= 500
    assert (len({i % 37 for i in rows}) == 37) == fallback
    return rows


def _nearest_cells(spark):
    import upgini_spark.functions.similarity as SIM

    df = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
         for i in range(50)] + [(99, [0.0] * 8)],  # zero vector -> NULL score
        "vid long, v array<double>",
    )
    cent = spark.createDataFrame(
        [(c, [float((c * 5 + d) % 7) - 3.0 for d in range(8)])
         for c in range(6)],
        "cell int, cvec array<double>",
    )
    # rows and centroids of lengths 4 and 3 in ONE Arrow batch: a length
    # mismatch is judged per (row, cell) pair, never against the batch's
    # longest row; the 3-only batch has every row shorter than cell 0
    mixed = spark.createDataFrame(
        [(i, [float((i * 5 + d) % 7) - 3.0 for d in range(3 + i % 2)])
         for i in range(30)] + [(97, None), (98, [])],
        "vid long, v array<double>",
    ).coalesce(1)
    mixed_cent = spark.createDataFrame(
        [(0, [1.0, 0.0, -1.0, 2.0]), (1, [0.0, 1.0, 1.0]),
         (2, [-1.0, 2.0, 0.0, 1.0]), (3, [2.0, -1.0, 0.5])],
        "cell int, cvec array<double>",
    )
    # a NULL element makes the row score NULL against every cell (Spark's
    # _dot folds the NULL product in), so it takes the smallest cell even
    # where NaN would win; a NaN element comes back as NaN, not NULL
    null_elems = spark.createDataFrame(
        [(1, [1.0, None, 0.0]), (2, [None, 1.0]), (3, [0.0, 1.0, 0.0]),
         (4, [1.0, float("nan"), 0.0]), (5, [1.0, 0.0, 0.0])],
        "vid long, v array<double>",
    ).coalesce(1)
    null_cent = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [0.0, 1.0, 0.0]), (2, [1.0, 0.0, 0.0])],
        "cell int, cvec array<double>",
    )
    cases = [
        (df, cent),
        (mixed, mixed_cent),
        (mixed.filter(F.size("v") == 3), mixed_cent),
        (null_elems, null_cent),
    ]
    # repr tells NaN from NULL
    return [
        sorted((r["vid"], r["cell"], repr(r["v"]))
               for r in SIM._nearest_cell(frame, cells, "v").collect())
        for frame, cells in cases
    ]


def _lloyd_fits(spark):
    import upgini_spark.functions.similarity as SIM

    corpus = spark.createDataFrame(
        [(i, [float((i * 13 + d * 7) % 23) / 7.0 - 1.5 for d in range(8)])
         for i in range(300)],
        "vid long, v array<double>",
    )
    cent = SIM.kmeans_centroids(corpus, "vid", "v", n_cells=5, n_iter=2)
    cb = SIM.pq_codebooks(corpus, "vid", "v", 8, m=2, k_sub=3, n_iter=2)
    # exact float equality: same seeds, assignment order and rounding
    return (
        sorted((r["cell"], list(r["cvec"])) for r in cent.collect()),
        sorted((r["sub"], r["cell"], list(r["cvec"])) for r in cb.collect()),
    )


def _record_ids(spark):
    from upgini_spark.pipeline.record_ids import add_system_record_id

    df = spark.createDataFrame(
        [(i % 17, None if i % 11 == 0 else f"2024-01-{i % 28 + 1:02d}",
          (0, 1, 2, None)[i % 4]) for i in range(400)]
        + [(3, "2024-01-05", 1)] * 3,  # fully identical rows
        "user_id int, day string, eval_set_index int",
    )
    out = add_system_record_id(df, "day", ["user_id"])
    rows = sorted((tuple(r) for r in out.collect()), key=lambda t: t[-1])
    assert [r[-1] for r in rows] == list(range(len(rows)))
    return rows


def _asof_arrow(spark):
    from upgini_spark.joins.asof import asof_join

    left = spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(300)], "eid long, k long, t double"
    ).select("eid", "k", F.timestamp_seconds(F.col("t") * 60).alias("ts"))
    right = spark.createDataFrame(
        [(i % 7, float(i) + 0.5, i * 10) for i in range(0, 300, 3)],
        "rk long, rt double, v long",
    ).select("rk", F.timestamp_seconds(F.col("rt") * 60).alias("rts"), "v")
    out = asof_join(
        left, right, left_on="ts", right_on="rts", by_left="k",
        by_right="rk", engine="arrow", keep_match_ts=True,
    )
    return sorted(tuple(r) for r in out.collect())


SAMPLING = "upgini_spark.functions.sampling"
SIMILARITY = "upgini_spark.functions.similarity"
RECORD_IDS = "upgini_spark.pipeline.record_ids"
RANGE_SIDES = (lambda df: 1, lambda df: 64)

# id -> (module, name, the two sides, run, probe helper or None)
CASES = {
    "HASH_SAMPLE_HEAP_CEILING": (
        SAMPLING, "HASH_SAMPLE_HEAP_CEILING", SIDES, _hash_sample, None),
    "DRIVER_EDGE_CAP": (
        "upgini_spark.functions.dedup", "DRIVER_EDGE_CAP", SIDES, _components,
        ("upgini_spark.functions.dedup", "local_frame")),
    "DRIVER_CUMSUM_ROWS-ids": (
        SAMPLING, "DRIVER_CUMSUM_ROWS", SIDES, lambda s: _ts_sample(s, False),
        (RECORD_IDS, "global_running_sum")),
    "DRIVER_CUMSUM_ROWS-dates": (
        SAMPLING, "DRIVER_CUMSUM_ROWS", SIDES, lambda s: _ts_sample(s, True),
        (RECORD_IDS, "global_running_sum")),
    "_KERNEL_MIN_WORK": (
        SIMILARITY, "_KERNEL_MIN_WORK", SIDES, _nearest_cells,
        (SIMILARITY, "_nearest_cell_kernel")),
    "_DRIVER_FIT_ELEMS": (
        SIMILARITY, "_DRIVER_FIT_ELEMS", SIDES, _lloyd_fits,
        (SIMILARITY, "_lloyd_driver")),
    "_range_partitions-record_ids": (
        RECORD_IDS, "_range_partitions", RANGE_SIDES, _record_ids, None),
    "_range_partitions-asof_arrow": (
        RECORD_IDS, "_range_partitions", RANGE_SIDES, _asof_arrow, None),
}


@pytest.mark.parametrize("case", list(CASES))
def test_dispatch_sides(spark, monkeypatch, case):
    module, name, sides, run, probe = CASES[case]
    calls = [0]
    if probe is not None:
        pmod = importlib.import_module(probe[0])
        real = getattr(pmod, probe[1])

        def counted(*a, **kw):
            calls[0] += 1
            return real(*a, **kw)

        monkeypatch.setattr(pmod, probe[1], counted)
    outs, called = [], []
    for side in sides:
        monkeypatch.setattr(importlib.import_module(module), name, side)
        before = calls[0]
        outs.append(run(spark))
        called.append(calls[0] > before)
    assert outs[0] == outs[1]
    if probe is not None:
        assert sorted(called) == [False, True], called


# File-format limits, not size thresholds: the GIF LZW code table holds
# 4096 codes, and an AU header's data size 0xFFFFFFFF means "unknown".
FORMAT_LIMITS = {("functions/multimodal.py", 4096), ("functions/multimodal.py", 0xFFFFFFFF)}


def test_no_numeric_literal_in_dispatch_conditions():
    """An ``if``/``while`` condition under upgini_spark/ never compares
    against a numeric literal >= 1000: size thresholds are named module
    constants, read at call time."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.If, ast.While)):
                continue
            for cmp in ast.walk(node.test):
                if not isinstance(cmp, ast.Compare):
                    continue
                for operand in (cmp.left, *cmp.comparators):
                    for c in ast.walk(operand):
                        if (isinstance(c, ast.Constant)
                                and type(c.value) in (int, float)
                                and abs(c.value) >= 1000
                                and (rel, c.value) not in FORMAT_LIMITS):
                            offenders.append(f"{rel}:{node.lineno} {c.value}")
    assert not offenders, offenders

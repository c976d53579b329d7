"""As-of join: both engines vs the pandas merge_asof oracle (FIXTURES.md F2
correctness rule), plus token byte-identity and zero-leakage invariants."""

import numpy as np
import pandas as pd
import pytest

from upgini_spark.fixtures import feature_source, tokenized_sequences
from upgini_spark.joins.asof import asof_join

N_ROWS = 400
N_ENTITIES = 120


@pytest.fixture(scope="module")
def frames(spark):
    left = tokenized_sequences(spark, N_ROWS, n_partitions=4)
    right = feature_source(spark, N_ENTITIES, points_per_entity=6, n_partitions=4)
    return left, right


def _oracle(left_pdf: pd.DataFrame, right_pdf: pd.DataFrame, tolerance=None) -> pd.DataFrame:
    lp = left_pdf.sort_values("event_time", kind="mergesort").reset_index(drop=True)
    rp = right_pdf.rename(columns={"entity_id": "doc_id"}).sort_values(
        "feature_ts", kind="mergesort"
    )
    return pd.merge_asof(
        lp,
        rp,
        left_on="event_time",
        right_on="feature_ts",
        by="doc_id",
        direction="backward",
        tolerance=pd.Timedelta(seconds=tolerance) if tolerance else None,
    )


def _compare(got: pd.DataFrame, exp: pd.DataFrame):
    key = ["doc_id", "event_time"]
    got = got.sort_values(key + ["n_tok"], kind="mergesort").reset_index(drop=True)
    exp = exp.sort_values(key + ["n_tok"], kind="mergesort").reset_index(drop=True)
    assert len(got) == len(exp)
    for c in ["f_ext_num_1", "f_ext_num_2", "f_ext_num_3"]:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float), equal_nan=True
        )
    assert got["f_ext_cat"].fillna("∅").tolist() == exp["f_ext_cat"].fillna("∅").tolist()


@pytest.mark.parametrize("engine", ["native", "arrow"])
def test_asof_matches_pandas_oracle(spark, frames, engine):
    left, right = frames
    out = asof_join(
        left, right, left_on="event_time", right_on="feature_ts",
        by_left="doc_id", by_right="entity_id", engine=engine,
        salt=2 if engine == "arrow" else 1,
    ).toPandas()
    exp = _oracle(left.toPandas(), right.toPandas())
    _compare(out, exp)


@pytest.mark.parametrize("engine", ["native", "arrow"])
def test_asof_tolerance(spark, frames, engine):
    left, right = frames
    tol = 30 * 86400  # 30 days
    out = asof_join(
        left, right, left_on="event_time", right_on="feature_ts",
        by_left="doc_id", by_right="entity_id", engine=engine,
        tolerance_seconds=tol,
    ).toPandas()
    exp = _oracle(left.toPandas(), right.toPandas(), tolerance=tol)
    _compare(out, exp)


def test_zero_temporal_leakage(spark, frames):
    """Every matched feature_ts must be <= event_time (north rule)."""
    left, right = frames
    out = asof_join(
        left, right, left_on="event_time", right_on="feature_ts",
        by_left="doc_id", by_right="entity_id", keep_match_ts=True,
    )
    leaks = out.filter("matched_ts IS NOT NULL AND matched_ts > event_time").count()
    assert leaks == 0


@pytest.mark.parametrize("engine", ["native", "arrow"])
def test_token_byte_identity(spark, frames, engine):
    """tokens array<int32> must survive the join byte-identically."""
    left, right = frames
    out = asof_join(
        left, right, left_on="event_time", right_on="feature_ts",
        by_left="doc_id", by_right="entity_id", engine=engine,
    )
    assert dict(out.dtypes)["tokens"] == "array<int>"
    src = {
        (r["doc_id"], r["event_time"], r["n_tok"]): r["tokens"]
        for r in left.collect()
    }
    for r in out.collect():
        exp = src[(r["doc_id"], r["event_time"], r["n_tok"])]
        assert np.asarray(r["tokens"], dtype=np.int32).tobytes() == np.asarray(
            exp, dtype=np.int32
        ).tobytes()


def test_forward_direction(spark, frames):
    left, right = frames
    out = asof_join(
        left, right, left_on="event_time", right_on="feature_ts",
        by_left="doc_id", by_right="entity_id", direction="forward",
        keep_match_ts=True,
    )
    bad = out.filter("matched_ts IS NOT NULL AND matched_ts < event_time").count()
    assert bad == 0
    lp = left.toPandas().sort_values("event_time", kind="mergesort")
    rp = right.toPandas().rename(columns={"entity_id": "doc_id"}).sort_values(
        "feature_ts", kind="mergesort"
    )
    exp = pd.merge_asof(
        lp, rp, left_on="event_time", right_on="feature_ts",
        by="doc_id", direction="forward",
    )
    _compare(out.toPandas(), exp)


def test_asof_auto_salt(spark, frames):
    left, right = frames
    out = asof_join(
        left, right, left_on="event_time", right_on="feature_ts",
        by_left="doc_id", by_right="entity_id", engine="arrow", salt="auto",
    ).toPandas()
    exp = _oracle(left.toPandas(), right.toPandas())
    _compare(out, exp)


@pytest.mark.parametrize("tolerance", [None, 30 * 86400])
def test_asof_broadcast_engine(spark, frames, tolerance):
    left, right = frames
    out = asof_join(
        left, right, left_on="event_time", right_on="feature_ts",
        by_left="doc_id", by_right="entity_id", engine="broadcast",
        tolerance_seconds=tolerance,
    ).toPandas()
    exp = _oracle(left.toPandas(), right.toPandas(), tolerance=tolerance)
    _compare(out, exp)


def test_asof_broadcast_no_left_shuffle(spark, frames):
    """The event stream must NOT be exchanged: only a BroadcastExchange of
    the collapsed feature side may appear."""
    left, right = frames
    out = asof_join(
        left, right, left_on="event_time", right_on="feature_ts",
        by_left="doc_id", by_right="entity_id", engine="broadcast",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\((?!entity_id)", plan)
    assert not shuffles, plan[:2000]


def test_asof_broadcast_forward(spark, frames):
    left, right = frames
    out = asof_join(
        left, right, left_on="event_time", right_on="feature_ts",
        by_left="doc_id", by_right="entity_id", engine="broadcast",
        direction="forward", keep_match_ts=True,
    )
    assert out.filter("matched_ts IS NOT NULL AND matched_ts < event_time").count() == 0


def test_asof_engines_agree_multipartition(spark):
    """Regression: cogroup key dtypes must match between sides — a
    bigint/int salt mismatch hash-partitioned the two sides differently
    and silently lost ~60% of matches once data spanned multiple
    partitions (masked at small scale by AQE coalescing to 1 partition)."""
    left = tokenized_sequences(spark, 3000, n_partitions=8)  # tokens keep it >1 partition
    right = feature_source(spark, 3000, points_per_entity=6, n_partitions=8)
    counts = {}
    for eng, salt in [("native", 1), ("arrow", 1), ("arrow", 4), ("broadcast", 1)]:
        j = asof_join(
            left, right, left_on="event_time", right_on="feature_ts",
            by_left="doc_id", by_right="entity_id", engine=eng, salt=salt,
            keep_match_ts=True,
        )
        counts[f"{eng}_salt{salt}"] = j.filter("matched_ts IS NOT NULL").count()
    assert len(set(counts.values())) == 1, counts
    assert next(iter(counts.values())) > 0


def _null_value_frames(spark):
    """Entity ``a``'s latest right row has NULL ``f``/``g`` while an older
    row has values; ``b``'s only row has a NULL ``g``; ``c`` has no right
    rows. ``rid`` names the right row a left row matched."""
    d = pd.Timestamp
    right_rows = [
        ("a", d("2023-01-01"), 1.0, "x", 0),
        ("a", d("2023-02-01"), None, None, 1),
        ("b", d("2023-01-05"), 2.0, None, 2),
        ("b", d("2023-03-05"), None, "z", 3),
    ]
    left_rows = [
        ("a", d("2023-03-01"), 0),
        ("a", d("2023-01-15"), 1),
        ("a", d("2022-12-01"), 2),
        ("b", d("2023-02-01"), 3),
        ("b", d("2023-04-01"), 4),
        ("c", d("2023-01-01"), 5),
    ]
    rp = pd.DataFrame(right_rows, columns=["entity_id", "feature_ts", "f", "g", "rid"])
    lp = pd.DataFrame(left_rows, columns=["doc_id", "event_time", "n"])
    right = spark.createDataFrame(rp).selectExpr(
        "entity_id", "feature_ts", "CAST(f AS DOUBLE) AS f", "g", "CAST(rid AS INT) AS rid"
    )
    left = spark.createDataFrame(lp).selectExpr("doc_id", "event_time", "CAST(n AS INT) AS n")
    return left, right, lp, rp


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("engine", ["native", "arrow", "broadcast"])
def test_asof_null_value_in_matched_row(spark, engine, direction):
    """Every matched column comes from the ONE matched right row: a NULL
    value there stays NULL instead of being filled from an older row
    (pandas merge_asof semantics)."""
    left, right, lp, rp = _null_value_frames(spark)
    got = (
        asof_join(
            left, right, left_on="event_time", right_on="feature_ts",
            by_left="doc_id", by_right="entity_id", engine=engine,
            direction=direction,
        )
        .toPandas()
        .sort_values("n")
        .reset_index(drop=True)
    )
    exp = (
        pd.merge_asof(
            lp.sort_values("event_time"),
            rp.rename(columns={"entity_id": "doc_id"}).sort_values("feature_ts"),
            left_on="event_time", right_on="feature_ts", by="doc_id",
            direction=direction,
        )
        .sort_values("n")
        .reset_index(drop=True)
    )
    assert got["n"].tolist() == exp["n"].tolist()
    assert got["rid"].fillna(-1).astype(int).tolist() == exp["rid"].fillna(-1).astype(int).tolist()
    np.testing.assert_array_equal(
        got["f"].to_numpy(dtype=float), exp["f"].to_numpy(dtype=float)
    )
    assert got["g"].fillna("∅").tolist() == exp["g"].fillna("∅").tolist()

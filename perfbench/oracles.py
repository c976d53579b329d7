"""Expected enrichment results, computed from the generated inputs with
pandas and numpy, outside the engine.

``asof`` is the backward as-of match of every sequence row (latest feature
row of the same entity at or before the event). ``enrich_expect`` turns it,
the rolling features of ``f_ext_num_1`` and the gap sessions into the
aggregates an enrich pass observes on its output (see
``workloads._value_aggs``).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa

from inputs import T2023

VALUE_COLS = ["f_ext_num_1", "f_ext_num_2", "f_ext_num_3"]
ROLL_SPECS = [(7, "D", "mean"), (7, "D", "std"), (30, "D", "max"), (1, "D", "count")]
ROLL_COLS = [f"f_ext_num_1_roll_{n}{unit}_{agg}" for n, unit, agg in ROLL_SPECS]
SESSION_GAP_S = 86400
DAY_S = 86400


def _seconds(col: pa.ChunkedArray) -> np.ndarray:
    return col.cast(pa.int64()).to_numpy() // 1_000_000


def asof(seq: pa.Table, feat: pa.Table) -> pd.DataFrame:
    """One row per sequence row, in input order: ``doc_id``, ``t`` and
    ``n_tok`` of the row, then ``matched_ts`` (epoch seconds, NaN when
    nothing matched) and the matched ``f_ext_num_*``."""
    left = pd.DataFrame({
        "doc_id": seq["doc_id"].to_numpy(zero_copy_only=False),
        "t": _seconds(seq["event_time"]),
        "n_tok": seq["n_tok"].to_numpy(),
        "row": np.arange(seq.num_rows),
    })
    right = pd.DataFrame({
        "doc_id": feat["entity_id"].to_numpy(zero_copy_only=False),
        "t": _seconds(feat["feature_ts"]),
        **{c: feat[c].to_numpy() for c in VALUE_COLS},
    })
    right["matched_ts"] = right["t"].astype("float64")
    out = pd.merge_asof(left.sort_values("t"), right.sort_values("t"), on="t", by="doc_id",
                        direction="backward", allow_exact_matches=True)
    return out.sort_values("row").reset_index(drop=True)


AGGS = {
    "count": len,
    "mean": lambda w: w.mean() if len(w) else np.nan,
    "std": lambda w: w.std(ddof=1) if len(w) > 1 else np.nan,
    "max": lambda w: w.max() if len(w) else np.nan,
}


def _roll(key: np.ndarray, v: np.ndarray, days: int, agg: str) -> np.ndarray:
    """Rolling ``agg`` of ``v`` over each row's window ``(t − days, t]`` on
    ``key`` (group-offset seconds, sorted); nulls are NaN and skipped."""
    lo = np.searchsorted(key, key - days * DAY_S + 1, "left")
    hi = np.searchsorted(key, key, "right")
    fn = AGGS[agg]
    out = np.empty(len(v))
    for i, (a, b) in enumerate(zip(lo, hi)):
        w = v[a:b]
        out[i] = fn(w[~np.isnan(w)])
    return out


def enrich_expect(seq: pa.Table, feat: pa.Table) -> dict[str, int | float]:
    """The output aggregates of ``as-of join → roll_features(ROLL_SPECS, all
    in days) → sessionize(1 day gap, ties on n_tok)``: match count, sum of
    matched times, sum of session ids, and per value column its non-null
    count and sum."""
    m = asof(seq, feat)
    g = pd.factorize(m["doc_id"])[0].astype("int64")
    offset = m["t"].to_numpy() - T2023
    assert offset.min() >= 0 and offset.max() < 2**25
    m["key"] = g * 2**26 + offset  # windows never reach into the previous entity
    m = m.sort_values(["key", "n_tok"], kind="stable").reset_index(drop=True)
    key = m["key"].to_numpy()
    v = m["f_ext_num_1"].to_numpy(dtype="float64")
    cols = {name: _roll(key, v, n, agg) for name, (n, _, agg) in zip(ROLL_COLS, ROLL_SPECS)}
    cols.update({c: m[c].to_numpy(dtype="float64") for c in VALUE_COLS})
    first = np.r_[True, key[1:] // 2**26 != key[:-1] // 2**26]
    new = first | np.r_[True, np.diff(key) > SESSION_GAP_S]
    run = np.cumsum(new)
    session = run - np.maximum.accumulate(np.where(first, run - 1, 0))
    matched = m["matched_ts"].to_numpy()
    out: dict[str, int | float] = {
        "matches": int(np.count_nonzero(~np.isnan(matched))),
        "matched_ts_sum": int(np.nansum(matched)),
        "session_sum": int(session.sum()),
    }
    for c, a in cols.items():
        out[f"{c}__n"] = int(np.count_nonzero(~np.isnan(a)))
        total = np.nansum(a)
        out[f"{c}__sum"] = int(total) if c.endswith("_count") else float(total)
    return out


def close(got: dict, expect: dict, rel: float = 1e-9) -> bool:
    """Every expected aggregate matches: counts and integer sums exactly,
    float sums to ``rel`` (Spark sums in no fixed order)."""
    for k, v in expect.items():
        g = got.get(k)
        if g is None:
            return False
        if isinstance(v, int) and int(g) != v:
            return False
        if isinstance(v, float) and not math.isclose(float(g), v, rel_tol=rel, abs_tol=1e-6):
            return False
    return True

"""Seeded input generators owned by the benchmark.

The engine only ever sees the parquet files written here, so a change to
the engine (or to ``upgini_spark.fixtures``) cannot change what the
benchmark feeds it. Shapes follow the engine's tokenized-sequence
fixture: ``doc_id`` string keys with ~10% of rows on a small hot entity
set, 8..512 int32 tokens per row, one 2023 timestamp per row, train /
eval / OOT segments; the feature source is an irregular per-entity grid
of numeric features over 2022-06..2023-12.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MIN_TOK, MAX_TOK = 8, 512
T2023 = 1672531200  # 2023-01-01 00:00:00 UTC, seconds
T_FEAT0, T_FEAT1 = 1654041600, 1704067199  # 2022-06-01 .. 2023-12-31 23:59:59
SOURCES = np.array(["web", "books", "code", "wiki"])


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64") * 1_000_000, pa.timestamp("us", tz="UTC"))


def _doc_ids(entity: np.ndarray) -> pa.Array:
    return pa.array(np.char.add("doc", np.char.zfill(entity.astype(str), 9)))


def sequences(n: int, seed: int) -> pa.Table:
    """The tokenized-sequence table: ``doc_id, tokens, n_tok, source,
    event_time, eval_set_index, target, target_bin, client_f``."""
    rng = np.random.default_rng([seed, 1])
    n_hot = max(n // 1000, 1)
    entity = np.arange(n)
    hot = rng.random(n) < 0.10
    entity[hot] = rng.integers(0, n_hot, hot.sum())
    n_tok = rng.integers(MIN_TOK, MAX_TOK + 1, n).astype("int32")
    offsets = np.zeros(n + 1, dtype="int32")
    np.cumsum(n_tok, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1])).astype("int32")
    split = rng.integers(0, 100, n)
    eval_set_index = np.where(split < 80, 0, np.where(split < 95, 1, 2)).astype("int32")
    target = np.sin(rng.integers(0, 100_000, n) / 1000.0)
    return pa.table({
        "doc_id": _doc_ids(entity),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
        "n_tok": pa.array(n_tok),
        "source": pa.array(SOURCES[rng.integers(0, 4, n)]),
        "event_time": _ts(T2023 + rng.integers(0, 365 * 86400, n)),
        "eval_set_index": pa.array(eval_set_index),
        "target": pa.array(target, mask=eval_set_index == 2),
        # lifecycle columns: a binary target the client feature predicts
        "target_bin": pa.array((n_tok % 2).astype("int32")),
        "client_f": pa.array((n_tok % 97).astype("float64")),
    })


def features(n_entities: int, seed: int, points_per_entity: int = 8,
             hit_rate: float = 0.85) -> pa.Table:
    """The feature source: ``entity_id, feature_ts, f_ext_num_1..3,
    f_ext_cat``, unique on ``(entity_id, feature_ts)``."""
    rng = np.random.default_rng([seed, 2])
    present = np.flatnonzero(rng.random(n_entities) < hit_rate)
    ent = np.repeat(present, points_per_entity)
    k = np.tile(np.arange(points_per_entity), len(present))
    ts = rng.integers(T_FEAT0, T_FEAT1 + 1, len(ent))
    _, keep = np.unique(np.stack([ent, ts]), axis=1, return_index=True)
    ent, k, ts = ent[keep], k[keep], ts[keep]

    def walk() -> np.ndarray:
        level = rng.integers(0, 1000, n_entities)[ent] / 100.0
        slope = rng.integers(0, 200, n_entities)[ent] / 100.0 - 1.0
        return np.round(level + k * slope + rng.integers(0, 100, len(ent)) / 100.0, 4)

    return pa.table({
        "entity_id": _doc_ids(ent),
        "feature_ts": _ts(ts),
        "f_ext_num_1": pa.array(walk()),
        "f_ext_num_2": pa.array(walk()),
        "f_ext_num_3": pa.array(walk()),
        "f_ext_cat": pa.array(np.array(list("ABCD"))[rng.integers(0, 4, len(ent))]),
    })


def write(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``
    so a scan splits into that many tasks."""
    import os

    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:03d}.parquet")

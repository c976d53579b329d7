"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline; random-hyperplane
LSH bucketing as the scale path (bucketing turns the O(N·M) cross join
into per-bucket joins — at 10^12 rows the bucket key is the shuffle key).
Planes are derived deterministically from md5 bits, so results are
reproducible and oracle-checkable without storing plane matrices.
"""

from __future__ import annotations

import math
import sys
from typing import Any, NamedTuple

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from upgini_spark import util
from upgini_spark.operators.binary import _dot, _norm2, cosine_similarity
from upgini_spark.util import local_frame


def _staged_cos(a_vec: str, b_vec: str, a_norm: str, b_norm: str):
    """Pairwise cosine with the per-side norms STAGED as columns before
    the join (see _nearest_cell's docstring): identical float expression
    to ``cosine_similarity`` — sqrt(Σv²) per side, one multiply, one
    divide — but each side's aggregate runs once per ROW instead of once
    per PAIR (3 array aggregates → 1 on every join-scoring path)."""
    denom = F.col(a_norm) * F.col(b_norm)
    return F.when(denom != 0, _dot(F.col(a_vec), F.col(b_vec)) / denom)


def _top_k(scored: DataFrame, score: str, k: int, n_id: str = "n_id") -> DataFrame:
    """The tail of every top-k search here: each query's ``k`` best
    candidates of ``scored`` ranked by (``score`` desc, ``n_id`` asc),
    output as (q_id, n_id, score rounded to 6 dp, rank)."""
    w = Window.partitionBy("q_id").orderBy(F.col(score).desc(), F.col(n_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", F.col(n_id).alias("n_id"), F.round(score, 6).alias(score), "rank"
        )
    )


def auto_n_planes(
    n_rows: int, target_bucket_rows: int = 64, min_planes: int = 8
) -> int:
    """Size the hyperplane family so the EXPECTED bucket stays joinable:
    ``n_planes = max(min, ceil(log2(N / target_bucket_rows)))`` — then
    N / 2^n_planes <= target_bucket_rows at any N, so the per-bucket
    self-join cost is bounded as the corpus grows (the round-2 gap:
    a fixed 8 planes = 256 buckets melts down at 10^9+ rows)."""
    if n_rows <= target_bucket_rows:
        return min_planes
    return max(min_planes, math.ceil(math.log2(n_rows / target_bucket_rows)))


def auto_n_cells(n_rows: int, min_cells: int = 8, max_cells: int = 65_536) -> int:
    """IVF cell count ≈ sqrt(N): per-cell candidate lists are O(sqrt(N))
    and the centroid table stays broadcastable (capped)."""
    return min(max_cells, max(min_cells, math.ceil(math.sqrt(max(n_rows, 1)))))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors by cosine (desc, id asc tie-break). The small
    query side should be broadcast (Catalyst does for a filtered query set)."""
    q = queries.select(
        F.col(query_id).alias("q_id"), F.col(query_vec).alias("q_vec"),
        _norm2(F.col(query_vec)).alias("__qn__"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("n_id"), F.col(corpus_vec).alias("n_vec"),
        _norm2(F.col(corpus_vec)).alias("__nn__"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", _staged_cos("q_vec", "n_vec", "__qn__", "__nn__"))
    )
    return _top_k(scored, "cos", k)


def _plane_sign(p: int, d: int) -> float:
    """+1.0 if the first hex digit of md5(f"{p}_{d}") >= '8' else -1.0 —
    the exact value the DuckDB oracles derive in SQL (knn_cosine_lsh
    planes CTE), computed driver-side so plans carry only literals."""
    import hashlib

    return 1.0 if hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0] >= "8" else -1.0


def hyperplane_sign_bits(
    vec_col: str, n_planes: int = 8, dims: int = 64, plane_offset: int = 0
) -> F.Column:
    """LSH bucket key: concat of sign(v · plane_p) bits, where
    plane_p[d] = +1 if the first md5 hex digit of "p_d" >= '8' else −1.
    Deterministic, engine-portable, no stored state. ``plane_offset``
    selects an independent plane family (band b uses offset b*n_planes).

    Scale rule: bucket count is 2^n_planes — size n_planes ≈
    log2(N / target_bucket_rows) so buckets stay joinable; a fixed 8
    planes = 256 global buckets is NOT enough at 10^9+ rows."""
    v = F.col(vec_col)
    bits = []
    for p in range(plane_offset, plane_offset + n_planes):
        # Plane signs are pure functions of (p, d): evaluate the md5 bit
        # in PYTHON (bit-identical to the SQL form the oracles replay) and
        # ship one literal array per plane. The previous per-dim
        # when(md5(substring)) chain built n_bands*n_planes*dims nested
        # nodes (1024 at 2x8x64) that the optimizer constant-folded on
        # EVERY plan compile — a measured 6x wall-time cliff at sf0.1
        # (BENCH/BASELINE.md round-4 note).
        signs = F.array(*[F.lit(_plane_sign(p, d)) for d in range(dims)])
        dot = F.aggregate(
            F.zip_with(v, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _banded(df: DataFrame, id_alias: str, vec_alias: str, id_col: str, vec_col: str,
            n_planes: int, n_bands: int, dims: int,
            norm_alias: str | None = None) -> DataFrame:
    """Explode a table into (band, bucket) candidate rows — one row per
    band, each with an independent plane family. Multi-band OR-probing:
    a pair collides if ANY band agrees, recall 1-(1-p^b)^L.
    ``norm_alias`` additionally stages the vector's L2 norm (computed
    once per input row, BEFORE the band explode) for _staged_cos."""
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            hyperplane_sign_bits(vec_col, n_planes, dims, plane_offset=b * n_planes).alias("bucket"),
        )
        for b in range(n_bands)
    ])
    extra = [_norm2(F.col(vec_col)).alias(norm_alias)] if norm_alias else []
    keep = [id_alias, vec_alias] + ([norm_alias] if norm_alias else [])
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        *extra,
        F.explode(bands).alias("bb"),
    ).select(*keep, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
    n_planes: int | None = 8,
    dims: int = 64,
    n_bands: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket(s), then exact cosine rank within the candidate set. The
    (band, bucket) equi-join replaces the cross join — this is the 100TB
    plan. ``n_bands`` > 1 unions independent plane families (multi-probe
    OR) for recall; duplicates collapse before ranking.

    ``n_planes=None`` auto-sizes from the corpus count via
    :func:`auto_n_planes`, keeping the expected bucket at its default
    64 rows as N grows."""
    if n_planes is None:
        n_planes = auto_n_planes(corpus.count())
    q = _banded(queries, "q_id", "q_vec", query_id, query_vec, n_planes,
                n_bands, dims, norm_alias="__qn__")
    c = _banded(corpus, "n_id", "n_vec", corpus_id, corpus_vec, n_planes,
                n_bands, dims, norm_alias="__nn__")
    scored = (
        q.join(c, on=["band", "bucket"])
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", _staged_cos("q_vec", "n_vec", "__qn__", "__nn__"))
        .select("q_id", "n_id", "cos")
        .distinct()  # same pair may collide in several bands
    )
    return _top_k(scored, "cos", k)


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int | None = 8,
    n_bands: int = 4,
    dims: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs through banded hyperplane LSH —
    the scale path for dedup.embedding_near_dup_pairs (whose all-pairs
    form is an O(N²) BroadcastNestedLoopJoin).

    Per band: bucket self-join (equi-join on the 2^n_planes-way key),
    id_a < id_b, exact cosine ≥ threshold. Bands are OR-ed and duplicate
    pairs collapsed. For sign-LSH the per-plane agree probability is
    1 − acos(cos)/π, so at 0.95+ thresholds a handful of bands gives
    ~certain recall (miss = (1−p^b)^L). Giant identical buckets are
    still quadratic in bucket size — ``n_planes=None`` auto-sizes via
    :func:`auto_n_planes` so the EXPECTED bucket stays at its default 64
    rows as N grows (identical-vector clusters remain quadratic by
    nature; cap them upstream with exact dedup first).
    """
    if n_planes is None:
        n_planes = auto_n_planes(df.count())
    # materialize the banded frame ONCE: the bucket SELF-join consumes it
    # as both sides and neither static ReuseExchange nor AQE stage reuse
    # fires for the aliased twin, so the n_bands × n_planes sign-bit dot
    # products (and any upstream spread) otherwise compute twice
    # (measured 2.1 → 1.6 s at 20k×64, outputs identical)
    banded = util.materialize(_banded(df, "id_a", "va", id_col, vec_col,
                                      n_planes, n_bands, dims,
                                      norm_alias="__an__"))
    other = banded.select(
        F.col("id_a").alias("id_b"), F.col("va").alias("vb"),
        F.col("__an__").alias("__bn__"), "band", "bucket",
    )
    return (
        banded.join(other, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _staged_cos("va", "vb", "__an__", "__bn__"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
        .distinct()
    )


# The Arrow kernels' closures call the module-level folds below: pickle
# this module by value, so Python workers need not import upgini_spark.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _fold_sum(terms):
    """Left fold ``acc = acc + t`` over ``terms`` in order — the IEEE
    sequence of Spark's ``F.aggregate`` in ``_dot`` / ``_norm2`` /
    ``_l2sq`` when each term is one dimension. numpy rounds every
    multiply and add separately (no FMA), so folding whole columns of a
    row matrix gives each row's bit-exact Spark value; ``np.dot``,
    ``einsum`` and ``sum`` reorder the additions and do not."""
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


def _fold_nearest(V, cells, l2=False):
    """Nearest of ``cells`` — (id, vector) pairs, ascending ids — for
    every row of the (n × dim) float64 matrix ``V``: argmax cosine, or
    argmin squared L2 when ``l2``. Returns per-row (cell id, score,
    NULL mask); the score is the winning cosine or L2 distance.

    Each (row, cell) score is Spark's: NULL when the cell's length is
    not ``dim`` (``zip_with`` pads with NULL) or, for cosine, when the
    norm product is 0. The winner is Spark's struct order kept as one
    max over (class, score): cosine is ``max(struct(s, -cell))`` — NULL
    lowest, NaN highest; L2 is ``min(struct(d, cell))`` — NULL wins, NaN
    loses — taken as the max of the negated pair (negation is exact).
    Cells run ascending and only a strictly greater pair takes over, so
    every tie goes to the smallest id."""
    import numpy as np

    n, dim = V.shape
    null_cls, nan_cls = (3, 0) if l2 else (0, 3)
    if not l2:
        vn = np.sqrt(_fold_sum(x * x for x in V.T))
    best_cls = np.full(n, -1, dtype=np.int8)
    best_s = np.full(n, np.nan)
    best_cell = np.full(n, cells[0][0] if cells else 0, dtype=np.int64)
    for c_id, cv in cells:
        if len(cv) != dim:
            null, s = True, np.nan
        elif l2:
            null = False
            s = -_fold_sum(t * t for t in (x - c for x, c in zip(V.T, cv)))
        else:
            denom = vn * math.sqrt(_fold_sum(c * c for c in cv))
            with np.errstate(divide="ignore", invalid="ignore"):
                s = _fold_sum(x * c for x, c in zip(V.T, cv)) / denom
            null = denom == 0.0
            # a NULL score is NaN here, so two NULLs never compare greater
            s = np.where(null, np.nan, s)
        cls = np.where(null, null_cls, np.where(np.isnan(s), nan_cls, 2))
        take = (cls > best_cls) | ((cls == best_cls) & (s > best_s))
        best_cls = np.where(take, cls, best_cls)
        best_s = np.where(take, s, best_s)
        best_cell = np.where(take, c_id, best_cell)
    return best_cell, -best_s if l2 else best_s, best_cls == null_cls


def _arrow_vectors(col):
    """An Arrow list column (one batch of a vector column) as the tuple
    ``(values, nulls, starts, lens)`` that :func:`_nearest` reads: the
    flat float64 element values, the running count of NULL elements
    (``values[s:e]`` holds ``nulls[e] - nulls[s]`` of them), and each
    row's start and length (-1 for a NULL row). The kernels read Arrow,
    not pandas: pandas turns a NULL element into NaN, and the two score
    differently (NULL vs NaN) in Spark's folds."""
    import numpy as np

    offsets = col.offsets.to_numpy().astype(np.int64)
    child = col.values
    values = child.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    nulls = np.concatenate(
        ([0], np.cumsum(child.is_null().to_numpy(zero_copy_only=False)))
    )
    lens = np.diff(offsets)
    lens[col.is_null().to_numpy(zero_copy_only=False)] = -1
    return values, nulls, offsets[:-1], lens


def _slice(vecs, lo, width):
    """Every row's ``v[lo:lo + width]`` of an :func:`_arrow_vectors`
    tuple — short slices for short rows, a NULL row stays NULL (Spark's
    ``slice``)."""
    import numpy as np

    values, nulls, starts, lens = vecs
    n = np.maximum(lens, 0)
    return (
        values, nulls, starts + np.minimum(lo, n),
        np.where(lens < 0, -1, np.clip(n - lo, 0, width)),
    )


def _nearest(vecs, cells, l2=False):
    """:func:`_fold_nearest` over the ragged rows of an
    :func:`_arrow_vectors` tuple. Rows are grouped by their own length,
    so each row is scored against every cell exactly as Spark scores the
    pair — never padded to, or judged against, the batch's longest row.
    A NULL row, or one holding a NULL element, scores NULL against every
    cell (``_dot`` / ``_l2sq`` fold the NULL product into the sum) and so
    takes the smallest cell id."""
    import numpy as np

    values, nulls, starts, lens = vecs
    n = len(lens)
    ends = starts + np.maximum(lens, 0)
    lens = np.where(nulls[ends] > nulls[starts], -1, lens)
    cell = np.full(n, cells[0][0] if cells else 0, dtype=np.int64)
    score = np.full(n, np.nan)
    null = np.ones(n, dtype=bool)
    for dim in np.unique(lens[lens >= 0]):
        idx = np.flatnonzero(lens == dim)
        V = values[starts[idx, None] + np.arange(dim)]
        cell[idx], score[idx], null[idx] = _fold_nearest(V, cells, l2)
    return cell, score, null


def _cells(rows) -> list[tuple[int, list[float]]]:
    """(cell, cvec) rows as ascending (id, vector) pairs for the folds."""
    return sorted((int(r["cell"]), [float(x) for x in r["cvec"]]) for r in rows)


# Arrow-kernel dispatch threshold of _nearest_cell — the distributed
# Lloyd loop's assignment and the IVF corpus assignment; it selects
# nothing else (the PQ subcell assignment and the index encode always
# run their kernels). The mapInArrow assignment pays a fixed
# Python/Arrow toll per stage, so it only wins when the per-row score
# work is big enough: 142 cells x 64 dims (9088 mul-adds/row) ran 2.6 s
# JVM vs 1.6 s kernel at sf1.0. That crossover was measured at
# local[32] and has not been re-measured at 4 cores.
_KERNEL_MIN_WORK = 4096


def _nearest_cell(df: DataFrame, cent: DataFrame, vec_col: str) -> DataFrame:
    """Nearest-centroid assignment via a broadcast join + struct-max
    aggregation (map-side combinable — no per-row window shuffle):
    argmax cosine, ties to the SMALLEST cell id. ``cent`` must have
    columns (cell int, cvec array<double>) and be broadcast-small.

    The vector rides INSIDE the max struct rather than the grouping key —
    hashing a wide array per (row × cell) would dominate the agg at
    scale; (s, nc) is unique within a group, so the vector field is never
    actually compared. Rows sharing the non-vector keys collapse to one
    assignment (ids are expected unique).

    Norms are STAGED per row / per centroid BEFORE the crossJoin (the r4
    higher-order-lambda lesson applied to joins). When the per-row score
    work is heavy enough to amortize the Python boundary
    (cells × dims ≥ _KERNEL_MIN_WORK), the per-row winners are instead
    computed in the bit-exact Arrow kernel :func:`_nearest_cell_kernel`.
    Both paths produce identical scores and ties."""
    rows = sorted(
        cent.select("cell", "cvec").collect(), key=lambda r: int(r["cell"])
    )
    dim = len(rows[0]["cvec"]) if rows else 0
    keys = [c for c in df.columns if c != vec_col]
    if len(rows) * dim >= _KERNEL_MIN_WORK:
        scored = _nearest_cell_kernel(df, rows, vec_col)
    else:
        dfn = df.withColumn("__vn__", _norm2(F.col(vec_col)))
        centn = cent.withColumn("__cn__", _norm2(F.col("cvec")))
        denom = F.col("__vn__") * F.col("__cn__")
        scored = dfn.crossJoin(F.broadcast(centn)).withColumn(
            "__s__",
            F.when(denom != 0, _dot(F.col(vec_col), F.col("cvec")) / denom),
        )
    # the kernel's per-row winners fold through the same struct-max (max
    # over per-row maxes == max over all (row × cell) pairs)
    best = scored.groupBy(*keys).agg(
        F.max(
            F.struct(
                F.col("__s__").alias("s"),
                (-F.col("cell")).alias("nc"),
                F.col(vec_col).alias("v"),
            )
        ).alias("__b__")
    )
    return best.select(
        *keys,
        F.col("__b__.v").alias(vec_col),
        (-F.col("__b__.nc")).cast("int").alias("cell"),
    )


def _nearest_cell_kernel(df: DataFrame, rows: list, vec_col: str) -> DataFrame:
    """Per-row winners of :func:`_nearest_cell` — (keys…, vec, __s__,
    cell) — from an Arrow ``mapInArrow`` kernel over the collected
    (cell, cvec) ``rows`` (guide §4.2: hand whole batches to vectorized
    numpy instead of evaluating k interpreted higher-order dot-folds
    per row; measured ~8× on the 20k×142 assignment at sf1.0). Scores
    and ties are bit-identical to the JVM form (:func:`_fold_nearest`)."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    keys = [c for c in df.columns if c != vec_col]
    cells = _cells(rows)
    out_schema = StructType(
        [df.schema[k] for k in keys]
        + [
            df.schema[vec_col],
            StructField("__s__", DoubleType(), True),
            StructField("cell", IntegerType(), True),
        ]
    )

    def assign(batches):
        import pyarrow as pa

        if not cells:
            return
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cell, s, null = _nearest(_arrow_vectors(rb.column(vec_col)), cells)
            yield pa.RecordBatch.from_arrays(
                [rb.column(k) for k in keys]
                + [
                    rb.column(vec_col),
                    pa.array(s, mask=null),
                    pa.array(cell.astype("int32")),
                ],
                names=out_schema.names,
            )

    return df.mapInArrow(assign, out_schema)


_DRIVER_FIT_ELEMS = 16_000_000  # sample rows × dims ceiling for driver-side fits
_SAMPLE_CAP = 100_000  # fit-sample rows: Lloyd fits need a sample, not the corpus
_ROUND_DP = 9  # Lloyd-mean rounding quantum (the DuckDB oracles replay 9 dp)


def _round_half_up(v: float, dp: int) -> float:
    """Replicate Spark's ROUND(double, dp): HALF_UP over the SHORTEST
    round-trip decimal representation (java ``BigDecimal.valueOf`` ==
    ``Double.toString``; Python ``repr()`` is the same shortest
    correctly-rounded decimal), so the driver-side Lloyd means round to
    exactly the bits ``F.round`` produces."""
    import decimal
    from decimal import ROUND_HALF_UP, Decimal

    if v != v or v == float("inf") or v == float("-inf"):
        return v
    with decimal.localcontext() as ctx:
        ctx.prec = 400  # |double| ≤ ~1e308: never trimmed at any dp
        r = float(
            Decimal(repr(v)).quantize(Decimal(1).scaleb(-dp), ROUND_HALF_UP)
        )
    # java BigDecimal has no signed zero: F.round(-0.0 / -tiny) = +0.0,
    # python Decimal keeps the sign — normalize (the driver hash sees
    # the sign bit; the CLAUDE.md -0.0 class)
    return r + 0.0 if r == 0.0 else r


class FitInput(NamedTuple):
    """The one input of the Lloyd fits (:func:`kmeans_centroids`,
    :func:`pq_codebooks`), made only by :func:`collect_fit_matrix`: the
    corpus row count ``n``, the checkpointed (__fid__, __fv__) fit
    ``sample``, its first md5-ordered vectors (``seeds``) and the
    (rows × dim) float64 ``matrix`` of a clean driver-bounded sample —
    None for any other sample, which sends the fits to their distributed
    loops. Seeds and matrix come from one collect, so they always
    describe the same sample."""

    n: int
    sample: DataFrame
    seeds: list
    matrix: Any


def collect_fit_matrix(
    sample: tuple[int, DataFrame], n_seed: int, dim: int | None = None
) -> FitInput:
    """The :class:`FitInput` of :func:`fit_vector_sample`'s ``(count,
    sample)`` from ONE Arrow collect of the sample's
    ``(md5(cast(__fid__ as string)), __fid__, __fv__)``: the first
    ``n_seed`` vectors in :func:`_seed_vecs` order and the sample matrix
    the driver-side fits (:func:`_lloyd_driver`) run on — one job where
    the seed TakeOrdered, a cleanliness agg and a ``toPandas`` used to
    run three.

    The matrix is kept only for a CLEAN sample — no NULL vector, no NULL
    element, one length — decided on the Arrow arrays (pandas would read
    a NULL element as NaN; Spark's avg SKIPS null elements, a dense
    matrix cannot, while NaN flows through both paths identically), and
    a driver-bounded one: n × dim ≤ ``_DRIVER_FIT_ELEMS`` (16M elements
    ≈ 128 MB, the driver-bound spirit of the ≤100k metrics collect and
    the ≤1M-edge union-find dispatch). The bound holds before anything
    is shipped: a vector longer than ``_DRIVER_FIT_ELEMS // n`` is
    collected as NULL (so the sample reads as not clean), and a known
    ``dim`` past the bound skips the collect. Otherwise the matrix is
    None and the seeds come from :func:`_seed_vecs`.

    Seeds are sorted on the driver in Spark's ``(md5 asc NULLS FIRST, id
    asc)`` order with a stable sort on the md5 alone: the md5 is of the
    id's string form, so rows with one md5 share one id and the id key
    never reorders them; full ties keep collect order (Spark leaves
    their order unspecified)."""
    import pyarrow.compute as pc

    n, fsample = sample
    n_sample = min(n, _SAMPLE_CAP)
    if n_sample <= 0:
        return FitInput(n, fsample, [], None)
    if dim is not None and (dim <= 0 or n_sample * dim > _DRIVER_FIT_ELEMS):
        return FitInput(n, fsample, _seed_vecs(fsample, n_seed), None)
    fv = F.col("__fv__")
    table = fsample.select(
        F.md5(F.col("__fid__").cast("string")).alias("__h__"),
        "__fid__",
        F.when(F.size(fv) <= _DRIVER_FIT_ELEMS // n_sample, fv).alias("__fv__"),
    ).toArrow()
    rows = table.num_rows
    if rows == 0:
        return FitInput(n, fsample, [], None)
    values, nulls, starts, lens = _arrow_vectors(table.column("__fv__").combine_chunks())
    width, lo = int(lens[0]), int(starts[0])
    hi = lo + rows * width
    if (
        width <= 0
        or (lens != width).any()
        or nulls[hi] != nulls[lo]
        or rows * width > _DRIVER_FIT_ELEMS
    ):
        return FitInput(n, fsample, _seed_vecs(fsample, n_seed), None)
    matrix = values[lo:hi].reshape(rows, width)
    order = pc.sort_indices(
        table, sort_keys=[("__h__", "ascending")], null_placement="at_start"
    ).to_numpy()
    return FitInput(n, fsample, [matrix[i] for i in order[:n_seed]], matrix)


def _lloyd_driver(V, books, n_iter, l2):
    """``n_iter`` driver-side Lloyd steps — the numpy form of the
    distributed loops in :func:`kmeans_centroids` (one book, cosine)
    and :func:`pq_codebooks` (one book per subspace, L2), engaged by
    :func:`collect_fit_matrix`. Book j owns the j-th equal column block
    of the sample matrix ``V``: each step assigns the block's rows with
    :func:`_fold_nearest` and moves every cell to the per-dim mean of
    its rows, rounded HALF_UP like ``F.round`` (summation-order
    differences are absorbed by the ``_ROUND_DP`` quantum — the
    documented partition-invariance contract). Cells that lose every
    point drop out; ids stay sparse ascending."""
    dm = V.shape[1] // len(books)
    blocks = [V[:, j * dm:(j + 1) * dm] for j in range(len(books))]
    for _ in range(n_iter):
        new_books = []
        for S, cells in zip(blocks, books):
            cell = _fold_nearest(S, cells, l2)[0]
            book = []
            for c_id, _cv in cells:
                mask = cell == c_id
                cnt = int(mask.sum())
                if cnt:
                    mean = S[mask].sum(axis=0) / cnt
                    book.append(
                        (c_id, [_round_half_up(float(x), _ROUND_DP) for x in mean])
                    )
            new_books.append(book)
        books = new_books
    return books


def _seed_vecs(fsample: DataFrame, n: int) -> list:
    """The first ``n`` fit-sample vectors in (md5(id), id) order — the
    deterministic, engine-portable seed of every Lloyd fit (any SQL
    engine picks the same rows)."""
    return list(
        fsample.orderBy(F.md5(F.col("__fid__").cast("string")), F.col("__fid__"))
        .limit(n)
        .select("__fv__")
        .toPandas()["__fv__"]
    )


def _check_dense(n_rows: int, m: int, k_sub: int) -> None:
    """Density contract (r5 advice): the ADC table lookup indexes ptab
    by jx*k_sub + code + 1, assuming every subspace keeps exactly k_sub
    cells — a Lloyd step that empties a cell (e.g. duplicate seed
    subvectors) would silently shift every later subspace's lookups (or
    raise INVALID_ARRAY_INDEX under ANSI). Fail loudly at build time."""
    if n_rows != m * k_sub:
        raise ValueError(
            f"PQ codebook collapsed to {n_rows} (sub, cell) rows, "
            f"expected m*k_sub = {m * k_sub}: a Lloyd step emptied a "
            "codebook cell (duplicate seed subvectors?) — lower k_sub "
            "or dedup the training vectors"
        )


def fit_vector_sample(
    corpus: DataFrame, id_col: str, vec_col: str
) -> tuple[int, DataFrame]:
    """(count, eager-checkpointed ≤``_SAMPLE_CAP``-row (__fid__, __fv__)
    training sample), the md5-smallest ids — what
    :func:`collect_fit_matrix` turns into the fits' :class:`FitInput`,
    split out so :func:`build_ivf_pq_index` counts and materializes the
    corpus ONCE instead of once per fit (each count + checkpoint is a
    full corpus scan — two redundant jobs per index build)."""
    from upgini_spark.functions.sampling import hash_sample_exact

    n = corpus.count()
    s = corpus.select(
        F.col(id_col).alias("__fid__"), F.col(vec_col).alias("__fv__")
    )
    if n > _SAMPLE_CAP:
        s = hash_sample_exact(s, _SAMPLE_CAP, ["__fid__"])
    # the sample feeds ~5 jobs (init + per-iteration assign/update) —
    # materialize once so the corpus scan / top-n sort never re-executes;
    # bounded by _SAMPLE_CAP rows.  Coalesce to ~6.25k rows/partition
    # first: the fit stages are tiny (≤_SAMPLE_CAP rows) but inherit the
    # CORPUS partitioning, so every Lloyd assign/update stage otherwise
    # schedules a full task wave (32 Arrow-kernel tasks for a 2k-row
    # sample — measured 2.3→1.0 s on the two overlapped IVF+PQ fits at
    # sf0.1), while a single partition serializes the one genuinely
    # compute-heavy stage (the per-row assign: a 20k-row sample ran its
    # 20k×cells×dims fold on ONE core — 1.1-1.8 s that 4 partitions cut
    # ~4×).  Input-adaptive, not a core-count constant: a 2k sample still
    # fits one partition, the 100k cap gets 16 on any cluster, and
    # coalesce beyond the current partition count is a no-op.  Partition
    # count does not change results: the 9dp round absorbs summation-
    # order noise (the documented partition-invariance contract).
    parts = max(1, -(-min(n, _SAMPLE_CAP) // 6_250))
    return n, util.materialize(s.coalesce(parts))


def _lloyd_means(assigned: DataFrame, keys: list[str], vec_col: str) -> list:
    """One distributed Lloyd update: the per-(keys…, dim) mean of the
    assigned vectors rounded to ``_ROUND_DP``, collected as (keys…,
    cvec) rows — one row per cell, so each Lloyd step is one job. The
    last key is the cell id."""
    per_dim = (
        assigned.select(*keys, F.posexplode(vec_col).alias("dim", "x"))
        .groupBy(*keys, "dim")
        .agg(F.round(F.avg("x"), _ROUND_DP).alias("m"))
    )
    return (
        per_dim.groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("cvec")
        )
        .select(*keys[:-1], F.col(keys[-1]).cast("int"), "cvec")
        .collect()
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int | None = None,
    n_iter: int = 2,
    fit: FitInput | None = None,
) -> DataFrame:
    """Deterministic Lloyd-refined IVF centroids as a (cell, cvec)
    DataFrame. Init = the ``n_cells`` vectors with the smallest md5(id),
    then ``n_iter`` Lloyd steps: assign → per-dim mean → round to
    ``_ROUND_DP`` decimals. Seeds and fit sample come from one
    :func:`collect_fit_matrix` collect (``fit``: built here when not
    given; :func:`build_ivf_pq_index` shares one between this fit and
    :func:`pq_codebooks`). When the sample is clean and driver-bounded
    the whole Lloyd loop runs in numpy on the driver
    (:func:`_lloyd_driver` — a chain of ~2 tiny Spark jobs per iteration
    becomes zero), with the distributed loop for ragged/oversized
    samples. With ``n_iter=0`` and no ``fit`` the seeds are the
    centroids: one TakeOrdered job over the corpus, no sample (the
    md5-smallest ids of the corpus lead its sample too).

    Every step is engine-portable and SQL-replayable: the rounding
    quantum (1e-9) dwarfs float-summation order noise (~1e-12 for 1e5-row
    cells), so Spark and DuckDB converge to bit-identical centroids.
    Training runs on an md5 sample capped at ``_SAMPLE_CAP`` rows (k-means
    needs a representative sample, not the corpus); the full corpus is
    only touched by the single final assignment in the caller.
    ``n_cells=None`` auto-sizes to ~sqrt(N) via :func:`auto_n_cells`.
    Cells that lose every point drop out (ids stay sparse, consistently
    on both engines)."""
    if fit is None and n_iter == 0:
        if n_cells is None:
            n_cells = auto_n_cells(corpus.count())
        seeds = _seed_vecs(
            corpus.select(
                F.col(id_col).alias("__fid__"), F.col(vec_col).alias("__fv__")
            ),
            n_cells,
        )
    else:
        if fit is None:
            n, fsample = fit_vector_sample(corpus, id_col, vec_col)
            n_cells = auto_n_cells(n) if n_cells is None else n_cells
            fit = collect_fit_matrix((n, fsample), n_cells)
        elif n_cells is None:
            n_cells = auto_n_cells(fit.n)
        seeds = fit.seeds
    cents = [(i, [float(x) for x in v]) for i, v in enumerate(seeds[:n_cells])]
    spark = corpus.sparkSession
    schema = "cell int, cvec array<double>"
    if n_iter == 0 or not cents:
        return local_frame(spark, cents, schema)
    if fit.matrix is not None:
        (cents,) = _lloyd_driver(fit.matrix, [cents], n_iter, l2=False)
        return local_frame(spark, cents, schema)
    sample = fit.sample.select(
        F.col("__fid__").alias("__kid__"), F.col("__fv__").alias("__kv__")
    )
    cent_df = local_frame(spark, cents, schema)
    for _ in range(n_iter):
        assigned = _nearest_cell(sample, cent_df, "__kv__")
        cent_df = local_frame(spark, _lloyd_means(assigned, ["cell"], "__kv__"), schema)
    return cent_df


def _probe_cells(
    queries: DataFrame, query_id: str, query_vec: str, cent: DataFrame, n_probe: int
) -> DataFrame:
    """(q_id, q_vec, __qn__, cell) for each query's ``n_probe`` nearest
    ``cent`` cells: the query × broadcast-centroid staged cosine, ranked
    by (score desc, cell asc)."""
    q = queries.select(
        F.col(query_id).alias("q_id"), F.col(query_vec).alias("q_vec"),
        _norm2(F.col(query_vec)).alias("__qn__"),
    )
    qs = q.crossJoin(
        F.broadcast(cent.withColumn("__cn__", _norm2(F.col("cvec"))))
    ).withColumn("__s__", _staged_cos("q_vec", "cvec", "__qn__", "__cn__"))
    w = Window.partitionBy("q_id").orderBy(F.col("__s__").desc(), F.col("cell").asc())
    return (
        qs.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= n_probe)
        .select("q_id", "q_vec", "__qn__", "cell")
    )


def cosine_topk_ivf_kmeans(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int = 2,
    n_iter: int = 2,
    cell_cap: int | None = None,
) -> DataFrame:
    """IVF approximate top-k with Lloyd-refined, auto-sized centroids:
    the corpus is partitioned into cells by nearest centroid; each query
    probes its ``n_probe`` nearest cells and ranks exactly within the
    candidates — the cell equi-join replaces the cross join. Centroids
    live in a broadcast DataFrame, so cells ≈ sqrt(N) works at any corpus
    size. ``n_iter=0`` keeps the md5-sampled seeds as centroids (see
    :func:`kmeans_centroids`).

    ``cell_cap`` bounds the WORST-CASE per-query candidate list at
    ``n_probe × cell_cap`` even under cell skew (a hot cell with ≫ √N
    members would otherwise blow up every query that probes it): each
    cell keeps only its ``cell_cap`` members most similar to the cell
    centroid (a static index-build rank — one broadcast join + one
    per-cell window, fully distributed). Rows cut from a cell are lost
    to recall exactly like standard IVF list truncation; the recall
    trade is measured in tests/test_round4_fixes.py
    (test_ivf_cell_cap_bounds_and_recall)."""
    cent = kmeans_centroids(
        corpus, corpus_id, corpus_vec, n_cells=n_cells, n_iter=n_iter,
    )
    c = _nearest_cell(
        corpus.select(
            F.col(corpus_id).alias("n_id"), F.col(corpus_vec).alias("n_vec")
        ),
        cent,
        "n_vec",
    )
    if cell_cap is not None:
        wc = Window.partitionBy("cell").orderBy(
            F.col("__cs__").desc(), F.col("n_id").asc()
        )
        c = (
            c.join(F.broadcast(cent), on="cell")
            .withColumn("__cs__", cosine_similarity(F.col("n_vec"), F.col("cvec")))
            .withColumn("__cr__", F.row_number().over(wc))
            .filter(F.col("__cr__") <= cell_cap)
            .select("n_id", "n_vec", "cell")
        )
    q = _probe_cells(queries, query_id, query_vec, cent, n_probe)
    scored = (
        q.join(c.withColumn("__nn__", _norm2(F.col("n_vec"))), on="cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", _staged_cos("q_vec", "n_vec", "__qn__", "__nn__"))
        .select("q_id", "n_id", "cos")
        .distinct()
    )
    return _top_k(scored, "cos", k)


# --------------------------------------------------------------------------
# Product quantization (IVF-PQ building block, r5 continuation). PQ is the
# standard memory-scale path for ANN over 10^9+ vectors: d-dim vectors
# compress to m uint8 codes (here d=64 → m subspace ids), and query-time
# scoring is O(m) table lookups instead of O(d) multiply-adds — the
# distance table is built ONCE per query against the (m × k_sub)-row
# codebook, then every corpus row costs m array lookups. Codebooks train
# with the same deterministic 9dp-rounded Lloyd recipe as
# ``kmeans_centroids`` (md5-ordered seed, argmin-L2 assignment with ties
# to the smallest cell), so the whole train → encode → ADC-score pipeline
# is bit-replayable in DuckDB SQL (see the knn_cosine_pq_adc oracle).
# --------------------------------------------------------------------------


def _l2sq(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subvectors(vec_col: str, m: int, dim: int) -> F.Column:
    dm = dim // m
    return F.array(
        *[F.slice(F.col(vec_col), j * dm + 1, dm) for j in range(m)]
    )


def _nearest_subcell(long_df: DataFrame, cb: DataFrame) -> DataFrame:
    """Per-(row, subspace) argmin-L2 codebook assignment, ties to the
    SMALLEST cell id: the (__pid__, sub, sv) rows of ``long_df`` get
    their winner per Arrow batch from :func:`_fold_nearest` (bit-exact
    ``_l2sq`` distances, ``min(struct(d, cell))`` order: a NULL distance
    — NULL subvector or one whose length differs from the cell's — is
    the minimum, NaN the maximum), then fold through the struct-min
    aggregation (min over per-row minima == min over all pairs), so
    rows sharing (__pid__, sub) still collapse to one assignment. The
    subvector rides inside the min struct."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    by_sub = _cb_by_sub(cb)
    out_schema = StructType(
        [
            long_df.schema["__pid__"],
            long_df.schema["sub"],
            long_df.schema["sv"],
            StructField("__d__", DoubleType(), True),
            StructField("__cell__", IntegerType(), True),
        ]
    )

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            values, nulls, starts, lens = _arrow_vectors(rb.column("sv"))
            subs = rb.column("sub").to_numpy(zero_copy_only=False)
            cell = np.zeros(n, dtype=np.int32)
            d = np.full(n, np.nan)
            null = np.ones(n, dtype=bool)
            keep = np.zeros(n, dtype=bool)
            for sub in np.unique(subs):
                cells = by_sub.get(int(sub))
                if not cells:
                    continue  # inner join: subspaces absent from cb drop
                idx = np.flatnonzero(subs == sub)
                cell[idx], d[idx], null[idx] = _nearest(
                    (values, nulls, starts[idx], lens[idx]), cells, l2=True
                )
                keep[idx] = True
            if keep.any():
                kept = rb.filter(pa.array(keep))
                yield pa.RecordBatch.from_arrays(
                    [kept.column(c) for c in ("__pid__", "sub", "sv")]
                    + [pa.array(d[keep], mask=null[keep]), pa.array(cell[keep])],
                    names=out_schema.names,
                )

    scored = long_df.mapInArrow(assign, out_schema)
    best = scored.groupBy("__pid__", "sub").agg(
        F.min(
            F.struct(
                F.col("__d__").alias("d"),
                F.col("__cell__").alias("c"),
                F.col("sv").alias("v"),
            )
        ).alias("__b__")
    )
    return best.select(
        "__pid__", "sub",
        F.col("__b__.v").alias("sv"),
        F.col("__b__.c").cast("int").alias("cell"),
    )


def pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 2,
    k_sub: int = 8,
    n_iter: int = 1,
    fit: FitInput | None = None,
) -> DataFrame:
    """Deterministic PQ codebooks as a (sub, cell, cvec) DataFrame: the
    md5-hash-ordered sample seeds ALL subspaces (one seed row yields m
    sliced centroids), then ``n_iter`` Lloyd steps per subspace — argmin
    L2 → per-dim mean rounded to ``_ROUND_DP`` — run over one exploded
    (id, sub, subvector) frame so every subspace trains in the same
    jobs. Engine-portable for the same reason as ``kmeans_centroids``:
    the 1e-9 rounding quantum dwarfs summation-order noise.
    Seeds and fit sample come from ``fit`` (see :func:`kmeans_centroids`);
    a clean driver-bounded sample runs the whole loop in
    :func:`_lloyd_driver` (zero Spark jobs), others the distributed loop
    below."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dm = dim // m
    if fit is None:
        fit = collect_fit_matrix(fit_vector_sample(corpus, id_col, vec_col), k_sub, dim)
    books = [
        [(i, [float(x) for x in v[j * dm:(j + 1) * dm]])
         for i, v in enumerate(fit.seeds[:k_sub])]
        for j in range(m)
    ]
    spark = corpus.sparkSession
    schema = "sub int, cell int, cvec array<double>"
    matrix = fit.matrix
    if n_iter > 0 and fit.seeds and matrix is not None and matrix.shape[1] == dim:
        books = _lloyd_driver(matrix, books, n_iter, l2=True)
        rows = [(j, c, v) for j, book in enumerate(books) for c, v in book]
        _check_dense(len(rows), m, k_sub)
        return local_frame(spark, rows, schema)
    cb = local_frame(
        spark, [(j, c, v) for j, book in enumerate(books) for c, v in book], schema
    )
    long_df = fit.sample.select(
        F.col("__fid__").alias("__pid__"),
        F.posexplode(_subvectors("__fv__", m, dim)).alias("sub", "sv"),
    )
    for _ in range(n_iter):
        cb_rows = _lloyd_means(_nearest_subcell(long_df, cb), ["sub", "cell"], "sv")
        _check_dense(len(cb_rows), m, k_sub)
        cb = local_frame(spark, cb_rows, schema)
    return cb


def _index_rows_kernel(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    by_sub: dict[int, list[tuple[int, list[float]]]],
    dim: int,
    m: int,
    cent_rows: list | None = None,
) -> DataFrame:
    """One-pass Arrow kernel computing, per input ROW, the PQ codes (and
    optionally the coarse cell): (id[, cell], codes).  Replaces the
    explode → broadcast-join → struct-min → regroup [→ join] pipeline
    with a single ``mapInArrow`` stage — zero shuffles, which is what
    the (row-local by construction) encode actually needs.

    Both assignments are :func:`_fold_nearest`'s: the coarse cell under
    cosine struct-max order against the collected (cell, cvec)
    ``cent_rows``, each code under L2 struct-min order against its
    subspace's cells.  Subvector slicing replicates ``_subvectors``:
    ``v[j*dm : j*dm+dm]`` (short slices for short vectors, NULL vector →
    every subvector NULL).  Subspaces absent from ``by_sub`` drop out of
    the codes array (the composed form's inner join).

    One output row per input row: callers must hold the documented
    unique-id contract (the composed form's groupBy collapse is the
    identity there)."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    dm = dim // m
    subs = sorted(by_sub)
    cells = None if cent_rows is None else _cells(cent_rows)
    fields = [df.schema[id_col]]
    if cells is not None:
        fields.append(StructField("cell", IntegerType(), True))
    fields.append(StructField("codes", ArrayType(IntegerType(), True), True))
    out_schema = StructType(fields)

    def encode(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0 or (not subs and cells is None):
                continue
            vecs = _arrow_vectors(rb.column(vec_col))
            out = [rb.column(id_col)]
            if cells is not None:
                out.append(pa.array(_nearest(vecs, cells)[0].astype("int32")))
            if subs:
                codes = np.stack(
                    [
                        _nearest(_slice(vecs, j * dm, dm), by_sub[j], l2=True)[0]
                        for j in subs
                    ],
                    axis=1,
                ).astype("int32")
                offsets = np.arange(0, codes.size + 1, len(subs), dtype="int32")
                out.append(
                    pa.ListArray.from_arrays(pa.array(offsets), pa.array(codes.ravel()))
                )
            else:
                out.append(pa.nulls(n, pa.list_(pa.int32())))
            yield pa.RecordBatch.from_arrays(out, names=out_schema.names)

    return df.select(id_col, vec_col).mapInArrow(encode, out_schema)


def _cb_by_sub(codebooks: DataFrame) -> dict[int, list[tuple[int, list[float]]]]:
    """(sub, cell, cvec) codebook rows as {sub: ascending (id, vector)}."""
    by_sub: dict[int, list] = {}
    for r in codebooks.select("sub", "cell", "cvec").collect():
        by_sub.setdefault(int(r["sub"]), []).append(r)
    return {sub: _cells(rows) for sub, rows in by_sub.items()}


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: DataFrame,
    dim: int,
    m: int = 2,
) -> DataFrame:
    """Compress every corpus vector to its m subspace code ids:
    (id, codes array<int>), codes ordered by subspace, one output row
    per corpus row (ids are expected unique — the documented contract of
    the whole index family).  One corpus scan through the zero-shuffle
    :func:`_index_rows_kernel` (the encode is row-local: the previous
    explode → broadcast-join → struct-min → regroup pipeline paid two
    shuffles for work that never needed one).  At 10^12 rows this is the
    index build: the output is ~m bytes/row instead of 4·d."""
    by_sub = _cb_by_sub(codebooks)
    out = _index_rows_kernel(corpus, id_col, vec_col, by_sub, dim, m)
    if not by_sub:
        # composed-form parity: with an empty codebook every subspace
        # dropped from the inner join and no rows survived the regroup
        return out.limit(0)
    return out


def _adc(
    queries: DataFrame, query_id: str, query_vec: str, cb: DataFrame,
    dim: int, m: int, k_sub: int,
) -> tuple[DataFrame, F.Column]:
    """The ADC half of a PQ search: ``(flat, adc)``. ``flat`` holds each
    query's (q_id, ptab) — its subvector dot products with every
    codeword of ``cb``, in (sub, cell) order — and ``adc`` scores a
    (codes, ptab) row as ``Σ_j ptab[j·k_sub + codes[j]]``: m array
    LOOKUPS instead of d multiply-adds, summed by an ordered
    ``aggregate`` (the left-to-right sum keeps the float result
    partition- and engine-deterministic)."""
    qlong = queries.select(
        F.col(query_id).alias("q_id"),
        F.posexplode(_subvectors(query_vec, m, dim)).alias("sub", "qsv"),
    )
    tbl = qlong.join(F.broadcast(cb), on="sub").withColumn(
        "__p__", _dot(F.col("qsv"), F.col("cvec"))
    )
    flat = tbl.groupBy("q_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cell", "__p__"))),
            lambda s: s["__p__"],
        ).alias("ptab")
    )
    # two-arg transform lambda receives (element, index) — here that
    # index IS the subspace id, used deliberately for the table lookup
    partials = F.transform(
        F.col("codes"),
        lambda c, jx: F.element_at(F.col("ptab"), jx * k_sub + c + 1),
    )
    return flat, F.aggregate(partials, F.lit(0.0), lambda acc, v: acc + v)


def pq_topk_adc(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    dim: int,
    k: int = 5,
    m: int = 2,
    k_sub: int = 8,
    n_iter: int = 1,
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k by inner product:
    train PQ codebooks, encode the corpus once, then score EVERY corpus
    row against each query's (m × k_sub) dot-product table
    (:func:`_adc`). The codes frame never touches the original vectors
    at query time, which is the entire point of PQ at 10^12 rows. Exact
    re-ranking of the ADC top-k (fetch true vectors for k·n_q ids) is
    the standard next stage and composes with ``cosine_topk_bruteforce``
    on the filtered id set."""
    cb = pq_codebooks(
        corpus, corpus_id, corpus_vec, dim, m=m, k_sub=k_sub, n_iter=n_iter
    )
    codes = pq_encode(corpus, corpus_id, corpus_vec, cb, dim, m=m)
    flat, adc = _adc(queries, query_id, query_vec, cb, dim, m, k_sub)
    scored = (
        codes.crossJoin(F.broadcast(flat))
        .filter(F.col("q_id") != F.col(corpus_id))
        .withColumn("adc", adc)
    )
    return _top_k(scored, "adc", k, n_id=corpus_id)


def build_ivf_pq_index(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    dim: int,
    m: int = 2,
    k_sub: int = 8,
    n_cells: int | None = None,
    coarse_iter: int = 1,
    pq_iter: int = 1,
    materialize: bool = True,
) -> dict:
    """One-time IVF+PQ index build — the expensive N×√N half of
    :func:`pq_topk_ivf_adc`, split out so it runs ONCE per corpus and
    amortizes across every query batch (same build/query split as the
    as-of family's ``build_asof_hist``): coarse k-means fit, full-corpus
    cell assignment, PQ codebook fit, and the m-code encode. Both fits
    share one :class:`FitInput` — one counted, checkpointed sample
    (:func:`fit_vector_sample`) and ONE Arrow collect of it
    (:func:`collect_fit_matrix`) that yields every seed and, for a clean
    driver-bounded sample, the matrix both driver-side Lloyd loops run
    on: one Spark job between the sample and the lazy index frame.
    Returns {"centroids": (cell, cvec), "codebooks": (sub, cell, cvec),
    "index": (n_id, cell, codes)} — the index frame is ~m bytes + a
    cell id per corpus row (the vectors themselves are NOT in it).

    ``materialize=True`` materializes the index so query
    batches scan the compact materialized frame instead of re-deriving
    the assignment (on a cluster, write it to a bucketed table on
    ``cell`` instead — then the candidate fetch is exchange-free)."""
    n, fsample = fit_vector_sample(corpus, corpus_id, corpus_vec)
    # the coarse fit seeds from the first n_cells md5-ordered vectors,
    # the PQ fit from the first k_sub (identical rows to per-fit
    # fetches: same sample, same total order)
    n_seed = max(auto_n_cells(n) if n_cells is None else n_cells, k_sub)
    fit = collect_fit_matrix((n, fsample), n_seed, dim)
    # the coarse k-means and the PQ codebook fits are INDEPENDENT chains
    # of small sequential jobs over the shared checkpointed sample — run
    # them concurrently so the second fit's jobs back-fill the idle
    # executors of the first (guide §2.6 "overlap independent jobs")
    cent, cb = util.run_concurrently(
        lambda: kmeans_centroids(
            corpus, corpus_id, corpus_vec,
            n_cells=n_cells, n_iter=coarse_iter, fit=fit,
        ),
        lambda: pq_codebooks(
            corpus, corpus_id, corpus_vec, dim,
            m=m, k_sub=k_sub, n_iter=pq_iter, fit=fit,
        ),
    )
    # cell assignment + PQ encode fused into ONE zero-shuffle kernel pass
    # (was: crossJoin+agg assignment, explode+agg encode, then an id JOIN
    # of two corpus-sized frames — three shuffles for row-local work);
    # identical per-row semantics as _nearest_cell/_nearest_subcell, and
    # ids are unique per the index family's documented contract
    cent_rows = sorted(
        cent.select("cell", "cvec").collect(), key=lambda r: int(r["cell"])
    )
    index = _index_rows_kernel(
        corpus.select(
            F.col(corpus_id).alias("n_id"), F.col(corpus_vec).alias("n_vec")
        ),
        "n_id", "n_vec", _cb_by_sub(cb), dim, m, cent_rows=cent_rows,
    )
    if materialize:
        index = util.materialize(index)
    return {"centroids": cent, "codebooks": cb, "index": index}


def _check_index_codebooks(cb: DataFrame, dim: int, m: int, k_sub: int) -> None:
    """Raise unless ``cb`` holds cells 0…k_sub-1 in each of subspaces
    0…m-1, every vector of length ``dim // m`` — the layout the ADC
    lookup ``ptab[j·k_sub + code]`` reads. Any other index makes that
    lookup read another codeword's entry (or fail mid-job under ANSI)."""
    held = {
        sub: [(c, len(v)) for c, v in cells] for sub, cells in _cb_by_sub(cb).items()
    }
    if dim % m or held != {j: [(c, dim // m) for c in range(k_sub)] for j in range(m)}:
        raise ValueError(
            f"IVF+PQ index does not match dim={dim}, m={m}, k_sub={k_sub}: its "
            f"codebooks hold {{sub: [(cell, vector length)]}} = {held}; "
            "query with the dim, m and k_sub the index was built with"
        )


def pq_topk_ivf_adc(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    dim: int,
    k: int = 5,
    m: int = 2,
    k_sub: int = 8,
    n_cells: int | None = None,
    n_probe: int = 2,
    coarse_iter: int = 1,
    pq_iter: int = 1,
    index: dict | None = None,
) -> DataFrame:
    """IVF+PQ — the full-scale ANN composition (the r4 verdict tracked
    this as PQ's refinement): a coarse k-means quantizer partitions the
    corpus into cells, every vector is PQ-encoded ONCE (the index is
    (id, cell, codes) — ~m bytes + a cell id per row), and each query
    ADC-scores ONLY the rows of its ``n_probe`` nearest cells. The
    candidate fetch is an EQUI-JOIN on the cell id — unlike
    :func:`pq_topk_adc`'s whole-corpus broadcast scan, the per-query
    work is |probed cells| not |corpus|, which is the entire point at
    10^12 rows (FAISS IVFADC, Jégou et al. 2011, minus the residual
    encoding: codes quantize RAW vectors so the same codebook serves
    every cell and the whole train → encode → probe → ADC pipeline
    stays bit-replayable in SQL — the standard recall trade documented
    there as IVFPQ-no-residual).

    Coarse cells use :func:`kmeans_centroids` (cosine assignment,
    deterministic md5 seed); codes use :func:`pq_codebooks` (L2
    subspace assignment). Exact re-rank of the returned ids composes
    with :func:`cosine_topk_bruteforce`.

    Pass ``index=build_ivf_pq_index(...)`` to reuse a materialized
    index across query batches — without it every call lazily re-runs
    the N×√N coarse fit + assignment + encode, which at 200k×16d
    measured ~100× the per-batch query cost (BENCH/BASELINE.md r5). A
    given index must have been built with this call's ``dim``, ``m``
    and ``k_sub``; a ValueError says so before any job runs."""
    if index is None:
        index = build_ivf_pq_index(
            corpus, corpus_id, corpus_vec, dim, m=m, k_sub=k_sub,
            n_cells=n_cells, coarse_iter=coarse_iter, pq_iter=pq_iter,
            materialize=False,
        )
    else:
        _check_index_codebooks(index["codebooks"], dim, m, k_sub)
    cent, cb, idx = index["centroids"], index["codebooks"], index["index"]
    probes = _probe_cells(queries, query_id, query_vec, cent, n_probe).select(
        "q_id", "cell"
    )
    flat, adc = _adc(queries, query_id, query_vec, cb, dim, m, k_sub)
    # candidate fetch: equi-join on cell (each corpus row has ONE cell,
    # (q_id, cell) probes are distinct -> no duplicate pairs)
    cand = probes.join(idx, on="cell").filter(
        F.col("q_id") != F.col("n_id")
    )
    scored = cand.join(F.broadcast(flat), on="q_id").withColumn("adc", adc)
    return _top_k(scored, "adc", k)

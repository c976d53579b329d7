"""IVF/PQ search contracts: the zero-step k-means IVF seeds straight from
the corpus, and an IVF+PQ query refuses an index built for other PQ
parameters before any Spark job runs."""

import hashlib
import random

import pytest
from pyspark.sql import functions as F


def _run_in_group(spark, group, fn):
    """``(fn(), its Spark job ids)``, run under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_zero_step_kmeans_is_one_job_of_md5_first_seeds(spark):
    """kmeans_centroids(n_iter=0) needs no fit sample: its centroids are
    the n_cells md5(id)-first corpus vectors, as cells 0..n_cells-1,
    fetched by one TakeOrdered job (no corpus count, no checkpoint)."""
    from upgini_spark.functions.similarity import kmeans_centroids

    def vec(i):
        return [float((i * 7 + d * 3) % 11 - 5) for d in range(4)]

    corpus = spark.range(60).select(
        F.col("id").alias("vid"),
        F.array(
            *[((F.col("id") * 7 + d * 3) % 11 - 5).cast("double") for d in range(4)]
        ).alias("v"),
    )
    cent, jobs = _run_in_group(
        spark, "kmeans_zero_step",
        lambda: kmeans_centroids(corpus, "vid", "v", n_cells=8, n_iter=0),
    )
    assert len(jobs) == 1, jobs
    first = sorted(range(60), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:8]
    got = sorted((r["cell"], list(r["cvec"])) for r in cent.collect())
    assert got == [(c, vec(i)) for c, i in enumerate(first)]


def test_ivf_pq_query_rejects_index_of_other_pq_shape(spark):
    """pq_topk_ivf_adc reads ptab[j * k_sub + code]: an index whose
    codebooks were built for another k_sub, m or dim would silently
    score the wrong codewords (or fail mid-job), so the query raises
    ValueError before running any job. The matching call still runs."""
    from upgini_spark.functions.similarity import build_ivf_pq_index, pq_topk_ivf_adc
    from upgini_spark.util import local_frame

    rng = random.Random(7)
    corpus = local_frame(
        spark,
        [(i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(200)],
        "vid long, v array<double>",
    )
    q = corpus.filter(F.col("vid") < 4)

    def search(index, **kw):
        return pq_topk_ivf_adc(
            q, corpus, "vid", "vid", "v", "v", k=3, n_cells=4, index=index, **kw
        )

    k8 = build_ivf_pq_index(corpus, "vid", "v", 8, m=2, k_sub=8, n_cells=4)
    k4 = build_ivf_pq_index(corpus, "vid", "v", 8, m=2, k_sub=4, n_cells=4)
    cases = [
        (k8, dict(dim=8, m=2, k_sub=4)),
        (k4, dict(dim=8, m=2)),  # the default k_sub=8
        (k8, dict(dim=8, m=4, k_sub=8)),
        (k8, dict(dim=16, m=2, k_sub=8)),
    ]
    for i, (index, kw) in enumerate(cases):
        def call(index=index, kw=kw):
            with pytest.raises(ValueError, match="index was built with"):
                search(index, **kw)

        assert _run_in_group(spark, f"ivf_pq_mismatch_{i}", call)[1] == [], kw
    assert search(k4, dim=8, m=2, k_sub=4).count() == 12
    assert search(k8, dim=8, m=2, k_sub=8).count() == 12

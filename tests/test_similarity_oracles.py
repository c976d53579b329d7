"""Oracle gate for the similarity family: each query below runs on the
test session, its ``oracle_sql()`` runs in DuckDB over the sf0.01
testdata, and the two results must agree exactly under
``tools/check_oracle.compare`` (exact floats, sign-bit and NaN aware).
Skips when the testdata directory is absent."""

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

duckdb = pytest.importorskip("duckdb")

from tools import check_oracle  # noqa: E402

QUERIES = [
    "embedding_near_dup",
    "knn_cosine_top3",
    "knn_cosine_lsh",
    "knn_cosine_ivf",
    "knn_cosine_lsh_auto",
    "embedding_near_dup_auto",
    "knn_cosine_ivf_kmeans",
    "knn_cosine_pq_adc",
    "knn_cosine_ivf_pq",
    "cluster_assign",
]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(check_oracle.SF_DIR), reason="sf0.01 testdata absent"
)


@pytest.fixture(scope="module")
def duck():
    con = check_oracle.duckdb_tables()
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_similarity_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as E

    got = E.queries()[name](spark, check_oracle.SF_DIR).toPandas()
    want = duck.sql(E.oracle_sql()[name]).df()
    assert check_oracle.compare(name, got, want) == []

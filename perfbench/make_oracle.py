"""Recompute ``corpus/oracle.json``: the result digest of each
corpus_curation query's ``oracle_sql()`` text, run on DuckDB over the
parquet files in ``corpus/``. The benchmark compares every pass's Spark
output with these digests. The corpus is fixed, so this only needs
rerunning when a query's oracle text changes.

    python3 perfbench/make_oracle.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]


def main() -> None:
    import duckdb

    import __spark_entry__
    from workloads import CORPUS_DIR, CURATION_QUERIES, ORACLE_FILE, frame_digest

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{CORPUS_DIR}/{t}.parquet')")
    oracles = __spark_entry__.oracle_sql()
    digests = {q: frame_digest(con.sql(oracles[q]).df()) for q in CURATION_QUERIES}
    with open(ORACLE_FILE, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(digests, indent=1))


if __name__ == "__main__":
    main()

"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values (exact after
the queries' own rounding).

Usage: python tools/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SF_DIR = "/root/testdata/sf0.01"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _col_mismatch(a: pd.Series, b: pd.Series):
    """Strict driver-replica compare: exact values, NaN==NaN, but
    -0.0 != +0.0 (the driver's value hash sees the sign bit —
    CORRECTNESS_r01 failed date_diff_ops/cyclical on exactly this)."""
    import numpy as np

    if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
        af, bf = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
        eq = (af == bf) | (np.isnan(af) & np.isnan(bf))
        sign_flip = (af == 0) & (bf == 0) & (np.signbit(af) != np.signbit(bf))
        return ~eq | sign_flip
    if a.equals(b):
        return None
    return a.astype(str) != b.astype(str)


def _unsortable_cols(df: pd.DataFrame) -> list[str]:
    """Columns whose cells would crash the driver's pandas lexsort
    canonicalizer (unhashable list/array/dict cells — CORRECTNESS_r02
    multimodal_features failed on exactly this). The driver does NOT
    str-cast before sorting, so neither may we tolerate these."""
    import numpy as np

    bad = []
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            nonnull = s.dropna()
            if len(nonnull) and isinstance(
                nonnull.iloc[0], (list, tuple, dict, np.ndarray)
            ):
                bad.append(c)
    return bad


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    unsortable = _unsortable_cols(spark_df) + _unsortable_cols(duck_df)
    if unsortable:
        problems.append(
            f"driver-unsortable columns {sorted(set(unsortable))}: "
            "array/list cells crash the driver canonicalizer — explode or "
            "stringify them on both sides"
        )
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count {len(spark_df)} vs {len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        problems.append(f"columns {sc} vs {dc}")
        return problems
    a, b = normalize(spark_df), normalize(duck_df)
    if len(a) == len(b):
        for c in a.columns:
            neq = _col_mismatch(a[c], b[c])
            if neq is not None and neq.any():
                n_bad = int(neq.sum())
                idx = [i for i, bad in enumerate(neq) if bad][:3]
                samples = [(repr(a[c].iloc[i]), repr(b[c].iloc[i])) for i in idx]
                problems.append(f"col {c}: {n_bad} mismatches, e.g. {samples}")
    return problems


def duckdb_tables(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of ``sf_dir``
    — the names the ``oracle_sql()`` texts read."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def main():
    from upgini_spark.session import get_spark
    import __spark_entry__ as entry_mod

    only = set(sys.argv[1:])
    spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=16)
    con = duckdb_tables()

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"OK    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} failed")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

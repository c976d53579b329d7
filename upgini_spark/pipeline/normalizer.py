"""Schema normalization pipeline (reference: src/upgini/normalizer/
normalize_utils.py:52-242 + src/upgini/utils/features_validator.py).

Everything here is metadata ops + native expressions:
- deterministic column renaming ``name → f"{lower_sanitized}_{sha256[:6]}"``
  (normalize_utils.py:95-140,229-242);
- type coercions: bool→string (:169-176), float16→float64 (:178-185),
  decimal-comma strings→double (:187-195), non-numeric features→string
  (:220-226);
- string truncation to 24 573 chars (:158-167);
- datetime-typed feature columns dropped (:147-156) — dates are only
  legal as search keys;
- constant / high-cardinality feature drops (features_validator.py:25-91).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, NumericType, StringType

MAX_STRING_FEATURE_LENGTH = 24_573  # normalize_utils.py:36


def hash_column_name(name: str) -> str:
    """``name → lower_sanitized[:250] + "_" + sha256(name)[:6]``
    (normalize_utils.py:95-140; the 250-char cap is the reference's db
    column-length limit, normalize_utils.py:235-236 — the suffix hashes
    the UNtruncated original, replayed in test_too_long_columns)."""
    sanitized = re.sub(r"[^a-z0-9]", "_", name.lower())[:250]
    digest = hashlib.sha256(name.encode()).hexdigest()[:6]
    return f"{sanitized}_{digest}"


def rename_columns_hashed(df: DataFrame, exclude: set[str] | None = None) -> tuple[DataFrame, dict[str, str]]:
    """Pure-metadata rename; returns (df, original→new map)."""
    exclude = exclude or set()
    mapping = {
        c: (c if c in exclude else hash_column_name(c)) for c in df.columns
    }
    return df.toDF(*[mapping[c] for c in df.columns]), mapping


def normalize_types(
    df: DataFrame,
    feature_cols: list[str],
    decimal_comma_cols: list[str] | None = None,
) -> DataFrame:
    """Apply the reference's type floor to feature columns."""
    exprs = []
    for fld in df.schema.fields:
        c = F.col(fld.name)
        if fld.name not in feature_cols:
            exprs.append(c)
            continue
        if isinstance(fld.dataType, BooleanType):
            exprs.append(c.cast("string").alias(fld.name))
        elif fld.name in (decimal_comma_cols or []):
            exprs.append(
                F.regexp_replace(c.cast("string"), ",", ".").cast("double").alias(fld.name)
            )
        elif isinstance(fld.dataType, StringType):
            exprs.append(F.substring(c, 1, MAX_STRING_FEATURE_LENGTH).alias(fld.name))
        elif isinstance(fld.dataType, NumericType):
            exprs.append(c.cast("double").alias(fld.name))
        else:
            exprs.append(c.cast("string").alias(fld.name))
    return df.select(*exprs)


def detect_decimal_comma(df: DataFrame, feature_cols: list[str], probe_rows: int = 10) -> list[str]:
    """Decimal-comma probe on a head sample (utils/__init__.py:16-25):
    string columns where every non-null probe value matches ``-?\\d+,\\d+``."""
    string_cols = [
        f.name for f in df.schema.fields
        if f.name in feature_cols and isinstance(f.dataType, StringType)
    ]
    if not string_cols:
        return []
    head = df.select(string_cols).limit(probe_rows).collect()
    out = []
    pat = re.compile(r"^-?\d+,\d+$")
    for c in string_cols:
        vals = [r[c] for r in head if r[c] is not None]
        if vals and all(pat.match(v) for v in vals):
            out.append(c)
    return out


_INT_DTYPES = ("tinyint", "smallint", "int", "bigint")
_FLOAT_DTYPES = ("float", "double")


def validate_features(
    df: DataFrame,
    feature_cols: list[str],
    high_card_threshold: float = 0.85,
    top_share_threshold: float = 0.99,
    exact: bool = True,
    features_for_generate: list[str] | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """Drop constant / almost-constant / high-cardinality features —
    reference-EXACT rules (utils/features_validator.py:25-91, replayed
    against tests/test_etalon_validation.py):

    - constant: exactly ONE distinct value counting null as a value;
    - almost-constant: top-value share ≥ 0.99 (null counts as a value)
      UNLESS the column has exactly 2 distinct values (one-hot/binary
      exemption) or is integer-valued (int dtype, or float whose non-null
      values are all whole);
    - high-cardinality: only when the table has ≥ 100 rows, only for
      string or integer-valued columns, null-inclusive distinct/rows
      ≥ 0.85; columns in ``features_for_generate`` (text features) are
      exempt.

    One stack-melt pass computes every per-column count (the reference
    loops value_counts per column — thousands of scans at its 3 500-
    feature cap; here it is two aggregations at any width), plus one tiny
    agg for float whole-numberedness. ``exact`` is kept for API
    compatibility; the melt is always exact. (feature_validator_stats in
    functions/stats.py is the separate REPORTING surface with its own
    oracle-checked semantics; this is the drop DECISION.)
    """
    if not feature_cols:
        return df, {}
    _ = exact
    dtypes = dict(df.dtypes)
    int_like = {c: dtypes[c] in _INT_DTYPES for c in feature_cols}
    float_cols = [c for c in feature_cols if dtypes[c] in _FLOAT_DTYPES]
    # ONE scan for row count + float whole-numberedness (was two jobs)
    fr = df.agg(
        F.count(F.lit(1)).alias("__vf_n__"),
        *[
            F.max((F.col(c) != F.floor(F.col(c))).cast("int")).alias(c)
            for c in float_cols
        ],
    ).collect()[0]
    n = fr["__vf_n__"]
    for c in float_cols:
        # float is integer-valued iff every non-null value is whole
        # (reference __is_integer); all-null vacuously whole
        int_like[c] = (fr[c] or 0) == 0

    # melt: null rides as a value (cast null -> null string group)
    pairs: list = []
    for c in feature_cols:
        pairs.append(F.lit(c))
        pairs.append(F.col("`" + c.replace("`", "``") + "`").cast("string"))
    per_value = (
        df.select(F.stack(F.lit(len(feature_cols)), *pairs).alias("column_name", "v"))
        .groupBy("column_name", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = {
        r["column_name"]: (r["nd"], r["top_n"])
        for r in per_value.groupBy("column_name")
        .agg(F.count(F.lit(1)).alias("nd"), F.max("cnt").alias("top_n"))
        .collect()
    }
    gen = set(features_for_generate or [])
    dropped: dict[str, str] = {}
    for c in feature_cols:
        nd, top_n = stats.get(c, (0, 0))
        if nd <= 1:
            dropped[c] = "constant"
        elif top_n / n >= top_share_threshold and nd != 2 and not int_like[c]:
            dropped[c] = "almost_constant"
        elif (
            n >= 100
            and c not in gen
            and (dtypes[c] == "string" or dtypes[c].startswith("varchar")
                 or int_like[c])
            and nd / n >= high_card_threshold
        ):
            dropped[c] = "high_cardinality"
    return df.drop(*dropped.keys()), dropped

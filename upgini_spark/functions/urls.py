"""URL canonicalization + URL-keyed dedup (pretraining-pipeline stage).

Crawled corpora are routinely deduplicated by canonical URL before any
content-level pass (the cheap first filter in C4/RefinedWeb-style
pipelines). Everything here is a native regexp/array expression chain —
JVM-side, whole-stage codegen, RE2-compatible regexes (no backreferences)
so a DuckDB oracle replays the exact same chain.

No reference counterpart (upgini has no URL surface); sits with the
dedup/quality operators per the task brief.

Canonical form implemented (conservative, standards-aligned):
- scheme and host lowercased; userinfo (``user:pass@``) dropped;
- default ports stripped (http:80, https:443), others kept;
- fragment dropped;
- path: trailing slashes stripped, empty path normalized to ``/``
  (dot-segment resolution deliberately NOT attempted — a regexp chain
  cannot do it safely and mis-resolving changes identity);
- query: split on ``&``, empty params and tracking params
  (``utm_*``, ``fbclid``, ``gclid``, ``ref``) dropped, remaining params
  sorted bytewise and re-joined (param ORDER never changes identity,
  tracking params never should).

Inputs without a ``scheme://`` prefix canonicalize to NULL (identity
undefined) rather than guessing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from upgini_spark.util import materialize

SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)(=|$)"


def canonical_url(c: Column) -> Column:
    """Canonical form of a URL column (see module docstring); NULL for
    strings without a scheme."""
    scheme = F.lower(F.regexp_extract(c, SCHEME_RE, 1))
    rest = F.regexp_replace(c, SCHEME_RE, "")
    authority = F.lower(
        F.regexp_replace(F.regexp_extract(rest, r"^([^/?#]*)", 1),
                         r"^[^@/?#]*@", "")
    )
    host = F.regexp_replace(authority, r":[0-9]*$", "")
    port = F.regexp_extract(authority, r":([0-9]+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    pathqf = F.regexp_replace(rest, r"^[^/?#]*", "")
    raw_path = F.regexp_extract(pathqf, r"^([^?#]*)", 1)
    stripped = F.regexp_replace(raw_path, r"/+$", "")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    query = F.regexp_extract(pathqf, r"^[^?#]*\?([^#]*)", 1)
    # single-arg lambdas (2-arg F.filter lambdas receive (element, index))
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qs = F.array_join(params, "&")
    return F.when(
        scheme != "",
        F.concat(
            scheme, F.lit("://"), host,
            F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
            path,
            F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
        ),
    )


def url_dedup(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """Mark URL-duplicates: one row per input row with the canonical URL
    and ``keep`` = this row is the minimum-id holder of its canonical
    form (NULL canonicals — schemeless inputs — are all kept: no
    identity, no dedup). Same scale shape as paragraph_dedup: a
    map-side-combinable min agg + equi-join on the canonical hash, NOT a
    window (hot hosts would single-partition-sort)."""
    idc = F.col(id_col)
    # materialize the canonicalized frame ONCE: the min-id agg and the
    # join-back both consume it and their shapes defeat ReuseExchange,
    # so the regexp canonicalization chain (and any upstream spread)
    # otherwise executes twice — the paragraph_dedup lesson applied to
    # the identical join shape
    canon = materialize(
        df.select(idc, canonical_url(F.col(url_col)).alias("canon_url"))
    )
    first = canon.filter(F.col("canon_url").isNotNull()).groupBy(
        "canon_url"
    ).agg(F.min(idc).alias("__first__"))
    return (
        canon.join(first, "canon_url", "left")
        .select(
            idc,
            "canon_url",
            F.coalesce(F.col("__first__") == idc, F.lit(True)).alias("keep"),
        )
    )

"""Search-key conversion operators (SURVEY.md §2.3).

Scalar normalizers for the reference's SearchKey types — all native
Column expressions (codegen'd), mirroring:

- date/datetime multi-format parse + epoch-unit ladder
  (src/upgini/utils/datetime_utils.py:95-138,262-291), epoch-ms floor
  (:146-168), min supported date 2000-01-01 (:44-45,293-300);
- email → HEM (lowercase sha256) + one-domain key
  (src/upgini/utils/email_utils.py:31-51,81-96);
- phone → E.164-ish Int64, 8-15 digit gate
  (src/upgini/utils/phone_utils.py:44-106);
- IPv4 parse/int/prefix (src/upgini/utils/ip_utils.py:37-100) — v4 fast
  path native, full ipaddress semantics via a vectorized kernel;
- country → ISO-3166 alpha-2 (src/upgini/utils/country_utils.py:7-48);
- postal code normalize (src/upgini/utils/postal_code_utils.py:52-78).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- dates -----------------------------------------------------------------

# Multi-format ladder (datetime_utils.py:15-28). Spark's to_timestamp with a
# pattern returns null on mismatch (ANSI off) → coalesce ladder == try-parse.
DATE_FORMATS = [
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd",
    "yyyy/MM/dd",
    "dd.MM.yyyy",
    "dd/MM/yyyy",
    "MM/dd/yyyy",
    "yyyyMMdd",
    "yyyy-MM",
]

MIN_SUPPORTED_DATE = "2000-01-01"


def parse_datetime_multi(c: Column) -> Column:
    """Try each format in order; unparsable → null (errors='coerce')."""
    s = F.trim(c.cast("string"))
    return F.coalesce(*[F.try_to_timestamp(s, F.lit(fmt)) for fmt in DATE_FORMATS])


def parse_epoch_auto(c: Column) -> Column:
    """Numeric epochs classified s/ms/µs/ns by magnitude
    (datetime_utils.py:108-126)."""
    v = c.cast("double")
    return F.when(v < 1e11, F.timestamp_seconds(v)) \
        .when(v < 1e14, F.timestamp_millis(v.cast("long"))) \
        .when(v < 1e17, F.timestamp_micros(v.cast("long"))) \
        .otherwise(F.timestamp_micros((v / 1000).cast("long")))


def to_epoch_ms(ts: Column, floor_day: bool = False) -> Column:
    """datetime → Int64 epoch-ms; DATE keys floored to day
    (datetime_utils.py:146-168)."""
    t = F.date_trunc("DAY", ts) if floor_day else ts
    return (F.unix_micros(t) / 1000).cast("long")


def clean_old_dates(ts: Column) -> Column:
    """Dates ≤ 1999-12-31 → null (datetime_utils.py:293-300)."""
    return F.when(ts >= F.lit(MIN_SUPPORTED_DATE).cast("timestamp"), ts)


# --- email -------------------------------------------------------------------

EMAIL_REGEX = r"^[A-Za-z0-9][A-Za-z0-9._%+-]*@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"


def email_valid(c: Column) -> Column:
    return F.lower(F.trim(c)).rlike(EMAIL_REGEX)


def email_to_hem(c: Column) -> Column:
    """Lowercase sha256 of a regex-valid email (email_utils.py:81-89)."""
    e = F.lower(F.trim(c))
    return F.when(e.rlike(EMAIL_REGEX), F.sha2(e, 256))


def email_one_domain(c: Column) -> Column:
    """first char of local part + domain (email_utils.py:91-96)."""
    e = F.lower(F.trim(c))
    return F.when(
        e.rlike(EMAIL_REGEX),
        F.concat(F.substring(e, 1, 1), F.split(e, "@")[1]),
    )


def email_domain(c: Column) -> Column:
    """Domain generated feature (email_utils.py:31-51)."""
    e = F.lower(F.trim(c))
    return F.when(e.rlike(EMAIL_REGEX), F.split(e, "@")[1])


# --- phone -------------------------------------------------------------------

def phone_to_int(c: Column) -> Column:
    """Phone → Int64 (phone_utils.py:44-106), then gate on the VALUE
    range [10^7, 10^15-1] — leading zeros vanish in the int conversion,
    so the gate is numeric, not a digit count.

    Float-typed sources TRUNCATE like the reference's
    ``phone_float_to_int_safe`` (``int(value)`` — 123456789012345.1 →
    123456789012345; replayed from normalizer/test_phone_normalizer.py).
    A float input is recognized by its string rendering carrying '.' or
    an exponent AND parsing as a double; phone strings with separators
    ("+86 10 ...", "223-45-678") never match and take the reference's
    strip-non-digits path. (Dtype is lost at Column level, so a LITERAL
    decimal string like "12345678.9" also truncates — the reference's
    string path would strip the dot instead; documented edge.)"""
    s = c.cast("string")
    floatish = s.rlike(r"^-?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?$") & s.rlike(
        r"[.eE]"
    )
    # try_cast both hops: a float-like string beyond bigint range ("1e20")
    # must yield null (reference phone_float_to_int_safe returns None on
    # any exception), not an ANSI CAST_OVERFLOW job failure.
    truncated = s.try_cast("double").try_cast("long")  # toward zero, like int()
    digits = F.regexp_replace(s, "[^0-9]", "")
    stripped = F.when(digits != "", digits).cast("long")
    v = F.when(floatish, truncated).otherwise(stripped)
    return F.when((v >= 10_000_000) & (v <= 999_999_999_999_999), v)


def phone_with_country_prefix(phone: Column, country: Column) -> Column:
    """Prepend the country calling code when the converted national number
    has exactly that country's expected digit count
    (phone_utils.py:32-42 + the COUNTRIES_PREFIXES table :108-354).
    Otherwise the bare converted number passes through."""
    from upgini_spark.functions.keys_tables import PHONE_COUNTRY_PREFIXES

    p = phone_to_int(phone)
    p_str = p.cast("string")
    prefix_map = F.create_map(
        *[F.lit(x) for cc, (pre, _n) in PHONE_COUNTRY_PREFIXES.items() for x in (cc, pre)]
    )
    ndigits_map = F.create_map(
        *[F.lit(x) for cc, (_pre, n) in PHONE_COUNTRY_PREFIXES.items() for x in (cc, n)]
    )
    pre = prefix_map[country]
    nd = ndigits_map[country]
    return F.when(
        p.isNotNull() & pre.isNotNull() & (F.length(p_str) == nd),
        F.concat(pre, p_str).cast("long"),
    ).otherwise(p)


# --- IP ------------------------------------------------------------------------

_V4 = r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"


def ipv4_to_int(c: Column) -> Column:
    """Dotted-quad → uint32 as long (ip_utils.py:59-86 v4 path)."""
    s = F.trim(c)
    p = F.split(s, r"\.")
    val = (
        p[0].cast("long") * 16777216
        + p[1].cast("long") * 65536
        + p[2].cast("long") * 256
        + p[3].cast("long")
    )
    return F.when(s.rlike(_V4), val)


def ipv4_prefix(c: Column, octets: int = 2) -> Column:
    """First-n-octets prefix string, e.g. '192.168' (ip_utils.py:88-100)."""
    s = F.trim(c)
    p = F.split(s, r"\.")
    parts = [p[i] for i in range(octets)]
    return F.when(s.rlike(_V4), F.concat_ws(".", *parts))


# --- IPv6 (native expressions; ip_utils.py:37-100 v6 + ipv4-mapped paths) ----

_HEX_GROUP = r"^[0-9a-f]{1,4}$"


def _ipv6_groups(c: Column) -> Column:
    """array<string> of the 8 zero-padded hex groups of a v6 literal, or
    null when the text is not valid IPv6. Handles '::' compression and an
    embedded dotted-quad tail ('::ffff:1.2.3.4'). Pure string/HOF
    expressions — codegen'd, replicable in ANSI SQL for the oracle."""
    s = F.lower(F.trim(c))
    # rewrite an embedded v4 tail as two hex groups
    v4tail = F.regexp_extract(s, r"((?:[0-9]{1,3}\.){3}[0-9]{1,3})$", 1)
    q = F.split(v4tail, r"\.")
    valid_tail = (v4tail != "") & (
        (q[0].cast("int") <= 255) & (q[1].cast("int") <= 255)
        & (q[2].cast("int") <= 255) & (q[3].cast("int") <= 255)
    )
    tail_hex = F.concat(
        F.lower(F.lpad(F.hex(q[0].cast("long") * 256 + q[1].cast("long")), 4, "0")),
        F.lit(":"),
        F.lower(F.lpad(F.hex(q[2].cast("long") * 256 + q[3].cast("long")), 4, "0")),
    )
    s2 = F.when(
        s.contains("."),
        F.when(
            valid_tail,
            F.concat(F.regexp_replace(s, r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}$", ""), tail_hex),
        ),
    ).otherwise(s)

    halves = F.split(s2, "::", -1)
    has_comp = F.size(halves) == 2
    left = F.filter(F.split(halves[0], ":"), lambda g: g != "")
    right = F.when(has_comp, F.filter(F.split(halves[1], ":"), lambda g: g != "")) \
        .otherwise(F.array().cast("array<string>"))
    mid = F.lit(8) - F.size(left) - F.size(right)
    groups = F.concat(
        left, F.array_repeat(F.lit("0"), F.greatest(mid, F.lit(0))), right
    )
    padded = F.transform(groups, lambda g: F.lpad(g, 4, "0"))
    all_hex = F.forall(groups, lambda g: g.rlike(_HEX_GROUP))
    ok = (
        s2.isNotNull()
        & s2.contains(":")
        & (F.size(halves) <= 2)
        & all_hex
        & (F.size(padded) == 8)
        & (~has_comp | (mid >= F.lit(1)))
        & (has_comp | (F.size(left) == 8))
    )
    return F.when(ok, padded)


def ipv6_groups(c: Column) -> Column:
    """Public alias of the parsed 8-group array — materialize this ONCE
    (``withColumn``) and pass it to exploded/prefix/binary via ``groups=``:
    the parser is a large expression tree and duplicating it triples
    planning + codegen time."""
    return _ipv6_groups(c)


def ipv6_exploded(c: Column, groups: Column | None = None) -> Column:
    """Full lowercase exploded form, e.g. '2001:0db8:...:0001'."""
    return F.array_join(_ipv6_groups(c) if groups is None else groups, ":")


def _is_v4_mapped(groups: Column) -> Column:
    """::ffff:a.b.c.d — first five groups zero, sixth 'ffff'."""
    return (
        F.forall(F.slice(groups, 1, 5), lambda g: g == "0000")
        & (F.element_at(groups, 6) == "ffff")
    )


def _v4_of_mapped(groups: Column) -> Column:
    """Dotted-quad string of the embedded v4 (groups 7..8)."""
    g7, g8 = F.element_at(groups, 7), F.element_at(groups, 8)
    o = lambda h: F.conv(h, 16, 10).cast("long")  # noqa: E731
    return F.concat_ws(
        ".",
        (o(g7) / 256).cast("long").cast("string"),
        (o(g7) % 256).cast("string"),
        (o(g8) / 256).cast("long").cast("string"),
        (o(g8) % 256).cast("string"),
    )


def ip_prefix(c: Column, groups: Column | None = None) -> Column:
    """_ip_to_prefix parity (ip_utils.py:60-72): v4 → first two octets;
    v4-mapped v6 → first two octets of the embedded v4; other v6 → first
    two exploded groups."""
    s = F.trim(c)
    groups = _ipv6_groups(c) if groups is None else groups
    v4m = _v4_of_mapped(groups)
    return (
        F.when(s.rlike(_V4), ipv4_prefix(c))
        .when(
            groups.isNotNull() & _is_v4_mapped(groups),
            F.concat_ws(".", F.split(v4m, r"\.")[0], F.split(v4m, r"\.")[1]),
        )
        .when(
            groups.isNotNull(),
            F.concat(F.element_at(groups, 1), F.lit(":"), F.element_at(groups, 2)),
        )
    )


def ip_binary_hex(c: Column, groups: Column | None = None) -> Column:
    """Hex string of _ip_to_binary (ip_utils.py:48-58): v4 and
    ipv4-mapped v6 pack to 4 bytes, other v6 to 16 bytes. Emitted as
    lowercase hex (engine-portable; wrap in unhex() for raw bytes)."""
    s = F.trim(c)
    groups = _ipv6_groups(c) if groups is None else groups
    v4_hex = F.lower(F.lpad(F.hex(ipv4_to_int(c)), 8, "0"))
    mapped_hex = F.lower(
        F.concat(F.element_at(groups, 7), F.element_at(groups, 8))
    )
    full_hex = F.lower(F.array_join(groups, ""))
    return (
        F.when(s.rlike(_V4), v4_hex)
        .when(groups.isNotNull() & _is_v4_mapped(groups), mapped_hex)
        .when(groups.isNotNull(), full_hex)
    )


# --- country -------------------------------------------------------------------

def _country_full_map() -> dict[str, str]:
    from upgini_spark.functions.keys_tables import COUNTRY_NAMES_TO_ISO

    return COUNTRY_NAMES_TO_ISO


# Back-compat alias: stripped-key variant of the full table (see
# country_to_iso). Built lazily below.
def _country_stripped_map() -> dict[str, str]:
    import re as _re

    # aliases the reference map lacks in plain form (it has the long
    # "UNITED KINGDOM OF GREAT BRITAIN..." entry; UK→GB is the converter's
    # special case, country_utils.py:12-19)
    out = {"UK": "GB", "UNITEDKINGDOM": "GB"}
    for name, code in _country_full_map().items():
        out[_re.sub("[^A-Z]", "", name)] = code
    return out


def country_full_name_to_iso(c: Column) -> Column:
    """convert_country_to_iso_code parity (country_utils.py:36-48): map the
    UPPERCASED raw value through the ~200-entry full-name table; unmapped
    values pass through unchanged (fillna with the original)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in _country_full_map().items() for x in kv]
    )
    return F.coalesce(mapping[F.upper(c.cast("string"))], c.cast("string"))


def country_to_iso(c: Column) -> Column:
    """Uppercase, strip non A-Z, map full names (full reference table with
    punctuation/spaces removed from the keys), UK→GB, pass through valid
    alpha-2 codes (country_utils.py:7-48 + the table :50-251)."""
    cleaned = F.regexp_replace(F.upper(F.trim(c)), "[^A-Z]", "")
    mapping = F.create_map(
        *[F.lit(x) for kv in _country_stripped_map().items() for x in kv]
    )
    mapped = mapping[cleaned]
    return F.coalesce(
        mapped,
        F.when(F.length(cleaned) == 2, cleaned),
    )


# --- postal -------------------------------------------------------------------

def postal_normalize(c: Column) -> Column:
    """str→(kill trailing '.0')→uppercase→strip non-alnum→strip leading
    zeros (postal_code_utils.py:52-78); all-zero codes → null."""
    s = F.trim(c.cast("string"))
    s = F.regexp_replace(s, r"\.0+$", "")
    s = F.regexp_replace(F.upper(s), "[^0-9A-Z]", "")
    s = F.regexp_replace(s, "^0+", "")
    return F.when(F.length(s) > 0, s)

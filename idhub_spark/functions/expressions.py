"""Column expressions re-expressing the reference's scalar transforms.

Reference parity (cited into /root/reference):
- null normalization      table-loader/services/data_transformer.py:148-217
- type coercion           table-loader/services/data_transformer.py:148-217
- extract_year            redcap-pipeline/services/data_processor.py:74-78
- boolean transform       redcap-pipeline/services/data_processor.py:79-84
- registration-year       redcap-pipeline/services/data_processor.py:88-167
- control-status parse    redcap-pipeline/services/data_processor.py:169-197
- name normalization      redcap-pipeline/services/center_resolver.py:44-45
- GSID generation         gsid-service/services/gsid_generator.py:15-60
- ID validation           gsid-service/services/id_validator.py:13-111

All are Catalyst expressions (no Python UDFs): they fold into
whole-stage codegen and scale linearly with partitions. At 100 TB the
per-row cost is the same few ns/row as any built-in projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Null sentinels the reference strips everywhere, compared
# CASE-INSENSITIVELY: data_transformer.py:159 does
# str(value).strip().upper() in ("NULL", "NA", "N/A", "") — so
# 'n/a'/'Null'/'Na' normalize too. NAN/NONE cover pandas-stringified
# nulls the reference catches via pd.isna/None objects.
NULL_SENTINELS_UPPER = ["", "NULL", "NA", "N/A", "NAN", "NONE"]

TRUE_VALUES = ["1", "true", "t", "yes", "y"]
FALSE_VALUES = ["0", "false", "f", "no", "n"]
# the loader's boolean (data_transformer.py:185): truthy lexicon,
# EVERYTHING else (non-null) is False — no NULL middle ground
LOADER_TRUE_VALUES = ["true", "t", "yes", "y", "1"]


def null_normalize_expr(col: Column) -> Column:
    """'' / NULL / NA / N/A / nan (trimmed, case-insensitive) -> real
    NULL (data_transformer.py:159)."""
    t = F.trim(col)
    return F.when(F.upper(t).isin(NULL_SENTINELS_UPPER), F.lit(None)).otherwise(t)


def type_coerce(col: Column, target: str) -> Column:
    """Schema-aware TOLERANT cast with null normalization first
    (data_transformer.py:156-217: every failed conversion is a logged
    None, never an error).

    Spark 4 runs with ANSI mode ON by default, where a plain .cast()
    THROWS on malformed input and kills the job — every branch here
    must be a try_* form. int targets go through double first
    (reference does int(float(x)), so '3.0' -> 3); booleans use the
    loader lexicon (truthy set, else False); dates are the loader's
    yyyy-M-d (strptime '%Y-%m-%d' with its non-padded tolerance).
    """
    c = null_normalize_expr(col.cast("string"))
    t = target.lower()
    if t in ("boolean", "bool"):
        return F.when(c.isNull(), F.lit(None).cast("boolean")).otherwise(
            F.lower(c).isin(LOADER_TRUE_VALUES)
        )
    if t == "date":
        # single-letter pattern = Python strptime's non-padded
        # tolerance (data_transformer.py:187 strptime('%Y-%m-%d')
        # accepts '2021-3-5'); 'yyyy-M-d' parses both padded and not
        return F.try_to_date(c, "yyyy-M-d")
    if "timestamp" in t:
        return F.try_to_timestamp(c)
    if "int" in t:  # int/bigint/smallint/tinyint: int(float(x))
        return c.try_cast("double").try_cast(target)
    if t in ("float", "double", "real", "numeric") or t.startswith("decimal"):
        return c.try_cast(target)
    return c.cast(target)  # string-family targets: cast is total


def extract_year_expr(col: Column) -> Column:
    """First '-'-segment (or the whole value) as an int year, NULL on
    junk (data_processor.py:74-78: value.split('-')[0] if '-' in value
    else value; try_cast = the tolerant int conversion downstream)."""
    s = F.trim(col.cast("string"))
    base = F.when(s.contains("-"), F.split(s, "-")[0]).otherwise(s)
    return base.try_cast("int")


def boolean_expr(col: Column, true_values=None, false_values=None) -> Column:
    """Configured truthy/falsy lexicons -> boolean, else NULL
    (the REDCap transform dialect, data_processor.py:79-84)."""
    tv = [v.lower() for v in (true_values or TRUE_VALUES)]
    fv = [v.lower() for v in (false_values or FALSE_VALUES)]
    low = F.lower(F.trim(col.cast("string")))
    return F.when(low.isin(tv), F.lit(True)).when(low.isin(fv), F.lit(False)).otherwise(
        F.lit(None).cast("boolean")
    )


def control_status_expr(col: Column) -> Column:
    """Control-status parse (data_processor.py:169-197): truthy set
    {'1','true','yes','y'} — note NO 't' — and EVERYTHING else
    (unrecognized, missing, NULL) is False, never NULL."""
    low = F.lower(F.trim(col.cast("string")))
    return F.coalesce(low.isin(["1", "true", "yes", "y"]), F.lit(False))


def registration_year_expr(col: Column) -> Column:
    """Registration date -> Jan-1 of the year, 1900-2100 validated,
    NULL otherwise — the reference's exact branch ORDER
    (data_processor.py:125-167):

    1. len >= 10 AND contains '-'  -> int(first '-' segment)
       (a trailing time part or even an invalid month/day does NOT
       invalidate the year — '2021-01-02 10:30' and '2021-13-99'
       both yield 2021, exactly like the reference);
    2. bare 4-digit year;
    3. otherwise strptime-style formats in order: yyyy-M-d, M/d/yyyy,
       d/M/yyyy, yyyy/M/d (single-letter patterns = the non-padded
       tolerance of Python strptime, so '1/2/2021' parses).

    Branches are CASE arms, so each row pays only its own branch
    (Catalyst evaluates CaseWhen lazily per row); every parse is a
    try_* form — ANSI-safe, junk comes out NULL.
    """
    s = F.trim(col.cast("string"))
    n = F.length(s)
    fmt_year = F.year(
        F.coalesce(
            F.try_to_date(s, "yyyy-M-d"),
            F.try_to_date(s, "M/d/yyyy"),
            F.try_to_date(s, "d/M/yyyy"),
            F.try_to_date(s, "yyyy/M/d"),
        )
    )
    year = (
        F.when((n >= 10) & s.contains("-"), F.split(s, "-")[0].try_cast("int"))
        .when(s.rlike(r"^\d{4}$"), s.try_cast("int"))
        .otherwise(fmt_year)
    )
    year = F.when((year >= 1900) & (year <= 2100), year)
    return F.make_date(year, F.lit(1), F.lit(1))


def normalize_name_expr(col: Column) -> Column:
    """lower + trim + '_'->' ' (center_resolver.py:44-45)."""
    return F.lower(F.trim(F.regexp_replace(col, "_", " ")))


# --- ID validation (id_validator.py:13-111) --------------------------------

# error patterns: EXACTLY the reference's six (id_validator.py:13-20,
# applied with re.IGNORECASE)
_ERROR_PATTERNS = [
    r"(?i)^test",
    r"(?i)^demo",
    r"(?i)^example",
    r"(?i)^0+$",
    r"(?i)^9+$",
    r"(?i)^x+$",
]
# warning patterns (id_validator.py:23-28, case-sensitive like the
# reference's re.search without IGNORECASE)
_W_SHORT_NUM = r"^\d{1,3}$"
_W_SHORT_ALPHA = r"^[a-z]{1,2}$"
_W_WHITESPACE = r"\s"
_W_SPECIAL = r"[^a-zA-Z0-9_-]"
_W_NUMERIC = r"^\d+$"


def id_validation_expr(col: Column, *, numeric_ok: bool = False) -> Column:
    """struct<valid boolean, severity string, warnings array<string>>.

    Mirrors IDValidator exactly (id_validator.py:38-111): an empty or
    NULL id is invalid/error (not silently valid); the six error
    patterns invalidate with a single-warning payload; otherwise the
    warning checks accumulate (short-numeric, short-alpha, whitespace,
    special chars — which INCLUDE whitespace, so a spaced id gets
    both, like the reference — purely-numeric unless the identifier
    type allows it, and the generic <3-chars check); clean ids are
    severity 'info' (the reference's label, not 'ok')."""
    s = F.trim(col.cast("string"))
    empty = col.isNull() | (s == "")
    is_error = empty
    for pat in _ERROR_PATTERNS:
        is_error = is_error | s.rlike(pat)
    collected = F.array_compact(
        F.array(
            F.when(s.rlike(_W_SHORT_NUM), F.lit("short_numeric")),
            F.when(s.rlike(_W_SHORT_ALPHA), F.lit("short_alpha")),
            F.when(s.rlike(_W_WHITESPACE), F.lit("contains_whitespace")),
            F.when(s.rlike(_W_SPECIAL), F.lit("special_characters")),
            F.lit(None).cast("string")
            if numeric_ok
            else F.when(s.rlike(_W_NUMERIC), F.lit("purely_numeric")),
            F.when(F.length(s) < 3, F.lit("too_short")),
        )
    )
    warnings = (
        F.when(empty, F.array(F.lit("empty")))
        .when(is_error, F.array(F.lit("error_pattern")))
        .otherwise(collected)
    )
    severity = (
        F.when(is_error, F.lit("error"))
        .when(F.size(warnings) > 0, F.lit("warning"))
        .otherwise(F.lit("info"))
    )
    return F.struct(
        (~is_error).alias("valid"), severity.alias("severity"), warnings.alias("warnings")
    )


# --- GSID generation (gsid_generator.py:15-60) -----------------------------

# Crockford base32 without I, L, O, U — exactly the reference alphabet
# (gsid-service/services/gsid_generator.py:12).
GSID_ALPHABET = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
GSID_REGEX = r"^GSID-[0-9A-HJ-NP-TV-Z]{16}$"


def _base32_expr(num: Column, width: int) -> Column:
    """Fixed-width Crockford-base32 of a non-negative bigint, as a
    fold over digit positions (JVM-side, no UDF)."""
    digits = [
        F.substring(
            F.lit(GSID_ALPHABET),
            (F.shiftrightunsigned(num, 5 * i).bitwiseAND(F.lit(31)) + 1).cast("int"),
            1,
        )
        for i in range(width - 1, -1, -1)
    ]
    return F.concat(*digits)


# mint time of a gsid_expr call that passes no ts_ms
MINT_EPOCH_MS = 1700000000000


def gsid_expr(seed: Column, ts_ms: Column | None = None) -> Column:
    """Mint a GSID: 'GSID-' + base32(ms timestamp)[5] + base32(seed-hash)[11].

    The reference uses secrets.randbelow(32**11) for the random part
    (gsid_generator.py:32-60); for a deterministic, partition-safe
    batch mint we derive the 55 random bits from xxhash64(seed) —
    same format contract (test_gsid_format.py:63-74): 21 chars,
    'GSID-' prefix, Crockford alphabet, regex ^GSID-[0-9A-HJ-NP-TV-Z]{16}$.

    ts_ms defaults to a fixed epoch for reproducibility in tests; pass
    unix_millis(current_timestamp()) in production jobs.
    """
    if ts_ms is None:
        ts_ms = F.lit(MINT_EPOCH_MS)
    ts_part = _base32_expr(ts_ms.cast("bigint").bitwiseAND(F.lit((1 << 25) - 1)), 5)
    rand_bits = F.abs(F.xxhash64(seed)).bitwiseAND(F.lit((1 << 55) - 1))
    rand_part = _base32_expr(rand_bits, 11)
    return F.concat(F.lit("GSID-"), ts_part, rand_part)


def flexible_timestamp_expr(col: Column) -> Column:
    """ISO string or epoch-milliseconds -> timestamp (P15,
    labkey-sync/services/labkey_client.py:83-101). Millis are
    recognized by shape (>= 12 digits) so 2001-2286 epochs parse;
    anything else goes through the normal timestamp parser."""
    s = F.trim(col.cast("string"))
    return F.when(
        s.rlike(r"^\d{12,}$"), F.timestamp_millis(s.cast("bigint"))
    ).otherwise(F.try_to_timestamp(s))

"""Cleanse operators T1-T7 (SURVEY.md §2.5) as pure Column functions.

The reference implements these as row-at-a-time JavaScript in
``processVoucherData`` (``services/etlService.js:118-156``) and
``processTransactionData`` (``:259-297``). Here each rule is a Column
expression that stays inside whole-stage codegen — no Python UDFs.

The rules the ETL pipeline applies per column (``upper_trim``,
``enum_domain``, ``parse_float``, ``date_norm_utc``, ``char_flag``,
``truthy_int``, ``falsy_key``) are written once as SQL text over a
column name and returned as one ``F.expr``. The plan is the same as the
Column-call form (Catalyst parses the text into the identical
expression tree; the optimized plans of both pipeline branches compare
equal), but the driver cost is not: every Column method call is one
py4j round trip to the JVM, and a rule built from Column calls takes
10-20 of them. Measured on the perfbench seed-1 sources (4-core host):
``cleanse_voucher`` fell from 3,666 round trips to ~220 and a whole
``build_pipeline`` from 7,346 to under 1,900 (1.37 s to 0.62 s median).
Literals go through ``_lit`` (SQL string escaping) and regexes through
``_raw`` (a raw ``r'...'`` literal, so backslash classes reach the regex
engine unchanged).

Bug-compat quirks (SURVEY.md §2.9) are preserved behind ``compat=True``
(the default is *clean* semantics; the ETL pipeline plan passes
``compat=True`` for reference parity):

- Q1: ``parseFloat(x) || null`` nulls out zero *and* NaN, and parseFloat
  prefix-parses (``"12abc"`` -> 12.0).
- Q2: JS-falsy key check drops empty-string keys (and 0 for numerics) in
  addition to NULLs.
- Q3: the string ``"0"`` is truthy in JS, so ``ishold="0"`` coerces to 1.
- Q4: date normalization truncates to the *UTC* calendar day
  (``new Date(x).toISOString().split('T')[0]``), so a +08:00 datetime can
  shift one day backward. We pin the session timezone to UTC in
  ``session.get_spark`` so ``to_timestamp`` + ``date_format`` reproduce it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# JS parseFloat prefix grammar (sign, decimal, exponent), after leading
# whitespace. Infinity is omitted (never occurs in the reference's data).
_PARSEFLOAT_RE = r"^[+-]?(\d+\.?\d*([eE][+-]?\d+)?|\.\d+([eE][+-]?\d+)?)"
_LEADING_WS_RE = r"^\s+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _q(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _lit(s: str) -> str:
    """A string as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _raw(pattern: str) -> str:
    """A regex as a raw SQL string literal (no escape processing)."""
    if "'" in pattern:
        raise ValueError(f"a raw SQL literal cannot hold a quote: {pattern}")
    return f"r'{pattern}'"


def upper_trim(col: str) -> Column:
    """T1 — uppercase+trim, applied only to non-empty strings.

    JS guard: ``if (v && typeof v === 'string')`` (etlService.js:138-142)
    — NULL and ``''`` pass through untouched; whitespace-only strings are
    truthy and collapse to ``''``.
    """
    c = _q(col)
    return F.expr(f"CASE WHEN {c} IS NOT NULL AND {c} != '' "
                  f"THEN trim(upper({c})) ELSE {c} END")


def enum_domain(col: str, domain: Sequence[str]) -> Column:
    """T2 — normalize then validate against a closed domain.

    Mirrors the ``sex`` rule (etlService.js:120-127): falsy -> NULL;
    otherwise ``String(x).toUpperCase().trim()`` and NULL unless it lands
    in the domain.
    """
    c = f"CAST({_q(col)} AS STRING)"
    s = f"trim(upper({c}))"
    arm = (f"WHEN {s} IN ({', '.join(map(_lit, domain))}) THEN {s} "
           if domain else "")
    return F.expr(f"CASE WHEN {c} IS NULL OR {c} = '' "
                  f"THEN CAST(NULL AS STRING) {arm}"
                  "ELSE CAST(NULL AS STRING) END")


def parse_float(col: str, compat: bool = True) -> Column:
    """T3 — numeric coercion.

    compat=True replicates ``parseFloat(x) || null``
    (etlService.js:143-147, 261-265): prefix-parse (``"12abc"`` -> 12.0),
    and a result of 0 or NaN becomes NULL (quirk Q1 — ``"0.00"`` -> NULL).
    compat=False is the clean engine default: ``try_cast(double)``.
    """
    c = f"CAST({_q(col)} AS STRING)"
    if not compat:
        return F.expr(f"try_cast({c} AS DOUBLE)")
    stripped = f"regexp_replace({c}, {_raw(_LEADING_WS_RE)}, '')"
    prefix = f"regexp_extract({stripped}, {_raw(_PARSEFLOAT_RE)}, 0)"
    parsed = f"CASE WHEN {prefix} != '' THEN CAST({prefix} AS DOUBLE) END"
    return F.expr(f"CASE WHEN {parsed} IS NULL OR {parsed} = 0D "
                  f"OR isnan({parsed}) THEN CAST(NULL AS DOUBLE) "
                  f"ELSE {parsed} END")


def zero_null(col: Column | str) -> Column:
    """T3/Q1 on an already-numeric column: ``x || null`` -> NULLIF(x, 0)."""
    c = _c(col)
    return F.nullif(c, F.lit(0).cast("double"))


def date_norm_utc(col: str) -> Column:
    """T4 — normalize any date-ish value to a UTC ``yyyy-MM-dd`` string.

    Mirrors ``new Date(x).toISOString().split('T')[0]``
    (etlService.js:148-154, 276-282): parse (offset-aware; naive treated
    as UTC, matching a TZ=UTC node container), truncate to the UTC
    calendar day, else NULL. Requires session timezone UTC for string
    inputs carrying offsets (quirk Q4); timestamp-typed inputs are
    timezone-free. The format-less parse reads ISO-8601 on its own
    (``T`` or space, 0-6 fraction digits, ``Z``/``±hh``/``±hhmm``/
    ``±hh:mm``); the second arm adds the slash-separated date.
    """
    s = f"CAST({_q(col)} AS STRING)"
    return F.expr(
        f"date_format(coalesce(try_to_timestamp({s}), "
        f"try_to_timestamp({s}, 'yyyy/MM/dd')), 'yyyy-MM-dd')")


def char_flag(col: str) -> Column:
    """T5 — ``'1'`` stays ``'1'``, anything else (incl. NULL) -> ``'0'``
    (etlService.js:267-269)."""
    return F.expr(f"CASE WHEN {_q(col)} = '1' THEN '1' ELSE '0' END")


def _falsy_key_sql(col: str, numeric: bool) -> str:
    # JS falsiness of a number (NULL or 0) or of a string (NULL or '')
    c = _q(col)
    if numeric:
        return f"{c} IS NULL OR {c} = 0"
    return f"{c} IS NULL OR CAST({c} AS STRING) = ''"


def truthy_int(col: str, compat: bool = True,
               numeric: bool = False) -> Column:
    """T6 — JS truthiness -> 1/0 (etlService.js:270-274).

    JS falsiness depends on the runtime type the MySQL driver hands over:
    TINYINT columns arrive as numbers (``0`` is falsy -> 0), VARCHAR
    columns as strings (only ``''`` is falsy — the string ``"0"`` coerces
    to 1, quirk Q3). A Column expression can't branch on runtime type, so
    callers pass ``numeric=True`` for statically-numeric columns
    (``cleanse_transaction`` inspects the frame's dtypes; schemas.py
    declares ishold/isremove/isretransact as INT, matching the TINYINTs).

    compat=False is the clean-engine rule: any parseable zero ("0",
    "0.0", 0) -> 0 regardless of type.
    """
    if compat:
        falsy = _falsy_key_sql(col, numeric)
    else:
        falsy = (f"{_falsy_key_sql(col, False)} "
                 f"OR try_cast({_q(col)} AS DOUBLE) = 0D")
    return F.expr(f"CASE WHEN {falsy} THEN 0 ELSE 1 END")


def string_cast(col: Column | str) -> Column:
    """T7 — explicit string cast (etlService.js:121)."""
    return _c(col).cast("string")


def falsy_key(col: str, numeric: bool = False) -> Column:
    """P4/P5/Q2 predicate — True when a key is 'missing' under JS falsiness
    (etlService.js:65-75, 206-216): NULL or ``''`` (strings), NULL or 0
    (numerics). Note the string ``"0"`` is a *valid* key.
    """
    return F.expr(_falsy_key_sql(col, numeric))


def any_falsy_key(cols: Sequence[str], numeric: bool = False) -> Column:
    """Disjunction of `falsy_key` over a composite key."""
    return F.expr(" OR ".join(f"({_falsy_key_sql(c, numeric)})"
                              for c in cols))


# Field lists from the reference, so the pipeline plan can apply rules to
# exactly the columns the reference touches (etlService.js:128-137 and
# :286-291; the transaction list de-duplicated — the original repeats four
# names, a no-op).
VOUCHER_UPPER_FIELDS = [
    "first_name", "middle_name", "last_name", "ext_name",
    "mother_maiden", "birth_place", "reg_desc", "prv_desc",
    "mun_desc", "brgy_desc", "seed_class", "rrp_fertilizer_kind",
    "voucher_status", "encode_agency", "encoded_by_fullname",
    "cancelled_by_fullname", "voucher_remarks", "batch_code",
    "if_4ps", "if_ip", "if_pwd", "voucher_season", "reg_desc_farm",
    "prv_desc_farm", "mun_desc_farm", "brgy_desc_farm", "cropname",
    "agri_input", "variety", "unit", "cluster_org_assc",
]
VOUCHER_NUMERIC_FIELDS = ["farm_area", "amount", "amount_val", "crop_area"]
VOUCHER_DATE_FIELDS = ["birthday", "scanned_date", "date_cancelled",
                       "date_restored"]

TXN_UPPER_FIELDS = [
    "unit_type", "return_status", "item_category", "item_sub_category",
    "item_category_remarks", "transac_by_fullname", "removed_by_name",
    "additional_info", "remarks",
]
TXN_NUMERIC_FIELDS = ["quantity", "amount", "total_amount", "cash_added",
                      "latitude", "longitude"]
TXN_DATE_FIELDS = ["transac_date", "payout_date", "date_hold",
                   "date_removed"]
TXN_BOOL_FIELDS = ["ishold", "isremove", "isretransact"]


def manila_iso(col: Column | str) -> Column:
    """T10 — Asia/Manila wall-clock ISO rendering with explicit +08:00
    offset (``utils/logger.js:22-42``; variant ``etlService.js:593-605``).
    Input is the engine's UTC-pinned NTZ event time; Manila has no DST,
    so the offset is the constant the reference hardcodes."""
    c = _c(col)
    return F.date_format(c + F.expr("INTERVAL 8 HOURS"),
                         "yyyy-MM-dd'T'HH:mm:ss.SSS'+08:00'")


def duration_hms(col: Column | str) -> Column:
    """T11 — milliseconds -> "Xh Ym Zs" (``index.js:39-44``).

    Truncating division throughout: identical to the floor formulation
    for the reference's non-negative runtimes, and for a negative input
    (clock skew) every component truncates toward zero consistently —
    the old mix of float floor and sign-of-dividend remainder
    double-counted the hour on negatives. ``(ms - ms % b)`` is an exact
    multiple of ``b`` (Spark's ``%`` carries the dividend sign), and
    the division runs in DECIMAL(38,0), never touching a double — so
    the hour component is exact over the FULL long domain, not just
    |ms| <= 2^53 (the old float path silently lost precision above
    that)."""
    ms = _c(col).cast("long")

    def tdiv(a: Column, b: int) -> Column:
        # long-only truncating divide: numerator is a multiple of b, so
        # the decimal quotient is an integer and the cast is lossless
        return ((a - a % b).cast("decimal(38,0)") / b).cast("long")

    # NULL in, NULL out — format_string would otherwise render the
    # literal text "nullh nullm nulls" for a missing duration
    return F.when(ms.isNull(), F.lit(None).cast("string")).otherwise(
        F.format_string(
            "%dh %dm %ds",
            tdiv(ms, 3_600_000),
            tdiv(ms % 3_600_000, 60_000),
            tdiv(ms % 60_000, 1_000),
        ))

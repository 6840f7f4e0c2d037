"""Canonical value stringification for cross-type equality.

The reference compares rows entirely in string space after
canonicalizing every value (``convertValueToString``,
ref: dbsync.go:57-129). Two rules are load-bearing for diff
correctness:

1. **whole-float collapse** — ``float64(42)`` canonicalizes to
   ``"42"``, not ``"42.0"`` (ref: dbsync.go:94-98), so a JSON number
   ``42`` equals a DB-side string ``"42"``;
2. **timestamps → RFC3339 UTC** (ref: dbsync.go:99-100).

Plus: bool → "true"/"false", NULL → "" (ref: dbsync.go:646-656).

We keep *typed* schemas end-to-end (an improvement over the
reference) and use these expressions only where cross-representation
equality is required: the diff join key and the row-inequality
comparison. All pure Column expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Null-ish string tokens (case/whitespace-insensitive) treated as null
# by the PK validator (ref: primary_key_validator.go:151-161).
NULL_TOKENS = ["", "null", "nil", "n/a", "na", "none", "undefined"]

RFC3339_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def canonical_str(col: Column, dtype: T.DataType) -> Column:
    """Canonical string form of a typed column (never NULL; NULL → "")."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        base = _canonical_float(col)
    elif isinstance(dtype, T.BooleanType):
        base = F.when(col, F.lit("true")).otherwise(F.lit("false"))
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        base = F.date_format(col, RFC3339_FORMAT)
    elif isinstance(dtype, T.DateType):
        base = F.date_format(col, "yyyy-MM-dd")
    elif isinstance(dtype, T.DecimalType):
        # trim trailing fractional zeros so DECIMAL(10,2) 42.00 == "42"
        base = _trim_decimal_zeros(col.cast("string"))
    elif isinstance(dtype, T.StringType):
        # strings that *look* like plain decimals get the same
        # whole-float collapse ("69195.0" == double 69195.0); the
        # strict regex leaves leading-zero identifiers ("007") and
        # anything non-numeric untouched. The reference never needed
        # this (both its compare sides are raw strings); with typed
        # schemas it is what makes CSV-vs-typed diffs faithful.
        is_decimal = col.rlike(r"^-?\d+\.\d+$")
        base = F.when(is_decimal, _trim_decimal_zeros(col)).otherwise(col)
    else:
        base = col.cast("string")
    return F.coalesce(base, F.lit(""))


def _canonical_float(col: Column) -> Column:
    """Whole floats collapse to integer form: 42.0 → "42".

    Whole values within long range render via a long cast; everything
    else uses Spark's double→string (documented divergence from Go's
    ``%v`` for scientific notation — irrelevant to diff correctness
    because both sides of every comparison use this same function).
    """
    is_whole = (col == F.floor(col)) & (F.abs(col) < F.lit(9.2e18))
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(is_whole, col.cast("long").cast("string")).otherwise(
            col.cast("string")
        )
    )


def _trim_decimal_zeros(s: Column) -> Column:
    has_frac = s.contains(".")
    trimmed = F.regexp_replace(F.regexp_replace(s, r"0+$", ""), r"\.$", "")
    return F.when(has_frac, trimmed).otherwise(s)


def quote_ident(name: str) -> str:
    """Backtick-quoted identifier: resolves ``name`` as one top-level
    column even when it contains a dot."""
    return "`" + name.replace("`", "``") + "`"


def canonical_col(df: DataFrame, name: str) -> Column:
    """``canonical_str`` resolved against ``df``'s schema."""
    return canonical_str(df[quote_ident(name)], df.schema[name].dataType)


def row_fingerprint(df: DataFrame, cols: list[str]) -> Column:
    """64-bit fingerprint of a row's canonical string tuple.

    Used for the J3 row-inequality test: two rows differ iff their
    fingerprints differ (ref: compareRecords, dbsync.go:695-715, which
    compares column-by-column in string space). A field separator
    keeps ("ab","c") distinct from ("a","bc").
    """
    parts = []
    for name in cols:
        parts.append(canonical_col(df, name))
        parts.append(F.lit("\x1f"))
    return F.xxhash64(*parts)


def is_nullish(col: Column) -> Column:
    """True for NULL or any null-token string (ref: primary_key_validator.go:151-161).

    Trims ALL leading/trailing whitespace (tabs/newlines included) —
    Spark's ``trim`` strips only spaces, but the reference uses Go's
    ``strings.TrimSpace``; found by the hypothesis property test."""
    stripped = F.regexp_replace(col.cast("string"), r"^\s+|\s+$", "")
    return col.isNull() | F.lower(stripped).isin(NULL_TOKENS)

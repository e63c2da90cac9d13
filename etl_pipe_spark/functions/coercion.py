"""Lenient scalar coercions as native column expressions (no Python UDFs).

The reference coerces untrusted JSON payload values with four small
Python helpers (reference transform.py:12-47: safe_get / safe_bool /
safe_numeric / safe_int).  Spark's plain ``cast`` is stricter (ANSI
mode errors; non-ANSI maps "yes" -> NULL), so each coercion is re-built
as a ``when`` ladder over ``try_cast`` — whole-stage-codegen'd JVM
expressions, ANSI-safe, zero Python on the hot path.  ``safe_get``
needs no helper: field access on a NULL struct is NULL.

``try_cast`` alone is NOT a faithful ``float(val)``: the JVM parser
additionally accepts Java numeric literals that Python rejects —
``"0D"`` -> 0.0, ``"3.7f"`` -> 3.7, ``"0x1p3"`` -> 8.0 — so
``safe_numeric``/``safe_int`` gate the cast behind an explicit
Python-float / Python-int grammar (sign, digit runs with PEP-515
underscores, fraction, exponent, inf/infinity/nan spellings) and only
then cast.  Anything outside the grammar degrades to NULL exactly like
reference ``float(val)``/``int(val)`` raising.

Documented divergence (pinned in tests/test_coercion_properties.py):
the grammar is ASCII — exotic spellings Python would also accept
(non-ASCII decimal digits such as U+0663, say) degrade to NULL, and
values beyond the 64-bit long range saturate/NULL per Spark's cast
rather than returning arbitrary-precision ints.

All helpers take a STRING column (payload fields are parsed as string
first — see schemas.INPUT_DATA_PAYLOAD) and return the typed column.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# A JSON scalar that was numeric (or a numeric string).  Used by
# safe_bool to distinguish Python's `bool(number)` branch from its
# string branch after from_json has stringified everything.
_NUMERIC_RE = r"^-?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?$"

# The exact whitespace set Python's float()/int() strip.  NOT the same
# as str.isspace(): \x1c-\x1f (file/group/record/unit separators) are
# isspace() characters that float()/int() nonetheless REJECT
# (float("\x1c1") raises on CPython 3.11), so they are deliberately
# absent here -- trimming them would coerce "\x1c42" to 42.0 where the
# reference float(val) returns NULL.  The property-test model derives
# its own trim set empirically from float() itself
# (tests/test_coercion_properties.py), so engine and model can no
# longer certify a shared wrong constant.
_WS_CHARS = (
    "\t\n\x0b\x0c\r \x85\xa0 "
    "           "
    "    　"
)
_TRIM_RE = f"^[{_WS_CHARS}]+|[{_WS_CHARS}]+$"

# Python numeric grammars (PEP 515 underscores allowed BETWEEN digits
# only).  Matched against the lower-cased trimmed string; both Java
# (rlike) and Python (re) read these identically.
_DIGITS = "[0-9](?:_?[0-9])*"
PY_FLOAT_GRAMMAR = (
    f"[+-]?(?:{_DIGITS}(?:\\.(?:{_DIGITS})?)?(?:e[+-]?{_DIGITS})?"
    f"|\\.{_DIGITS}(?:e[+-]?{_DIGITS})?"
    f"|inf(?:inity)?|nan)"
)
PY_INT_GRAMMAR = f"[+-]?{_DIGITS}"


def _trimmed(col: Column) -> Column:
    return F.regexp_replace(col, _TRIM_RE, "")


def safe_bool(col: Column) -> Column:
    """Lenient bool (reference transform.py:19-27).

    * NULL -> NULL
    * "true"/"false" (JSON booleans arrive stringified) -> themselves
    * numeric -> value != 0   (Python ``bool(val)``: 0 -> False, 2 -> True)
    * other string -> lower() in ("true", "1", "yes")  ("no" -> False)

    Divergence note: after JSON stringification the string "2" and the
    number 2 are indistinguishable; we take the numeric branch
    (2 -> True) whereas the reference's string branch would give False.
    Pinned in tests/test_coercions.py.
    """
    num = col.try_cast("double")
    return (
        F.when(col.isNull(), F.lit(None).cast("boolean"))
        .when(col.rlike(_NUMERIC_RE), num != 0)
        .otherwise(F.lower(col).isin("true", "1", "yes"))
    )


def safe_numeric(col: Column) -> Column:
    """Lenient float (reference transform.py:30-37): ``float(val)`` or NULL.

    Trim Python's whitespace set, require the Python-float grammar
    (incl. case-insensitive inf/infinity/nan, signed, underscored
    digit runs), strip the underscores, THEN ``try_cast`` — so the
    JVM parser's Java-literal extras ("0D", "3.7f", "1F", "0x1p3")
    degrade to NULL exactly like Python ``float`` raising.  Signed NaN
    ("-nan", Python-accepted, Spark-rejected) is normalized to "nan".
    The matrix is pinned in tests/test_coercions.py and the full
    grammar in tests/test_coercion_properties.py.
    """
    t = _trimmed(col)
    lt = F.lower(t)
    ok = lt.rlike(f"^{PY_FLOAT_GRAMMAR}$")
    cleaned = (
        F.when(lt.isin("-nan", "+nan"), F.lit("nan"))
        .otherwise(F.regexp_replace(t, "_", ""))
    )
    return F.when(ok, cleaned.try_cast("double"))


def safe_int(col: Column) -> Column:
    """Lenient int (reference transform.py:40-47): ``int(val)`` or NULL.

    Python raises on ``int("3.7")`` (-> NULL) but truncates ``int(3.7)``
    (-> 3).  After stringification both look like "3.7"; like the
    reference's JSON path (json numbers land as Python int/float, so
    3.7 -> truncate) we truncate any numeric, and NULL out garbage.
    Integral strings ("42") cast directly through the Python-int
    grammar gate; everything else rides ``safe_numeric``'s gated
    double (so Java literals stay NULL here too) and truncates toward
    zero via the double->long cast.
    """
    t = _trimmed(col)
    ok = t.rlike(f"^{PY_INT_GRAMMAR}$")
    direct = F.when(ok, F.regexp_replace(t, "_", "").try_cast("long"))
    return F.coalesce(direct, safe_numeric(col).try_cast("long"))

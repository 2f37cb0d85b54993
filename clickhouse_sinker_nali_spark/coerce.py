"""Lenient type-coercion expression builders — the engine's core "operator".

The reference NEVER drops a row for a bad field; it fills type defaults
instead (reference docs/dev/introduction.md:40-56, parser/fastjson.go:278-300):

- missing / null / incompatible value, non-nullable target -> type default:
  Int 0, Float 0.0, String "", DateTime Epoch (1970-01-01 UTC)
- same but nullable target -> NULL
- bool -> Int 1/0
- int target with float value -> default 0 (NOT truncation)
- string target with non-string value -> raw JSON text of the value
- numeric datetime -> epoch seconds * time_unit, clamped to [Epoch, 2^32 s)
- int overflow -> clamp to the declared ClickHouse type's borders
- array targets: null array -> [], null elements -> element default

All of this is expressed as Catalyst column expressions (whole-stage
codegen'd, no Python in the hot path). ``coerce_variant_expr`` below is
the token-type-faithful variant ``parse_json`` uses for flat fields; the
bug-level-faithful Python getters live in faithful.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .datetimes import epoch, parse_datetime_any
from .schema import INT_BORDERS, ColumnSpec, InternalType

ZERO_UUID = "00000000-0000-0000-0000-000000000000"


def let(col: Column, fn) -> Column:
    """Expression-level ``let``: evaluate ``col`` once, reference it many
    times via a bound lambda variable.

    Spark's whole-stage-codegen subexpression elimination deliberately skips
    conditionally-evaluated branches (``coalesce``/``when``), so an
    expensive source expression referenced from each branch of a cascade —
    e.g. ``from_json(value).field`` under the 16-attempt datetime layout
    cascade — is re-evaluated per attempt, re-parsing the JSON every time
    (measured 20×+ slowdown on the ingest path).  ``transform``'s lambda
    variable is bound once per row, giving the missing sharing.
    """
    return F.transform(F.array(col), fn).getItem(0)


def default_literal(spec: ColumnSpec) -> Column:
    """The reference's per-type default value as a literal column."""
    it = spec.internal
    if it in (InternalType.INT, InternalType.ELASTIC_DATETIME):
        return F.lit(0).cast("long")
    if it in (InternalType.FLOAT, InternalType.DECIMAL):
        return F.lit(0.0)
    if it == InternalType.STRING:
        return F.lit(ZERO_UUID) if spec.base_type == "UUID" else F.lit("")
    if it == InternalType.DATETIME:
        return epoch()
    if it == InternalType.INT_ARRAY:
        return F.array().cast(T.ArrayType(T.LongType(), True))
    if it == InternalType.FLOAT_ARRAY:
        return F.array().cast(T.ArrayType(T.DoubleType(), True))
    if it == InternalType.STRING_ARRAY:
        return F.array().cast(T.ArrayType(T.StringType(), True))
    if it == InternalType.DATETIME_ARRAY:
        return F.array().cast(T.ArrayType(T.TimestampType(), True))
    return F.lit(None).cast("string")


def clamp_int(col: Column, ch_base_type: str) -> Column:
    """Clamp an integer to the declared CH type's borders (overflow rule)."""
    borders = INT_BORDERS.get(ch_base_type)
    if borders is None:
        return col
    lo, hi = borders
    c = col.cast("long")
    return F.when(c < F.lit(lo), F.lit(lo)).when(c > F.lit(hi), F.lit(hi)).otherwise(c)


def _scalar_coercion(
    raw: Column,
    spec: ColumnSpec,
    time_unit: float,
    dt_cleaned: Column | None = None,
    dt_ts0: Column | None = None,
) -> Column:
    """Coerce one already-extracted (string-ish) value to the target type.

    ``raw`` is the value as produced by a permissive JSON/CSV read: a string
    for scalar fields (raw JSON text for objects/arrays feeding a String
    target), or NULL when missing.  ``dt_cleaned`` is the hot path's
    precomputed ``datetimes._clean(raw)`` attribute (see parse_datetime_str).
    """
    it = spec.internal
    if it == InternalType.INT:
        s = F.trim(raw.cast("string"))
        lo, hi = INT_BORDERS.get(spec.base_type, INT_BORDERS["Int64"])
        # integer strings SATURATE to the type borders, compared in
        # DECIMAL space: the former direct decimal->long cast silently
        # WRAPPED values past int64 (2^64-1 -> -1; found by the r8 seeded
        # ingest fuzz).  gjson's Int() saturates on overflow and the
        # variant path already saturates, so the string path now agrees;
        # 39+ digit strings exceed decimal(38) and fall to the default.
        num_dec = F.try_to_number(s, F.lit("S" + "9" * 38))
        num = (
            F.when(s == "true", F.lit(1).cast("long"))
            .when(s == "false", F.lit(0).cast("long"))
            # float-valued input for an Int target -> NULL (-> default), the
            # reference rejects rather than truncates (parser/gjson.go:93-99)
            .when(
                s.rlike(r"^-?\d+$"),
                F.when(num_dec < F.lit(lo), F.lit(lo).cast("long"))
                .when(num_dec > F.lit(hi), F.lit(hi).cast("long"))
                .otherwise(num_dec.cast("long")),
            )
        )
        return clamp_int(num, spec.base_type)
    if it in (InternalType.FLOAT, InternalType.DECIMAL):
        return raw.cast("string").cast("double")
    if it == InternalType.STRING:
        return raw.cast("string")
    if it == InternalType.DATETIME:
        return parse_datetime_any(raw, time_unit, cleaned=dt_cleaned, first=dt_ts0)
    if it == InternalType.ELASTIC_DATETIME:
        return F.unix_timestamp(
            parse_datetime_any(raw, time_unit, cleaned=dt_cleaned, first=dt_ts0)
        )
    raise ValueError(f"not a scalar type: {it}")


def _elem_spec(spec: ColumnSpec) -> ColumnSpec:
    elem_internal = {
        InternalType.INT_ARRAY: "Int64",
        InternalType.FLOAT_ARRAY: "Float64",
        InternalType.STRING_ARRAY: "String",
        InternalType.DATETIME_ARRAY: "DateTime",
    }[spec.internal]
    return ColumnSpec(name=spec.name, ch_type=elem_internal)


def coerce_expr(
    raw: Column,
    spec: ColumnSpec,
    time_unit: float = 1.0,
    raw_is_attr: bool = False,
    dt_cleaned: Column | None = None,
    dt_ts0: Column | None = None,
) -> Column:
    """Full lenient coercion for one column: cast + default-fill.

    Array targets coerce each element with ``transform`` (JVM-side lambda),
    defaulting NULL elements — array elements are never null in the
    reference's model (parser/fastjson.go:170-206).

    ``raw_is_attr=True`` means ``raw`` is an attribute reference that a
    prior projection already computed (the hot path hoists extraction into
    its own stage); referencing it repeatedly is free, so the HOF ``let``
    binding — which drops the whole subtree out of whole-stage codegen —
    is skipped.
    """
    if spec.internal in (
        InternalType.INT_ARRAY,
        InternalType.FLOAT_ARRAY,
        InternalType.STRING_ARRAY,
        InternalType.DATETIME_ARRAY,
    ):
        espec = _elem_spec(spec)
        edefault = default_literal(espec)
        arr = F.transform(
            raw,
            # element values are transform-lambda variables: already bound
            # once, no extra let needed
            lambda x: F.coalesce(
                _scalar_coercion(x, espec, time_unit), edefault
            ),
        )
        return F.coalesce(arr, default_literal(spec)).alias(spec.name)

    if raw_is_attr:
        coerced = _scalar_coercion(
            raw, spec, time_unit, dt_cleaned=dt_cleaned, dt_ts0=dt_ts0
        )
        if spec.nullable:
            return coerced.alias(spec.name)
        return F.coalesce(coerced, default_literal(spec)).alias(spec.name)

    if spec.nullable:
        return let(raw, lambda r: _scalar_coercion(r, spec, time_unit)).alias(spec.name)
    return let(
        raw,
        lambda r: F.coalesce(
            _scalar_coercion(r, spec, time_unit), default_literal(spec)
        ),
    ).alias(spec.name)


# Kafka virtual columns: any target column named __kafka*_topic/_partition/
# _offset(/_key/_timestamp) is filled from message metadata
# (reference model/message.go:183-190).
_KAFKA_VIRTUAL_SUFFIXES = {
    "_topic": "topic",
    "_partition": "partition",
    "_offset": "offset",
    "_key": "key",
    "_timestamp": "timestamp",
}


def kafka_virtual_source(name: str) -> str | None:
    """Map a __kafka* column name to its Kafka metadata source column."""
    if not name.startswith("__kafka"):
        return None
    for suffix, source in _KAFKA_VIRTUAL_SUFFIXES.items():
        if name.endswith(suffix):
            return source
    return None


# ---------------------------------------------------------------------------
# Variant-based coercion: token-type-faithful JSON semantics
# ---------------------------------------------------------------------------
#
# ``from_json`` with an all-string schema cannot distinguish the JSON string
# "7" from the number 7, but the reference's fastjson getters can — a string
# token for an Int/Float target is REJECTED (→ default), a float token for
# an Int target is rejected, a bool is 1/0 for Int but rejected for Float
# (faithful.py encodes the full matrix).  Spark 4's VariantType preserves
# token types: ``schema_of_variant`` reports BOOLEAN / BIGINT / DECIMAL(p,s)
# / DOUBLE / STRING / ARRAY<VARIANT> / OBJECT<...> / VOID per value and per
# array element, so the getter matrix becomes a column expression.
#
# Token-type mapping notes (verified empirically):
# - int lexeme within int64          → BIGINT
# - int lexeme beyond int64          → DECIMAL(p≥19, 0)   (clamp by sign)
# - float lexeme, integral value     → DECIMAL(p<19, 0)   (reject for Int;
#   string target re-appends the ".0" the variant normalizer dropped)
# - float lexeme, fractional         → DECIMAL(p,s>0) or DOUBLE
# ``try_variant_get`` casts are LENIENT (string "7" casts to 7), so every
# branch checks the token type FIRST and only then casts.


def _vtype(fv: Column) -> Column:
    return F.schema_of_variant(fv)


_OVERFLOW_DEC = r"^DECIMAL\((19|2[0-9]|3[0-8]),0\)$"
_SMALL_INT_DEC = r"^DECIMAL\(([1-9]|1[0-8]),0\)$"


def _variant_scalar(
    fv: Column,
    spec: ColumnSpec,
    time_unit: float,
    vt: Column | None = None,
    dt_str: Column | None = None,
    dt_cleaned: Column | None = None,
    dt_ts0: Column | None = None,
) -> Column:
    """fastjson getter matrix over one variant value; NULL = use default.

    Top-level String targets do NOT come through here (parse_json routes
    them to the raw-text path — the reference emits raw JSON text verbatim
    and variant re-serialization normalizes it); the STRING branch below
    only serves String *elements* of Array(String) targets, where the
    per-element raw text is unrecoverable and normalized form is accepted.

    ``vt``/``dt_str``/``dt_cleaned``: the hot path precomputes
    ``schema_of_variant(fv)`` (and, for DateTime targets, the string
    extraction and its cleaned form) in a prior projection and passes the
    attributes in.  Inlined, the type tag is instantiated once per CASE
    branch — conditional evaluation defeats codegen subexpression
    elimination, so schema_of_variant ran 3-6× per field per row (the
    round-2 10× ingest regression).
    """
    vt = vt if vt is not None else _vtype(fv)
    it = spec.internal
    is_num = (vt == "BIGINT") | (vt == "DOUBLE") | vt.startswith("DECIMAL")
    if it == InternalType.INT:
        lo, hi = INT_BORDERS.get(spec.base_type, INT_BORDERS["Int64"])
        overflow = F.when(
            F.try_variant_get(fv, "$", "double") < 0, F.lit(lo)
        ).otherwise(F.lit(hi))
        return (
            F.when(vt == "BOOLEAN", F.try_variant_get(fv, "$", "boolean").cast("long"))
            .when(vt == "BIGINT", clamp_int(F.try_variant_get(fv, "$", "bigint"), spec.base_type))
            .when(vt.rlike(_OVERFLOW_DEC), overflow)
        )
    if it in (InternalType.FLOAT, InternalType.DECIMAL):
        return F.when(is_num, F.try_variant_get(fv, "$", "double"))
    if it == InternalType.STRING:
        s = F.try_variant_get(fv, "$", "string")
        if spec.base_type == "UUID":
            return F.when(vt == "STRING", s)
        return (
            F.when(vt == "STRING", s)
            # variant normalizes the "3.0" lexeme to decimal 3; the
            # reference keeps the float-ness when serializing to a string
            .when(vt.rlike(_SMALL_INT_DEC), F.concat(s, F.lit(".0")))
            .when(vt.isNotNull() & (vt != "VOID"), s)
        )
    if it in (InternalType.DATETIME, InternalType.ELASTIC_DATETIME):
        from .datetimes import parse_datetime_num, parse_datetime_str

        s = dt_str if dt_str is not None else F.try_variant_get(fv, "$", "string")
        dt = F.when(
            is_num, parse_datetime_num(F.try_variant_get(fv, "$", "double"), time_unit)
        ).when(
            vt == "STRING",
            parse_datetime_str(s, cleaned=dt_cleaned, first=dt_ts0),
        )
        if it == InternalType.ELASTIC_DATETIME:
            return F.unix_timestamp(dt)
        return dt
    raise ValueError(f"not a scalar type: {it}")


def coerce_variant_expr(
    fv: Column,
    spec: ColumnSpec,
    time_unit: float = 1.0,
    vt: Column | None = None,
    dt_str: Column | None = None,
    dt_cleaned: Column | None = None,
    dt_ts0: Column | None = None,
) -> Column:
    """Full lenient coercion from a variant field (flat-JSON hot path).

    When ``vt`` (a precomputed ``schema_of_variant(fv)`` attribute) is
    given, ``fv`` is assumed to be an attribute too: no ``let`` binding
    is emitted, everything stays in whole-stage codegen, and each helper
    is evaluated exactly once per row.  Without it (array elements, ad-hoc
    callers) the HOF ``let`` still guards against re-extraction.
    """
    if spec.internal in (
        InternalType.INT_ARRAY,
        InternalType.FLOAT_ARRAY,
        InternalType.STRING_ARRAY,
        InternalType.DATETIME_ARRAY,
    ):
        espec = _elem_spec(spec)
        edefault = default_literal(espec)
        arr = F.try_variant_get(fv, "$", "array<variant>")
        coerced = F.transform(
            arr,
            lambda e: F.coalesce(_variant_scalar(e, espec, time_unit), edefault),
        )
        return F.coalesce(coerced, default_literal(spec)).alias(spec.name)

    if vt is not None:
        coerced = _variant_scalar(
            fv, spec, time_unit, vt=vt, dt_str=dt_str, dt_cleaned=dt_cleaned,
            dt_ts0=dt_ts0,
        )
    else:
        coerced = let(fv, lambda f: _variant_scalar(f, spec, time_unit))
    if spec.nullable:
        return coerced.alias(spec.name)
    return F.coalesce(coerced, default_literal(spec)).alias(spec.name)

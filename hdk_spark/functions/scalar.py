"""Scalar expression surface of the reference, as Catalyst column ops.

Covers the operator enum of reference omniscidb/IR/OpTypeEnums.h:14-40
and the SQL-name function surface of §2.8 (dispatch literals in
reference omniscidb/QueryEngine/RelAlgDagBuilder.cpp; math extension
functions in QueryEngine/ExtensionFunctions.hpp).

Everything here stays JVM-side (whole-stage codegen); no Python UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# date/time — field enums from reference omniscidb/IR/DateTimeEnums.h
# ---------------------------------------------------------------------------

_EXTRACT_DISPATCH = {}


def _register_extract(name):
    def deco(fn):
        _EXTRACT_DISPATCH[name] = fn
        return fn

    return deco


def extract(field: str, col: Column) -> Column:
    """PG_EXTRACT / DATEPART (reference IR/DateTimeEnums.h:62-82 lists the
    fields; impl Utils/ExtractFromTime.cpp). Returns BIGINT like the
    reference (which returns int64 for all extract fields)."""
    field = field.lower().lstrip("k")
    f = field.replace("_", "")
    if f in _EXTRACT_DISPATCH:
        return _EXTRACT_DISPATCH[f](col)
    raise ValueError(f"unsupported extract field: {field}")


_register_extract("year")(lambda c: F.year(c).cast("long"))
_register_extract("quarter")(lambda c: F.quarter(c).cast("long"))
_register_extract("month")(lambda c: F.month(c).cast("long"))
_register_extract("day")(lambda c: F.dayofmonth(c).cast("long"))
_register_extract("hour")(lambda c: F.hour(c).cast("long"))
_register_extract("minute")(lambda c: F.minute(c).cast("long"))
_register_extract("second")(lambda c: F.second(c).cast("long"))
# sub-second fields: reference returns the *fractional* component count
# (ExtractFromTime.cpp extract_millisecond = epoch ms % 1000 of the second)
_register_extract("milli")(
    lambda c: F.floor(
        (F.unix_micros(c) - F.unix_seconds(c) * F.lit(1_000_000)) / 1000
    ).cast("long")
)
_register_extract("micro")(
    lambda c: (F.unix_micros(c) - F.unix_seconds(c) * F.lit(1_000_000)).cast("long")
)
_register_extract("nano")(
    lambda c: ((F.unix_micros(c) - F.unix_seconds(c) * F.lit(1_000_000)) * 1000).cast("long")
)
# dayofweek: reference extract_dow is 0=Sunday..6 (ExtractFromTime.cpp);
# Spark dayofweek is 1=Sunday..7
_register_extract("dayofweek")(lambda c: (F.dayofweek(c) - 1).cast("long"))
_register_extract("dow")(lambda c: (F.dayofweek(c) - 1).cast("long"))
# iso dow: 1=Monday..7=Sunday
_register_extract("isodayofweek")(lambda c: F.dayofweek(F.date_sub(F.to_date(c), 1)).cast("long"))
_register_extract("isodow")(lambda c: F.dayofweek(F.date_sub(F.to_date(c), 1)).cast("long"))
_register_extract("dayofyear")(lambda c: F.dayofyear(c).cast("long"))
_register_extract("doy")(lambda c: F.dayofyear(c).cast("long"))
_register_extract("epoch")(lambda c: F.unix_seconds(c.cast("timestamp")))
_register_extract("dateepoch")(
    lambda c: F.unix_seconds(F.date_trunc("day", c.cast("timestamp")))
)
# quarterday: 1..4 (reference ExtractFromTime.cpp:95 extract_quarterday)
_register_extract("quarterday")(
    lambda c: (F.floor((F.hour(c) / 6)) + 1).cast("long")
)
_register_extract("week")(lambda c: F.weekofyear(c).cast("long"))


def _week_start_sunday(c: Column) -> Column:
    # dayofweek: Sunday=1..Saturday=7 → days since last Sunday = dow-1
    d = F.to_date(c)
    return F.date_sub(d, F.dayofweek(d) - 1)


def _week_start_saturday(c: Column) -> Column:
    # days since last Saturday = dayofweek % 7
    d = F.to_date(c)
    return F.date_sub(d, F.dayofweek(d) % 7)


# week numbering for the sunday/saturday variants: reference defines
# kWeekSunday/kWeekSaturday as week-of-year with weeks starting on
# Sunday/Saturday (ExtractFromTime.cpp extract_week_sunday/saturday):
# week 1 begins on the first Sunday/Saturday of the year.
def _extract_week_anchored(c: Column, anchor_fn) -> Column:
    d = F.to_date(c)
    week_start = anchor_fn(d)
    jan1 = F.trunc(week_start, "year")
    first_anchor = anchor_fn(F.date_add(jan1, 6))
    return (F.floor(F.datediff(week_start, first_anchor) / 7) + 1).cast("long")


_register_extract("weeksunday")(lambda c: _extract_week_anchored(c, _week_start_sunday))
_register_extract("weeksaturday")(lambda c: _extract_week_anchored(c, _week_start_saturday))


_STANDARD_TRUNC = {
    "year": "year",
    "quarter": "quarter",
    "month": "month",
    "day": "day",
    "hour": "hour",
    "minute": "minute",
    "second": "second",
    "week": "week",  # Monday-anchored, same as reference datetrunc_week<dtMONDAY>
    "milli": "millisecond",
    "millisecond": "millisecond",
    "micro": "microsecond",
    "microsecond": "microsecond",
    "nano": "microsecond",  # Spark timestamps are µs
}


def date_trunc(field: str, col: Column) -> Column:
    """PG_DATE_TRUNC (reference QueryEngine/DateTruncate.cpp:269).

    Exotic fields (reference DateTruncate.cpp):
      quarterday  — floor to 00/06/12/18h            (:57)
      week_sunday / week_saturday — week anchor       (:88,:93)
      decade      — Jan 1 of year-year%10             (:219)
      century     — Jan 1 of x(x)01                   (:239)
      millennium  — Jan 1 of x001                     (:249)
    """
    f = field.lower().lstrip("k").replace("-", "_")
    ts = col.cast("timestamp")
    if f in _STANDARD_TRUNC:
        return F.date_trunc(_STANDARD_TRUNC[f], ts)
    if f == "quarterday":
        secs = F.unix_seconds(ts)
        return F.timestamp_seconds(secs - _pmod(secs, F.lit(21600)))
    if f in ("week_sunday", "weeksunday"):
        return _week_start_sunday(ts).cast("timestamp")
    if f in ("week_saturday", "weeksaturday"):
        return _week_start_saturday(ts).cast("timestamp")
    if f == "decade":
        y = F.year(ts)
        return F.make_date(y - _pmod(y, F.lit(10)), F.lit(1), F.lit(1)).cast("timestamp")
    if f == "century":
        y = F.year(ts)
        return F.make_date(
            (F.floor((y - 1) / 100) * 100 + 1).cast("int"), F.lit(1), F.lit(1)
        ).cast("timestamp")
    if f == "millennium":
        y = F.year(ts)
        return F.make_date(
            (F.floor((y - 1) / 1000) * 1000 + 1).cast("int"), F.lit(1), F.lit(1)
        ).cast("timestamp")
    raise ValueError(f"unsupported date_trunc field: {field}")


def _pmod(a: Column, b: Column) -> Column:
    return F.pmod(a, b)


_ADD_UNITS = {
    "year": "year",
    "quarter": "quarter",
    "month": "month",
    "day": "day",
    "week": "week",
    "hour": "hour",
    "minute": "minute",
    "second": "second",
    "milli": "millisecond",
    "millisecond": "millisecond",
    "micro": "microsecond",
    "microsecond": "microsecond",
}


def date_add(field: str, number, col: Column) -> Column:
    """DATEADD / DATETIME_PLUS / TIMESTAMPADD (reference
    IR/DateTimeEnums.h:21-39 fields; impl QueryEngine/DateAdd.cpp)."""
    f = field.lower().lstrip("k")
    if f not in _ADD_UNITS:
        raise ValueError(f"unsupported dateadd field: {field}")
    n = F.lit(number) if not isinstance(number, Column) else number
    return F.timestamp_add(_ADD_UNITS[f], n, col.cast("timestamp"))


def date_diff(field: str, start: Column, end: Column) -> Column:
    """DATEDIFF(field, start, end) = count of field boundaries/units from
    start to end (reference IR/Expr.h:922 DateDiffExpr; DateAdd.cpp)."""
    f = field.lower().lstrip("k")
    unit = _ADD_UNITS.get(f)
    if unit is None:
        raise ValueError(f"unsupported datediff field: {field}")
    return F.timestamp_diff(unit, start.cast("timestamp"), end.cast("timestamp"))


# ---------------------------------------------------------------------------
# misc expression ops (reference IR/OpTypeEnums.h, IR/Expr.h)
# ---------------------------------------------------------------------------


def width_bucket(value: Column, lo, hi, n) -> Column:
    """WIDTH_BUCKET (reference IR/Expr.h:698 WidthBucketExpr; runtime
    QueryEngine/RuntimeFunctions.cpp:1479)."""
    return F.width_bucket(value, F.lit(lo), F.lit(hi), F.lit(n))


def sample_ratio(ratio: float, key: Column) -> Column:
    """SAMPLE_RATIO(r) (reference IR/Expr.h:571 SampleRatioExpr; runtime
    RuntimeFunctions.cpp:1472 hashes the rowid against the ratio).

    Deterministic contract: rows pass when a multiplicative hash of
    ``key`` lands below ``ratio``. Knuth multiplicative hashing on the
    row key keeps the filter reproducible across engines and runs —
    unlike ``df.sample`` whose RNG is partition-layout dependent.
    """
    h = _pmod(key.cast("long") * F.lit(2654435761), F.lit(2**32))
    return h < F.lit(int(ratio * (2**32)))


def item(arr: Column, index) -> Column:
    """ITEM / array subscript — **1-based** like the reference
    (kArrayAt; reference python/tests/test_pyhdk_api.py:927 test_at
    shows arr[1] is the first element). Out-of-range → NULL."""
    idx = F.lit(index) if not isinstance(index, Column) else index
    return F.get(arr, idx.cast("int") - 1)


def cardinality(arr: Column) -> Column:
    """CARDINALITY / ARRAY_LENGTH (reference IR/Expr.h:616
    CardinalityExpr). NULL array → NULL (not -1)."""
    return F.when(arr.isNull(), F.lit(None).cast("int")).otherwise(F.size(arr))


def unnest(arr: Column) -> Column:
    """UNNEST (reference kUnnest; exec QueryEngine/ArrayOps.cpp)."""
    return F.explode(arr)


def div_int(a: Column, b: Column) -> Column:
    """`/INT` integer division (reference RelAlgDagBuilder.cpp op string
    "/INT"): truncation toward zero, matching C++ `/` on int64."""
    return (a.cast("long") / b.cast("long")).cast("long")


def null_safe_eq(a: Column, b: Column) -> Column:
    """kBwEq null-safe equality (reference IR/OpTypeEnums.h:16)."""
    return a.eqNullSafe(b)


def offset_in_fragment() -> Column:
    """OFFSET_IN_FRAGMENT() — the row's offset inside its storage
    fragment (reference Calcite surface, SURVEY §2.8; fragments are the
    reference's scan granule). Spark's granule is the task partition:
    ``monotonically_increasing_id`` packs (partition_id << 33) | offset,
    so masking the low 33 bits yields the within-partition offset —
    0-based, dense, and unique per partition, matching the reference's
    semantics on its own fragments."""
    return F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))


def round_norm(value, scale: int = 6) -> Column:
    """Round a double to ``scale`` places and normalize the sign of
    zero: ``round(x, s) + 0.0`` maps ``-0.0`` → ``+0.0`` (IEEE 754:
    ``-0.0 + 0.0 = +0.0``) and leaves every other value — including
    NULL — bit-identical. Used by every operator that emits a rounded
    double which can be ±tiny (covariance, z-scores, KL, drift): a
    value that rounds to zero must hash the same on every engine, and
    Spark's HALF_UP BigDecimal round yields ``+0.0`` where DuckDB's
    keeps the sign — value-equal, hash-different (the round-4
    embedding_covariance red row). Oracle SQL templates apply the same
    ``round(...) + 0`` on the DuckDB side."""
    return F.round(value, scale) + F.lit(0.0)


def round6(value) -> Column:
    """``round_norm(value, 6)`` — the repo-standard emitter for rounded
    double output columns (6 dp, sign-of-zero normalized)."""
    return round_norm(value, 6)


def round6_sql(expr: str) -> str:
    """SQL text of :func:`round6` applied to the SQL expression ``expr``."""
    return f"round({expr}, 6) + 0D"


def sql_ident(name: str) -> str:
    """SQL text naming column ``name`` the way ``F.col`` resolves it
    (dots separate qualifier / struct-field parts)."""
    return ".".join(f"`{p}`" for p in name.split("."))


def sql_string(s: str) -> str:
    """SQL string literal of ``s`` (Spark's default backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def truncate(value: Column, scale: int = 0) -> Column:
    """TRUNCATE(x, d) — toward zero (reference
    QueryEngine/ExtensionFunctions.hpp:336-377)."""
    p = F.lit(10.0 ** scale)
    scaled = value * p
    return (
        F.when(scaled >= 0, F.floor(scaled)).otherwise(-F.floor(-scaled)) / p
    )


def distance_in_meters(
    fromlon: Column, fromlat: Column, tolon: Column, tolat: Column
) -> Column:
    """Haversine great-circle distance (reference
    QueryEngine/ExtensionFunctions.hpp:428 distance_in_meters, R =
    6372797.560856 m) — all JVM built-ins, codegen-friendly."""
    lat_arc = F.radians(fromlat - tolat)
    lon_arc = F.radians(fromlon - tolon)
    lat_h = F.pow(F.sin(lat_arc * 0.5), F.lit(2.0))
    lon_h = F.pow(F.sin(lon_arc * 0.5), F.lit(2.0))
    tmp = F.cos(F.radians(fromlat)) * F.cos(F.radians(tolat))
    return F.lit(6372797.560856) * (
        F.lit(2.0) * F.asin(F.sqrt(lat_h + tmp * lon_h))
    )


# ---------------------------------------------------------------------------
# math surface (reference QueryEngine/ExtensionFunctions.hpp:47-387)
# ---------------------------------------------------------------------------

MATH_FUNCS = {
    "abs": F.abs,
    "sign": F.signum,
    "ceil": F.ceil,
    "floor": F.floor,
    "round": F.round,
    "acos": F.acos,
    "asin": F.asin,
    "atan": F.atan,
    "atanh": F.atanh,
    "atan2": F.atan2,
    "cos": F.cos,
    "cosh": F.cosh,
    "cot": F.cot,
    "degrees": F.degrees,
    "exp": F.exp,
    "ln": F.log,
    "log": F.log,  # reference Log == natural log (ExtensionFunctions.hpp:157)
    "log10": F.log10,
    "power": F.pow,
    "pow": F.pow,
    "radians": F.radians,
    "sin": F.sin,
    "sinh": F.sinh,
    "sqrt": F.sqrt,
    "tan": F.tan,
    "tanh": F.tanh,
    "truncate": truncate,
    "isnan": F.isnan,
    "pi": lambda: F.lit(math.pi),
    "distance_in_meters": distance_in_meters,
}

_STRING_FUNCS = {
    "lower": F.lower,
    "char_length": F.length,
    "length": F.length,
    "substring": F.substring,  # 1-based like the reference
    "concat": F.concat,
}

_DATETIME_FUNCS = {
    "now": F.current_timestamp,
    "current_timestamp": F.current_timestamp,
    "current_date": F.current_date,
    "datetime": F.to_timestamp,
}


def scalar_function(name: str, *args) -> Column:
    """Dispatch any SQL-name scalar function of the reference surface
    (the string list in SURVEY.md §2.8) to its Spark implementation."""
    key = name.lower()
    cols = [a if isinstance(a, Column) else F.lit(a) for a in args]
    if key in MATH_FUNCS:
        return MATH_FUNCS[key](*cols) if cols else MATH_FUNCS[key]()
    if key in _STRING_FUNCS:
        # substring's 2nd/3rd args are plain ints
        if key == "substring":
            return F.substring(cols[0], args[1], args[2])
        return _STRING_FUNCS[key](*cols)
    if key in _DATETIME_FUNCS:
        return _DATETIME_FUNCS[key](*cols)
    if key in ("pg_extract", "datepart", "extract"):
        return extract(args[0], cols[1])
    if key in ("pg_date_trunc", "date_trunc"):
        return date_trunc(args[0], cols[1])
    if key == "dateadd":
        return date_add(args[0], args[1], cols[2])
    if key == "datediff":
        return date_diff(args[0], cols[1], cols[2])
    if key == "width_bucket":
        return width_bucket(cols[0], args[1], args[2], args[3])
    if key == "sample_ratio":
        return sample_ratio(args[0], cols[1])
    if key in ("item", "array_at"):
        return item(cols[0], args[1])
    if key in ("cardinality", "array_length"):
        return cardinality(cols[0])
    if key == "unnest":
        return unnest(cols[0])
    if key == "array":
        return F.array(*cols)
    if key == "array_append":
        return F.array_append(cols[0], cols[1])
    if key in ("likely", "unlikely"):
        # branch hints (reference IR/Expr.h:766) — semantically a no-op
        return cols[0]
    if key == "offset_in_fragment":
        return offset_in_fragment()
    raise ValueError(f"unsupported scalar function: {name}")


# ---------------------------------------------------------------------------
# optimizer barriers (r14)
# ---------------------------------------------------------------------------


def nd_identity(c: Column) -> Column:
    """Value-exact identity that is NON-DETERMINISTIC to the optimizer:
    ``element_at(shuffle(array(c)), 1)`` — shuffling a 1-element array
    is the identity, and no simplification rule looks through shuffle.

    Use on ONE consumed column of a staging projection to keep
    CollapseProject from re-inlining the stage's expensive expressions
    into every consumer and PushDownPredicate from substituting them
    into filters (both rules refuse when any project field is
    non-deterministic). Unlike a bare ``F.rand()`` barrier column,
    this survives ColumnPruning because the column is genuinely
    consumed; unlike ``rand() < -1`` filter guards, it cannot be
    constant-folded away (the rand-range rule).

    Cost: one 1-element array wrap per row. Do NOT use on columns a
    consumer must push predicates through for scan pruning."""
    return F.element_at(F.shuffle(F.array(c)), 1)

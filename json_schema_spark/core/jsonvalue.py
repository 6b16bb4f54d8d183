"""JSON value model: types, exact-decimal numerics, deep equality.

Semantics mirror the reference engine (georgeakulov/json-schema):

* the 7 JSON kinds resolved by ``compilers/TypeCompiler.java:74-85``;
* ``integer`` means "number with zero fractional part", so ``1.0``
  satisfies ``{"type": "integer"}`` (``TypeCompiler.java:87-94``);
* all numeric comparisons are exact decimal, never float
  (``compilers/base/BaseNumberCompiler.java:24-29``,
  ``compilers/Utils.java:14-25`` — ``1 == 1.0`` in enum/const);
* deep equality is key-order-insensitive for objects and numeric-
  tolerant (``common/JsonNodeComparator.java:12-69``).

All implementations here are from-scratch Python; the reference is cited
only to document the behaviour being matched.
"""

from __future__ import annotations

import json
from decimal import Decimal
from functools import lru_cache
from typing import Any

from .javadouble import java17_double_repr

__all__ = [
    "parse_json",
    "json_type",
    "type_matches",
    "is_number",
    "is_integerish",
    "to_decimal",
    "json_equal",
    "canon_key",
    "strict_key",
    "const_equal",
    "canonical_json",
]

JSON_TYPES = ("null", "boolean", "string", "number", "integer", "array", "object")


def _reject_constant(token: str) -> Any:
    # Jackson rejects the non-standard Infinity/NaN tokens by default;
    # Python's json accepts them — match Jackson (parse error)
    raise ValueError(f"invalid JSON token {token!r}")


def double_canonical(lexeme_or_float) -> Decimal:
    """Jackson parses JSON float literals to DOUBLE first (lossy beyond
    ~17 significant digits; overflow → ±Infinity, underflow → 0.0), and
    the engine's exact-decimal arithmetic runs on
    ``BigDecimal.valueOf(double)`` — ``new BigDecimal(
    Double.toString(d))``. On the reference's JDK (17) that string is
    the PRE-RYŪ FloatingDecimal rendering, which is NOT always the
    shortest round-trip form (JDK-4511638): ``Double.toString(2^62)``
    is ``4.6116860184273879E18`` where Python ``repr`` gives
    ``4.611686018427388e+18`` — and the two differ mod 3, flipping a
    ``multipleOf`` verdict. Hence :func:`java17_double_repr` (a
    bytecode-faithful port, JVM-differential-tested), not ``repr``.
    Reference-probe verified: ``1.0000000000000000000000000001`` IS a
    ``multipleOf`` itself and an integer (== 1.0), ``1e-330`` == 0,
    ``const: 1e309`` accepts ``1e309`` (Infinity == Infinity)."""
    f = float(lexeme_or_float)
    if f != f or f in (float("inf"), float("-inf")):
        return Decimal(f)  # ±Infinity / NaN pass through
    if f == 0.0:
        # bypass the cache: lru_cache keys by ==/hash, under which -0.0
        # and 0.0 COLLIDE — but Decimal (and Double.toString) keep the
        # sign, so a poisoned slot would render "-0.0" for "0.0"
        return Decimal(java17_double_repr(f))
    return _java_decimal_cached(f)


@lru_cache(maxsize=4096)
def _java_decimal_cached(f: float) -> Decimal:
    return Decimal(java17_double_repr(f))


# json.loads builds a new JSONDecoder on every call that passes hooks;
# the kernel parses once per document, so share one
_DECODER = json.JSONDecoder(parse_float=double_canonical,
                            parse_constant=_reject_constant)


def parse_json(text: str) -> Any:
    """Parse JSON with the reference's number model: integer literals
    exact (Jackson Int/Long/BigInteger ≙ Python int), float literals
    double-canonical Decimals (see ``double_canonical``)."""
    if isinstance(text, str) and not text.startswith("\ufeff"):
        return _DECODER.decode(text)
    # bytes, a leading BOM and non-text inputs: json.loads's own checks
    return json.loads(text, parse_float=double_canonical,
                      parse_constant=_reject_constant)


def is_number(v: Any) -> bool:
    """JSON number check; bool is a distinct JSON kind, never a number."""
    return isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)


def to_decimal(v: Any) -> Decimal:
    if isinstance(v, Decimal):
        return v
    if isinstance(v, int):
        return Decimal(v)
    # float that did not come from parse_json (e.g. schema authored in
    # Python): same Jackson double model as parse_json
    return double_canonical(v)


def is_integerish(v: Any) -> bool:
    """True when a JSON number has zero fractional part (1.0 counts).
    Non-finite values are not integers (the reference throws converting
    an Infinity to BigDecimal — a data engine returns a verdict, see
    SURVEY §4.3 #11)."""
    if isinstance(v, bool):
        return False
    if isinstance(v, int):
        return True
    if isinstance(v, Decimal):
        return v.is_finite() and v == v.to_integral_value()
    if isinstance(v, float):
        return v == v and abs(v) != float("inf") and v.is_integer()
    return False


def json_type(v: Any) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if is_number(v):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, (list, tuple)):
        return "array"
    if isinstance(v, dict):
        return "object"
    raise TypeError(f"not a JSON value: {type(v)!r}")


def type_matches(v: Any, t: str) -> bool:
    if t == "integer":
        return is_number(v) and is_integerish(v)
    if t == "number":
        return is_number(v)
    return json_type(v) == t


def json_equal(a: Any, b: Any) -> bool:
    """Deep JSON equality: numbers by value (1 == 1.0), bool distinct
    from 0/1, objects key-order-insensitive, arrays ordered."""
    a_bool, b_bool = isinstance(a, bool), isinstance(b, bool)
    if a_bool or b_bool:
        return a_bool and b_bool and a == b
    if is_number(a) or is_number(b):
        if not (is_number(a) and is_number(b)):
            return False
        return to_decimal(a) == to_decimal(b)
    if isinstance(a, dict):
        if not isinstance(b, dict) or len(a) != len(b):
            return False
        for k, av in a.items():
            if k not in b or not json_equal(av, b[k]):
                return False
        return True
    if isinstance(a, (list, tuple)):
        if not isinstance(b, (list, tuple)) or len(a) != len(b):
            return False
        return all(json_equal(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def canon_key(v: Any) -> Any:
    """Hashable canonical key under ``json_equal`` equivalence.

    Used for O(1) set membership in ``enum`` and ``uniqueItems``
    (the reference uses a TreeSet over ``JsonNodeComparator`` —
    ``compilers/EnumCompiler.java:43-49``).
    """
    if isinstance(v, bool):
        return ("b", v)
    if is_number(v):
        d = to_decimal(v)
        if d.is_zero():
            return ("n", 0)  # BigDecimal compareTo: 0 == -0.0
        sign, digits, exp = d.normalize().as_tuple()
        return ("n", sign, digits, exp)
    if isinstance(v, str):
        return ("s", v)
    if v is None:
        return ("z",)
    if isinstance(v, (list, tuple)):
        return ("a", tuple(canon_key(x) for x in v))
    if isinstance(v, dict):
        return ("o", frozenset((k, canon_key(x)) for k, x in v.items()))
    raise TypeError(f"not a JSON value: {type(v)!r}")


def strict_key(v: Any) -> Any:
    """Hashable key under the reference's STRICT Jackson equality —
    ``uniqueItems`` uses a plain ``HashSet<JsonNode>``
    (``UniqueItemsCompiler.java:42-46``), where ``IntNode(1)`` and
    ``DoubleNode(1.0)`` are NOT equal: a number's family (integer
    lexeme vs decimal/exponent lexeme) is part of its identity, at
    every nesting depth. Verified against the compiled reference by
    ``tests/test_reference_differential.py`` — note this diverges from
    the json-schema SPEC (and the ``jsonschema`` library), which make
    1 and 1.0 duplicates."""
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (float, Decimal)):
        # one DoubleNode-like family: every float literal — whether it
        # arrives as a Python float (schema authored in Python / plain
        # json.loads) or as a parse_json double-canonical Decimal —
        # compares by its double value, mirroring DoubleNode.equals
        d = double_canonical(v)
        if d.is_nan():
            return ("d", "NaN")  # Decimal NaN is unhashable; Jackson
            # DoubleNode(NaN).equals(NaN) is true (Double.equals)
        if d.is_zero() and d.is_signed():
            # Jackson DoubleNode.hashCode is doubleToLongBits-based, so
            # -0.0 and 0.0 land in DIFFERENT HashSet buckets and are
            # never equals-compared: uniqueItems sees [-0.0, 0.0] as
            # UNIQUE (reference-probe verified) even though const/enum
            # (primitive == equality) treat the two zeros as equal
            return ("d", d, "-")
        return ("d", d)
    if isinstance(v, str):
        return ("s", v)
    if v is None:
        return ("z",)
    if isinstance(v, (list, tuple)):
        return ("a", tuple(strict_key(x) for x in v))
    if isinstance(v, dict):
        return ("o", frozenset((k, strict_key(x)) for k, x in v.items()))
    raise TypeError(f"not a JSON value: {type(v)!r}")


def const_equal(inst: Any, value: Any) -> bool:
    """The reference's ``const`` equality (``Utils.checkEquality``,
    ``compilers/Utils.java:14-25``): strict Jackson deep equality,
    with ONE extra tolerance — when both sides are top-level numbers
    they compare as BigDecimals (so ``const: 1`` accepts ``1.0``), but
    numbers NESTED inside objects/arrays stay family-strict
    (``const: {"a": 1}`` rejects ``{"a": 1.0}``). Verified against the
    compiled reference by ``tests/test_reference_differential.py``."""
    if strict_key(inst) == strict_key(value):
        return True
    if (is_number(inst) and is_number(value)
            and not isinstance(inst, bool) and not isinstance(value, bool)):
        return to_decimal(inst) == to_decimal(value)
    return False


class _DecimalEncoder(json.JSONEncoder):
    def default(self, o):  # noqa: D102
        if isinstance(o, Decimal):
            return float(o)
        return super().default(o)


def canonical_json(v: Any) -> str:
    """Deterministic serialization (sorted keys, normalized numbers) —
    the Spark-side analogue used for composite equality columns."""

    def norm(x: Any) -> Any:
        if isinstance(x, bool) or x is None or isinstance(x, str):
            return x
        if is_number(x):
            d = to_decimal(x)
            if not d.is_finite():
                return float(d)
            d = d.normalize()
            if d == d.to_integral_value() and abs(d.as_tuple().exponent) < 16:
                return int(d)
            return float(d)
        if isinstance(x, (list, tuple)):
            return [norm(i) for i in x]
        if isinstance(x, dict):
            return {k: norm(i) for k, i in x.items()}
        raise TypeError(type(x))

    return json.dumps(norm(v), sort_keys=True, separators=(",", ":"))

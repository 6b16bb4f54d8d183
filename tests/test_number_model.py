"""The reference's JSON number model, pinned by compiled-reference
probes (round 4): Jackson parses integer literals exactly
(Int/Long/BigInteger) but float literals to DOUBLE first — lossy
beyond ~17 significant digits, overflow to ±Infinity, underflow to
0.0 — and the exact-decimal arithmetic everywhere downstream runs on
``BigDecimal.valueOf(double)``, the double's shortest round-trip
decimal form (``double_canonical`` here, ``repr(float)``).

Deliberate divergence (SURVEY §4.3 #11): where a NON-FINITE value
reaches a BigDecimal conversion at validation time the reference
throws (NumberFormatException); this engine returns a deterministic
verdict instead — a 100 TB per-row validator must not crash on a
legal-JSON row. Compile-time conversions (schema args, enum members)
match the reference's compile error exactly.
"""

from __future__ import annotations

import pytest

from json_schema_spark.core.jsonvalue import double_canonical, parse_json
from json_schema_spark.core.validator import (
    CompileConfig,
    SchemaCompileError,
    compile_schema,
)


def _verdict(schema_json: str, doc_json: str, dialect: str = "2020-12") -> str:
    import json
    try:
        k = compile_schema(json.loads(schema_json),
                           config=CompileConfig(dialect=dialect))
        return "t" if k.is_valid_json(doc_json) else "f"
    except SchemaCompileError:
        return "c"


# (schema, instance, expected) — every "t"/"f"/"c" verified against the
# compiled reference; rows marked nofinite are the documented
# verdict-instead-of-crash divergences (reference: runtime exception).
REFERENCE_VERIFIED = [
    # double-first parsing: beyond-double-precision lexemes collapse
    ('{"const": 1.0000000000000000000000000001}',
     "1.0000000000000000000000000001", "t"),
    ('{"type": "integer"}', "1.0000000000000000000000000001", "t"),
    ('{"multipleOf": 1.0000000000000000000000000001}',
     "1.0000000000000000000000000001", "t"),
    ('{"const": 123456789.123456789123456789}',
     "123456789.123456789123456789", "t"),
    # underflow to 0.0
    ('{"const": 1e-330}', "1e-330", "t"),
    ('{"type": "integer"}', "1e-330", "t"),
    ('{"const": 0.0}', "1e-330", "t"),
    # overflow to Infinity: const equality works (DoubleNode equals)
    ('{"const": 1e309}', "1e309", "t"),
    ('{"const": -1e309}', "-1e309", "t"),
    # ... but schema-arg BigDecimal conversion is a compile error
    ('{"minimum": 1e309}', "1", "c"),
    ('{"minimum": -1e309}', "1", "c"),
    ('{"multipleOf": 1e309}', "1", "c"),
    ('{"enum": [1e309, "x"]}', '"x"', "c"),
    ('{"maxItems": 1e309}', "[]", "c"),
    # integers stay exact at any size
    ('{"const": 99999999999999999999999999999999999999}',
     "99999999999999999999999999999999999999", "t"),
    ('{"const": 99999999999999999999999999999999999999}',
     "99999999999999999999999999999999999998", "f"),
    ('{"minimum": 9223372036854775808}', "9223372036854775807", "f"),
    ('{"multipleOf": 18446744073709551616}', "18446744073709551616", "t"),
    # -0 == 0 in every numeric context
    ('{"const": -0.0}', "0", "t"),
    ('{"const": 0}', "-0.0", "t"),
    ('{"uniqueItems": true}', "[0, -0.0]", "t"),  # int vs float family
    # same family but DISTINCT: DoubleNode.hashCode (doubleToLongBits)
    # splits ±0.0 into different HashSet buckets — probe-verified
    # round 4, see NEGZERO_UNIQUE below
    ('{"uniqueItems": true}', "[0.0, -0.0]", "t"),
    # nested float const: same-lexeme floats are equal (was a real bug —
    # schema float vs instance decimal sat in different families)
    ('{"const": {"a": 1.5}}', '{"a": 1.5}', "t"),
    ('{"const": {"a": 1.5}}', '{"a": 1.50}', "t"),
    ('{"const": {"a": 1.5}}', '{"a": 15e-1}', "t"),
    ('{"const": [2.5]}', "[2.5]", "t"),
    # nested int-vs-float family strictness unchanged
    ('{"const": {"a": 1}}', '{"a": 1.0}', "f"),
    # double-value uniqueItems within the float family
    ('{"uniqueItems": true}', "[1.0, 1.00]", "f"),
    ('{"uniqueItems": true}', "[0.1, 1e-1]", "f"),
    ('{"uniqueItems": true}', "[1, 1.0]", "t"),  # family-strict
]

NONFINITE_VERDICTS = [
    # reference throws at validation time; engine verdict pinned here
    ('{"const": 1e309}', "0", "f"),
    ('{"type": "integer"}', "1e309", "f"),
    ('{"type": "integer"}', "-1e309", "f"),
    ('{"multipleOf": 1}', "-1e309", "f"),
    ('{"minimum": 1}', "1e309", "t"),  # Decimal(inf) >= 1
]


@pytest.mark.parametrize("schema,doc,want", REFERENCE_VERIFIED)
def test_reference_verified_number_semantics(schema, doc, want):
    assert _verdict(schema, doc) == want


@pytest.mark.parametrize("schema,doc,want", NONFINITE_VERDICTS)
def test_nonfinite_instance_gets_verdict_not_crash(schema, doc, want):
    assert _verdict(schema, doc) == want


def test_double_canonical():
    from decimal import Decimal
    assert double_canonical("19.99") == Decimal("19.99")
    assert double_canonical("1e-330") == Decimal("0.0")
    assert double_canonical("1e309") == Decimal("Infinity")
    assert double_canonical("1.0000000000000000000000000001") == Decimal("1.0")
    assert double_canonical(0.1) == Decimal("0.1")


def test_jackson_rejects_nonstandard_tokens():
    for bad in ("Infinity", "-Infinity", "NaN", "[Infinity]"):
        with pytest.raises(ValueError):
            parse_json(bad)


# reference-probe verified (round 4): Jackson DoubleNode.hashCode is
# doubleToLongBits-based, so -0.0 and 0.0 land in DIFFERENT HashSet
# buckets and are never equals-compared — uniqueItems keeps them
# DISTINCT at every nesting depth, while const/enum (primitive ==
# equality) treat the two zeros as equal.
NEGZERO_UNIQUE = [
    ('[-0.0, 0.0]', True), ('[0.0, -0.0]', True), ('[-0.0, -0.0]', False),
    ('[0, -0.0]', True), ('[[-0.0], [0.0]]', True),
    ('[[-0.0], [-0.0]]', False), ('[{"a": -0.0}, {"a": 0.0}]', True),
    ('[-0e0, 0.0]', True), ('[-0e0, -0.0]', False), ('[1e0, 1.0]', False),
]


@pytest.mark.parametrize("doc,want", NEGZERO_UNIQUE)
def test_unique_items_negative_zero(doc, want):
    k = compile_schema({"uniqueItems": True},
                       config=CompileConfig(dialect="draft7"))
    assert k.validate_json(doc)[0] is want


@pytest.mark.parametrize("schema,doc", [
    ({"const": 0.0}, "-0.0"), ({"const": -0.0}, "0.0"),
    ({"enum": [-0.0]}, "0.0"),
])
def test_const_enum_zero_sign_insensitive(schema, doc):
    k = compile_schema(schema, config=CompileConfig(dialect="draft7"))
    assert k.validate_json(doc)[0] is True


def test_double_canonical_zero_sign_not_cache_poisoned():
    """±0.0 collide under lru_cache's ==/hash keying; the sign must
    survive regardless of which zero is seen first."""
    from decimal import Decimal
    assert str(double_canonical("-0.0")) == "-0.0"
    assert str(double_canonical("0.0")) == "0.0"
    assert double_canonical("-0.0").is_signed()
    assert not double_canonical("0.0").is_signed()


def _loads_per_call(text):
    # the per-call decoder parse_json used to build: its values and
    # errors are the contract the shared decoder must keep
    import json

    from json_schema_spark.core.jsonvalue import _reject_constant
    return json.loads(text, parse_float=double_canonical,
                      parse_constant=_reject_constant)


def _outcome(fn, text):
    try:
        return "ok", repr(fn(text))
    except Exception as e:  # noqa: BLE001 — the error itself is compared
        return type(e).__name__, str(e)


PARSE_INPUTS = [
    '{"id": 7, "name": "x", "tags": ["a", "b"], "score": 19.99, "ok": true}',
    '{"children": [{"children": []}, {"v": null}]}',
    "-0.0", "0.0", "1e400", "-1e400", "1e-330", "12345678901234567890",
    "1.0000000000000000000000000001", '"\\ud83d\\ude00"', " [1, 2] ",
    # error cases
    "\ufeff{}", "NaN", "[Infinity]", "-Infinity", "", "{", '{"a": 1,}',
    "[1] 2", "01", '"\\x"', "tru",
    # non-str inputs take json.loads's own path
    b'{"a": 1.5}', b"\xef\xbb\xbf[1]", bytearray(b"[0.1]"), b"\xff", 12, None,
]


@pytest.mark.parametrize("text", PARSE_INPUTS, ids=repr)
def test_parse_json_matches_per_call_decoder(text):
    assert _outcome(parse_json, text) == _outcome(_loads_per_call, text)


def test_parse_json_matches_per_call_decoder_on_deep_nesting():
    text = "[" * 100_000 + "]" * 100_000
    assert _outcome(parse_json, text) == _outcome(_loads_per_call, text)

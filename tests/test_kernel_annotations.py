"""The kernel tracks annotations only when an ``unevaluated*`` validator
is compiled, and ``anyOf`` stops at its first passing branch when none
is. These pin that the switch is decided from the compiled graph (an
``unevaluated*`` keyword reached only through ``$ref``, ``$dynamicRef``
or ``$recursiveRef`` still turns it on; a keyword that is inactive in
draft-07, or only named as a property of a meta-schema, does not) and
that dropping annotations changes no verdict and no error list.
"""

from __future__ import annotations

import itertools
from decimal import Decimal

import pytest

jsonschema = pytest.importorskip("jsonschema")

from json_schema_spark.core.jsonvalue import type_matches  # noqa: E402
from json_schema_spark.core.validator import CompileConfig, compile_schema  # noqa: E402

_LIB = {
    "2019-09": jsonschema.Draft201909Validator,
    "2020-12": jsonschema.Draft202012Validator,
}
_META = {
    "2019-09": "https://json-schema.org/draft/2019-09/schema",
    "2020-12": "https://json-schema.org/draft/2020-12/schema",
}


def _kernels(schema, dialect):
    return [compile_schema(schema, config=CompileConfig(dialect=dialect, collect_errors=c))
            for c in (True, False)]


def _closed_via_ref(dialect):
    return {
        "$schema": _META[dialect],
        "$ref": "#/$defs/closed",
        "$defs": {"closed": {
            "properties": {"a": True},
            "prefixItems" if dialect == "2020-12" else "items": [True],
            "unevaluatedProperties": False,
            "unevaluatedItems": False,
        }},
    }


# root resource's dynamic anchor "item" is reachable only at runtime, as
# the outermost $dynamicAnchor in scope; no static $ref points at it
_DYNAMIC = {
    "$schema": _META["2020-12"],
    "$id": "https://example.com/outer",
    "$ref": "list",
    "$defs": {
        "item": {
            "$dynamicAnchor": "item",
            "properties": {"x": True},
            "unevaluatedProperties": False,
        },
        "list": {
            "$id": "list",
            "type": "array",
            "items": {"$dynamicRef": "#item"},
            "$defs": {"default": {"$dynamicAnchor": "item"}},
        },
    },
}

# nested nodes reach the strict root's unevaluatedProperties only
# through "$recursiveRef": "#" in the tree resource
_RECURSIVE = {
    "$schema": _META["2019-09"],
    "$id": "https://example.com/strict-tree",
    "$recursiveAnchor": True,
    "$ref": "tree",
    "unevaluatedProperties": False,
    "$defs": {"tree": {
        "$id": "tree",
        "$recursiveAnchor": True,
        "type": "object",
        "properties": {
            "data": True,
            "children": {"type": "array", "items": {"$recursiveRef": "#"}},
        },
    }},
}

_UNEVAL_CASES = [
    ("ref-2019", _closed_via_ref("2019-09"), "2019-09", {"a": 1}, True),
    ("ref-2019", _closed_via_ref("2019-09"), "2019-09", {"a": 1, "b": 2}, False),
    ("ref-2019", _closed_via_ref("2019-09"), "2019-09", [1], True),
    ("ref-2019", _closed_via_ref("2019-09"), "2019-09", [1, 2], False),
    ("ref-2020", _closed_via_ref("2020-12"), "2020-12", {"a": 1}, True),
    ("ref-2020", _closed_via_ref("2020-12"), "2020-12", {"a": 1, "b": 2}, False),
    ("ref-2020", _closed_via_ref("2020-12"), "2020-12", [1], True),
    ("ref-2020", _closed_via_ref("2020-12"), "2020-12", [1, 2], False),
    ("dynamic", _DYNAMIC, "2020-12", [{"x": 1}], True),
    ("dynamic", _DYNAMIC, "2020-12", [{"x": 1, "y": 2}], False),
    ("recursive", _RECURSIVE, "2019-09", {"children": [{"data": 1}]}, True),
    ("recursive", _RECURSIVE, "2019-09", {"children": [{"daat": 1}]}, False),
]


@pytest.mark.parametrize("name,schema,dialect,inst,expected", _UNEVAL_CASES,
                         ids=[f"{c[0]}-{i}" for i, c in enumerate(_UNEVAL_CASES)])
def test_unevaluated_reached_indirectly_still_rejects(name, schema, dialect, inst, expected):
    assert _LIB[dialect](schema).is_valid(inst) is expected
    for k in _kernels(schema, dialect):
        assert k.tracks_annotations
        assert k.is_valid(inst) is expected
        assert k.validate(inst)[0] is expected


def test_inactive_draft7_unevaluated_keeps_annotations_off():
    schema = {"properties": {"a": {"type": "integer"}}, "unevaluatedProperties": False}
    for k in _kernels(schema, "draft7"):
        assert not k.tracks_annotations
        assert k.validate({"a": 1, "b": 2}) == (True, [])
        assert k.is_valid({"a": "x"}) is False
    assert jsonschema.Draft7Validator(schema).is_valid({"a": 1, "b": 2})


@pytest.mark.parametrize("dialect", ["2019-09", "2020-12"])
def test_meta_schema_naming_unevaluated_keeps_annotations_off(dialect):
    # the applicator/unevaluated vocabulary meta-schemas name
    # unevaluatedItems/Properties only as PROPERTIES of a schema
    schema = {"$schema": _META[dialect], "$ref": _META[dialect]}
    for k in _kernels(schema, dialect):
        assert not k.tracks_annotations
        assert k.is_valid({"unevaluatedItems": False, "type": "array"})
        assert not k.is_valid({"unevaluatedItems": 3})


def test_any_of_first_passing_branch_returns_at_once():
    calls = []

    def counted(s):
        calls.append(s)
        return False

    schema = {"anyOf": [{"type": "string"}, {"format": "counted"}]}
    for collect in (True, False):
        k = compile_schema(schema, config=CompileConfig(
            collect_errors=collect, custom_formats={"counted": counted}))
        assert not k.tracks_annotations
        assert k.validate("x") == (True, [])
    assert calls == []


def test_any_of_with_annotations_runs_every_branch():
    # both branches' annotations cover a property: stopping at the first
    # passing branch would leave "b" unevaluated
    schema = {
        "$schema": _META["2020-12"],
        "anyOf": [{"properties": {"a": True}}, {"properties": {"b": True}}],
        "unevaluatedProperties": False,
    }
    inst = {"a": 1, "b": 2}
    assert _LIB["2020-12"](schema).is_valid(inst)
    for k in _kernels(schema, "2020-12"):
        assert k.tracks_annotations
        assert k.validate(inst) == (True, [])


def test_any_of_all_branches_fail_keeps_the_error_list():
    schema = {"properties": {"n": {"anyOf": [
        {"type": "string", "minLength": 3},
        {"type": "integer", "minimum": 10},
        {"enum": [1, 2]},
    ]}}}
    k = compile_schema(schema)
    assert k.validate({"n": 5}) == (False, [
        ("/n", "type", 'The node value 5 not conform to type "string"'),
        ("/n", "minimum", "Value 5 less than 10"),
        ("/n", "enum", "The value 5 not declared in enum [1,2]"),
        ("/n", "anyOf", "None of the variants were successful."),
    ])
    assert k.validate({"n": "ab"}) == (False, [
        ("/n", "minLength", "The length of 3 must be greater or equal than  2. Actual: {2}"),
        ("/n", "type", 'The node value ab not conform to type "integer"'),
        ("/n", "enum", 'The value "ab" not declared in enum [1,2]'),
        ("/n", "anyOf", "None of the variants were successful."),
    ])
    fast = compile_schema(schema, config=CompileConfig(collect_errors=False))
    assert fast.validate({"n": 5}) == (False, [])


_TYPE_NAMES = ("null", "boolean", "string", "number", "integer", "array", "object")
_JSON_VALUES = [
    None, True, False, 0, 1, -3, 2 ** 70, 0.0, 1.0, -2.0, 1.5, 1e300,
    float("inf"), float("-inf"), float("nan"),
    Decimal("1"), Decimal("1.0"), Decimal("-0"), Decimal("1.5"), Decimal("1E+2"),
    Decimal("Infinity"), Decimal("NaN"),
    "", "1", "true", [], [1], (), (None,), {}, {"a": 1},
]


def test_type_keyword_matches_type_matches_for_every_json_value():
    for r in range(len(_TYPE_NAMES) + 1):
        for types in itertools.combinations(_TYPE_NAMES, r):
            k = compile_schema({"type": list(types)})
            for v in _JSON_VALUES:
                want = any(type_matches(v, t) for t in types)
                assert k.is_valid(v) is want, (types, v)
    for t in _TYPE_NAMES:
        k = compile_schema({"type": t})
        for v in _JSON_VALUES:
            assert k.is_valid(v) is type_matches(v, t), (t, v)

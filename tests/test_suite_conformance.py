"""Conformance: embedded JSON-Schema-Test-Suite-format corpora.

Mirrors the reference's suite runner (verdict-only assertions,
``JsonSchemaOrgTests.java:141-153``); ``optional_format*`` files run
with format assertions force-enabled (``JsonSchemaOrgTests.java:33-37``).
"""

import json
import pathlib

import pytest

from json_schema_spark.core import validator
from json_schema_spark.core.validator import CompileConfig, compile_schema

SUITE = pathlib.Path(__file__).parent / "suite"
_DIALECTS = {"draft7": "draft7", "draft2019": "2019-09", "draft2020": "2020-12"}


def _cases():
    out = []
    for sub, dialect in _DIALECTS.items():
        for f in sorted((SUITE / sub).glob("*.json")):
            fmt = f.name.startswith("optional_format")
            for g in json.loads(f.read_text()):
                for t in g["tests"]:
                    cid = f"{sub}/{f.stem}::{g['description']}::{t['description']}"
                    out.append(
                        pytest.param(dialect, fmt, g["schema"], t["data"], t["valid"], id=cid)
                    )
    return out


@pytest.mark.parametrize("dialect,fmt,schema,data,expected", _cases())
def test_verdict(dialect, fmt, schema, data, expected):
    cfg = CompileConfig(dialect=dialect, format_assertions=fmt)
    cs = compile_schema(schema, config=cfg)
    assert cs.is_valid(data) is expected
    # fast (non-collecting) mode must agree with collecting mode
    cfg2 = CompileConfig(dialect=dialect, format_assertions=fmt, collect_errors=False)
    assert compile_schema(schema, config=cfg2).is_valid(data) is expected


def test_verdict_only_kernel_renders_nothing(monkeypatch):
    """The collect_errors=False kernel (behind SparkValidator.udf_valid)
    must reject every failing suite case without rendering a message."""

    def no_render(*args):
        raise AssertionError(f"verdict-only kernel rendered {args!r}")

    for name in ("render_message", "jackson_to_string", "jackson_as_text"):
        monkeypatch.setattr(validator, name, no_render)
    failing = [p.values for p in _cases() if p.values[4] is False]
    assert failing
    for dialect, fmt, schema, data, _ in failing:
        cs = compile_schema(schema, config=CompileConfig(
            dialect=dialect, format_assertions=fmt, collect_errors=False))
        assert cs.validate(data) == (False, [])
        assert cs.is_valid(data) is False

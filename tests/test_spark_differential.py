"""Differential: Spark expression path vs the Python kernel, on every
embedded suite case. The kernel is the semantic oracle (it passes the
conformance corpus); the Column-expression plan must agree wherever it
claims support, and the pandas-UDF fallback must agree everywhere.
"""

import json
import pathlib

import pytest

from json_schema_spark.plans.compiler import ExprUnsupported
from json_schema_spark.plans.runner import SparkValidator

SUITE = pathlib.Path(__file__).parent / "suite"
_DIALECTS = {"draft7": "draft7", "draft2019": "2019-09", "draft2020": "2020-12"}


def _groups():
    out = []
    for sub, dialect in _DIALECTS.items():
        for f in sorted((SUITE / sub).glob("*.json")):
            fmt = f.name.startswith("optional_format")
            for g in json.loads(f.read_text()):
                out.append(pytest.param(dialect, fmt, g, id=f"{sub}/{f.stem}::{g['description']}"))
    return out


def _docs_and_expect(group):
    docs = [json.dumps(t["data"]) for t in group["tests"]]
    expect = [t["valid"] for t in group["tests"]]
    return docs, expect


EXPR_STATS = {"supported": 0, "fallback": 0}


@pytest.mark.parametrize("dialect,fmt,group", _groups())
def test_expression_path_agrees(spark, dialect, fmt, group):
    docs, expect = _docs_and_expect(group)
    sv = SparkValidator(group["schema"], dialect=dialect, format_assertions=fmt)
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["i", "doc"])
    try:
        out = sv.apply_json(df, "doc", with_violations=True).orderBy("i").collect()
        EXPR_STATS["supported"] += 1
    except ExprUnsupported:
        EXPR_STATS["fallback"] += 1
        pytest.skip("expression path: unsupported schema (UDF fallback covers it)")
    got = [r["valid"] for r in out]
    assert got == expect, f"expr path disagrees: {list(zip(docs, got, expect))}"
    # violations must be non-empty exactly when invalid
    for r, e in zip(out, expect):
        if not e:
            assert r["violations"], f"invalid doc with empty violations: {r}"


@pytest.mark.parametrize("dialect,fmt,group", _groups())
def test_udf_path_agrees(spark, dialect, fmt, group):
    docs, expect = _docs_and_expect(group)
    sv = SparkValidator(group["schema"], dialect=dialect, format_assertions=fmt, engine="udf")
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["i", "doc"])
    out = sv.apply_json(df, "doc", with_violations=False).orderBy("i").collect()
    got = [r["valid"] for r in out]
    assert got == expect, f"udf path disagrees: {list(zip(docs, got, expect))}"


@pytest.mark.parametrize("with_violations", [True, False])
def test_udf_path_keeps_user_column_named_res(spark, with_violations):
    """The kernel's struct result rides in a reserved column; a user
    column called ``_res`` is neither replaced nor dropped."""
    sv = SparkValidator({"properties": {"a": {"type": "integer"}}}, engine="udf")
    df = spark.createDataFrame([(1, '{"a": 1}', "keep1"), (2, '{"a": "x"}', "keep2")],
                               ["id", "doc", "_res"])
    extra = ["violations"] if with_violations else []

    out = sv.apply_json(df, "doc", with_violations=with_violations)
    assert out.columns == ["id", "doc", "_res", "valid"] + extra
    rows = out.orderBy("id").collect()
    assert [(r["_res"], r["valid"]) for r in rows] == [("keep1", True), ("keep2", False)]

    typed = spark.createDataFrame([(1, None, "keep1"), (2, "x", "keep2")],
                                  "id long, a string, _res string")
    out = sv.apply_table(typed, columns=["a"], with_violations=with_violations)
    assert out.columns == ["id", "a", "_res", "valid"] + extra
    rows = out.orderBy("id").collect()
    assert [(r["_res"], r["valid"]) for r in rows] == [("keep1", True), ("keep2", False)]

"""Rendered error-MESSAGE differential vs the compiled reference.

The kinds/pointers differentials (test_reference_differential) pin
WHERE and WHAT KIND; this pins the rendered TEXT: the kernel's
violation messages must reproduce ``ValidationError.getError()``
byte-for-byte (``results/ValidationError.java:27-33`` — the
``EErrorType`` MessageFormat catalog with each compiler's args), so a
violations DataFrame from this engine reads identically to the
reference's error stream, including its quirks (MAX_ITEMS rendering
the keyword+limit, the literal ``{2}`` in length messages, the
double space in MIN_LENGTH, MimeType debug toString for
contentMediaType, Java Double.toString number shapes).

Subset is the gate, exactly like the pointer differential: every
(kind, pointer, message) triple the reference emits must appear among
ours; our extra applicator-context violations are by design.
"""

from __future__ import annotations

import json
import random

import pytest

from tests import differential_gen as gen
from tests.test_reference_differential import (  # noqa: F401
    _DIALECTS,
    _corpus_cases,
    _ref_triples,
    pytestmark,
)


def _mine_triples(errs):
    from json_schema_spark.core.errors import error_kind_of

    return {(error_kind_of(kw, msg).name, path, msg)
            for path, kw, msg in (errs or [])}


# (file id, group desc, test desc) triples where the reference's
# MESSAGE (not just pointer) is undefined or a documented defect —
# populated as the differential surfaces them.
_MESSAGE_DIVERGENCES: set[tuple[str, str, str]] = {
    ("draft7/edgecases", "tuple items with additionalItems false",
     "wrong positional type"),
}


def test_error_messages_match_the_reference(ref):
    """Corpus sweep: for every failing suite case, every reference
    (kind, instance pointer, rendered message) triple must appear in
    our violation set."""
    from json_schema_spark.core.validator import CompileConfig, compile_schema

    cases = [c for c in _corpus_cases() if not c[7]]
    verdicts = ref([(s, i, d, fmt) for _, _, _, s, i, d, fmt, _ in cases],
                   kinds=True)
    missing = []
    checked = exact = 0
    for (fid, gdesc, tdesc, s, i, d, fmt, _), got in zip(cases, verdicts):
        if not got.startswith("f:"):
            continue
        if (fid, gdesc, tdesc) in _MESSAGE_DIVERGENCES:
            continue
        ref_triples = _ref_triples(got)
        try:
            kernel = compile_schema(
                json.loads(s), dialect=d,
                config=CompileConfig(dialect=d, format_assertions=fmt))
            ok, errs = kernel.validate_json(i)
        except Exception:
            continue
        if ok:
            continue  # verdict parity is the other test's job
        mine = _mine_triples(errs)
        checked += 1
        if ref_triples <= mine:
            exact += ref_triples == mine
        else:
            missing.append((fid, gdesc, tdesc,
                            sorted(ref_triples - mine), sorted(mine)))
    assert not missing, (
        f"{len(missing)}/{checked} failing cases MISS a reference "
        f"(kind, pointer, message) triple; first 10: {missing[:10]}")
    assert checked > 250, checked


@pytest.mark.parametrize("draft,seed", [
    ("draft7", 811), ("2019-09", 812), ("2020-12", 813),
])
def test_error_messages_generated_schemas(ref, draft, seed):
    """Generated schemas × blind + targeted near-miss instances — the
    corpus alone under-exercises numeric/enum/const arg rendering."""
    from json_schema_spark.core.validator import CompileConfig, compile_schema

    rng = random.Random(f"msg-{draft}-{seed}")
    cases, kernels = [], []
    for _ in range(250):
        sch = gen.schema(rng, draft, top=True)
        try:
            kernel = compile_schema(sch, config=CompileConfig(dialect=draft))
        except Exception:
            continue
        sj = json.dumps(sch)
        docs = [gen.value(rng) for _ in range(3)]
        t = gen.targeted_value(rng, sch)
        docs += [t, gen.mutate(rng, t, n_edits=1)]
        for doc in docs:
            cases.append((sj, json.dumps(doc), draft, False))
            kernels.append((kernel, sch, doc))
    verdicts = ref(cases, kinds=True)
    checked = 0
    missing = []
    for (kernel, sch, doc), got in zip(kernels, verdicts):
        if not got.startswith("f:"):
            continue
        ref_triples = _ref_triples(got)
        ok, errs = kernel.validate(doc)
        if ok:
            continue
        mine = _mine_triples(errs)
        checked += 1
        if not ref_triples <= mine:
            missing.append((json.dumps(sch), json.dumps(doc),
                            sorted(ref_triples - mine), sorted(mine)))
    assert not missing, (
        f"{len(missing)}/{checked} failing generated cases MISS a "
        f"reference message triple; first 5: {missing[:5]}")
    assert checked > 300, checked

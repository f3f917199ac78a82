"""Expression-language parity battery.

Extracts the reference's own expression test vectors VERBATIM from
mods/tql/expression/evaluation_test.go (the pratt evaluator behind every
TQL statement argument) and runs them through our tokenizer/Parser/
TqlRunner scalar evaluator.  Cases that need custom Functions/Parameters
maps are skipped (our evaluator resolves idents through the SCALARS
registry instead).  Typing-failure texts come from
evaluationfail_test.go / evaluation.go:13-17.
"""

import os
import re

import pytest

from neo_server_spark.tql.script import Parser, TqlRunner, _State, tokenize

EXPR_TEST = "/root/reference/mods/tql/expression/evaluation_test.go"

needs_reference = pytest.mark.skipif(
    not os.path.isfile(EXPR_TEST), reason="reference checkout not available")


class _ScalarRunner(TqlRunner):
    """TqlRunner with only the pieces scalar `ev` needs (no SparkSession)."""

    def __init__(self):
        self.vars = {}
        self.state = _State()


def _ev(src: str):
    p = Parser(tokenize(src))
    node = p.expr()
    assert p.peek().kind == "eof", f"trailing tokens in {src!r}"
    return _ScalarRunner().ev(node)


def _go_literal(text: str):
    text = text.strip().rstrip(",")
    if text == "true":
        return True
    if text == "false":
        return False
    if text.startswith('"') and text.endswith('"'):
        return text[1:-1].encode().decode("unicode_escape")
    try:
        return float(text)
    except ValueError:
        return None


def _extract_cases():
    src = open(EXPR_TEST).read()
    cases = []
    # each case literal is a brace block containing Name/Input/Expected
    for m in re.finditer(
            r"\{\s*\n(\s*Name:.*?\n)?\s*Input:\s*(\"(?:[^\"\\]|\\.)*\"|`[^`]*`)"
            r",\s*\n(.*?)\n\s*\},", src, re.S):
        raw_input, rest = m.group(2), m.group(3)
        if "Functions:" in rest or "Parameters:" in m.group(0):
            continue
        em = re.search(r"Expected:\s*(.+)", rest)
        if not em:
            continue
        expected = _go_literal(em.group(1))
        if expected is None:
            continue
        if raw_input.startswith("`"):
            input_expr = raw_input[1:-1]
        else:
            input_expr = raw_input[1:-1].encode().decode("unicode_escape")
        cases.append((input_expr, expected))
    return cases


CASES = _extract_cases() if os.path.isfile(EXPR_TEST) else []


@needs_reference
def test_extracted_a_meaningful_battery():
    # TestNoParameterEvaluation alone carries ~80 literal cases
    assert len(CASES) >= 60, f"extractor found only {len(CASES)} cases"


@needs_reference
@pytest.mark.parametrize("expr,expected",
                         CASES, ids=[c[0][:40] for c in CASES])
def test_reference_expression_vector(expr, expected):
    got = _ev(expr)
    if isinstance(expected, bool):
        assert got is expected, f"{expr!r} -> {got!r}, want {expected!r}"
    elif isinstance(expected, float):
        assert float(got) == expected, f"{expr!r} -> {got!r}, want {expected}"
    else:
        assert got == expected, f"{expr!r} -> {got!r}, want {expected!r}"


# ---------------------------------------------------------------------------
# pratt regressions (pratt_regression_test.go) — explicit shape assertions
# ---------------------------------------------------------------------------


def test_pratt_left_associativity():
    assert _ev("1 - 2 - 4 - 8") == -13.0
    assert _ev("1 * 4 / 2 * 8") == 16.0
    assert _ev("100 / 10 / 2") == 5.0


def test_pratt_right_associativity_exponent():
    assert _ev("2 ** 3 ** 2") == 512.0          # 2 ** (3 ** 2)
    assert _ev("4 ** 0.5 ** 2") == pytest.approx(4 ** 0.25)


def test_prefix_binds_tighter_than_exponent():
    # parsePrefix parses its operand at bp 120 > EXPONENT's 110
    assert _ev("-2 ** 2") == 4.0


def test_comparators_share_one_level():
    # operator_table.go: EQ..IN all bind at {60,61} (left-assoc), so
    # `a == b < c` is `(a == b) < c` -> typing error (bool < number)
    with pytest.raises(ValueError, match="comparator '<'"):
        _ev("1 == 1 < 2")


def test_ternary_binds_looser_than_coalesce():
    assert _ev("true ?? true ? 100 + 200 : 400") == 300.0


# ---------------------------------------------------------------------------
# typing failures (evaluationfail_test.go) — reference error texts
# ---------------------------------------------------------------------------


FAIL_CASES = [
    ("1 && true", "cannot be used with the logical operator"),
    ("true && 1", "cannot be used with the logical operator"),
    ("1 || true", "cannot be used with the logical operator"),
    ("false || 1", "cannot be used with the logical operator"),
    ("true > 1", "cannot be used with the comparator"),
    ("1 < false", "cannot be used with the comparator"),
    ("'foo' - 1", "cannot be used with the modifier"),
    ("1 - 'foo'", "cannot be used with the modifier"),
    ("'foo' * 1", "cannot be used with the modifier"),
    ("'foo' / 1", "cannot be used with the modifier"),
    ("'foo' % 1", "cannot be used with the modifier"),
    ("'foo' ** 1", "cannot be used with the modifier"),
    ("'foo' & 1", "cannot be used with the modifier"),
    ("'foo' | 1", "cannot be used with the modifier"),
    ("'foo' ^ 1", "cannot be used with the modifier"),
    ("'foo' << 1", "cannot be used with the modifier"),
    ("'foo' >> 1", "cannot be used with the modifier"),
    ("1 ? true : false", "cannot be used with the ternary operator"),
    ("!1", "cannot be used with the prefix"),
    ("-'foo'", "cannot be used with the prefix"),
    ("~'foo'", "cannot be used with the prefix"),
    ("1 =~ 'foo'", "cannot be used with the comparator"),
    ("'foo' =~ 1", "cannot be used with the comparator"),
    ("1 !~ 'foo'", "cannot be used with the comparator"),
    ("'foo' =~ '['", "unable to compile regexp pattern"),
    ("1 in 2", "cannot be used with the comparator"),
]


@pytest.mark.parametrize("expr,needle",
                         FAIL_CASES, ids=[c[0] for c in FAIL_CASES])
def test_reference_typing_failure(expr, needle):
    with pytest.raises(ValueError, match=re.escape(needle)):
        _ev(expr)


def test_short_circuit_skips_type_error():
    # isShortCircuitable: false && <bad> and true || <bad> never evaluate
    # the right side
    assert _ev("false && (1 && true)") is False
    assert _ev("true || (1 && true)") is True


def test_string_concat_with_nonstrings():
    # addStage concatenates with %v when either side is a string
    assert _ev("'v' + 1") == "v1"
    assert _ev("1 + 'v'") == "1v"
    assert _ev("'b' + true") == "btrue"


def test_null_equality():
    # equalStage: two nulls are equal; null never equals a value
    # (NULL / nil are the TQL front-end's null idents)
    assert _ev("NULL == NULL") is True
    assert _ev("NULL != nil") is False
    assert _ev("NULL == 1") is False


def test_ternary_without_else_yields_null():
    # parseTernary: missing ':' leaves only ternaryIfStage -> nil on false
    assert _ev("true ? 10") == 10
    assert _ev("false ? 10") is None

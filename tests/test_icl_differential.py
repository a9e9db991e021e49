"""Differential testing of the ICL violations compiler.

The reference evaluates constraint bodies per-tuple with nested scans
(lib/constraint.ml:166-251). This file re-implements those semantics as a
naive Python evaluator and checks, over hypothesis-generated random
constraint trees and tiny relations, that the DataFrame compiler's
``satisfied_rows`` partitions rows identically — the strongest guard we
have against subtle join/set-semantics drift (e.g. the multiset-vs-value
issues fixed in round 2).
"""

import pytest
from hypothesis import HealthCheck, example, given, settings

from conftest import diff_examples
from hypothesis import strategies as st

from sakura_spark.icl import ast
from sakura_spark.icl.compiler import _value_match, satisfied_rows, violations

# --- naive reference evaluator (lib/constraint.ml:166-251 semantics) --------


def _binding_value(b, env):
    if isinstance(b, ast.Var):
        return env.get(b.name)
    return b.value


def _known(*values):
    """A comparison or membership test with a NULL operand never holds:
    Spark's filter/join drops it, and Not complements the satisfied set."""
    return all(v is not None for v in values)


_CMP = {
    "lt": lambda a, b: a < b,
    "lte": lambda a, b: a <= b,
    "gt": lambda a, b: a > b,
    "gte": lambda a, b: a >= b,
    "eq": lambda a, b: a == b,
    "neq": lambda a, b: a != b,
}


# Prelude comparison relations the generated bodies use (lib/prelude).
_INTENSIONAL = {"less_than": "lt", "greater_than_or_equal": "gte"}


def _eval(body, env, rels):
    if isinstance(body, ast.Cmp):
        left, right = _binding_value(body.left, env), _binding_value(body.right, env)
        return _known(left, right) and _CMP[body.op](left, right)
    if isinstance(body, ast.Between):
        v, lo, hi = (_binding_value(b, env) for b in (body.value, body.low, body.high))
        return _known(v, lo, hi) and lo <= v <= hi
    if isinstance(body, ast.MemberOf) and body.target in _INTENSIONAL:
        b = dict(body.bindings)
        return _eval(ast.Cmp(_INTENSIONAL[body.target], b["left"], b["right"]), env, rels)
    if isinstance(body, ast.MemberOf):
        target = rels[body.target]
        return any(
            all(_known(row[a], _binding_value(b, env)) and row[a] == _binding_value(b, env)
                for a, b in body.bindings)
            for row in target
        )
    if isinstance(body, ast.Not):
        return not _eval(body.body, env, rels)
    if isinstance(body, ast.And):
        return _eval(body.left, env, rels) and _eval(body.right, env, rels)
    if isinstance(body, ast.Or):
        return _eval(body.left, env, rels) or _eval(body.right, env, rels)
    if isinstance(body, (ast.Exists, ast.Forall)):
        q = rels[body.quantifier]
        extended = (
            {**env, **{f"{body.var}.{k}": v for k, v in qrow.items()}} for qrow in q
        )
        if isinstance(body, ast.Exists):
            return any(_eval(body.body, e, rels) for e in extended)
        return all(_eval(body.body, e, rels) for e in extended)
    raise AssertionError(body)


# --- random constraint trees over fixed schemas ------------------------------

# Constrained frame: (x, y); target relation R: (a, b); quantifier Q: (qa,)
_VALS = st.integers(0, 3)


def _bindings_for(attrs, var_names):
    return st.tuples(
        *[
            st.one_of(
                st.builds(ast.ConstVal, _VALS),
                st.sampled_from([ast.Var(v) for v in var_names]),
            )
            for _ in attrs
        ]
    ).map(lambda bs: tuple(zip(attrs, bs)))


def _body(var_names, depth):
    leaf = st.one_of(
        st.builds(lambda bs: ast.MemberOf("R", bs), _bindings_for(("a", "b"), var_names)),
        st.builds(
            ast.Cmp,
            st.sampled_from(list(_CMP)),
            st.sampled_from([ast.Var(v) for v in var_names]),
            st.one_of(st.builds(ast.ConstVal, _VALS), st.sampled_from([ast.Var(v) for v in var_names])),
        ),
    )
    if depth == 0:
        return leaf
    sub = _body(var_names, depth - 1)
    quantified = st.builds(
        lambda kind, inner: kind("q", "Q", inner),
        st.sampled_from([ast.Exists, ast.Forall]),
        _body(list(var_names) + ["q.qa"], depth - 1),
    )
    return st.one_of(
        leaf,
        st.builds(ast.Not, sub),
        st.builds(ast.And, sub, sub),
        st.builds(ast.Or, sub, sub),
        quantified,
    )


_ROWS_XY = st.lists(st.tuples(_VALS, _VALS), min_size=0, max_size=5, unique=True)
_ROWS_AB = st.lists(st.tuples(_VALS, _VALS), min_size=0, max_size=4, unique=True)
_ROWS_QA = st.lists(st.tuples(_VALS), min_size=0, max_size=3, unique=True)


@given(
    body=_body(["x", "y"], depth=2),
    xy=_ROWS_XY,
    ab=_ROWS_AB,
    qa=_ROWS_QA,
)
@settings(
    max_examples=diff_examples(12, 3),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_compiler_matches_naive_evaluator(spark, body, xy, ab, qa):
    df = spark.createDataFrame(xy or [], "x long, y long")
    rels = {
        "R": spark.createDataFrame(ab or [], "a long, b long"),
        "Q": spark.createDataFrame(qa or [], "qa long"),
    }
    py_rels = {
        "R": [{"a": a, "b": b} for a, b in ab],
        "Q": [{"qa": q} for (q,) in qa],
    }
    expected_sat = {
        (x, y) for x, y in xy if _eval(body, {"x": x, "y": y}, py_rels)
    }
    got_sat = {(r.x, r.y) for r in satisfied_rows(df, body, rels).collect()}
    got_bad = {(r.x, r.y) for r in violations(df, body, rels).collect()}
    assert got_sat == expected_sat
    assert got_bad == set(xy) - expected_sat


# --- explicit shadowed-quantifier regressions --------------------------------
#
# Nested quantifiers reusing a variable name must shadow inner-over-outer
# (the reference extends the environment with a map update,
# lib/constraint.ml:230-251). Round 4's compiler crashed with
# AMBIGUOUS_REFERENCE on these shapes; keep them pinned explicitly so the
# guarantee doesn't depend on the hypothesis example database surviving a
# fresh checkout.

_SHADOW_BODIES = [
    # Inner Exists shadows outer Exists over the same relation.
    ast.Exists("q", "Q", ast.Exists("q", "Q", ast.MemberOf("R", (("a", ast.Var("x")), ("b", ast.Var("q.qa")))))),
    # Forall-in-Forall shadowing.
    ast.Forall("q", "Q", ast.Forall("q", "Q", ast.Cmp("lte", ast.Var("q.qa"), ast.Var("y")))),
    # Mixed kinds: Forall around Exists, same name.
    ast.Forall("q", "Q", ast.Exists("q", "Q", ast.Cmp("eq", ast.Var("q.qa"), ast.Var("x")))),
    # Triple nesting — exercises placeholder uniqueness at depth 3.
    ast.Exists(
        "q", "Q",
        ast.Exists("q", "Q", ast.Exists("q", "Q", ast.Cmp("lt", ast.Var("q.qa"), ast.Var("y")))),
    ),
    # The outer binding is used BEFORE the inner quantifier shadows it:
    # And(outer q.qa == x, Exists(q, q.qa == y)) — both scopes live in one body.
    ast.Exists(
        "q", "Q",
        ast.And(
            ast.Cmp("eq", ast.Var("q.qa"), ast.Var("x")),
            ast.Exists("q", "Q", ast.Cmp("eq", ast.Var("q.qa"), ast.Var("y"))),
        ),
    ),
    # Shadowing inside a Not.
    ast.Exists("q", "Q", ast.Not(ast.Exists("q", "Q", ast.Cmp("gt", ast.Var("q.qa"), ast.Var("q.qa"))))),
]


@pytest.mark.parametrize("body", _SHADOW_BODIES, ids=lambda b: type(b).__name__ + str(_SHADOW_BODIES.index(b)))
def test_shadowed_quantifier_matches_naive_evaluator(spark, body):
    xy = [(0, 0), (0, 2), (1, 1), (2, 3), (3, 0)]
    ab = [(0, 1), (1, 2), (2, 2)]
    qa = [(1,), (2,), (3,)]
    df = spark.createDataFrame(xy, "x long, y long")
    rels = {
        "R": spark.createDataFrame(ab, "a long, b long"),
        "Q": spark.createDataFrame(qa, "qa long"),
    }
    py_rels = {
        "R": [{"a": a, "b": b} for a, b in ab],
        "Q": [{"qa": q} for (q,) in qa],
    }
    expected_sat = {(x, y) for x, y in xy if _eval(body, {"x": x, "y": y}, py_rels)}
    got_sat = {(r.x, r.y) for r in satisfied_rows(df, body, rels).collect()}
    got_bad = {(r.x, r.y) for r in violations(df, body, rels).collect()}
    assert got_sat == expected_sat
    assert got_bad == set(xy) - expected_sat


# --- chains of distinct quantified variables ---------------------------------
#
# Exists/Forall chains of depth 2-3 over distinct variables whose innermost
# body reads every outer variable: no level is degenerate, so each is a real
# witness search, and a directly nested Exists hands its witnessed set to
# the enclosing level. The checked frame and the quantifier are bags with
# duplicate rows and NULLs: satisfied_rows and violations must return every
# copy of a value, so they are compared as multisets.

_NVALS = st.one_of(st.none(), st.integers(0, 3))


@st.composite
def _chain(draw):
    depth = draw(st.integers(2, 3))
    body = None
    for i in range(depth):
        other = [ast.Var("x"), ast.Var("y")] + [ast.Var(f"q{j}.qa") for j in range(i)]
        c = ast.Cmp(draw(st.sampled_from(list(_CMP))), ast.Var(f"q{i}.qa"),
                    draw(st.sampled_from(other)))
        body = c if body is None else draw(st.sampled_from([ast.And, ast.Or]))(body, c)
    for i in reversed(range(depth)):
        body = draw(st.sampled_from([ast.Exists, ast.Forall]))(f"q{i}", "Q", body)
    return body


def _check_multisets(spark, body, xy, qa):
    df = spark.createDataFrame(xy, "x long, y long")
    rels = {"Q": spark.createDataFrame(qa, "qa long")}
    py_rels = {"Q": [{"qa": q} for (q,) in qa]}
    key = lambda r: tuple((v is None, v or 0) for v in r)  # noqa: E731
    sat = sorted((r for r in xy if _eval(body, {"x": r[0], "y": r[1]}, py_rels)), key=key)
    bad = sorted((r for r in xy if not _eval(body, {"x": r[0], "y": r[1]}, py_rels)), key=key)
    assert sorted((tuple(r) for r in satisfied_rows(df, body, rels).collect()), key=key) == sat
    assert sorted((tuple(r) for r in violations(df, body, rels).collect()), key=key) == bad


@given(
    body=_chain(),
    xy=st.lists(st.tuples(_NVALS, _NVALS), min_size=0, max_size=6),
    qa=st.lists(st.tuples(_NVALS), min_size=0, max_size=4),
)
@settings(
    max_examples=diff_examples(12, 3),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_distinct_variable_chains_match_naive_evaluator(spark, body, xy, qa):
    _check_multisets(spark, body, xy, qa)


def _lte_chain(kinds):
    """The job-count test's shape: q0.qa <= v and q1.qa <= v ... under
    the given quantifier kinds, outermost first."""
    body = None
    for i in range(len(kinds)):
        c = ast.Cmp("lte", ast.Var(f"q{i}.qa"), ast.Var("y"))
        body = c if body is None else ast.And(body, c)
    for i in reversed(range(len(kinds))):
        body = kinds[i](f"q{i}", "Q", body)
    return body


_E, _A = ast.Exists, ast.Forall


@pytest.mark.parametrize(
    "kinds", [(_E, _E), (_E, _E, _E), (_A, _E, _E), (_E, _A, _E), (_E, _E, _A)],
    ids=lambda ks: "".join("E" if k is _E else "A" for k in ks),
)
def test_pinned_chains_on_bags_with_nulls(spark, kinds):
    xy = [(0, 0), (0, 0), (1, 2), (1, 2), (2, None), (None, 3), (3, 3), (None, None)]
    qa = [(1,), (2,), (2,), (None,)]
    _check_multisets(spark, _lte_chain(kinds), xy, qa)
    _check_multisets(spark, _lte_chain(kinds), xy, [(q,) for (q,) in qa if q is not None])


# --- direct violation plans against "rows minus satisfied rows" ------------
#
# ``violations`` pushes the negation into the body (a filter for predicate
# trees, an anti-join for MemberOf, ...). Its row multiset must equal the
# old definition, the value-based anti-join of the frame against its
# satisfied rows, and the naive evaluator's, on bags with NULLs, for
# bodies mixing every node kind: comparison and Between predicates,
# intensional and extensional MemberOf, Not/And/Or and quantifiers
# (degenerate ones included, whenever the inner body skips q.qa).


def _mixed_body(var_names, depth):
    var = st.sampled_from([ast.Var(v) for v in var_names])
    operand = st.one_of(st.builds(ast.ConstVal, _VALS), var)
    leaf = st.one_of(
        st.builds(lambda bs: ast.MemberOf("R", bs), _bindings_for(("a", "b"), var_names)),
        st.builds(ast.Cmp, st.sampled_from(list(_CMP)), var, operand),
        st.builds(ast.Between, var, operand, operand),
        st.builds(
            lambda t, l, r: ast.MemberOf(t, (("left", l), ("right", r))),
            st.sampled_from(sorted(_INTENSIONAL)), var, operand,
        ),
    )
    if depth == 0:
        return leaf
    sub = _mixed_body(var_names, depth - 1)
    quantified = st.builds(
        lambda kind, inner: kind("q", "Q", inner),
        st.sampled_from([ast.Exists, ast.Forall]),
        _mixed_body(list(var_names) + ["q.qa"], depth - 1),
    )
    return st.one_of(
        leaf,
        st.builds(ast.Not, sub),
        st.builds(ast.And, sub, sub),
        st.builds(ast.Or, sub, sub),
        quantified,
    )


_X, _Y, _QA = ast.Var("x"), ast.Var("y"), ast.Var("q.qa")
_XY = [(1, 2), (1, 2), (2, None), (None, 3), (3, 0), (0, 3), (0, 3)]
_AB = [(1, 0), (2, 3), (3, 2), (None, 0)]
_QAS = [(0,), (2,), (None,)]


# Every And plan: the union rule with the cheaper conjunct first, and the
# anti-join against satisfied rows for an And of two quantifiers.
@example(body=ast.And(ast.Exists("q", "Q", ast.Cmp("lt", _QA, _Y)),
                      ast.Forall("q", "Q", ast.Cmp("neq", _QA, _X))), xy=_XY, ab=_AB, qa=_QAS)
@example(body=ast.And(ast.Exists("q", "Q", ast.Cmp("lt", _QA, _Y)),
                      ast.MemberOf("R", (("a", _X),))), xy=_XY, ab=_AB, qa=_QAS)
@example(body=ast.And(ast.MemberOf("R", (("a", _X),)),
                      ast.MemberOf("R", (("b", _Y),))), xy=_XY, ab=_AB, qa=_QAS)
@example(body=ast.And(ast.Forall("q", "Q", ast.Cmp("gte", _QA, _X)),
                      ast.Cmp("gt", _Y, _X)), xy=_XY, ab=_AB, qa=_QAS)
@given(
    body=_mixed_body(["x", "y"], depth=2),
    xy=st.lists(st.tuples(_NVALS, _NVALS), min_size=0, max_size=6),
    ab=st.lists(st.tuples(_NVALS, _NVALS), min_size=0, max_size=4),
    qa=st.lists(st.tuples(_NVALS), min_size=0, max_size=3),
)
@settings(
    max_examples=diff_examples(20, 5),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_direct_violations_match_rows_minus_satisfied(spark, body, xy, ab, qa):
    df = spark.createDataFrame(xy, "x long, y long")
    rels = {
        "R": spark.createDataFrame(ab, "a long, b long"),
        "Q": spark.createDataFrame(qa, "qa long"),
    }
    py_rels = {
        "R": [{"a": a, "b": b} for a, b in ab],
        "Q": [{"qa": q} for (q,) in qa],
    }
    key = lambda r: tuple((v is None, v or 0) for v in r)  # noqa: E731
    got = sorted((tuple(r) for r in violations(df, body, rels).collect()), key=key)
    old = _value_match(df, satisfied_rows(df, body, rels), "left_anti")
    assert got == sorted((tuple(r) for r in old.collect()), key=key)
    naive = [r for r in xy if not _eval(body, {"x": r[0], "y": r[1]}, py_rels)]
    assert got == sorted(naive, key=key)

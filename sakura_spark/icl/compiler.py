"""Constraint body -> satisfied/violations DataFrames + polarity analysis.

``satisfied_rows(df, body, resolver)`` returns the subset of df's rows
satisfying the body; ``violations`` is the complement. Everything compiles
to joins/filters on DataFrames:

    Cmp / Between  -> Column predicates (the intensional-relation rewrite);
                      a tree of them under And/Or/Not is ONE filter
    MemberOf       -> left-semi join on the bindings (FK check)
    Not            -> the violating rows of its body (below)
    And / Or       -> intersect / union of satisfied subsets
    Exists         -> semi-join against the quantifier with the body as the
                      join condition (namespaced "var.attr" columns)
    Forall         -> no-counterexample: diff against Exists(var, Not(body))

``violations`` is compiled directly, by pushing the negation into the body,
not as "rows minus satisfied rows" (Catalyst cannot see that
``anti(df, semi(df, T))`` is ``anti(df, T)``):

    predicate tree -> filter(NOT sat), NULL counting as unsatisfied
    MemberOf       -> left-anti join on the bindings
    Not(x)         -> satisfied(x)
    Or(a, b)       -> violating(violating(a), b)
    And(a, b)      -> violating(a) UNION violating(satisfied(a), b), disjoint,
                      with the cheaper conjunct as a; when neither is a
                      predicate tree or a MemberOf, an anti join on
                      satisfied(And(a, b))
    Exists/Forall  -> anti/semi join on witness/counterexample hits

The reference evaluates these per-tuple with nested scans
(lib/constraint.ml:166-251); compiled as joins the whole-batch check is one
Catalyst plan — anti-joins broadcast when the target is small, and the
quantifier cross-products the optimizer would warn about in SQL are the
same ones the reference hides in its nested loops.

Polarity analysis (lib/constraint.ml:279-328) drives cascade narrowing:
which relations' mutations can violate this constraint, and in which
direction (insert vs delete).
"""

from __future__ import annotations

import itertools
from typing import Callable, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sakura_spark import errors, prelude
from sakura_spark.icl import ast

Resolver = Union[Callable[[str], DataFrame], dict]

# Guard on the Exists/Forall witness search: the quantifier is broadcast
# into a crossJoin with the checked frame, so a huge quantifier silently
# becomes a |df| x |q| nested loop. Quantifiers above this row count raise
# errors.UnboundedQuantifier (reference diagnostic, lib/constraint.ml:
# 184-212). Escape hatch: set to None (module level) to disable — e.g.
# `icl_compiler.MAX_QUANTIFIER_ROWS = None` — when a large quantifier is
# genuinely intended and the cost is understood.
MAX_QUANTIFIER_ROWS: int | None = 100_000

# Unique suffixes for shadowed-quantifier placeholder columns: nested
# quantifiers reusing a variable name rename the outer binding's columns
# before crossJoining the inner quantifier, and a plain per-call counter
# keeps the placeholders distinct at any nesting depth.
_SHADOW_IDS = itertools.count()

POSITIVE = "positive"  # a DELETE from the relation can violate
NEGATIVE = "negative"  # an INSERT into the relation can violate
BOTH = "both"


def _resolve(resolver: Resolver, name: str) -> DataFrame:
    if isinstance(resolver, dict):
        return resolver[name]
    return resolver(name)


def _binding_col(b: ast.Binding) -> Column:
    """Column for a binding evaluated against the constrained frame (Var
    names, incl. namespaced "q.attr", are plain — backticked — columns)."""
    if isinstance(b, ast.Var):
        return F.col(f"`{b.name}`")
    return F.lit(b.value)


_CMP = {
    "lt": lambda l, r: l < r,
    "lte": lambda l, r: l <= r,
    "gt": lambda l, r: l > r,
    "gte": lambda l, r: l >= r,
    "eq": lambda l, r: l == r,
    "neq": lambda l, r: l != r,
}


def _value_match(df: DataFrame, keep: DataFrame, how: str) -> DataFrame:
    """Null-safe semi/anti join of df against keep on ALL columns.

    Set operators (intersect/exceptAll) have multiset semantics, which would
    flag surplus duplicate copies of a satisfying row as violations when the
    checked frame is a bag (possible for register_external-mounted frames).
    A value-based semi/anti join preserves per-row semantics instead: every
    copy of a satisfying value is satisfied, every copy of a violating value
    is a violation. Aliased to dodge self-join ambiguity (keep derives from
    df); backticks because namespaced "var.attr" columns contain dots.
    """
    left, right = df.alias("__vl"), keep.dropDuplicates().alias("__vr")
    cond = None
    for c in df.columns:
        cc = F.col(f"__vl.`{c}`").eqNullSafe(F.col(f"__vr.`{c}`"))
        cond = cc if cond is None else cond & cc
    return left.join(right, on=cond, how=how)


def _sat(body: ast.Body) -> Column | None:
    """The satisfaction column of a predicate-only body — Cmp, Between,
    intensional MemberOf, and And/Or/Not of these — or None when the body
    needs a join. Two-valued: a NULL comparison counts as unsatisfied, as
    a filter drops it, so ``NOT sat`` keeps a row with a NULL operand as
    a violation."""
    if isinstance(body, ast.Cmp):
        cond = _CMP[body.op](_binding_col(body.left), _binding_col(body.right))
    elif isinstance(body, ast.Between):
        v = _binding_col(body.value)
        cond = (v >= _binding_col(body.low)) & (v <= _binding_col(body.high))
    elif isinstance(body, ast.MemberOf) and prelude.is_intensional(body.target):
        # Intensional target (comparison/arithmetic relations): membership is
        # the predicate itself (lib/manipulation.ml:120-147 intensional path).
        rel = prelude.PRELUDE[body.target]
        bound = {a: _binding_col(b) for a, b in body.bindings}
        missing = [a for a in rel.attrs if a not in bound]
        if missing:
            raise ValueError(
                f"MemberOf {body.target}: all attributes must be bound, missing {missing}"
            )
        cond = rel.predicate(bound)
        if rel.guard is not None:
            cond = cond & rel.guard(bound)
    elif isinstance(body, ast.Not):
        inner = _sat(body.body)
        return None if inner is None else ~inner
    elif isinstance(body, (ast.And, ast.Or)):
        left, right = _sat(body.left), _sat(body.right)
        if left is None or right is None:
            return None
        return (left & right) if isinstance(body, ast.And) else (left | right)
    else:
        return None
    return F.coalesce(cond, F.lit(False))


def _member_join(df: DataFrame, body: ast.MemberOf, resolver: Resolver, how: str) -> DataFrame:
    """Semi (members) or anti (non-members) join of df against an
    extensional MemberOf target on its bindings. A NULL binding matches
    nothing, so it is a non-member."""
    target = _resolve(resolver, body.target)
    # Build the join: target attr == Var column / Const literal.
    tgt = target
    conds = []
    for attr, b in body.bindings:
        if isinstance(b, ast.ConstVal):
            tgt = tgt.filter(F.col(attr) == F.lit(b.value))
        else:
            conds.append((b.name, attr))
    if not conds:
        # Pure-constant binding: satisfied iff a matching row exists at
        # all. Kept lazy: a 1-row broadcast marker semi/anti-joined on a
        # constant-true condition keeps/drops every df row inside the
        # enclosing job, instead of probing eagerly with take(1) — which
        # launched one extra driver job per node during validation.
        marker = F.broadcast(tgt.limit(1).select(F.lit(1).alias("__m")))
        return df.join(marker, on=F.lit(True), how=how)
    # Positional aliases: the SAME Var may bind several target attrs
    # (e.g. a=Var x AND b=Var x), so per-var aliases would collide;
    # backticks because namespaced vars ("d.dept_id") put a dot in the
    # referenced column name. No dropDuplicates: the join only answers
    # membership (a broadcast build ignores duplicate keys), an FK
    # target's attributes are usually its key already, and a dedup would
    # add an exchange — one Spark job under AQE — to every check.
    proj = tgt.select(
        *[F.col(attr).alias(f"__icl_{i}") for i, (_, attr) in enumerate(conds)]
    )
    cond = None
    for i, (var, _) in enumerate(conds):
        c = df[f"`{var}`"] == proj[f"__icl_{i}"]
        cond = c if cond is None else (cond & c)
    return df.join(proj, on=cond, how=how)


def satisfied_rows(df: DataFrame, body: ast.Body, resolver: Resolver) -> DataFrame:
    """Rows of df satisfying body. df's schema is preserved exactly."""
    cond = _sat(body)
    if cond is not None:
        return df.filter(cond)

    if isinstance(body, ast.MemberOf):
        return _member_join(df, body, resolver, "left_semi")

    if isinstance(body, ast.Not):
        return _violating(df, body.body, resolver)

    if isinstance(body, ast.And):
        left = satisfied_rows(df, body.left, resolver)
        return satisfied_rows(left, body.right, resolver)

    if isinstance(body, ast.Or):
        # Positional union: both sides preserve df's schema exactly, and
        # name-based ops would misparse namespaced "var.attr" columns. The
        # value-based semi-join keeps each df copy satisfying either side.
        l = _satisfied_values(df, body.left, resolver)
        r = _satisfied_values(df, body.right, resolver)
        return _value_match(df, l.union(r), "left_semi")

    if isinstance(body, (ast.Exists, ast.Forall)):
        if _is_degenerate(body):
            # Degenerate quantifier (var unused — typical after transition
            # substitution): Exists = q nonempty AND body; Forall = q empty
            # OR body. No crossJoin enters the plan — the cascade's narrowed
            # recheck of a 1-row mutation relies on this. Kept lazy via a
            # 1-row marker and constant-true semi/anti joins — the previous
            # eager take(1) probe launched one driver job per substituted
            # check, K+ jobs per cascade.
            q = _resolve(resolver, body.quantifier)
            marker = F.broadcast(q.limit(1).select(F.lit(1).alias("__m")))
            sat = satisfied_rows(df, body.body, resolver)
            if isinstance(body, ast.Exists):
                return sat.join(marker, on=F.lit(True), how="left_semi")
            unsat = _violating(df, body.body, resolver)
            return sat.union(unsat.join(marker, on=F.lit(True), how="left_anti"))
        hits = _witness_hits(df, body, resolver)
        if isinstance(body, ast.Exists):
            return _value_match(df, hits, "left_semi")
        return _value_match(df, hits, "left_anti")

    raise ValueError(f"unknown constraint body: {body!r}")


def _satisfied_values(df: DataFrame, body: ast.Body, resolver: Resolver) -> DataFrame:
    """The values of df's rows satisfying body, for a caller that uses
    only the set: a value-based match against it, or a projection that
    deduplicates. A non-degenerate Exists gives its witness hits without
    the semi-join back onto df that restores every copy — one broadcast
    join (with AQE off, one job) less per Exists."""
    if isinstance(body, ast.Exists) and not _is_degenerate(body):
        return _witness_hits(df, body, resolver)
    return satisfied_rows(df, body, resolver)


def _is_degenerate(body: ast.Body) -> bool:
    """True when a quantifier's body never references its variable, so the
    quantifier is only an emptiness test."""
    return not any(v.startswith(body.var + ".") for v in referenced_vars(body.body))


def _witness_hits(df: DataFrame, body: ast.Body, resolver: Resolver) -> DataFrame:
    """The distinct df rows with a witness in a non-degenerate quantifier:
    for Exists a binding satisfying the body, for Forall a binding
    violating it (a counterexample). A set, not df's bag: the caller's
    value-based semi/anti join restores every copy."""
    q = _resolve(resolver, body.quantifier)
    if MAX_QUANTIFIER_ROWS is not None:
        # The size guard needs a real count, but the verdict is stable
        # for a given DataFrame object — and Database rotates Relation.df
        # on every mutation, so caching on the object is exactly a
        # per-(relation, db-version) cache. A 3-quantifier constraint
        # over one relation counts it once, not three times.
        cached = getattr(q, "_sakura_qsize", None)
        if cached is not None and cached[0] == MAX_QUANTIFIER_ROWS:
            qn = cached[1]
        else:
            qn = q.limit(MAX_QUANTIFIER_ROWS + 1).count()
            try:
                q._sakura_qsize = (MAX_QUANTIFIER_ROWS, qn)
            except AttributeError:
                pass
        if qn > MAX_QUANTIFIER_ROWS:
            raise errors.UnboundedQuantifier(
                f"{type(body).__name__} quantifier {body.quantifier!r} exceeds "
                f"{MAX_QUANTIFIER_ROWS} rows; the witness search would crossJoin "
                "it with every checked row. Narrow the quantifier, or set "
                "sakura_spark.icl.compiler.MAX_QUANTIFIER_ROWS = None to "
                "accept the cost."
            )
    prefixed = q.select(
        *[F.col(c).alias(f"{body.var}.{c}") for c in q.columns]
    ).dropDuplicates()
    if isinstance(body, ast.Exists):
        inner = body.body
    else:
        inner = ast.Not(body.body)
    # Witness search: cross the candidate rows with the quantifier and
    # keep df-rows having >= 1 (counter)example. Columns "var.attr" are
    # visible to nested Vars; projected away (positionally — names may
    # contain dots) before the caller's set op.
    #
    # Inner shadows outer (lib/constraint.ml:230-251 — tuple extension
    # is a map update): if df already carries "var.*" columns from an
    # enclosing quantifier reusing this variable name, crossJoining
    # would duplicate them and every "var.attr" reference in the inner
    # body would be ambiguous. Rename the outer binding's columns to
    # unique placeholders so the inner body resolves against the inner
    # binding only, then restore the names before the final projection.
    shadowed = [c for c in df.columns if c.startswith(body.var + ".")]
    if shadowed:
        tok = next(_SHADOW_IDS)
        alias = {c: f"__icl_shadow_{tok}_{i}" for i, c in enumerate(shadowed)}
        base = df.select(
            *[F.col(f"`{c}`").alias(alias.get(c, c)) for c in df.columns]
        )
    else:
        alias = {}
        base = df
    crossed = base.crossJoin(F.broadcast(prefixed))
    # This level projects to df's columns and deduplicates, so the inner
    # body's satisfied values suffice.
    return (
        _satisfied_values(crossed, inner, resolver)
        .select(*[F.col(f"`{alias.get(c, c)}`").alias(c) for c in df.columns])
        .dropDuplicates()
    )


def violations(df: DataFrame, body: ast.Body, resolver: Resolver) -> DataFrame:
    """Rows of df violating body (empty == constraint holds). Value-based:
    every copy of a violating value appears; copies of satisfying values
    never do (per-row semantics even on bag inputs)."""
    return _violating(df, body, resolver)


def _violating(df: DataFrame, body: ast.Body, resolver: Resolver) -> DataFrame:
    """The rows of df violating body, compiled per node with the negation
    pushed inward (module docstring). Every rule keeps every copy of a
    violating row and no copy of a satisfying one; the two sides of an
    And's union are disjoint, so no copy is counted twice."""
    cond = _sat(body)
    if cond is not None:
        return df.filter(~cond)

    if isinstance(body, ast.MemberOf):
        return _member_join(df, body, resolver, "left_anti")

    if isinstance(body, ast.Not):
        return satisfied_rows(df, body.body, resolver)

    if isinstance(body, ast.Or):
        return _violating(_violating(df, body.left, resolver), body.right, resolver)

    if isinstance(body, ast.And):
        # Violates a, or satisfies a and violates b. That plans the first
        # conjunct twice, so the cheaper side goes first. When neither side
        # is a predicate tree or a MemberOf (two quantifiers, each a witness
        # crossJoin), one anti-join against the satisfied rows plans each
        # conjunct once instead.
        first, second = sorted((body.left, body.right), key=_rebuild_cost)
        if _rebuild_cost(first) == 2:
            return _value_match(df, _satisfied_values(df, body, resolver), "left_anti")
        passed = satisfied_rows(df, first, resolver)
        return _violating(df, first, resolver).union(_violating(passed, second, resolver))

    if isinstance(body, (ast.Exists, ast.Forall)):
        if _is_degenerate(body):
            # Exists violates where q is empty or the body is violated;
            # Forall only where q is nonempty and the body is violated.
            q = _resolve(resolver, body.quantifier)
            marker = F.broadcast(q.limit(1).select(F.lit(1).alias("__m")))
            bad = _violating(df, body.body, resolver).join(marker, on=F.lit(True), how="left_semi")
            if isinstance(body, ast.Forall):
                return bad
            return df.join(marker, on=F.lit(True), how="left_anti").union(bad)
        hits = _witness_hits(df, body, resolver)
        return _value_match(df, hits, "left_anti" if isinstance(body, ast.Exists) else "left_semi")

    raise ValueError(f"unknown constraint body: {body!r}")


def _rebuild_cost(body: ast.Body) -> int:
    """How dear a second plan of body is: 0 for a predicate tree (one
    filter), 1 for an extensional MemberOf (one broadcast join), 2 for
    anything else."""
    if _sat(body) is not None:
        return 0
    return 1 if isinstance(body, ast.MemberOf) else 2


def referenced_vars(body: ast.Body) -> set[str]:
    """Every Var name referenced anywhere in the body (free or
    quantifier-namespaced). Used to detect when a quantifier variable is
    unused — e.g. after transition substitution."""
    if isinstance(body, ast.MemberOf):
        return {b.name for _, b in body.bindings if isinstance(b, ast.Var)}
    if isinstance(body, ast.Cmp):
        return {b.name for b in (body.left, body.right) if isinstance(b, ast.Var)}
    if isinstance(body, ast.Between):
        return {b.name for b in (body.value, body.low, body.high) if isinstance(b, ast.Var)}
    if isinstance(body, ast.Not):
        return referenced_vars(body.body)
    if isinstance(body, (ast.And, ast.Or)):
        return referenced_vars(body.left) | referenced_vars(body.right)
    if isinstance(body, (ast.Exists, ast.Forall)):
        return referenced_vars(body.body)
    raise ValueError(f"unknown constraint body: {body!r}")


def has_quantifier_over(body: ast.Body, dep_rel: str) -> bool:
    """True when an Exists/Forall anywhere in the body quantifies over
    ``dep_rel`` — the shape transition substitution targets."""
    if isinstance(body, (ast.MemberOf, ast.Cmp, ast.Between)):
        return False
    if isinstance(body, ast.Not):
        return has_quantifier_over(body.body, dep_rel)
    if isinstance(body, (ast.And, ast.Or)):
        return has_quantifier_over(body.left, dep_rel) or has_quantifier_over(
            body.right, dep_rel
        )
    if isinstance(body, (ast.Exists, ast.Forall)):
        return body.quantifier == dep_rel or has_quantifier_over(body.body, dep_rel)
    raise ValueError(f"unknown constraint body: {body!r}")


def trigger_constants(body: ast.Body, dep_rel: str) -> list[tuple[str, object]]:
    """Const binding values targeting ``dep_rel`` — fixed-value
    preconditions (lib/constraint.ml:390-412): the constraint can only be
    affected by a mutated ``dep_rel`` tuple carrying these exact values, so
    the cascade bails out early when the changed rows don't match. Empty
    means no early-exit is possible (Var bindings are join variables, not
    filters; an unrelated dep_rel contributes nothing)."""
    if isinstance(body, ast.MemberOf):
        if body.target != dep_rel:
            return []
        return [(a, b.value) for a, b in body.bindings if isinstance(b, ast.ConstVal)]
    if isinstance(body, (ast.Cmp, ast.Between)):
        return []
    if isinstance(body, ast.Not):
        return trigger_constants(body.body, dep_rel)
    if isinstance(body, (ast.And, ast.Or)):
        return trigger_constants(body.left, dep_rel) + trigger_constants(body.right, dep_rel)
    if isinstance(body, (ast.Exists, ast.Forall)):
        return trigger_constants(body.body, dep_rel)
    raise ValueError(f"unknown constraint body: {body!r}")


def substitute_transition(
    body: ast.Body, dep_rel: str, transition: dict[str, object]
) -> ast.Body:
    """Universal variable substitution (lib/constraint.ml:428-546): when an
    Exists/Forall quantifies over the mutated ``dep_rel``, rewrite its body
    replacing ``Var "var.attr"`` with ``ConstVal`` from the transition
    tuple. Base-tuple Vars (no "var." prefix) are never touched, and a
    quantifier over a different relation is left unchanged. Once inside an
    applying quantifier, nested quantifiers over dep_rel do NOT restart the
    substitution (SubstituteApply propagates unchanged in the reference).

    The substituted body no longer references the quantified variable, so
    the compiler's degenerate-quantifier path evaluates it without
    crossJoining the full quantifier — the targeted recheck of Technique 2
    in the reference's incremental-constraint-checking design.
    """

    def sub_binding(b: ast.Binding, subs: dict[str, object] | None) -> ast.Binding:
        if subs is not None and isinstance(b, ast.Var) and b.name in subs:
            return ast.ConstVal(subs[b.name])
        return b

    def go(node: ast.Body, subs: dict[str, object] | None) -> ast.Body:
        if isinstance(node, ast.MemberOf):
            return ast.MemberOf(
                node.target, tuple((a, sub_binding(b, subs)) for a, b in node.bindings)
            )
        if isinstance(node, ast.Cmp):
            return ast.Cmp(node.op, sub_binding(node.left, subs), sub_binding(node.right, subs))
        if isinstance(node, ast.Between):
            return ast.Between(
                sub_binding(node.value, subs),
                sub_binding(node.low, subs),
                sub_binding(node.high, subs),
            )
        if isinstance(node, ast.Not):
            return ast.Not(go(node.body, subs))
        if isinstance(node, (ast.And, ast.Or)):
            cls = ast.And if isinstance(node, ast.And) else ast.Or
            return cls(go(node.left, subs), go(node.right, subs))
        if isinstance(node, (ast.Exists, ast.Forall)):
            cls = ast.Exists if isinstance(node, ast.Exists) else ast.Forall
            inner_subs = subs
            if subs is None and node.quantifier == dep_rel:
                inner_subs = {f"{node.var}.{a}": v for a, v in transition.items()}
            return cls(node.var, node.quantifier, go(node.body, inner_subs))
        raise ValueError(f"unknown constraint body: {node!r}")

    return go(body, None)


# --- polarity analysis (lib/constraint.ml:279-328) --------------------------


def _merge(a: dict[str, str], b: dict[str, str]) -> dict[str, str]:
    out = dict(a)
    for rel, pol in b.items():
        if rel in out and out[rel] != pol:
            out[rel] = BOTH
        else:
            out[rel] = pol
    return out


def _flip(p: dict[str, str]) -> dict[str, str]:
    flip = {POSITIVE: NEGATIVE, NEGATIVE: POSITIVE, BOTH: BOTH}
    return {rel: flip[pol] for rel, pol in p.items()}


def polarity(body: ast.Body) -> dict[str, str]:
    """relation -> polarity: POSITIVE if deleting from it can violate the
    constraint, NEGATIVE if inserting into it can, BOTH if either."""
    if isinstance(body, ast.MemberOf):
        if prelude.is_intensional(body.target):
            return {}
        return {body.target: POSITIVE}
    if isinstance(body, (ast.Cmp, ast.Between)):
        return {}
    if isinstance(body, ast.Not):
        return _flip(polarity(body.body))
    if isinstance(body, (ast.And, ast.Or)):
        return _merge(polarity(body.left), polarity(body.right))
    if isinstance(body, ast.Exists):
        # Deleting a witness can break Exists -> quantifier is Positive.
        return _merge({body.quantifier: POSITIVE}, polarity(body.body))
    if isinstance(body, ast.Forall):
        # Inserting a new quantified tuple can break Forall -> Negative.
        return _merge({body.quantifier: NEGATIVE}, polarity(body.body))
    raise ValueError(f"unknown constraint body: {body!r}")


def focused_values(body: ast.Body) -> list[tuple[str, str, str]]:
    """(target_relation, target_attr, var_name) triples linking mutated
    relations to constrained-tuple attributes — the focused-filter basis
    (lib/constraint.ml:355-383): after a mutation of `target`, only
    constrained tuples whose `var_name` equals a mutated row's
    `target_attr` need re-checking."""
    if isinstance(body, ast.MemberOf):
        if prelude.is_intensional(body.target):
            return []
        return [
            (body.target, attr, b.name)
            for attr, b in body.bindings
            if isinstance(b, ast.Var) and "." not in b.name
        ]
    if isinstance(body, (ast.Cmp, ast.Between)):
        return []
    if isinstance(body, ast.Not):
        return focused_values(body.body)
    if isinstance(body, (ast.And, ast.Or)):
        return focused_values(body.left) + focused_values(body.right)
    if isinstance(body, (ast.Exists, ast.Forall)):
        return focused_values(body.body)
    raise ValueError(f"unknown constraint body: {body!r}")

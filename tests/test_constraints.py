"""Constraint engine scenarios — ports of the reference's constraint
scenario tests (FIXTURES.md §2-9, test/test_relational_engine.ml
constraint:/cascade:/commit: groups)."""

import pytest

from sakura_spark import errors
from sakura_spark.database import DEFERRED, IMMEDIATE, Database
from sakura_spark.icl import (
    And,
    Between,
    Cmp,
    ConstVal,
    Exists,
    Forall,
    MemberOf,
    Not,
    Var,
    polarity,
    violations,
)
from sakura_spark.icl.compiler import BOTH, NEGATIVE, POSITIVE
from sakura_spark.management.store import SnapshotStore


@pytest.fixture()
def fk_db(spark, store):
    """FIXTURES §2: Department/Employee with fk_employee_dept."""
    db = Database(spark, "fk_db", store=store, snapshot_on_mutation=False)
    db.create_relation("Department", [("dept_id", "integer")])
    db.create_relation("Employee", [("emp_id", "integer"), ("dept_id", "integer")])
    db.insert_tuples("Department", [{"dept_id": 1}, {"dept_id": 2}])
    db.register_constraint(
        "fk_employee_dept",
        "Employee",
        MemberOf("Department", (("dept_id", Var("dept_id")),)),
    )
    db.insert_tuples("Employee", [{"emp_id": 10, "dept_id": 1}])
    return db


def test_fk_insert_ok_and_reject(fk_db):
    fk_db.insert_tuples("Employee", [{"emp_id": 11, "dept_id": 2}])
    with pytest.raises(errors.ConstraintViolation):
        fk_db.insert_tuples("Employee", [{"emp_id": 12, "dept_id": 999}])
    assert fk_db.relation("Employee").count() == 2


def test_fk_delete_cascade_rejected(fk_db):
    """Deleting a referenced Department violates via Positive-polarity
    cascade (cascade: tests, test/test_relational_engine.ml:3894+)."""
    with pytest.raises(errors.ConstraintViolation):
        fk_db.delete_tuples("Department", [{"dept_id": 1}])
    # unreferenced department deletes fine
    fk_db.delete_tuples("Department", [{"dept_id": 2}])


def test_deferred_fk_checked_at_commit(spark, store):
    db = Database(spark, "dfk", store=store, snapshot_on_mutation=False)
    db.create_relation("Department", [("dept_id", "integer")])
    db.create_relation("Employee", [("emp_id", "integer"), ("dept_id", "integer")])
    db.register_constraint(
        "fk_deferred",
        "Employee",
        MemberOf("Department", (("dept_id", Var("dept_id")),)),
        timing=DEFERRED,
    )
    # insert out of order: Employee first — allowed until commit
    db.insert_tuples("Employee", [{"emp_id": 1, "dept_id": 7}])
    with pytest.raises(errors.ConstraintViolation):
        db.commit()
    db.insert_tuples("Department", [{"dept_id": 7}])
    db.deferred_pending.add("fk_deferred")
    db.commit()  # now passes


def test_self_reference_neq(spark, store):
    """FIXTURES §4: reports_to(emp_id, mgr_id) with emp_id != mgr_id."""
    db = Database(spark, "neq", store=store, snapshot_on_mutation=False)
    db.create_relation("reports_to", [("emp_id", "integer"), ("mgr_id", "integer")])
    db.register_constraint(
        "no_self_manage", "reports_to", Cmp("neq", Var("emp_id"), Var("mgr_id"))
    )
    db.insert_tuples("reports_to", [{"emp_id": 1, "mgr_id": 2}])
    with pytest.raises(errors.ConstraintViolation):
        db.insert_tuples("reports_to", [{"emp_id": 3, "mgr_id": 3}])


def test_range_check_between(spark, store):
    """FIXTURES §6: Result(student_id, score) with between(score, 0, 100)."""
    db = Database(spark, "rng", store=store, snapshot_on_mutation=False)
    db.create_relation("Result", [("student_id", "integer"), ("score", "integer")])
    db.register_constraint(
        "score_range", "Result", Between(Var("score"), ConstVal(0), ConstVal(100))
    )
    db.insert_tuples("Result", [{"student_id": 1, "score": 100}])
    with pytest.raises(errors.ConstraintViolation):
        db.insert_tuples("Result", [{"student_id": 2, "score": 101}])


def test_mutual_exclusion_not_memberof(spark, store):
    """FIXTURES §5: open_ticket/closed_ticket mutual exclusion via Not."""
    db = Database(spark, "mx", store=store, snapshot_on_mutation=False)
    db.create_relation("open_ticket", [("ticket_id", "integer")])
    db.create_relation("closed_ticket", [("ticket_id", "integer")])
    db.register_constraint(
        "not_both",
        "open_ticket",
        Not(MemberOf("closed_ticket", (("ticket_id", Var("ticket_id")),))),
    )
    db.insert_tuples("closed_ticket", [{"ticket_id": 7}])
    db.insert_tuples("open_ticket", [{"ticket_id": 8}])
    with pytest.raises(errors.ConstraintViolation):
        db.insert_tuples("open_ticket", [{"ticket_id": 7}])


def test_blacklist_negative_cascade(spark, store):
    """FIXTURES §7: inserting into blacklist an id present in the
    constrained relation triggers the Negative-polarity cascade."""
    db = Database(spark, "bl", store=store, snapshot_on_mutation=False)
    db.create_relation("Employee", [("emp_id", "integer")])
    db.create_relation("blacklist", [("emp_id", "integer")])
    db.register_constraint(
        "not_blacklisted",
        "Employee",
        Not(MemberOf("blacklist", (("emp_id", Var("emp_id")),))),
    )
    db.insert_tuples("Employee", [{"emp_id": 1}, {"emp_id": 2}])
    db.insert_tuples("blacklist", [{"emp_id": 99}])  # unrelated: fine
    with pytest.raises(errors.ConstraintViolation):
        db.insert_tuples("blacklist", [{"emp_id": 2}])  # cascade catches it
    # blacklisted id can't be inserted into Employee either
    with pytest.raises(errors.ConstraintViolation):
        db.insert_tuples("Employee", [{"emp_id": 99}])


def test_negative_polarity_delete_not_checked(spark, store):
    """cascade: Negative-polarity relation deletion is not checked
    (test_relational_engine.ml:4100): DELETE from a Not-MemberOf target can
    only FIX violations, so the cascade must not fire — even when the
    post-delete state would flag a (pre-existing, impossible here)
    violation. Deleting the blacklist row that blocks an id must then
    allow the insert."""
    db = Database(spark, "blneg", store=store, snapshot_on_mutation=False)
    db.create_relation("Employee", [("emp_id", "integer")])
    db.create_relation("Blacklist", [("emp_id", "integer")])
    db.register_constraint(
        "not_blacklisted",
        "Employee",
        Not(MemberOf("Blacklist", (("emp_id", Var("emp_id")),))),
    )
    db.insert_tuples("Blacklist", [{"emp_id": 5}])
    db.insert_tuples("Employee", [{"emp_id": 1}])
    db.delete_tuples("Blacklist", [{"emp_id": 5}])  # no cascade fires
    db.insert_tuples("Employee", [{"emp_id": 5}])  # now admissible


def test_commit_clears_deferred_list(spark, store):
    """commit: clears deferred list, second commit passes
    (test_relational_engine.ml:4550): after a successful commit the
    deferred window is empty; a follow-up mutation + commit works without
    re-running stale entries, and an idle second commit passes."""
    db = Database(spark, "dwin", store=store, snapshot_on_mutation=False)
    db.create_relation("Department", [("dept_id", "integer")])
    db.create_relation("Employee", [("emp_id", "integer"), ("dept_id", "integer")])
    db.register_constraint(
        "fk_deferred",
        "Employee",
        MemberOf("Department", (("dept_id", Var("dept_id")),)),
        timing=DEFERRED,
    )
    db.insert_tuples("Department", [{"dept_id": 1}])
    db.insert_tuples("Employee", [{"emp_id": 10, "dept_id": 1}])
    db.commit()
    assert db.deferred_pending == set()
    db.commit()  # idle second commit also passes
    # New window: a violating insert is caught at ITS commit only.
    db.insert_tuples("Employee", [{"emp_id": 11, "dept_id": 9}])
    with pytest.raises(errors.ConstraintViolation):
        db.commit()


def test_weak_entity_exists(spark, store):
    """FIXTURES §9: child requires parent via Exists+MemberOf binding."""
    db = Database(spark, "weak", store=store, snapshot_on_mutation=False)
    db.create_relation("parent", [("parent_id", "integer")])
    db.create_relation("child", [("dep_id", "integer"), ("parent_id", "integer")])
    db.insert_tuples("parent", [{"parent_id": 1}])
    db.register_constraint(
        "child_has_parent",
        "child",
        Exists("p", "parent", Cmp("eq", Var("p.parent_id"), Var("parent_id"))),
    )
    db.insert_tuples("child", [{"dep_id": 10, "parent_id": 1}])
    with pytest.raises(errors.ConstraintViolation):
        db.insert_tuples("child", [{"dep_id": 11, "parent_id": 42}])
    # deleting the witness parent breaks Exists -> rejected via cascade
    with pytest.raises(errors.ConstraintViolation):
        db.delete_tuples("parent", [{"parent_id": 1}])


def test_forall_quantified(spark, store):
    """Forall: every room's floor must be <= its building's floor count
    (FIXTURES §8 flavour, n-way binding)."""
    db = Database(spark, "bld", store=store, snapshot_on_mutation=False)
    db.create_relation("Building", [("building_id", "integer"), ("floors", "integer")])
    db.create_relation("Room", [("room_id", "integer"), ("building_id", "integer"), ("floor", "integer")])
    db.insert_tuples("Building", [{"building_id": 1, "floors": 3}])
    db.register_constraint(
        "room_floor_exists",
        "Room",
        Exists(
            "b",
            "Building",
            # same building AND floor within range
            Cmp("eq", Var("b.building_id"), Var("building_id")),
        ),
    )
    db.register_constraint(
        "floor_in_range",
        "Room",
        Forall(
            "b",
            "Building",
            # for every building: not same id OR floor <= floors
            # (material implication via Or/Not is exercised here)
            _implies(
                Cmp("eq", Var("b.building_id"), Var("building_id")),
                Cmp("lte", Var("floor"), Var("b.floors")),
            ),
        ),
    )
    db.insert_tuples("Room", [{"room_id": 1, "building_id": 1, "floor": 3}])
    with pytest.raises(errors.ConstraintViolation):
        db.insert_tuples("Room", [{"room_id": 2, "building_id": 1, "floor": 4}])


def _implies(a, b):
    from sakura_spark.icl import Not, Or

    return Or(Not(a), b)


def test_polarity_analysis():
    fk = MemberOf("Department", (("dept_id", Var("dept_id")),))
    assert polarity(fk) == {"Department": POSITIVE}
    assert polarity(Not(fk)) == {"Department": NEGATIVE}
    ex = Exists("p", "parent", Cmp("eq", Var("p.id"), Var("pid")))
    assert polarity(ex) == {"parent": POSITIVE}
    fa = Forall("b", "Building", Cmp("lte", Var("floor"), Var("b.floors")))
    assert polarity(fa) == {"Building": NEGATIVE}
    both = _And(
        MemberOf("parent", (("id", Var("pid")),)),
        Not(MemberOf("parent", (("other", Var("oid")),))),
    )
    assert polarity(both) == {"parent": BOTH}


def _And(a, b):
    from sakura_spark.icl import And

    return And(a, b)


def test_violations_direct(spark):
    emp = spark.createDataFrame([(1, 1), (2, 9)], "emp_id long, dept_id long")
    dept = spark.createDataFrame([(1,)], "dept_id long")
    body = MemberOf("Department", (("dept_id", Var("dept_id")),))
    bad = violations(emp, body, {"Department": dept})
    assert [r.emp_id for r in bad.collect()] == [2]


# --- trigger constants (ports of test_relational_engine.ml trigger_constants:)


def test_trigger_constants_const_binding_extracted():
    """Const value in binding is extracted (:3684): the cascade can bail
    out when the mutated tuple's status != 'active'."""
    from sakura_spark.icl.compiler import trigger_constants

    c = MemberOf("R", (("status", ConstVal("active")),))
    assert trigger_constants(c, "R") == [("status", "active")]


def test_trigger_constants_var_binding_no_constant():
    """Var binding produces no constant (:3706): join variable, not filter."""
    from sakura_spark.icl.compiler import trigger_constants

    c = MemberOf("R", (("id", Var("id")),))
    assert trigger_constants(c, "R") == []


def test_trigger_constants_unrelated_dep_rel_empty():
    """Unrelated dep_rel yields empty (:3719)."""
    from sakura_spark.icl.compiler import trigger_constants

    c = MemberOf("R", (("x", ConstVal(1)),))
    assert trigger_constants(c, "S") == []


# --- transition substitution (ports of substitute_transition: tests) --------


def test_substitute_namespaced_var_replaced():
    """Var "d.dept_id" becomes Const 99 from the transition tuple (:3733)."""
    from sakura_spark.icl.compiler import substitute_transition

    c = Exists("d", "Department", MemberOf("Target", (("key", Var("d.dept_id")),)))
    out = substitute_transition(c, "Department", {"dept_id": 99})
    assert out == Exists("d", "Department", MemberOf("Target", (("key", ConstVal(99)),)))


def test_substitute_base_var_untouched():
    """Base-tuple Var (no "d." prefix) survives substitution (:3766)."""
    from sakura_spark.icl.compiler import substitute_transition

    c = Exists("d", "Department", MemberOf("Target", (("key", Var("dept_id")),)))
    out = substitute_transition(c, "Department", {"dept_id": 99})
    assert out == c


def test_substitute_non_matching_quantifier_unchanged():
    """Quantifier over a different relation is left alone (:3793)."""
    from sakura_spark.icl.compiler import substitute_transition

    c = Exists("d", "Department", MemberOf("Target", (("key", Var("d.dept_id")),)))
    out = substitute_transition(c, "Other", {"dept_id": 99})
    assert out == c


def test_substitute_through_and_and_not():
    """Substitution applies through And and Not (:3820)."""
    from sakura_spark.icl import And
    from sakura_spark.icl.compiler import substitute_transition

    c = Exists(
        "d",
        "Department",
        And(
            MemberOf("A", (("x", Var("d.x")),)),
            Not(MemberOf("B", (("y", Var("d.y")),))),
        ),
    )
    out = substitute_transition(c, "Department", {"x": 1, "y": 2})
    assert out == Exists(
        "d",
        "Department",
        And(
            MemberOf("A", (("x", ConstVal(1)),)),
            Not(MemberOf("B", (("y", ConstVal(2)),))),
        ),
    )


def test_substitute_comparison_shorthand():
    """Our Cmp/Between shorthands are MemberOf against comparison relations
    in the reference (lib/constraint.ml:548-593), so substitution reaches
    their bindings too."""
    from sakura_spark.icl.compiler import substitute_transition

    c = Forall("b", "Building", Cmp("lte", Var("floor"), Var("b.floors")))
    out = substitute_transition(c, "Building", {"building_id": 1, "floors": 3})
    assert out == Forall("b", "Building", Cmp("lte", Var("floor"), ConstVal(3)))


# --- cascade narrowing behavior ---------------------------------------------


def test_trigger_constant_early_bail(spark, store):
    """A constraint keyed to status='active' is skipped entirely when the
    mutated rows don't carry that value — and still fires when they do."""
    db = Database(spark, "tc", store=store, snapshot_on_mutation=False)
    db.create_relation("R", [("id", "integer"), ("status", "string")])
    db.create_relation("Audit", [("aid", "integer"), ("status", "string")])
    db.insert_tuples("R", [{"id": 1, "status": "active"}])
    # Audit rows must reference an active R row with that exact status.
    db.register_constraint(
        "audit_active",
        "Audit",
        MemberOf("R", (("status", ConstVal("active")), ("id", Var("aid")))),
    )
    db.insert_tuples("Audit", [{"aid": 1, "status": "active"}])
    # Deleting an inactive row can't affect the constraint (early bail).
    db.insert_tuples("R", [{"id": 1, "status": "retired"}])
    db.delete_tuples("R", [{"id": 1, "status": "retired"}])
    # Deleting the active row the audit references must still be rejected.
    with pytest.raises(errors.ConstraintViolation):
        db.delete_tuples("R", [{"id": 1, "status": "active"}])


def test_substituted_recheck_plan_has_no_cross_join(spark):
    """The targeted recheck of a 1-row quantifier mutation: substitution
    removes every "d.attr" reference, so the compiled plan never
    nested-loops the QUANTIFIER. The degenerate-quantifier path does emit
    1-row-marker nested-loop joins (the same shape Spark plans uncorrelated
    EXISTS subqueries as) — those are O(|df|) and allowed; what must not
    appear is a CartesianProduct or a nested loop over an unbounded side."""
    from sakura_spark.icl.compiler import substitute_transition

    emp = spark.createDataFrame([(1, 1), (2, 2)], "emp_id long, dept_id long")
    dept = spark.createDataFrame([(1,), (2,), (3,)], "dept_id long")
    audit = spark.createDataFrame([(1,), (2,)], "dept_id long")
    body = Forall("d", "Department", MemberOf("Audit", (("dept_id", Var("d.dept_id")),)))
    sub = substitute_transition(body, "Department", {"dept_id": 3})
    bad = violations(emp, sub, {"Department": dept, "Audit": audit})
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # Every nested-loop join must be a 1-row emptiness marker: its build
    # side carries a GlobalLimit 1 (plan prints one per marker subtree, or
    # a ReusedExchange when two markers share one broadcast).
    assert plan.count("BroadcastNestedLoopJoin") <= (
        plan.count("GlobalLimit 1") + plan.count("ReusedExchange")
    )
    # dept_id=3 is not in Audit -> every Employee row now violates.
    assert bad.count() == 2


def test_quantifier_size_guard(spark):
    """Exists over a quantifier above the row guard raises the reference's
    UnboundedQuantifier diagnostic instead of a silent |df| x |q| nested
    loop; the documented escape hatch (module knob) lets it through."""
    from sakura_spark.icl import compiler as icl_compiler

    df = spark.createDataFrame([(1,)], "x long")
    q = spark.range(0, 50).select(Fcol("id").alias("qid"))
    body = Exists("d", "Q", Cmp("eq", Var("d.qid"), Var("x")))
    prev = icl_compiler.MAX_QUANTIFIER_ROWS
    icl_compiler.MAX_QUANTIFIER_ROWS = 10
    try:
        with pytest.raises(errors.UnboundedQuantifier):
            violations(df, body, {"Q": q}).count()
        icl_compiler.MAX_QUANTIFIER_ROWS = None  # escape hatch
        assert violations(df, body, {"Q": q}).count() == 0  # 1 is in 0..49
    finally:
        icl_compiler.MAX_QUANTIFIER_ROWS = prev


def Fcol(name):
    from pyspark.sql import functions as F

    return F.col(name)


def test_forall_insert_into_quantifier_uses_substitution(spark, store):
    """Inserting a quantifier row that breaks a Forall is rejected; one that
    satisfies the substituted body is accepted (end-to-end cascade)."""
    db = Database(spark, "sub", store=store, snapshot_on_mutation=False)
    db.create_relation("Department", [("dept_id", "integer")])
    db.create_relation("Audit", [("dept_id", "integer")])
    db.create_relation("Employee", [("emp_id", "integer")])
    db.insert_tuples("Department", [{"dept_id": 1}])
    db.insert_tuples("Audit", [{"dept_id": 1}, {"dept_id": 2}])
    db.insert_tuples("Employee", [{"emp_id": 10}])
    # Every department must be audited (constraint sits on Employee).
    db.register_constraint(
        "all_depts_audited",
        "Employee",
        Forall("d", "Department", MemberOf("Audit", (("dept_id", Var("d.dept_id")),))),
    )
    db.insert_tuples("Department", [{"dept_id": 2}])  # audited: fine
    with pytest.raises(errors.ConstraintViolation):
        db.insert_tuples("Department", [{"dept_id": 9}])  # unaudited


@pytest.mark.parametrize("statement", ["insert_tuples", "assign", "commit"])
def test_insert_validation_launches_constant_job_count(spark, tmp_path, statement):
    """A statement's constraint checks are ONE tagged aggregation job no
    matter how many constraints it checks (a per-constraint `.count()` loop
    launches K jobs per statement — scheduler overhead, not data work, at
    100 TB ingest). Measured via job-group job ids: the statement on a
    3-constraint relation must launch exactly as many Spark jobs as on a
    1-constraint relation — immediate constraints for insert and assign,
    pending deferred constraints for commit. Each database has its own
    store: both commit the same content, and a shared store would let the
    second commit skip a write the first already made."""
    timing = DEFERRED if statement == "commit" else IMMEDIATE

    def make_db(name, n_constraints):
        store = SnapshotStore(str(tmp_path / name))
        db = Database(spark, name, store=store, snapshot_on_mutation=False)
        db.create_relation("r", [("v", "integer")])
        for i in range(n_constraints):
            db.register_constraint(
                f"c{i}", "r", Cmp("lte", Var("v"), ConstVal(100 + i)), timing=timing
            )
        return db

    def statement_of(db, v):
        """The statement to measure, after the set-up it needs."""
        if statement == "insert_tuples":
            return lambda: db.insert_tuples("r", [{"v": v}])
        if statement == "assign":
            df = spark.createDataFrame([(v,)], db.relation("r").schema)
            return lambda: db.assign("r", df)
        db.insert_tuples("r", [{"v": v}])  # marks every constraint pending
        return db.commit

    def count_jobs(group, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    db1 = make_db(f"jobs1_{statement}", 1)
    db3 = make_db(f"jobs3_{statement}", 3)
    jobs1 = count_jobs(f"grp-one-{statement}", statement_of(db1, 5))
    jobs3 = count_jobs(f"grp-three-{statement}", statement_of(db3, 5))
    assert jobs3 == jobs1, f"job count grew with constraint count: {jobs1} -> {jobs3}"
    # And violations still surface with the right constraint attribution:
    # v=101 violates only c0 (v <= 100); c1/c2 (<=101, <=102) pass.
    with pytest.raises(errors.ConstraintViolation, match="c0"):
        statement_of(db3, 101)()


def test_batched_check_falls_back_to_sequential_on_job_error(spark, store):
    """A runtime error inside ONE constraint's violations query must not
    mask a genuine violation of an earlier-ordered constraint: the batched
    tagged job fails whole, so the checker re-runs sequentially, restoring
    per-constraint attribution and error ordering."""
    from pyspark.sql import functions as F

    db = Database(spark, "fbk", store=store, snapshot_on_mutation=False)
    violated = spark.range(1).select(F.col("id").alias("v"))  # 1 row = violated
    clean = spark.range(0).select(F.col("id").alias("v"))
    # Runtime-broken query: the filter survives projection pruning and
    # assert_true fires per-row once id reaches 1.
    broken = spark.range(2).filter("assert_true(id < 1) is null").select(
        F.col("id").alias("v")
    )
    # Earlier-ordered genuine violation wins over the broken later query.
    with pytest.raises(errors.ConstraintViolation, match="c_first"):
        db._run_violation_checks(
            [("c_first", "r", "rows violate", violated),
             ("c_broken", "r", "rows violate", broken)]
        )
    # Broken-first: the broken query's own error surfaces (not a swallow,
    # not a misattributed ConstraintViolation).
    with pytest.raises(Exception) as exc:
        db._run_violation_checks(
            [("c_broken", "r", "rows violate", broken),
             ("c_clean", "r", "rows violate", clean)]
        )
    assert not isinstance(exc.value, errors.ConstraintViolation)


def test_nested_quantifier_validation_constant_jobs(spark, store):
    """Validation of a 3-quantifier constraint launches no more Spark jobs
    than a 1-quantifier one: the compiler's degenerate/pure-constant probes
    are lazy (marker semi-joins inside the tagged job) and the
    MAX_QUANTIFIER_ROWS guard count is cached per (relation, db-version),
    so nesting depth adds plan nodes, not driver jobs."""

    def make_db(name, depth):
        db = Database(spark, name, store=store, snapshot_on_mutation=False)
        db.create_relation("r", [("v", "integer")])
        db.create_relation("Q", [("qa", "integer")])
        db.insert_tuples("Q", [{"qa": 1}, {"qa": 2}])
        # Innermost body references EVERY quantified var so no level takes
        # the degenerate path — each is a real witness search over Q.
        body = None
        for i in range(depth):
            c = Cmp("lte", Var(f"q{i}.qa"), Var("v"))
            body = c if body is None else And(body, c)
        for i in reversed(range(depth)):
            body = Exists(f"q{i}", "Q", body)
        db.register_constraint("deep", "r", body)
        return db

    def count_jobs(group, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    db1 = make_db("qjobs1", 1)
    db3 = make_db("qjobs3", 3)
    jobs1 = count_jobs("grp-q1", lambda: db1.insert_tuples("r", [{"v": 5}]))
    jobs3 = count_jobs("grp-q3", lambda: db3.insert_tuples("r", [{"v": 5}]))
    assert jobs3 <= jobs1 + 1, f"jobs grew with quantifier depth: {jobs1} -> {jobs3}"
    # Semantics intact: v=0 has no witness (qa >= 1 > 0 fails lte) -> reject.
    with pytest.raises(errors.ConstraintViolation, match="deep"):
        db3.insert_tuples("r", [{"v": 0}])

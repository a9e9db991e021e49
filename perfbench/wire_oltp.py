"""wire_oltp: one closed-loop client over TCP against a server assembled by
``sakura_spark.system`` (a snapshot after every mutation).

Schema: ``dept(dno, dname)`` and ``emp(eno, ename, dno, salary)`` with an
immediate foreign key ``emp.dno -> dept`` (MemberOf) and a salary range
(the wire's spelling of Between: an And of two prelude comparisons).
Each round opens a branch (``CreateBranch``, ``Checkout``), sends the same
nine statements on it in a seeded order with seeded values, then goes back
to ``main``, deletes a tuple there and merges the branch into ``main``
(``Merge``, PreferLeft); two reads of the merged state end the round. A
client-side model of both relations predicts every response. Reads and
branch statements must not move the db hash and a rejected insert must not
either (the next read carries the hash from before it); an insert followed
by the delete of the same tuple must give back the earlier hash, and the
checkout of ``main`` the hash the branch started from.
"""

from __future__ import annotations

from common import (
    CheckFailed, Result, WireClient, check, dir_bytes, fields, p50, row_tuple, stopwatch,
    timed_rounds,
)

DEPTS = 8
EMPS = 60
SAL_LO, SAL_HI = 1000, 9999
RESULT_LIMIT = 16  # rows a relation response carries
# Statement kinds sent on a round's branch; the order is shuffled per round.
ROUND = ["ins_ok", "ins_del", "rejected", "point", "join", "scl"]
SCL_PAGE = 3


def _int(v: int) -> str:
    return f"(Int {v})"


def _emp_attrs(e: tuple) -> str:
    eno, ename, dno, sal = e
    return (f"((eno {_int(eno)}) (ename (Str {ename})) (dno {_int(dno)}) "
            f"(salary {_int(sal)}))")


def _cmp(target: str, var: str, bound: int) -> str:
    return (f"(MemberOf (target {target}) (binding ((left (Var {var})) "
            f"(right (Const {_int(bound)})))))")


SCHEMA = [
    "(ddl (CreateRelation (name dept) (schema ((dno integer) (dname string)))))",
    "(ddl (CreateRelation (name emp) (schema ((eno integer) (ename string) "
    "(dno integer) (salary integer)))))",
    "(icl (RegisterConstraint (constraint_name emp_dept_fk) (relation_name emp) "
    "(body (MemberOf (target dept) (binding ((dno (Var dno))))))))",
    "(icl (RegisterConstraint (constraint_name emp_salary_range) (relation_name emp) "
    f"(body (And ({_cmp('greater_than_or_equal', 'salary', SAL_LO)} "
    f"{_cmp('less_than_or_equal', 'salary', SAL_HI)})))))",
]
MAIN = "(dcl (CreateBranch (name main)))"


class Model:
    """The client's own copy of both relations."""

    def __init__(self, rng):
        self.rng = rng
        self.dept = {d: (d, f"d{d}") for d in range(1, DEPTS + 1)}
        self.emp: dict[int, tuple] = {}
        self.next_eno = 1
        for _ in range(EMPS):
            e = self.new_emp()
            self.emp[e[0]] = e

    def new_emp(self, dno: int | None = None, salary: int | None = None) -> tuple:
        eno = self.next_eno
        self.next_eno += 1
        dno = int(self.rng.integers(1, DEPTS + 1)) if dno is None else dno
        sal = int(self.rng.integers(SAL_LO, SAL_HI + 1)) if salary is None else salary
        return (eno, f"e{eno}", dno, sal)

    def pick(self) -> tuple:
        keys = sorted(self.emp)
        return self.emp[keys[int(self.rng.integers(0, len(keys)))]]


def seed_statements(model: Model) -> list[str]:
    depts = " ".join(f"((dno {_int(d)}) (dname (Str {n})))" for d, n in model.dept.values())
    emps = " ".join(_emp_attrs(e) for e in model.emp.values())
    return [f"(dml (InsertTuples (relation dept) (tuples ({depts}))))",
            f"(dml (InsertTuples (relation emp) (tuples ({emps}))))"]


def _rows(resp: list, attrs: list[str]) -> list[tuple]:
    return [row_tuple(r, attrs) for r in fields(resp)["rows"]]


def _as_text(rows) -> list[tuple]:
    return [tuple(str(v) for v in r) for r in rows]


class Session:
    """Generates statements from the model, sends them, and records what
    each response must be; ``verify`` compares after the timed region."""

    def __init__(self, client: WireClient, model: Model):
        self.c = client
        self.m = model
        self.pending: list[tuple[str, object, list]] = []
        self.statements = 0
        self.last_hash = None  # db hash after the last verified response
        self.branch = None
        self.round_enos: set[int] = set()  # employees when the branch opened
        self.branch_insert = None  # the employee ins_ok added on the branch

    def send(self, kind: str, stmt: str, expect) -> list:
        resp = self.c.send(kind, stmt)
        self.statements += 1
        self.pending.append((kind, expect, resp))
        return resp

    def op(self, kind: str) -> None:
        m = self.m
        if kind == "ins_ok":
            e = m.new_emp()
            m.emp[e[0]] = e
            self.branch_insert = e
            self.send("insert", f"(dml (InsertTuple (relation emp) (attributes {_emp_attrs(e)})))",
                      ("ok",))
        elif kind == "rejected":
            # A seeded choice of the constraint the tuple violates.
            if m.rng.integers(0, 2):
                e, violated = m.new_emp(dno=DEPTS + 50), "emp_dept_fk"
            else:
                e = m.new_emp(salary=SAL_HI + 1 + int(m.rng.integers(0, 1000)))
                violated = "emp_salary_range"
            self.send("insert_rejected",
                      f"(dml (InsertTuple (relation emp) (attributes {_emp_attrs(e)})))",
                      ("violation", violated))
        elif kind == "ins_del":
            # Content addressing: deleting the tuple just inserted must give
            # back the db hash from before the insert.
            e = m.new_emp()
            stmt = f"(relation emp) (attributes {_emp_attrs(e)})"
            self.send("insert", f"(dml (InsertTuple {stmt}))", ("ok",))
            self.send("delete", f"(dml (DeleteTuple {stmt}))", ("restore",))
        elif kind == "point":
            e = m.pick()
            self.point(e[0], [e])
        elif kind == "join":
            self.join(int(m.rng.integers(1, DEPTS + 1)))
        elif kind == "scl":
            # A department with more rows than one page, so Fetch finds
            # the cursor still open.
            counts = {d: 0 for d in m.dept}
            for e in m.emp.values():
                counts[e[2]] += 1
            full = [d for d in sorted(counts) if counts[d] > SCL_PAGE]
            d = full[int(m.rng.integers(0, len(full)))]
            want = _as_text([(e[0], e[3]) for e in m.emp.values() if e[2] == d])
            q = f"(Project (eno salary) (Select (Const ((dno {_int(d)}))) (Base emp)))"
            r = self.send("scl_begin", f"(scl (Begin (query {q}) (limit {SCL_PAGE})))",
                          ("cursor", want, 0))
            cid = fields(r).get("id", "missing")
            self.send("scl_fetch", f"(scl (Fetch (cursor {cid}) (limit {SCL_PAGE})))",
                      ("cursor", want, SCL_PAGE))
            self.send("scl_close", f"(scl (Close (cursor {cid})))", ("ok",))
        else:
            raise ValueError(kind)

    def point(self, eno: int, want: list[tuple]) -> None:
        self.send("point_query", f"(drl (Select (Const ((eno {_int(eno)}))) (Base emp)))",
                  ("rows", ["dno", "eno", "ename", "salary"],
                   _as_text([(e[2], e[0], e[1], e[3]) for e in want])))

    def join(self, d: int) -> None:
        want = [(e[1], self.m.dept[d][1]) for e in self.m.emp.values() if e[2] == d]
        self.send("join_query",
                  f"(drl (Project (ename dname) (Join (dno) (Select (Const ((dno {_int(d)}))) "
                  f"(Base emp)) (Base dept))))",
                  ("rows", ["ename", "dname"], _as_text(want)))

    def branch_out(self, name: str) -> None:
        """Open branch ``name`` at main's state and make it HEAD."""
        self.send("create_branch", f"(dcl (CreateBranch (name {name})))", ("same",))
        self.send("checkout", f"(dcl (Checkout {name}))", ("same",))
        self.branch, self.branch_insert = name, None
        self.round_enos = set(self.m.emp)

    def merge_back(self) -> None:
        """Back on main: delete an employee the branch did not touch, merge
        the branch in, then read both sides' changes."""
        m = self.m
        self.send("checkout", "(dcl (Checkout main))", ("branch_base",))
        keys = sorted(self.round_enos & set(m.emp))
        e = m.emp.pop(keys[int(m.rng.integers(0, len(keys)))])
        self.send("delete", f"(dml (DeleteTuple (relation emp) (attributes {_emp_attrs(e)})))",
                  ("ok",))
        # The merged state differs from main's only if the branch changed it.
        self.send("merge", f"(dcl (Merge (left main) (right {self.branch}) "
                           "(strategy PreferLeft)))",
                  ("ok",) if self.branch_insert else ("same",))
        self.point(e[0], [])
        self.join((self.branch_insert or e)[2])

    def verify(self) -> tuple[int, list[str]]:
        """Check every recorded response; returns (number checked, the
        mismatches)."""
        prev_hash, before_insert, branch_base = self.last_hash, None, None
        problems = []
        for kind, expect, resp in self.pending:
            h = fields(resp).get("db_hash") if resp[0] != "error" else None
            if kind == "insert":
                before_insert = prev_hash
            elif kind == "create_branch":
                branch_base = prev_hash
            try:
                if expect[0] == "restore" and before_insert is not None:
                    check(h == before_insert, "insert then delete did not restore db_hash")
                if expect[0] == "branch_base":
                    check(h == branch_base, "checkout of main did not give back the hash "
                                            "the branch started from")
                self._check(kind, expect, resp, prev_hash)
            except CheckFailed as e:
                problems.append(str(e))
            prev_hash = h or prev_hash
        n = len(self.pending)
        self.pending.clear()
        self.last_hash = prev_hash
        return n, problems

    @staticmethod
    def _check(kind: str, expect, resp: list, prev_hash) -> None:
        """Check one response against its expectation; ``prev_hash`` is the
        db hash before it."""
        tag = resp[0]
        f = fields(resp)
        if expect[0] == "violation":
            check(tag == "error" and resp[1][0] == "constraint-violation"
                  and expect[1] in str(resp[1]),
                  f"{kind}: expected {expect[1]} violation, got {resp}")
            return
        check(tag != "error", f"{kind}: unexpected error {resp}")
        h = f.get("db_hash")
        if kind in ("insert", "delete") or expect == ("ok",) and kind == "merge":
            check(tag == "ok" and h != prev_hash, f"{kind}: db_hash did not move: {resp}")
        elif prev_hash is not None and expect[0] != "branch_base":
            check(h == prev_hash, f"{kind}: a read moved db_hash")
        if expect[0] == "rows":
            _, attrs, want = expect
            got = _rows(resp, attrs)
            n = len(want)
            check(int(f["row_count"]) == min(n, RESULT_LIMIT) == len(got),
                  f"{kind}: row_count {f['row_count']} for {n} expected rows")
            check(f["truncated"] == ("true" if n >= RESULT_LIMIT else "false"),
                  f"{kind}: truncated flag {f['truncated']} for {n} rows")
            if n < RESULT_LIMIT:
                check(sorted(got) == sorted(want), f"{kind}: rows {got} != {want}")
            else:
                check(set(got) <= set(want), f"{kind}: rows outside the relation")
        elif expect[0] == "cursor":
            _, want, offset = expect
            got = _rows(resp, ["eno", "salary"])
            page = want[offset:offset + SCL_PAGE]
            check(len(got) == len(page) and set(got) <= set(want),
                  f"{kind}: cursor page {got} not {len(page)} rows of {want}")


def run(ctx) -> Result:
    from sakura_spark import system

    store_root = ctx.path("store")
    cfg = ctx.path("server.sexp")
    with open(cfg, "w") as fh:
        fh.write(f'(server (storage (directory (path "{store_root}"))) '
                 '(transport (tcp (address 127.0.0.1) (port 0))))')

    # Set-up: assemble the server, create the schema, seed the data.
    elapsed = stopwatch()
    frontend, server = system.assemble(system.load_config(cfg, ["storage", "transport"]),
                                       spark=ctx.spark)
    frontend.start()
    client = WireClient(frontend.port, ctx.rec)
    problems: list[str] = []
    try:
        model = Model(ctx.rng(1))
        sess = Session(client, model)
        for stmt in SCHEMA + seed_statements(model) + [MAIN]:
            r = client.send("setup", stmt)
            if r[0] == "error":
                raise CheckFailed(f"set-up statement failed: {r}")
        sess.last_hash = fields(r)["db_hash"]
        setup_s, setup_cpu_s = elapsed()

        # Warm-up outside the timed region: a branch merged back, with the
        # delete on main and the two reads (the seed inserts above ran the
        # insert path and its constraint checks), verified like the rest.
        sess.branch_out("warm_up")
        sess.merge_back()
        problems += sess.verify()[1]
        client.latencies.clear()
        if ctx.rec is not None:
            ctx.rec.store_roots.append(store_root)

        order_rng = ctx.rng(2)

        def one_round(i: int) -> int:
            before = sess.statements
            sess.branch_out(f"b{i}")
            for kind in order_rng.permutation(ROUND):
                sess.op(kind)
            sess.merge_back()
            return sess.statements - before

        bytes0 = dir_bytes(store_root)
        rounds, cpu, ops, timed_s = timed_rounds(ctx, one_round)
        bytes_written = dir_bytes(store_root) - bytes0
        checked, wrong = sess.verify()
    finally:
        client.close()
        frontend.stop()

    lat = client.latencies
    ctx.report.update({
        "oltp_stmts_per_s": (ops / timed_s, "1/s"),
        "oltp_insert_p50_s": (p50(lat.get("insert", [])), "s"),
        "oltp_insert_rejected_p50_s": (p50(lat.get("insert_rejected", [])), "s"),
        "oltp_delete_p50_s": (p50(lat.get("delete", [])), "s"),
        "oltp_point_query_p50_s": (p50(lat.get("point_query", [])), "s"),
        "oltp_join_query_p50_s": (p50(lat.get("join_query", [])), "s"),
        "oltp_scl_begin_p50_s": (p50(lat.get("scl_begin", [])), "s"),
        "oltp_merge_p50_s": (p50(lat.get("merge", [])), "s"),
        "store_mb": (dir_bytes(store_root) / 1e6, "MB"),
        "responses_checked": (checked, "count"),
    })
    ctx.layer["store.bytes_written"] = bytes_written / max(1, len(rounds))
    return Result(attempted=ops, failed=len(wrong), problems=problems + wrong,
                  round_s=rounds, round_cpu_s=cpu, setup_s=setup_s,
                  setup_cpu_s=setup_cpu_s, timed_s=timed_s)

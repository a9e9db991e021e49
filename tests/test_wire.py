"""Wire-protocol round trips — the reference's own ddl:/dml:/icl:/dcl:
parse+execute tests re-expressed against the Server dispatcher."""

import pytest

from sakura_spark import errors
from sakura_spark.wire import ParseError, Server


@pytest.fixture()
def server(spark, store):
    """Snapshot-off server: wire syntax/dispatch tests don't need
    per-mutation versioning (hash churn dominates their runtime)."""
    return Server(spark, "shop", store=store, snapshot_on_mutation=False)


@pytest.fixture()
def vserver(spark, store):
    """Versioned server (per-mutation snapshots) for DCL/CAS tests that
    observe the db hash advancing."""
    return Server(spark, "shop", store=store, snapshot_on_mutation=True)


def test_ddl_create_insert_query(server):
    server.execute('(ddl (CreateRelation (name "users") (schema (("name" "string") ("age" "natural")))))')
    server.execute('(dml (InsertTuple (relation "users") (attributes (("name" (Str "Alice")) ("age" (Int 30))))))')
    server.execute(
        '(dml (InsertTuples (relation "users") (tuples ('
        '(("name" (Str "Bob")) ("age" (Int 25))) '
        '(("name" (Str "Cara")) ("age" (Int 41)))))))'
    )
    out = server.execute('(drl (Base "users"))')
    assert len(out["rows"]) == 3 and not out["truncated"]
    assert set(out["schema"]) == {"name", "age"}


def test_drl_response_truncates_at_16(server, spark):
    server.execute('(ddl (CreateRelation (name "nums") (schema (("n" "integer")))))')
    rows = " ".join(f'((\"n\" (Int {i})))' for i in range(20))
    server.execute(f'(dml (InsertTuples (relation "nums") (tuples ({rows}))))')
    out = server.execute('(drl (Base "nums"))')
    assert len(out["rows"]) == 16 and out["truncated"]  # lib/listener.ml:64


def test_dml_delete_and_assign(server):
    server.execute('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    server.execute('(dml (InsertTuples (relation "t") (tuples ((("v" (Int 1))) (("v" (Int 2)))))))')
    server.execute('(dml (DeleteTuple (relation "t") (attributes (("v" (Int 1))))))')
    out = server.execute('(drl (Base "t"))')
    assert out["rows"] == [[2]]
    # Assign: overwrite t with a projection of itself unioned with itself
    server.execute('(dml (Assign (target "t") (body (Union (Base "t") (Base "t")))))')
    out = server.execute('(drl (Base "t"))')
    assert out["rows"] == [[2]]  # set semantics collapse the bag union


def test_dml_binds_attributes_by_name(server):
    """A tuple's attributes bind by name, not by the order the statement
    lists them in: with two string attributes a positional bind would
    silently swap the values."""
    server.execute('(ddl (CreateRelation (name "people") (schema (("first" "string") ("last" "string")))))')
    server.execute('(dml (InsertTuple (relation "people") (attributes (("last" (Str "Lovelace")) ("first" (Str "Ada"))))))')
    server.execute('(dml (InsertTuple (relation "people") (attributes (("first" (Str "Alan")) ("last" (Str "Turing"))))))')
    out = server.execute('(drl (Base "people"))')
    assert out["schema"] == ["first", "last"]
    assert sorted(out["rows"]) == [["Ada", "Lovelace"], ["Alan", "Turing"]]
    server.execute('(dml (DeleteTuple (relation "people") (attributes (("last" (Str "Lovelace")) ("first" (Str "Ada"))))))')
    assert server.execute('(drl (Base "people"))')["rows"] == [["Alan", "Turing"]]


def test_icl_fk_through_wire(server):
    server.execute('(ddl (CreateRelation (name "Department") (schema (("dept_id" "integer")))))')
    server.execute('(ddl (CreateRelation (name "Employee") (schema (("emp_id" "integer") ("dept_id" "integer")))))')
    server.execute('(dml (InsertTuple (relation "Department") (attributes (("dept_id" (Int 1))))))')
    server.execute(
        '(icl (RegisterConstraint (constraint_name "fk") (relation_name "Employee") '
        '(body (MemberOf (target "Department") (binding (("dept_id" (Var "dept_id"))))))))'
    )
    server.execute('(dml (InsertTuple (relation "Employee") (attributes (("emp_id" (Int 10)) ("dept_id" (Int 1))))))')
    with pytest.raises(errors.ConstraintViolation):
        server.execute('(dml (InsertTuple (relation "Employee") (attributes (("emp_id" (Int 11)) ("dept_id" (Int 9))))))')
    cat = server.execute('(drl (Base "sakura:constraint"))')
    assert ["fk", "Employee"] in cat["rows"]


def test_dcl_branch_head_follows(vserver):
    server = vserver
    server.execute('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    server.execute('(dcl (CreateBranch (name "main")))')
    h0 = server.execute("(dcl (GetHead))")
    assert h0["head"] == "main"
    server.execute('(dml (InsertTuple (relation "t") (attributes (("v" (Int 1))))))')
    tip = server.execute('(dcl (GetBranchTip "main"))')["tip"]
    assert tip == server.db.hash  # HEAD advanced with the mutation


def test_dcl_branch_merge_workflow(vserver):
    server = vserver
    server.execute('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    server.execute('(dml (InsertTuple (relation "t") (attributes (("v" (Int 1))))))')
    server.execute('(dcl (CreateBranch (name "main")))')
    server.execute('(dcl (CreateBranch (name "feature")))')
    server.execute('(dcl (Checkout "feature"))')
    server.execute('(dml (InsertTuple (relation "t") (attributes (("v" (Int 5))))))')
    server.execute('(dcl (Checkout "main"))')
    out = server.execute('(dcl (Merge (left "main") (right "feature") (strategy PreferLeft)))')
    assert out["conflicts"] == []
    rows = server.execute('(drl (Base "t"))')["rows"]
    assert sorted(v for (v,) in [tuple(r) for r in rows]) == [1, 5]


def test_scl_cursor_wire(server):
    server.execute('(ddl (CreateRelation (name "nums") (schema (("n" "integer")))))')
    rows = " ".join(f'((\"n\" (Int {i})))' for i in range(7))
    server.execute(f'(dml (InsertTuples (relation "nums") (tuples ({rows}))))')
    out = server.execute('(scl (Begin (query (Base "nums")) (limit 3)))')
    assert len(out["rows"]) == 3
    # Cursor response carries the reference's serialize fields
    # (lib/listener.ml Ok Cursor): row_count, has_more, db_name, branch.
    assert out["row_count"] == 3 and out["has_more"] is True
    assert out["db_name"] == "shop" and out["branch"] == "--"
    cid = out["cursor"]
    out2 = server.execute(f'(scl (Fetch (cursor "{cid}") (limit 10)))')
    assert len(out2["rows"]) == 4  # exhausted
    assert out2["row_count"] == 4 and out2["has_more"] is False
    server.execute(f'(scl (Close (cursor "{cid}")))')


def test_query_response_serialize_fields(server):
    """Query responses carry row_count/db_name/branch like the reference's
    serialize (lib/listener.ml:111-123)."""
    server.execute('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    server.execute('(dml (InsertTuple (relation "t") (attributes (("v" (Int 1))))))')
    out = server.execute('(drl (Base "t"))')
    assert out["row_count"] == 1 and out["db_name"] == "shop" and out["branch"] == "--"


def test_unknown_tag_and_bad_sexp(server):
    with pytest.raises(errors.UnrecognizedSublanguage):
        server.execute("(tcl (Whatever))")
    with pytest.raises(ParseError):
        server.execute("(drl (Base ")
    with pytest.raises(errors.MalformedExpression):
        server.execute('"just-an-atom"')


def test_register_domain_wire(server):
    server.execute('(ddl (RegisterDomain (name "color") (cardinality ConstrainedFinite)))')
    server.execute('(ddl (CreateRelation (name "paint") (schema (("c" "color")))))')
    server.execute('(dml (InsertTuple (relation "paint") (attributes (("c" (Str "red"))))))')
    assert server.execute('(drl (Base "paint"))')["rows"] == [["red"]]


def test_tcp_concurrent_writers_serialize(spark, store):
    """Two socket clients hammer inserts concurrently; the server lock
    serializes commands (one OCaml domain per connection + atomic head in
    the reference), so every row lands exactly once and nothing is lost."""
    import socket as pysocket
    import threading

    from sakura_spark.wire import TcpFrontend

    server = Server(spark, "conc", store=store, snapshot_on_mutation=False)
    server.execute('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    with TcpFrontend(server) as fe:
        errors_seen = []

        def writer(base: int):
            try:
                c = pysocket.create_connection((fe.host, fe.port), timeout=60)
                f = c.makefile("rw", encoding="utf-8")
                for i in range(5):
                    f.write(
                        f'(dml (InsertTuple (relation "t") (attributes (("v" (Int {base + i}))))))'
                    )
                    f.flush()
                    resp = f.readline().strip()
                    if not resp.startswith("(ok (message "):
                        errors_seen.append(resp)
                c.close()
            except Exception as exc:  # noqa: BLE001
                errors_seen.append(repr(exc))

        threads = [threading.Thread(target=writer, args=(b,)) for b in (0, 100)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not errors_seen, errors_seen
        rows = server.execute('(drl (Base "t"))')
        assert rows["row_count"] == 10


def test_tcp_cas_soak_16_writers(spark, store):
    """The reference's optimistic-CAS contract under real contention
    (lib/listener.ml:53-59): 16 concurrent TCP writers each perform
    atomic read-modify-write increments of ONE shared counter through the
    in-band (cas <hash> ...) envelope, retrying on Conflict by re-reading
    the head. Serializable outcome: the final counter equals the total
    number of successful increments — a single lost update (an Assign
    applied against a stale read) would leave it short, because Assign is
    a blind overwrite and only the CAS pin makes read-modify-write
    atomic."""
    import socket as pysocket
    import threading

    from sakura_spark.drl.parser import _atom_str, read_sexp
    from sakura_spark.wire import TcpFrontend

    server = Server(spark, "soak", store=store, snapshot_on_mutation=True)
    server.execute('(ddl (CreateRelation (name "counter") (schema (("v" "integer")))))')
    server.execute('(dml (InsertTuple (relation "counter") (attributes (("v" (Int 0))))))')

    # One increment per writer keeps the soak ~1 min: every success
    # invalidates every other in-flight pin (whole-db CAS, like the
    # reference's single head cell), so attempts grow quadratically in
    # concurrent writers — 16 writers already produce ~100+ conflicts.
    N_WRITERS, INCREMENTS, MAX_ATTEMPTS = 16, 1, 200
    failures: list[str] = []

    with TcpFrontend(server) as fe:

        def writer(wid: int) -> None:
            try:
                c = pysocket.create_connection((fe.host, fe.port), timeout=300)

                def command(cmd: str):
                    c.sendall(cmd.encode())
                    chunks = b""
                    while not chunks.endswith(b"\n"):
                        d = c.recv(65536)
                        if not d:
                            raise ConnectionError("server closed connection")
                        chunks += d
                    # Listener shape: (tag payload...) — (ok ...)/(relation
                    # ...) carry (field value) pairs, (error (<variant> ..)).
                    # NOTE: read_sexp keeps a leading '"' sentinel on quoted
                    # atoms (how _atom_str tells "true" from true) — strip
                    # via _atom_str before re-embedding any value in a
                    # command, or the un-balanced quote would stall the
                    # server's stream framing mid-string.
                    parsed = read_sexp(chunks.decode().strip())
                    return parsed[0], parsed[1:]

                done = attempts = 0
                while done < INCREMENTS:
                    attempts += 1
                    if attempts > MAX_ATTEMPTS:
                        failures.append(f"writer {wid}: starved after {attempts} attempts")
                        return
                    tag, payload = command('(drl (Base "counter"))')
                    fields = {p[0]: p[1] for p in payload}
                    # rows are attribute-pair tuples: (((v 0))) — take the
                    # value of the single (v N) pair of the single row.
                    v = int(fields["rows"][0][0][1])
                    head = _atom_str(fields["db_hash"])
                    tag, payload = command(
                        f'(cas {head} (dml (Assign (target "counter") '
                        f'(body (Const (("v" (Int {v + 1}))))))))'
                    )
                    if tag == "ok":
                        done += 1
                    elif not (tag == "error" and payload[0][0] == "conflict"):
                        failures.append(f"writer {wid}: {tag} {payload}")
                        return
                c.close()
            except Exception as exc:  # noqa: BLE001
                failures.append(f"writer {wid}: {exc!r}")

        threads = [
            threading.Thread(target=writer, args=(w,)) for w in range(N_WRITERS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads), "writer thread hung"

    assert not failures, failures
    out = server.execute('(drl (Base "counter"))')
    assert out["rows"] == [[N_WRITERS * INCREMENTS]]


def test_cas_conflict_two_interleaved_writers(vserver):
    """lib/listener.ml:53-59: two writers read the same head; the first CAS
    wins, the second writer's mutation is rejected with Conflict and applies
    nothing; retrying against the fresh head succeeds."""
    server = vserver
    server.execute('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    base = server.db.hash  # both writers observe this head
    server.execute(
        '(dml (InsertTuple (relation "t") (attributes (("v" (Int 1))))))', base_hash=base
    )
    h1 = server.db.hash
    assert h1 != base
    with pytest.raises(errors.Conflict):
        server.execute(
            '(dml (InsertTuple (relation "t") (attributes (("v" (Int 2))))))', base_hash=base
        )
    # Nothing applied by the conflicted command.
    assert server.db.hash == h1
    assert server.execute('(drl (Base "t"))')["rows"] == [[1]]
    # Retry with the current head (the reference client's re-read) succeeds.
    server.execute(
        '(dml (InsertTuple (relation "t") (attributes (("v" (Int 2))))))', base_hash=h1
    )
    rows = server.execute('(drl (Base "t"))')["rows"]
    assert sorted(v for (v,) in [tuple(r) for r in rows]) == [1, 2]


def test_cas_reads_never_conflict(vserver):
    server = vserver
    server.execute('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    stale = server.db.hash
    server.execute('(dml (InsertTuple (relation "t") (attributes (("v" (Int 1))))))')
    # A read with a stale base is fine (only Transitions CAS in the reference).
    out = server.execute('(drl (Base "t"))', base_hash=stale)
    assert out["rows"] == [[1]]


def test_conflict_renders_as_error_sexp(vserver):
    server = vserver
    server.execute('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    base = server.db.hash
    server.execute('(dml (InsertTuple (relation "t") (attributes (("v" (Int 1))))))')
    resp = server.execute_sexp(
        '(dml (InsertTuple (relation "t") (attributes (("v" (Int 2))))))', base_hash=base
    )
    assert resp.startswith("(error (conflict (old-hash")
    assert "(new-hash" in resp


def test_tcp_frontend_roundtrip(spark, store):
    """lib/transport.ml parity: socket in, newline-terminated sexp out,
    multiple commands per connection, pipelined in one send. Snapshot-off
    server: transport framing doesn't exercise versioning."""
    import socket as pysocket

    from sakura_spark.wire import TcpFrontend

    server = Server(spark, "tcp", store=store, snapshot_on_mutation=False)
    with TcpFrontend(server) as fe:
        c = pysocket.create_connection((fe.host, fe.port), timeout=30)
        c.settimeout(30)
        f = c.makefile("rw", encoding="utf-8")

        def send(cmd):
            f.write(cmd)
            f.flush()
            return f.readline().strip()

        r1 = send('(ddl (CreateRelation (name "users") (schema (("name" "string")))))')
        assert r1.startswith("(ok (message ")
        # Two commands pipelined in one write -> two responses.
        f.write(
            '(dml (InsertTuple (relation "users") (attributes (("name" (Str "Ada"))))))'
            '(drl (Base "users"))'
        )
        f.flush()
        r2, r3 = f.readline().strip(), f.readline().strip()
        assert r2.startswith("(ok (message ")
        assert "(name Ada)" in r3 and "(truncated false)" in r3
        # Errors come back as (error ...) without killing the connection.
        r4 = send("(tcl (Nope))")
        assert r4.startswith("(error (unrecognized-sublanguage (tag tcl)")
        r5 = send('(drl (Base "users"))')
        assert "(name Ada)" in r5
        # Multi-byte UTF-8 split across send boundaries must reassemble.
        cmd = '(dml (InsertTuple (relation "users") (attributes (("name" (Str "Zoë"))))))'
        raw = cmd.encode("utf-8")
        split = raw.index("ë".encode("utf-8")) + 1  # mid-codepoint
        c.sendall(raw[:split])
        c.sendall(raw[split:])
        assert f.readline().strip().startswith("(ok (message ")
        r6 = send('(drl (Base "users"))')
        assert "Zoë" in r6
        c.close()


def test_internal_error_serializes_as_response(server, monkeypatch):
    """A non-Sakura exception (Py4J/AnalysisException, bugs) must render as
    (error (InternalError ...)) instead of escaping — an escape kills the
    connection thread and leaves the TCP client hanging forever."""

    def boom(text, base_hash=None):
        raise RuntimeError("executor blew up (quote \" and paren ))")

    monkeypatch.setattr(server, "execute", boom)
    resp = server.execute_sexp('(drl (Base "users"))')
    assert resp.startswith("(error (InternalError")
    assert "RuntimeError" in resp


def test_tcp_survives_internal_error(spark, store, monkeypatch):
    """Connection stays usable after an internal failure mid-session."""
    import socket as pysocket

    from sakura_spark.wire import TcpFrontend

    server = Server(spark, "ierr", store=store, snapshot_on_mutation=False)
    real_execute = server.execute
    calls = {"n": 0}

    def flaky(text, base_hash=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise ValueError("transient internal failure")
        return real_execute(text, base_hash=base_hash)

    monkeypatch.setattr(server, "execute", flaky)
    with TcpFrontend(server) as fe:
        c = pysocket.create_connection((fe.host, fe.port), timeout=30)
        c.settimeout(30)
        f = c.makefile("rw", encoding="utf-8")

        def send(cmd):
            f.write(cmd)
            f.flush()
            return f.readline().strip()

        assert send(
            '(ddl (CreateRelation (name "t") (schema (("x" "integer")))))'
        ).startswith("(ok (message ")
        assert send('(drl (Base "t"))').startswith("(error (InternalError")
        assert send('(drl (Base "t"))').startswith("(relation (name ")
        c.close()
        # Handler threads are pruned once connections finish.
        c2 = pysocket.create_connection((fe.host, fe.port), timeout=30)
        c2.close()
        import time

        deadline = time.time() + 10
        while time.time() < deadline and len(fe._threads) > 2:
            time.sleep(0.1)
        assert len(fe._threads) <= 2


def test_tcp_stop_wakes_blocked_threads():
    """stop() returns at once with a client still connected: the accept
    thread and the idle handler (blocked in recv) are woken, not left to
    run out their 5 s join timeouts."""
    import socket as pysocket
    import time

    from sakura_spark.wire import TcpFrontend

    fe = TcpFrontend(server=None).start()  # no command is ever sent
    c = pysocket.create_connection((fe.host, fe.port), timeout=30)
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and not fe._conns:
        time.sleep(0.05)
    assert fe._conns, "connection was never accepted"
    t0 = time.monotonic()
    fe.stop()
    elapsed = time.monotonic() - t0
    c.close()
    assert elapsed < 4, f"stop() took {elapsed:.1f} s"
    assert not fe._accept_thread.is_alive()
    assert not any(t.is_alive() for t in fe._threads)


def test_unix_socket_frontend_roundtrip(spark, store, tmp_path):
    """lib/transport.ml:23-29 parity: the transport accepts a `(path ...)`
    AF_UNIX socket as an alternative to `(address port)`. Same framing as
    TCP: sexp in, newline-terminated sexp out, errors don't kill the
    connection; the socket file is removed on stop."""
    import socket as pysocket

    from sakura_spark.wire import TcpFrontend

    sock_path = str(tmp_path / "sakura.sock")
    server = Server(spark, "unixsock", store=store, snapshot_on_mutation=False)
    with TcpFrontend(server, path=sock_path) as fe:
        assert fe.host is None and fe.port is None and fe.path == sock_path
        c = pysocket.socket(pysocket.AF_UNIX, pysocket.SOCK_STREAM)
        c.settimeout(30)
        c.connect(sock_path)
        f = c.makefile("rw", encoding="utf-8")

        def send(cmd):
            f.write(cmd)
            f.flush()
            return f.readline().strip()

        r1 = send('(ddl (CreateRelation (name "users") (schema (("name" "string")))))')
        assert r1.startswith("(ok (message ")
        r2 = send('(dml (InsertTuple (relation "users") (attributes (("name" (Str "Ada"))))))')
        assert r2.startswith("(ok (message ")
        r3 = send('(drl (Base "users"))')
        assert "(name Ada)" in r3 and "(truncated false)" in r3
        r4 = send("(tcl (Nope))")
        assert r4.startswith("(error (unrecognized-sublanguage (tag tcl)")
        c.close()
    import os as _os

    assert not _os.path.exists(sock_path)  # unlinked on stop


def test_unix_socket_recovers_from_stale_socket_file(spark, store, tmp_path):
    """A socket file left behind by a crashed prior run (no clean stop, so
    no unlink) must not wedge the next start with EADDRINUSE: bind removes
    a stale path iff it is a socket. A regular file at the path is NOT
    deleted — that's a configuration error, surfaced as the bind failure."""
    import socket as pysocket

    from sakura_spark.wire import TcpFrontend

    sock_path = str(tmp_path / "stale.sock")
    # Simulate the crash: bind a socket, then drop it without unlinking.
    dead = pysocket.socket(pysocket.AF_UNIX, pysocket.SOCK_STREAM)
    dead.bind(sock_path)
    dead.close()  # file persists; no listener behind it
    import os as _os

    assert _os.path.exists(sock_path)
    server = Server(spark, "unixstale", store=store, snapshot_on_mutation=False)
    with TcpFrontend(server, path=sock_path) as fe:
        c = pysocket.socket(pysocket.AF_UNIX, pysocket.SOCK_STREAM)
        c.settimeout(30)
        c.connect(sock_path)
        f = c.makefile("rw", encoding="utf-8")
        f.write('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
        f.flush()
        assert f.readline().startswith("(ok (message ")
        c.close()
    # A non-socket file at the path is preserved and bind fails loudly.
    plain = tmp_path / "notasock"
    plain.write_text("precious")
    with pytest.raises(OSError):
        TcpFrontend(server, path=str(plain))
    assert plain.read_text() == "precious"


def test_unix_socket_rejects_mixed_address_and_path(spark, store, tmp_path):
    """transport.ml:38: (address+port) and (path) are mutually exclusive."""
    import pytest as _pytest

    from sakura_spark.wire import TcpFrontend

    server = Server(spark, "unixmix", store=store, snapshot_on_mutation=False)
    with _pytest.raises(ValueError, match="not both"):
        TcpFrontend(server, host="127.0.0.1", path=str(tmp_path / "s.sock"))


# --- lib/error.ml:17-33 error-atom conformance --------------------------------
# The reference listener serializes every failure as
# (error (<kebab-variant> (field value) ...)) — the single-List wrap of
# lib/listener.ml:98. Each test below mirrors a
# case from the reference's own corpus (test/test_relational_engine.ml) and
# pins our wire to the same variant atom + field spelling.


def test_error_atom_relation_not_found(server):
    """test/test_relational_engine.ml:2947 'dml: insert into nonexistent
    relation returns error' — RelationNotFound serializes as
    (relation-not-found (relation <name>)) per lib/error.ml:23."""
    r = server.execute_sexp(
        '(dml (InsertTuple (relation "ghost") (attributes (("x" (Int 1))))))'
    )
    assert r.startswith("(error (relation-not-found (relation ghost)")


def test_error_atom_relation_already_exists(server):
    """test/test_relational_engine.ml:251 'manipulation: create relation
    already exists' — lib/error.ml:24 spelling."""
    server.execute('(ddl (CreateRelation (name "dup") (schema (("x" "integer")))))')
    r = server.execute_sexp(
        '(ddl (CreateRelation (name "dup") (schema (("x" "integer")))))'
    )
    assert r.startswith("(error (relation-already-exists (relation dup)")


def test_error_atom_duplicate_tuple(server):
    """test/test_relational_engine.ml:523 'manipulation: duplicate tuple
    rejected' — lib/error.ml:26 (duplicate-tuple (hash ...)) spelling."""
    server.execute('(ddl (CreateRelation (name "s") (schema (("x" "integer")))))')
    server.execute('(dml (InsertTuple (relation "s") (attributes (("x" (Int 1))))))')
    r = server.execute_sexp(
        '(dml (InsertTuple (relation "s") (attributes (("x" (Int 1))))))'
    )
    assert r.startswith("(error (duplicate-tuple (hash ")


def test_error_atom_constraint_violation(server):
    """test/test_relational_engine.ml:2058 'constraint: create_tuple with
    failing constraint' — lib/error.ml:27 spelling, through the full wire
    path (register constraint + violating insert)."""
    server.execute('(ddl (CreateRelation (name "Dept") (schema (("d" "integer")))))')
    server.execute(
        '(ddl (CreateRelation (name "Emp") (schema (("e" "integer") ("d" "integer")))))'
    )
    server.execute(
        '(icl (RegisterConstraint (constraint_name "fk") (relation_name "Emp") '
        '(body (MemberOf (target "Dept") (binding (("d" (Var "d"))))))))'
    )
    r = server.execute_sexp(
        '(dml (InsertTuple (relation "Emp") (attributes (("e" (Int 1)) ("d" (Int 9))))))'
    )
    assert r.startswith("(error (constraint-violation (message ")
    assert "fk" in r


def test_error_atom_unrecognized_and_malformed_and_syntax(server):
    """lib/error.ml:29-31 + lib/listener.ml:44-45: unknown envelope tag ->
    (unrecognized-sublanguage (tag ...)); a top-level non-(tag statement)
    sexp -> (malformed-expression (expression ...)); unparseable text ->
    (syntax-error (message ...))."""
    r = server.execute_sexp("(tcl (Whatever))")
    assert r.startswith("(error (unrecognized-sublanguage (tag tcl)")
    r = server.execute_sexp('"just-an-atom"')
    assert r.startswith("(error (malformed-expression (expression ")
    r = server.execute_sexp("(drl (Base ")
    assert r.startswith("(error (syntax-error (message ")


def test_icl_and_constraint_wire_roundtrip(server):
    """test/test_relational_engine.ml:2980 'dcl: round-trip And constraint'
    (valid_range: 0 <= score <= 100 as And of two MemberOf comparisons) —
    the same n-ary And wire spelling parses, registers, and enforces."""
    server.execute('(ddl (CreateRelation (name "scores") (schema (("score" "integer")))))')
    server.execute(
        '(icl (RegisterConstraint (constraint_name "valid_range") (relation_name "scores") '
        '(body (And ('
        '(MemberOf (target "greater_than_or_equal") (binding (("left" (Var "score")) ("right" (Const (Int 0)))))) '
        '(MemberOf (target "less_than_or_equal") (binding (("left" (Var "score")) ("right" (Const (Int 100)))))))))))'
    )
    server.execute('(dml (InsertTuple (relation "scores") (attributes (("score" (Int 50))))))')
    with pytest.raises(errors.ConstraintViolation):
        server.execute('(dml (InsertTuple (relation "scores") (attributes (("score" (Int 101))))))')
    with pytest.raises(errors.ConstraintViolation):
        server.execute('(dml (InsertTuple (relation "scores") (attributes (("score" (Int -1))))))')
    assert server.execute('(drl (Base "scores"))')["rows"] == [[50]]


def test_icl_not_constraint_wire_roundtrip(server):
    """test/test_relational_engine.ml:3014 'dcl: round-trip Not constraint'
    (open_ticket must not appear in closed_ticket) — the Not wire spelling
    with its universe field parses, registers, and enforces."""
    server.execute('(ddl (CreateRelation (name "closed_ticket") (schema (("ticket_id" "integer")))))')
    server.execute('(ddl (CreateRelation (name "open_ticket") (schema (("ticket_id" "integer")))))')
    server.execute('(dml (InsertTuple (relation "closed_ticket") (attributes (("ticket_id" (Int 7))))))')
    server.execute(
        '(icl (RegisterConstraint (constraint_name "not_closed") (relation_name "open_ticket") '
        '(body (Not (body (MemberOf (target "closed_ticket") '
        '(binding (("ticket_id" (Var "ticket_id")))))) (universe "open_ticket")))))'
    )
    server.execute('(dml (InsertTuple (relation "open_ticket") (attributes (("ticket_id" (Int 1))))))')
    with pytest.raises(errors.ConstraintViolation):
        server.execute('(dml (InsertTuple (relation "open_ticket") (attributes (("ticket_id" (Int 7))))))')
    assert server.execute('(drl (Base "open_ticket"))')["rows"] == [[1]]


def test_nway_suite_in_tall_building_wire(server):
    """docs/n-way-binding.org ported end-to-end through the wire: the
    3-wise suite_in_tall_building constraint — nested Exists with
    namespaced cross-scope vars (r.building_id, b.floors) — plus the
    composed binary FKs, and the doc's 3-way DRL join. Tower A has 10
    floors (suites accepted); Tower B has 2 (suite rejected)."""
    server.execute(
        '(ddl (CreateRelation (name "Building") (schema (("building_id" "integer") '
        '("building_name" "string") ("floors" "integer")))))'
    )
    server.execute(
        '(ddl (CreateRelation (name "Room") (schema (("room_id" "integer") '
        '("building_id" "integer") ("floor" "integer") ("room_number" "string")))))'
    )
    server.execute(
        '(ddl (CreateRelation (name "Suite") (schema (("suite_id" "integer") '
        '("room_id" "integer") ("suite_name" "string") ("capacity" "integer")))))'
    )
    server.execute(
        '(dml (InsertTuples (relation "Building") (tuples ('
        '(("building_id" (Int 1)) ("building_name" (Str "Tower A")) ("floors" (Int 10))) '
        '(("building_id" (Int 2)) ("building_name" (Str "Tower B")) ("floors" (Int 2)))))))'
    )
    server.execute(
        '(dml (InsertTuples (relation "Room") (tuples ('
        '(("room_id" (Int 101)) ("building_id" (Int 1)) ("floor" (Int 1)) ("room_number" (Str "1A"))) '
        '(("room_id" (Int 102)) ("building_id" (Int 1)) ("floor" (Int 2)) ("room_number" (Str "2A"))) '
        '(("room_id" (Int 201)) ("building_id" (Int 2)) ("floor" (Int 1)) ("room_number" (Str "1B")))))))'
    )
    # Composed binary FKs along Suite -> Room -> Building.
    server.execute(
        '(icl (RegisterConstraint (constraint_name "fk_room_building") '
        '(relation_name "Room") (body (MemberOf (target "Building") '
        '(binding (("building_id" (Var "building_id"))))))))'
    )
    server.execute(
        '(icl (RegisterConstraint (constraint_name "fk_suite_room") '
        '(relation_name "Suite") (body (MemberOf (target "Room") '
        '(binding (("room_id" (Var "room_id"))))))))'
    )
    # The inherently 3-wise constraint (nested Exists). NOTE: the doc's
    # literal And-of-MemberOfs (n-way-binding.org:151-168) never LINKS r
    # to the suite's room or b to r's building, so under the reference's
    # own FOL evaluator (lib/constraint.ml:183-196: each MemberOf is an
    # independent membership test) it is satisfied by ANY room/building
    # witnesses and would accept Tower-B suites too — we reproduce those
    # semantics faithfully. This encodes the doc's STATED intent ("its
    # room belongs to a building with more than 3 floors") with explicit
    # equality links through the prelude's comparison relations.
    server.execute(
        '(icl (RegisterConstraint (constraint_name "suite_in_tall_building") '
        '(relation_name "Suite") (body '
        '(Exists (variable "r") (quantifier "Room") (body '
        '(Exists (variable "b") (quantifier "Building") (body '
        '(And ('
        '(MemberOf (target "equal") (binding (("left" (Var "r.room_id")) ("right" (Var "room_id"))))) '
        '(MemberOf (target "equal") (binding (("left" (Var "b.building_id")) ("right" (Var "r.building_id"))))) '
        '(MemberOf (target "greater_than") (binding (("left" (Var "b.floors")) '
        '("right" (Const (Int 3)))))))))))))))'
    )
    # Suites in Tower A rooms: accepted.
    server.execute(
        '(dml (InsertTuples (relation "Suite") (tuples ('
        '(("suite_id" (Int 1001)) ("room_id" (Int 101)) ("suite_name" (Str "Presidential")) ("capacity" (Int 4))) '
        '(("suite_id" (Int 1002)) ("room_id" (Int 102)) ("suite_name" (Str "Standard")) ("capacity" (Int 2)))))))'
    )
    # Suite in a Tower B room (2 floors <= 3): rejected by the 3-wise chain.
    with pytest.raises(errors.ConstraintViolation):
        server.execute(
            '(dml (InsertTuple (relation "Suite") (attributes ('
            '("suite_id" (Int 1003)) ("room_id" (Int 201)) '
            '("suite_name" (Str "Deluxe")) ("capacity" (Int 3))))))'
        )
    # FK still enforced independently: suite with unknown room rejected.
    with pytest.raises(errors.ConstraintViolation):
        server.execute(
            '(dml (InsertTuple (relation "Suite") (attributes ('
            '("suite_id" (Int 1004)) ("room_id" (Int 999)) '
            '("suite_name" (Str "Ghost")) ("capacity" (Int 1))))))'
        )
    # The doc's 3-way join: suite names with their building names.
    out = server.execute(
        '(drl (Project (suite_name building_name) '
        '(Join (room_id) (Base "Suite") '
        '(Join (building_id) (Base "Room") (Base "Building")))))'
    )
    rows = {tuple(r) for r in out["rows"]}
    assert rows == {("Presidential", "Tower A"), ("Standard", "Tower A")}


# --- lib/listener.ml serialize-shape conformance ------------------------------
# Byte-level checks of the listener's tagged response shapes: (relation ...),
# (ok ...), (cursor ...), (error ...) exactly as lib/listener.ml:96-130 emits
# them, plus the behavioral edges the reference's materializer and session
# registry imply (truncation at exactly the limit, db_hash echo, cursor
# auto-close on exhaustion).


def test_listener_relation_response_exact_shape(vserver):
    """Full-string check of the Query serialize shape (lib/listener.ml:
    111-123): tagged list, (name) from the stored relation, schema as
    (attr declared-domain) pairs, rows as attribute-SORTED (attr value)
    pairs (tuple_to_sexp over the AttributeMap), string_of_bool flags,
    db_hash/db_name/branch tail."""
    server = vserver
    server.execute('(ddl (CreateRelation (name "users") (schema (("name" "string") ("age" "natural")))))')
    server.execute('(dml (InsertTuple (relation "users") (attributes (("name" (Str "Alice")) ("age" (Int 30))))))')
    resp = server.execute_sexp('(drl (Base "users"))')
    assert resp == (
        "(relation (name users) (schema ((name string) (age natural))) "
        "(rows (((age 30) (name Alice)))) (row_count 1) (truncated false) "
        f"(db_hash {server.db.hash}) (db_name shop) (branch --))"
    )


def test_listener_transition_message_parity(vserver):
    """Transition responses carry the executor's message verbatim
    (lib/ddl/executor.ml:44 'Relation created: N', lib/dml/sublanguage.ml:19
    'updated') in the (ok (message ...)) shape."""
    server = vserver
    r = server.execute_sexp('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    assert r == (
        f'(ok (message "Relation created: t") (db_hash {server.db.hash}) '
        "(db_name shop) (branch --))"
    )
    r = server.execute_sexp('(dml (InsertTuple (relation "t") (attributes (("v" (Int 1))))))')
    assert r.startswith("(ok (message updated) (db_hash ")


def test_listener_gethead_unset_message(vserver):
    """lib/dcl/executor.ml:61: GetHead with no HEAD set is a Transition
    with message 'HEAD is unset', not an error."""
    r = vserver.execute_sexp("(dcl (GetHead))")
    assert r.startswith('(ok (message "HEAD is unset")')
    vserver.execute('(dcl (CreateBranch (name "main")))')
    vserver.execute('(dcl (Checkout "main"))')
    assert vserver.execute_sexp("(dcl (GetHead))").startswith("(ok (message HEAD:main)")


def test_truncation_flag_edges(server):
    """lib/listener.ml:67-83 materialize_generator: the truncated flag
    means 'collection stopped at the limit' — a relation of EXACTLY 16
    rows reports truncated=true (count >= limit is checked before the
    generator learns it is exhausted); 15 rows reports false."""
    for n, expect_trunc in ((15, False), (16, True), (17, True)):
        name = f"edge{n}"
        server.execute(f'(ddl (CreateRelation (name "{name}") (schema (("n" "integer")))))')
        rows = " ".join(f'(("n" (Int {i})))' for i in range(n))
        server.execute(f'(dml (InsertTuples (relation "{name}") (tuples ({rows}))))')
        out = server.execute(f'(drl (Base "{name}"))')
        assert out["truncated"] is expect_trunc, (n, out["truncated"])
        assert out["row_count"] == min(n, 16)
        assert f"(truncated {'true' if expect_trunc else 'false'})" in server.execute_sexp(
            f'(drl (Base "{name}"))'
        )


def test_every_response_echoes_current_db_hash(vserver):
    """Every serialized response carries the db hash of the state it
    observed (the (db_hash H) field of all three Ok shapes) — the value a
    CAS client re-pins on. After each mutation the echoed hash must equal
    the server's advanced head."""
    server = vserver
    for cmd in (
        '(ddl (CreateRelation (name "t") (schema (("v" "integer")))))',
        '(dml (InsertTuple (relation "t") (attributes (("v" (Int 1))))))',
        '(dml (InsertTuple (relation "t") (attributes (("v" (Int 2))))))',
    ):
        r = server.execute_sexp(cmd)
        assert f"(db_hash {server.db.hash})" in r
    # Reads echo it too (relation + cursor shapes).
    assert f"(db_hash {server.db.hash})" in server.execute_sexp('(drl (Base "t"))')
    assert f"(db_hash {server.db.hash})" in server.execute_sexp(
        '(scl (Begin (query (Base "t")) (limit 1)))'
    )


def test_cursor_exhaustion_auto_closes_over_wire(server):
    """lib/session.ml:38-67: a fetch that drains the generator removes the
    cursor from the registry (has_more=false), and a subsequent Fetch on
    that id fails with the registry's exact message, serialized as the
    SCL sublanguage error (cursor-error ...) under the listener's
    sublanguage-error wrap (lib/scl/executor.ml:28, lib/listener.ml:38)."""
    server.execute('(ddl (CreateRelation (name "nums") (schema (("n" "integer")))))')
    rows = " ".join(f'(("n" (Int {i})))' for i in range(7))
    server.execute(f'(dml (InsertTuples (relation "nums") (tuples ({rows}))))')
    out = server.execute('(scl (Begin (query (Base "nums")) (limit 3)))')
    cid = out["cursor"]
    assert out["has_more"] is True
    out2 = server.execute(f'(scl (Fetch (cursor "{cid}") (limit 10)))')
    assert out2["row_count"] == 4 and out2["has_more"] is False
    # The cursor is GONE — not merely drained.
    assert cid not in server.sessions.open_cursors()
    r = server.execute_sexp(f'(scl (Fetch (cursor "{cid}") (limit 1)))')
    assert r.startswith("(error (sublanguage-error (error (cursor-error ")
    assert cid in r and "was not found in the session registry" in r


def test_listener_cursor_sexp_shape(server):
    """Cursor serialize shape (lib/listener.ml:99-110): (cursor (id ..)
    (rows ..) (row_count ..) (has_more ..) tail) with attribute-pair
    rows; no schema field (attribute names travel in-band)."""
    server.execute('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    server.execute('(dml (InsertTuples (relation "t") (tuples ((("v" (Int 1))) (("v" (Int 2)))))))')
    r = server.execute_sexp('(scl (Begin (query (Base "t")) (limit 1)))')
    assert r.startswith("(cursor (id ")
    assert "(rows (((v " in r and "(has_more true)" in r
    assert "(schema" not in r


def test_malformed_expression_embeds_parsed_sexp(server):
    """lib/error.ml:30: MalformedExpression embeds the PARSED sexp
    structurally — an atom renders bare (sexplib quotes only when
    needed), a list renders as the list, never as a quoted source
    string."""
    assert server.execute_sexp('"just-an-atom"') == (
        "(error (malformed-expression (expression just-an-atom)))"
    )
    assert server.execute_sexp("(a b c)") == (
        "(error (malformed-expression (expression (a b c))))"
    )


def test_conflict_new_hash_is_rejected_transition_result(vserver, spark):
    """lib/listener.ml:53-58: Conflict.new_db is the transition result the
    losing writer computed from its stale base — NOT the head that won
    the race. The rejected insert of v=2 against the pre-insert base must
    report the hash that base+v=2 WOULD have produced (verified by
    replaying it on a loaded copy), while the server's head still holds
    the winner's hash."""
    from sakura_spark.database import Database

    server = vserver
    server.execute('(ddl (CreateRelation (name "t") (schema (("v" "integer")))))')
    base = server.db.hash
    server.execute('(dml (InsertTuple (relation "t") (attributes (("v" (Int 1))))))')
    winner = server.db.hash
    with pytest.raises(errors.Conflict) as exc:
        server.execute(
            '(dml (InsertTuple (relation "t") (attributes (("v" (Int 2))))))',
            base_hash=base,
        )
    # Independent replay of the rejected transition on the stale base.
    replay = Database.load(spark, base, server.db.store)
    replay.insert_tuples("t", [{"v": 2}])
    assert exc.value.expected == base
    assert exc.value.actual == replay.hash
    assert exc.value.actual not in (base, winner)
    # Nothing applied; the winner's head stands.
    assert server.db.hash == winner

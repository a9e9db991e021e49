"""Span and counter recorder that instruments the program from outside.

``Recorder.install()`` replaces each traced function with a wrapper at the
name its callers look it up (``sakura_spark.database.relation_hash`` as
well as ``sakura_spark.hashing.relation_hash``, for example); ``uninstall``
puts the originals back. Nothing in the package is edited.

Spans are kept in memory: ``(id, parent, request, name, start, end)``.
A span's parent is the innermost open span on the same thread; a root span
on a server thread takes the open client round trip as its parent, so the
spans of one wire request share that round trip's id (the client issues
one statement at a time). Self time is a span's duration minus the part
of it its children cover.

Spark work is counted per operation with ``statusTracker``: jobs launched
on the wire server's connection thread carry no job group, so an
operation's jobs are the group-less job ids above the highest id seen
before it started.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    request: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._request: Span | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._tracker = spark.sparkContext.statusTracker()
        self.store_roots: list[str] = []
        self.active = False

    # --- spans -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, request: bool = False) -> Span:
        st = self._stack()
        parent = st[-1] if st else self._request
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        req = sid if request else (parent.request if parent else None)
        sp = Span(sid, parent.id if parent else None, req, name, time.perf_counter())
        st.append(sp)
        if request:
            self._request = sp
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        if self._request is sp:
            self._request = None
        with self._lock:
            self.spans.append(sp)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    # --- patching --------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_result=None, on_call=None,
             count_jobs: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``on_call(args)`` runs before the call, ``on_result(span, args,
        result)`` after it; both see the original arguments. With
        ``count_jobs`` the span carries the Spark jobs launched during it."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call(args)
            mark = rec.job_mark() if count_jobs else None
            sp = rec.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                rec.close(sp)
                if count_jobs:
                    sp.attrs["jobs"] = rec.jobs_since(mark)[0]
            if on_result is not None:
                on_result(sp, args, result)
            return result

        self._patches.append((owner, attr, raw))
        setattr(owner, attr, kind(wrapper) if kind else wrapper)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()
        self.active = False

    def install(self) -> "Recorder":
        import pyspark.sql.readwriter as rw
        from pyspark.sql.classic.dataframe import DataFrame

        import sakura_spark.algebra as algebra
        import sakura_spark.database as database
        import sakura_spark.drl as drl_pkg
        import sakura_spark.drl.compiler as drl_compiler
        import sakura_spark.drl.parser as drl_parser
        import sakura_spark.hashing as hashing
        import sakura_spark.icl.compiler as icl_compiler
        import sakura_spark.management.branches as branches
        import sakura_spark.management.merge as merge
        import sakura_spark.management.store as store
        import sakura_spark.scl as scl
        import sakura_spark.wire as wire

        w = self.wrap
        w(wire.Server, "execute", "wire.execute")
        # DRL front end, at every name a caller resolves.
        for owner in (wire, drl_parser):
            w(owner, "read_sexp", "drl.parse")
            w(owner, "_build", "drl.parse")
        w(drl_parser, "parse", "drl.parse")
        w(drl_pkg, "parse", "drl.parse")
        w(drl_compiler, "admit", "drl.gate")
        for owner in (wire, drl_compiler, drl_pkg):
            w(owner, "compile_query", "drl.compile")
        for fname in ("select", "project", "rename", "equijoin", "cartesian", "semijoin",
                      "antijoin", "union", "union_set", "diff", "intersect", "take",
                      "const_relation"):
            w(algebra, fname, "algebra.op")
        D = database.Database
        w(D, "insert_tuples", "database.insert")
        w(D, "delete_tuples", "database.delete")
        w(D, "delete_where", "database.delete")
        w(D, "commit", "database.commit", count_jobs=True)
        w(D, "_snapshot", "database.snapshot", on_call=lambda a: self.count(
            "database.changed_relations",
            sum(1 for r in a[0].state.relations.values() if r.hash is None)))
        w(D, "_run_violation_checks", "database.validate",
          on_result=lambda sp, a, r: self.count("icl.checks", len(a[1])))
        w(D, "_cascade", "database.cascade")
        w(D, "load", "database.load")
        w(icl_compiler, "violations", "icl.violations")
        # The snapshot path writes a changed relation itself, then hashes
        # it: a hash already in the store is a content-addressed hit.
        w(database, "relation_hash", "hashing.relation_hash",
          on_result=lambda sp, a, h: self._put_attempt(self._stored(h)))
        w(hashing, "relation_hash", "hashing.relation_hash")
        S = store.SnapshotStore
        w(S, "put_relation", "store.put_relation",
          on_call=lambda a: self._put_attempt(a[0].has_relation(a[1])))
        w(S, "get_relation", "store.get_relation")
        w(S, "put_manifest", "store.put_manifest")
        w(merge, "find_ancestor", "merge.find_ancestor")
        w(merge, "diff_databases", "merge.diff")
        for owner in (branches, merge):
            w(owner, "merge_databases", "merge.plan")
        w(branches.BranchManager, "merge", "branches.merge")
        w(branches.BranchManager, "checkout", "branches.checkout")
        w(scl.SessionRegistry, "begin", "scl.begin")
        w(scl.SessionRegistry, "fetch", "scl.fetch",
          on_result=lambda sp, a, r: (self.count("scl.fetches"), self.count("scl.rows", len(r))))
        # Spark actions: their wall time is execution plus Catalyst planning.
        for fname in ("collect", "count", "toPandas", "toLocalIterator"):
            w(DataFrame, fname, "spark.action", on_result=self._on_action)
        for fname in ("parquet", "save"):
            w(rw.DataFrameWriter, fname, "spark.action", on_result=self._on_write)
        self.active = True
        return self

    def _put_attempt(self, hit: bool) -> None:
        self.count("store.put_attempts")
        if hit:
            self.count("store.put_hits")

    def _stored(self, rel_hash: str) -> bool:
        return any(os.path.exists(os.path.join(r, "relations", rel_hash)) for r in self.store_roots)

    def _on_action(self, sp: Span, args, result) -> None:
        sp.attrs["phases"] = catalyst_phases(args[0])

    def _on_write(self, sp: Span, args, result) -> None:
        df = getattr(args[0], "_df", None)
        if df is not None:
            sp.attrs["phases"] = catalyst_phases(df)

    # --- Spark job accounting -------------------------------------------

    def sync(self) -> None:
        """Wait until the listener bus has delivered every job event."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def job_mark(self) -> int:
        t0 = time.perf_counter()
        self.sync()
        ids = self._tracker.getJobIdsForGroup(None)
        self.count("trace.bookkeeping_s", time.perf_counter() - t0)
        return max(ids) if ids else -1

    def jobs_since(self, mark: int) -> tuple[int, int, int]:
        """(jobs, stages, tasks) launched without a job group since ``mark``."""
        t0 = time.perf_counter()
        self.sync()
        jobs = [j for j in self._tracker.getJobIdsForGroup(None) if j > mark]
        stages = tasks = 0
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = self._tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        self.count("trace.bookkeeping_s", time.perf_counter() - t0)
        return len(jobs), stages, tasks


@contextmanager
def operation(rec: Recorder | None, kind: str):
    """One benchmark operation. While ``rec`` is recording, it is a request
    span ``op.<kind>`` that carries the Spark jobs, stages and tasks
    launched during it; otherwise nothing is recorded. Yields the span or
    None."""
    if rec is None or not rec.active:
        yield None
        return
    mark = rec.job_mark()
    sp = rec.open(f"op.{kind}", request=True)
    try:
        yield sp
    finally:
        rec.close(sp)
        sp.attrs["jobs"], sp.attrs["stages"], sp.attrs["tasks"] = rec.jobs_since(mark)


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) recorded on ``df``'s QueryExecution."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                out[ph] = opt.get().durationMs() / 1000.0
    except Exception:  # noqa: BLE001 - a missing tracker leaves the phases unreported
        pass
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.dur - covered
    return out


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


class Summary:
    """Per-layer figures over the spans of the timed operations.

    An operation is a span opened with ``request=True`` (a wire round trip,
    an API call, a headline entry); every other span belongs to the
    operation whose request id it carries."""

    def __init__(self, rec: Recorder):
        self.rec = rec
        self.ops = [s for s in rec.spans if s.request == s.id]
        op_ids = {s.id for s in self.ops}
        self.spans = [s for s in rec.spans if s.request in op_ids]
        self.by_id = {s.id: s for s in rec.spans}
        self.self_t = self_times(self.spans)

    def outer(self, name: str) -> list[Span]:
        """Spans named ``name`` whose parent is not also ``name`` (a
        recursive call counts once)."""
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            p = self.by_id.get(s.parent)
            if p is None or p.name != name:
                out.append(s)
        return out

    def calls(self, name: str) -> int:
        return len(self.outer(name))

    def p50(self, name: str) -> float:
        return median(s.dur for s in self.outer(name))

    def layer_self(self, layer: str) -> float:
        """Self seconds of every span of ``layer``, per operation."""
        tot = sum(self.self_t[s.id] for s in self.spans if s.name.split(".")[0] == layer)
        return tot / max(1, len(self.ops))

    def spark_per_op(self) -> dict[str, float]:
        """Medians over operations of the Spark split: build (op time
        outside actions), Catalyst phases, execution, jobs/stages/tasks."""
        acts: dict[int, list[Span]] = {}
        for s in self.outer("spark.action"):
            acts.setdefault(s.request, []).append(s)
        rows = {k: [] for k in ("build_s", "analysis_s", "optimization_s", "planning_s",
                                "exec_s", "jobs", "stages", "tasks")}
        for op in self.ops:
            a = acts.get(op.id, [])
            act_t = sum(s.dur for s in a)
            ph = {k: sum(s.attrs.get("phases", {}).get(k, 0.0) for s in a)
                  for k in ("analysis", "optimization", "planning")}
            rows["build_s"].append(max(0.0, op.dur - act_t))
            for k, v in ph.items():
                rows[f"{k}_s"].append(v)
            rows["exec_s"].append(max(0.0, act_t - sum(ph.values())))
            for k in ("jobs", "stages", "tasks"):
                rows[k].append(op.attrs.get(k, 0))
        return {k: median(v) for k, v in rows.items()}

    def jobs_of(self, names: set[str]) -> list[int]:
        return [op.attrs.get("jobs", 0) for op in self.ops if op.name in names]

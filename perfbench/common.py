"""Shared pieces of the workloads: the run context, a wire client that
reads responses with its own S-expression reader, and measurement helpers."""

from __future__ import annotations

import math
import os
import resource
import socket
import time
from dataclasses import dataclass, field

import numpy as np

from spans import Recorder, median, operation


class CheckFailed(AssertionError):
    """An output disagreed with the computation made apart from the program."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Context:
    spark: object
    work: str  # scratch directory inside the checkout, removed at exit
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    spark_start_s: float
    rec: Recorder | None = None
    report: dict = field(default_factory=dict)  # name -> (value, unit), printed
    layer: dict = field(default_factory=dict)  # per-layer figures a workload measures itself

    def rng(self, salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, salt])

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


@dataclass
class Result:
    attempted: int  # operations in the timed rounds
    failed: int  # of those, the ones whose output was wrong
    problems: list[str]  # every mismatch found, timed or not
    round_s: list[float]  # wall time of each timed round
    round_cpu_s: list[float]  # CPU time of each timed round (tree_cpu_s)
    setup_s: float  # wall
    setup_cpu_s: float
    timed_s: float


def timed_rounds(ctx: Context, one_round) -> tuple[list[float], list[float], int, float]:
    """Run whole rounds until ``ctx.seconds`` have passed; returns
    (per-round wall seconds, per-round CPU seconds, operations, timed
    seconds). With tracing, the recorder is installed for the timed rounds
    and removed after them."""
    if ctx.rec is not None:
        ctx.rec.install()
    times, cpu, ops = [], [], 0
    t_start = time.perf_counter()
    try:
        while not times or time.perf_counter() - t_start < ctx.seconds:
            elapsed = stopwatch()
            ops += one_round(len(times))
            wall, cpu_s = elapsed()
            times.append(wall)
            cpu.append(cpu_s)
            if ctx.smoke:
                break
    finally:
        if ctx.rec is not None:
            ctx.rec.uninstall()
    return times, cpu, ops, time.perf_counter() - t_start


def stopwatch():
    """Returns a function giving the (wall, CPU) seconds since this call;
    CPU seconds as ``tree_cpu_s`` counts them."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    return lambda: (time.perf_counter() - t0, tree_cpu_s() - c0)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every process below
    it: the JVM and its Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / tick


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the JVM it drives (MiB)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    except (AttributeError, OSError):
        pass
    return own + jvm


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


p50 = median


# --- wire client -------------------------------------------------------------


def read_sexp(text: str):
    """Minimal S-expression reader: lists become Python lists, atoms strings
    (quoted atoms unescaped)."""
    pos = 0
    n = len(text)

    def skip():
        nonlocal pos
        while pos < n and text[pos].isspace():
            pos += 1

    def item():
        nonlocal pos
        skip()
        if text[pos] == "(":
            pos += 1
            out = []
            skip()
            while text[pos] != ")":
                out.append(item())
                skip()
            pos += 1
            return out
        if text[pos] == '"':
            pos += 1
            buf = []
            while text[pos] != '"':
                if text[pos] == "\\":
                    pos += 1
                buf.append(text[pos])
                pos += 1
            pos += 1
            return "".join(buf)
        start = pos
        while pos < n and not text[pos].isspace() and text[pos] not in '()"':
            pos += 1
        return text[start:pos]

    return item()


def fields(resp: list) -> dict:
    """(tag (k v) (k v) ...) -> {k: v}"""
    return {f[0]: f[1] if len(f) == 2 else f[1:] for f in resp[1:] if isinstance(f, list)}


def row_tuple(pairs: list, attrs: list[str]) -> tuple:
    d = {p[0]: p[1] for p in pairs}
    return tuple(d[a] for a in attrs)


def atom(v) -> str:
    """The text a value takes in a response row (integers bare, floats in
    OCaml ``string_of_float`` form, strings verbatim)."""
    if isinstance(v, (bool, np.bool_)):
        return "1" if v else "0"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f) or math.isinf(f):
            return "nan"
        s = "%.12g" % f
        return s if ("." in s or "e" in s) else s + "."
    return str(v)


class WireClient:
    """One TCP connection, one statement at a time (closed loop)."""

    def __init__(self, port: int, rec: Recorder | None = None):
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.fh = self.sock.makefile("rwb")
        self.rec = rec
        self.latencies: dict[str, list[float]] = {}

    def send(self, kind: str, stmt: str):
        """Send one statement; returns the parsed response. The round trip
        is an operation span when tracing."""
        with operation(self.rec, kind):
            t0 = time.perf_counter()
            self.fh.write(stmt.encode() + b"\n")
            self.fh.flush()
            line = self.fh.readline()
            dt = time.perf_counter() - t0
        self.latencies.setdefault(kind, []).append(dt)
        if not line:
            raise ConnectionError("server closed the connection")
        return read_sexp(line.decode())

    def close(self) -> None:
        try:
            self.fh.close()
        finally:
            self.sock.close()

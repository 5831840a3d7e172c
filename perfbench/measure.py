"""Measurement helpers for the benchmark, free of Spark so they are testable.

- percentile selection that reports only what the sample supports;
- the stationarity check on a run's timed ops;
- in-memory spans with self-time accounting;
- the order-insensitive result hash shared by the runtime check and the
  derivation of the stored expected values;
- CPU and RSS of the whole process tree, read from ``/proc``;
- a fixed CPU-bound host canary.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import date, datetime
from decimal import Decimal

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p < 100) of ``values``."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def supported_percentiles(
    n: int, candidates=(50, 90, 99), min_beyond: int = MIN_BEYOND
) -> list[int]:
    """The candidate percentiles with at least ``min_beyond`` of ``n``
    samples strictly above their nearest rank."""
    return [
        p for p in candidates if n - max(1, math.ceil(p / 100.0 * n)) >= min_beyond
    ]


def latency_summary(times: list[float]) -> dict:
    """Sample count plus every supported percentile of ``times``."""
    out: dict = {"n": len(times)}
    for p in supported_percentiles(len(times)):
        out[f"p{p}_s"] = percentile(times, p)
    return out


def stationarity(
    times: list[float], kinds: list[str], tolerance: float = 0.2
) -> dict:
    """Compare the first and second half of a run's timed ops.

    Each op's time is divided by the median time of its kind, so a mix of
    op kinds compares like with like; the check then takes the median of
    each half. The run drifts when the ratio second/first leaves
    ``[1/(1+tolerance), 1+tolerance]``.
    """
    by_kind: dict[str, list[float]] = defaultdict(list)
    for t, k in zip(times, kinds):
        by_kind[k].append(t)
    med = {k: statistics.median(v) for k, v in by_kind.items()}
    norm = [t / med[k] for t, k in zip(times, kinds)]
    half = len(norm) // 2
    if half == 0:
        return {"ratio": 1.0, "drift": False}
    ratio = statistics.median(norm[half:]) / statistics.median(norm[:half])
    drift = not (1.0 / (1.0 + tolerance) <= ratio <= 1.0 + tolerance)
    return {"ratio": ratio, "drift": drift}


class Tracer:
    """Spans kept in memory: name, start, end, parent, op id and counts."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "parent": parent, "op": op, "start": time.perf_counter()}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part its children's intervals cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        hi = s["start"]
        for a, b in sorted(children[i]):
            a, b = max(a, hi), min(b, s["end"])
            if b > a:
                covered += b - a
                hi = b
        out.append((s["end"] - s["start"]) - covered)
    return out


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name."""
    total: dict[str, float] = defaultdict(float)
    for s, st in zip(spans, self_times(spans)):
        total[s["name"]] += st
    return dict(total)


# -- result hashing ---------------------------------------------------------


def _norm(v):
    """Canonical form of one value, as the engine's oracle comparison uses:
    decimals as floats, NaN as a token, -0.0 as 0.0, dates in ISO form."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v + 0.0
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def rows_digest(columns: list[str], rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of every column.

    Columns are taken in name order; each row's canonical ``repr`` is
    hashed and the row hashes are summed modulo 2**64, so the digest of a
    multiset does not depend on row order.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for row in rows:
        key = repr(tuple(_norm(row[i]) for i in order)).encode()
        acc += int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")
        n += 1
    return n, f"{acc % (1 << 64):016x}"


# -- process tree accounting --------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds, rss bytes) of ``pid`` from /proc, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    cpu = (int(fields[11]) + int(fields[12])) / _CLK
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def tree_stats(root: int | None = None) -> dict[int, tuple[float, int]]:
    """{pid: (cpu seconds, rss bytes)} for ``root`` and all its descendants."""
    root = os.getpid() if root is None else root
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                table[int(name)] = st
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        kids[ppid].append(pid)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1:]
            todo.extend(kids[pid])
    return out


def tree_cpu_delta(before: dict, after: dict) -> float:
    """CPU seconds the tree used between two :func:`tree_stats` snapshots.

    A process that appeared in between counts from zero; one that exited
    in between is lost after its last snapshot."""
    return sum(cpu - before.get(pid, (0.0, 0))[0] for pid, (cpu, _) in after.items())


class RssSampler:
    """Background sampler of the process tree's summed RSS; keeps the peak."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, sum(r for _, r in tree_stats().values()))

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def host_canary(rounds: int = 50_000, repeats: int = 9) -> float:
    """Median seconds of a fixed CPU-bound loop: a diagnostic of host speed
    only, never used to rescale a metric."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        h = b"canary"
        for _ in range(rounds):
            h = hashlib.blake2b(h, digest_size=16).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)

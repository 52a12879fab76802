"""Spans around calls into the engine, and process-tree CPU/RSS probes.

Spans are recorded only from the benchmark's side: `Tracer.wrap` swaps a
public module (or class) attribute for a wrapper that opens a span,
calls the original and closes the span.  Every span sets the Spark job
group to its own id, so the event-log parser can attribute each job,
stage and SQL execution to the innermost open span.  Spans are kept in
memory and read after the run.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after the last ')'
    rest = s[s.rindex(")") + 2:].split()
    return int(rest[1]), rest  # (ppid, fields from 'state' on)


def tree_pids(root: int | None = None) -> list[int]:
    """`root` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree, including reaped
    children (cutime/cstime)."""
    total = 0
    for p in tree_pids(root):
        st = _proc_stat(p)
        if st is not None:
            f = st[1]
            # fields (0-based from 'state'): utime=11 stime=12 cutime=13 cstime=14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM), in MiB."""
    total_kb = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    t0_ms: float
    t1_ms: float = 0.0
    cpu0: float = 0.0
    cpu_s: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb-{self.id}"

    @property
    def wall_s(self) -> float:
        return (self.t1_ms - self.t0_ms) / 1000.0


class Tracer:
    """In-memory span recorder bound to one SparkContext.

    `cpu_spans` names the spans that also sample process-tree CPU at
    entry and exit (a /proc walk, so only for coarse spans)."""

    def __init__(self, sc, cpu_spans: tuple[str, ...] = ()):
        self.sc = sc
        self.cpu_spans = set(cpu_spans)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def begin(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans) + 1, name, parent, time.time() * 1000.0)
        if name in self.cpu_spans:
            sp.cpu0 = tree_cpu_s()
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        return sp

    def end(self, sp: Span) -> None:
        sp.t1_ms = time.time() * 1000.0
        if sp.name in self.cpu_spans:
            sp.cpu_s = tree_cpu_s() - sp.cpu0
        if self._stack and self._stack[-1] is sp:
            self._stack.pop()
        else:  # closed out of order: drop it wherever it sits
            self._stack.remove(sp)
        if self._stack:
            self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.begin(name)
        try:
            yield sp
        finally:
            self.end(sp)

    # -- wrappers on module attributes ----------------------------------------

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace `owner.attr` with a spanned wrapper.  `count(span,
        args, kwargs, result)` may record counts on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if count is not None:
                    count(sp, args, kwargs, out)
                return out

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- queries -------------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.t1_ms]

    def subtree_groups(self, sp: Span) -> set[str]:
        """Job-group ids of `sp` and every span nested in it."""
        ids = {sp.id}
        for s in self.spans:  # spans are created parent-first
            if s.parent in ids:
                ids.add(s.id)
        return {f"pb-{i}" for i in ids}


class NullTracer:
    """The untraced run: same call shape, records nothing."""

    def span(self, name: str):
        return contextlib.nullcontext()

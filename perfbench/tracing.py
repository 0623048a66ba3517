"""Spans around calls into the program's layers, recorded from outside.

A span has a name, start, end, parent span and pass id.  While a span is
open its own Spark job group is set, so ``statusTracker`` attributes every
job to exactly one span: the innermost one open when the job started.
Spans stay in memory until ``write`` at exit.

``Tracer(sc, enabled=False)`` records nothing but still gives every pass
its own job group, so the untraced run counts jobs exactly too.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Any, Callable


@dataclass
class Span:
    name: str
    pass_id: int
    parent: int | None
    start: float
    end: float = 0.0
    self_jobs: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = 0
        self.pass_id = -1
        self._patches: list[tuple[Any, str, Any]] = []

    # ------------------------------------------------------------ job groups

    def _new_group(self, label: str) -> str:
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self.sc.setJobGroup(group, label)
        return group

    def _jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def run_pass(self, pass_id: int, label: str):
        """One pass under its own job group; yields a dict that receives
        ``jobs`` (every job of the pass, spans included) on exit."""
        self.pass_id = pass_id
        first = self._groups + 1
        base = self._new_group(label)
        out: dict[str, int] = {}
        try:
            yield out
        finally:
            jobs = self._jobs(base)
            for n in range(first + 1, self._groups + 1):
                jobs += self._jobs(f"perfbench-{n}")
            out["jobs"] = jobs

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, self.pass_id, parent, time.perf_counter())
        idx = len(self.spans)
        self.spans.append(rec)
        if parent is not None:
            self.spans[parent].children.append(idx)
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        outer_desc = self.sc.getLocalProperty("spark.job.description") or ""
        group = self._new_group(name)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec.end = time.perf_counter()
            rec.self_jobs = self._jobs(group)
            self._stack.pop()
            if outer is not None:
                self.sc.setJobGroup(outer, outer_desc)

    # -------------------------------------------------------------- patching

    def patch(self, owner: Any, attr: str, make: Callable[[Callable], Callable]) -> None:
        """Replace ``owner.attr`` by ``make(original)`` until ``unwrap_all``."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Run every call of ``owner.attr`` inside a span called ``name``."""

        def make(original):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return original(*args, **kwargs)

            return wrapper

        self.patch(owner, attr, make)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # ------------------------------------------------------------- summaries

    def inclusive_jobs(self, idx: int) -> int:
        s = self.spans[idx]
        return s.self_jobs + sum(self.inclusive_jobs(c) for c in s.children)

    def per_pass(self) -> dict[int, dict[str, dict]]:
        """``{pass_id: {span name: {"self_s", "incl_s", "jobs", "calls"}}}``,
        summed over the spans of that name.  Self time is a span's duration
        minus its children's; ``jobs`` counts the jobs of the span and its
        children."""
        out: dict[int, dict[str, dict]] = {}
        for idx, s in enumerate(self.spans):
            dur = s.end - s.start
            child = sum(self.spans[c].end - self.spans[c].start for c in s.children)
            agg = out.setdefault(s.pass_id, {}).setdefault(
                s.name, {"self_s": 0.0, "incl_s": 0.0, "jobs": 0, "calls": 0}
            )
            agg["self_s"] += dur - child
            agg["incl_s"] += dur
            agg["jobs"] += self.inclusive_jobs(idx)
            agg["calls"] += 1
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fp:
            for idx, s in enumerate(self.spans):
                rec = asdict(s)
                rec["id"] = idx
                fp.write(json.dumps(rec) + "\n")

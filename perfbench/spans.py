"""In-memory spans for the traced benchmark run.

A span records a name, a start, an end and the span that was open when it
began (its parent). Spans are kept in a list and written out once, when
the run ends. They wrap calls into the program from the benchmark's own
files: ``instrument`` replaces public methods of a class with wrappers
for the length of the run and the function it returns puts the
originals back; no file of the program changes.

A span's self time is its duration minus the part of that interval its
child spans cover, so within one root span the self times of its subtree
add up to the root's wall.
"""

from __future__ import annotations

import contextlib
import functools
import json
import pathlib
import time
from collections import defaultdict
from typing import Callable, Iterator


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def instrument(self, owner: type, methods: list[str], prefix: str) -> Callable[[], None]:
        """Wrap ``owner``'s methods in spans named ``prefix.method``;
        returns the function that restores the originals."""
        saved = {m: owner.__dict__[m] for m in methods}
        for m, fn in saved.items():
            setattr(owner, m, self.wrap(f"{prefix}.{m}", fn))

        def restore() -> None:
            for m, fn in saved.items():
                setattr(owner, m, fn)

        return restore

    def write(self, path: pathlib.Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for b, e in sorted(kids[s["id"]]):
            b, e = max(b, reach), min(e, s["end"])
            if e > b:
                covered += e - b
                reach = e
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def subtree(spans: list[dict], root: int) -> list[dict]:
    """The span ``root`` and every span below it."""
    inside = {root}
    out = []
    for s in spans:  # a parent is recorded before its children
        if s["id"] == root or s["parent"] in inside:
            inside.add(s["id"])
            out.append(s)
    return out


def self_by_name(spans: list[dict], root: int) -> dict[str, float]:
    """Summed self time per span name over ``root``'s subtree."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in subtree(spans, root):
        out[s["name"]] += own[s["id"]]
    return dict(out)


def calls_by_name(spans: list[dict], root: int) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for s in subtree(spans, root):
        out[s["name"]] += 1
    return dict(out)

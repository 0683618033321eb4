"""In-memory spans for the traced pass.

A span records (name, start, end, parent). While a span is open, its path
("pass/lst_tiles") is the Spark job description, so the event log can
attribute jobs, stages and tasks to the span that fired them. Spans wrap
calls into the engine's public functions from the outside; nothing in the
engine itself is instrumented.
"""

from __future__ import annotations

import contextlib
import functools
import time

from stats import self_times


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def path(self, sid: int | None) -> str | None:
        names = []
        while sid is not None:
            names.append(self.spans[sid]["name"])
            sid = self.spans[sid]["parent"]
        return "/".join(reversed(names)) or None

    def _describe(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(self.path(sid))

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._describe(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(parent)

    @contextlib.contextmanager
    def patched(self, module, attrs):
        """Wrap ``module.<attr>`` for each attr in a span named
        "<module short name>.<attr>" for the duration of the block."""
        short = module.__name__.rsplit(".", 1)[-1]
        saved = {a: getattr(module, a) for a in attrs}

        def wrap(name, fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)
            return inner

        for a, fn in saved.items():
            setattr(module, a, wrap(f"{short}.{a}", fn))
        try:
            yield
        finally:
            for a, fn in saved.items():
                setattr(module, a, fn)

    def total(self, name: str, under: str | None = None) -> float:
        """Summed duration of every span with this name, optionally only
        those below the span path ``under``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name
                   and (under is None or self.path(s["id"]).startswith(under + "/")))

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [{"name": s["name"], "parent": s["parent"],
                 "start": s["start"], "end": s["end"],
                 "self_s": st[s["id"]]} for s in self.spans]

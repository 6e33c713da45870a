"""In-memory spans around the engine's public functions.

A span is ``(name, start, end, parent)`` plus the Spark jobs started while
it was open. Spans are kept in a list and written out once, at exit. The
engine is traced from outside: ``wrap`` replaces a public function in
every engine module that binds it (``from x import f`` copies the
binding), or a method on its class, with a wrapper that opens a span.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

ENGINE = "kf_etl_clin_portal_spark"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.root: int | None = None
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._tracker = None
        self._last_job = -1

    # ---------------------------------------------------------------- jobs
    def attach(self, spark) -> None:
        self._tracker = spark.sparkContext.statusTracker()

    def last_job(self) -> int:
        """Id of the newest Spark job. Job ids are consecutive, so probing
        past the last one seen finds every job, whatever its job group."""
        if self._tracker is None:
            return -1
        with self._lock:
            while self._tracker.getJobInfo(self._last_job + 1) is not None:
                self._last_job += 1
            return self._last_job

    def tasks(self, first_job: int, last_job: int) -> int:
        """Tasks run by jobs ``first_job..last_job``."""
        n = 0
        for j in range(first_job, last_job + 1):
            info = self._tracker.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                st = self._tracker.getStageInfo(s)
                n += st.numCompletedTasks if st is not None else 0
        return n

    # --------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def begin(self, name: str, jobs: bool = False) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        span = {
            "name": name, "start": time.monotonic(), "end": None,
            "parent": parent, "thread": threading.get_ident(),
            "job0": self.last_job() if jobs else None, "jobs": None, "n": None,
        }
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int, n: int | None = None) -> None:
        span = self.spans[idx]
        if span["job0"] is not None:
            span["jobs"] = self.last_job() - span["job0"]
        span["end"] = time.monotonic()
        span["n"] = n
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        idx = self.begin(name, jobs)
        try:
            yield idx
        finally:
            self.end(idx)

    # ------------------------------------------------------------ wrapping
    def wrap(self, owner, attr: str, name: str, jobs: bool = False, count=None) -> None:
        """Trace ``owner.attr`` (a module function or a class method) under
        ``name``. ``count(result)`` stores a number on the span."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            idx = self.begin(name, jobs)
            n = None
            try:
                out = orig(*args, **kwargs)
                n = count(out) if count is not None else None
                return out
            finally:
                self.end(idx, n)

        traced.__wrapped__ = orig
        if isinstance(owner, type):
            setattr(owner, attr, traced)
            return
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(ENGINE):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)

    # ------------------------------------------------------------- metrics
    def _children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def coverage(self, idx: int) -> float:
        """Share of span ``idx`` covered by its children, any thread."""
        span = self.spans[idx]
        dur = span["end"] - span["start"]
        kids = self._children().get(idx, [])
        return _union(kids, span["start"], span["end"]) / dur if dur > 0 else 0.0

    def per_name(self, idx: int) -> dict[str, dict]:
        """Per span name inside span ``idx``'s interval: calls, and per-call
        means of seconds, self seconds (minus same-thread children), jobs
        and the stored count."""
        lo, hi = self.spans[idx]["start"], self.spans[idx]["end"]
        kids = self._children()
        acc: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if i == idx or s["end"] is None or s["start"] < lo or s["end"] > hi:
                continue
            dur = s["end"] - s["start"]
            own = [k for k in kids.get(i, []) if k["thread"] == s["thread"]]
            a = acc.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0,
                                           "jobs": 0, "n": 0})
            a["calls"] += 1
            a["s"] += dur
            a["self_s"] += dur - _union(own, s["start"], s["end"])
            a["jobs"] += s["jobs"] or 0
            a["n"] += s["n"] or 0
        for a in acc.values():
            for k in ("s", "self_s", "jobs", "n"):
                a[k] /= a["calls"]
        return acc

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"root": self.root, "spans": self.spans}, f)


def _union(spans: list[dict], lo: float, hi: float) -> float:
    ivs = sorted((max(s["start"], lo), min(s["end"], hi)) for s in spans)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total

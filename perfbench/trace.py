"""In-memory span tracer for the traced benchmark run.

Spans are recorded only from the benchmark's own files: the harness
opens a span around each call it makes into a layer, and ``patch``
wraps a layer's public function so calls the program makes into it
are recorded too. Nothing inside the program is edited.

A span carries its name, start and end (``time.perf_counter``), the
span that was open in the same thread when it started (its parent) and
the request (client operation) it belongs to. A span name is
``<layer>`` or ``<layer>:<detail>``; the layer is the part before the
colon. A layer's self time is the sum, over its spans, of each span's
duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float
    request: int | None
    thread: int

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; one instance per traced run. While ``recording``
    is False (the untraced window of a traced run) ``span`` records
    nothing."""

    enabled = True
    recording = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    def _state(self):
        st = self._local
        if not hasattr(st, "stack"):
            st.stack = []
            st.request = None
        return st

    def span(self, name: str):
        if not self.recording:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        st = self._state()
        sid = next(self._ids)
        parent = st.stack[-1] if st.stack else None
        st.stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.stack.pop()
            self.spans.append(
                Span(sid, parent, name, start, end, st.request,
                     threading.get_ident())
            )

    @contextlib.contextmanager
    def request(self, rid: int):
        """Tag every span opened in this thread with request ``rid``."""
        st = self._state()
        prev, st.request = st.request, rid
        try:
            yield
        finally:
            st.request = prev

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> bool:
        """Replace ``owner.attr`` (a plain function on a module or
        class) by a traced wrapper. Returns False, patching nothing,
        when the attribute is missing or is not a plain function."""
        raw = vars(owner).get(attr)
        if not inspect.isfunction(raw):
            return False
        setattr(owner, attr, self.wrap(name, raw))
        self._patches.append((owner, attr, raw))
        return True

    def patch_module_functions(self, module, layer: str) -> int:
        """Patch every public function defined in ``module``; each
        span is named ``<layer>:<module tail>.<function>``."""
        tail = module.__name__.rsplit(".", 1)[-1]
        n = 0
        for attr, obj in list(vars(module).items()):
            if (
                not attr.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == module.__name__
            ):
                n += self.patch(module, attr, f"{layer}:{tail}.{attr}")
        return n

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)


class NullTracer(Tracer):
    """The untraced run: spans and patches cost nothing and record
    nothing."""

    enabled = False
    recording = False

    def request(self, rid: int):
        return contextlib.nullcontext()

    def patch(self, owner, attr: str, name: str) -> bool:
        return False


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval covered
    by its children (children are clipped to the parent's interval)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered = union_length([
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.sid, ())
            if c.end > s.start and c.start < s.end
        ])
        out[s.sid] = s.duration - covered
    return out


def layer_self_seconds(spans: list[Span]) -> dict[str, float]:
    """Layer → summed self time (seconds) of its spans."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += own[s.sid]
    return dict(out)


def span_records(spans: list[Span], t0: float) -> list[dict]:
    """Spans as JSON-ready dicts, times relative to ``t0`` (seconds)."""
    recs = []
    own = self_times(spans)
    for s in spans:
        d = asdict(s)
        d["start"] = round(s.start - t0, 6)
        d["end"] = round(s.end - t0, 6)
        d["self"] = round(own[s.sid], 6)
        recs.append(d)
    return recs

"""In-memory span recorder for the traced run.

The benchmark times each layer from its own files: :meth:`Tracer.wrap`
replaces a module function or class method of the program with a thin
wrapper that records one span per call (name, layer, start, end, parent
span, request id). Spans stay in a list and are written out once, at the
end of the run. Nothing in the program is edited.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
from collections import defaultdict
from typing import Callable, Dict, Iterable, List, Optional

# span record layout (a list, not an object: cheap to create)
NAME, LAYER, START, END, PARENT, REQUEST, ATTRS = range(7)


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: List[list] = []
        self.request = None
        self._local = threading.local()

    # -- recording --------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str, attrs: Optional[dict] = None) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        idx = len(self.spans)
        self.spans.append([name, layer, self.clock(), None, parent,
                           self.request, attrs])
        st.append(idx)
        return idx

    def close(self, idx: int, attrs: Optional[dict] = None) -> None:
        span = self.spans[idx]
        span[END] = self.clock()
        if attrs:
            span[ATTRS] = {**(span[ATTRS] or {}), **attrs}
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()
        elif idx in st:  # an inner span leaked by an exception path
            del st[st.index(idx):]

    # -- wrapping ---------------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, name: Optional[str] = None,
             before: Optional[Callable] = None,
             after: Optional[Callable] = None) -> None:
        """Trace calls to ``owner.attr``. ``before(args, kwargs)`` and
        ``after(result, args, kwargs)`` may return a dict of span
        attributes. Raises AttributeError when ``owner`` has no ``attr``,
        so a renamed entry point fails the traced run."""
        static = inspect.getattr_static(owner, attr)
        kind = (classmethod if isinstance(static, classmethod) else
                staticmethod if isinstance(static, staticmethod) else None)
        fn = static.__func__ if kind else getattr(owner, attr)
        label = name or f"{layer}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.open(label, layer,
                              before(args, kwargs) if before else None)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                tracer.close(idx, after(result, args, kwargs)
                             if after else None)

        setattr(owner, attr, kind(traced) if kind else traced)

    # -- output -----------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s[NAME], "layer": s[LAYER],
                    "start": s[START], "end": s[END], "parent": s[PARENT],
                    "request": s[REQUEST], "attrs": s[ATTRS]},
                    default=str) + "\n")


def _closed(spans: List[list], requests: Optional[set]) -> Iterable[int]:
    for i, s in enumerate(spans):
        if s[END] is not None and (requests is None or s[REQUEST] in requests):
            yield i


def self_time_ms(spans: List[list],
                 requests: Optional[set] = None) -> Dict[str, float]:
    """Per layer: time spent in the layer's own code, i.e. each span's
    duration minus the durations of its direct child spans."""
    child = defaultdict(float)
    for i in _closed(spans, None):
        p = spans[i][PARENT]
        if p is not None:
            child[p] += spans[i][END] - spans[i][START]
    out: Dict[str, float] = defaultdict(float)
    for i in _closed(spans, requests):
        s = spans[i]
        out[s[LAYER]] += (s[END] - s[START] - child[i]) * 1000.0
    return dict(out)


def inclusive_ms(spans: List[list], requests: Optional[set] = None,
                 names: Optional[set] = None) -> Dict[str, float]:
    """Per layer (or per span name, with ``names``): wall time inside the
    outermost span of that layer/name. A span nested in another span of
    the same key is not counted twice."""
    key = (lambda s: s[NAME]) if names else (lambda s: s[LAYER])
    out: Dict[str, float] = defaultdict(float)
    for i in _closed(spans, requests):
        s = spans[i]
        k = key(s)
        if names and k not in names:
            continue
        p = s[PARENT]
        nested = False
        while p is not None:
            if key(spans[p]) == k:
                nested = True
                break
            p = spans[p][PARENT]
        if not nested:
            out[k] += (s[END] - s[START]) * 1000.0
    return dict(out)


def calls(spans: List[list], name: str,
          requests: Optional[set] = None) -> List[list]:
    return [spans[i] for i in _closed(spans, requests)
            if spans[i][NAME] == name]

"""In-memory span recorder for the traced run.

Spans (id, name, layer, parent, start, end) are recorded around calls into
the system's public entry points by replacing bound methods on the
benchmark's own instances (``Tracer.wrap``) — the program is unchanged.
Each span tags the Spark jobs its thread submits with a job group, so
``resolve_jobs`` can attribute every job (and its tasks) to exactly one
innermost span through ``SparkContext.statusTracker()``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"
# span ids (and with them job groups) are unique across tracers
_IDS = itertools.count(1)


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        # span stack of the thread that opened the outermost span: its top
        # is the parent of spans opened on pool threads (whose own
        # thread-local stack is empty)
        self._root_stack: list[int] | None = None
        self._wrapped: list[tuple[object, str]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = next(_IDS)
        stack = self._stack()
        root = self._root_stack
        parent = stack[-1] if stack else (root[-1] if root else None)
        is_root = parent is None
        if is_root:
            self._root_stack = stack
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, f"perfbench-{sid}")
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "start": time.perf_counter(), **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev_group)
            if is_root:
                self._root_stack = None
            with self._lock:
                self.spans.append(rec)

    def wrap(self, obj, method: str, layer: str, on_return=None) -> None:
        """Record a span around every call of ``obj.method``;
        ``on_return(rec, args, kwargs, result)`` may annotate the span."""
        fn = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(method, layer) as rec:
                out = fn(*args, **kwargs)
                if on_return is not None:
                    on_return(rec, args, kwargs, out)
                return out

        setattr(obj, method, traced)
        self._wrapped.append((obj, method))

    def unwrap_all(self) -> None:
        """Drop every wrapper: the instances see their class methods
        again, so later calls record nothing."""
        for obj, method in self._wrapped:
            obj.__dict__.pop(method, None)
        self._wrapped = []

    def resolve_jobs(self) -> None:
        """Fill ``jobs`` and ``tasks`` (launched by the span's own thread
        while it was the innermost span) on every recorded span."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            ids = st.getJobIdsForGroup(f"perfbench-{rec['id']}")
            tasks = 0
            for jid in ids:
                job = st.getJobInfo(jid)
                for sid in (job.stageIds if job else ()):
                    stage = st.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            rec["jobs"] = len(ids)
            rec["tasks"] = tasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda r: r["start"]), f,
                      indent=0)

    # -- aggregation helpers ---------------------------------------------
    def of(self, layer: str, name: str | None = None) -> list[dict]:
        return [r for r in self.spans if r["layer"] == layer
                and (name is None or r["name"] == name)]

    def outermost(self, layer: str, names=None) -> list[dict]:
        """Spans of ``layer`` (optionally restricted to ``names``) with no
        ancestor among those same spans — nested calls counted once."""
        sel = {r["id"]: r for r in self.spans if r["layer"] == layer
               and (names is None or r["name"] in names)}
        by_id = {r["id"]: r for r in self.spans}

        def covered(r):
            p = r["parent"]
            while p is not None:
                if p in sel:
                    return True
                p = by_id[p]["parent"] if p in by_id else None
            return False

        return [r for r in sel.values() if not covered(r)]


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]

"""In-memory span recorder for the benchmark's traced runs.

Spans are recorded from the benchmark's own files, around each call into
an engine layer. A span's layer is the first dotted component of its
name (``session``, ``sources``, ``operators``, ``streaming``, ``plans``;
``bench`` marks the benchmark's own phases). Spans stay in memory and
are written out once, when the run ends.

A layer's self time is the duration of its spans minus the part of each
span that its child spans cover.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

LAYERS = ("session", "sources", "operators", "streaming", "plans")


class Tracer:
    """Records ``(id, name, start, end, parent, run_id)`` spans. When
    disabled, ``span`` yields immediately and records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time the enclosed block as one span. ``parent`` defaults to the
        innermost open span on this thread; pass it explicitly for work
        that runs on another thread (a foreachBatch callback)."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id}
                )

    @contextmanager
    def paused(self):
        """Record nothing inside the block (the untraced timed phase)."""
        was = self.enabled
        self.enabled = False
        try:
            yield
        finally:
            self.enabled = was

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer, over every recorded span."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            if layer in out:
                out[layer] += (s["end"] - s["start"]) - _covered(s["start"], s["end"], children.get(s["id"], []))
        return out

    def write(self, spans_path: str, summary_path: str) -> None:
        with open(spans_path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")
        with open(summary_path, "w") as fh:
            json.dump({"run_id": self.run_id, "self_s": self.self_times()}, fh, indent=1, sort_keys=True)
            fh.write("\n")


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

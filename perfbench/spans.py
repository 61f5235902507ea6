"""Spans and counters for the traced run.

Spans are recorded from the benchmark's own code, around the calls it makes
into each library layer: operation -> build -> action for a query,
batch -> sink -> io call for a CDC micro-batch, and batch -> ladder ->
tier call, batch -> sink for a corpus micro-batch.  Library functions
that the library itself calls (``sources.io.write_staged`` from the CDC
sinks, ``cacheutil.materialize`` from the operators, an index's methods from
``ingest_corpus_batch``) are wrapped for the duration of a traced pass by
swapping the module or object attribute the caller looks up, and restored
afterwards; the library is not edited.

Spans stay in memory and are written out as JSON lines when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)
        #: id shared by the spans of the operation in flight
        self.current_trace = ""

    @contextlib.contextmanager
    def span(self, name: str, layer: str, trace_id: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "trace": trace_id,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        self.counters[name] += value

    def peak(self, name: str, value: float) -> None:
        self.counters[name] = max(self.counters[name], value)

    def take_counters(self) -> dict[str, float]:
        out = dict(self.counters)
        self.counters.clear()
        return out

    def self_times(self, first_span: int = 0) -> dict[str, float]:
        """Seconds per layer not covered by the layer's child spans, over
        the spans recorded since ``first_span``."""
        child: dict[int, float] = defaultdict(float)
        spans = self.spans[first_span:]
        for s in spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            if s["end"] is not None:
                out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under a local directory."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


@contextlib.contextmanager
def patched(targets: list[tuple[object, str]], make_wrapper):
    """Replace ``getattr(obj, attr)`` by ``make_wrapper(original)`` for every
    (obj, attr) in ``targets`` (a module, or an object whose method is
    wrapped for this object only) until the block exits."""
    saved = [(obj, attr, getattr(obj, attr), attr in vars(obj)) for obj, attr in targets]
    try:
        for obj, attr, orig, _ in saved:
            setattr(obj, attr, make_wrapper(orig))
        yield
    finally:
        for obj, attr, orig, own in saved:
            if own:
                setattr(obj, attr, orig)
            else:
                delattr(obj, attr)

"""In-memory spans around the engine's public functions.

The traced run replaces the public functions of each engine module (the
layers) with wrappers that open a span; the engine's code is not edited.
A span records its name, start, end, parent span and the benchmark
operation it ran under, plus the job counter at its start and end: a
Spark job belongs to the innermost span that was open when it was
submitted, from whichever thread. Spans stay in memory until the run
ends; run.py then prints them with the per-layer summary.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (layer, owner path, attribute) of every wrapped public function
TARGETS = (
    ("core", "meresco_lucene_spark.core:LuceneCore", "addDocument"),
    ("core", "meresco_lucene_spark.core:LuceneCore", "commit"),
    ("core", "meresco_lucene_spark.core:LuceneCore", "executeQuery"),
    ("core", "meresco_lucene_spark.core:LuceneCore", "numDocs"),
    ("index.incremental", "meresco_lucene_spark.index.incremental:IncrementalIndexStore", "commit_batch"),
    ("index.incremental", "meresco_lucene_spark.index.incremental:IncrementalIndexStore", "maybe_merge"),
    ("index.incremental", "meresco_lucene_spark.index.incremental:IncrementalIndexStore", "partial_merge"),
    ("index.incremental", "meresco_lucene_spark.index.incremental:IncrementalIndexStore", "force_merge"),
    ("index.incremental", "meresco_lucene_spark.index.incremental:IncrementalIndexStore", "open"),
    ("index.store", "meresco_lucene_spark.index.store", "build_index_store"),
    ("index.store", "meresco_lucene_spark.index.store", "open_persistent_index"),
    ("query.executor", "meresco_lucene_spark.query.executor", "search"),
    ("query.executor", "meresco_lucene_spark.query.executor", "facet_counts"),
    ("index.wand", "meresco_lucene_spark.index.wand", "term_topk"),
    ("index.wand", "meresco_lucene_spark.index.wand", "or_topk"),
    ("index.wand", "meresco_lucene_spark.index.wand", "and_topk"),
    ("compose.composedquery", "meresco_lucene_spark.compose.composedquery", "execute_composed"),
    ("query.cql", "meresco_lucene_spark.query.cql", "cql_to_query"),
)
LAYERS = tuple(dict.fromkeys(t[0] for t in TARGETS))


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    op: int | None
    wm0: int
    end: float = 0.0
    wm1: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, watermark):
        """``watermark``: callable returning the Spark job counter."""
        self._watermark = watermark
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        sp = Span(
            name=name,
            layer=layer,
            start=time.perf_counter(),
            parent=stack[-1] if stack else None,
            op=self.op,
            wm0=self._watermark(),
        )
        self.spans.append(sp)
        stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.wm1 = self._watermark()
            sp.end = time.perf_counter()
            stack.pop()

    def _wrapped(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if name == "IncrementalIndexStore.open":
                    sp.attrs["generations"] = len(out.gens)
                return out

        return wrapper

    def install(self) -> None:
        """Wrap every TARGETS function, in its own module and in every
        engine module that imported it by name."""
        import importlib

        for layer, owner_path, attr in TARGETS:
            mod_name, _, cls_name = owner_path.partition(":")
            owner = importlib.import_module(mod_name)
            if cls_name:
                owner = getattr(owner, cls_name)
            fn = getattr(owner, attr)
            name = f"{cls_name}.{attr}" if cls_name else attr
            wrapper = self._wrapped(fn, name, layer)
            setattr(owner, attr, wrapper)
            if cls_name:
                continue
            for mname, m in list(sys.modules.items()):
                if mname.startswith("meresco_lucene_spark") and getattr(m, attr, None) is fn:
                    setattr(m, attr, wrapper)

    # ---------------------------------------------------------- summaries
    def dump(self) -> list[dict]:
        """Every span as a plain record, times in seconds from the first
        span's start, jobs as the [first, last) job-id range."""
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": sp.name,
                "layer": sp.layer,
                "start": sp.start - t0,
                "end": sp.end - t0,
                "parent": sp.parent,
                "op": sp.op,
                "jobs": [sp.wm0, sp.wm1],
            }
            for sp in self.spans
        ]

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(i)
        return out

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time not covered by child spans."""
        kids = self.children()
        out = {layer: 0.0 for layer in LAYERS}
        for i, sp in enumerate(self.spans):
            child = sum(self.spans[k].seconds for k in kids.get(i, ()))
            out[sp.layer] += sp.seconds - child
        return out

    def own_jobs(self) -> dict[int, list[int]]:
        """Job ids of each span, excluding those of its child spans (the
        innermost open span owns a job)."""
        kids = self.children()
        out = {}
        for i, sp in enumerate(self.spans):
            inner = set()
            for k in kids.get(i, ()):
                inner.update(range(self.spans[k].wm0, self.spans[k].wm1))
            out[i] = [j for j in range(sp.wm0, sp.wm1) if j not in inner]
        return out

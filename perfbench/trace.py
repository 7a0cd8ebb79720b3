"""In-memory span recorder and the probes the traced run installs.

Every probe sits outside the engine: it wraps a function the engine's
modules call by name (``io.load``, ``io.load_raw``, the LSH and k-means
index entry points) by rebinding that name in every engine module that
imported it. Spans carry a name, start, end, parent span and operation id;
they stay in memory until :meth:`Tracer.dump` writes them once at exit.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

ENGINE = "modforms_db_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent=parent, op=self.op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, on_return=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None and on_return is not None:
                    on_return(s, args, kwargs, out)
                return out

        return traced

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def rebind(original, replacement) -> int:
    """Point every engine-module global bound to ``original`` at
    ``replacement``; return how many bindings changed."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == ENGINE or mod_name.startswith(ENGINE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


def install_probes(tracer: Tracer) -> None:
    """Wrap the io catalog readers and the dedup/similarity index entry
    points. An ``io.*`` span records its table and whether the reader
    returned an object it had already returned (a catalog hit); an
    ``*.index`` span records whether the call built the index."""
    from modforms_db_spark import io
    from modforms_db_spark.llm import dedup, similarity

    # Objects each reader returned, per (session, directory, table); held
    # so an identity test cannot match a recycled id().
    returned: dict[tuple, list] = {}

    def io_probe(kind, fn):
        sig = inspect.signature(fn)

        def on_return(span, args, kwargs, df):
            spark, sf_dir, table = list(sig.bind(*args, **kwargs).arguments.values())[:3]
            key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), kind, table)
            seen = returned.setdefault(key, [])
            hit = any(df is o for o in seen)
            span.attrs.update(table=table, hit=hit)
            if not hit:
                seen.append(df)

        return on_return

    rebind(io.load, tracer.wrap("io.load", io.load, io_probe("load", io.load)))
    rebind(io.load_raw, tracer.wrap("io.load_raw", io.load_raw, io_probe("raw", io.load_raw)))

    def index_probe(fn, name, cache):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            before = len(cache)
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None:
                    s.attrs["build"] = len(cache) > before
                return out

        return traced

    lsh = dedup._lsh_groups_rep_pairs
    rebind(lsh, index_probe(lsh, "dedup.index", dedup._LSH_CORE_CACHE))
    km = similarity.kmeans_core
    rebind(km, index_probe(km, "similarity.index", similarity._KMEANS_CORE_CACHE))

"""Span tracer for the traced run.

``Tracer.install()`` wraps the engine's layer functions at the names
their callers look them up (``search.py`` binds ``wand_topk_driver``,
``build_snippet`` and ``tokenize_py`` at import; ``wand.py`` looks up
``codec.decode_*`` on the module at call time; the direct readers and
the content store are methods). Each wrapped call records a span: name,
start, end, parent span, query id and phase. Spans stay in memory;
``write`` dumps them when the run ends. A layer's self time is its span
minus the time its child spans cover. The client is one thread, so
spans nest strictly and a plain stack gives each span its parent.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict

# span name -> (module, owner attribute path, attribute)
_TARGETS = [
    ("search", "posik_engine_spark.operators.search", "SearchEngine", "search"),
    ("search.resolve", "posik_engine_spark.operators.search", "SearchEngine",
     "_docids_for_keys"),
    ("search.analyze", "posik_engine_spark.operators.search", None,
     "tokenize_py"),
    ("wand.driver_topk", "posik_engine_spark.operators.search", None,
     "wand_topk_driver"),
    ("wand.rows_topk", "posik_engine_spark.operators.wand", None,
     "wand_topk_rows"),
    ("snippet.build", "posik_engine_spark.operators.search", None,
     "build_snippet"),
    ("codec.decode", "posik_engine_spark.functions.codec", None,
     "varint_decode"),
    ("codec.decode", "posik_engine_spark.functions.codec", None,
     "decode_doc_ids"),
    ("codec.decode", "posik_engine_spark.functions.codec", None,
     "decode_counts"),
    ("direct_io.blocks", "posik_engine_spark.operators.direct_io",
     "DirectIndexReader", "blocks_for_terms"),
    ("direct_io.resolve_ords", "posik_engine_spark.operators.direct_io",
     "DirectIndexReader", "resolve_ords"),
    ("direct_io.term_info", "posik_engine_spark.operators.direct_io",
     "DirectIndexReader", "term_info_rows"),
    ("content_store.fetch", "posik_engine_spark.operators.content_store",
     "ContentStore", "fetch"),
]

# index of each field in a span record (a list, cheap to append)
NAME, T0, T1, PARENT, QID, PHASE, N_IN, N_OUT, DIAG = range(9)


_SIZED = ("direct_io.blocks", "direct_io.resolve_ords", "direct_io.term_info",
          "content_store.fetch", "search.resolve", "wand.driver_topk")


def _sizes(name: str, args: tuple, out) -> tuple[int, int]:
    """(items asked for, items returned) of one call, for hit ratios:
    the second positional argument is the terms, ids or keys asked for
    (after ``self`` or the index)."""
    if name in _SIZED:
        return len(args[1]), len(out)
    return 0, 0


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self.phase: str | None = None
        self.qid = -1
        self.missing: list[str] = []

    # ------------------------------------------------------- wrapping
    def install(self) -> None:
        import importlib

        for name, mod, owner, attr in _TARGETS:
            obj = importlib.import_module(mod)
            if owner is not None:
                obj = getattr(obj, owner, None)
            fn = getattr(obj, attr, None) if obj is not None else None
            if fn is None:
                self.missing.append(f"{mod}.{owner or ''}.{attr}")
                continue
            setattr(obj, attr, self._wrap(name, fn))
            self._undo.append((obj, attr, fn))
        if self.missing:
            print(f"trace: not found, not traced: {self.missing}",
                  file=sys.stderr)

    def uninstall(self) -> None:
        for obj, attr, fn in reversed(self._undo):
            setattr(obj, attr, fn)
        self._undo.clear()

    def _wrap(self, name: str, fn):
        tracer = self
        diag_call = name == "wand.driver_topk"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            rec = [name, 0.0, 0.0,
                   tracer._stack[-1] if tracer._stack else -1,
                   tracer.qid, tracer.phase, 0, 0, None]
            if diag_call and kwargs.get("diag") is None:
                kwargs["diag"] = {}
            idx = len(tracer.spans)
            tracer.spans.append(rec)
            tracer._stack.append(idx)
            rec[T0] = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                rec[T1] = time.perf_counter()
                tracer._stack.pop()
            rec[N_IN], rec[N_OUT] = _sizes(name, args, out)
            if diag_call:
                rec[DIAG] = dict(kwargs["diag"])
            return out

        return wrapper

    # ------------------------------------------------------- analysis
    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover
        (children of one thread never overlap each other)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[PARENT] >= 0:
                child[s[PARENT]] += s[T1] - s[T0]
        return [s[T1] - s[T0] - c for s, c in zip(self.spans, child)]

    def phase_totals(self, phase: str) -> dict:
        """Sums over one phase's spans: self seconds, calls, items in,
        items out per span name, plus the WAND counters."""
        selft = self.self_times()
        agg: dict = defaultdict(lambda: [0.0, 0, 0, 0])
        diag: dict = defaultdict(int)
        for s, st in zip(self.spans, selft):
            if s[PHASE] != phase:
                continue
            a = agg[s[NAME]]
            a[0] += st
            a[1] += 1
            a[2] += s[N_IN]
            a[3] += s[N_OUT]
            if s[DIAG]:
                for k, v in s[DIAG].items():
                    diag[k] += int(v)
        return {"spans": dict(agg), "diag": dict(diag)}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s[NAME], "start": s[T0], "end": s[T1],
                    "parent": s[PARENT], "query": s[QID], "phase": s[PHASE],
                    "in": s[N_IN], "out": s[N_OUT], "diag": s[DIAG],
                }) + "\n")

    @staticmethod
    def span_cost_s(n: int = 20000) -> float:
        """Measured cost of one traced call over an untraced one."""
        t = Tracer()

        def f(x):
            return x

        g = t._wrap("calibrate", f)
        t0 = time.perf_counter()
        for i in range(n):
            f(i)
        t1 = time.perf_counter()
        for i in range(n):
            g(i)
        t2 = time.perf_counter()
        return max(0.0, ((t2 - t1) - (t1 - t0)) / n)

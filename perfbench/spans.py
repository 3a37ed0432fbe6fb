"""In-memory spans around calls into the engine's layers.

``install`` replaces the layers' public functions with timing wrappers
*before* ``registry`` is imported (plan modules bind these names at
import time), then rebinds any reference the import still holds to an
original. A span records name, start, end, parent span and query;
``Tracer.enabled`` turns recording off without uninstalling, so one
process can run traced and untraced passes.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time

PKG = "sow_pyspark_scripts_spark"

# (module under the package, function, span name)
WRAPPED = (
    ("sources.parquet", "read_table", "sources.read_table"),
    ("sources.parquet", "spread", "sources.spread"),
    ("functions.pin", "pin", "functions.pin"),
    ("functions.pin", "pin_eager", "functions.pin_eager"),
    ("functions.sketch", "approx_pctls", "functions.approx_pctls"),
    ("operators.dedup", "word_shingles", "operators.word_shingles"),
    ("operators.dedup", "minhash_signatures", "operators.minhash_signatures"),
    ("operators.dedup", "band_signatures", "operators.band_signatures"),
    ("operators.dedup", "band_collision_pairs", "operators.band_collision_pairs"),
    ("operators.graph", "connected_components", "operators.connected_components"),
    ("operators.similarity", "topk_exact", "operators.topk_exact"),
    ("operators.similarity", "topk_lsh", "operators.topk_lsh"),
    ("operators.relational", "top_n_per_group", "operators.top_n_per_group"),
    ("operators.temporal", "asof_join", "operators.asof_join"),
    ("streaming.pipeline", "run_to_memory", "streaming.run_to_memory"),
    ("plans.ann_index", "ensure_ann_index", "index.ensure_ann_index"),
    ("plans.ann_index", "ensure_doc_index", "index.ensure_doc_index"),
)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.query: str | None = None
        # the open query span: parent of spans opened in pool threads
        self.root: int | None = None
        self.spans: list[dict] = []
        self.streams: list = []  # StreamingQuery handles started while tracing
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        stack = self._stack()
        span = {"name": name, "start": time.perf_counter(), "end": None,
                "parent": stack[-1] if stack else self.root, "query": self.query}
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(idx)
            if name == "sources.spread" and args:
                tracer.spans[idx]["repartitioned"] = out is not args[0]
            return out

        return traced

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by
        child spans."""
        child: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, end = 0.0, float("-inf")
            for a, b in sorted(child.get(i, [])):
                a, b = max(a, s["start"], end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def install(tracer: Tracer) -> None:
    """Wrap the layer functions, import ``registry``, then rebind every
    reference a module still holds to an original. Leaf modules are
    patched before the import; ``plans.ann_index`` imports ``registry``
    itself, so its functions are patched after."""
    wrappers = {}

    def patch(mod_name: str, attr: str, span: str) -> None:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        fn = getattr(mod, attr)
        wrappers[id(fn)] = (fn, tracer.wrap(fn, span))
        setattr(mod, attr, wrappers[id(fn)][1])

    for entry in WRAPPED:
        if not entry[0].startswith("plans."):
            patch(*entry)
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    start = DataStreamWriter.start

    @functools.wraps(start)
    def start_traced(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        if tracer.enabled:
            tracer.streams.append(q)
        return q

    DataStreamWriter.start = start_traced
    importlib.import_module(f"{PKG}.registry")
    for entry in WRAPPED:
        if entry[0].startswith("plans."):
            patch(*entry)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PKG):
            continue
        for k, v in list(vars(mod).items()):
            hit = wrappers.get(id(v))
            if hit is not None and hit[0] is v:
                setattr(mod, k, hit[1])

"""In-memory spans around calls into the engine's layers.

The benchmark never edits the engine. In a traced run it replaces the
layers' public functions with thin wrappers *before* the gate registry
is imported, because the gate modules bind those names with
``from ... import``. A wrapper records one span (name, start, end,
parent span, operation id) and, for a few layers, a counter. When the
tracer is disabled a wrapper is a single attribute test and a call.

Self time of a span is its duration minus the part covered by its child
spans; a layer's self time is the sum over the layer's spans. The layer
is the first dotted component of the span name.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "python_tool_setup_spark"

# IngestionPipeline step methods, traced as ``ingestion.<method>``.
PIPELINE_STEPS = (
    "run",
    "read",
    "write",
    "_merge_into",
    "write_initial",
    "_staged_overwrite",
    "_run_stream",
    "_ensure_namespace",
    "_register_table",
    "_apply_table_metadata",
    "_optimize_post_write",
)


class Tracer:
    """Span recorder shared by every wrapper of one process."""

    def __init__(self) -> None:
        self.enabled = False
        self.op = ""  # id of the operation the next spans belong to
        # [span id, parent id, op id, name, start, end]
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.stats = None  # SparkStats, attached once the session exists
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = [
            len(self.spans),
            stack[-1] if stack else None,
            self.op,
            name,
            time.perf_counter(),
            None,
        ]
        self.spans.append(rec)
        stack.append(rec[0])
        try:
            yield
        finally:
            rec[5] = time.perf_counter()
            stack.pop()

    def wrap(self, fn, name: str, before=None, after=None):
        """``fn`` traced as ``name``; ``before()`` runs ahead of the call
        and ``after(token, args, result)`` after it, both only while
        tracing."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            token = before() if before else None
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if after:
                after(token, args, out)
            return out

        return traced

    # ------------------------------------------------------------------
    def self_times(self, first: int = 0, end: int | None = None) -> dict[str, float]:
        """Self seconds per layer over spans ``[first, end)``."""
        spans = self.spans[first:end]
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sid, parent, _op, _name, start, stop in spans:
            if parent is not None and stop is not None:
                children[parent].append((start, stop))
        out: dict[str, float] = defaultdict(float)
        for sid, _parent, _op, name, start, stop in spans:
            if stop is None:
                continue
            covered, reach = 0.0, start
            for a, b in sorted(children.get(sid, ())):
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            out[name.split(".", 1)[0]] += (stop - start) - covered
        return dict(out)

    def span_seconds(self, prefix: str, first: int = 0, end: int | None = None) -> float:
        """Total (not self) seconds of the spans named ``prefix*``."""
        return sum(
            s[5] - s[4]
            for s in self.spans[first:end]
            if s[5] is not None and s[3].startswith(prefix)
        )

    def dump(self) -> list[dict]:
        keys = ("id", "parent", "op", "name", "start", "end")
        return [dict(zip(keys, s)) for s in self.spans]


# ----------------------------------------------------------------------
def _driver_side(fn) -> bool:
    """Public llm functions that only run on the driver: builders taking
    a DataFrame, a Column or the session. Codec helpers taking bytes or
    ints run inside Python workers and stay unwrapped, since a wrapper
    closure cannot be shipped there."""
    params = list(inspect.signature(fn).parameters.values())
    if not params:
        return False
    first = params[0]
    return first.name == "spark" or any(
        t in str(first.annotation) for t in ("DataFrame", "Column")
    )


def _public_functions(module) -> list[str]:
    return [
        n
        for n, f in vars(module).items()
        if not n.startswith("_")
        and inspect.isfunction(f)
        and f.__module__ == module.__name__
    ]


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points; call before ``all_queries()``."""
    import pkgutil

    from pyspark.sql.streaming.query import StreamingQuery

    swaps: dict[int, object] = {}

    def patch(owner, attr: str, name: str, before=None, after=None) -> None:
        orig = getattr(owner, attr)
        new = tracer.wrap(orig, name, before, after)
        setattr(owner, attr, new)
        swaps[id(orig)] = new

    def mod(path: str):
        return importlib.import_module(f"{PACKAGE}.{path}")

    def storage_before():
        return tracer.stats.storage_bytes()

    def pin_after(before, _args, _out):
        tracer.counts["operators.pin_calls"] += 1
        tracer.counts["operators.pinned_bytes"] += max(
            0, tracer.stats.storage_bytes() - before
        )

    def jobs_before():
        return tracer.stats.next_job_id()

    def read_after(before, _args, _out):
        tracer.counts["sources.read_jobs"] += tracer.stats.next_job_id() - before

    def batches_after(_before, args, _out):
        query = args[0]
        tracer.counts["streaming.batches"] += len(
            {p["batchId"] for p in query.recentProgress}
        )

    patch(mod("operators.blockrank"), "pin", "operators.pin", storage_before, pin_after)
    merge = mod("operators.merge")
    patch(merge, "merge_upsert", "operators.merge_upsert")
    patch(merge, "merge_upsert_bucketed", "operators.merge_upsert_bucketed")
    patch(mod("sources.files"), "read_batch", "sources.read_batch", jobs_before, read_after)
    patch(mod("ingestion.maintenance"), "optimize_layout", "ingestion.optimize_layout")
    autoloader = mod("streaming.autoloader")
    patch(autoloader, "run_autoloader", "streaming.run_autoloader")
    patch(autoloader, "load_or_evolve_schema", "streaming.load_or_evolve_schema")
    windows = mod("streaming.windows")
    for fn in _public_functions(windows):
        patch(windows, fn, f"streaming.{fn}")
    patch(StreamingQuery, "awaitTermination", "streaming.await", after=batches_after)
    patch(StreamingQuery, "processAllAvailable", "streaming.await", after=batches_after)
    llm = mod("llm")
    for info in pkgutil.iter_modules(llm.__path__):
        m = mod(f"llm.{info.name}")
        for fn in _public_functions(m):
            if _driver_side(getattr(m, fn)):
                patch(m, fn, f"llm.{info.name}.{fn}")
    pipeline = mod("ingestion.base").IngestionPipeline
    for step in PIPELINE_STEPS:
        patch(pipeline, step, f"ingestion.{step.lstrip('_')}")
    cfg = mod("config").IngestionConfig
    patch(cfg, "validate", "config.validate")
    patch(cfg, "plan", "config.plan")

    # Modules imported so far may hold the originals under their own
    # names (``from ... import pin``); point those names at the wrappers.
    for name, module in list(sys.modules.items()):
        if module is None or not name.startswith(PACKAGE):
            continue
        for attr, value in list(vars(module).items()):
            new = swaps.get(id(value))
            if new is not None and new is not value:
                setattr(module, attr, new)

"""In-memory span recorder that wraps the program's public functions from
outside, for the traced run.

A span is ``(name, parent, start_ns, end_ns)``, parent being the index of
the enclosing span or -1.  Wrapping a name replaces
the module attribute that callers look up, so only calls made through that
attribute are recorded: wrapping ``exstruct_spark.kernels.extract.parse_html``
times the parses ``extract_document`` starts, and nothing inside them.
Work a wrapped function does in helpers it calls itself -- the CSS matching
``extract_table`` runs -- is attributed to that function.
"""

from __future__ import annotations

import array
import contextlib
import functools
import inspect
import json
import time

# extract_document's direct callees -> layer metric name.  Several functions
# may feed one layer; a callee not listed here is timed as part of
# ``extract.self``.
KERNEL_LAYERS = {
    "decode_html_bytes": "dom.decode",
    "parse_html": "dom.parse",
    "extract_main_text": "boilerplate.main_text",
    "extract_table": "tables.extract_table",
    "detect_grid_candidates": "tables.grid",
    "build_resolver": "css.build_resolver",
    "rules_from_sheets": "css.build_resolver",
    "extract_svg_shapes": "shapes",
    "extract_nested_lists": "shapes",
    "extract_charts": "charts",
    "from_ldjson_scripts": "structured",
    "from_microdata": "structured",
    "from_rdfa": "structured",
    "from_meta_tags": "structured",
    "from_link_alternates": "structured",
    "sniff_feed_kind": "feeds",
    "sniff_json_feed": "feeds",
    "sniff_robots": "feeds",
    "extract_feed": "feeds",
    "extract_json_feed": "feeds",
    "extract_robots": "feeds",
    "feed_main_text": "feeds",
    "canonical_json": "serialize.json",
    "sha256_hex": "serialize.sha256",
}
KERNEL_ROOT = "extract"

# every layer the kernel trace reports, whether or not a sample reaches it
KERNEL_LAYER_NAMES = sorted(set(KERNEL_LAYERS.values()))


class SpanRecorder:
    """Records nested spans of wrapped calls in one thread, in memory.

    Spans live in flat arrays, not one list object per span: many
    thousands of small containers would make the interpreter's cyclic
    garbage collector, and so the traced run, measurably slower."""

    def __init__(self):
        self.names: list = []
        self.parents = array.array("q")  # index of the enclosing span, or -1
        self.starts = array.array("q")
        self.ends = array.array("q")
        self._stack: list = []

    @property
    def spans(self) -> list:
        """``[name, parent, start_ns, end_ns]`` per span, in start order."""
        return [list(t) for t in zip(self.names, self.parents, self.starts, self.ends)]

    def wrap(self, name, fn):
        """``fn`` recording a span per call.  ``name`` is a string, or a
        function of the call's ``(args, kwargs)`` that returns one."""
        names, parents, starts, ends = self.names, self.parents, self.starts, self.ends
        stack = self._stack
        clock = time.perf_counter_ns
        name_of = name if callable(name) else None

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = len(names)
            names.append(name_of(args, kwargs) if name_of else name)
            parents.append(stack[-1] if stack else -1)
            ends.append(0)
            stack.append(idx)
            starts.append(clock())
            try:
                return fn(*args, **kwargs)
            finally:
                ends[idx] = clock()
                stack.pop()

        return wrapper

    @contextlib.contextmanager
    def patched(self, targets):
        """Replace ``(obj, attr, span name)`` targets with recording
        wrappers for the duration of the block, then restore them."""
        saved = []
        try:
            for obj, attr, name in targets:
                # restore the raw attribute (e.g. a staticmethod object),
                # not what attribute lookup returns
                saved.append((obj, attr, inspect.getattr_static(obj, attr)))
                setattr(obj, attr, self.wrap(name, getattr(obj, attr)))
            yield self
        finally:
            for obj, attr, original in reversed(saved):
                setattr(obj, attr, original)

    def totals(self) -> dict:
        """{name: {"s": total seconds, "self_s": seconds not covered by
        child spans, "calls": n}}.  A name nested in itself (recursion)
        counts only its outermost calls towards ``s``."""
        spans = self.spans
        child_ns = [0] * len(spans)
        for name, parent, start, end in spans:
            if parent >= 0:
                child_ns[parent] += end - start
        out: dict = {}
        for i, (name, parent, start, end) in enumerate(spans):
            t = out.setdefault(name, {"s": 0.0, "self_s": 0.0, "calls": 0})
            dur = end - start
            t["calls"] += 1
            t["self_s"] += (dur - child_ns[i]) / 1e9
            if not self._inside(parent, name):
                t["s"] += dur / 1e9
        return out

    def _inside(self, idx: int, name: str) -> bool:
        while idx >= 0:
            if self.names[idx] == name:
                return True
            idx = self.parents[idx]
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")


def kernel_targets():
    """Span targets for one document's kernel: extract_document as called by
    ``golden.extract_pdf``, and each of its direct callees by layer."""
    from exstruct_spark import golden
    from exstruct_spark.kernels import extract

    targets = [(golden, "extract_document", KERNEL_ROOT)]
    targets += [(extract, fn, layer) for fn, layer in KERNEL_LAYERS.items()]
    return targets


def job_targets(table_names: dict):
    """Span targets for the production job path (calls in the Spark driver).
    ``table_names`` maps a table path to the span name of writes to it."""
    from exstruct_spark import engine

    def write_name(args, kwargs):
        path = args[2] if len(args) > 2 else kwargs["path"]
        return table_names.get(path, "job.table_write")

    job = engine.ExtractionJob
    return [
        (job, "run", "job.run"),
        (job, "_stage_input", "job.stage_input"),
        (job, "_done_buckets", "job.lineage_read"),
        (job, "_run_wave", "job.wave"),
        (engine, "metrics_from_extracted", "job.metrics_plan"),
        (engine.TableIO, "write", write_name),
        (engine.TableIO, "read", "job.table_read"),
    ]

"""Spans around calls into each layer, recorded from the benchmark's files.

The traced run replaces a fixed list of module attributes with wrappers.
Each wrapper records a span (name, detail, parent, thread, start, end) and
sets the Spark local property ``perfbench.span`` to the span's id, so every
Spark job the call starts carries the id into the event log.  Local
properties are per thread, so jobs started from the waterfall's paired-level
and prep-prefetch threads are attributed by the wrappers that run inside
those threads.

A pass function returns a lazy DataFrame whose jobs run after it returns,
when the caller materialises it.  So when a span closes with no enclosing
span open in its thread, its tag stays set until the next wrapped call in
that thread; the report takes a span's end as the end of its last job.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass

PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    detail: str | None
    parent: int | None
    thread: str
    start: float          # epoch seconds, comparable with the event log
    end: float | None = None
    value: object = None  # what the wrapper's `before` hook returned


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def _state(self) -> dict:
        st = getattr(self._tls, "st", None)
        if st is None:
            main = threading.current_thread() is threading.main_thread()
            st = {"stack": self._main_stack if main else [], "last": None}
            self._tls.st = st
        return st

    def begin(self, name: str, detail: str | None = None,
              after_lingering: bool = False) -> Span:
        """Open a span.  Its parent is the innermost open span of this
        thread, else (with after_lingering) the span whose tag is still
        set in this thread, else the innermost open span of the main
        thread — the caller that started the worker thread."""
        st = self._state()
        if st["stack"]:
            parent = st["stack"][-1]
        elif after_lingering and st["last"] is not None:
            parent = st["last"]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            span = Span(next(self._ids), name, detail, parent,
                        threading.current_thread().name, time.time())
            self.spans.append(span)
        st["stack"].append(span.id)
        st["last"] = span.id
        self._sc.setLocalProperty(PROPERTY, str(span.id))
        return span

    def finish(self, span: Span) -> None:
        span.end = time.time()
        st = self._state()
        st["stack"].pop()
        if st["stack"]:
            st["last"] = st["stack"][-1]
            self._sc.setLocalProperty(PROPERTY, str(st["last"]))

    def wrap(self, owner, attr: str, name: str, detail=None, before=None,
             after_lingering=False) -> None:
        """Replace owner.attr with a traced wrapper.

        detail(args, kwargs) names the call (e.g. the pass name);
        before(args, kwargs) may edit kwargs and returns a value stored on
        the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            kept = before(args, kwargs) if before else None
            span = tracer.begin(
                name, detail(args, kwargs) if detail else None,
                after_lingering,
            )
            span.value = kept
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.finish(span)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, fn))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)
        self._sc.setLocalProperty(PROPERTY, None)


def _arg(i: int, key: str):
    def get(args, kwargs):
        v = kwargs.get(key, args[i] if len(args) > i else None)
        return None if v is None else str(v)
    return get


def _inject_metrics(args, kwargs):
    """run_waterfall(metrics={}) — its reported per-level residues."""
    if len(args) > 8:
        return args[8]
    if kwargs.get("metrics") is None:
        kwargs["metrics"] = {}
    return kwargs["metrics"]


def install(spark) -> Tracer:
    """Wrap the layer entry points.  ``pipeline.should_broadcast`` marks
    where run_waterfall's side materialisation (the standardisation
    layer's work) ends."""
    from address_matcher_spark import api
    from address_matcher_spark.operators import blocking
    from address_matcher_spark.plans import pipeline
    from address_matcher_spark.sources.checkpoint import CheckpointStore

    t = Tracer(spark.sparkContext)
    t.wrap(api, "match_addresses", "api.match_addresses")
    t.wrap(pipeline, "prepare_sides", "pipeline.prepare_sides")
    t.wrap(pipeline, "run_waterfall", "pipeline.run_waterfall",
           before=_inject_metrics)
    t.wrap(pipeline, "should_broadcast", "pipeline.should_broadcast")
    t.wrap(pipeline, "prep_ref_for_block", "pipeline.prep_ref_for_block",
           detail=_arg(1, "blocker"))
    t.wrap(pipeline, "fuzzy_pass", "pipeline.fuzzy_pass",
           detail=_arg(4, "pass_name"))
    t.wrap(pipeline, "field_pass", "pipeline.field_pass",
           detail=_arg(4, "pass_name"))
    t.wrap(pipeline, "scoring_npart", "pipeline.scoring_npart")
    t.wrap(blocking, "salt_for_cogroup_adaptive",
           "blocking.salt_for_cogroup_adaptive")
    # api imported cluster_records by name; wrap the name api calls
    t.wrap(api, "cluster_records", "cluster.cluster_records")
    t.wrap(CheckpointStore, "write", "checkpoint.write",
           detail=_arg(2, "stage"), after_lingering=True)
    return t

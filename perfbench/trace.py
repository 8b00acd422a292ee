"""Layer spans recorded from outside the engine, and their aggregation.

The traced run wraps the engine's public layer functions (see
``instrument``) so that every call opens a span: layer name, start,
end, parent, thread. Spark is lazy, so a layer's span wraps the ACTION
that materializes its plan — for the crawl that is the catalog write of
the layer's table. Each span also sets the Spark job group of its
thread, so the event log ties every job, stage and task to the span
(and through it to the layer) even when the driver runs the products
chain, the frontier chain and the bloom writer on three threads at once.

Spans stay in memory; ``layer_metrics`` joins them with the event log
after the session has stopped.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

# catalog table -> the layer whose action writes it
TABLE_LAYER = {
    "scheduled": "schedule",
    "seen_bloom": "bloom",
    "documents": "parse_spans",
    "doc_dedup_state": "textdedup",
    "mentions": "cascade",
    "page_stats": "cascade",
    "products": "attribution",
    "frontier": "frontier",
    "frontier_q": "frontier",
    "frontier_cursor": "frontier",
}
# the layers whose spans run inside the overlapped section of a round
CHAIN_LAYERS = ("cascade", "attribution", "frontier")
JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: str
    layer: str
    name: str
    parent: str | None
    thread: int
    start: float
    end: float = 0.0


def union_length(intervals) -> float:
    """Measure of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return (span.end - span.start) - union_length(clipped)


@dataclass
class Tracer:
    sc: object = None  # SparkContext; None records spans without job groups
    spans: list[Span] = field(default_factory=list)
    root_sid: str | None = None

    def __post_init__(self):
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def nested(self) -> bool:
        """True inside a layer span on this thread (the root excluded)."""
        return bool(self._stack())

    @contextlib.contextmanager
    def span(self, layer: str, name: str = "", root: bool = False):
        stack = self._stack()
        sid = f"pb-{next(self._ids)}"
        parent = stack[-1] if stack else (None if root else self.root_sid)
        sp = Span(sid, layer, name or layer, parent, threading.get_ident(), time.time())
        prev = self.sc.getLocalProperty(JOB_GROUP) if self.sc else None
        if self.sc:
            self.sc.setLocalProperty(JOB_GROUP, sid)
        if root:
            self.root_sid = sid
        else:
            stack.append(sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if not root:
                stack.pop()
            if self.sc:
                self.sc.setLocalProperty(JOB_GROUP, prev)
            with self._lock:
                self.spans.append(sp)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# instrumentation: patch the engine's public layer entry points
# ---------------------------------------------------------------------------


def _wrap(tracer: Tracer, fn, layer_of):
    """Run ``fn`` in a span unless this thread is already inside one (a
    nested call belongs to the enclosing layer). ``layer_of(args)`` names
    the (layer, span name)."""

    def wrapped(*args, **kwargs):
        if tracer.nested():
            return fn(*args, **kwargs)
        layer, name = layer_of(args, kwargs)
        with tracer.span(layer, name):
            return fn(*args, **kwargs)

    return wrapped


def _table_arg(args, kwargs) -> str:
    return kwargs.get("table", args[2] if len(args) > 2 else "")


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Patch the layer functions the crawl driver calls; restore on exit."""
    from webcrawlerfull_spark.sources.catalog import Catalog
    from webcrawlerfull_spark.streaming import delta_frontier, driver

    patches = []

    def patch(owner, attr, new):
        patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def write_layer(args, kwargs):
        table = _table_arg(args, kwargs)
        return TABLE_LAYER.get(table, "catalog"), table

    def catalog_layer(attr):
        return lambda args, kwargs: ("catalog", f"{attr}:{_table_arg(args, kwargs)}")

    patch(Catalog, "write_round", _wrap(tracer, Catalog.write_round, write_layer))
    for attr in ("write_round_local", "compact", "read_all", "read_round",
                 "read_bloom", "committed_rounds"):
        patch(Catalog, attr, _wrap(tracer, getattr(Catalog, attr), catalog_layer(attr)))
    for attr in ("backlog_and_bands", "compact"):
        fn = getattr(delta_frontier, attr)
        patch(delta_frontier, attr,
              _wrap(tracer, fn, lambda a, k, n=attr: ("delta_frontier", n)))

    # the doc-dedup stage's first action is a count() on the persisted
    # signature frame, not a write: wrap that frame's count
    dedup_signatures = driver.dedup_signatures

    def traced_signatures(*args, **kwargs):
        sigs = dedup_signatures(*args, **kwargs)
        sigs.count = _wrap(tracer, sigs.count, lambda a, k: ("textdedup", "signatures"))
        return sigs

    patch(driver, "dedup_signatures", traced_signatures)
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# event log -> per-span task counters
# ---------------------------------------------------------------------------

_ZERO = {
    "jobs": 0, "tasks": 0, "failed_tasks": 0, "task_cpu_s": 0.0,
    "task_wait_s": 0.0, "shuffle_mb": 0.0, "out_rows": 0, "out_mb": 0.0,
}


def read_event_log(log_dir: str) -> dict[str | None, dict]:
    """Counters per job group (a span id, or None for ungrouped jobs)."""
    stage_group: dict[tuple, str | None] = {}
    stage_submit: dict[tuple, float] = {}
    out: dict[str | None, dict] = {}

    def acc(group):
        return out.setdefault(group, dict(_ZERO))

    files = sorted(
        os.path.join(d, f) for d, _, names in os.walk(log_dir) for f in names
        if not f.startswith(("appstatus", "."))
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    acc((ev.get("Properties") or {}).get(JOB_GROUP))["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_group[key] = (ev.get("Properties") or {}).get(JOB_GROUP)
                    stage_submit[key] = info.get("Submission Time") or 0
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    a = acc(stage_group.get(key))
                    info = ev["Task Info"]
                    a["tasks"] += 1
                    a["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
                    launch = info.get("Launch Time") or 0
                    if key in stage_submit and launch:
                        a["task_wait_s"] += max(0, launch - stage_submit[key]) / 1e3
                    m = ev.get("Task Metrics") or {}
                    a["task_cpu_s"] += (m.get("Executor CPU Time", 0) or 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_mb"] += (sw.get("Shuffle Bytes Written", 0) or 0) / 2**20
                    om = m.get("Output Metrics") or {}
                    a["out_rows"] += om.get("Records Written", 0) or 0
                    a["out_mb"] += (om.get("Bytes Written", 0) or 0) / 2**20
    return out


def layer_metrics(spans: list[Span], groups: dict, reps: int) -> dict[str, float]:
    """Per-layer ``wall_s`` (union of its spans), the driver's ``self_s``
    (root spans minus the union of every layer span), event-log counters,
    and ``driver.overlap``. Values are per repetition (``reps`` roots)."""
    # measured roots are the benchmark's "driver" spans (one per crawl or
    # query pass); other roots (warm-up, output checks) and their
    # children are left out. Jobs in no span at all go to the driver.
    roots = [s for s in spans if s.parent is None and s.layer == "driver"]
    root_sids = {s.sid for s in roots}
    children = [s for s in spans if s.parent in root_sids]
    layer_of = {s.sid: s.layer for s in roots + children}
    skipped = {s.sid for s in spans} - set(layer_of)
    counters: dict[str, dict] = {}
    for group, c in groups.items():
        if group in skipped:
            continue
        acc = counters.setdefault(layer_of.get(group, "driver"), dict(_ZERO))
        for k, v in c.items():
            acc[k] += v
    out: dict[str, float] = {
        "driver.wall_s": sum(r.end - r.start for r in roots) / reps,
        "driver.self_s": sum(self_time(r, children) for r in roots) / reps,
        "driver.overlap": overlap(children),
    }
    for layer in {s.layer for s in children}:
        out[f"{layer}.wall_s"] = union_length(
            (s.start, s.end) for s in children if s.layer == layer
        ) / reps
    for layer, c in counters.items():
        for k, v in c.items():
            out[f"{layer}.{k}"] = v / reps
    return out


def overlap(spans: list[Span]) -> float:
    """Summed chain-span time in each round's overlapped section divided
    by that section's wall, over all rounds. A round is the interval up
    to its commit marker (the ``lineage`` local write)."""
    markers = sorted(s.end for s in spans if s.name.endswith(":lineage"))
    chain = [s for s in spans if s.layer in CHAIN_LAYERS]
    busy = wall = 0.0
    lo = float("-inf")
    for hi in markers:
        sec = [s for s in chain if lo <= s.start < hi]
        if sec:
            busy += sum(s.end - s.start for s in sec)
            wall += max(s.end for s in sec) - min(s.start for s in sec)
        lo = hi
    return busy / wall if wall else 0.0

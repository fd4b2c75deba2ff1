"""Spans around calls into the engine's layers, with Spark counters.

The traced run (``--trace 1``) installs wrappers around the public entry
points of each layer (``CdcEngine`` epochs, ``apply_batch``, ``LakeTable``
writes/reads/snapshots, the metadata store, the full-text sink) from the
outside: the program's modules are not edited. Spans live in memory and
are written out when the run ends. Spark work is attributed afterwards:
every job and stage the status store kept is assigned to the innermost
span that was open when it was submitted, so per-span counts (jobs,
tasks, shuffle bytes, task time, GC time) come from Spark itself.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable


class Tracer:
    """In-memory span recorder. A span is ``{id, name, parent, request,
    start, end, attrs}``; spans of one request (one root span and what
    it caused) share the root's id as ``request``. The stack of open
    spans is per thread, so the streaming thread's epochs are roots of
    their own requests."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict[str, Any]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs: Any):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        sp = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else sid,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def replace(self, owner: object, attr: str, new: object) -> None:
        """Set ``owner.attr`` to ``new`` until :meth:`unwrap_all`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner: object, attr: str, name: str,
             attrs_of: Callable[..., dict] | None = None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until
        :meth:`unwrap_all`. ``attrs_of(*args, **kwargs)`` adds span
        attributes from the call's arguments."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            extra = attrs_of(*args, **kwargs) if attrs_of else {}
            with tracer.span(name, **extra):
                return original(*args, **kwargs)

        self.replace(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap each layer's entry points. Names follow the module that owns
    the function (``cdc.engine``, ``cdc.apply``, ``lake.table``,
    ``lake.metastore``, ``cdc.fulltext``)."""
    from rook_spark.cdc import engine as engine_mod
    from rook_spark.cdc.fulltext import InvertedIndex
    from rook_spark.lake.metastore import PosixMetadataStore
    from rook_spark.lake.table import LakeTable

    def table_path(self, *a, **k):
        return {"path": self.path}

    # one epoch = one CdcEngine._apply call, whether it came from
    # replay() or from the streaming foreachBatch
    tracer.wrap(engine_mod.CdcEngine, "_apply", "cdc.engine.replay")
    tracer.wrap(engine_mod, "apply_batch", "cdc.apply.apply_batch")
    for meth in ("merge", "merge_mor", "compact", "snapshot", "read",
                 "row_count", "changes"):
        tracer.wrap(LakeTable, meth, f"lake.table.{meth}", table_path)
    tracer.wrap(PosixMetadataStore, "read", "lake.metastore.read")
    tracer.wrap(PosixMetadataStore, "read_blob", "lake.metastore.read_blob")
    tracer.wrap(PosixMetadataStore, "commit", "lake.metastore.commit")
    tracer.wrap(PosixMetadataStore, "put_blob", "lake.metastore.put_blob",
                lambda self, key, payload: {"bytes": len(payload)})

    original_sink = InvertedIndex.sink

    def sink(self):
        fn = original_sink(self)

        def traced_fn(flat, batch_id, run_id=""):
            with tracer.span("cdc.fulltext.sink"):
                return fn(flat, batch_id, run_id=run_id)

        return traced_fn

    tracer.replace(InvertedIndex, "sink", sink)


# spans that only touch driver-side metadata never run Spark jobs; they
# are left out of job attribution so a metadata read that happens to
# overlap a job's submission cannot steal it from its real owner
_METADATA_SPANS = ("lake.metastore.", "lake.table.snapshot")

_STAGE_COUNTERS = {
    "tasks": "numCompleteTasks",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "task_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
}


def spark_activity(spark) -> tuple[list[dict], list[dict]]:
    """All jobs and stages the status store retained, as dicts (the REST
    API's JSON shape). Waits for the listener bus to drain first, so
    every finished job is accounted."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_module.__getattr__("MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())))
    return jobs, stages


def attribute_spark(spans: list[dict], jobs: list[dict], stages: list[dict]) -> None:
    """Add ``self_counters`` to each span: the jobs and stages submitted
    while it was the innermost open (non-metadata) span. With spans from
    several threads open at once, the most recently started one wins —
    the streaming epoch over the benchmark's enclosing phase span."""
    owners = sorted(
        (s for s in spans if not s["name"].startswith(_METADATA_SPANS)),
        key=lambda s: s["start"],
    )
    for s in spans:
        s["self_counters"] = dict.fromkeys(("jobs", *_STAGE_COUNTERS), 0)

    def owner_at(t_ms: float) -> dict | None:
        t = t_ms / 1000.0
        best = None
        for s in owners:
            if s["start"] > t:
                break
            if s["end"] is not None and s["end"] >= t:
                best = s
        return best

    for job in jobs:
        if job.get("submissionTime") is None:
            continue
        s = owner_at(job["submissionTime"])
        if s is not None:
            s["self_counters"]["jobs"] += 1
    for st in stages:
        if st.get("submissionTime") is None or st.get("status") == "SKIPPED":
            continue
        s = owner_at(st["submissionTime"])
        if s is None:
            continue
        for key, field in _STAGE_COUNTERS.items():
            s["self_counters"][key] += int(st.get(field) or 0)


class SpanIndex:
    """Queries over a finished span list: inclusive counters, self time,
    and selection by name / ancestor."""

    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    def named(self, name: str, under: str | None = None) -> list[dict]:
        """Spans called ``name``, optionally only those below a span
        called ``under``."""
        return [s for s in self.spans
                if s["name"] == name and (under is None or under in self.ancestors(s))]

    def ancestors(self, s: dict) -> set[str]:
        names = set()
        p = s["parent"]
        while p is not None:
            ps = self.by_id.get(p)
            if ps is None:
                break
            names.add(ps["name"])
            p = ps["parent"]
        return names

    def counters(self, s: dict) -> dict[str, int]:
        """Counters of ``s`` and every span below it."""
        total = dict(s.get("self_counters", {}))
        for c in self.children.get(s["id"], []):
            for k, v in self.counters(c).items():
                total[k] = total.get(k, 0) + v
        return total

    def self_time(self, s: dict) -> float:
        """Duration minus the part of it the child spans cover."""
        ivs = sorted((c["start"], c["end"]) for c in self.children.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    @staticmethod
    def duration(spans: list[dict]) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    def total(self, spans: list[dict], key: str) -> int:
        return sum(self.counters(s).get(key, 0) for s in spans)

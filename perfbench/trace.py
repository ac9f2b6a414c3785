"""Per-layer tracing from outside the library.

Instruments, all installed by the benchmark and none inside the library:

- a wrapper around every public function of each traced module, which
  records a span (layer, wall interval, Py4J calls) and tags the Spark
  jobs issued inside it with the span's id (``SparkContext.addJobTag``);
- an op root span per traced op, whose tag bills the jobs issued outside
  any wrapped call (a ``collect`` of a lazy frame) to the op's layer;
- a Py4J call counter wrapped around ``ClientServerConnection.send_command``;
- the Spark event log (zstd-compressed, parsed as a stream after the
  session stops), which gives each tagged job's stages, tasks and blocks.

Wrappers stay installed for the whole run and cost one flag test when
the tracer is inactive, so plain and traced ops can alternate in one run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import time

LAYER_MODULES = {
    "utils": "alphalens_spark.utils",
    "performance": "alphalens_spark.performance",
    "tears": "alphalens_spark.tears",
    "scale.dedup": "alphalens_spark.scale.dedup",
    "scale.text": "alphalens_spark.scale.text",
    "scale.profile": "alphalens_spark.scale.profile",
    "scale.curation": "alphalens_spark.scale.curation",
    "scale.similarity": "alphalens_spark.scale.similarity",
    "scale.affinity": "alphalens_spark.scale.affinity",
    "graph": "alphalens_spark.graph",
}
LAYER_METRICS = (
    ("calls", "count"),
    ("self_s", "s"),
    ("py4j_calls", "count"),
    ("jobs", "count"),
    ("stages", "count"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
    ("driver_s", "s"),
)
TAG_PREFIX = "perfbench-span-"


class Span:
    __slots__ = ("id", "layer", "is_op", "t0", "t1", "py4j", "child_s", "child_py4j")

    def __init__(self, span_id: int, layer: str, is_op: bool):
        self.id, self.layer, self.is_op = span_id, layer, is_op
        self.t0 = self.t1 = 0.0
        self.py4j = self.child_s = self.child_py4j = 0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.py4j = 0
        self._counting = False
        self._install_py4j_counter()
        for layer, mod in LAYER_MODULES.items():
            self._wrap_module(layer, importlib.import_module(mod))

    # -- instruments --------------------------------------------------------

    def _install_py4j_counter(self) -> None:
        from py4j.clientserver import ClientServerConnection

        original = ClientServerConnection.send_command
        tracer = self

        @functools.wraps(original)
        def send_command(conn, command, *args, **kwargs):
            if tracer._counting:
                tracer.py4j += 1
            return original(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = send_command

    def _wrap_module(self, layer: str, module) -> None:
        for name, fn in list(vars(module).items()):
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != module.__name__:
                continue
            setattr(module, name, self._wrap(layer, fn))

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer._enter(layer, False)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(span)

        return wrapper

    def _set_tag(self, old: Span | None, new: Span | None) -> None:
        counting, self._counting = self._counting, False
        if old is not None:
            self.sc.removeJobTag(f"{TAG_PREFIX}{old.id}")
        if new is not None:
            self.sc.addJobTag(f"{TAG_PREFIX}{new.id}")
        self._counting = counting

    def _enter(self, layer: str, is_op: bool) -> Span:
        span = Span(len(self.spans), layer, is_op)
        self.spans.append(span)
        self._set_tag(self.stack[-1] if self.stack else None, span)
        self.stack.append(span)
        span.py4j = self.py4j
        span.t0 = time.time()
        return span

    def _exit(self, span: Span) -> None:
        span.t1 = time.time()
        span.py4j = self.py4j - span.py4j
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        self._set_tag(span, parent)
        if parent is not None:
            parent.child_s += span.t1 - span.t0
            parent.child_py4j += span.py4j

    @contextlib.contextmanager
    def op(self, layer: str):
        """Trace one op, billed to ``layer``."""
        self.active = self._counting = True
        span = self._enter(layer, True)
        try:
            yield
        finally:
            self._exit(span)
            self.active = self._counting = False

    # -- report -------------------------------------------------------------

    def layer_metrics(self, event_dir: str) -> tuple[dict, dict]:
        """Per-layer metrics over the traced ops, and the checkpoint
        block totals, from the spans and the event log."""
        spans = {s.id: s for s in self.spans}
        ev = parse_event_log(event_dir, {f"{TAG_PREFIX}{i}": i for i in spans})
        out = {layer: {m: 0.0 for m, _ in LAYER_METRICS} for layer in LAYER_MODULES}
        job_spans: dict[int, list] = {}
        for job in ev["jobs"].values():
            job_spans.setdefault(job["span"], []).append((job["t0"] / 1e3, job["t1"] / 1e3))
            out[spans[job["span"]].layer]["jobs"] += 1
        for st in ev["stages"].values():
            m = out[spans[st["span"]].layer]
            m["stages"] += 1
            m["task_cpu_s"] += st["cpu_ns"] / 1e9
            m["gc_s"] += st["gc_ms"] / 1e3
            m["shuffle_write_mb"] += st["shuffle_write"] / 1e6
            m["spill_mb"] += st["spill"] / 1e6
            durations = st["durations"]
            if len(durations) >= 2 and statistics.median(durations) > 0:
                m["task_skew"] = max(m["task_skew"], max(durations) / statistics.median(durations))
        for s in self.spans:
            if s.is_op:
                continue
            m = out[s.layer]
            self_s = (s.t1 - s.t0) - s.child_s
            m["calls"] += 1
            m["self_s"] += self_s
            m["py4j_calls"] += s.py4j - s.child_py4j
            busy = union_length([(max(a, s.t0), min(b, s.t1)) for a, b in job_spans.get(s.id, [])])
            m["driver_s"] += max(0.0, self_s - busy)
        return out, ev["checkpoint"]


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _span_of(props: dict, tags: dict):
    for tag in (props or {}).get("spark.job.tags", "").split(","):
        if tag in tags:
            return tags[tag]
    return None


def iter_events(event_dir: str):
    """Stream the event log's JSON events, one zstd-compressed (rolling)
    file at a time."""
    import pyarrow as pa

    files = sorted(
        glob.glob(os.path.join(event_dir, "**", "events_*.zstd"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    for path in files:
        with pa.CompressedInputStream(pa.OSFile(path), "zstd") as stream:
            pending = b""
            while True:
                chunk = stream.read(1 << 20)
                if not chunk:
                    break
                lines = (pending + chunk).split(b"\n")
                pending = lines.pop()
                for line in lines:
                    if line:
                        yield json.loads(line)
            if pending.strip():
                yield json.loads(pending)


def parse_event_log(event_dir: str, tags: dict) -> dict:
    jobs: dict = {}
    stages: dict = {}
    active_jobs: set = set()
    blocks: dict = {}  # rdd id -> [n blocks, bytes] written while a traced job ran
    unnamed_stored_rdds: set = set()
    for e in iter_events(event_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = _span_of(e.get("Properties"), tags)
            if span is not None:
                jobs[e["Job ID"]] = {"span": span, "t0": e["Submission Time"], "t1": e["Submission Time"]}
                active_jobs.add(e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["t1"] = e["Completion Time"]
                active_jobs.discard(e["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            span = _span_of(e.get("Properties"), tags)
            if span is not None:
                sid = e["Stage Info"]["Stage ID"], e["Stage Info"]["Stage Attempt ID"]
                stages[sid] = {"span": span, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
                               "spill": 0, "durations": []}
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            tm = e.get("Task Metrics")
            if st is None or not tm:
                continue
            st["cpu_ns"] += tm["Executor CPU Time"]
            st["gc_ms"] += tm["JVM GC Time"]
            st["shuffle_write"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            st["spill"] += tm["Disk Bytes Spilled"]
            info = e["Task Info"]
            st["durations"].append(info["Finish Time"] - info["Launch Time"])
        elif kind == "SparkListenerStageCompleted":
            for rdd in e["Stage Info"]["RDD Info"]:
                level = rdd["Storage Level"]
                # Dataset.localCheckpoint stores an unnamed mapped RDD;
                # a persisted DataFrame's RDD is named by its plan
                if (level["Use Memory"] or level["Use Disk"]) and rdd["Name"] == "MapPartitionsRDD":
                    unnamed_stored_rdds.add(rdd["RDD ID"])
        elif kind == "SparkListenerBlockUpdated" and active_jobs:
            info = e["Block Updated Info"]
            bid = info["Block ID"]
            size = info["Memory Size"] + info["Disk Size"]
            if bid.startswith("rdd_") and size > 0:
                b = blocks.setdefault(int(bid.split("_")[1]), [0, 0])
                b[0] += 1
                b[1] += size
    ck = [blocks[r] for r in blocks if r in unnamed_stored_rdds]
    return {
        "jobs": jobs,
        "stages": stages,
        "checkpoint": {"blocks": sum(b[0] for b in ck), "mb": sum(b[1] for b in ck) / 1e6},
    }

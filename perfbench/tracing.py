"""Traced-run instrumentation, kept entirely in the benchmark's files.

Two sources feed the per-layer metrics:

- ``Tracer`` wraps the public functions through which one module of
  ``elephant_twin_spark`` calls another (``TARGETS``). Each wrapped call
  records a span (name, start, end, parent) and sets the Spark job
  description to its name, so the jobs it launches can be attributed.
  ``Tracer`` is a context manager: leaving it puts every original
  function back.
- Every operation runs in its own Spark job group. After the session
  stops, ``read_event_log`` folds the uncompressed event log
  (``spark.eventLog.compress=false``) into per-group job, stage and
  task metrics.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

# (module, attribute path, span name). The span name's first dotted
# part is the layer, named after the module it belongs to.
TARGETS: Tuple[Tuple[str, str, str], ...] = (
    ("elephant_twin_spark.engine", "Engine.query", "engine.query"),
    ("elephant_twin_spark.engine", "Engine.count", "engine.count"),
    ("elephant_twin_spark.sources.fsio", "list_data_files", "sources.list_data_files"),
    ("elephant_twin_spark.sources.catalog", "read_descriptor", "sources.read_descriptor"),
    ("elephant_twin_spark.sources.fsio", "acquire_build_lease", "sources.lease"),
    ("elephant_twin_spark.sources.fsio", "renew_build_lease", "sources.lease"),
    ("elephant_twin_spark.sources.fsio", "release_build_lease", "sources.lease"),
    ("elephant_twin_spark.sources.fsio", "publish_dir", "sources.publish_dir"),
    ("elephant_twin_spark.operators.scan", "query", "scan.query"),
    ("elephant_twin_spark.operators.scan", "count", "scan.count"),
    ("elephant_twin_spark.operators.build", "read_postings", "build.read_postings"),
    ("elephant_twin_spark.operators.build", "read_zones", "build.read_zones"),
    ("elephant_twin_spark.operators.build", "read_bloom_sketch", "build.read_bloom_sketch"),
    ("elephant_twin_spark.operators.build", "postings_for", "build.postings_for"),
    ("elephant_twin_spark.operators.build", "zones_for", "build.zones_for"),
    ("elephant_twin_spark.operators.build", "bloom_sketch_for", "build.bloom_sketch_for"),
    ("elephant_twin_spark.operators.build", "write_range_partitioned",
     "build.write_range_partitioned"),
    ("elephant_twin_spark.operators.text", "TextIndex.count", "text.count"),
    ("elephant_twin_spark.operators.text", "TextIndex.top_n", "text.top_n"),
    ("elephant_twin_spark.operators.text", "postings_for", "text.postings_for"),
    ("elephant_twin_spark.operators.text", "doclens_for", "text.doclens_for"),
    ("elephant_twin_spark.operators.ann", "AnnIndex.topk", "ann.topk"),
    ("elephant_twin_spark.streaming.refresh", "refresh_block_index", "refresh.block"),
    ("elephant_twin_spark.streaming.refresh", "refresh_zone_index", "refresh.zone"),
    ("elephant_twin_spark.streaming.refresh", "refresh_bloom_index", "refresh.bloom"),
    ("elephant_twin_spark.streaming.refresh", "refresh_text_index", "refresh.text"),
    ("elephant_twin_spark.streaming.refresh", "refresh_lsh_index", "refresh.lsh"),
    ("elephant_twin_spark.streaming.refresh", "refresh_ann_index", "refresh.ann"),
    ("elephant_twin_spark.operators.lsh", "LshIndex.gate", "lsh.gate"),
    ("elephant_twin_spark.operators.lsh", "LshIndex.candidate_pairs", "lsh.candidate_pairs"),
    ("elephant_twin_spark.operators.lsh", "LshIndex.append_docs", "lsh.append_docs"),
    ("elephant_twin_spark.streaming.gate", "gate_batch", "gate.gate_batch"),
    ("elephant_twin_spark.operators.pipeline.clean", "clean_corpus", "pipeline.clean_corpus"),
    ("elephant_twin_spark.operators.pipeline.dedup", "minhash_signatures",
     "pipeline.minhash_signatures"),
    ("elephant_twin_spark.operators.pipeline.dedup", "minhash_near_dup_pairs",
     "pipeline.minhash_near_dup_pairs"),
    ("elephant_twin_spark.operators.lifecycle", "pin", "lifecycle.pin"),
)

_DESC = "spark.job.description"
_GROUP = "spark.jobGroup.id"

#: counts taken from a wrapped call's result, in a job group of their
#: own so no operation is charged for them: span name -> (count name,
#: function of the result). ``candidate_pairs`` returns a pinned frame,
#: so counting it reads the pin.
PROBES = {"lsh.candidate_pairs": ("lsh.candidates", lambda df: df.count())}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None  # index into Op.spans
    child_s: float = 0.0  # time covered by direct children

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Op:
    """One operation of the closed loop: its kind, its job group, its
    wall interval (epoch ms, comparable with event-log timestamps) and
    the spans recorded while it ran."""

    kind: str
    group: str
    t0_ms: float = 0.0
    t1_ms: float = 0.0
    spans: List[Span] = field(default_factory=list)
    counts: Dict[str, float] = field(default_factory=dict)


class NullTracer:
    """The untraced run: operations and spans cost nothing."""

    def __init__(self):
        self.ops: List[Op] = []

    @contextlib.contextmanager
    def op(self, kind: str):
        yield None

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def count(self, name: str, value: float) -> None:
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _resolve(module: str, path: str):
    owner = importlib.import_module(module)
    parts = path.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


class Tracer(NullTracer):
    """Records spans at the wrapped module boundaries and tags every
    Spark job with its operation (job group) and innermost wrapped call
    (job description)."""

    def __init__(self, sc):
        self.sc = sc
        self.ops: List[Op] = []
        self._current: Optional[Op] = None
        self._stack: List[int] = []
        self._saved: List[Tuple[object, str, object]] = []

    # ----------------------------------------------------------- wrapping
    def __enter__(self):
        try:
            for module, path, name in TARGETS:
                owner, attr = _resolve(module, path)
                orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
                self._saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name))
        except BaseException:
            self.__exit__()
            raise
        return self

    def __exit__(self, *exc):
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)
        return False

    def _wrap(self, fn, name: str):
        tracer = self
        probe = PROBES.get(name)

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if probe is not None:
                tracer._probe(probe[0], probe[1], out)
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        wrapper.__doc__ = getattr(fn, "__doc__", None)
        return wrapper

    # -------------------------------------------------------------- spans
    def _set_local(self, key: str, value: Optional[str]) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(key, value)

    @contextlib.contextmanager
    def op(self, kind: str):
        op = Op(kind, f"op{len(self.ops)}")
        self.ops.append(op)
        self._current, self._stack = op, []
        self._set_local(_GROUP, op.group)
        self._set_local(_DESC, kind)
        op.t0_ms = time.time() * 1000.0
        try:
            yield op
        finally:
            op.t1_ms = time.time() * 1000.0
            self._set_local(_GROUP, None)
            self._set_local(_DESC, None)
            self._current = None

    @contextlib.contextmanager
    def span(self, name: str):
        op = self._current
        if op is None:  # outside an operation (setup, oracle): not traced
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent)
        op.spans.append(sp)
        self._stack.append(len(op.spans) - 1)
        prev = self.sc.getLocalProperty(_DESC) if self.sc is not None else None
        self._set_local(_DESC, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_local(_DESC, prev)
            if parent is not None:
                op.spans[parent].child_s += sp.dur

    def _probe(self, name: str, fn, result) -> None:
        if self._current is None:
            return
        group = self.sc.getLocalProperty(_GROUP) if self.sc is not None else None
        self._set_local(_GROUP, "probe")
        try:
            self.count(name, fn(result))
        finally:
            self._set_local(_GROUP, group)

    def count(self, name: str, value: float) -> None:
        """A count recorded at a layer boundary by the workload (e.g. the
        scan metrics ``Engine.last_metrics`` reports)."""
        if self._current is not None:
            c = self._current.counts
            c[name] = c.get(name, 0) + value


# ---------------------------------------------------------------- event log
@dataclass
class JobGroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: List[Tuple[float, float]] = field(default_factory=list)
    jobs_by_call: Dict[str, int] = field(default_factory=dict)


def read_event_log(log_dir: str) -> Dict[str, JobGroupStats]:
    """Fold an uncompressed Spark event log into per-job-group stats.
    Stages and tasks are attributed through the submitting stage's
    properties, so a stage skipped because its output was reused counts
    nowhere."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if os.path.isdir(path):  # rolling layout: events_<n>_<app> files
        files = sorted(
            (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    else:
        files = [path]
    groups: Dict[str, JobGroupStats] = {}
    stage_group: Dict[Tuple[int, int], str] = {}
    job_group: Dict[int, Tuple[str, float]] = {}
    for fp in files:
        with open(fp) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get(_GROUP)
                    if g is None:
                        continue
                    st = groups.setdefault(g, JobGroupStats())
                    st.jobs += 1
                    call = props.get(_DESC) or "?"
                    st.jobs_by_call[call] = st.jobs_by_call.get(call, 0) + 1
                    job_group[ev["Job ID"]] = (g, ev["Submission Time"])
                elif kind == "SparkListenerJobEnd":
                    g_t = job_group.pop(ev["Job ID"], None)
                    if g_t is not None:
                        groups[g_t[0]].job_intervals.append((g_t[1], ev["Completion Time"]))
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    g = props.get(_GROUP)
                    info = ev["Stage Info"]
                    if g is not None:
                        stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
                    if g is not None:
                        groups[g].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    if g is None:
                        continue
                    st = groups[g]
                    st.tasks += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        st.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups


def union_ms(intervals: List[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

"""Metric definitions and their computation.

``END_TO_END`` and ``PER_LAYER`` are the lists BENCHMARK.json declares
(a self-test keeps the two in step). End-to-end metrics apply to every
workload; "op" is the workload's unit of work: one pass over the
10-query mix on ``lookup`` (a median over single queries of ten kinds
jumps between the kinds' latencies), one append-and-refresh batch on
``append_refresh``, one gated ingest batch on ``dedup_gate``.

Every run makes the same steps: a fixed warm-up and a fixed number of
measured operations. Steps run past them to fill ``--seconds`` are
checked but left out of every figure.

Per-layer metrics come from a traced run, per step (one query on
``lookup``, one batch on the others). Three aggregations:
- ``.calls`` (wrapped calls into the module) and other counts: per step,
  over the warm-up and measured steps, so they repeat exactly for a
  seed;
- ``.s`` and ``self_s``: seconds per measured step;
- ``.p50_s``: median duration of the named call over measured steps (0
  when the workload never makes it).
"""

from __future__ import annotations

import statistics
from typing import Dict, List, Sequence

from tracing import TARGETS, Op, union_ms

_WRAPPED = {name for _, _, name in TARGETS}

# name, unit, better, bound. Operation latency (``op_p50_s``,
# ``ops_per_s``) is reported beside them but not gated: other tenants of
# this 4-vCPU machine stretch wall time by up to 70% for whole runs, and
# ten seeds then spread it by more than any bound allowed. CPU time per
# operation spreads by 0.05 to 0.15 on the same runs (README.md).
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("cpu_s_per_op", "s", "lower", 0.24),
)

LAYERS = ("engine", "sources", "scan", "build", "text", "ann", "refresh", "lsh", "gate",
          "pipeline", "lifecycle")

_SECONDS = (  # total seconds per measured op in the named spans
    ("engine.plan_s", ("engine.query",)),
    ("engine.exec_s", ("engine.exec", "engine.count")),
    ("sources.list_data_files.s", ("sources.list_data_files",)),
    ("sources.read_descriptor.s", ("sources.read_descriptor",)),
    ("sources.lease_publish_s", ("sources.lease", "sources.publish_dir")),
    ("build.read_postings.s", ("build.read_postings",)),
    ("build.read_zones.s", ("build.read_zones",)),
    ("build.read_bloom_sketch.s", ("build.read_bloom_sketch",)),
    ("build.postings_for.s", ("build.postings_for",)),
    ("build.zones_for.s", ("build.zones_for",)),
    ("build.bloom_sketch_for.s", ("build.bloom_sketch_for",)),
    ("build.write_range_partitioned.s", ("build.write_range_partitioned",)),
    ("text.postings_for.s", ("text.postings_for",)),
    ("text.doclens_for.s", ("text.doclens_for",)),
)
_CALLS = (  # calls per op
    ("sources.list_data_files.calls", "sources.list_data_files"),
    ("sources.read_descriptor.calls", "sources.read_descriptor"),
    ("lifecycle.pin.calls", "lifecycle.pin"),
)
_P50 = (  # median span duration
    ("text.count.p50_s", "text.count"),
    ("text.top_n.p50_s", "text.top_n_collect"),
    ("ann.topk.p50_s", "ann.topk_collect"),
    ("refresh.block.p50_s", "refresh.block"),
    ("refresh.zone.p50_s", "refresh.zone"),
    ("refresh.bloom.p50_s", "refresh.bloom"),
    ("refresh.text.p50_s", "refresh.text"),
    ("refresh.lsh.p50_s", "refresh.lsh"),
    ("refresh.ann.p50_s", "refresh.ann"),
    ("gate.gate_batch.p50_s", "gate.gate_batch"),
    ("lsh.gate.p50_s", "lsh.gate"),
    ("lsh.candidate_pairs.p50_s", "lsh.candidate_pairs"),
    ("lsh.append_docs.p50_s", "lsh.append_docs"),
    ("pipeline.clean_corpus.p50_s", "pipeline.clean_corpus"),
    ("pipeline.minhash_signatures.p50_s", "pipeline.minhash_signatures"),
    ("pipeline.minhash_near_dup_pairs.p50_s", "pipeline.minhash_near_dup_pairs"),
)
_SPARK_COUNTS = ("jobs", "stages", "tasks", "failed_tasks", "input_bytes",
                 "shuffle_write_bytes", "spill_bytes")
_SPARK_TIMES = ("executor_cpu_s", "executor_run_s", "driver_only_s")


def _per_layer_spec():
    out = []
    out += [(n, "s", "lower") for n, _ in _SECONDS]
    out += [(n, "count", "lower") for n, _ in _CALLS]
    out += [(n, "s", "lower") for n, _ in _P50]
    out += [
        ("scan.files_scanned", "count", "lower"),
        ("scan.bytes_ratio", "ratio", "higher"),
        ("scan.stale_files", "count", "lower"),
        ("lsh.candidates_per_probe", "count", "lower"),
        ("lsh.verified_ratio", "ratio", "higher"),
        ("lifecycle.storage_blocks", "count", "lower"),
    ]
    out += [(f"{layer}.calls", "count", "lower") for layer in LAYERS]
    out += [(f"{layer}.self_s", "s", "lower") for layer in LAYERS]
    out += [(f"spark.{n}", "bytes" if n.endswith("_bytes") else "count", "lower")
            for n in _SPARK_COUNTS]
    out += [(f"spark.{n}", "s", "lower") for n in _SPARK_TIMES]
    # peak RSS moves by more than a tenth between seeds, so it is a
    # per-layer figure here and not an end-to-end bound
    out += [("spark.jvm_peak_rss_mb", "MB", "lower")]
    out += [("traced.op_p50_s", "s", "lower"), ("traced.ops_per_s", "1/s", "higher"),
            ("traced.cpu_s_per_op", "s", "lower")]
    return tuple(out)


PER_LAYER = _per_layer_spec()

#: per-layer metrics that are counts: they must repeat exactly between
#: two traced runs of one seed
COUNT_METRICS = tuple(n for n, u, _ in PER_LAYER if u in ("count", "bytes", "ratio"))


def quantile(values: Sequence[float], q: float) -> float:
    """Nearest-rank quantile (a value that was measured)."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q * len(v) + 0.5)) - 1))]


_TICKS = 100.0  # /proc/stat ticks per second


def steal_share(records, n_cpus: int) -> float:
    """Share of the machine's CPU time the hypervisor gave to other
    tenants while ``records`` ran (reported, not corrected for)."""
    busy = sum(r.seconds for r in records) * n_cpus * _TICKS
    return sum(r.steal_ticks for r in records) / busy if busy else 0.0


def operations(steps, op_steps: int) -> List[list]:
    """Consecutive groups of ``op_steps`` measured steps."""
    return [steps[i:i + op_steps] for i in range(0, len(steps), op_steps)]


def end_to_end(setup_s: float, ops) -> Dict:
    """Setup time and the latency, throughput and CPU of ``ops`` (lists
    of steps). Throughput is per second of operation time, so the
    untimed oracle between steps does not count."""
    seconds = [sum(r.seconds for r in op) for op in ops]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(seconds), "s"),
        "ops_per_s": (len(seconds) / sum(seconds), "1/s"),
        "cpu_s_per_op": (sum(r.cpu_s for op in ops for r in op) / len(ops), "s"),
    }


def per_layer(win: List[Op], measured: List[bool], groups: Dict,
              traced_e2e: Dict, jvm_peak_rss_mb: float) -> Dict:
    """Fold spans, workload counts and event-log stats into PER_LAYER.
    ``win`` are the traced steps every run makes (warm-up and measured),
    ``measured`` flags the measured ones."""
    meas = [op for op, m in zip(win, measured) if m]
    n_meas, n_win = max(1, len(meas)), max(1, len(win))

    def spans(op_list, names):
        return [s for op in op_list for s in op.spans if s.name in names]

    out: Dict[str, float] = {}
    for name, span_names in _SECONDS:
        out[name] = sum(s.dur for s in spans(meas, span_names)) / n_meas
    for name, span_name in _CALLS:
        out[name] = len(spans(win, (span_name,))) / n_win
    for name, span_name in _P50:
        d = [s.dur for s in spans(meas, (span_name,))]
        out[name] = statistics.median(d) if d else 0.0

    def wsum(key):
        return sum(op.counts.get(key, 0) for op in win)

    eng_ops = max(1, wsum("scan.engine_ops"))
    out["scan.files_scanned"] = wsum("scan.files_scanned") / eng_ops
    # the reference's logged ratio, over all Engine calls of the window:
    # bytes the table holds / bytes the planned scans read
    out["scan.bytes_ratio"] = wsum("scan.total_bytes") / max(1, wsum("scan.scanned_bytes"))
    out["scan.stale_files"] = wsum("scan.stale_files") / eng_ops
    cands = wsum("lsh.candidates")
    out["lsh.candidates_per_probe"] = cands / max(1, wsum("lsh.probe_docs"))
    # docs flagged against the corpus per candidate pair verified
    out["lsh.verified_ratio"] = wsum("lsh.flagged_vs_corpus") / cands if cands else 0.0
    out["lifecycle.storage_blocks"] = max((op.counts.get("lifecycle.storage_blocks", 0)
                                           for op in win), default=0)
    for layer in LAYERS:
        out[f"{layer}.calls"] = sum(
            1 for op in win for s in op.spans
            if s.name in _WRAPPED and s.name.split(".")[0] == layer) / n_win
        out[f"{layer}.self_s"] = sum(
            s.self_s for op in meas for s in op.spans if s.name.split(".")[0] == layer
        ) / n_meas
    for n in _SPARK_COUNTS:
        out[f"spark.{n}"] = sum(getattr(groups[op.group], n) for op in win
                                if op.group in groups) / n_win
    for n in ("executor_cpu_s", "executor_run_s"):
        out[f"spark.{n}"] = sum(getattr(groups[op.group], n) for op in meas
                                if op.group in groups) / n_meas
    driver_only = 0.0
    for op in meas:
        jobs = groups[op.group].job_intervals if op.group in groups else []
        driver_only += (op.t1_ms - op.t0_ms - union_ms(jobs, op.t0_ms, op.t1_ms)) / 1000.0
    out["spark.driver_only_s"] = driver_only / n_meas
    out["spark.jvm_peak_rss_mb"] = jvm_peak_rss_mb
    for k in ("op_p50_s", "ops_per_s", "cpu_s_per_op"):
        out[f"traced.{k}"] = traced_e2e[k][0]
    units = {n: u for n, u, _ in PER_LAYER}
    return {n: (out[n], units[n]) for n, _, _ in PER_LAYER}

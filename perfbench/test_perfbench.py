"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import Step  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _docs(tmp_path, texts):
    d = tmp_path / "docs"
    d.mkdir()
    pq.write_table(gen.documents(list(range(len(texts))), texts, "s"), str(d / "part-0.parquet"))
    return str(d)


# --------------------------------------------------------- oracle -> failure
def test_wrong_answer_is_a_failed_operation(tmp_path):
    text = oracle.Text(_docs(tmp_path, ["a b c", "a c", "b"]))
    assert text.count("a") == 2

    right = Step("text_term", ("a",), lambda st: 2, lambda ans: ans == text.count("a"))
    wrong = Step("text_term", ("a",), lambda st: 3, lambda ans: ans == text.count("a"))
    raises = Step("text_term", ("a",), lambda st: 1 / 0, lambda ans: True)
    recs = [run.run_step(s, tracing.NullTracer(), True) for s in (right, wrong, raises)]
    assert [r.ok for r in recs] == [True, False, False]
    assert recs[1].error == "wrong answer"
    assert recs[2].error.startswith("ZeroDivisionError")


def test_closed_loop_counts_every_checked_step():
    answers = iter([1, 2, 3, 4, 5, 6])
    steps = (Step("q", i, lambda st: next(answers), lambda ans: ans != 3) for i in range(6))
    recs = run.closed_loop(steps, tracing.NullTracer(), warmup=1, measured=5, seconds=0.0)
    assert len(recs) == 6 and sum(not r.ok for r in recs) == 1
    assert [r.measured for r in recs] == [False] + [True] * 5


def test_an_operation_is_a_whole_cycle_of_steps():
    steps = [run.Record("q", i, sec, True, True, cpu_s=1.0)
             for i, sec in enumerate([1, 3, 2, 2, 5, 1])]
    e2e = metrics.end_to_end(9.0, metrics.operations(steps, 2))
    assert e2e["op_p50_s"][0] == 4 and e2e["cpu_s_per_op"][0] == 2.0
    assert e2e["ops_per_s"][0] == pytest.approx(3 / 14)


def test_closed_loop_measures_a_fixed_set_and_fills_the_floor_unmeasured():
    steps = (Step("q", i, lambda st: 0, lambda ans: True) for i in range(100))
    recs = run.closed_loop(steps, tracing.NullTracer(), warmup=1, measured=4, seconds=0.0)
    assert [r.measured for r in recs] == [False] + [True] * 4
    steps = (Step("q", i, lambda st: time.sleep(0.01), lambda ans: True) for i in range(100))
    recs = run.closed_loop(steps, tracing.NullTracer(), warmup=1, measured=4, seconds=0.1)
    assert len(recs) >= 10 and sum(r.measured for r in recs) == 4
    assert [r.key for r in recs if r.measured] == [1, 2, 3, 4]
    steps = (Step("q", i, lambda st: time.sleep(0.01), lambda ans: True) for i in range(6))
    recs = run.closed_loop(steps, tracing.NullTracer(), warmup=1, measured=4, seconds=10.0)
    assert len(recs) == 6  # the floor ends with the steps


def test_gate_oracle_rejects_a_flag_below_threshold():
    base = " ".join(gen.VOCAB[:60])
    far = " ".join(gen.VOCAB[60:120])
    texts = {1: base, 2: base, 3: far}
    ok, tally = oracle.check_gate_batch(["exact_dup", "novel"], [2, 3], texts,
                                        {2: None, 3: None}, {2: 1}, 0.8)
    assert ok and tally["flagged"] == 1
    ok, _ = oracle.check_gate_batch(["exact_dup", "novel"], [2, 3], texts,
                                    {2: None, 3: None}, {2: 1, 3: 1}, 0.8)
    assert not ok  # 3 is no near-dup of 1
    ok, _ = oracle.check_gate_batch(["exact_dup", "novel"], [2, 3], texts,
                                    {2: None, 3: None}, {}, 0.8)
    assert not ok  # an exact copy must be flagged


def test_ann_oracle_accepts_only_the_true_top_k(tmp_path):
    d = tmp_path / "emb"
    d.mkdir()
    rng = gen.np.random.default_rng(0)
    pq.write_table(gen.embeddings(rng, gen.blob_centers(rng), 0, 50), str(d / "p.parquet"))
    vec = oracle.Vectors(str(d))
    q = vec.vector(7)
    assert vec.is_topk(q, vec.topk(q, 5), 5)
    assert not vec.is_topk(q, vec.topk(q, 6)[1:], 5)


# ------------------------------------------------------------- metric names
def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_well_formed():
    names = [m[0] for m in metrics.END_TO_END] + [m[0] for m in metrics.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for _, unit, *_ in metrics.END_TO_END + metrics.PER_LAYER:
        assert UNIT.match(unit), unit


def test_benchmark_json_declares_the_metrics_the_harness_prints():
    doc = _benchmark_json()
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in doc["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER]
    assert {w["name"] for w in doc["workloads"]} == set(gen.MAKERS)
    assert max(m["bound"] for m in doc["end_to_end"]) == dict(
        (m["name"], m["bound"]) for m in doc["end_to_end"])["setup_s"]


# ----------------------------------------------------------------- tracing
def _targets():
    out = []
    for module, path, _ in tracing.TARGETS:
        owner, attr = tracing._resolve(module, path)
        out.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type)
                    else getattr(owner, attr)))
    return out


def test_tracer_wraps_and_restores_every_target():
    before = _targets()
    with tracing.Tracer(None) as tr:
        for owner, attr, orig in before:
            now = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            assert now is not orig and now.__wrapped__ is orig
        assert tr.ops == []
    for owner, attr, orig in before:
        now = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        assert now is orig


def test_tracer_restores_after_an_exception():
    before = _targets()
    with pytest.raises(RuntimeError):
        with tracing.Tracer(None):
            raise RuntimeError("boom")
    assert [t[2] for t in _targets()] == [t[2] for t in before]


def test_spans_nest_and_self_time_excludes_children():
    tr = tracing.Tracer(None)
    with tr.op("q") as op:
        with tr.span("engine.query"):
            with tr.span("sources.read_descriptor"):
                pass
        tr.count("scan.files_scanned", 3)
    outer, inner = op.spans
    assert inner.parent == 0 and outer.parent is None
    assert outer.self_s == pytest.approx(outer.dur - inner.dur)
    assert op.counts == {"scan.files_scanned": 3}
    with tr.span("outside"):  # no operation open: not recorded
        pass
    assert len(op.spans) == 2


def test_event_log_folds_by_job_group(tmp_path):
    props = {"spark.jobGroup.id": "op0", "spark.job.description": "scan.query"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Properties": props,
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor CPU Time": 2e9, "Executor Run Time": 3000,
                          "Input Metrics": {"Bytes Read": 10},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                          "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 0,
         "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = tracing.read_event_log(str(tmp_path))
    st = g["op0"]
    assert (st.jobs, st.stages, st.tasks, st.failed_tasks) == (1, 1, 1, 0)
    assert (st.executor_cpu_s, st.executor_run_s) == (2.0, 3.0)
    assert (st.input_bytes, st.shuffle_write_bytes, st.spill_bytes) == (10, 5, 3)
    assert st.jobs_by_call == {"scan.query": 1}
    assert tracing.union_ms(st.job_intervals + [(1200, 1800), (2000, 2100)], 0, 2050) == 850


# -------------------------------------------------------------- generation
def test_inputs_are_byte_identical_for_a_seed(tmp_path):
    a = gen.make_gate(3, str(tmp_path / "a")).digest()
    b = gen.make_gate(3, str(tmp_path / "b")).digest()
    c = gen.make_gate(4, str(tmp_path / "c")).digest()
    assert a == b != c
    mtimes = {os.path.getmtime(os.path.join(d, n))
              for d, _, names in os.walk(tmp_path / "a") for n in names}
    assert mtimes == {gen.MTIME0}  # the program records mtimes in its indexes


def test_planted_near_dups_clear_the_threshold(tmp_path):
    inp = gen.make_gate(2, str(tmp_path / "g"))
    corpus = {}
    for f in oracle.live_files(inp.tables["documents"]):
        t = pq.read_table(f)
        corpus.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    for k, b in enumerate(inp.script["batches"]):
        t = pq.read_table(f"{inp.root}/_staged/{k}/documents.parquet")
        texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        for i, kind, src in zip(b["ids"], b["kinds"], b["src"]):
            if kind == "near_dup":
                assert gen.jaccard(texts[i], corpus[src]) >= inp.script["threshold"]
            if kind == "intra_dup":
                assert gen.jaccard(texts[i], texts[src]) >= inp.script["threshold"]


def test_table_schema_is_stable():
    t = gen.events(gen.np.random.default_rng(0), 10, 0, 0.0, 1.0, 3)
    assert t.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    assert t.column("event_id").to_pylist() == list(range(10))

"""The benchmark's three workloads, each a closed loop of steps driven by
one client through ``Engine`` and the public operators.

A step has an untimed ``prepare`` (new files arriving, oracle answers
computed), a timed ``run`` that returns the program's answer, and an
untimed ``check`` of that answer against the index-free oracle. Named
phases inside ``run`` are timed with ``Step.phase``. An operation is
``op_steps`` consecutive steps; every run makes ``warmup_ops`` untimed
and ``measured_ops`` timed operations, the same ones for a seed.

Why these three (see BENCHMARK.json and README.md):
- ``lookup``: read-only planning and job launches, no build work;
- ``append_refresh``: every index kind's refresh beside reads;
- ``dedup_gate``: clean gates, the LSH gate and its pins.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from collections import Counter
from typing import Callable, Dict, Iterator, List, Optional

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle

BUCKETS = 4
ANN = dict(nlist=8, max_iter=3)
ANN_NPROBE = 4
TOP = 10


class Step:
    """One operation of the closed loop."""

    def __init__(self, kind: str, key, run: Callable[["Step"], object],
                 check: Callable[[object], bool], prepare: Optional[Callable[[], None]] = None):
        self.kind = kind
        self.key = key
        self._run = run
        self.check = check
        self.prepare = prepare or (lambda: None)
        self.phases: Dict[str, List[float]] = {}
        #: counts the check tallied, for metrics over a window of steps
        self.tally: Dict[str, int] = {}

    def run(self):
        return self._run(self)

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases.setdefault(name, []).append(time.perf_counter() - t0)


def _dir_bytes(root: str) -> Dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            out[p] = os.path.getsize(p)
    return out


def _table_bytes(table_dir: str) -> int:
    return sum(os.path.getsize(f) for f in oracle.live_files(table_dir))


class Workload:
    name = ""
    #: steps per operation
    op_steps = 1
    #: operations run before timing starts; their answers are checked too
    warmup_ops = 0
    #: operations every run times, whatever the speed of the program
    measured_ops = 1

    def __init__(self, spark, inputs: gen.Inputs, work: str, tracer):
        from elephant_twin_spark import Engine

        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.tracer = tracer
        self.index_root = f"{work}/index"
        self.eng = Engine(spark, self.index_root)
        self.t = inputs.tables

    def setup(self) -> None:
        """The program's set-up: index builds and index handles."""
        raise NotImplementedError

    def setup_oracle(self) -> None:
        """The oracle's set-up, untimed, after ``setup``."""
        raise NotImplementedError

    def steps(self) -> Iterator[Step]:
        raise NotImplementedError

    def finish(self) -> Optional[bool]:
        """End-of-run check, None when the workload has none; False
        counts as one more failed operation."""
        return None

    def detail(self, records, window) -> Dict[str, tuple]:
        """Workload-specific metrics: name -> (value, unit). ``records``
        are the timed steps the end-to-end figures use; ``window`` every
        step of the warm-up and measured operations, over which counts
        repeat exactly for a seed."""
        return {}

    # ------------------------------------------------------------ helpers
    def _engine_count(self, table: str, pred) -> int:
        df = self.eng.query(table, pred)
        with self.tracer.span("engine.exec"):
            n = df.count()
        self._scan_counts()
        return n

    def _scan_counts(self) -> None:
        m = self.eng.last_metrics
        self.tracer.count("scan.engine_ops", 1)
        self.tracer.count("scan.files_scanned", m.scanned_files)
        self.tracer.count("scan.total_bytes", m.total_bytes)
        self.tracer.count("scan.scanned_bytes", m.scanned_bytes)
        self.tracer.count("scan.stale_files", m.stale_files)


# ====================================================================== lookup
class Lookup(Workload):
    """Read-only mix over indexes built in setup. The events copy is
    clustered by time, so zone and bloom prune hard, ``user_id`` postings
    prune some files and ``event_type`` prunes none."""

    name = "lookup"
    op_steps = len(gen.LOOKUP_KINDS)
    warmup_ops = 1
    measured_ops = 2

    def setup(self) -> None:
        ev, docs, emb = self.t["events"], self.t["documents"], self.t["embeddings"]
        self.eng.build_indexes(ev, ["event_type", "user_id"], num_buckets=BUCKETS)
        self.eng.build_zone_index(ev, "ts")
        self.eng.build_bloom_index(ev, "event_id")
        self.eng.build_text_index(docs, "text", "doc_id", num_buckets=BUCKETS)
        self.eng.build_ann_index(emb, "embedding", "vec_id", **ANN)
        self.ti = self.eng.text_index(docs, "text")
        self.ai = self.eng.ann_index(emb, "embedding")

    def setup_oracle(self) -> None:
        self.rel = oracle.Relational(self.t["events"])
        self.text = oracle.Text(self.t["documents"])
        self.vec = oracle.Vectors(self.t["embeddings"])
        self._want: Dict = {}

    def steps(self) -> Iterator[Step]:
        script = self.inputs.script["queries"]
        warm = script[-self.warmup_ops * self.op_steps:]
        for kind, key in warm:
            yield self._step(kind, key)
        i = 0
        while True:
            kind, key = script[i % (len(script) - len(warm))]
            yield self._step(kind, key)
            i += 1

    def _expected(self, kind: str, key):
        if (kind, key) not in self._want:
            self._want[(kind, key)] = self._oracle(kind, key)
        return self._want[(kind, key)]

    def _oracle(self, kind: str, key):
        if kind == "block_eq":
            return self.rel.count(f"user_id = {key[1]}")
        if kind == "block_and":
            return self.rel.count(f"event_type = '{key[0]}' AND user_id = {key[1]}")
        if kind == "block_or":
            return self.rel.count(f"user_id = {key[0]} OR user_id = {key[1]}")
        if kind == "engine_count":
            return self.rel.count(f"event_type = '{key[0]}'")
        if kind == "bloom_point":
            return self.rel.rows(f"event_id = {key[0]}", "event_id, user_id, event_type")
        if kind == "zone_range":
            return self.rel.count(oracle.day_where(key[0], 1.0))
        if kind == "text_term":
            return self.text.count(key[0])
        if kind == "text_bool":
            return self.text.count(*key)
        if kind == "text_topn":
            return self.text.top_n_any(key, TOP)
        raise KeyError(kind)

    def _step(self, kind: str, key) -> Step:
        from elephant_twin_spark import col

        ev = self.t["events"]

        def run(step: Step):
            if kind == "block_eq":
                return self._engine_count(ev, col(key[0]) == key[1])
            if kind == "block_and":
                return self._engine_count(ev, (col("event_type") == key[0]) & (col("user_id") == key[1]))
            if kind == "block_or":
                return self._engine_count(ev, (col("user_id") == key[0]) | (col("user_id") == key[1]))
            if kind == "engine_count":
                n = self.eng.count(ev, col("event_type") == key[0])
                self._scan_counts()
                return n
            if kind == "bloom_point":
                df = self.eng.query(ev, col("event_id") == key[0])
                with self.tracer.span("engine.exec"):
                    rows = df.select("event_id", "user_id", "event_type").collect()
                self._scan_counts()
                return sorted(tuple(r) for r in rows)
            if kind == "zone_range":
                lo = time.strftime("%Y-%m-%d", time.gmtime(gen.T0_US / 1e6 + key[0] * 86400))
                hi = time.strftime("%Y-%m-%d", time.gmtime(gen.T0_US / 1e6 + (key[0] + 1) * 86400))
                return self._engine_count(ev, f"ts BETWEEN '{lo}' AND '{hi}'")
            if kind == "text_term":
                return self.ti.count(key[0])
            if kind == "text_bool":
                return self.ti.count(f"{key[0]} AND {key[1]}")
            if kind == "text_topn":
                with self.tracer.span("text.top_n_collect"):
                    rows = self.ti.top_n(f"{key[0]} OR {key[1]}", TOP).collect()
                return [tuple(r) for r in rows]
            with self.tracer.span("ann.topk_collect"):
                rows = self.ai.topk(list(key), TOP, nprobe=ANN_NPROBE).collect()
            return [(int(r["id"]), float(r["cosine"])) for r in rows]

        def check(ans) -> bool:
            if kind == "ann_topk":
                return self.vec.is_topk(key, ans, TOP)
            return ans == self._expected(kind, key)

        return Step(kind, key, run, check)

    def detail(self, records, window) -> Dict[str, tuple]:
        import statistics as st

        from metrics import quantile

        seconds = [r.seconds for r in records]
        keys = [(r.kind, r.key) for r in records]
        return {
            "queries_per_s": (len(seconds) / sum(seconds), "1/s"),
            "query_p50_s": (st.median(seconds), "s"),
            "query_p90_s": (quantile(seconds, 0.9), "s"),
            "repeated_key_share": ((len(keys) - len(set(keys))) / len(keys), "ratio"),
        }


# ============================================================== append_refresh
REFRESHES = (
    ("block", "events", "event_type"),
    ("block", "events", "user_id"),
    ("zone", "events", "ts"),
    ("bloom", "events", "event_id"),
    ("text", "documents", "text"),
    ("lsh", "documents", "text"),
    ("ann", "embeddings", "embedding"),
)


class AppendRefresh(Workload):
    """Each step lands one batch of new files (and on some batches
    rewrites or deletes an existing file), reads once over the stale
    index, refreshes all seven indexes, then reads the new rows back."""

    name = "append_refresh"

    def setup(self) -> None:
        ev, docs, emb = self.t["events"], self.t["documents"], self.t["embeddings"]
        self.eng.build_indexes(ev, ["event_type", "user_id"], num_buckets=BUCKETS)
        self.eng.build_zone_index(ev, "ts")
        self.eng.build_bloom_index(ev, "event_id")
        self.eng.build_text_index(docs, "text", "doc_id", num_buckets=BUCKETS)
        self.eng.build_lsh_index(docs, "text", "doc_id", num_buckets=BUCKETS)
        self.eng.build_ann_index(emb, "embedding", "vec_id", **ANN)

    def setup_oracle(self) -> None:
        self.rel = oracle.Relational(self.t["events"])
        self.data_bytes_landed = 0
        self.index_bytes_written = 0

    def steps(self) -> Iterator[Step]:
        for k, b in enumerate(self.inputs.script["batches"]):
            yield self._step(k, b)

    def _land(self, k: int, b: dict) -> None:
        stage = f"{self.inputs.root}/_staged/{k}"
        for t in ("events", "documents", "embeddings"):
            dst = f"{self.t[t]}/batch-{k:05d}.parquet"
            shutil.copy2(f"{stage}/{t}.parquet", dst)  # with the batch's mtime
            self.data_bytes_landed += os.path.getsize(dst)
        if "rewrite_events" in b:
            p = f"{self.t['events']}/{b['rewrite_events']}"
            t = pq.read_table(p)
            t = t.filter(pc.not_equal(t.column("event_type"), "view"))
            pq.write_table(t, p, compression="snappy")
            mtime = os.path.getmtime(f"{stage}/events.parquet")
            os.utime(p, (mtime, mtime))
            self.data_bytes_landed += os.path.getsize(p)
        if "delete_doc_file" in b:
            p = f"{self.t['documents']}/{b['delete_doc_file']}"
            if os.path.exists(p):
                os.remove(p)

    def _step(self, k: int, b: dict) -> Step:
        from elephant_twin_spark import col
        from elephant_twin_spark.streaming import refresh as R

        ev, docs, emb = self.t["events"], self.t["documents"], self.t["embeddings"]
        want: Dict[str, object] = {}
        before: Dict[str, int] = {}
        day = b["events_day"]
        lo = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(gen.T0_US / 1e6 + day * 86400))
        hi = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(gen.T0_US / 1e6 + (day + 0.5) * 86400))
        fns = {"block": R.refresh_block_index, "zone": R.refresh_zone_index,
               "bloom": R.refresh_bloom_index, "text": R.refresh_text_index,
               "lsh": R.refresh_lsh_index, "ann": R.refresh_ann_index}

        def prepare() -> None:
            self._land(k, b)
            want["user"] = self.rel.count(f"user_id = {b['user']}")
            want["range"] = self.rel.count(oracle.day_where(day, 0.5))
            want["point"] = self.rel.rows(f"event_id = {b['first_event']}", "event_id, user_id, event_type")
            want["click"] = self.rel.count("event_type = 'click'")
            want["term"] = oracle.Text(docs).count(b["term"])
            vec = oracle.Vectors(emb)
            want["q"] = vec.vector(b["vec_probe"])
            want["vec"] = vec
            before.update(_dir_bytes(self.index_root))

        def run(st: Step):
            def read(name: str, fn):
                with st.phase("read"):
                    return name, fn()

            out = [read("stale_user", lambda: self._engine_count(ev, col("user_id") == b["user"]))]
            with st.phase("refresh"):
                for kind, table, column in REFRESHES:
                    fns[kind](self.spark, self.t[table], column, self.index_root)
            ti = self.eng.text_index(docs, "text")
            ai = self.eng.ann_index(emb, "embedding")
            out.append(read("user", lambda: self._engine_count(ev, col("user_id") == b["user"])))
            out.append(read("range", lambda: self._engine_count(ev, f"ts BETWEEN '{lo}' AND '{hi}'")))

            def point():
                df = self.eng.query(ev, col("event_id") == b["first_event"])
                with self.tracer.span("engine.exec"):
                    rows = df.select("event_id", "user_id", "event_type").collect()
                self._scan_counts()
                return sorted(tuple(r) for r in rows)

            def click():
                n = self.eng.count(ev, col("event_type") == "click")
                self._scan_counts()
                return n

            out.append(read("point", point))
            out.append(read("click", click))
            out.append(read("term", lambda: ti.count(b["term"])))

            def vec():
                with self.tracer.span("ann.topk_collect"):
                    rows = ai.topk(want["q"], TOP, nprobe=ANN_NPROBE).collect()
                return [(int(r["id"]), float(r["cosine"])) for r in rows]

            out.append(read("vec", vec))
            return out

        def check(ans) -> bool:
            after = _dir_bytes(self.index_root)
            self.index_bytes_written += sum(
                s for p, s in after.items() if before.get(p) != s)
            ok = True
            for name, got in ans:
                if name == "vec":
                    ok &= got[0][0] == b["vec_probe"] and want["vec"].is_topk(want["q"], got, TOP)
                else:
                    ok &= got == want["user" if name == "stale_user" else name]
            return bool(ok)

        return Step("batch", k, run, check, prepare)

    def finish(self) -> bool:
        """``Engine.verify_all`` reads all zeros on every table."""
        return not any(v for table in ("events", "documents", "embeddings")
                       for v in self.eng.verify_all(self.t[table]).values())

    def detail(self, records, window) -> Dict[str, tuple]:
        import statistics as st

        reads = [s for r in records for s in r.phases.get("read", [])]
        refresh = [s for r in records for s in r.phases.get("refresh", [])]
        data = sum(_table_bytes(self.t[t]) for t in ("events", "documents", "embeddings"))
        index = sum(_dir_bytes(self.index_root).values())
        return {
            "query_p50_s": (st.median(reads), "s"),
            "refresh_p50_s": (st.median(refresh), "s"),
            "ingest_rows_per_s": (gen.BATCH_ROWS * len(refresh) / sum(refresh), "1/s"),
            "index_bytes_per_data_byte": (index / data, "ratio"),
            "index_write_bytes_per_data_byte": (
                self.index_bytes_written / max(1, self.data_bytes_landed), "ratio"),
        }


# ================================================================== dedup_gate
class DedupGate(Workload):
    """Each step cleans one seeded ingest batch, gates the survivors
    against the LSH index (corpus plus earlier accepted docs), then grows
    the index with the docs the gate let through."""

    name = "dedup_gate"
    warmup_ops = 1

    def setup(self) -> None:
        docs = self.t["documents"]
        self.eng.build_lsh_index(docs, "text", "doc_id", num_buckets=BUCKETS)
        self.index = self.eng.lsh_index(docs, "text")
        self.accepted = f"{self.work}/accepted"
        self.threshold = self.inputs.script["threshold"]

    def setup_oracle(self) -> None:
        self.texts: Dict[int, str] = {}
        for f in oracle.live_files(self.t["documents"]):
            t = pq.read_table(f, columns=["doc_id", "text"])
            self.texts.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

    def steps(self) -> Iterator[Step]:
        for k, b in enumerate(self.inputs.script["batches"]):
            yield self._step(k, b)

    def _step(self, k: int, b: dict) -> Step:
        from pyspark.sql import functions as F

        from elephant_twin_spark.operators import lifecycle
        from elephant_twin_spark.operators.pipeline.clean import clean_corpus
        from elephant_twin_spark.streaming.gate import gate_batch

        path = f"{self.inputs.root}/_staged/{k}/documents.parquet"

        def prepare() -> None:
            t = pq.read_table(path, columns=["doc_id", "text"])
            self.texts.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

        def run(st: Step):
            batch = self.spark.read.parquet(path)
            with lifecycle.checkpoint_scope():
                with st.phase("clean"):
                    cleaned, audit = clean_corpus(batch, "text", "doc_id", near_dup=False)
                    reasons = {r[0]: r[1] for r in audit.collect()}
                self.tracer.count("lsh.probe_docs", sum(v is None for v in reasons.values()))
                with st.phase("gate"):
                    extra = None
                    if os.path.isdir(self.accepted):
                        extra = self.spark.read.parquet(self.accepted).select("doc_id", "text")
                    annotated = lifecycle.pin(gate_batch(
                        self.index, cleaned, "text", "doc_id", self.threshold, extra_corpus=extra))
                    flagged = {r[0]: r[1] for r in annotated.where("is_near_dup")
                               .select("doc_id", "dup_of").collect()}
                batch_ids = set(b["ids"])
                self.tracer.count("lsh.flagged_vs_corpus",
                                  sum(j not in batch_ids for j in flagged.values()))
                with st.phase("append"):
                    survivors = annotated.where(~F.col("is_near_dup")).select("doc_id", "text")
                    survivors.write.mode("overwrite").parquet(f"{self.accepted}/batch={k}")
                    self.index.append_docs(survivors, "text", "doc_id", batch_tag=f"b{k}")
                lifecycle.release(audit)
            blocks = lifecycle.storage_snapshot(self.spark)["n_blocks"]
            self.tracer.count("lifecycle.storage_blocks", blocks)
            return sorted(reasons.items()), sorted(flagged.items())

        def check(ans) -> bool:
            reasons, flagged = dict(ans[0]), dict(ans[1])
            ok, step.tally = oracle.check_gate_batch(
                b["kinds"], b["ids"], self.texts, reasons, flagged, self.threshold)
            return ok

        step = Step("batch", k, run, check, prepare)
        return step

    def detail(self, records, window) -> Dict[str, tuple]:
        import statistics as st

        gate = [s for r in records for s in r.phases.get("gate", [])]
        n_docs = sum(len(self.inputs.script["batches"][r.key]["ids"]) for r in records)
        tally = Counter()
        kinds = Counter()
        for r in window:
            tally.update(r.tally)
            kinds.update(self.inputs.script["batches"][r.key]["kinds"])
        out = {
            "gate_docs_per_s": (n_docs / sum(r.seconds for r in records), "1/s"),
            "gate_batch_p50_s": (st.median(gate), "s"),
            "gate_recall": (tally["planted_flagged"] / max(1, tally["planted"]), "ratio"),
        }
        total = sum(kinds.values())
        for kind, _ in gen.GATE_MIX:
            out[f"share.{kind}"] = (kinds[kind] / total, "ratio")
        return out


WORKLOADS = {w.name: w for w in (Lookup, AppendRefresh, DedupGate)}

"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed under ``.perfbench_work/`` in the checkout, starts Spark at
``local[N]`` (N = ``SPARK_GRAFT_CPUS``, default: the CPUs this process
may use), sets up, warms up, then drives a closed loop with one client:
a fixed number of measured operations per workload, then more until
``--seconds`` have passed. Every answer is checked against the
index-free oracle. The last stdout line is the result JSON; the line
before it holds the workload's own metrics, digests and phase times.

The first run in a checkout first writes a JVM class-data archive of
Spark's classes in an untimed child run (see ``build_class_archive``).

``--trace 1`` is a separate run of the same workload with the tracing
wrappers installed and the Spark event log on; it reports the per-layer
metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from typing import Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402


@dataclass
class Record:
    kind: str
    key: object
    seconds: float
    ok: bool
    measured: bool
    error: str = ""
    answer: object = None
    phases: Dict[str, List[float]] = field(default_factory=dict)
    tally: Dict[str, int] = field(default_factory=dict)
    cpu_s: float = 0.0
    steal_ticks: int = 0


def cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ session
CACHE = os.path.join(ROOT, ".perfbench_cache")
#: set in the one untimed run that writes the class-data archive
_DUMP_ENV = "PERFBENCH_ARCHIVE_DUMP"


def class_archive() -> str:
    """Path of the JVM application class-data archive of Spark's classes.

    Mapping it instead of loading and verifying the classes one by one
    takes about 5 s off session start. Only Spark's jars go in it (the
    program under test is Python), so the parent and a changed tree use
    identical archives."""
    import pyspark

    tag = hashlib.sha256(f"{pyspark.__version__} {os.environ.get('SPARK_HOME')}".encode())
    return os.path.join(CACHE, f"spark-{tag.hexdigest()[:12]}.jsa")


def build_class_archive(workload: str, path: str) -> None:
    """Write the archive once per checkout, before the first run measures
    anything: an untimed run of ``workload`` (seed 0, no time floor) in a
    child process whose JVM dumps the classes it loaded when it exits.
    Every measured run then maps the same archive. A failed dump leaves
    no archive, and runs go on without one."""
    os.makedirs(CACHE, exist_ok=True)
    dump = f"{path}.{os.getpid()}"
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", "0", "--seconds", "0", "--trace", "0"],
        env=dict(os.environ, **{_DUMP_ENV: dump}),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600,
    )
    if child.returncode == 0 and os.path.exists(dump):
        os.replace(dump, path)
    elif os.path.exists(dump):
        os.remove(dump)


def archive_option() -> str:
    dump = os.environ.get(_DUMP_ENV)
    if dump:
        return f"-XX:ArchiveClassesAtExit={dump}"
    path = class_archive()
    return f"-XX:SharedArchiveFile={path}" if os.path.exists(path) else ""


def start_session(work: str, n_cpus: int, trace: bool, archive_opt: str):
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # the py4j gateway's handshake file
    # an empty conf dir at a fixed path: the class archive needs a
    # classpath of jars and empty directories, the same on every run
    conf = os.path.join(CACHE, "conf")
    os.makedirs(conf, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{n_cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n_cpus))
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData "
                f"-Xlog:disable -Xlog:all=error:stderr {archive_opt}")
    )
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{work}/eventlog")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        parts = f.read().rsplit(")", 1)[1].split()
    return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> bool:
    """Stop Spark and wait for the JVM the session started to exit.
    True when it exited by itself (a class archive it dumps is whole)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is None:
        return False
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        return proc.wait(timeout=90) == 0
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
        return False


# --------------------------------------------------------------------- loop
def host_steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_step(step, tracer, measured: bool, cpu_probe=lambda: 0.0) -> Record:
    step.prepare()
    err, ans = "", None
    st0 = host_steal_ticks()
    c0 = cpu_probe()
    t0 = time.perf_counter()
    with tracer.op(step.kind):
        try:
            ans = step.run()
        except Exception as e:  # a failed operation is counted, not fatal
            err = f"{type(e).__name__}: {e}"
    dt = time.perf_counter() - t0
    cpu = cpu_probe() - c0
    steal = host_steal_ticks() - st0
    ok = False
    if not err:
        try:
            ok = bool(step.check(ans))
        except Exception as e:
            err = f"check raised {type(e).__name__}: {e}"
    if not ok and not err:
        err = "wrong answer"
    return Record(step.kind, step.key, dt, ok, measured, err, ans, step.phases,
                  step.tally, cpu, steal)


def closed_loop(steps, tracer, warmup: int, measured: int, seconds: float,
                cpu_probe=lambda: 0.0) -> List[Record]:
    """Run ``warmup`` steps, then the ``measured`` steps every run
    times, whatever the speed of the program. ``seconds`` is a floor:
    while it has not passed, the client keeps running steps, which are
    checked but left out of the figures. One client: the next step
    starts when the previous one has been checked."""
    records = [run_step(next(steps), tracer, False, cpu_probe) for _ in range(warmup)]
    t0 = time.perf_counter()
    records += [run_step(next(steps), tracer, True, cpu_probe) for _ in range(measured)]
    while time.perf_counter() - t0 < seconds:
        step = next(steps, None)
        if step is None:
            break
        records.append(run_step(step, tracer, False, cpu_probe))
    return records


def digest(records: List[Record]) -> str:
    h = hashlib.sha256()
    for r in records:
        h.update(repr((r.kind, r.key, r.answer)).encode())
    return h.hexdigest()


# --------------------------------------------------------------------- main
def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.MAKERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    import elephant_twin_spark  # fail before any work when the program is absent
    import workloads

    if not os.path.abspath(elephant_twin_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"elephant_twin_spark imported from {elephant_twin_spark.__file__}, "
                         f"not from the checkout at {ROOT}")
    if not os.environ.get(_DUMP_ENV) and not os.path.exists(class_archive()):
        build_class_archive(args.workload, class_archive())

    trace = bool(args.trace)
    # a fixed path: index files record data file paths, so a per-process
    # path would change the bytes every count is taken over. Runs of one
    # workload in one checkout take turns on the lock.
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = os.path.join(base, args.workload)
    with open(f"{work}.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            return _run(args, trace, work, workloads)
        finally:
            shutil.rmtree(work, ignore_errors=True)


class PhaseClock:
    """Wall time of each phase of a run."""

    def __init__(self):
        self.t = time.perf_counter()
        self.phases: Dict[str, float] = {}

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.phases[name] = now - self.t
        self.t = now


def _run(args, trace: bool, work: str, workloads) -> int:
    clock = PhaseClock()
    inputs = gen.MAKERS[args.workload](args.seed, f"{work}/inputs")
    input_digest = inputs.digest()
    clock.mark("inputs")  # the harness's work, not the program's: not in setup_s
    n_cpus = cpus()
    spark = start_session(work, n_cpus, trace, archive_option())
    clock.mark("session")
    try:
        pid = jvm_pid(spark)
        tracer = tracing.Tracer(spark.sparkContext) if trace else tracing.NullTracer()
        wl = workloads.WORKLOADS[args.workload](spark, inputs, work, tracer)
        wl.setup()
        clock.mark("setup")
        setup_s = clock.phases["session"] + clock.phases["setup"]
        wl.setup_oracle()
        clock.mark("oracle")

        def cpu_probe():
            return proc_cpu_s(pid) + time.process_time()

        with tracer:
            records = closed_loop(
                wl.steps(), tracer, wl.warmup_ops * wl.op_steps,
                wl.measured_ops * wl.op_steps, args.seconds, cpu_probe)
        clock.mark("loop")
        finished_ok = wl.finish()
        rss = peak_rss_mb(pid)
        clock.mark("finish")
    finally:
        jvm_exited = stop_session(spark)
    dump = os.environ.get(_DUMP_ENV)
    if dump and not jvm_exited and os.path.exists(dump):
        os.remove(dump)  # a JVM that did not exit by itself may leave it partial
    clock.mark("stop")

    window = records[: (wl.warmup_ops + wl.measured_ops) * wl.op_steps]
    measured = [r for r in window if r.measured]
    end_checks = [] if finished_ok is None else [finished_ok]
    failed = sum(not r.ok for r in records) + sum(not ok for ok in end_checks)
    attempted = len(records) + len(end_checks)
    ops = metrics.operations(measured, wl.op_steps)
    e2e = metrics.end_to_end(setup_s, ops)
    detail = dict(e2e)
    detail.update(wl.detail(measured, window))
    detail.update({
        "steal_share": (metrics.steal_share(measured, n_cpus), "ratio"),
        "failed_ratio": (failed / attempted, "ratio"),
        "jvm_peak_rss_mb": (rss, "MB"),
    })
    info = {
        "workload": args.workload, "seed": args.seed, "trace": int(trace), "cpus": n_cpus,
        "measured_ops": len(ops), "extra_steps": len(records) - len(window),
        "input_digest": input_digest, "result_digest": digest(window),
        "phase_s": clock.phases,
        "step_s": [[r.kind, r.seconds, r.cpu_s, r.steal_ticks] for r in measured],
        "detail": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
        "errors": sorted({f"{r.kind} {r.key}: {r.error}" for r in records if r.error})[:5],
    }
    if trace:
        groups = tracing.read_event_log(f"{work}/eventlog")
        result = metrics.per_layer(tracer.ops[: len(window)], [r.measured for r in window],
                                   groups, e2e, rss)
        jobs_by_call: Dict[str, int] = {}
        for op in tracer.ops[: len(window)]:
            for call, n in getattr(groups.get(op.group), "jobs_by_call", {}).items():
                jobs_by_call[call] = jobs_by_call.get(call, 0) + n
        info["jobs_by_call"] = jobs_by_call
    else:
        result = {n: e2e[n] for n, *_ in metrics.END_TO_END}
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

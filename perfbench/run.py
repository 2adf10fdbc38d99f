"""Seeded benchmark of libpysal_spark: one workload per invocation.

    python3 perfbench/run.py --workload spatial_weights --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. Inputs are generated as parquet
from ``--seed`` under ``.perfbench/``; the engine only reads those files.
The load is a closed loop with one client: a single driver thread runs the
workload's calls in order, one pass after another: a cold pass, an untimed
warm-up pass, then timed passes; a timed pass starts only if it should end
within ``--seconds``, and at least one runs. The outputs of the
first (cold) pass are checked against an independent derivation after the
timed passes. The last line of stdout is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics (a traced run) with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: ceiling on the Spark heap: the machine is shared, a quarter of RAM at most
MAX_HEAP_MB = 4096


def _ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Make the run self-contained in ``work`` and portable across checkouts.

    Spark's Python workers import ``libpysal_spark`` through PYTHONPATH; the
    scratch, shuffle and JVM temp dirs all live under the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    heap = max(1024, min(MAX_HEAP_MB, _ram_mb() // 4))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}m"
    # a pinned heap layout keeps the JVM's peak RSS reproducible: with G1
    # sizing the heap and young generation itself it swung 20-40% run to run
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -Xms{heap}m -Xmn{heap // 4}m"


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(t) for t in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Run:
    """One benchmark run: a session, its calls, and the attempt tally."""

    def __init__(self, calls, counters):
        self.calls = calls
        self.counters = counters
        self.attempted = 0
        self.failed = 0
        #: call name -> wall seconds of each attempt, cold pass first
        self.call_s: dict[str, list[float]] = {c.name: [] for c in calls}

    def _attempt(self, call, state, runner):
        self.attempted += 1
        start = time.perf_counter()
        try:
            return runner(lambda: call.run(state))
        except Exception:  # a failed call is counted and reported, never hidden
            self.failed += 1
            print(f"[perfbench] {call.name} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            self.call_s[call.name].append(time.perf_counter() - start)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted

    def record_check(self, problems: dict) -> None:
        """Count every call whose checked output was wrong as failed."""
        for name, probs in problems.items():
            if probs:
                self.failed += 1
                print(f"[perfbench] {name} output wrong: {'; '.join(probs)}",
                      file=sys.stderr)

    def plain_pass(self, sink, group: str | None = None) -> float:
        state: dict = {}
        if group:
            self.counters.set_group(group, "pass")
        start = time.perf_counter()
        for call in self.calls:
            self._attempt(call, state, lambda fn: sink(fn()))
        wall = time.perf_counter() - start
        if group:
            self.counters.clear_group()
        return wall

    def traced_pass(self, tracer, sink) -> float:
        state: dict = {}
        idx = tracer.begin_pass()
        for call in self.calls:
            self._attempt(call, state, lambda fn, c=call: tracer.call(
                c.name, idx, lambda: sink(fn())))
        tracer.end_pass(idx)
        span = tracer.spans[idx]
        return span.end - span.start

    def cold_pass(self, collect) -> tuple[dict, dict]:
        """The first pass of the session. Returns (outputs, state): every
        call's output, collected to the driver for the check instead of
        written to the sink (None where the call raised), and the pass state."""
        state: dict = {}
        outputs = {}
        for call in self.calls:
            outputs[call.name] = self._attempt(call, state, lambda fn: collect(fn()))
        return outputs, state


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched; wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, run_id)
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    try:
        # imports the engine: in a tree without libpysal_spark this fails
        # here, before any result is printed
        from perfbench import inputs, probes, workloads

        if args.workload not in inputs.WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; choose from {inputs.WORKLOADS}")
        phases: dict[str, float] = {}
        tick = time.perf_counter()
        data = os.path.join(work, "inputs")
        inputs.generate(args.workload, args.seed, data)
        phases["generate"] = time.perf_counter() - tick
        tick = time.perf_counter()
        exp = inputs.expected(args.workload, data)
        phases["expected"] = time.perf_counter() - tick

        from libpysal_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cores=_cores())
        phases["session"] = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        try:
            result = _measure(args, spark, data, exp, run_id, t0, phases, probes, workloads)
        finally:
            tick = time.perf_counter()
            _stop_spark(spark)
            phases["stop"] = time.perf_counter() - tick
        print("[perfbench] phases " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()),
              file=sys.stderr)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, spark, data, exp, run_id, t0, phases, probes, workloads):
    cores = _cores()
    calls = workloads.build(args.workload, spark, data)
    counters = probes.Counters(spark)
    run = Run(calls, counters)
    sink = workloads.sink

    # cold pass: codegen, Python worker spawn; its outputs are the ones checked
    tick = time.perf_counter()
    outputs, state = run.cold_pass(workloads.collect)
    setup_s = time.perf_counter() - t0
    phases["cold"] = time.perf_counter() - tick
    # one untimed warm pass: the JIT is still compiling through the first
    # warm pass, which read 10-20% above the ones after it and spread more
    # across runs
    tick = time.perf_counter()
    run.plain_pass(sink)
    phases["warmup"] = time.perf_counter() - tick

    tracer = probes.Tracer(counters, run_id) if args.trace else None
    plain, traced, task_s = [], [], []
    steal0, total0 = _cpu_ticks()
    start = time.perf_counter()
    n = 0
    while True:
        if tracer and n % 2 == 1:
            traced.append(run.traced_pass(tracer, sink))
        else:
            group = f"{run_id}-pass{n}"
            plain.append(run.plain_pass(sink, group))
            task_s.append(counters.stats(group)["task_ms"] / 1000.0)
        n += 1
        # start another pass only if it should end within --seconds
        spent = time.perf_counter() - start
        # a traced run makes at least an untraced, a traced and an untraced
        # pass, so the still-falling pass times of a young JVM lie on both
        # sides of the traced one that trace.overhead_ratio compares them to
        if n >= (3 if tracer else 1) and spent * (n + 1) / n > args.seconds:
            break
    phases["timed"] = time.perf_counter() - start
    # the share of the machine's CPU time the hypervisor gave to other guests
    # while the passes ran: a gauge that tells host contention from a slower
    # program
    steal1, total1 = _cpu_ticks()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    # read before the check, whose own engine calls are not the workload's
    peak_rss_mb = probes.jvm_peak_rss_mb(spark)

    tick = time.perf_counter()
    try:
        problems = workloads.check(args.workload, outputs, exp)
    except Exception:  # the check itself failing fails every call
        traceback.print_exc(file=sys.stderr)
        problems = {c.name: ["check raised"] for c in calls}
    run.record_check(problems)
    phases["check"] = time.perf_counter() - tick

    med = statistics.median(plain)
    print(
        f"[perfbench] {args.workload} seed={args.seed} pass_s median={med:.4f} "
        f"n={len(plain)} passes={[round(p, 3) for p in plain]} "
        f"steal_pct={steal_pct:.1f} attempted={run.attempted} "
        f"failed={run.failed} fail_ratio={run.fail_ratio:.4f}",
        file=sys.stderr,
    )
    print("[perfbench] call_s cold/warm-median " + " ".join(
        f"{name.rsplit('.', 1)[1]}={ts[0]:.2f}/{statistics.median(ts[1:]):.2f}"
        for name, ts in run.call_s.items() if len(ts) > 1), file=sys.stderr)
    if tracer:
        metrics = _per_layer(tracer, cores, plain, traced, phases["session"], run,
                             outputs, state, exp, workloads)
        trace_path = os.path.join(os.getcwd(), ".perfbench", "traces", f"{run_id}.json")
        tracer.dump(trace_path)
        print(f"[perfbench] spans written to {trace_path}", file=sys.stderr)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (med, "s"),
            "task_s": (statistics.median(task_s), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def _per_layer(tracer, cores, plain, traced, session_s, run, outputs, state, exp, workloads):
    per_call = tracer.per_call(cores)
    metrics = {}
    for name in workloads.ALL_CALLS:
        for suffix, unit in (("s", "s"), ("jobs", "count"), ("tasks", "count"),
                             ("task_s", "s"), ("shuffle_mb", "MB"), ("util", "ratio")):
            key = f"{name}.{suffix}"
            metrics[key] = per_call.get(key, (0.0, unit))
    info = state.get("knn_info", {})
    metrics["operators.distance.knn.rounds"] = (info.get("rounds", 0), "count")
    metrics["operators.distance.knn.residue"] = (info.get("residue", 0), "count")
    useful = recall = 0.0
    cand = outputs.get("text.dedup.minhash_candidates")
    if cand is not None:
        found = set(zip(cand["doc_a"].tolist(), cand["doc_b"].tolist()))
        planted = exp["planted_pairs"]
        hit = len(found & planted)
        useful = hit / len(found) if found else 0.0
        recall = hit / len(planted) if planted else 0.0
    metrics["text.dedup.minhash_candidates.useful_ratio"] = (useful, "ratio")
    metrics["text.dedup.minhash_candidates.recall"] = (recall, "ratio")
    metrics["session.get_spark.s"] = (session_s, "s")
    metrics["fail_ratio"] = (run.fail_ratio, "ratio")
    traced_med = statistics.median(traced)
    metrics["trace.pass_s"] = (traced_med, "s")
    metrics["trace.overhead_ratio"] = (traced_med / statistics.median(plain) - 1.0, "ratio")
    metrics["trace.unattributed_s"] = (tracer.unattributed_s(), "s")
    return metrics


if __name__ == "__main__":
    sys.exit(main())

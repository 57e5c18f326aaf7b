#!/usr/bin/env python3
"""Benchmark of the engine's batch query suite and streaming dedup.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see workloads.py): ``batch_sf0.01`` (seed-shuffled passes
over a frozen query list into the ``noop`` sink) and ``stream_dedup``
(file drops into the streaming MinHash dedup: backlog bursts, then an
open-loop steady phase). Inputs are generated from
``--seed`` inside the checkout; nothing outside it is read or written.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, measured by
wrapping calls into the engine from outside (spans.py). The line before
it is a report with the host stamp, sample counts, workload extras and (traced runs) the tracing overhead
against an untraced run of the same workload and seed, when one ran in
this checkout. Reports and span dumps are kept under
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# set-up is repeated this many times per run; setup_s uses the median
SETUP_REPS = 3
DRIVER_MEM = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The machine's cumulative CPU times (/proc/stat jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def host_stamp() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pulsar_internal_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "mem_total_mb": mem_kb // 1024,
        "load1_start": os.getloadavg()[0],
        "program_sha256": h.hexdigest()[:16],
        "python": platform.python_version(),
    }


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the driver JVM
    and the Python workers it forks), and in traced runs the peak of
    block-manager bytes."""

    def __init__(self, counters=None, period: float = 0.25):
        super().__init__(daemon=True)
        self.counters, self.period = counters, period
        self.peak_mb = 0.0
        self.staged_peak_mb = 0.0
        self.stop_evt = threading.Event()

    def _rss_mb(self) -> float:
        parent, rss = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                parent[int(pid)] = int(fields[1])
                rss[int(pid)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                continue
        me = os.getpid()
        total = 0
        for pid in rss:
            p = parent.get(pid)
            while p and p != me:
                p = parent.get(p)
            if p == me:
                total += rss[pid]
        return total / 2**20

    def run(self) -> None:
        while not self.stop_evt.wait(self.period):
            self.peak_mb = max(self.peak_mb, self._rss_mb())
            if self.counters is not None:
                self.staged_peak_mb = max(self.staged_peak_mb, self.counters.staged_mb())

    def stop(self) -> None:
        self.stop_evt.set()
        self.join(10)


def end_to_end(wl, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_median_s": (wl.latency(), "s"),
        "rate_per_s": (wl.rate(), "1/s"),
    }
    # the tail is reported, not bounded: a run's 4-11 samples per query
    # or per phase leave no percentile with ten samples beyond it
    return metrics, {"ops": len(wl.ops), "op_tail_s": wl.tail(), "peak_rss_mb": peak_mb}


def per_layer(wl, tracer, counters, t_measure: float, sampler, cores: int) -> dict:
    from spans import union_length, within

    spans = tracer.closed(t_measure)
    self_t = tracer.self_time(spans)
    units = max(1, wl.units())
    build = [s for s in spans if s.kind == "build"]
    staging = [s for s in spans if s.kind == "staging"]
    jobs = counters.jobs()
    st = counters.stages()
    py = counters.python_workers()
    exec_s = union_length([(a, b) for _, a, b in jobs])
    cat = wl.catalyst
    prog = wl.progress()
    data_prog = [p for p in prog if p.numInputRows > 0]

    def dur(key: str) -> float:
        if not data_prog:
            return 0.0
        return statistics.mean(p.durationMs.get(key, 0) for p in data_prog) / 1e3

    mb_written, files_written = wl.store_files()
    m = {
        "plans.build_s": (sum(self_t[id(s)] for s in build), "s/op"),
        "plans.py4j_calls": (sum(s.py4j_calls for s in build), "count/op"),
        "plans.py4j_s": (sum(s.py4j_s for s in build), "s/op"),
        "staging.calls": (len(staging), "count/op"),
        "staging.s": (sum(s.end - s.start for s in staging), "s/op"),
        "staging.jobs": (sum(1 for _, a, _ in jobs if within(a, staging)), "count/op"),
        "catalyst.analyze_s": (cat.get("analysis", 0.0), "s/op"),
        "catalyst.optimize_s": (cat.get("optimization", 0.0), "s/op"),
        "catalyst.plan_s": (cat.get("planning", 0.0), "s/op"),
        "exec.s": (exec_s, "s/op"),
        "exec.jobs": (len(jobs), "count/op"),
        "exec.tasks": (st["tasks"], "count/op"),
        "exec.task_run_s": (st["run_s"], "s/op"),
        "exec.task_cpu_s": (st["cpu_s"], "s/op"),
        "exec.gc_s": (st["gc_s"], "s/op"),
        "exec.idle_core_s": (max(0.0, exec_s * cores - st["run_s"]), "s/op"),
        "exec.input_mb": (st["input_mb"], "MB/op"),
        "exec.shuffle_write_mb": (st["shuffle_write_mb"], "MB/op"),
        "exec.shuffle_read_mb": (st["shuffle_read_mb"], "MB/op"),
        "exec.spill_mb": (st["spill_mb"], "MB/op"),
        "functions.py_total_s": (py["py_total_s"], "s/op"),
        "functions.py_boot_s": (py["py_boot_s"], "s/op"),
        "functions.py_mb_sent": (py["py_mb_sent"], "MB/op"),
        "functions.py_mb_received": (py["py_mb_received"], "MB/op"),
        "store.mb_written": (mb_written, "MB/op"),
        "store.files_written": (files_written, "count/op"),
    }
    m = {k: (v / units, u) for k, (v, u) in m.items()}
    m.update({
        "store.staged_mb_peak": (sampler.staged_peak_mb, "MB"),
        "process.peak_rss_mb": (sampler.peak_mb, "MB"),
        "streaming.trigger_s": (dur("triggerExecution"), "s/batch"),
        "streaming.add_batch_s": (dur("addBatch"), "s/batch"),
        "streaming.query_planning_s": (dur("queryPlanning"), "s/batch"),
        "streaming.wal_commit_s": (dur("walCommit"), "s/batch"),
        "streaming.input_rows": (
            statistics.mean(p.numInputRows for p in data_prog) if data_prog else 0.0,
            "rows/batch",
        ),
        "streaming.backlog_files_max": (wl.backlog_max(), "count"),
        "streaming.empty_trigger_frac": (
            1 - len(data_prog) / len(prog) if prog else 0.0, "ratio"
        ),
    })
    return m


def install_tracing(tracer, spark) -> None:
    """Wrap the engine's layer boundaries: staging.stage (and every
    module-level binding of it), the store functions the streaming
    dedup calls, and the py4j gateway client."""
    from pulsar_internal_spark import staging
    from pulsar_internal_spark.operators import (
        dedup, graph, signature_store, span_store, textops, tree,
    )
    from pulsar_internal_spark.plans import queries

    tracer.wrap(staging, "stage", "staging")
    for mod, attr in ((queries, "stage"), (span_store, "stage"), (textops, "stage"),
                      (tree, "stage"), (graph, "stage"), (dedup, "stage_frame")):
        setattr(mod, attr, staging.stage)
    for attr in ("append_banded_batch_bucketed", "candidates_for_batch_bucketed"):
        tracer.wrap(signature_store, attr, "store")
    tracer.wrap_py4j(spark.sparkContext._gateway._gateway_client)


def dump_spans(tracer, path: str) -> None:
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    out = [
        {"id": index[id(s)], "name": s.name, "kind": s.kind, "start": s.start,
         "end": s.end, "parent": index.get(id(s.parent)) if s.parent else None,
         "py4j_calls": s.py4j_calls, "py4j_s": s.py4j_s}
        for s in tracer.spans
    ]
    with open(path, "w") as f:
        json.dump(out, f)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit: the gateway
    server exits when its stdin closes."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001, a few small files) for tests")
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import pulsar_internal_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # Spark gets half the cores: the rest run the driver's Python
    # process, the JVM's compiler and GC threads and the Python workers.
    # With every core given to tasks, streaming micro-batches took 4-10 s
    # instead of 3 s on a 4-core VM whose host steals CPU time, and fell
    # behind their 5 s schedule.
    cores = max(1, nproc() // 2)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK_ROOT, f"run-{tag}-{os.getpid()}")
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # temp files (the engine's shipped package zip, the JVM's tmpdir)
    # stay inside the checkout; the JVM's perf-data file is turned off
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)

    # the JVM inherits fd 1 and prints start-up noise there: keep the real
    # stdout for the report and result lines, send the rest to stderr
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    stamp = host_stamp()
    stamp.update(seed=args.seed, workload=args.workload, trace=args.trace)
    from pulsar_internal_spark.session import get_spark
    from spans import SparkCounters, Tracer

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        stamp.update(spark=spark.version,
                     java=spark.sparkContext._jvm.System.getProperty("java.version"))
        tracer = Tracer(bool(args.trace))
        counters = SparkCounters(spark)
        if args.trace:
            install_tracing(tracer, spark)
        sampler = RssSampler(counters if args.trace else None)
        sampler.start()

        cls = workloads.WORKLOADS[args.workload]
        wl = cls(spark, tracer, args.seed, work)
        if args.smoke:
            wl.smoke()
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(reps) + warm_s

        counters.mark()
        t_measure = time.time()
        cpu0 = cpu_times()
        t = time.perf_counter()
        wl.measure(t + args.seconds)
        measure_s = time.perf_counter() - t
        stamp["steal_frac"] = steal_frac(cpu0, cpu_times())
        sampler.stop()
        t = time.perf_counter()
        try:
            wl.check()
        except Exception as e:  # a check that cannot run is a failed check
            wl.check_failures.append(f"check raised {type(e).__name__}: {e}"[:300])
        check_s = time.perf_counter() - t

        e2e, samples = end_to_end(wl, setup_s, sampler.peak_mb)
        attempted = len(wl.ops)
        failed = sum(not o.ok for o in wl.ops) + len(wl.check_failures)
        report = {
            "stamp": stamp,
            "samples": samples,
            "setup_parts_s": {"session": session_s, "fixture_median": statistics.median(reps),
                              "fixture_reps": reps, "warm": warm_s},
            "measure_s": measure_s,
            "check_s": check_s,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "ops": [[o.name, o.seconds, o.ok] for o in wl.ops],
            "op_errors": wl.errors,
            "check_failures": wl.check_failures,
            "extra": wl.extra(),
        }
        if args.trace:
            metrics = per_layer(wl, tracer, counters, t_measure, sampler, cores)
            tracer.unwrap()
            dump_spans(tracer, os.path.join(results, f"{tag}-spans.json"))
            base = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
            if os.path.exists(base):
                with open(base) as f:
                    untraced = json.load(f)["end_to_end"]
                report["tracing_overhead"] = {
                    k: report["end_to_end"][k] - untraced[k] for k in untraced
                }
        else:
            metrics = e2e
        stamp["load1_end"] = os.getloadavg()[0]
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump(report, f, indent=1)
        result = {
            "correct": failed == 0,
            "attempted": max(1, attempted),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        real_stdout.write(json.dumps({k: report[k] for k in report if k != "ops"}) + "\n")
        real_stdout.write(json.dumps(result) + "\n")
        real_stdout.flush()
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

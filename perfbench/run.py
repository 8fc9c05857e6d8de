#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload frontier_round --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. ``--workload`` takes one name, a
comma-separated list or ``all``; each workload of a list runs in its own
process, so one that fails still lets the others report. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The lines before it are a table of every metric
with its median, spread and sample count, and the full result record (conf,
box, canary, op times), which is also written under ``perfbench/.work``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import harness
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
WORKLOADS = tuple(w["name"] for w in _SPEC["workloads"])

# what each workload calls its throughput
ALIASES = {
    "frontier_round": {"throughput_per_s": "frontier_urls_per_sec"},
    "warc_ingest": {"throughput_per_s": "ingest_records_per_sec"},
}


def workload_class(name: str):
    if name == "frontier_round":
        from frontier import FrontierRound
        return FrontierRound
    if name == "warc_ingest":
        from ingest import WarcIngest
        return WarcIngest
    raise SystemExit("unknown workload {0!r}; known: {1}".format(
        name, ", ".join(WORKLOADS)))


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 sizes: dict | None = None) -> dict:
    """Set up, time and check one workload in this process."""
    cls = workload_class(name)
    workdir = os.path.join(harness.WORK, "run-{0}-{1}-{2}".format(name, seed, os.getpid()))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    record = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace}
    loop = harness.Loop()
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(workdir)
        try:
            with harness.PeakMemory(spark.sparkContext._gateway.proc.pid) as mem:
                spark.sparkContext.setLogLevel("ERROR")
                t_session = time.perf_counter()
                wl = cls(spark, workdir, seed, **(sizes or {}))
                wl.generate()
                t_gen = time.perf_counter()
                # warm-up: plan compilation, JIT and Python worker start are
                # paid here, in setup_s, and never in a timed sample
                for _ in range(wl.warmup_ops):
                    wl.op()
                t_setup = time.perf_counter()
                record["setup"] = {"get_spark_s": t_session - t0,
                                   "generate_s": t_gen - t_session,
                                   "warmup_s": t_setup - t_gen}
                record["environment"] = harness.environment(spark)

                wl.expect()
                with harness.Canary() as canary:
                    # a traced run times only the fixed window of untraced
                    # operations: they are the baseline of
                    # trace.overhead_ratio, and its end-to-end figures are
                    # not reported
                    loop.run_for(0 if trace else seconds, wl.op, wl.check,
                                 min_ops=wl.timed_ops)
                record["canary"] = vars_of(canary)
                record["op_times"] = list(loop.times)
                times = loop.good_times(wl.timed_ops)
                e2e = {
                    "throughput_per_s": harness.summarize([wl.items / t for t in times]),
                    "setup_s": {"median": t_setup - t0, "spread": 0.0, "n": 1},
                }
                record["items"] = wl.items
                if trace:
                    tracer = Tracer(spark, run_id="{0}-{1}".format(name, seed))
                    with harness.Canary() as tcanary:
                        layers = wl.traced(tracer, loop, statistics.median(times))
                    layers["session.get_spark_s"] = t_session - t0
                    layers["box.cotenant_cpu_s"] = tcanary.cotenant_cpu_s
                    record["trace_canary"] = vars_of(tcanary)
                    record["trace_checks"] = wl.trace_checks
                    record["trace_detail"] = wl.trace_detail
                    trace_path = os.path.join(harness.WORK, "results",
                                              "trace-{0}-{1}.json".format(name, seed))
                    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
                    tracer.write(trace_path)
                    record["per_layer"] = {k: layers.get(k, 0.0) for k in PER_LAYER}
        finally:
            spark.stop()
        e2e["peak_rss_mb"] = {"median": mem.peak / 1e6, "spread": 0.0, "n": 1}
        record["memory"] = {"jvm_peak_rss_bytes": mem.jvm_peak,
                            "python_peak_pss_bytes": mem.python_peak}
        record["end_to_end"] = e2e
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    record["attempted"], record["failed"] = loop.attempted, loop.failed
    record["errors"] = loop.errors
    record["correct"] = loop.failed == 0 and all(
        (record.get("trace_checks") or {}).values())
    return record


def stop_jvm() -> None:
    """End the driver JVM (and the Python workers under it) and wait for it,
    so no process of the run outlives it. Closing the JVM's stdin is how
    pyspark's gateway is told to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def adopt_orphans() -> None:
    """Become the reaper of every process started under this one. The JVM's
    children (the pyspark daemon and its workers) outlive it by a moment;
    they are then re-parented here, not to the box's init, so
    ``reap_children`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become a child subreaper (errno {0})".format(
            ctypes.get_errno()), file=sys.stderr)


def reap_children(grace: float = 20.0) -> None:
    """Wait until no process is left under this one. Those still running
    after ``grace`` seconds are sent SIGTERM, and SIGKILL five seconds
    later."""
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        late = time.monotonic() - deadline
        if late > 0:
            sig = signal.SIGTERM if late < 5 else signal.SIGKILL
            for child in harness.descendants(os.getpid())[1:]:
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _terminated(signum, frame):
    # unwind through every finally, which stops the JVM and reaps
    sys.exit(128 + signum)


def vars_of(obj) -> dict:
    return {k: v for k, v in vars(obj).items() if not k.startswith("_")}


def final_line(record: dict) -> dict:
    if record["trace"]:
        metrics = {k: {"value": record["per_layer"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": record["end_to_end"][k]["median"], "unit": u}
                   for k, u in END_TO_END.items()}
    return {"correct": record["correct"], "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}


def print_table(record: dict) -> None:
    name = record["workload"]
    print("workload {0}  seed {1}  correct {2}  attempted {3}  failed {4}  "
          "error_rate {5:.3f}".format(
              name, record["seed"], record["correct"], record["attempted"],
              record["failed"], record["failed"] / max(1, record["attempted"])))
    aliases = ALIASES.get(name, {})
    for k, unit in END_TO_END.items():
        s = record["end_to_end"][k]
        label = k + (" ({0})".format(aliases[k]) if k in aliases else "")
        print("  {0:<48} {1:>16.4f} {2:<5} spread {3:.4f}  n={4}".format(
            label, s["median"], unit, s["spread"], s["n"]))
    if record["trace"]:
        for k, unit in PER_LAYER.items():
            print("  {0:<48} {1:>16.4f} {2}".format(k, record["per_layer"][k], unit))
        for k, v in (record.get("trace_checks") or {}).items():
            print("  check {0}: {1}".format(k, v))
    for err in record["errors"]:
        print("  failed op: {0}".format(err))


def run_many(names, args) -> int:
    """Each workload in its own process; the last line sums them."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]))
        try:
            res = json.loads(lines[-1]) if proc.returncode == 0 else None
        except (IndexError, ValueError):
            res = None
        if res is None:
            print("workload {0} did not report (exit {1})".format(name, proc.returncode))
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        total["correct"] = total["correct"] and res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"]["{0}.{1}".format(name, k)] = v
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import warcio_spark  # noqa: F401
    except ImportError as exc:
        print("perfbench: cannot import the engine from {0}: {1}".format(ROOT, exc),
              file=sys.stderr)
        return 2

    names = list(WORKLOADS) if args.workload == "all" else args.workload.split(",")
    for n in names:
        workload_class(n)

    adopt_orphans()
    signal.signal(signal.SIGTERM, _terminated)
    try:
        if len(names) > 1:
            return run_many(names, args)
        try:
            record = run_workload(names[0], args.seed, args.seconds, bool(args.trace))
        finally:
            stop_jvm()
    finally:
        reap_children()
    os.makedirs(os.path.join(harness.WORK, "results"), exist_ok=True)
    path = os.path.join(harness.WORK, "results", "{0}-seed{1}-trace{2}-{3}.json".format(
        names[0], args.seed, args.trace, int(time.time())))
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print_table(record)
    print(json.dumps(record, default=str))
    print(json.dumps(final_line(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

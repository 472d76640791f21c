#!/usr/bin/env python3
"""Benchmark of the tsprofiler_spark engine on the host it runs on.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``profile_codec`` and ``retention_microbatch`` (see
``perfbench/workloads/`` and ``perfbench/METRICS.md``). One client
runs a closed loop of operations against ``local[<cores>]`` for
``--seconds`` after set-up and warm-up, then checks every operation's
output. Lines starting with ``#`` report each metric by name with its unit
and sample count; the last line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Run it from the root of a checkout; it reads and writes only under
``.perfbench_tmp/`` there, and removes that when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {"setup_s": "s", "op_cpu_s": "s", "out_bytes_per_row": "B"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def say(line: str) -> None:
    print(f"# {line}", flush=True)


def run_ops(wl, seconds: float) -> tuple[list, int]:
    """Closed loop: the next operation starts when the previous ends, until
    ``seconds`` have passed. Returns (results, operations that raised)."""
    from perfbench.procstat import cpu_seconds, jit_cpu_seconds

    results, raised = [], 0
    start = time.perf_counter()
    while time.perf_counter() - start < seconds and wl.has_more():
        cpu0, jit0 = cpu_seconds(), jit_cpu_seconds()
        try:
            res = wl.op()
        except Exception:  # a failed operation is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            raised += 1
            continue
        res.cpu_s = cpu_seconds() - cpu0
        res.jit_s = jit_cpu_seconds() - jit0
        results.append(res)
    return results, raised


def measured(wl, args, setup_s: float, rss) -> dict:
    from perfbench.common import median

    results, raised = run_ops(wl, args.seconds)
    if not results:
        raise RuntimeError("no operation completed")
    oks = wl.check(results)
    n = len(results)
    metrics = {
        "setup_s": setup_s,
        "op_cpu_s": median([r.cpu_s for r in results]),
        "out_bytes_per_row": wl.out_bytes_per_row(results),
    }
    samples = {"setup_s": 1, "op_cpu_s": n, "out_bytes_per_row": 1}
    for name, value in metrics.items():
        say(f"metric {name} = {value:.6g} {E2E_UNITS[name]} (n={samples[name]})")
    # reported, not gated: wall time swings with the host (steal, shared
    # disk), and the JVM's RSS with its allocator and GC, too far between
    # runs of the same code to bound
    secs = [r.steps.total for r in results]
    rows = sum(r.rows for r in results)
    for name, value, unit, count in [
        ("op_p50_s", median(secs), "s", n),
        ("rows_per_s", rows / sum(secs), f"{wl.row_unit}/s", n),
        ("op_jit_cpu_s", median([r.jit_s for r in results]), "s", n),
        ("rows_per_cpu_s", rows / sum(r.cpu_s for r in results), f"{wl.row_unit}/s", n),
        ("peak_rss_mb", rss.peak_mb, "MB", 1),
        *wl.report(results),
    ]:
        say(f"{wl.name} {name} = {value:.6g} {unit} (n={count})")
    say("op wall/cpu/jit seconds: "
        + ", ".join(f"{r.steps.total:.3f}/{r.cpu_s:.2f}/{r.jit_s:.2f}" for r in results))
    failed = raised + sum(not ok for ok in oks)
    return {"attempted": n + raised, "failed": failed,
            "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}}


def traced(wl, args, ws, cores: int) -> dict:
    """Alternate plain and traced operations for ``--seconds`` (at least one
    of each); per-layer metrics come from the traced ones, the tracing
    overhead from the difference."""
    from perfbench import host
    from perfbench.common import median
    from perfbench.procstat import jit_cpu_seconds
    from perfbench.trace import EventLog, LayerReport, Tracer, metric_names

    def codegen_compiles() -> int:
        """Classes Spark has compiled with Janino so far in this JVM."""
        metrics = wl.spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return metrics.METRIC_COMPILATION_TIME().getCount()

    tracer = Tracer(wl.spark)
    plain, plain_jit_s, plain_compiles, traced_ops, raised = [], [], [], [], 0
    start = time.perf_counter()
    while (time.perf_counter() - start < args.seconds or not traced_ops) and wl.has_more():
        try:
            jit0, compiles0 = jit_cpu_seconds(), codegen_compiles()
            plain.append(wl.untraced_op())
            plain_jit_s.append(jit_cpu_seconds() - jit0)
            plain_compiles.append(codegen_compiles() - compiles0)
            if wl.has_more():
                with tracer.layer("op"):
                    traced_ops.append(wl.traced_op(tracer))
        except Exception:  # counted; the session may be unusable, so stop
            traceback.print_exc(file=sys.stderr)
            raised += 1
            break
    if not traced_ops:
        raise RuntimeError("no traced operation completed")
    oks = wl.check(plain + traced_ops)
    wl.after_trace()
    host.stop_jvm(wl.spark)
    evlog = EventLog(EventLog.find(os.path.join(ws.path, "eventlog")))
    rep = LayerReport(tracer, evlog, cores, len(traced_ops))
    wl.layer_metrics(rep, traced_ops, plain)
    rep.finish("op", wl.layers, [r.steps.total for r in plain])
    rep.set("jvm", "jit_cpu_s", median(plain_jit_s))
    rep.set("jvm", "codegen_compiles", median(plain_compiles))
    units = {name: unit for name, unit, _ in metric_names()}
    for name, value in rep.values.items():
        say(f"layer {name} = {value:.6g} {units[name]} (n={len(traced_ops)})")
    return {"attempted": len(oks) + raised, "failed": raised + sum(not ok for ok in oks),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in rep.values.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the ``finally`` that stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import tsprofiler_spark  # noqa: F401  the engine must be in the checkout
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import host, workloads
    from perfbench.procstat import PeakRss

    cls = workloads.get(args.workload)
    cores = host.host_cores()
    ws = host.Workspace(ROOT)
    wl = None
    try:
        with PeakRss() as rss:
            spark, session_s = host.start_session(ROOT, ws, cores, event_log=bool(args.trace))
            wl = cls(spark, ws, args.seed, cores)
            wl.traced = bool(args.trace)
            prov = host.provenance(ROOT, cores)
            say(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
                f"trace={args.trace} " + " ".join(f"{k}={v}" for k, v in prov.items())
                + f" master=local[{cores}] heap={host.driver_heap(host.mem_total_bytes())}")
            t0 = time.perf_counter()
            wl.prepare()
            prep_s = time.perf_counter() - t0
            wl.warmup()
            warm_s = time.perf_counter() - t0 - prep_s
            setup_s = session_s + prep_s + warm_s
            say(f"setup: session {session_s:.3f} s, prepare {prep_s:.3f} s, "
                f"warm-up {warm_s:.3f} s")
            if args.trace:
                result = traced(wl, args, ws, cores)
            else:
                result = measured(wl, args, setup_s, rss)
    finally:
        try:
            if wl is not None:
                host.stop_jvm(wl.spark)
        finally:
            ws.close()
    result["correct"] = result["failed"] == 0
    say(f"ops_failed_ratio = {result['failed']}/{result['attempted']}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

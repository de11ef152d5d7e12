"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload build --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout of the engine. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it holds the details: the
workload's own metrics under the names the README uses, workload
properties, the set-up breakdown and the host-load context. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time


def _units(spec: dict, kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec[kind]}


T0 = time.perf_counter()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a plain SIGTERM would skip the finally blocks that stop Spark and
    # remove the working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lucene_kmp_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the engine "
              "(no lucene_kmp_spark/ here)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)

    import harness
    from workloads import SETUP_REPS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    host = harness.host_context()
    with harness.work_dir(root) as work, harness.MemSampler() as mem:
        t0 = time.perf_counter()
        spark = harness.start_session(work, len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t0
        try:
            tracer = harness.Tracer(spark.sparkContext, enabled=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
            t0 = time.perf_counter()
            wl.prepare()
            prepare_s = time.perf_counter() - t0
            reps = []
            for r in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup_rep(r)
                reps.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.oracle()
            oracle_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.measure(t0 + args.seconds)
            measure_s = time.perf_counter() - t0
            if args.trace:
                tracer.resolve()
            wl.finish()
            if args.trace:
                wl.common_layers()
                trace_path = os.path.join(
                    root, ".perfbench_out",
                    f"trace-{args.workload}-{args.seed}-{os.getpid()}.json")
                tracer.dump(trace_path)
                wl.detail["trace_file"] = os.path.relpath(trace_path, root)
        finally:
            t0 = time.perf_counter()
            harness.stop_session(spark)
            stop_s = time.perf_counter() - t0
    peak_pss_mb = mem.peak / 2**20

    setup_s = session_s + prepare_s + harness.median(reps) + warm_s
    wl.detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup": {"session_s": session_s, "prepare_s": prepare_s, "reps_s": reps,
                  "warm_s": warm_s},
        "oracle_s": oracle_s, "measure_s": measure_s, "check_s": wl.check_s,
        "stop_s": stop_s, "process_s": time.perf_counter() - T0,
        "failed_op_share": wl.failed / max(wl.attempted, 1),
        "peak_pss_mb": peak_pss_mb, "host": host,
        "peak_pss_mb_by_command": {k: v / 2**20 for k, v in mem.peak_by_command.items()},
    })
    if args.trace:
        values, units = wl.layers, _units(spec, "per_layer")
        wl.detail["layers"] = wl.layers
    else:
        values = dict(wl.e2e(), setup_s=setup_s, peak_pss_mb=peak_pss_mb)
        units = _units(spec, "end_to_end")
        wl.detail.update(values)
    missing = sorted(set(units) - set(values))
    if missing:
        wl.record(False, f"the workload did not measure {missing}")
    correct = wl.failed == 0 and wl.attempted > 0
    print(json.dumps({"detail": wl.detail}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed if wl.attempted else 1,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items() if k in values},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

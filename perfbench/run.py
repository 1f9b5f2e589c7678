#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload omop_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's seeded inputs
(cached under perfbench/_work), times set-up (package import, session
build, query registry load, input registration), measures the workload
for ``--seconds`` seconds, checks its outputs, and prints one JSON line
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones.  Exits non-zero without a result if
the package is not importable or a workload cannot run at all.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import sys
import tempfile
import time

PACKAGE = "hypertension_dashboard_pipeline_spark"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        _fail(f"cannot read BENCHMARK.json in {root}: {e}")
    sys.path.insert(0, root)
    if importlib.util.find_spec(PACKAGE) is None:
        _fail(f"package {PACKAGE} not found under {root}")

    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]()

    # everything the run writes stays inside the checkout
    work = os.path.join(root, "perfbench", "_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # no hsperfdata files in /tmp from the launcher and driver JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 4)))

    t = time.perf_counter()
    inputs = wl.prepare(work, args.seed)
    _log(f"inputs {inputs} ready in {time.perf_counter() - t:.2f} s (not a metric)")

    # ---- set-up: fresh process until the first operation can start ----
    t0 = time.perf_counter()
    from hypertension_dashboard_pipeline_spark import registry, session

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if args.trace:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    t1 = time.perf_counter()
    spark = session.build_session(app_name="perfbench", extra_conf=conf)
    t2 = time.perf_counter()
    registry.load_all()
    t3 = time.perf_counter()
    ctx = wl.register(spark, inputs)
    setup_s = time.perf_counter() - t0
    ctx["seed"] = args.seed
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
    try:
        m = wl.measure(spark, ctx, args.seconds, tracer)
        peak_rss_mb = (_vm_hwm_mb(jvm_pid)
                       + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    except workloads.Incomplete as e:
        print(f"perfbench: too few operations succeeded: {e}", file=sys.stderr)
        sys.exit(1)
    finally:
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - make sure the JVM is gone
                proc.kill()
                proc.wait()

    for note in m.notes:
        _log(note)
    if tracer:
        spans_path = os.path.join(work, f"spans-{args.workload}-s{args.seed}.jsonl")
        tracer.dump(spans_path)
        _log(f"spans written to {spans_path}")
    m.metrics.update(setup_s=setup_s, peak_rss_mb=peak_rss_mb)
    m.layers.update({"session.build_s": t2 - t1, "registry.load_s": t3 - t2})
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = m.layers if args.trace else m.metrics
    metrics = {}
    for entry in wanted:
        name = entry["name"]
        if name not in values and not args.trace:
            _fail(f"workload {args.workload} did not measure {name}")
        # per-layer metrics of layers this workload does not run read 0
        metrics[name] = {"value": float(values.get(name, 0.0)), "unit": entry["unit"]}
    print(json.dumps({"correct": m.failed == 0, "attempted": m.attempted,
                      "failed": m.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one fresh process with one
Spark session on ``local[<cores>]``; the workload makes its inputs from
``--seed``, measures for about ``--seconds`` (longer where a percentile
needs more samples), checks its outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics, and the span file and self-time
table are written under ``.perfbench_out/``.

Workload sizes live in ``perfbench/spec.json``; ``--tiny`` swaps in
the small sizes the smoke test uses.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("incremental", "registry_batch")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def check_checkout() -> None:
    """The benchmark drives the package in the checkout it sits in;
    without it there is nothing to measure."""
    missing = [
        p
        for p in ("diffdataflowmlpipelines_spark/__init__.py", "bench.py", "__spark_entry__.py", "BENCHMARK.json")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        sys.stderr.write(f"perfbench: not a repository checkout, missing {missing}\n")
        raise SystemExit(2)


def metric_lists() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bj = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bj["end_to_end"]},
        {m["name"]: m["unit"] for m in bj["per_layer"]},
    )


def owned_layers(spec: dict, workload: str, declared) -> set[str]:
    """The declared per-layer metrics ``workload`` measures: those matching
    a pattern of spec.json's ``layers`` whose ``on`` lists it. A traced
    run prints the others as 0, since every run prints every metric."""
    pats = [pat for pat, info in spec["layers"].items() if workload in info["on"]]
    return {n for n in declared if any(fnmatch.fnmatchcase(n, pat) for pat in pats)}


def workload_module(name: str):
    import importlib

    return importlib.import_module(f"perfbench.{name}")


def main(argv=None) -> int:
    from perfbench.harness import Context, Tracer, process_start_time, self_time_table

    t_process = process_start_time()
    args = parse_args(argv)
    check_checkout()
    e2e_units, layer_units = metric_lists()
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    wl = spec["workloads"][args.workload]
    params = {**wl["params"], **(wl["tiny"] if args.tiny else {})}
    owned = owned_layers(spec, args.workload, layer_units)

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # keep every temporary file of Spark, the JVM and Python in the checkout
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.environ[var] = work
    # no hsperfdata file either: HotSpot writes it under /tmp whatever tmpdir says
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, ROOT)

    tracer = Tracer(bool(args.trace))
    layers: dict[str, float] = {}
    spark = None
    probe_s = 0.0  # host probe of traced runs, kept out of the set-up figures
    try:
        if args.trace:
            from bench import host_snapshot, spin_calibration

            t1 = time.time()
            host0 = host_snapshot()
            # before the JVM exists, so the probe competes with nothing of ours
            layers["host.per_core_eff"] = spin_calibration()["per_core_eff"] or 0.0
            probe_s = time.time() - t1

        from diffdataflowmlpipelines_spark.session import get_spark

        with tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]")
        layers["session.start_s"] = time.time() - t_process - probe_s

        ctx = Context(spark, tracer, args.seed, args.seconds, work, params)
        mod = workload_module(args.workload)
        t1 = time.time()
        prepared = mod.prepare(ctx)
        layers["sources.write_inputs_s"] = time.time() - t1
        out = mod.run(ctx, prepared)
        layers.update(out.layers)
        e2e = {"setup_s": out.t_first_op - t_process - probe_s, **out.e2e}
        if args.trace:
            from bench import host_delta

            layers["host.steal_pct"] = host_delta(host0, host_snapshot())["steal_pct_of_capacity"] or 0.0
            for k, v in e2e.items():
                layers[f"trace.{k}"] = v
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tracer.write(stem + ".spans.jsonl")
            table = self_time_table(tracer.spans)
            with open(stem + ".self_time.txt", "w") as f:
                f.write(table + "\n")
            sys.stderr.write(table + "\n")
            if set(layers) != owned:
                raise RuntimeError(
                    f"{args.workload} measured {sorted(set(layers) - owned)} beyond its layers in spec.json"
                    f" and missed {sorted(owned - set(layers))}"
                )
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in layer_units.items()}
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in e2e_units.items()}
        result = {
            "correct": bool(out.correct),
            "attempted": int(out.attempted),
            "failed": int(out.failed),
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            spark.stop()
            # the JVM exits once its stdin closes; wait for it, so that no
            # process of the run outlives it
            if gateway is not None and gateway.proc is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())

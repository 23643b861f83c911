"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of workloads.py on ``local[<cores of this host>]`` as a
closed loop: one client, one statement at a time, each iteration checked
against NumPy ground truth.  Prints a human summary on stderr and, as the
last line of stdout, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the ``end_to_end`` metrics of BENCHMARK.json
with ``--trace 0``; with ``--trace 1`` every ``per_layer`` metric.  A
metric the run should produce but did not is an error: the run exits 1
and prints no result.

Set-up (session start, input generation and files, session-side caches,
``WARMUP_ITERS`` warm-up iterations) is timed once as ``setup_s``.  The
expected digests are computed after set-up, untimed.  Then iterations
repeat, with a JVM and Python GC between them, until their summed wall
time reaches ``--seconds`` (and at least ``MIN_ITERS``).  With
``--trace 1`` iterations alternate untraced/traced, at least
``MIN_ITERS`` of each; spans of the traced ones go to
``.perfbench_work/traces/`` and ``trace.overhead_s`` is the traced minus
the untraced median wall time.  A traced run then measures the layers
``layers.json`` assigns to the other workloads with a probe of each: its
inputs, ``WARMUP_ITERS`` untraced and ``PROBE_ITERS`` traced, checked
iterations, then its layer passes.  So every traced run reports every
layer, whichever workload it times.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# the second iteration of a session is still up to 35 % slower than the
# ones after it (RESULTS.md)
WARMUP_ITERS = 2
MIN_ITERS = 2
PROBE_ITERS = 1


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def layer_metrics(spec: dict, layers: dict) -> dict:
    """workload -> the per_layer metric names layers.json assigns to it.
    Raises ValueError unless every per_layer metric of BENCHMARK.json is
    assigned to at least one workload, and no other metric is."""
    declared = {m["name"] for m in spec["per_layer"]}
    out: dict[str, list[str]] = {}
    mapped = set()
    for layer in layers["layers"]:
        mapped.update(layer["metrics"])
        for w in layer["workloads"]:
            out.setdefault(w, []).extend(layer["metrics"])
    if mapped != declared:
        raise ValueError(f"layers.json and BENCHMARK.json per_layer differ: {sorted(mapped ^ declared)}")
    return out


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(1, REPO)
    try:
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            spec = json.load(f)
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)
        per_workload = layer_metrics(spec, layers)
        import sequila_spark  # noqa: F401 — the program under test
    except (OSError, ImportError, ValueError, KeyError) as e:
        log(f"perfbench: cannot run here: {e}")
        return 2

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=layers["default_seed"])
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2

    base = os.path.join(REPO, ".perfbench_work")
    workdir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    cores = harness.host_cores()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.make_session(base, workdir, cores)
        session_s = time.perf_counter() - t0
        from sequila_spark.sources import _ckern

        log(f"perfbench: {args.workload} seed={args.seed} local[{cores}] "
            f"ckern={_ckern.available()} session={session_s:.2f}s")
        result = measure(spark, harness, workloads, args, workdir, session_s)
        tr = result.pop("tracer")
        if args.trace:
            for name in per_workload:
                if name != args.workload:
                    probe(result, tr, spark, harness, workloads, name, args.seed, workdir)
            result["metrics"]["bam.ckern"] = int(_ckern.available())
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            tr.dump(os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
            names = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            names = [m["name"] for m in spec["end_to_end"]]
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        missing = [n for n in names if n not in result["metrics"]]
        if missing:
            log(f"perfbench: {args.workload} did not produce {missing}")
            return 1
        result["metrics"] = {n: {"value": result["metrics"][n], "unit": units[n]} for n in names}
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def measure(spark, harness, workloads, args, workdir: str, session_s: float) -> dict:
    w = workloads.WORKLOADS[args.workload](spark, args.seed, workloads.SIZES["full"])
    min_iters = 2 * MIN_ITERS if args.trace else MIN_ITERS
    inputs = os.path.join(workdir, "inputs")
    os.makedirs(inputs)
    t = time.perf_counter()
    w.prepare(inputs)
    prep_s = time.perf_counter() - t
    w.open()
    warm = [w.run(harness.Tracer(False)) for _ in range(WARMUP_ITERS)]
    setup_s = session_s + time.perf_counter() - t
    w.expect()
    warm_ok = all(w.check(out) for out in warm)
    if not warm_ok:
        log("perfbench: a warm-up iteration gave a wrong result")

    tr = harness.Tracer(False)
    walls = {False: [], True: []}
    gcs = []
    attempted = failed = 0
    with harness.PeakRss() as rss:
        while attempted < min_iters or sum(walls[False]) + sum(walls[True]) < args.seconds:
            harness.full_gc(spark)
            tr.enabled = bool(args.trace) and attempted % 2 == 1
            tr.trace_id = attempted
            attempted += 1
            gc0 = harness.gc_seconds(spark)
            t = time.perf_counter()
            try:
                with tr.span(args.workload):
                    out = w.run(tr)
                wall = time.perf_counter() - t
                gcs.append(harness.gc_seconds(spark) - gc0)
                ok = w.check(out)
            except Exception:
                wall = time.perf_counter() - t
                traceback.print_exc()
                ok = False
            walls[tr.enabled].append(wall)
            if not ok:
                failed += 1
    wall_s = statistics.median(walls[False])
    metrics = {
        "wall_s": wall_s,
        "reads_per_s": w.reads_per_run / wall_s,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak / 1e6,
    }
    if args.trace:
        tr.enabled = True
        metrics = w.layers(tr)
        metrics["jvm.gc_s"] = statistics.median(gcs)
        metrics["trace.overhead_s"] = statistics.median(walls[True]) - wall_s
    log(f"perfbench: {args.workload}: wall_s median {wall_s:.3f} s over {len(walls[False])} "
        f"untraced samples (all: {', '.join(f'{x:.3f}' for x in walls[False] + walls[True])}); "
        f"setup_s {setup_s:.2f} s (session {session_s:.2f} s, inputs {prep_s:.2f} s); "
        f"peak_rss_mb {rss.peak / 1e6:.0f} MB; error_rate {failed}/{attempted} ratio "
        f"{failed / attempted:.3f}; probe failures {w.probe_failures}")
    return {"correct": warm_ok and failed == 0 and w.probe_failures == 0,
            "attempted": attempted, "failed": failed, "metrics": metrics, "tracer": tr}


def probe(result: dict, tr, spark, harness, workloads, name: str, seed: int, workdir: str) -> None:
    """Adds to a traced run's ``result`` the layer metrics of workload
    ``name``, from its own inputs (same seed and size as its timed runs).
    Its traced iterations and layer passes add spans to ``tr``; a wrong
    iteration or layer pass makes the run not correct."""
    w = workloads.WORKLOADS[name](spark, seed, workloads.SIZES["full"])
    inputs = os.path.join(workdir, f"probe-{name}")
    os.makedirs(inputs)
    t = time.perf_counter()
    w.prepare(inputs)
    w.open()
    tr.enabled = False
    outs = [w.run(tr) for _ in range(WARMUP_ITERS)]
    tr.enabled = True
    for _ in range(PROBE_ITERS):
        harness.full_gc(spark)
        tr.trace_id += 1
        with tr.span(name):
            outs.append(w.run(tr))
    w.expect()
    result["metrics"].update(w.layers(tr))
    ok = all(w.check(out) for out in outs) and w.probe_failures == 0
    result["correct"] = result["correct"] and ok
    log(f"perfbench: probe {name}: {time.perf_counter() - t:.1f} s, "
        f"{len(outs)} iterations, {'correct' if ok else 'WRONG'}")


if __name__ == "__main__":
    sys.exit(main())

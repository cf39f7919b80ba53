"""Benchmark for the spatial engine: three workloads, end-to-end and per layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload headline_join --seed 1 --seconds 12 --trace 0

One process starts one local Spark session on every core of the host
(``local[<cores>]``), sets the workload up, then runs timed iterations
for ``--seconds`` and checks every iteration's output.  With
``--trace 0`` it reports the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` each step runs in its own Spark job group and it
reports the per-layer metrics instead.  Every metric is printed by name
with its unit and direction; the last line is one JSON object.  The exit
code is 1 when any output check fails.

Everything the run writes (inputs, Spark scratch, temp files) stays
under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time
import traceback

import workloads
from layers import descendants

DEADLINE_S = 170            # a run must end within 180 s
DRIVER_MEMORY = "2g"

REGISTRY_LAYERS = [f"{module}.{name}" for module, name in workloads.REGISTRY]
QUERY_METRICS = ["wall_s", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
                 "shuffle_write_mb", "spill_mb", "driver_s"]
LAYERS = {
    "session.start": ["wall_s"],
    "shapefile.parse": ["wall_s", "cpu_s", "records", "py_out_mb"],
    "spatial_join.cover": ["wall_s", "cpu_s", "gc_s", "py_in_mb", "rows_full",
                           "rows_narrow", "rows_wide", "edges_p99"],
    "geotag.scan": ["wall_s", "cpu_s", "rows"],
    "spatial_join.probe": ["self_s", "cpu_s", "gc_s", "candidate_rows", "rows_out",
                           "refine_keep_ratio"],
    "tiles.rollup": ["self_s", "shuffle_write_mb", "cells_out"],
    **{layer: QUERY_METRICS for layer in REGISTRY_LAYERS},
    "dedup.dedup_minhash_lsh_isolated": ["wall_s", "run_s", "gc_s", "shuffle_read_mb",
                                         "driver_s"],
    "trace": ["covered_frac", "overhead_frac"],
}
SPAN_METRICS = set(QUERY_METRICS) | {"py_in_mb", "py_out_mb"}
HIGHER_IS_BETTER = {"rows_full", "refine_keep_ratio", "covered_frac", "records",
                    "rows", "rows_out", "cells_out"}


def layer_spec() -> list[dict]:
    """Per-layer metric names, units and directions (BENCHMARK.json order)."""
    out = []
    for layer, metrics in LAYERS.items():
        for m in metrics:
            unit = ("s" if m.endswith("_s") else "MB" if m.endswith("_mb")
                    else "ratio" if m.endswith(("_frac", "_ratio")) else "count")
            out.append({"name": f"{layer}.{m}", "unit": unit,
                        "better": "higher" if m in HIGHER_IS_BETTER else "lower"})
    return out


def prepare_environment(root: str) -> str:
    """Keep every file the run writes inside the checkout."""
    work = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp
    return work


_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the run started."""
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def kill_descendants(wait_s: float = 20.0) -> None:
    """Terminate every process this run started and wait for them to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = descendants()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s / 2
        while descendants() and time.monotonic() < end:
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)
        if not descendants():
            return


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:   # the JVM is killed below either way
            pass
    kill_descendants()


def watchdog() -> threading.Timer:
    def fire():
        print(f"perfbench: run exceeded {DEADLINE_S} s, aborting", file=sys.stderr, flush=True)
        kill_descendants(wait_s=5)
        os._exit(3)
    t = threading.Timer(DEADLINE_S, fire)
    t.daemon = True
    t.start()
    return t


def layer_metrics(wl, tracer, session_s: float, traced_walls, plain_walls,
                  covered) -> dict[str, float]:
    from layers import median

    def med(layer: str, attr: str) -> float:
        spans = tracer.by_name(layer)
        return median([getattr(s, attr) for s in spans]) if spans else 0.0

    vals = {m["name"]: 0.0 for m in layer_spec()}
    vals["session.start.wall_s"] = session_s
    for layer in ("shapefile.parse", "spatial_join.cover", "geotag.scan",
                  *REGISTRY_LAYERS):
        for m in LAYERS[layer]:
            if m in SPAN_METRICS:
                vals[f"{layer}.{m}"] = med(layer, m)
    # the scan fused into the probe and tile actions: the scan step's stage
    # time, not its wall (each action pays its own job overhead)
    scan = med("geotag.scan", "busy_s")
    if tracer.by_name("geotag.scan"):
        vals["geotag.scan.rows"] = float(wl.input_rows)
    if tracer.by_name("shapefile.parse"):
        vals["shapefile.parse.records"] = float(wl.records)
    if hasattr(wl, "shape"):
        for k, v in wl.shape.items():
            vals[f"spatial_join.cover.{k}"] = float(v)
    if tracer.by_name("spatial_join.probe"):
        vals["spatial_join.probe.self_s"] = med("spatial_join.probe", "wall_s") - scan
        vals["spatial_join.probe.cpu_s"] = med("spatial_join.probe", "cpu_s")
        vals["spatial_join.probe.gc_s"] = med("spatial_join.probe", "gc_s")
        vals["spatial_join.probe.candidate_rows"] = float(wl.probe["candidate_rows"])
        vals["spatial_join.probe.rows_out"] = float(wl.probe["rows_out"])
        if wl.probe["candidate_rows"]:
            vals["spatial_join.probe.refine_keep_ratio"] = (
                wl.probe["rows_out"] / wl.probe["candidate_rows"])
    if tracer.by_name("tiles.rollup"):
        vals["tiles.rollup.self_s"] = med("tiles.rollup", "wall_s") - scan
        vals["tiles.rollup.shuffle_write_mb"] = med("tiles.rollup", "shuffle_write_mb")
        vals["tiles.rollup.cells_out"] = float(wl.reference["cells"])
    iso = tracer.by_name("dedup.dedup_minhash_lsh_isolated")
    if iso:
        for m in LAYERS["dedup.dedup_minhash_lsh_isolated"]:
            vals[f"dedup.dedup_minhash_lsh_isolated.{m}"] = getattr(iso[-1], m)
    vals["trace.covered_frac"] = median(covered) if covered else 0.0
    if traced_walls and plain_walls:
        vals["trace.overhead_frac"] = median(traced_walls) / median(plain_walls) - 1.0
    return vals


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "go_shapefile_spark")):
        print(f"perfbench: no go_shapefile_spark package under {root}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    work = prepare_environment(root)

    from layers import RssSampler, Tracer, median, tail

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if [m["name"] for m in spec["per_layer"]] != [m["name"] for m in layer_spec()]:
        print("perfbench: BENCHMARK.json per_layer does not match run.py", file=sys.stderr)
        return 2

    watchdog()
    tracing = bool(args.trace)
    with RssSampler() as rss:
        t = time.monotonic()
        from go_shapefile_spark.session import get_spark
        cores = len(os.sched_getaffinity(0))
        spark = get_spark(app_name="perfbench", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - t
        log(f"session started in {session_s:.2f} s")
        try:
            tracer = Tracer(spark, enabled=tracing)
            wl = workloads.WORKLOADS[args.workload](spark, tracer, args.seed, work)
            parts = wl.setup()
            setup_s = session_s + sum(parts.values())
            log(f"set up: {parts}")
            tracer.collect()
            t = time.monotonic()
            problems = wl.setup_checks()
            check_s = time.monotonic() - t
            log(f"set-up checks done in {check_s:.2f} s")

            walls, traced_walls, plain_walls, covered = [], [], [], []
            attempted = failed = 0
            t_loop = time.monotonic()
            while attempted < (2 if tracing else 1) or time.monotonic() - t_loop < args.seconds:
                traced = tracing and attempted % 2 == 0
                tracer.enabled = traced
                k0 = len(tracer.spans)
                attempted += 1
                t = time.monotonic()
                try:
                    result = wl.iteration(traced)
                    wall = time.monotonic() - t
                    bad = wl.check(result)
                except Exception as exc:   # a failed iteration is counted, not fatal
                    traceback.print_exc()
                    wall, bad = time.monotonic() - t, [f"iteration raised {exc!r}"]
                if bad:
                    failed += 1
                    problems += bad
                walls.append(wall)
                (traced_walls if traced else plain_walls).append(wall)
                if traced:
                    covered.append(sum(s.wall_s for s in tracer.spans[k0:]) / wall)
                    tracer.collect()
            tracer.enabled = tracing
            log(f"{attempted} iterations done")
            problems += wl.final_checks(tracing)
            tracer.collect()
            log("final checks done")
        finally:
            stop_spark(spark)
            log("spark stopped")
    correct = not problems

    print(f"workload {wl.name}: seed {args.seed}, {cores} cores, polygons: "
          f"{workloads.inputs.SERIES}, {attempted} iterations ({failed} failed), "
          f"failed_frac {failed / attempted:.4f}")
    print(f"set-up parts (s): session {session_s:.3f}, "
          + ", ".join(f"{k} {v:.3f}" for k, v in parts.items()) + f"; checks {check_s:.3f}")
    for k, v in wl.info.items():
        print(f"{k}: {v}")
    print("iteration walls (s): " + " ".join(f"{w:.3f}" for w in walls))
    q, v = tail(walls)
    print("wall_s_tail: " + (f"p{q:.1f} = {v:.4f} s over {len(walls)} samples" if q is not None
                             else f"n/a, {len(walls)} samples (needs 11 for 10 beyond)"))
    for p in problems:
        print(f"CHECK FAILED: {p}")

    if tracing:
        metrics = layer_metrics(wl, tracer, session_s, traced_walls, plain_walls, covered)
        specs = spec["per_layer"]
        report_trace(tracer, metrics, traced_walls, plain_walls)
    else:
        metrics = end_to_end_metrics(wl.input_rows, plain_walls, setup_s, rss.peak_mb)
        specs = spec["end_to_end"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": emit(specs, metrics)}))
    return 0 if correct else 1


def end_to_end_metrics(input_rows: int, walls: list[float], setup_s: float,
                       peak_rss_mb: float) -> dict[str, float]:
    """Seconds are medians; throughput is derived from them, never summed."""
    from layers import median

    wall_s = median(walls)
    return {"wall_s": wall_s, "input_rows_per_s": input_rows / wall_s,
            "setup_s": setup_s, "peak_rss_mb": peak_rss_mb}


def emit(specs: list[dict], metrics: dict[str, float]) -> dict[str, dict]:
    """Print each metric with its unit and direction; return the JSON form."""
    out = {}
    for m in specs:
        value = float(metrics[m["name"]])
        print(f"metric {m['name']} = {value:.6g} {m['unit']} ({m['better']} is better)")
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    return out


def report_trace(tracer, metrics, traced_walls, plain_walls) -> None:
    from layers import median

    cov = metrics["trace.covered_frac"]
    line = f"traced wall {median(traced_walls):.3f} s, layer parts cover {cov:.1%}"
    if cov < 0.9:
        line += (f"; the rest ({1 - cov:.1%}) is driver time between the timed "
                 "steps, such as reading the points table's footer")
    print(line)
    if plain_walls:
        print(f"tracing overhead: traced {median(traced_walls):.3f} s vs untraced "
              f"{median(plain_walls):.3f} s ({metrics['trace.overhead_frac']:+.1%}); "
              "traced join iterations also run the split-out scan (and parse) step")
    iso = tracer.by_name("dedup.dedup_minhash_lsh_isolated")
    mix = tracer.by_name("dedup.dedup_minhash_lsh")
    if iso and mix:
        a = iso[-1]
        d = {m: median([getattr(s, m) for s in mix]) - getattr(a, m)
             for m in ("wall_s", "gc_s", "run_s", "driver_s", "shuffle_read_mb")}
        print(f"minhash in-mix {a.wall_s + d['wall_s']:.3f} s vs isolated {a.wall_s:.3f} s "
              f"({d['wall_s']:+.3f} s): task time {d['run_s']:+.3f} s (GC {d['gc_s']:+.3f} s "
              f"of it), driver {d['driver_s']:+.3f} s, shuffle read "
              f"{d['shuffle_read_mb']:+.2f} MB")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

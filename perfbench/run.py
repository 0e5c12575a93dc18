#!/usr/bin/env python3
"""Benchmark of record for the KG pipeline.

One run measures one workload for a fixed time on ``local[<cores>]``,
where cores is this process's CPU affinity, and prints one JSON object as
the last line of standard output:

    python3 perfbench/run.py --workload batch_extract --seed 1 --seconds 30 --trace 0

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
alternates untraced and traced operations and reports the per-layer
metrics. ``--workload all`` runs every workload, one process each, and
prints a table; ``--scaling`` runs batch_extract pinned to 1 core and to
all cores and reports the scaling efficiency. README.md in this directory
describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("batch_extract", "canon_vocab", "stream_ingest")
# stream_ingest reports these besides BENCHMARK.json's end-to-end metrics
STREAM_METRICS = {"batch_latency_p50_s": "s", "batch_latency_max_s": "s"}
WARMUP_PASSES = 2
# one operation per run leaves each run at the mercy of one burst of load
# from other tenants of the host
MIN_OPS = 2


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_specs() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = benchmark_spec()
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def sandbox_env(work: str) -> None:
    """Keeps every file Spark, the JVM and the Python workers write inside
    the work directory, and lets the workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # deployment sizing for this host: a small heap for small inputs on a
    # shared machine, and two shuffle partitions per core (the session's
    # default of 32 is sized for 32 cores)
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(2 * len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    java = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java}"),
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stops the session, the JVM and its Python workers, and waits until
    each process has ended."""
    from pyspark import SparkContext

    from tracing import proc_tree

    children = proc_tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits at end of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")
                    and _state(p) != "Z"]
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(name: str, seed: int, seconds: int, trace: bool) -> dict:
    work = os.path.join(ROOT, ".bench_work", f"{name}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sandbox_env(work)
    try:
        return _measure(name, seed, seconds, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(name: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    from pl_marker_spark.session import get_spark
    from tracing import (HARNESS_GROUP, Tracer, ambient, cpu_seconds,
                         peak_rss_mb, proc_tree)
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[name](seed, work)
    wl.generate()
    t0 = time.perf_counter()
    spark = get_spark(app=f"perfbench-{name}", master=f"local[{cores}]")
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        session_jobs = len(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup(HARNESS_GROUP, "benchmark harness")
        tracer = Tracer(sc) if trace else None
        wl.open(spark)
        # the JIT keeps warming over the first passes: a second untimed
        # pass keeps that out of the measured operations; both count as
        # set-up
        setup_s = session_s
        for w in range(WARMUP_PASSES):
            warm = wl.op(spark, f"warmup{w}")
            setup_s += warm.wall_s
            wl.discard(warm)

        samples, layer_vals = [], []
        attempted = failed = 0
        errors: list[str] = []
        last = None
        start = time.perf_counter()
        k = 0
        while True:
            traced = trace and k % 2 == 1
            sample = {"op": k, "traced": traced, **ambient()}
            cpu0 = cpu_seconds(proc_tree())
            attempted += 1
            if traced:
                tracer.begin_op()
            try:
                op = wl.op(spark, k, tracer if traced else None)
            except Exception:  # one failed operation must not end the run
                traceback.print_exc()
                failed += 1
                op = None
            finally:
                if traced:
                    tracer.end_op()
            pids = proc_tree()
            sample["cpu_s"] = cpu_seconds(pids) - cpu0
            sample["peak_rss_mb"] = peak_rss_mb(pids)
            samples.append(sample)
            if op is not None:
                sample.update(wall_s=op.wall_s, triples=op.triples,
                              batch_latency_s=op.batch_latency_s)
                if op.rows != warm.rows:
                    failed += 1
                    errors.append(f"op {k}: stage rows {op.rows} differ from "
                                  f"the warm-up's {warm.rows}")
                if traced:
                    layer_vals.append(layer_metrics(wl, op, tracer, k))
                if last is not None:
                    wl.discard(last)
                last = op
            k += 1
            # at least MIN_OPS operations (a traced run needs an untraced and
            # a traced one), then more while the next should end within the
            # measured time
            elapsed = time.perf_counter() - start
            typical = median([s["wall_s"] for s in samples if "wall_s" in s])
            if k >= MIN_OPS and elapsed + (typical or elapsed / k) > seconds:
                break
        if last is None or (trace and not layer_vals):
            raise RuntimeError("no operation (or no traced one) succeeded")

        # correctness of the last operation, untimed
        t0 = time.perf_counter()
        try:
            check_errors = wl.check(spark, last)
        except Exception:
            traceback.print_exc()
            check_errors = ["the check raised"]
        check_s = time.perf_counter() - t0
        failed += bool(check_errors)
        errors += check_errors

        ok = [s for s in samples if "wall_s" in s]
        plain = [s for s in ok if not s["traced"]]
        e2e = {
            "setup_s": setup_s,
            "wall_s": median([s["wall_s"] for s in plain]),
            "triples_per_s": median([s["triples"] / s["wall_s"] for s in plain]),
            "cpu_s": median([s["cpu_s"] for s in plain]),
        }
        if name == "stream_ingest":
            lat = [x for s in plain for x in s["batch_latency_s"]]
            e2e["batch_latency_p50_s"] = median(lat)
            e2e["batch_latency_max_s"] = max(lat)
        per_layer = {}
        if trace:
            per_layer = {key: median([v[key] for v in layer_vals])
                         for key in layer_vals[0]}
            per_layer["session.start_s"] = session_s
            per_layer["session.jobs"] = session_jobs
            per_layer["process.cpu_util"] = (
                sum(s["cpu_s"] for s in ok)
                / (sum(s["wall_s"] for s in ok) * cores))
            per_layer["process.peak_rss_mb"] = max(s["peak_rss_mb"] for s in samples)
            per_layer["process.tracing_overhead_s"] = (
                median([s["wall_s"] for s in ok if s["traced"]])
                - median([s["wall_s"] for s in plain]))
        return {
            "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
            "cores": cores, "input_bytes": wl.input_bytes(), "check_s": check_s,
            "correct": not errors, "attempted": attempted, "failed": failed,
            "errors": errors, "e2e": e2e, "per_layer": per_layer,
            "samples": samples, "spans": tracer.spans if tracer else [],
        }
    finally:
        stop_spark(spark)


def layer_metrics(wl, op, tracer, k) -> dict:
    """Per-layer values of one traced operation."""
    from tracing import LAYERS, dir_stats
    from workloads import CC_LOCAL_LIMIT

    totals = tracer.layer_totals(k)
    rows = op.rows
    vals: dict[str, float] = {}
    for layer in LAYERS:
        for key in ("jobs", "tasks", "failed_tasks"):
            vals[f"{layer}.{key}"] = totals[layer][key]
    vocab = (op.outputs["entity_vocab"].count()
             if "entity_vocab" in op.outputs else 0)
    n_convs = len(getattr(wl, "convs", ()))
    sim = rows.get("sim_edges", 0)
    vals.update({
        "assemble.s": totals["assemble"]["s"],
        "assemble.rows": rows.get("turns_tok", 0),
        "extract_fused.s": totals["extract_fused"]["s"],
        "extract_fused.rows_out": rows.get("extract", 0),
        "extract_fused.ms_per_conv": (
            1000 * totals["extract_fused"]["s"] / n_convs if n_convs else 0.0),
        "rel.refine_s": totals["rel"]["s"],
        "link.s": totals["link"]["s"],
        "link.vocab_rows": vocab,
        "link.sim_edges": sim,
        "link.sim_edges_per_surface": sim / vocab if vocab else 0.0,
        "cc.s": totals["cc"]["s"],
        "cc.components": rows.get("nodes", 0),
        "cc.path_star": int(sim > CC_LOCAL_LIMIT),
        "graph.s": totals["graph"]["s"],
        "graph.nodes": rows.get("nodes", 0),
        "graph.edges": rows.get("edges", 0),
    })
    store = op.outputs.get("store")
    if store is not None:
        nbytes, nfiles = dir_stats(store.base)
        vals.update({
            "checkpoint.write_s": sum(e["seconds"] for e in store.events
                                      if not e["resumed"]),
            "checkpoint.bytes_written": nbytes,
            "checkpoint.files_written": nfiles,
            "checkpoint.write_amplification": nbytes / wl.input_bytes(),
        })
    else:
        vals.update({"checkpoint.write_s": 0.0, "checkpoint.bytes_written": 0,
                     "checkpoint.files_written": 0,
                     "checkpoint.write_amplification": 0.0})
    lat, add = op.batch_latency_s, op.add_batch_s
    vals.update({
        "streaming.add_batch_s": median(add),
        "streaming.overhead_s": median([t - a for t, a in zip(lat, add)]),
        "streaming.jobs_per_batch": (
            vals["streaming.jobs"] / len(lat) if lat else 0.0),
        "streaming.state_bytes": (
            dir_stats(op.outputs["dir"])[0] if lat else 0),
    })
    return vals


def result_line(res: dict, values: dict, specs: dict[str, str]) -> dict:
    metrics = {n: {"value": values[n], "unit": u} for n, u in specs.items()}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def run_one(args) -> int:
    e2e_specs, layer_specs = metric_specs()
    res = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        specs, values = layer_specs, res["per_layer"]
    else:
        specs, values = dict(e2e_specs), res["e2e"]
        if args.workload == "stream_ingest":
            specs.update(STREAM_METRICS)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                                 f"-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1, default=str)
    for n, u in specs.items():
        print(f"{args.workload:14s} {n:34s} {values[n]:14.6g} {u}", file=sys.stderr)
    frac = res["failed"] / res["attempted"]
    print(f"{args.workload:14s} correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']} failed_frac={frac:.3f} samples -> {path}",
          file=sys.stderr)
    for e in res["errors"]:
        print(f"{args.workload:14s} CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps(result_line(res, values, specs)))
    return 0


def run_child(workload: str, seed: int, seconds: int, trace: int,
              pin: str | None = None) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if pin is not None:
        cmd = ["taskset", "-c", pin] + cmd
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} failed (exit {p.returncode})")
    return json.loads(lines[-1])


def run_all(args) -> int:
    """Every workload in its own process; prints each end-to-end metric
    with its unit, the correctness status and the failed fraction."""
    results = {}
    for w in WORKLOAD_NAMES:
        r = run_child(w, args.seed, args.seconds, args.trace)
        results[w] = r
        frac = r["failed"] / r["attempted"]
        for n, m in r["metrics"].items():
            print(f"{w:14s} {n:34s} {m['value']:14.6g} {m['unit']}")
        print(f"{w:14s} {'correct':34s} {str(r['correct']):>14s}")
        print(f"{w:14s} {'failed_frac':34s} {frac:14.6g} failed/attempted "
              f"({r['failed']}/{r['attempted']})")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "workloads": results,
    }))
    return 0


def run_scaling(args) -> int:
    """batch_extract pinned to 1 core and to every core of this process's
    affinity; scaling_eff_1toN = (throughput_N / throughput_1) / N."""
    cpus = sorted(os.sched_getaffinity(0))
    n = len(cpus)
    legs = {}
    for cores in (1, n):
        pin = ",".join(str(c) for c in cpus[:cores])
        legs[cores] = run_child("batch_extract", args.seed, args.seconds, 0, pin)
    thr = {c: legs[c]["metrics"]["triples_per_s"]["value"] for c in legs}
    eff = (thr[n] / thr[1]) / n
    print(f"batch_extract  triples_per_s at 1 core {thr[1]:.6g}, at {n} cores "
          f"{thr[n]:.6g}: scaling_eff_1to{n} {eff:.4f}", file=sys.stderr)
    print(json.dumps({
        "correct": all(r["correct"] for r in legs.values()),
        "attempted": sum(r["attempted"] for r in legs.values()),
        "failed": sum(r["failed"] for r in legs.values()),
        "metrics": {"scaling_eff_1toN": {"value": eff, "unit": "ratio"},
                    "cores": {"value": n, "unit": "count"}},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=(*WORKLOAD_NAMES, "all"),
                    default="all")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int,
                    help="measured time per run (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling", action="store_true",
                    help="scaling diagnostic of batch_extract (1 vs all cores)")
    args = ap.parse_args(argv)
    if args.seconds is None:
        args.seconds = benchmark_spec()["run_seconds"]
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("pl_marker_spark") is None:
        print(f"perfbench: the program (pl_marker_spark) is not under {ROOT}",
              file=sys.stderr)
        return 3
    if args.scaling:
        return run_scaling(args)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())

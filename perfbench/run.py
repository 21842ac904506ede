"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One driver process builds the session with
the program's own ``get_spark`` on ``local[nproc]``, generates the
workload's input from the seed, makes the workload's untimed warm-up calls,
then calls the workload's entry point in a closed loop, one call at a time,
until ``--seconds`` have passed, and checks the output. The last
stdout line is one JSON object; with ``--trace 0`` it holds the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run.
``--workload all`` runs every workload in the same process.

Exit status: 0 when every output is correct and nothing failed, 1 on a
correctness mismatch or failed task, 2 when the checkout holds no program.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _process_start() -> float:
    """This process's start as a ``time.perf_counter`` reading."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_START = _process_start()
sys.path.insert(0, ROOT)


def _spec_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit for this mode, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def measure(spark, wl, seconds: float, jobs, jvm: int) -> tuple[list[float], list[str], float]:
    from perfbench.harness import worker_rss_peak_mb

    walls, groups, rss = [], [], 0.0
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        wl.reset()
        with jobs.group("e2e") as gid:
            t0 = time.perf_counter()
            wl.run_once(spark)
            walls.append(time.perf_counter() - t0)
        groups.append(gid)
        rss = max(rss, worker_rss_peak_mb(jvm))
    return walls, groups, rss


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool, tracer,
                 session: dict) -> dict:
    from perfbench import harness
    from perfbench.probes import run_probes
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{name}-s{seed}")
    shutil.rmtree(work, ignore_errors=True)
    wl = WORKLOADS[name](work, seed)
    phases = {}
    t0 = time.perf_counter()
    with tracer.span(f"generate.{name}", "bench"):
        wl.generate()
    jobs = harness.JobGroups(spark)
    t1 = time.perf_counter()
    # the oracle needs no Spark, so it runs beside the untimed warm-up calls
    with tracer.span(f"warmup.{name}", "bench"), ThreadPoolExecutor(1) as pool:
        oracle = pool.submit(wl.oracle)
        for _ in range(wl.warmup_calls):
            wl.reset()
            wl.run_once(spark)
        want = oracle.result()
    t2 = time.perf_counter()
    phases.update(generate_s=t1 - t0, warmup_s=t2 - t1)
    info = {"workload": name, "seed": seed, "rows": wl.rows, "input_digest": wl.digest}
    if not trace:
        ticks = harness.cpu_ticks()
        walls, groups, rss = measure(spark, wl, seconds, jobs, harness.jvm_pid())
        wall = statistics.median(walls)
        metrics = {"setup_s": session["setup_s"], "wall_s": wall,
                   "rows_per_s": wl.rows / wall, "worker_rss_peak_mb": rss}
        info["walls"] = [round(w, 4) for w in walls]
        info["steal_frac"] = round(harness.steal_frac(ticks), 4)
    else:
        # one untraced call, then the same call inside a span; the overhead
        # is their difference
        wl.reset()
        with jobs.group("e2e-untraced") as gid:
            t0 = time.perf_counter()
            wl.run_once(spark)
            untraced = time.perf_counter() - t0
        wl.reset()
        t0 = time.perf_counter()
        with tracer.span(f"e2e.{name}", "e2e"), jobs.group("e2e-traced") as traced_gid:
            wl.run_once(spark)
        traced = time.perf_counter() - t0
        groups = [gid, traced_gid]
        metrics = run_probes(spark, wl, work, tracer, jobs)
        spark_counts = jobs.counts(traced_gid)
        kernel_s = metrics["core.extract_batch_us_per_row"] * wl.rows / 1e6 / harness.nproc()
        metrics.update({
            "session.get_spark_s": session["get_spark_s"],
            "session.worker_warmup_s": session["worker_warmup_s"],
            "spark.tasks": spark_counts["tasks"],
            "spark.tasks_failed": spark_counts["tasks_failed"],
            "trace.wall_s": untraced,
            "trace.overhead_s": traced - untraced,
            "trace.explained_frac": (kernel_s + metrics["extract_pipeline.hop_s"]
                                     + metrics["extract_pipeline.write_s"]) / untraced,
        })
    t3 = time.perf_counter()
    with tracer.span(f"check.{name}", "bench"):
        errors = wl.check(spark, want)
    phases.update(measure_s=t3 - t2, check_s=time.perf_counter() - t3)
    info["phases_s"] = {k: round(v, 3) for k, v in phases.items()}
    failed_steps = 0
    for gid in groups:
        c = jobs.counts(gid)
        failed_steps += bool(c["jobs_failed"] or c["tasks_failed"])
    for e in errors:
        print(f"MISMATCH {name}: {e}", file=sys.stderr)
    info.update(attempted=len(groups), failed=failed_steps + bool(errors))
    info["failed_frac"] = info["failed"] / info["attempted"]
    info["correct"] = not errors
    if hasattr(wl, "kept"):
        info["docs_after_exact_dedup"], info["docs_after_near_dedup"] = wl.kept
    shutil.rmtree(work, ignore_errors=True)
    return {"metrics": metrics, "info": info}


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "document_extraction_spark")):
        print(f"no document_extraction_spark package under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import harness
    from perfbench.trace import NullTracer, Tracer

    units = _spec_units(bool(args.trace))
    tmp = os.path.join(ROOT, ".perfbench_work", "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    harness.isolate_env(tmp)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id) if args.trace else NullTracer()
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    results = {}
    with tracer.span("run", "bench"):
        spark, get_spark_s, warmup_s = harness.setup(harness.nproc(), tracer)
        session = {"setup_s": time.perf_counter() - T_START,
                   "get_spark_s": get_spark_s, "worker_warmup_s": warmup_s}
        try:
            machine = harness.machine_info(spark)
            for name in names:
                results[name] = run_workload(spark, name, args.seed, args.seconds,
                                             bool(args.trace), tracer, session)
        finally:
            harness.shutdown(spark)
            shutil.rmtree(tmp, ignore_errors=True)
    if args.trace:
        self_s = tracer.self_times()
        for r in results.values():
            r["metrics"].update({f"{layer}.self_s": v for layer, v in self_s.items()})
        tracer.write(os.path.join(ROOT, ".perfbench_work", "traces", f"{run_id}.json"))

    for name, r in results.items():
        if set(r["metrics"]) != set(units):
            raise RuntimeError(f"{name} measured {sorted(r['metrics'])}, BENCHMARK.json lists {sorted(units)}")
        print(json.dumps({"info": {**r["info"], **machine}}))
        print(f"{name}: " + " ".join(f"{k}={r['metrics'][k]:.6g} {u}" for k, u in units.items())
              + f" failed_frac={r['info']['failed_frac']:.6g} ratio")
    ok = all(r["info"]["correct"] and not r["info"]["failed"] for r in results.values())
    metrics = {
        (k if len(names) == 1 else f"{n}.{k}"): {"value": r["metrics"][k], "unit": u}
        for n, r in results.items() for k, u in units.items()
    }
    print(json.dumps({
        "correct": all(r["info"]["correct"] for r in results.values()),
        "attempted": sum(r["info"]["attempted"] for r in results.values()),
        "failed": sum(r["info"]["failed"] for r in results.values()),
        "metrics": metrics,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

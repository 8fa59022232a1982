#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload daemon_live --seed 1 --seconds 16 --trace 0

Workloads (see each module's docstring):

* ``daemon_live``     open loop: fake apiserver process -> watch spooler
                      -> k8s-events source -> dedup -> emit + metrics;
* ``daemon_replay``   one-shot catch-up of a pre-spooled backlog;
* ``batch_registry``  closed loop over ``bench.py``'s 21 headline rows;
* ``all``             the three in turn, printing each one's named
                      metrics (not listed in BENCHMARK.json).

``BENCHMARK.json`` gates ``daemon_live`` and ``batch_registry``;
``daemon_replay`` runs on request (its traced run also replays on
``local[1]`` as a single-thread baseline).

Every run starts the session three times and reports the median as
``setup_s``, checks the program's outputs (emitted key set, exposition
invariants, DuckDB oracles) and counts failed operations against
attempted ones. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
A traced run also writes spans, per-layer self times and the tracing
overhead (against the latest untraced run of the same workload and
seed in ``perfbench/out``) to ``perfbench/out/<workload>-<seed>-trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("daemon_live", "daemon_replay", "batch_registry")
E2E_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "latency_mean_s": "s",
    "latency_p99_s": "s",
    "cpu_ms_per_op": "ms",
}
NAMED_UNITS = {
    "replay_events_per_s": "1/s",
    "batch_rows_per_s": "1/s",
}


def _module(workload: str):
    import importlib

    return importlib.import_module(workload)


def stop_jvm(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort on a hung JVM
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(spark, res: dict, setups: list[float], job0: int) -> dict:
    """The per-layer metrics every workload reports (BENCHMARK.json
    ``per_layer``)."""
    import spans as tr
    from event_stream_for_k8s_spark.caching import live_query_caches

    jl = tr.jobs(spark, job0)
    st = tr.stage_totals(spark, [s for j in jl for s in j["stages"]])
    return {
        "session.jvm_start_s": (setups[0], "s"),
        "session.jvm_peak_rss_mb": (common.vm_hwm_mb(common.jvm_pid(spark)), "MiB"),
        "session.py_peak_rss_mb": (common.vm_hwm_mb(), "MiB"),
        "plans.build_s": (res["plan_build_s"], "s"),
        "spark.jobs": (len(jl), "count"),
        "spark.stages": (st["stages"], "count"),
        "spark.tasks": (st["tasks"], "count"),
        "spark.executor_run_s": (st["executor_run_s"], "s"),
        "spark.executor_cpu_s": (st["executor_cpu_s"], "s"),
        "spark.shuffle_write_bytes": (st["shuffle_write_bytes"], "bytes"),
        "caching.live_handles": (live_query_caches(), "count"),
    }


def run_workload(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import spans as tr

    run_dir = common.fresh_dir(common.WORK, f"{workload}-{seed}-{os.getpid()}")
    common.prepare_env(run_dir)
    spare = common.pin_cpus()
    spark = None
    try:
        stamp = common.stamp(seed, workload)
        spark, setups = common.timed_setups(run_dir)
        job0 = tr.max_job_id(spark)
        tracer = tr.Tracer(trace)
        res = _module(workload).run(spark, run_dir, seed, seconds, tracer, spare)
        res["e2e"]["setup_s"] = common.median(setups)
        res["setups_s"] = setups
        res["stamp"] = stamp
        if trace:
            res["per_layer"] = layer_metrics(spark, res, setups, job0)
            res["spans"] = tracer.spans
            if workload == "daemon_replay":
                stop_jvm(spark)
                spark = None
                import daemon_replay

                spark = common.start_session(run_dir, cores=1)
                res["single_thread_baseline"] = daemon_replay.single_thread_baseline(
                    spark, run_dir, seed)
        return res
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def artifact_path(workload: str, seed: int, trace: bool) -> str:
    return os.path.join(common.OUT, f"{workload}-{seed}-{'trace' if trace else 'e2e'}.json")


def overhead(workload: str, seed: int, traced_e2e: dict) -> dict:
    """Traced minus untraced end-to-end numbers, against the untraced
    result of the same workload and seed, else the newest untraced
    result of the workload, in ``perfbench/out``."""
    import glob

    path = artifact_path(workload, seed, False)
    if not os.path.exists(path):
        found = glob.glob(os.path.join(common.OUT, f"{workload}-*-e2e.json"))
        if not found:
            return {"baseline": None}
        path = max(found, key=os.path.getmtime)
    with open(path) as f:
        base = json.load(f)["e2e"]
    return {"baseline": os.path.basename(path),
            "delta": {k: traced_e2e[k] - base[k] for k in traced_e2e if k in base},
            "ratio": {k: traced_e2e[k] / base[k] for k in traced_e2e if base.get(k)}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not common.package_present():
        print("perfbench: the event_stream_for_k8s_spark package is not in "
              "this checkout; nothing to measure", file=sys.stderr)
        return 2
    os.makedirs(common.OUT, exist_ok=True)
    trace = bool(a.trace)
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in names:
        res = run_workload(w, a.seed, a.seconds, trace)
        if trace:
            res["tracing_overhead"] = overhead(w, a.seed, res["e2e"])
        with open(artifact_path(w, a.seed, trace), "w") as f:
            json.dump(res, f, indent=1, default=str)
        results[w] = res
        print(f"[{w}] correct={res['failed'] == 0} attempted={res['attempted']} "
              f"failed={res['failed']} checks={json.dumps(res['checks'], default=str)[:400]}")
        for k, v in res["e2e"].items():
            print(f"[{w}] {k} = {v:.6g} {E2E_UNITS[k]}")
        for k, v in res["named"].items():
            print(f"[{w}] {k} = {v:.6g} {NAMED_UNITS.get(k, 's')}")
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    metrics = {}
    for w, r in results.items():
        pre = f"{w}." if len(results) > 1 else ""
        if trace:
            for k, (v, unit) in r["per_layer"].items():
                metrics[pre + k] = {"value": v, "unit": unit}
        else:
            for k, v in r["e2e"].items():
                metrics[pre + k] = {"value": v, "unit": E2E_UNITS[k]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    t = time.time()
    rc = main()
    print(f"perfbench: {time.time() - t:.1f}s", file=sys.stderr)
    sys.exit(rc)

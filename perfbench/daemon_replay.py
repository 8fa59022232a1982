"""``daemon_replay``: restart catch-up in file-tail mode.

A seeded pre-spooled watch log (40% of its lines re-list duplicates)
is replayed one-shot (``available_now=True``) with a fresh checkpoint
each time, so every replay builds the dedup state from empty and
bypasses the HTTP spooler. One small untimed replay warms the JVM and
the Python workers first; its start-to-first-emit time is the cold
number. Timed replays repeat until the run's seconds are used.
"""

from __future__ import annotations

import os
import shutil
import time

import common
import daemon_common as dc
import spans as tr
from gen import replay_backlog

BACKLOG_EVENTS = 60_000
WARMUP_EVENTS = 10_000
DUP_SHARE = 0.40
MIN_REPLAYS, MAX_REPLAYS = 3, 4


def _backlog(run_dir: str, seed: int, n: int, name: str):
    d = common.fresh_dir(run_dir, name)
    path = os.path.join(d, "watch.jsonl")
    keys = replay_backlog(seed, n, DUP_SHARE, path, time.time())
    return d, {f"{u}:{r}" for u, r in keys}, n


def replay_once(spark, run_dir: str, spool_dir: str, expected: set[str],
                received: int, i: int, tracer=None, wrap=None) -> dict:
    from event_stream_for_k8s_spark.daemon import DaemonConfig, run_daemon

    ck = os.path.join(run_dir, f"ck-{i}")
    shutil.rmtree(ck, ignore_errors=True)
    cfg = DaemonConfig(env={
        "CACHE_TTL": "3600", "CACHE_DB": ck, "KES_SPOOL": spool_dir,
        "METRICS_PORT": "0", "METRICS_HOST": "127.0.0.1",
    })
    emit = dc.EmitRecorder()
    job0 = tr.max_job_id(spark) if tracer is not None else -1
    server = None
    errors: list[str] = []
    try:
        c0 = common.tree_cpu_s()
        t0 = time.time()
        query, metrics, server = run_daemon(
            spark, cfg, emit=emit, available_now=True,
            install_signal_handlers=False,
        )
        t_built = time.time()
        try:
            query.awaitTermination()
        except Exception as e:  # noqa: BLE001 - recorded as a failure
            errors.append(f"awaitTermination: {type(e).__name__}: {e}"[:300])
        t1 = time.time()
        c1 = common.tree_cpu_s()
        progress = tr.progress_list(query)
        errors += dc.stop_query(query)
        metrics.sync_from_query(query)
        scraped = dc.scrape(server.port)
    finally:
        if server is not None:
            server.stop()
    shutil.rmtree(ck, ignore_errors=True)
    events = emit.parsed()
    check = dc.emit_check(events, expected)
    bad = dc.check_invariants(scraped, received, len(expected))
    lat = [t - t0 for t, _ in emit.lines]
    lat += [t1 - t0] * check["missing"]
    out = {
        "wall_s": t1 - t0,
        "build_s": t_built - t0,
        "first_emit_s": (emit.lines[0][0] - t0) if emit.lines else t1 - t0,
        "events_per_s": received / (t1 - t0),
        "cpu_ms_per_event": 1000.0 * (c1 - c0) / received,
        "latency_mean_s": sum(lat) / len(lat),
        "latency_p50_s": common.pct(lat, 50),
        "latency_p99_s": common.pct(lat, 99),
        "failed": check["missing"] + check["duplicates"] + check["unexpected"]
        + len(bad) + len(errors),
        "attempted": len(expected) + 1,
        "checks": dict(check, invariants=bad, stop_errors=errors,
                       scrape=scraped["processed"], received=received),
    }
    if tracer is not None:
        jl = tr.jobs(spark, job0)
        root = tracer.add("replay", "daemon.run", t0, t1, None, f"replay-{i}")
        tracer.add("run_daemon", "plans", t0, t_built, root, f"replay-{i}")
        layers = dc.batch_layers(spark, tracer, progress, wrap, emit.lines, jl, t0, t1)
        out["layers"] = layers
        out["jobs"] = jl
    return out


def run(spark, run_dir: str, seed: int, seconds: float, tracer, spare=()) -> dict:
    warm_dir, warm_keys, warm_n = _backlog(run_dir, seed + 7919, WARMUP_EVENTS, "warm")
    spool, keys, n = _backlog(run_dir, seed, BACKLOG_EVENTS, "backlog")
    warm = replay_once(spark, run_dir, warm_dir, warm_keys, warm_n, 0)
    reps = []
    t_begin = time.time()
    while len(reps) < MAX_REPLAYS and (
        len(reps) < MIN_REPLAYS or time.time() - t_begin < seconds
    ):
        traced_rep = tracer.enabled and not reps
        wrap = dc.ObserverWrap() if traced_rep else None
        try:
            reps.append(replay_once(
                spark, run_dir, spool, keys, n, len(reps) + 1,
                tracer if traced_rep else None, wrap,
            ))
        finally:
            if wrap is not None:
                wrap.restore()
    med = common.median
    out = {
        "e2e": {
            "cold_s": warm["first_emit_s"],
            "latency_mean_s": med(r["latency_mean_s"] for r in reps),
            "latency_p99_s": med(r["latency_p99_s"] for r in reps),
            "cpu_ms_per_op": med(r["cpu_ms_per_event"] for r in reps),
        },
        "named": {"replay_events_per_s": med(r["events_per_s"] for r in reps),
                  "replay_latency_p50_s": med(r["latency_p50_s"] for r in reps)},
        "replays": [{k: v for k, v in r.items() if k not in ("layers", "jobs", "checks")}
                    for r in reps],
        "warmup": {k: v for k, v in warm.items() if k != "checks"},
        "attempted": warm["attempted"] + sum(r["attempted"] for r in reps),
        "failed": warm["failed"] + sum(r["failed"] for r in reps),
        "checks": {"warmup": warm["checks"], "replays": [r["checks"] for r in reps]},
        "plan_build_s": med(r["build_s"] for r in reps),
        "backlog": {"events": n, "distinct": len(keys)},
    }
    if tracer.enabled:
        out["layers"] = reps[0]["layers"]
        out["jobs"] = reps[0]["jobs"]
    return out


def single_thread_baseline(spark, run_dir: str, seed: int) -> dict:
    """Traced run only, ungated: the same timed replay on a
    ``local[1]`` session (``spark``), to show how far the pinned core
    count is from one core."""
    warm_dir, warm_keys, warm_n = _backlog(run_dir, seed + 7919, WARMUP_EVENTS, "warm")
    spool, keys, n = _backlog(run_dir, seed, BACKLOG_EVENTS, "backlog")
    replay_once(spark, run_dir, warm_dir, warm_keys, warm_n, 90)
    r = replay_once(spark, run_dir, spool, keys, n, 91)
    return {"master": "local[1]", "events_per_s": r["events_per_s"],
            "wall_s": r["wall_s"], "failed": r["failed"]}

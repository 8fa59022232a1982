"""``daemon_live``: open-loop continuous daemon against a fake
apiserver in its own process.

Phases: ``warmup`` (2000 ev/s, not measured), ``quiet`` (50 ev/s:
the spooler's 256-event flush and per-batch fixed costs dominate) and
``storm``: pulses of ``PULSE_S`` at 5000 ev/s every ``PULSE_EVERY_S``,
so per-event costs dominate inside a pulse. The storm is pulsed
because a continuous storm's latency depends on where the
micro-batch feedback loop settles, which moved its p50 by 15-30%
between identical runs on a 4-core host; every pulse starts from an
idle daemon, so each run repeats the same batch structure.

About 10% of the stream is re-delivered and must be dropped by the
dedup stage. Latency is timed from each event's due time to its
``emit`` call; an event never emitted counts at the time the run gave
up waiting for it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import common
import daemon_common as dc
import spans as tr
from gen import due_of_message

WARMUP_S, WARMUP_RATE = 4.0, 2000
QUIET_RATE, STORM_RATE = 50, 5000
PULSE_S, PULSE_EVERY_S = 0.4, 4.0
DRAIN_TIMEOUT_S = 45.0


def phases(seconds: float) -> list[tuple[str, float, float]]:
    """Warm-up, a quarter of ``seconds`` quiet, the rest as storm
    pulses: ``PULSE_S`` at ``STORM_RATE`` every ``PULSE_EVERY_S``."""
    quiet = round(seconds * 0.25, 1)
    out = [("warmup", WARMUP_RATE, WARMUP_S), ("quiet", QUIET_RATE, quiet)]
    for _ in range(max(1, int((seconds - quiet) / PULSE_EVERY_S))):
        out += [("storm", STORM_RATE, PULSE_S), ("gap", 0, PULSE_EVERY_S - PULSE_S)]
    return out


def start_apiserver(run_dir: str, seed: int, seconds: float, cpus=()):
    port_file = os.path.join(run_dir, "apiserver.port")
    log = os.path.join(run_dir, "apiserver.json")
    go = os.path.join(run_dir, "apiserver.go")
    spec = ",".join(f"{n}:{r}:{s}" for n, r, s in phases(seconds))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(common.HERE, "apiserver.py"),
         "--seed", str(seed), "--port-file", port_file, "--log", log,
         "--phases", spec, "--go-file", go],
        cwd=common.ROOT,
    )
    if cpus:
        # the generator gets the CPU the Spark side does not use
        os.sched_setaffinity(proc.pid, cpus)
    deadline = time.time() + 60
    while not os.path.exists(port_file):
        if proc.poll() is not None or time.time() > deadline:
            proc.kill()
            proc.wait()
            raise RuntimeError("fake apiserver did not start")
        time.sleep(0.05)
    with open(port_file) as f:
        return proc, int(f.read()), log, go


def wait_caught_up(query, warm_marker: str, spool: str, timeout: float = 120.0) -> None:
    """Block until the generator has sent its warm-up and the daemon
    has committed everything spooled so far (the spooler holds back
    fewer than 256 lines until its next flush), so every run's measured
    phases start from an idle, warm daemon whatever the host's speed."""
    deadline = time.time() + timeout
    while not os.path.exists(warm_marker):
        if time.time() > deadline:
            raise RuntimeError("generator did not send its warm-up")
        time.sleep(0.05)
    with open(warm_marker) as f:
        warm_lines = int(f.read())
    while time.time() < deadline:
        size = os.path.getsize(spool) if os.path.exists(spool) else 0
        if (size and dc.count_lines(spool) > warm_lines - 256
                and dc.committed_pos(query) >= size
                and not query.status["isTriggerActive"]):
            return
        time.sleep(0.05)
    raise RuntimeError("daemon did not catch up with the warm-up")


def run(spark, run_dir: str, seed: int, seconds: float, tracer, spare=()) -> dict:
    from event_stream_for_k8s_spark.daemon import DaemonConfig, run_daemon

    traced = tracer.enabled
    spool_dir = common.fresh_dir(run_dir, "spool")
    ck = os.path.join(run_dir, "checkpoint")
    proc, port, log_path, go_path = start_apiserver(run_dir, seed, seconds, spare)
    emit = dc.EmitRecorder()
    wrap = dc.ObserverWrap() if traced else None
    tail = None
    qref: dict = {}
    if traced:
        tail = dc.SpoolTail(os.path.join(spool_dir, "watch.jsonl"), qref)
        tail.start()
    job0 = tr.max_job_id(spark)
    cpu = common.CpuSampler(exclude=(proc.pid,)).start()
    errors: list[str] = []
    server = None
    try:
        cfg = DaemonConfig(env={
            "CACHE_TTL": "3600", "CACHE_DB": ck, "KES_SPOOL": spool_dir,
            "KES_API_URL": f"http://127.0.0.1:{port}",
            "METRICS_PORT": "0", "METRICS_HOST": "127.0.0.1",
        })
        t_start = time.time()
        query, metrics, server = run_daemon(
            spark, cfg, emit=emit, install_signal_handlers=False
        )
        t_built = time.time()
        qref["q"] = query
        wait_caught_up(query, log_path + ".warm", os.path.join(spool_dir, "watch.jsonl"))
        with open(go_path, "w"):
            pass
        sched_end = time.time() + 1 + sum(s for _, _, s in phases(seconds)) + 30
        while not os.path.exists(log_path) and time.time() < sched_end:
            time.sleep(0.1)
        if not os.path.exists(log_path):
            raise RuntimeError("generator did not finish its schedule")
        with open(log_path) as f:
            glog = json.load(f)
        expected = set(glog["keys"])
        deadline = time.time() + DRAIN_TIMEOUT_S
        while len(emit.lines) < len(expected) and time.time() < deadline:
            if not query.isActive:
                break
            time.sleep(0.05)
        t_end = time.time()
        # let the batch that emitted the last event commit and report
        # its progress before stopping: a stop inside that window drops
        # the batch's received count from the exposition
        spool = os.path.join(spool_dir, "watch.jsonl")
        while time.time() < deadline + 20 and query.isActive and (
            dc.committed_pos(query) < os.path.getsize(spool)
            or query.status["isTriggerActive"]
        ):
            time.sleep(0.05)
        progress = tr.progress_list(query)
        errors += dc.stop_query(query)
        metrics.sync_from_query(query)
        scraped = dc.scrape(server.port)
    finally:
        cpu.stop()
        if tail is not None:
            tail.stop()
        if wrap is not None:
            wrap.restore()
        if server is not None:
            server.stop()
        proc.terminate()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    events = emit.parsed()
    check = dc.emit_check(events, expected)
    received = dc.count_lines(os.path.join(spool_dir, "watch.jsonl"))
    bad = dc.check_invariants(scraped, received, len(expected))
    if received != glog["lines_sent"]:
        bad.append(f"spooled {received} != sent {glog['lines_sent']}")

    # latency per first delivery, by phase; a missing event counts at
    # the time the run stopped waiting for it
    lat: dict[str, list[float]] = {"quiet": [], "storm": []}
    emitted_due = {}
    for t, e in events:
        msg = e.get("message") or ""
        phase = msg.split(" ", 2)[1] if " " in msg else ""
        due_s = msg[4:msg.index(" ")] if msg.startswith("due=") else None
        if due_s is not None:
            emitted_due[due_s] = t
        if phase in lat:
            lat[phase].append(t - due_of_message(msg))
    # a missing event's phase is unknown from its key: charge it to
    # the storm, at the time from the schedule's end to giving up
    lat["storm"] += [t_end - glog["windows"][-1]["end"]] * check["missing"]
    pooled = lat["quiet"] + lat["storm"]
    measured_from = glog["windows"][1]["start"]
    data_prog = [p for p in progress
                 if tr.iso_to_epoch(p["timestamp"]) >= measured_from
                 and p.get("numInputRows", 0) > 0]
    # CPU per line the generator sent in the measured phases,
    # re-deliveries included (the daemon parses and dedups them too)
    ops = sum(w["lines"] for w in glog["windows"][1:])
    cpu_s = cpu.at(t_end) - cpu.at(measured_from)
    first_emit = emit.lines[0][0] if emit.lines else t_end
    failed = check["missing"] + check["duplicates"] + check["unexpected"] + len(bad) + len(errors)
    out = {
        "e2e": {
            "cold_s": first_emit - t_start,
            "latency_mean_s": sum(pooled) / len(pooled),
            "latency_p99_s": common.pct(pooled, 99),
            "cpu_ms_per_op": 1000.0 * cpu_s / ops,
        },
        "named": {
            "live_quiet_latency_p50_s": common.pct(lat["quiet"], 50),
            "live_quiet_latency_p99_s": common.pct(lat["quiet"], 99),
            "live_storm_latency_p50_s": common.pct(lat["storm"], 50),
            "live_storm_latency_p99_s": common.pct(lat["storm"], 99),
            "live_latency_p50_s": common.pct(pooled, 50),
        },
        "samples": {k: len(v) for k, v in lat.items()},
        "cpu": {"seconds": cpu_s, "ops": ops, "window_s": t_end - measured_from,
                "batches": len(data_prog)},
        "attempted": len(expected) + 1,
        "failed": failed,
        "checks": dict(check, invariants=bad, stop_errors=errors,
                       scrape=scraped["processed"], received=received),
        "generator": {k: glog[k] for k in ("late_p50_s", "late_p99_s", "late_max_s",
                                           "lines_sent", "windows")},
        "plan_build_s": t_built - t_start,
        "batches": [{"id": p["batchId"], "t": round(tr.iso_to_epoch(p["timestamp"]) - measured_from, 3),
                     "rows": p["numInputRows"], "ms": p["durationMs"]}
                    for p in data_prog],
    }
    if traced:
        jl = tr.jobs(spark, job0)
        layers = dc.batch_layers(spark, tracer, progress, wrap, emit.lines, jl,
                                 measured_from, t_end)
        waits = {"quiet": [], "storm": []}
        for d, t in tail.appear.items():
            for w in glog["windows"]:
                if w["phase"] in waits and w["start"] <= float(d) < w["end"]:
                    waits[w["phase"]].append(t - float(d))
        s2e = [emitted_due[d] - tail.appear[d] for d in tail.appear
               if d in emitted_due and float(d) >= measured_from]
        pooled_w = waits["quiet"] + waits["storm"]
        for ph, v in waits.items():
            if v:
                layers["metrics"][f"k8s_watch_http.spool_wait_p50_s.{ph}"] = common.pct(v, 50)
                layers["metrics"][f"k8s_watch_http.spool_wait_p99_s.{ph}"] = common.pct(v, 99)
        layers["metrics"].update({
            "k8s_watch_http.spool_wait_p50_s": common.pct(pooled_w, 50) if pooled_w else 0.0,
            "k8s_watch_http.spool_wait_p99_s": common.pct(pooled_w, 99) if pooled_w else 0.0,
            "k8s_watch_http.events_per_append": (sum(tail.appends) / len(tail.appends)
                                                 if tail.appends else 0.0),
            "daemon.spool_to_emit_p50_s": common.pct(s2e, 50) if s2e else 0.0,
        })
        storm = next(w for w in glog["windows"] if w["phase"] == "storm")
        out["layers"] = layers
        out["jobs"] = jl
        out["storm_backlog"] = [
            {"t": round(t - storm["start"], 3), "spooled_bytes": s, "committed_bytes": c,
             "backlog_bytes": s - c}
            for t, s, c in tail.backlog if storm["start"] - 1 <= t <= t_end
        ]
    return out

"""Fake kube-apiserver for the ``daemon_live`` workload, run as its own
process so its send schedule never shares an interpreter lock with
the daemon under test.

It serves the two endpoints the watch spooler uses:

* ``GET /api/v1/events?limit=...`` (LIST): a small initial EventList;
* ``GET /api/v1/events?watch=true`` (WATCH): the first call streams
  the warm-up phase, waits until the benchmark creates ``--go-file``
  (the daemon has caught up with the warm-up), streams the measured
  phases, one ``ADDED`` line per event at the event's due time, then
  ends the response (EOF makes the spooler flush its partial batch).
  Later watch calls hold the connection open and send nothing.

The schedule is open loop: events are sent when due however the
daemon performs, and each one carries its due time in ``message`` and
``lastTimestamp``. When the server falls behind, it sends everything
already due in one write and records how late each event went out.

Usage::

    python3 perfbench/apiserver.py --seed 1 --port-file p.txt \\
        --log log.json --go-file go --phases warmup:2000:4,quiet:50:4,storm:5000:0.4

The log (written once the schedule is sent) holds the distinct
``uid:resourceVersion`` keys, the number of lines sent, the phase
windows and the send-lateness percentiles.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import EventFactory, iso, key_of  # noqa: E402

N_LIST = 100
REDELIVER_EVERY = 10


def parse_phases(spec: str) -> list[tuple[str, float, float]]:
    out = []
    for part in spec.split(","):
        name, rate, secs = part.split(":")
        out.append((name, float(rate), float(secs)))
    return out


class Schedule:
    """The event plan is drawn from the seed up front; due times are
    stamped in when the first WATCH arrives."""

    def __init__(self, seed: int, phases):
        fac = EventFactory(seed, f"l{seed}")
        rng = fac.rng
        self.listed = [fac.make(time.time()) for _ in range(N_LIST)]
        for ev in self.listed:
            ev["message"] = ev["message"].replace(" ", " list ", 1)
        # (offset from schedule start, event, phase, first delivery);
        # redeliveries reuse the identical object of a planned event
        self.plan: list[tuple[float, dict, str, bool]] = []
        self.windows = []
        t = 0.0
        for name, rate, secs in phases:
            # ``rate`` counts lines; every REDELIVER_EVERY-th line
            # re-sends a recent event, so each phase's line count, and
            # with it where the spooler's 256-line flushes fall, is the
            # same in every run
            n = int(rate * secs)
            before = len(self.plan)
            for i in range(n):
                if i % REDELIVER_EVERY == REDELIVER_EVERY - 1 and self.plan:
                    lo = max(0, len(self.plan) - 2000)
                    ev, first = self.plan[rng.randrange(lo, len(self.plan))][1], False
                else:
                    ev, first = fac.make(0.0), True
                self.plan.append((t + i / rate, ev, name, first))
            self.windows.append({"phase": name, "start": t, "end": t + secs,
                                 "rate": rate, "lines": len(self.plan) - before})
            t += secs
        self.keys = {key_of(e) for e in self.listed} | {key_of(e) for _, e, _, _ in self.plan}

    def _send(self, wfile, entries, base: float, late: list[float]) -> None:
        """Stamp ``entries`` with due = ``base`` + offset and send each
        when due; records how late each line went out."""
        lines: list[tuple[float, bytes]] = []
        for off, ev, phase, first in entries:
            due = base + off
            if first:  # stamp the due time once, before any re-send
                stamp = iso(due)
                ev["message"] = f"due={due:.6f} {phase} {ev['reason']}"
                ev["lastTimestamp"] = ev["firstTimestamp"] = stamp
                ev["metadata"]["creationTimestamp"] = stamp
            lines.append((due, (json.dumps({"type": "ADDED", "object": ev},
                                           separators=(",", ":")) + "\n").encode()))
        i = 0
        while i < len(lines):
            now = time.time()
            if lines[i][0] > now:
                time.sleep(min(lines[i][0] - now, 0.05))
                continue
            j = i
            while j < len(lines) and lines[j][0] <= now:
                j += 1
            wfile.write(b"".join(b for _, b in lines[i:j]))
            sent = time.time()
            late.extend(sent - d for d, _ in lines[i:j])
            i = j

    def stream(self, wfile, log_path: str, go_path: str) -> None:
        """Send the warm-up, wait for the benchmark's go (the daemon has
        caught up), then send the measured phases on their own schedule
        and write the log. The handshake only places the start of the
        measured schedule; inside it the sends never wait on the
        daemon."""
        warm_name = self.windows[0]["phase"]
        warm = [e for e in self.plan if e[2] == warm_name]
        rest = self.plan[len(warm):]
        late: list[float] = []
        t0 = time.time() + 0.5
        self._send(wfile, warm, t0, late)
        with open(log_path + ".warm", "w") as f:
            f.write(str(len(self.listed) + len(warm)))
        # BOOKMARKs keep the idle watch alive, as a real apiserver's do:
        # the spooler's read times out after 10 s without a line
        bookmark = (json.dumps({"type": "BOOKMARK", "object": {"metadata": {
            "resourceVersion": warm[-1][1]["metadata"]["resourceVersion"]}}})
            + "\n").encode()
        deadline = time.time() + 120
        next_mark = time.time() + 1.0
        while not os.path.exists(go_path) and time.time() < deadline:
            if time.time() >= next_mark:
                wfile.write(bookmark)
                next_mark += 1.0
            time.sleep(0.01)
        # measured offsets continue from the end of the warm-up
        t1 = time.time() + 0.5 - self.windows[0]["end"]
        self._send(wfile, rest, t1, late)
        late.sort()

        def q(p):
            return late[min(len(late) - 1, int(p * (len(late) - 1)))]

        log = {
            "t0": t0,
            "windows": [dict(w, start=base + w["start"], end=base + w["end"])
                        for w, base in zip(self.windows,
                                           [t0] + [t1] * (len(self.windows) - 1))],
            "lines_sent": len(self.plan) + len(self.listed),
            "keys": sorted(f"{u}:{r}" for u, r in self.keys),
            "late_p50_s": q(0.50),
            "late_p99_s": q(0.99),
            "late_max_s": late[-1],
        }
        tmp = log_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f)
        os.replace(tmp, log_path)


def make_handler(sched: Schedule, log_path: str, go_path: str, stop: threading.Event):
    lock = threading.Lock()
    state = {"watches": 0}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):  # noqa: N802 (stdlib API)
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            if "watch=true" not in self.path:
                body = {
                    "kind": "EventList",
                    "metadata": {"resourceVersion": str(N_LIST)},
                    "items": sched.listed,
                }
                self.wfile.write(json.dumps(body).encode())
                return
            with lock:
                state["watches"] += 1
                first = state["watches"] == 1
            if first:
                sched.stream(self.wfile, log_path, go_path)
                return
            # later watches: idle until the benchmark stops the server
            while not stop.wait(0.5):
                pass

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--phases", required=True)
    ap.add_argument("--go-file", required=True)
    a = ap.parse_args()
    sched = Schedule(a.seed, parse_phases(a.phases))
    stop = threading.Event()
    srv = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(sched, a.log, a.go_file, stop))
    srv.daemon_threads = True
    tmp = a.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(srv.server_address[1]))
    os.replace(tmp, a.port_file)
    import signal

    def _term(signum, frame):
        stop.set()
        threading.Thread(target=srv.shutdown, daemon=True).start()

    signal.signal(signal.SIGTERM, _term)
    try:
        srv.serve_forever(poll_interval=0.1)
    finally:
        stop.set()
        srv.server_close()


if __name__ == "__main__":
    main()

"""Pieces both daemon workloads share: the emit recorder, the metrics
observer wrappers used by the traced run, the exposition scrape with
the reference's counter invariants, and the per-batch layer summary
built from streaming progress and the status store."""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.request

import common
import spans as tr

_SAMPLE = re.compile(r'^(\w+)(?:\{(.*)\})?\s+(\S+)$')


class EmitRecorder:
    """The daemon's ``emit`` callback: keeps ``(time, line)`` and does
    nothing else, so the emit loop's cost is the program's own."""

    def __init__(self):
        self.lines: list[tuple[float, str]] = []

    def __call__(self, line: str) -> None:
        self.lines.append((time.time(), line))

    def parsed(self) -> list[tuple[float, dict]]:
        return [(t, json.loads(ln)["kubernetes_event"]) for t, ln in self.lines]


class ObserverWrap:
    """Times ``K8sStreamMetrics.observe_batch`` and ``sync_from_query``
    by wrapping the class attributes for the duration of a traced
    run; ``restore()`` puts the originals back."""

    def __init__(self):
        from event_stream_for_k8s_spark.streaming.prom_metrics import (
            K8sStreamMetrics,
        )

        self.cls = K8sStreamMetrics
        self.orig_observe = K8sStreamMetrics.observe_batch
        self.orig_sync = K8sStreamMetrics.sync_from_query
        self.observe: list[tuple[int | None, float, float]] = []
        self.sync: list[tuple[float, float]] = []
        wrap = self

        def observe_batch(self, batch_df, *a, **kw):
            t0 = time.time()
            try:
                return wrap.orig_observe(self, batch_df, *a, **kw)
            finally:
                wrap.observe.append((kw.get("defer_totals_batch_id"), t0, time.time()))

        def sync_from_query(self, query, *a, **kw):
            t0 = time.time()
            try:
                return wrap.orig_sync(self, query, *a, **kw)
            finally:
                wrap.sync.append((t0, time.time()))

        K8sStreamMetrics.observe_batch = observe_batch
        K8sStreamMetrics.sync_from_query = sync_from_query

    def restore(self) -> None:
        self.cls.observe_batch = self.orig_observe
        self.cls.sync_from_query = self.orig_sync


def scrape(port: int) -> dict:
    """GET the exposition and fold it into the counters the reference
    invariants are stated over."""
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=10) as r:
        body = r.read().decode()
    processed, events_sum, families = {}, 0, set()
    for line in body.splitlines():
        if not line or line.startswith("#"):
            continue
        m = _SAMPLE.match(line)
        if not m:
            continue
        name, labels, value = m.group(1), m.group(2) or "", float(m.group(3))
        families.add(name)
        if name == "kube_event_stream_cachedb_events_processed":
            processed[labels.split('"')[1]] = int(value)
        elif name == "kube_event_stream_events_count":
            events_sum += int(value)
    return {"processed": processed, "events_sum": events_sum,
            "families": sorted(families)}


def check_invariants(s: dict, received: int, unique: int) -> list[str]:
    """The reference's counter relations (tasks.rs:107-141): total =
    received, cache_misses = unique, cache_hits = total - misses, and
    the 4-label events family sums to cache_misses."""
    p = s["processed"]
    total, hits, misses = p.get("total"), p.get("cache_hits"), p.get("cache_misses")
    bad = []
    if total != received:
        bad.append(f"total {total} != received {received}")
    if misses != unique:
        bad.append(f"cache_misses {misses} != unique {unique}")
    if total is None or misses is None or hits != total - misses:
        bad.append(f"cache_hits {hits} != total - cache_misses")
    if s["events_sum"] != misses:
        bad.append(f"sum(events) {s['events_sum']} != cache_misses {misses}")
    return bad


def emit_check(events: list[tuple[float, dict]], expected: set[str]) -> dict:
    keys = [f"{e['metadata']['uid']}:{e['metadata']['resourceVersion']}"
            for _, e in events]
    seen = set(keys)
    return {
        "emitted": len(keys),
        "expected": len(expected),
        "duplicates": len(keys) - len(seen),
        "missing": len(expected - seen),
        "unexpected": len(seen - expected),
    }


def stop_query(query) -> list[str]:
    """Stop the query; errors from ``stop()`` or a stored
    ``exception()`` are returned, not raised, so they count as failed
    operations."""
    errors = []
    try:
        query.stop()
    except Exception as e:  # noqa: BLE001 - recorded as a failure
        errors.append(f"stop: {type(e).__name__}: {e}"[:300])
    try:
        exc = query.exception()
        if exc is not None:
            errors.append(f"exception: {exc}"[:300])
    except Exception as e:  # noqa: BLE001 - recorded as a failure
        errors.append(f"exception(): {type(e).__name__}: {e}"[:300])
    return errors


def count_lines(path: str) -> int:
    with open(path, "rb") as f:
        return sum(buf.count(b"\n") for buf in iter(lambda: f.read(1 << 20), b""))


class SpoolTail(threading.Thread):
    """Traced run only: polls the spool file and records when each
    event's line appears (keyed by its due stamp), how many lines
    each observed append carried, and the spool size over time."""

    def __init__(self, path: str, query_ref: dict, period: float = 0.01):
        super().__init__(daemon=True, name="perfbench-spool-tail")
        self.path, self.period, self.query_ref = path, period, query_ref
        self.appear: dict[str, float] = {}
        self.appends: list[int] = []
        self.backlog: list[tuple[float, int, int]] = []
        self._halt = threading.Event()

    def run(self) -> None:
        pos, rest, last_sample = 0, b"", 0.0
        while not self._halt.wait(self.period):
            try:
                with open(self.path, "rb") as f:
                    f.seek(pos)
                    buf = f.read()
            except OSError:
                continue
            now = time.time()
            if buf:
                pos += len(buf)
                data = rest + buf
                lines = data.split(b"\n")
                rest = lines.pop()
                self.appends.append(len(lines))
                for ln in lines:
                    i = ln.find(b'"message":"due=')
                    if i >= 0:
                        j = ln.find(b" ", i)
                        self.appear.setdefault(ln[i + 15:j].decode(), now)
            if now - last_sample >= 0.25:
                last_sample = now
                self.backlog.append((now, pos, committed_pos(self.query_ref.get("q"))))

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


def committed_pos(query) -> int:
    if query is None:
        return 0
    try:
        lp = query.lastProgress
    except Exception:  # noqa: BLE001 - query already gone
        return 0
    if not lp:
        return 0
    d = lp if isinstance(lp, dict) else json.loads(lp.json)
    end = (d.get("sources") or [{}])[0].get("endOffset")
    m = re.search(r"pos\D*(\d+)", str(end))
    return int(m.group(1)) if m else 0


def batch_layers(spark, tracer, progress, wrap, emits, job_list,
                 t0: float, t1: float) -> dict:
    """Per-layer numbers for the micro-batches of one daemon run, read
    from progress, the wrapped observer, the emit times and the
    status store; also hangs observe/emit spans under each batch's
    addBatch span and returns self times over ``[t0, t1]``."""
    med = common.median
    progress = [p for p in progress if t0 <= tr.iso_to_epoch(p["timestamp"]) <= t1]
    add_ids = tr.batch_spans(tracer, progress)
    observe = {b: (a, z) for b, a, z in wrap.observe if b is not None}
    emit_times = sorted(t for t, _ in emits)
    import bisect

    emit_spans = {}
    for b, (a, z) in observe.items():
        nxt = observe.get(b + 1, (float("inf"),))[0]
        lo = bisect.bisect_left(emit_times, z)
        hi = bisect.bisect_left(emit_times, nxt)
        end = emit_times[hi - 1] if hi > lo else z
        emit_spans[b] = (z, end, hi - lo)
        if b in add_ids:
            tracer.add("observe_batch", "prom_metrics", a, z, add_ids[b], b)
            tracer.add("emit", "daemon.emit", z, end, add_ids[b], b)
    for a, z in wrap.sync:
        tracer.add("sync_from_query", "prom_metrics.sync", a, z, None, None)
    roots = [s["id"] for s in tracer.spans if s["name"] == "trigger"]
    self_s = tr.self_times(tracer.spans, roots, t0, t1)

    by_batch: dict[int, list[dict]] = {}
    for j in job_list:
        if j["batch"] is not None:
            by_batch.setdefault(j["batch"], []).append(j)
    data_batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    ids = [int(p["batchId"]) for p in data_batches]

    def dur(key):
        vals = [p["durationMs"].get(key, 0) for p in data_batches]
        return med(vals) if vals else 0.0

    def state(key, agg):
        vals = [sum(o.get(key, 0) for o in p.get("stateOperators") or [])
                for p in data_batches]
        return agg(vals) if vals else 0

    jobs_pb = [len(by_batch.get(b, [])) for b in ids]
    stage_pb, scan_s, obs_jobs = [], [], []
    for b in ids:
        bj = by_batch.get(b, [])
        tot = tr.stage_totals(spark, [s for j in bj for s in j["stages"]])
        stage_pb.append(tot["stages"])
        if bj:
            first = min(bj, key=lambda j: j["id"])
            if first["stages"]:
                scan_s.append(tr.stage_totals(spark, [min(first["stages"])])["executor_run_s"])
        if b in observe:
            a, z = observe[b]
            obs_jobs.append(sum(1 for j in bj if j["submitted"] and a <= j["submitted"] <= z))
    emit_dur = [e - s for b, (s, e, n) in emit_spans.items() if b in ids and n]
    obs_dur = [z - a for b, (a, z) in observe.items() if b in ids]
    last = progress[-1] if progress else {}
    ops = last.get("stateOperators") or [{}]
    return {
        "self_s": self_s,
        "metrics": {
            "k8s_datasource.latest_offset_ms": dur("latestOffset"),
            "k8s_datasource.get_batch_ms": dur("getBatch"),
            "k8s_datasource.rows_per_batch": med([p["numInputRows"] for p in data_batches]) if data_batches else 0,
            "k8s_datasource.scan_task_s": med(scan_s) if scan_s else 0.0,
            "dedup_pipeline.state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "dedup_pipeline.state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
            "dedup_pipeline.state_commit_ms": state("commitTimeMs", med),
            "dedup_pipeline.rows_dropped_by_watermark": state("numRowsDroppedByWatermark", sum),
            "dedup_pipeline.wal_commit_ms": dur("walCommit"),
            "dedup_pipeline.commit_offsets_ms": dur("commitOffsets"),
            "prom_metrics.observe_batch_s": med(obs_dur) if obs_dur else 0.0,
            "prom_metrics.observe_batch_jobs": med(obs_jobs) if obs_jobs else 0,
            "prom_metrics.sync_from_query_s": med([z - a for a, z in wrap.sync]) if wrap.sync else 0.0,
            "daemon.trigger_ms": dur("triggerExecution"),
            "daemon.add_batch_ms": dur("addBatch"),
            "daemon.query_planning_ms": dur("queryPlanning"),
            "daemon.jobs_per_batch": med(jobs_pb) if jobs_pb else 0,
            "daemon.stages_per_batch": med(stage_pb) if stage_pb else 0,
            "daemon.emit_s_per_batch": med(emit_dur) if emit_dur else 0.0,
            "daemon.batches": len(data_batches),
        },
        "per_batch_jobs": {str(b): n for b, n in zip(ids, jobs_pb)},
        "per_batch_stages": {str(b): n for b, n in zip(ids, stage_pb)},
    }

"""Spans, kept in memory, plus readers for Spark's own accounting.

A span is ``(name, layer, start, end, parent, trace)``: ``trace`` is
the streaming batch id or the batch row's job group, so every span of
one micro-batch or one query shares it. Times are ``time.time()``
seconds. Nothing is written until the run ends.

Spark-side numbers come from public read paths only: the streaming
progress JSON, the AppStatusStore (jobs and stage attempts, present
with the UI disabled), the SQL status store's plan graph for
Python-node row counts, and a DataFrame's QueryExecution tracker for
Catalyst phase times.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name, layer, start, end, parent=None, trace=None) -> int:
        """Record a finished span; returns its id (-1 when disabled)."""
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "layer": layer, "start": start,
                "end": end, "parent": parent, "trace": trace,
            })
        return sid

    @contextmanager
    def span(self, name, layer, parent=None, trace=None):
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, layer, t0, time.time(), parent, trace)


def self_times(spans: list[dict], roots: list[int], t0: float, t1: float
               ) -> dict[str, float]:
    """Per-layer self time over ``[t0, t1]`` for the span trees under
    ``roots`` (which must not overlap each other): each span's clipped
    duration minus the union its children cover. The window's part
    covered by no root is reported as ``wait``, so the values sum to
    ``t1 - t0``."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def clip(a, b):
        return max(t0, a), min(t1, b)

    def covered(ivals):
        tot, end = 0.0, None
        for a, b in sorted(ivals):
            if end is None or a > end:
                tot += b - a
                end = b
            elif b > end:
                tot += b - end
                end = b
        return tot

    out: dict[str, float] = {}

    def walk(s):
        a, b = clip(s["start"], s["end"])
        if b <= a:
            return
        ch = []
        for c in kids.get(s["id"], []):
            ca, cb = clip(max(c["start"], a), min(c["end"], b))
            if cb > ca:
                ch.append((ca, cb))
            walk(c)
        out[s["layer"]] = out.get(s["layer"], 0.0) + (b - a) - covered(ch)

    root_iv = []
    for r in roots:
        s = spans[r]
        walk(s)
        a, b = clip(s["start"], s["end"])
        if b > a:
            root_iv.append((a, b))
    out["wait"] = (t1 - t0) - covered(root_iv)
    return out


# ---- AppStatusStore ----------------------------------------------------

_BATCH_RE = re.compile(r"batch = (\d+)")


def _opt(o):
    return o.get() if o.isDefined() else None


def jobs(spark, after_job_id: int = -1) -> list[dict]:
    """Jobs with id > ``after_job_id``: id, group, batch id (parsed
    from a streaming job's description), stage ids, status and
    submission/completion times in seconds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        jid = int(j.jobId())
        if jid <= after_job_id:
            continue
        desc = _opt(j.description()) or ""
        m = _BATCH_RE.search(desc)
        sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
        out.append({
            "id": jid,
            "group": _opt(j.jobGroup()),
            "batch": int(m.group(1)) if m else None,
            "stages": [int(x) for x in str(j.stageIds().mkString(",")).split(",") if x],
            "status": str(j.status().toString()),
            "submitted": sub.getTime() / 1000.0 if sub is not None else None,
            "completed": comp.getTime() / 1000.0 if comp is not None else None,
        })
    return sorted(out, key=lambda d: d["id"])


def max_job_id(spark) -> int:
    ids = [j["id"] for j in jobs(spark)]
    return max(ids) if ids else -1


_STAGE_FIELDS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("numTasks", "tasks", 1),
)


def stage_totals(spark, stage_ids) -> dict[str, float]:
    """Sum of the last attempt's task metrics over ``stage_ids``
    (skipped stages have no attempt and count nothing)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot = {k: 0 for _, k, _ in _STAGE_FIELDS}
    tot["stages"] = 0
    for sid in sorted(set(stage_ids)):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - skipped stage: no attempt
            continue
        if str(st.status().toString()) == "SKIPPED":
            continue
        tot["stages"] += 1
        for jname, key, scale in _STAGE_FIELDS:
            tot[key] += getattr(st, jname)() * scale
        tot["spill_bytes"] += st.diskBytesSpilled()
    return tot


_PY_NODE = re.compile(r"Python|Pandas|Arrow|UDTF")


def python_rows(spark, after_execution_id: int = -1) -> list[tuple[int, list[int]]]:
    """Rows output by Python-evaluating plan nodes (MapInPandas,
    ArrowEvalPython, BatchEvalPython, ...) per SQL execution with id
    > ``after_execution_id``, as ``(rows, job ids)`` pairs so callers
    can attribute them through the jobs' groups."""
    sq = spark._jsparkSession.sharedState().statusStore()
    ex = sq.executionsList()
    out = []
    for i in range(ex.size()):
        e = ex.apply(i)
        eid = int(e.executionId())
        if eid <= after_execution_id:
            continue
        values = sq.executionMetrics(eid)
        nodes = sq.planGraph(eid).allNodes()
        rows = 0
        for k in range(nodes.size()):
            n = nodes.apply(k)
            if not _PY_NODE.search(str(n.name())):
                continue
            ms = n.metrics()
            for m in range(ms.size()):
                mm = ms.apply(m)
                if str(mm.name()) != "number of output rows":
                    continue
                v = values.get(mm.accumulatorId())
                if v.isDefined():
                    rows += int(re.sub(r"[^0-9]", "", str(v.get())) or 0)
        if rows:
            it = e.jobs().keys().iterator()
            job_ids = []
            while it.hasNext():
                job_ids.append(int(it.next()))
            out.append((rows, job_ids))
    return out


def max_execution_id(spark) -> int:
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((int(ex.apply(i).executionId()) for i in range(ex.size())),
               default=-1)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of ``df``'s QueryExecution,
    forcing the physical plan first (only the traced run calls this;
    the write that follows plans its own command again)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = float(kv._2().durationMs())
    return out


# ---- streaming progress ------------------------------------------------


def progress_list(query) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p
            for p in query.recentProgress]


def iso_to_epoch(ts: str) -> float:
    import datetime as _dt

    return _dt.datetime.strptime(
        ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f"
    ).replace(tzinfo=_dt.timezone.utc).timestamp()


#: Micro-batch phases in the order MicroBatchExecution runs them.
PHASES = (
    ("latestOffset", "k8s_datasource"),
    ("walCommit", "streaming_engine"),
    ("getBatch", "k8s_datasource"),
    ("queryPlanning", "spark"),
    ("addBatch", "daemon"),
    ("commitOffsets", "streaming_engine"),
)


def batch_spans(tracer: Tracer, progress: list[dict]) -> dict[int, int]:
    """One span tree per micro-batch from its progress entry: the
    trigger, then each phase laid out back to back from the trigger
    start (progress gives phase durations, not start times). Returns
    batch id -> addBatch span id, so the sink's own spans can hang
    under it."""
    add_ids = {}
    for p in progress:
        bid = int(p["batchId"])
        d = p.get("durationMs") or {}
        start = iso_to_epoch(p["timestamp"])
        total = d.get("triggerExecution", 0) / 1000.0
        root = tracer.add("trigger", "streaming_engine", start, start + total,
                          None, bid)
        t = start
        for phase, layer in PHASES:
            ms = d.get(phase)
            if ms is None:
                continue
            end = min(t + ms / 1000.0, start + total)
            sid = tracer.add(phase, layer, t, end, root, bid)
            if phase == "addBatch":
                add_ids[bid] = sid
            t = end
    return add_ids

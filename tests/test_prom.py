"""Prometheus exposition egress (streaming/prom_metrics.py).

Covers the reference's metric surface (src/tasks.rs:26-64 families,
src/main.rs:63 endpoint): exact golden exposition text for the A8
4-dim counters, the hits+misses=total invariant (tasks.rs:143-146
debug assertion), '-' label defaults (tasks.rs:109-121), and the HTTP
scrape endpoint.
"""

from __future__ import annotations

import urllib.request

from event_stream_for_k8s_spark.streaming.prom_metrics import (
    CONTENT_TYPE,
    ExpositionServer,
    K8sStreamMetrics,
    PromRegistry,
)

GOLDEN = """\
# HELP kube_event_stream_cachedb_events_processed Events seen
# TYPE kube_event_stream_cachedb_events_processed counter
kube_event_stream_cachedb_events_processed{type="cache_hits"} 2
kube_event_stream_cachedb_events_processed{type="cache_misses"} 3
kube_event_stream_cachedb_events_processed{type="total"} 5
# HELP kube_event_stream_cachedb_size On disk cache sizes, item count and total bytes.
# TYPE kube_event_stream_cachedb_size gauge
kube_event_stream_cachedb_size{type="bytes"} 31
kube_event_stream_cachedb_size{type="items"} 3
# HELP kube_event_stream_cachedb_sync_bytes Bytes synced to cache
# TYPE kube_event_stream_cachedb_sync_bytes counter
kube_event_stream_cachedb_sync_bytes 31
# HELP kube_event_stream_events_count Events types seen.
# TYPE kube_event_stream_events_count counter
kube_event_stream_events_count{event_type="-",event_reason="-",event_kind="-",event_namespace="-"} 1
kube_event_stream_events_count{event_type="Warning",event_reason="BACKOFF",event_kind="Pod",event_namespace="ns-1"} 2
"""


def _batch(spark):
    # 5 rows, 3 distinct keys; key "a:1" delivered 3x (2 hits), one
    # all-NULL-label row exercising the reference's '-' defaults
    rows = [
        # (k, time_order, type, reason, kind, namespace)
        ("a:1", 1, "Warning", "BACKOFF", "Pod", "ns-1"),
        ("a:1", 2, "Warning", "BACKOFF", "Pod", "ns-1"),
        ("a:1", 3, "Warning", "BACKOFF", "Pod", "ns-1"),
        ("b:2", 1, "Warning", "BACKOFF", "Pod", "ns-1"),
        (":", 1, None, None, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "k string, t int, type string, reason string, kind string,"
        " namespace string",
    )


def test_golden_exposition(spark):
    m = K8sStreamMetrics()
    m.observe_batch(_batch(spark), key_col="k", order_cols=("t",))
    # bytes: 3 missed keys "a:1","b:2",":" = 3+3+1 key bytes plus the
    # 8-byte u64 seen-timestamp sled stores per key = 31 total
    assert m.registry.render() == GOLDEN


def test_hits_misses_total_invariant(spark):
    m = K8sStreamMetrics()
    m.observe_batch(_batch(spark), key_col="k", order_cols=("t",))
    fam = m.processed.samples
    assert (
        fam[("cache_hits",)] + fam[("cache_misses",)] == fam[("total",)] == 5
    )
    assert fam[("cache_misses",)] == 3


def test_multi_batch_accumulation(spark):
    m = K8sStreamMetrics()
    b = _batch(spark)
    m.observe_batch(b, key_col="k", order_cols=("t",))
    m.observe_batch(b, key_col="k", order_cols=("t",))
    fam = m.processed.samples
    assert fam[("total",)] == 10 and fam[("cache_misses",)] == 6
    # gauge reflects cumulative items; counter families accumulate
    assert m.size.samples[("items",)] == 6
    assert (
        m.events.samples[("Warning", "BACKOFF", "Pod", "ns-1")] == 4
    )


def test_http_endpoint(spark):
    m = K8sStreamMetrics()
    m.observe_batch(_batch(spark), key_col="k", order_cols=("t",))
    srv = ExpositionServer(m.registry, port=0).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics"
        ) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"] == CONTENT_TYPE
            body = resp.read().decode("utf-8")
        assert body == m.registry.render()
        assert "kube_event_stream_events_count" in body
    finally:
        srv.stop()


def test_label_escaping():
    reg = PromRegistry()
    c = reg.counter("x_total", "help", ("lbl",))
    c.labels('we"ird\nv\\al').inc(1)
    rendered = reg.render()
    assert 'lbl="we\\"ird\\nv\\\\al"' in rendered


def test_pipeline_to_exposition_end_to_end(spark, tmp_path):
    """Full A1->A7+A13 wiring: doubled k8s-shaped stream ->
    watermark-TTL dedup (run_reference_pipeline) -> metrics observer
    as the foreachBatch sink -> live HTTP scrape. Post-dedup
    placement means every observed row is a miss (hits stay 0) and
    the 4-dim counter totals equal the deduped row count."""
    from pyspark.sql import functions as F

    from event_stream_for_k8s_spark.catalog import load
    from event_stream_for_k8s_spark.plans.reference import (
        keyed_synthetic_k8s,
    )
    from event_stream_for_k8s_spark.sources.roundtrip import (
        EVENTS_MICROS_SCHEMA,
        events_as_micros,
        restore_ts,
    )
    from event_stream_for_k8s_spark.streaming.dedup_pipeline import (
        run_reference_pipeline,
    )

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    # exclude the all-NULL-timestamp derivation branch (event_id%4==3
    # -> time pinned at 1970): those rows are 54-years-late vs the
    # stream's watermark and the dedup stage rightly drops them —
    # stream_watermark covers that contract; this test wires egress
    base = events_as_micros(spark, sf).filter(
        "event_id < 200 AND event_id % 4 != 3"
    )
    base.unionAll(base).coalesce(1).write.mode("overwrite").json(src)

    stream = keyed_synthetic_k8s(
        restore_ts(spark.readStream.schema(EVENTS_MICROS_SCHEMA).json(src))
    )
    m = K8sStreamMetrics()
    srv = ExpositionServer(m.registry, port=0).start()
    try:
        q = run_reference_pipeline(
            stream,
            key_col="k",
            time_col="time",
            ttl_seconds=3600,
            checkpoint=str(tmp_path / "ck"),
            sink=m.foreach_batch(
                key_col="k",
                order_cols=("time", "event_id"),
                type_col="type",
                reason_col="reason",
                kind_col="kind",
                namespace_col="namespace",
            ),
        )
        q.awaitTermination()
        expected = (
            keyed_synthetic_k8s(
                load(spark, sf, "events").filter(
                    "event_id < 200 AND event_id % 4 != 3"
                )
            )
            .select("k")
            .distinct()
            .count()
        )
        fam = m.processed.samples
        assert fam[("total",)] == fam[("cache_misses",)] == expected
        assert fam[("cache_hits",)] == 0
        assert sum(m.events.samples.values()) == expected
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics"
        ) as resp:
            body = resp.read().decode()
        assert f'type="total"}} {expected}' in body
    finally:
        srv.stop()


def test_sync_received_watermark_compaction():
    """Long-daemon memory bound: seen-batch bookkeeping collapses
    contiguous prefixes into a floor (O(out-of-order window), not
    O(daemon age)); replays below the floor are ignored; pending miss
    entries whose progress was lost are pruned."""
    m = K8sStreamMetrics()
    stage = lambda n: {"misses": n, "labels": [], "nbytes": 0}  # noqa: E731
    m._pending.update({0: stage(1), 1: stage(2), 5: stage(1)})
    for b in (0, 1, 2, 3, 4):  # ordered arrivals collapse
        m.sync_received(b, 10)
    assert m._synced_floor == 4 and m._synced_batches == set()
    m.sync_received(6, 10)  # out-of-order: held
    assert m._synced_floor == 4 and m._synced_batches == {6}
    m.sync_received(5, 10)  # gap fills -> floor jumps past both
    assert m._synced_floor == 6 and m._synced_batches == set()
    m.sync_received(3, 99)  # replay below floor: no double count
    s = m.processed.samples
    assert s[("total",)] == 70
    assert s[("cache_hits",)] == 66  # 70 received - 4 misses popped


def test_deferred_observe_retry_is_fully_idempotent(spark):
    """A foreachBatch RETRY re-observes the same batch_id. With
    deferred totals, EVERY counter family must apply exactly once
    (ADVICE r05: previously events/sync_bytes/_items re-incremented
    per retry while total reconciled once, so sum(events) could
    exceed cache_misses)."""
    m = K8sStreamMetrics()
    b = _batch(spark)
    kw = dict(key_col="k", order_cols=("t",), defer_totals_batch_id=7)
    m.observe_batch(b, **kw)
    m.observe_batch(b, **kw)  # the retry: overwrites the staged entry
    # nothing visible until the progress event reconciles the batch
    assert sum(m.events.samples.values()) == 0
    assert m.processed.samples == {}
    m.sync_received(7, 5)
    fam = m.processed.samples
    assert fam[("total",)] == 5
    assert fam[("cache_misses",)] == 3
    assert fam[("cache_hits",)] == 2
    # per-label events == misses (the implied invariant), applied once
    assert sum(m.events.samples.values()) == 3
    assert m.sync_bytes.samples[()] == 31
    # a replayed progress event after reconciliation is also a no-op
    m.sync_received(7, 5)
    assert sum(m.events.samples.values()) == 3

    # progress-beats-observer race: totals reconciled first (misses
    # unknown -> 0, all 5 received credited to cache_hits), the late
    # observe applies label/bytes directly AND repairs the split
    # (ADVICE r06): misses move to cache_misses immediately, and the
    # cache_hits overcount is repaid by withholding hits from FUTURE
    # syncs — counters stay monotone, totals converge
    m2 = K8sStreamMetrics()
    m2.sync_received(3, 5)
    m2.observe_batch(b, key_col="k", order_cols=("t",),
                     defer_totals_batch_id=3)
    assert sum(m2.events.samples.values()) == 3  # not stranded
    assert m2._pending == {}
    fam2 = m2.processed.samples
    # the events==misses invariant holds right after the late observe
    assert fam2[("cache_misses",)] == 3
    assert sum(m2.events.samples.values()) == fam2[("cache_misses",)]
    # transient overcount: hits still carry the 3 mis-credited rows
    assert fam2[("cache_hits",)] == 5
    assert m2._hit_overcount == 3
    # next clean batch (4 received, 2 misses staged) repays: its 2
    # hits are withheld against the overcount instead of incrementing
    m2._pending[4] = {"misses": 2, "labels": [("a", "-", "-", "-", 2)],
                      "nbytes": 0}
    m2.sync_received(4, 4)
    fam2 = m2.processed.samples
    assert fam2[("total",)] == 9
    assert fam2[("cache_misses",)] == 5
    assert fam2[("cache_hits",)] == 5  # unchanged: 2 hits repaid
    assert m2._hit_overcount == 1
    # converged view: total == hits + misses - remaining overcount
    assert fam2[("total",)] == (
        fam2[("cache_hits",)] + fam2[("cache_misses",)]
        - m2._hit_overcount
    )
    # an observe for a batch NEVER default-reconciled takes the
    # normal path: replaying batch 4's observe is idempotent (stays
    # out of the ring, no double repair)
    assert 4 not in m2._default_synced
    assert 3 not in m2._default_synced

def test_late_observe_overcount_clamped_to_received(spark):
    """A late observation whose misses EXCEED the batch's received
    count (possible when the progress event undercounted, e.g. a
    replayed source segment) must repay only what the default
    reconcile actually over-credited — max(0, received) hits. The
    unclamped form banked the full miss count as overcount and
    withheld genuine future cache_hits forever (ADVICE r07)."""
    m = K8sStreamMetrics()
    b = _batch(spark)  # observe_batch stages 3 misses
    # default-reconcile batch 3 with received=1 < misses=3: the
    # reconcile credited only 1 hit, so at most 1 is repayable
    m.sync_received(3, 1)
    fam = m.processed.samples
    assert fam[("cache_hits",)] == 1
    m.observe_batch(b, key_col="k", order_cols=("t",),
                    defer_totals_batch_id=3)
    fam = m.processed.samples
    assert fam[("cache_misses",)] == 3
    # clamp: overcount is min(misses=3, received=1) == 1, not 3
    assert m._hit_overcount == 1
    # a clean future batch with 2 genuine hits: 1 repaid, 1 credited
    # (the unclamped bug would have withheld both)
    m._pending[4] = {"misses": 0, "labels": [], "nbytes": 0}
    m.sync_received(4, 2)
    fam = m.processed.samples
    assert fam[("cache_hits",)] == 1 + 1  # not stuck at 1
    assert m._hit_overcount == 0
    # received=0 default reconcile: nothing was over-credited, so a
    # late observe must bank zero overcount
    m2 = K8sStreamMetrics()
    m2.sync_received(7, 0)
    m2.observe_batch(b, key_col="k", order_cols=("t",),
                     defer_totals_batch_id=7)
    assert m2._hit_overcount == 0


def test_record_batch_matches_observe_batch(spark):
    """A post-dedup batch (unique keys): counting its rows and calling
    record_batch gives the exposition observe_batch's rollup gives, so
    the daemon's emit loop can feed the metrics without a Spark job of
    its own. Re-recording a deferred batch_id (a foreachBatch retry)
    overwrites the staged entry instead of double-counting."""
    b = _batch(spark).filter("t = 1")  # one row per key
    rows = b.collect()
    labels = [
        (r["type"] or "-", r["reason"] or "-", r["kind"] or "-",
         r["namespace"] or "-", 1)
        for r in rows
    ]
    nbytes = sum(len(r["k"].encode()) + 8 for r in rows)

    observed = K8sStreamMetrics()
    assert observed.observe_batch(b, key_col="k", order_cols=("t",)) == 3
    recorded = K8sStreamMetrics()
    assert recorded.record_batch(labels, nbytes, len(rows)) == 3
    assert recorded.registry.render() == observed.registry.render()

    observed = K8sStreamMetrics()
    observed.observe_batch(b, key_col="k", order_cols=("t",),
                           defer_totals_batch_id=4)
    observed.sync_received(4, 5)
    recorded = K8sStreamMetrics()
    recorded.record_batch(labels, nbytes, len(rows), defer_totals_batch_id=4)
    recorded.record_batch(labels, nbytes, len(rows), defer_totals_batch_id=4)
    recorded.sync_received(4, 5)
    assert recorded.registry.render() == observed.registry.render()
    fam = recorded.processed.samples
    assert fam[("total",)] == 5
    assert fam[("cache_misses",)] == 3
    assert fam[("cache_hits",)] == 2
    assert sum(recorded.events.samples.values()) == 3
    assert recorded.sync_bytes.samples[()] == nbytes == 31

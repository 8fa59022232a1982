"""Seeded inputs for the benchmark workloads.

Everything the program under test receives is made here from the
workload seed: the k8s Event objects that the fake apiserver serves
(``daemon_live``) or that are pre-spooled (``daemon_replay``), and the
star-schema tables the registry rows read (``batch_registry``). The
same seed gives byte-identical inputs.

Events carry skewed labels (Zipf-like namespace and reason draws, a
Normal/Warning split, a handful of kinds) because the metrics observer
groups by exactly those four labels, and label cardinality drives its
per-batch aggregation.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random

NAMESPACES = [f"ns-{i:02d}" for i in range(40)]
REASONS = [
    "BackOff", "Pulled", "Created", "Started", "Killing", "Scheduled",
    "FailedScheduling", "Unhealthy", "SuccessfulCreate", "ScalingReplicaSet",
    "FailedMount", "NodeNotReady", "Evicted", "OOMKilling", "Completed",
]
KINDS = ["Pod", "Pod", "Pod", "ReplicaSet", "Deployment", "Node", "Job"]
COMPONENTS = ["kubelet", "default-scheduler", "replicaset-controller",
              "deployment-controller", "node-controller"]


def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def iso(ts: float) -> str:
    """RFC 3339 UTC with microseconds, as the apiserver's MicroTime."""
    return (
        _dt.datetime.fromtimestamp(ts, _dt.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    )


class EventFactory:
    """Distinct k8s Events with ``(uid, resourceVersion)`` keys.

    Each event's ``message`` and ``lastTimestamp`` carry its due time,
    so the emit side can time it without any side channel. A uid is
    reused across several resourceVersions (an Event's count bumps),
    so keys share uids the way real Event updates do.
    """

    def __init__(self, seed: int, tag: str):
        self.rng = random.Random(seed)
        self.tag = tag
        self.n = 0
        self._ns_w = _zipf_weights(len(NAMESPACES))
        self._reason_w = _zipf_weights(len(REASONS), 1.3)
        self._uids: list[str] = []

    def make(self, due: float) -> dict:
        rng = self.rng
        self.n += 1
        if self._uids and rng.random() < 0.3:
            uid = rng.choice(self._uids)
        else:
            uid = f"{self.tag}-{len(self._uids):07d}"
            self._uids.append(uid)
        ns = rng.choices(NAMESPACES, self._ns_w)[0]
        reason = rng.choices(REASONS, self._reason_w)[0]
        kind = rng.choice(KINDS)
        stamp = iso(due)
        return {
            "metadata": {
                "uid": uid,
                "resourceVersion": str(self.n),
                "namespace": ns,
                "creationTimestamp": stamp,
            },
            "type": "Warning" if rng.random() < 0.2 else "Normal",
            "reason": reason,
            "involvedObject": {
                "kind": kind,
                "namespace": ns,
                "name": f"{kind.lower()}-{rng.randrange(5000)}",
            },
            "message": f"due={due:.6f} {reason} on {kind.lower()}",
            "count": rng.randint(1, 20),
            "source": {"component": rng.choice(COMPONENTS)},
            "firstTimestamp": stamp,
            "lastTimestamp": stamp,
        }


def key_of(ev: dict) -> tuple[str, str]:
    m = ev["metadata"]
    return m["uid"], m["resourceVersion"]


def due_of_message(msg: str) -> float:
    return float(msg[4:msg.index(" ")])


def replay_backlog(seed: int, n_events: int, dup_share: float, path: str,
                   t0: float) -> set[tuple[str, str]]:
    """Pre-spooled watch log of ``n_events`` lines, ``dup_share`` of
    them re-list duplicates of earlier lines. Returns the distinct
    key set. Event times span a few minutes before ``t0``, well inside
    the dedup TTL, so nothing is dropped by the watermark."""
    fac = EventFactory(seed, f"r{seed}")
    rng = fac.rng
    n_unique = int(n_events * (1 - dup_share))
    uniq = [fac.make(t0 - 300 + 300 * i / n_unique) for i in range(n_unique)]
    lines = [json.dumps(e, separators=(",", ":")) for e in uniq]
    # re-list duplicates: a restart re-lists recent Events, so copies
    # cluster behind their originals rather than anywhere in the log
    out: list[str] = []
    j = 0
    for i, ln in enumerate(lines):
        out.append(ln)
        while j < n_events - n_unique and rng.random() < dup_share / (1 - dup_share):
            out.append(lines[rng.randint(max(0, i - 5000), i)])
            j += 1
    while j < n_events - n_unique:
        out.append(rng.choice(lines))
        j += 1
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")
    return {key_of(e) for e in uniq}


# ---- batch_registry tables -------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_ADJ = ["large", "small", "red", "blue", "hot", "old", "new", "green"]
_NOUN = ["ring", "plate", "widget", "rod", "bolt", "gizmo", "gear", "pin"]
_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ETYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "zh", "de", "fr", "es"]


def write_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale ``sf`` (sf 0.01 ≈ 60k
    lineitem rows) as one parquet file each; returns row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    k = sf / 0.01
    n_cust, n_supp, n_part = int(1500 * k), max(10, int(100 * k)), int(2000 * k)
    n_ord, n_li, n_ev = int(15000 * k), int(60000 * k), int(10000 * k)
    n_doc, n_emb = 500, 500
    os.makedirs(out_dir, exist_ok=True)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n) * np.timedelta64(86400_000_000, "us")

    def pick(values, n, p=None):
        return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]

    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": np.asarray(_REGIONS, dtype=object),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": np.asarray([f"NATION_{i}" for i in range(25)], dtype=object),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": np.asarray([f"Customer#{i:09d}" for i in range(n_cust)], dtype=object),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": np.asarray([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.asarray(
                [f"{a} {b}" for a, b in zip(pick(_ADJ, n_part), pick(_NOUN, n_part))],
                dtype=object,
            ),
            "p_brand": np.asarray(
                [f"Brand#{i}" for i in rng.integers(1, 21, n_part)], dtype=object
            ),
            "p_type": pick(_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": days("1995-01-01", 2404, n_ord),
            "o_orderpriority": pick(_PRIOS, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["O", "F"], n_li),
            "l_shipdate": days("1995-01-02", 2498, n_li),
        },
    }
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86400_000_000, n_ev).astype("timedelta64[us]")
    )
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(10, n_ev // 66), n_ev).astype(np.int64),
        "event_type": pick(_ETYPES, n_ev),
        "value": money(0.01, 490.02, n_ev),
        "props": np.asarray(
            [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)], dtype=object
        ),
    }
    texts: list[str] = []
    for i in range(n_doc):
        if texts and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": np.asarray(texts, dtype=object),
        "lang": pick(_LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": np.asarray([f"src{i % 20}" for i in range(n_doc)], dtype=object),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }
    counts = {}
    for name, cols in tables.items():
        t = pa.table({c: (v if isinstance(v, pa.Array) else pa.array(v)) for c, v in cols.items()})
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts

"""``batch_registry``: closed loop, one client, the 21 headline rows of
``bench.py`` through the ``noop`` sink on seeded tables.

One cold pass (each row's first execution in the session), the check
of a seed-chosen third of the rows against their DuckDB oracles
(untimed), then at least two warm passes, more while the run's
seconds last. Between rows the query-scope caches are released as
``bench.py`` does. Rows are grouped ``relational`` (the first 10) and
``llm`` (the 11 ``llm_*``), so a change to ANN or text operators moves
one group and leaves the other flat.
"""

from __future__ import annotations

import os
import shutil
import time

import common
import spans as tr
from gen import write_tables

#: ``bench.py``'s HEADLINE list, in its order.
ROWS = (
    "flagship_dedup_count", "k8s_envelope_multidim_count", "stream_dedup_ttl",
    "agg_hash", "agg_multidim", "join_inner_hash", "join_broadcast",
    "join_asof", "win_rank", "topk_per_group",
    "llm_dedup_exact", "llm_dedup_near", "llm_knn_brute", "llm_text_tfidf",
    "llm_fingerprint", "llm_quality", "llm_mm_phash", "llm_bpe_encode_docs",
    "llm_knn_ivfpq", "llm_knn_sq8", "llm_dedup_chunks_cdc",
)
GROUPS = {"relational": ROWS[:10], "llm": ROWS[10:]}
SF = 0.01
MIN_WARM, MAX_WARM = 2, 4
#: Rows oracle-checked per run: a seed-chosen third, so consecutive
#: seeds cover all 21 (a full check costs as much as a warm pass).
ORACLE_SHARE = 3


def group_of(row: str) -> str:
    return "llm" if row.startswith("llm_") else "relational"


def _clear_fixture_cache(sf_dir: str) -> None:
    from event_stream_for_k8s_spark.sources.roundtrip import cache_dir

    shutil.rmtree(os.path.dirname(cache_dir(sf_dir, "x")), ignore_errors=True)


def run_row(spark, name: str, sf_dir: str, tag: str, tracer) -> dict:
    from event_stream_for_k8s_spark.caching import (
        live_query_caches,
        release_query_caches,
    )
    from event_stream_for_k8s_spark.plans import REGISTRY

    spark.sparkContext.setJobGroup(tag, name)
    t0 = time.time()
    df = REGISTRY[name].spark(spark, sf_dir)
    t1 = time.time()
    phases = tr.catalyst_phases(df) if tracer.enabled else {}
    t2 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.time()
    release_query_caches()
    spark.catalog.clearCache()
    t4 = time.time()
    if tracer.enabled:
        root = tracer.add(name, "batch_registry.row", t0, t4, None, tag)
        tracer.add("build", "plans", t0, t1, root, tag)
        tracer.add("catalyst", "spark.catalyst", t1, t2, root, tag)
        tracer.add("execute", "spark.exec", t2, t3, root, tag)
        tracer.add("release", "caching", t3, t4, root, tag)
    return {"row": name, "tag": tag, "build_s": t1 - t0, "exec_s": t3 - t2,
            "wall_s": (t1 - t0) + (t3 - t2), "t0": t0, "t4": t4,
            "phases_ms": phases, "live_handles_after": live_query_caches()}


def run_pass(spark, sf_dir: str, p: int, tracer) -> tuple[list[dict], list[str], float]:
    """One pass over every row; returns the rows, the errors and the
    pass's CPU seconds."""
    out, errors = [], []
    c0 = common.tree_cpu_s()
    for name in ROWS:
        try:
            out.append(run_row(spark, name, sf_dir, f"pass{p}:{name}", tracer))
        except Exception as e:  # noqa: BLE001 - counted as a failed row
            errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
    cpu = common.tree_cpu_s() - c0
    spark.sparkContext.setJobGroup("perfbench", "between rows")
    return out, errors, cpu


def oracle_rows(seed: int) -> list[str]:
    return [r for i, r in enumerate(ROWS) if i % ORACLE_SHARE == seed % ORACLE_SHARE]


def oracle_check(spark, sf_dir: str, rows) -> dict[str, str]:
    """``rows`` against their DuckDB oracles; row -> '' or mismatch."""
    from event_stream_for_k8s_spark.caching import release_query_caches
    from event_stream_for_k8s_spark.plans import REGISTRY
    from event_stream_for_k8s_spark.testing.oracle import check_query, connect_oracle

    con = connect_oracle(sf_dir)
    res = {}
    spark.sparkContext.setJobGroup("oracle", "oracle check")
    for name in rows:
        try:
            r = check_query(spark, con, REGISTRY[name], sf_dir)
            res[name] = "" if r.ok else "; ".join(r.mismatches)[:300]
        except Exception as e:  # noqa: BLE001 - counted as a failed check
            res[name] = f"{type(e).__name__}: {e}"[:300]
        finally:
            release_query_caches()
    con.close()
    return res


def run(spark, run_dir: str, seed: int, seconds: float, tracer, spare=()) -> dict:
    sf_dir = os.path.join(run_dir, "tables")
    shutil.rmtree(sf_dir, ignore_errors=True)
    counts = write_tables(seed, sf_dir, SF)
    _clear_fixture_cache(sf_dir)
    try:
        return _run(spark, sf_dir, seconds, tracer, counts, oracle_rows(seed))
    finally:
        _clear_fixture_cache(sf_dir)


def _run(spark, sf_dir, seconds, tracer, counts, checked) -> dict:
    job0 = tr.max_job_id(spark)
    exec0 = tr.max_execution_id(spark) if tracer.enabled else -1
    t_cold = time.time()
    cold, errors, _ = run_pass(spark, sf_dir, 0, tracer)
    cold_s = time.time() - t_cold
    with tracer.span("oracle_check", "perfbench.oracle"):
        oracle = oracle_check(spark, sf_dir, checked)
    warm: list[list[dict]] = []
    warm_cpu: list[float] = []
    t_begin = time.time()
    while len(warm) < MAX_WARM and (
        len(warm) < MIN_WARM or time.time() - t_begin + cold_s < seconds
    ):
        rows, errs, cpu = run_pass(spark, sf_dir, len(warm) + 1, tracer)
        warm.append(rows)
        warm_cpu.append(cpu)
        errors += errs
    t_end = time.time()
    med = common.median

    def group_sum(rows, g):
        return sum(r["wall_s"] for r in rows if group_of(r["row"]) == g)

    pooled = [r["wall_s"] for rows in warm for r in rows]
    pass_s = [sum(r["wall_s"] for r in rows) for rows in warm]
    handles = max([r["live_handles_after"] for rows in [cold] + warm for r in rows], default=0)
    n_rows = len(ROWS) * (1 + len(warm))
    bad_oracle = {k: v for k, v in oracle.items() if v}
    out = {
        "e2e": {
            "cold_s": cold_s,
            "latency_mean_s": sum(pooled) / len(pooled),
            "latency_p99_s": common.pct(pooled, 99),
            "cpu_ms_per_op": 1000.0 * med(warm_cpu) / len(ROWS),
        },
        "named": {
            "batch_relational_pass_s": med(group_sum(w, "relational") for w in warm),
            "batch_llm_pass_s": med(group_sum(w, "llm") for w in warm),
            "batch_cold_pass_s": sum(r["wall_s"] for r in cold),
            "batch_query_p50_s": common.pct(pooled, 50),
            "batch_query_p90_s": common.pct(pooled, 90),
            "batch_rows_per_s": len(ROWS) / med(pass_s),
        },
        "samples": {"warm_rows": len(pooled), "warm_passes": len(warm)},
        "attempted": n_rows + len(oracle),
        "failed": len(errors) + len(bad_oracle) + (1 if handles else 0),
        "checks": {"row_errors": errors, "oracle_mismatches": bad_oracle,
                   "oracle_checked": len(oracle), "live_handles_max": handles},
        "plan_build_s": med(sum(r["build_s"] for r in w) for w in warm),
        "tables": counts,
        "rows": {r["row"]: {"cold_s": r["wall_s"]} for r in cold},
    }
    for rows in warm:
        for r in rows:
            out["rows"].setdefault(r["row"], {}).setdefault("warm_s", []).append(r["wall_s"])
    if tracer.enabled:
        out["layers"] = _layers(spark, cold, warm, job0, exec0)
        roots = [x["id"] for x in tracer.spans if x["parent"] is None]
        out["layers"]["self_s"] = tr.self_times(tracer.spans, roots, t_cold, t_end)
    return out


def _layers(spark, cold, warm, job0, exec0) -> dict:
    """Per-row and per-group plan, Catalyst and execution numbers of
    the last warm pass, jobs attributed by the row's job group."""
    jl = tr.jobs(spark, job0)
    by_group: dict[str, list[dict]] = {}
    for j in jl:
        by_group.setdefault(j["group"], []).append(j)
    last = warm[-1]
    m: dict[str, float] = {}
    per_row = {}
    for r in last:
        rj = list(by_group.get(r["tag"], []))
        # jobs a row starts from helper threads carry no group; the
        # loop is closed, so its time window attributes them
        rj += [j for j in by_group.get(None, [])
               if j["submitted"] and r["t0"] <= j["submitted"] <= r["t4"]]
        build_jobs = sum(1 for j in rj if j["submitted"] and j["submitted"] <= r["t0"] + r["build_s"])
        st = tr.stage_totals(spark, [s for j in rj for s in j["stages"]])
        per_row[r["row"]] = dict(st, jobs=len(rj), build_jobs=build_jobs,
                                 job_ids=[j["id"] for j in rj], python_rows=0,
                                 build_s=r["build_s"], exec_s=r["exec_s"],
                                 **{f"{k}_ms": v for k, v in r["phases_ms"].items()})
    job_row = {}
    for r in last:
        for j in per_row[r["row"]]["job_ids"]:
            job_row[j] = r["row"]
    for rows, job_ids in tr.python_rows(spark, exec0):
        owner = next((job_row[j] for j in job_ids if j in job_row), None)
        if owner is not None:
            per_row[owner]["python_rows"] += rows
    for g, names in GROUPS.items():
        rs = [per_row[n] for n in names if n in per_row]
        for k in ("build_s", "build_jobs", "analysis_ms", "optimization_ms", "planning_ms",
                  "exec_s", "jobs", "stages", "executor_run_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "gc_s", "python_rows"):
            prefix = "plans" if k.startswith("build") else "spark"
            m[f"{prefix}.{k}.{g}"] = sum(r.get(k, 0) for r in rs)
    for n, r in per_row.items():
        m[f"plans.build_s.{n}"] = r["build_s"]
        m[f"spark.exec_s.{n}"] = r["exec_s"]
    m["caching.live_handles_after_row"] = max(
        r["live_handles_after"] for rows in [cold] + warm for r in rows)
    return {"metrics": m, "per_row": per_row}

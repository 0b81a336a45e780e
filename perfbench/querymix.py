"""query_mix: one closed-loop client cycling a fixed list of the engine's
batch queries (``queries.BENCH_FNS``).

For each query, in a fixed order, the client builds the DataFrame and
runs a first full materialization.  Then it re-executes the list in
whole cycles, three per 10 s of ``--seconds`` (at least two; about two
``--seconds`` of wall time on the host the benchmark was introduced on):
each re-execution's time is a latency sample, and re-executions
completed per second of the cycles' wall time is the throughput.  Every action is a ``noop`` write, which
materializes every column (``count()`` would let Catalyst prune them).

Inputs are one of ``tablegen.N_VARIANTS`` generated table sets (seed
modulo the count), so each query's output can be checked against a
digest pinned when the benchmark was introduced (``digests.json``),
canonicalized by ``tests/oracle.py``: sorted columns and rows, floats
rounded to 4 digits.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

import tablegen
from harness import percentile

# The light queries plus multimodal_pipeline, whose build runs eager
# decode and fingerprint passes (ROADMAP direction 2).  The other
# eager-build suites (classify_suite, dedup_end_to_end, a_stats_suite) are
# left out: each adds 7 s or more to a run, which the run budget cannot
# carry next to a second cycle of re-executions (the latency percentiles
# need the samples).
QUERIES = [
    "q1_pricing_summary", "s4_cdc_parse_envelope", "j1_one_to_many_nested",
    "a1_windowed_count", "a4_sliding_window", "a12_breaking_words", "t4_session_window",
    "w2_zscore", "w4_compound_score", "w6_rank_change", "text_profile", "o5_merge_keywords",
    "multimodal_pipeline",
]
STEADY_CYCLES_PER_S = 0.3  # fixed by --seconds, so the sample count never depends on speed
HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
TABLE_CACHE = os.path.join(os.path.dirname(HERE), ".perfbench", "tables")


def digest(df) -> tuple[str, int]:
    from tests.oracle import canonicalize

    rows = [r.asDict(recursive=True) for r in df.collect()]
    return hashlib.sha256(repr(canonicalize(rows)).encode("utf-8")).hexdigest(), len(rows)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark, seed: int, seconds: float, workdir: str, trace: bool, tiny: bool, reopen) -> dict:
    from cdc_pipeline_with_kafka_spark import queries as q

    variant = seed % tablegen.N_VARIANTS
    t0 = time.perf_counter()
    tables = tablegen.ensure(TABLE_CACHE, variant, tiny)
    gen_s = time.perf_counter() - t0
    sc = spark.sparkContext

    per_query: dict[str, dict] = {}
    dfs = {}
    failed: list[str] = []
    for qname in QUERIES:
        rec: dict = {}
        try:
            sc.setJobDescription(f"build:{qname}")
            t0 = time.perf_counter()
            df = q.BENCH_FNS[qname](spark, tables)
            rec["build_s"] = time.perf_counter() - t0
            if trace:
                sc.setJobDescription(f"plan:{qname}")
                t0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                rec["plan_ms"] = (time.perf_counter() - t0) * 1000
            sc.setJobDescription(f"first:{qname}")
            t0 = time.perf_counter()
            _noop(df)
            rec["first_s"] = time.perf_counter() - t0
            rec["steady_ms"] = []
            dfs[qname] = df
        except Exception as exc:  # a failed query is counted, and the mix goes on
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            failed.append(qname)
        finally:
            sc.setJobDescription(None)
        per_query[qname] = rec

    # steady window: whole cycles of re-executions
    cycles = max(2, round(STEADY_CYCLES_PER_S * seconds))
    reruns = 0
    t_window = time.perf_counter()
    for _ in range(cycles):
        for qname in list(dfs):
            try:
                sc.setJobDescription(f"steady:{qname}")
                t0 = time.perf_counter()
                _noop(dfs[qname])
                per_query[qname]["steady_ms"].append((time.perf_counter() - t0) * 1000)
                reruns += 1
            except Exception as exc:
                per_query[qname]["error"] = f"{type(exc).__name__}: {exc}"[:500]
                failed.append(qname)
                del dfs[qname]
            finally:
                sc.setJobDescription(None)
    window_s = time.perf_counter() - t_window

    # correctness, not timed
    t_check = time.perf_counter()
    pinned = _pinned(tiny).get(str(variant), {})
    checks = {}
    for qname, df in dfs.items():
        sc.setJobDescription(f"check:{qname}")
        got, n_rows = digest(df)
        per_query[qname]["digest"] = got
        per_query[qname]["rows"] = n_rows
        want = pinned.get(qname)
        # a dict entry pins only the row count (output not deterministic)
        checks[qname] = want == got if not isinstance(want, dict) else want.get("rows") == n_rows
    sc.setJobDescription(None)
    check_s = time.perf_counter() - t_check
    bad = sorted({*failed, *(k for k, ok in checks.items() if not ok)})

    ok_recs = [per_query[k] for k in QUERIES if k not in failed]
    steady = [ms for r in ok_recs for ms in r["steady_ms"]]
    ttr = sum(r["build_s"] + r["first_s"] for r in ok_recs)
    e2e = {
        "first_result_s": ttr,
        "throughput_per_s": reruns / window_s if reruns else float("nan"),
        "latency_p50_ms": statistics.median(steady) if steady else float("nan"),
        "latency_p95_ms": percentile(steady, 95) if steady else float("nan"),
    }
    detail = {
        "variant": variant,
        "tables_generate_s": gen_s,
        "check_s": check_s,
        "time_to_result_s": ttr,
        "steady_p50_ms": e2e["latency_p50_ms"],
        "steady_p90_ms": percentile(steady, 90) if steady else float("nan"),
        "steady_samples": len(steady),
        "steady_cycles": cycles,
        "steady_window_s": window_s,
        "queries": per_query,
        "checks": {f"digest:{k}": v for k, v in checks.items()},
        "failed_queries": bad,
    }
    layers = {}
    if trace:
        layers = {
            "catalyst.plan_ms": sum(r.get("plan_ms", 0.0) for r in ok_recs),
            "_build_s_total": sum(r["build_s"] for r in ok_recs),
        }
    per_action = 2 + cycles  # build, first write, one re-execution per cycle
    return {"e2e": e2e, "layers": layers, "detail": detail, "attempted": len(QUERIES) * per_action,
            "failed": len(bad) * per_action, "correct": not bad, "exec_groups": ["first:", "steady:"]}


def _pinned(tiny: bool) -> dict:
    if not os.path.exists(DIGESTS):
        return {}
    with open(DIGESTS, encoding="utf-8") as f:
        pinned = json.load(f)
    if pinned.get("format") != tablegen.FORMAT:
        return {}
    return pinned["tiny" if tiny else "full"]

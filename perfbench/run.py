#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload trend_stream --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

Runs one workload in this (fresh) process on local[<usable cores>] and
prints, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones (Spark event log on, layer calls timed).  Every run also
writes a detailed artifact to ``.perfbench/results/`` in the checkout.

``--smoke`` runs every workload at a tiny size, traced and untraced,
each in its own process, and checks each result line's keys against
BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("trend_stream", "query_mix")
OUT_DIR = os.path.join(harness.ROOT, ".perfbench")


def _metric_specs() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    return {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}


def run_one(workload: str, seed: int, seconds: float, trace: bool, tiny: bool) -> dict:
    import importlib

    specs = _metric_specs()
    cpus = harness.host_cpus()
    workdir = os.path.join(OUT_DIR, "work", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    env = harness.pin_environment(workdir, cpus)
    module = importlib.import_module("querymix" if workload == "query_mix" else "streams")
    t_process = time.perf_counter()
    try:
        with harness.RssSampler() as rss:
            try:
                conf = harness.session_conf(workdir, trace)
                setup = harness.set_up(conf, cpus)

                def reopen(n_cpus: int):
                    """A fresh session on local[n_cpus] on the running JVM,
                    event log off."""
                    from cdc_pipeline_with_kafka_spark.session import get_spark

                    setup.spark.stop()
                    os.environ["SPARK_GRAFT_CPUS"] = str(n_cpus)
                    setup.spark = get_spark("perfbench", extra_conf={**conf, "spark.eventLog.enabled": "false"})
                    setup.spark.sparkContext.setLogLevel("ERROR")
                    return setup.spark

                res = module.run(setup.spark, seed, seconds, workdir, trace, tiny, reopen)
                rss.sample()
            finally:
                harness.stop_jvm()
        folded = harness.fold_event_log(os.path.join(workdir, "eventlog")) if trace else None
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    e2e = {"setup_s": setup.setup_s, **res["e2e"]}
    checks = res["detail"].setdefault("checks", {})
    layers = {}
    if trace:
        layers = _per_layer(res["layers"], setup, folded, res["exec_groups"], rss.peak_mb)
        checks["layer_counts_match_generator"] = layers.pop("_counts_match_generator", True)
    metrics_src = layers if trace else e2e
    values = {name: float(metrics_src.get(name, 0.0)) for name in specs["1" if trace else "0"]}
    checks["metrics_finite"] = all(math.isfinite(v) for v in values.values())
    correct = bool(res["correct"]) and all(checks.values())
    failed = res["failed"] if correct else res["attempted"]
    # JSON has no NaN; a run that could not measure a metric is already failed
    metrics = {name: {"value": v if math.isfinite(v) else 0.0, "unit": specs["1" if trace else "0"][name]}
               for name, v in values.items()}
    artifact = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "tiny": tiny,
        "correct": correct, "attempted": res["attempted"], "failed": failed,
        "error_rate": failed / res["attempted"],
        "end_to_end": e2e, "per_layer": layers, "peak_rss_mb": rss.peak_mb, "detail": res["detail"],
        "setup": {"get_spark_s": setup.get_spark_s, "warm_s": setup.warm_s},
        "environment": {**env, "cpus": cpus, "ram_gb": round(harness.host_ram_gb(), 1)},
        "process_wall_s": time.perf_counter() - t_process,
    }
    if trace:
        artifact["exec_groups"] = res["exec_groups"]
        artifact["exec_all_jobs"] = folded["total"]
        artifact["exec_by_description"] = folded["by_description"]
        artifact["tracing_overhead"] = _overhead(workload, seed, e2e)
    os.makedirs(os.path.join(OUT_DIR, "results"), exist_ok=True)
    path = os.path.join(OUT_DIR, "results", f"{workload}-s{seed}-t{int(trace)}{'-tiny' if tiny else ''}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(artifact, f, indent=1, ensure_ascii=False, default=str)
    return {"correct": correct, "attempted": res["attempted"], "failed": failed, "metrics": metrics}


def _per_layer(layers: dict, setup, folded: dict, exec_groups: list[str], peak_rss_mb: float) -> dict:
    """exec.* sums only the workload's own jobs (``exec_groups``: the
    measured streaming query, or query_mix's first and steady writes);
    every other job is in the artifact's per-description groups."""
    own = harness.exec_totals(folded, exec_groups)
    out = {
        "session.get_spark_s": setup.get_spark_s,
        "session.warm_s": setup.warm_s,
        "memory.peak_rss_mb": peak_rss_mb,
        "queries.build_py_s": 0.0,
        "queries.build_eager_s": 0.0,
        "queries.build_eager_jobs": 0,
        "catalyst.plan_ms": 0.0,
        "scaling.cores_speedup": 0.0,
    }
    for key in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{key}"] = own[key]
    build_s = layers.pop("_build_s_total", None)  # query_mix only
    if build_s is not None:
        builds = [g for d, g in folded["by_description"].items() if d.startswith("build:")]
        eager_s = sum(g["job_ms"] for g in builds) / 1000
        out["queries.build_eager_s"] = eager_s
        out["queries.build_eager_jobs"] = sum(g["jobs"] for g in builds)
        out["queries.build_py_s"] = build_s - eager_s
    out.update(layers)
    return out


def _overhead(workload: str, seed: int, traced: dict) -> dict:
    """Traced minus untraced end-to-end numbers for the same workload and
    seed, when an untraced run of that seed has left its artifact."""
    path = os.path.join(OUT_DIR, "results", f"{workload}-s{seed}-t0.json")
    if not os.path.exists(path):
        return {"untraced_artifact": None, "traced": traced}
    with open(path, encoding="utf-8") as f:
        base = json.load(f)["end_to_end"]
    return {"untraced_artifact": os.path.relpath(path, harness.ROOT),
            "traced_minus_untraced": {k: traced[k] - base[k] for k in traced if k in base}}


def smoke() -> int:
    specs = _metric_specs()
    ok = True
    for workload in WORKLOADS:
        for trace in ("0", "1"):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", "7",
                   "--seconds", "2", "--trace", trace, "--tiny"]
            proc = subprocess.run(cmd, cwd=harness.ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
                keys_ok = set(res) == {"correct", "attempted", "failed", "metrics"}
                metrics_ok = set(res["metrics"]) == set(specs[trace])
                passed = proc.returncode == 0 and keys_ok and metrics_ok and res["correct"] and res["failed"] == 0
            except (IndexError, json.JSONDecodeError, TypeError):
                passed = False
            ok &= passed
            print(f"{workload:16s} trace={trace} {'ok' if passed else 'FAIL'}", file=sys.stderr)
            if not passed:
                print(proc.stderr[-3000:], file=sys.stderr)
    print(json.dumps({"smoke": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (used by --smoke)")
    ap.add_argument("--smoke", action="store_true", help="tiny run of every workload, both trace modes")
    args = ap.parse_args(argv)

    sys.path.insert(0, harness.ROOT)
    try:
        import cdc_pipeline_with_kafka_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {harness.ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(harness.ROOT, "BENCHMARK.json")):
        print("perfbench: BENCHMARK.json missing at the checkout root", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    result = run_one(args.workload, args.seed, args.seconds, args.trace == "1", args.tiny)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

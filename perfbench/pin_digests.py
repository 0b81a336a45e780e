#!/usr/bin/env python3
"""Pin the query_mix output digests: run every query of the mix on every
table variant (full and tiny), twice, and write ``digests.json``.

    python3 perfbench/pin_digests.py

Run it at the commit whose outputs are the reference, and again only
when ``tablegen`` output or the query list changes.  A query whose
digest differs between the two passes is pinned by row count only.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import querymix  # noqa: E402
import tablegen  # noqa: E402


def main() -> int:
    sys.path.insert(0, harness.ROOT)
    from cdc_pipeline_with_kafka_spark import queries as q

    cpus = harness.host_cpus()
    workdir = os.path.join(harness.ROOT, ".perfbench", "work", f"pin-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    harness.pin_environment(workdir, cpus)
    out: dict = {"format": tablegen.FORMAT, "queries": querymix.QUERIES, "full": {}, "tiny": {}}
    for size in ("full", "tiny"):
        for variant in range(tablegen.N_VARIANTS):
            tables = tablegen.ensure(querymix.TABLE_CACHE, variant, size == "tiny")
            passes = []
            for _ in range(2):
                spark = harness.set_up(harness.session_conf(workdir, False), cpus, times=1).spark
                passes.append({name: querymix.digest(q.BENCH_FNS[name](spark, tables)) for name in querymix.QUERIES})
                spark.stop()
            pinned = {}
            for name in querymix.QUERIES:
                (d1, n1), (d2, n2) = passes[0][name], passes[1][name]
                pinned[name] = d1 if d1 == d2 else {"rows": n1 if n1 == n2 else None}
            out[size][str(variant)] = pinned
            print(size, variant, {k: (v if isinstance(v, dict) else v[:8]) for k, v in pinned.items()}, file=sys.stderr)
    shutil.rmtree(workdir, ignore_errors=True)
    with open(querymix.DIGESTS, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

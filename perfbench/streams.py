"""The stream workload, trend_stream, and the MERGE pass of its traced run.

trend_stream reads Debezium envelope files through the engine's file
source (``sources.cdc.read_cdc_files``) into ``article_stream`` →
``keyword_stream`` → ``trending_query`` and runs in two phases:

- drain (closed): a fixed backlog is published before the query starts
  and read ``max_files`` files per micro-batch;
- paced (open loop): a generator thread publishes one file every
  ``period_s`` seconds on a fixed schedule, at about 40% of the drain
  rate this host reached when the benchmark was introduced, and never
  waits for the engine.  Each event is stamped (``kafka_ts``) with the time its file
  was due, so a stall also counts against the files queued behind it.

Timings come from the checkpoint: the source log maps each file to its
micro-batch, and the modification time of ``commits/<batch>`` is that
batch's commit time.

The traced run also streams a second, write-heavy input (``MERGE``: a
replica loaded with 6,000 rows over 14 ``stored_date`` partitions, then
Zipf-skewed updates and deletes) through ``parse_envelope`` →
``for_table`` → ``streaming.sinks.merge_upsert_partitioned`` in
``foreachBatch``: the MERGE layer's metrics come from that pass.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass

import cdcgen
from harness import host_cpus, percentile, weighted_percentile


@dataclass(frozen=True)
class Shape:
    ops: dict
    file_events: int  # events per backlog file
    max_files: int  # maxFilesPerTrigger
    replica_rows: int  # updates and deletes hit these keys


TREND = Shape(ops={"c": 0.80, "r": 0.03, "u": 0.12, "d": 0.05}, file_events=400, max_files=16, replica_rows=6_000)
DRAIN_RATE = 2400.0  # events/s this host drained when the benchmark was introduced
PERIOD_S = 0.2  # paced publication period
PACED_SHARE = 0.4  # paced rate as a share of DRAIN_RATE
DRAIN_TIME_SHARE = 0.8  # of --seconds, after the first batch (at least two batches)
PACED_TIME_SHARE = 0.5  # of --seconds

MERGE = Shape(ops={"c": 0.30, "r": 0.05, "u": 0.55, "d": 0.10}, file_events=200, max_files=16, replica_rows=6_000)
MERGE_BATCHES = 4


def make_spec(seconds: float, tiny: bool) -> cdcgen.Spec:
    sh = TREND
    if tiny:  # same batch structure, a few events per file
        return cdcgen.Spec(3 * sh.max_files, 10, 4, 20, sh.ops, replica_rows=300)
    # whole batches only: a short last batch is mostly fixed cost
    batch_events = sh.max_files * sh.file_events
    drain_batches = 1 + max(2, round(DRAIN_RATE * DRAIN_TIME_SHARE * seconds / batch_events))
    return cdcgen.Spec(
        drain_files=drain_batches * sh.max_files,
        drain_events=sh.file_events,
        paced_files=max(2, round(PACED_TIME_SHARE * seconds / PERIOD_S)),
        paced_events=max(1, round(PACED_SHARE * DRAIN_RATE * PERIOD_S)),
        ops=sh.ops,
        replica_rows=sh.replica_rows,
    )


def merge_spec(tiny: bool) -> cdcgen.Spec:
    """A backlog of MERGE_BATCHES full micro-batches (tiny: 10 events a file)."""
    sh = MERGE
    return cdcgen.Spec(
        drain_files=MERGE_BATCHES * sh.max_files,
        drain_events=10 if tiny else sh.file_events,
        paced_files=0,
        paced_events=0,
        ops=sh.ops,
        replica_rows=300 if tiny else sh.replica_rows,
    )


class _ReaderOptions:
    """Stands in for the session when calling ``read_cdc_files`` so the
    engine's own reader (its schema and format) gets maxFilesPerTrigger,
    which the function does not take as a parameter."""

    def __init__(self, spark, **options):
        self._spark = spark
        self._options = {k: str(v) for k, v in options.items()}

    @property
    def readStream(self):
        return self._spark.readStream.options(**self._options)


def _checkpoint_state(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """(file name -> micro-batch id, committed batch id -> commit time).

    The file source logs each file under its own offset, which does not
    advance on no-data batches (watermark-only batches), so a file's
    micro-batch is the first batch whose offset log reaches that offset.
    """
    src_offset = {}
    for entry in _log_lines(os.path.join(ckpt, "sources", "0")):
        src_offset[os.path.basename(entry["path"])] = entry["batchId"]
    reached = []  # (source offset, micro-batch id), ascending batch id
    odir = os.path.join(ckpt, "offsets")
    for name in sorted((n for n in _names(odir) if n.isdigit()), key=int):
        try:
            with open(os.path.join(odir, name), encoding="utf-8") as f:
                offset = json.loads(f.read().splitlines()[-1])["logOffset"]
        except (FileNotFoundError, IndexError, KeyError, json.JSONDecodeError):  # being written
            break
        reached.append((offset, int(name)))
    files = {}
    for fname, off in src_offset.items():
        for reached_off, batch in reached:
            if reached_off >= off:
                files[fname] = batch
                break
    cdir = os.path.join(ckpt, "commits")
    commits = {int(n): os.stat(os.path.join(cdir, n)).st_mtime for n in _names(cdir) if n.isdigit()}
    return files, commits


def _names(d: str) -> list[str]:
    return os.listdir(d) if os.path.isdir(d) else []


def _log_lines(d: str):
    for name in _names(d):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(d, name), encoding="utf-8") as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:  # compacted away while listing
            continue
        for line in lines:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:  # being written
                continue


def _wait_committed(ckpt: str, names: list[str], deadline: float) -> bool:
    while time.time() < deadline:
        files, commits = _checkpoint_state(ckpt)
        if all(n in files and files[n] in commits for n in names):
            return True
        time.sleep(0.05)
    return False


def _wait_progress(query, ckpt: str, timeout_s: float = 10) -> None:
    """Progress is reported just after a batch commits; wait for the last
    committed batch's report so recentProgress is complete."""
    _, commits = _checkpoint_state(ckpt)
    last = max(commits, default=-1)
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        p = query.lastProgress
        if p is not None and p["batchId"] >= last:
            return
        time.sleep(0.05)


def _publisher(stream: cdcgen.Stream, names: list[str], period_s: float, stage: str, watched: str,
               due: list[float], late: list[float]) -> None:
    start = time.time() + period_s
    for i, body in enumerate(stream.paced):
        t_due = start + i * period_s
        delay = t_due - time.time()
        if delay > 0:
            time.sleep(delay)
        cdcgen.publish(body, int(t_due * 1000), stage, watched, names[i])
        due.append(t_due)
        late.append(max(0.0, time.time() - t_due))


def _publish_backlog(bodies: list[str], names: list[str], stage: str, watched: str) -> None:
    now_ms = int(time.time() * 1000)
    for i, (body, fname) in enumerate(zip(bodies, names)):
        cdcgen.publish(body, now_ms, stage, watched, fname, mtime_ms=now_ms - len(names) + i)


def _load_snapshot(spark, stream: cdcgen.Stream, workdir: str, target: str) -> None:
    """Initial replica through the engine's own batch MERGE (not timed)."""
    from cdc_pipeline_with_kafka_spark.sources import cdc
    from cdc_pipeline_with_kafka_spark.streaming import sinks

    snap = os.path.join(workdir, "snapshot")
    os.makedirs(snap, exist_ok=True)
    with open(os.path.join(snap, "snapshot.json"), "w", encoding="utf-8") as f:
        f.write(stream.snapshot.replace("@TS@", cdcgen._iso(cdcgen.BASE_MS)))
    raw = spark.read.schema(RAW_SCHEMA_DDL).json(snap)
    sinks.merge_upsert_partitioned(spark, cdc.for_table(cdc.parse_envelope(raw), "articles"), target)


RAW_SCHEMA_DDL = "key STRING, value STRING, kafka_ts TIMESTAMP"


class _Sink:
    """foreachBatch callback, with the time spent inside each call: it
    collects trending rows, or, given a replica ``target``, MERGEs the
    batch into it."""

    def __init__(self, target: str | None = None):
        self.target = target
        self.ms: list[float] = []
        self.batches: list[tuple[int, int]] = []  # (batch id, rows emitted; -1 for the MERGE sink)
        self.trending: dict[tuple[int, str], int] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from cdc_pipeline_with_kafka_spark.streaming import sinks

        t0 = time.perf_counter()
        if self.target is None:
            rows = batch_df.select(F.col("window_start").cast("long").alias("w"), "keyword", "cnt").collect()
            for r in rows:
                self.trending[(r["w"] * 1000, r["keyword"])] = r["cnt"]
            n = len(rows)
        else:
            sinks.merge_upsert_partitioned(batch_df.sparkSession, batch_df, self.target)
            n = -1
        self.ms.append((time.perf_counter() - t0) * 1000)
        self.batches.append((batch_id, n))


def _start(spark, watched: str, ckpt: str, sink: _Sink, max_files: int, observe: bool = False):
    """Build the streaming query over ``watched`` that feeds ``sink`` (the
    trending pipeline, observed when ``observe``, or the parsed articles
    for a MERGE sink) and start it; returns (query, build seconds, start
    wall time)."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.sources import cdc
    from cdc_pipeline_with_kafka_spark.streaming import pipeline

    t0 = time.perf_counter()
    raw = cdc.read_cdc_files(_ReaderOptions(spark, maxFilesPerTrigger=max_files), watched)
    if sink.target is None:
        articles = pipeline.article_stream(raw)
        if observe:
            articles = articles.observe("articles", F.count(F.lit(1)).alias("rows"))
        writer = pipeline.trending_query(pipeline.keyword_stream(articles)).writeStream.outputMode("update")
    else:
        writer = cdc.for_table(cdc.parse_envelope(raw), "articles").writeStream
    writer = writer.foreachBatch(sink).option("checkpointLocation", ckpt)
    build_s = time.perf_counter() - t0
    t_start = time.time()
    return writer.start(), build_s, t_start


def _drain_rate(files, commits, drain_names, counts) -> float:
    """Events per second over the drain batches after the first (the first
    is reported on its own as first_batch_s)."""
    drain_batches = sorted({files[n] for n in drain_names if n in files})
    if len(drain_batches) < 2 or any(b not in commits for b in drain_batches):
        return float("nan")
    tail = [n for n in drain_names if files.get(n, -1) != drain_batches[0]]
    return sum(counts[n] for n in tail) / (commits[drain_batches[-1]] - commits[drain_batches[0]])


def run(spark, seed: int, seconds: float, workdir: str, trace: bool, tiny: bool, reopen) -> dict:
    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    stream = cdcgen.generate(make_spec(seconds, tiny), seed)
    phases["generate_s"] = time.perf_counter() - t0
    watched, stage = os.path.join(workdir, "in"), os.path.join(workdir, "stage")
    ckpt = os.path.join(workdir, "checkpoint")
    for d in (watched, stage):
        os.makedirs(d, exist_ok=True)
    drain_names = [f"d{i:05d}.json" for i in range(len(stream.drain))]
    paced_names = [f"p{i:05d}.json" for i in range(len(stream.paced))]
    counts = dict(zip(drain_names + paced_names, stream.drain_counts + stream.paced_counts))
    _publish_backlog(stream.drain, drain_names, stage, watched)

    sink = _Sink()
    deadline_s = 60 + 4 * seconds
    query, build_s, t_start = _start(spark, watched, ckpt, sink, TREND.max_files, trace)
    due: list[float] = []
    late: list[float] = []
    try:
        drained = _wait_committed(ckpt, drain_names, t_start + deadline_s)
        t_paced = time.time()
        pub = threading.Thread(
            target=_publisher, args=(stream, paced_names, PERIOD_S, stage, watched, due, late), daemon=True
        )
        pub.start()
        pub.join()
        t_last_pub = time.time()
        finished = drained and _wait_committed(ckpt, paced_names, t_last_pub + deadline_s)
        _wait_progress(query, ckpt)
    finally:
        query.stop()
    phases["stream_s"] = time.time() - t_start
    progress = [json.loads(p.json) for p in query.recentProgress]
    files, commits = _checkpoint_state(ckpt)

    # ------------------------------------------------------------ metrics
    batches = sorted(commits)
    first_batch_s = commits[batches[0]] - t_start if batches else float("nan")
    events_per_s = _drain_rate(files, commits, drain_names, counts)
    lat = [((commits[files[n]] - d) * 1000, counts[n]) for n, d in zip(paced_names, due) if files.get(n) in commits]
    # count whole committed files (numInputRows counts a source row once
    # per action that reads it)
    processed = sum(counts[n] for n in counts if files.get(n) in commits)
    generated = stream.n_events

    # ------------------------------------------------------------ correctness
    checks: dict[str, bool] = {
        "all_events_processed": processed == generated and finished,
        "trending_equals_reference": sink.trending == stream.trending,
    }
    mismatches = sorted(
        (k, sink.trending.get(k), stream.trending.get(k))
        for k in set(sink.trending) | set(stream.trending)
        if sink.trending.get(k) != stream.trending.get(k)
    )[:20]
    correct = all(checks.values())
    phases["check_s"] = time.time() - t_start - phases["stream_s"]

    e2e = {
        "first_result_s": first_batch_s,
        "throughput_per_s": events_per_s,
        "latency_p50_ms": weighted_percentile(lat, 50) if lat else float("nan"),
        "latency_p95_ms": weighted_percentile(lat, 95) if lat else float("nan"),
    }
    detail = {
        "events_generated": generated,
        "events_processed": processed,
        "events_per_s": events_per_s,
        "first_batch_s": first_batch_s,
        "latency_p50_ms": e2e["latency_p50_ms"],
        "latency_p95_ms": e2e["latency_p95_ms"],
        "latency_samples": {"events": sum(w for _, w in lat), "files": len(lat)},
        "batches": len(batches),
        "drain_files": len(drain_names),
        "paced_files": len(paced_names),
        "paced_period_s": PERIOD_S,
        "paced_events_per_file": stream.paced_counts[0] if stream.paced_counts else 0,
        "max_files_per_trigger": TREND.max_files,
        "drain_wall_s": t_paced - t_start,
        "query_build_s": build_s,
        "first_batch_duration_ms": progress[0]["durationMs"] if progress else {},
        "checks": checks,
        "phases": phases,
        "num_input_rows": sum(p["numInputRows"] for p in progress),
        "mismatches": mismatches,
        "sink_batches": sink.batches,
        "sink_collect_ms_p50": _p50(sink.ms),
        "commits": {b: commits[b] - t_start for b in batches},
    }
    layers = {}
    if trace:
        layers = _query_layers(progress, files, commits, paced_names, late, t_last_pub)
        sink_layers, merge_detail, merge_mismatches = _merge_pass(spark, seed, workdir, tiny)
        layers.update(sink_layers)
        checks["merge_pass_replica_equals_reference"] = not merge_mismatches
        checks["merge_pass_all_committed"] = merge_detail["all_committed"]
        detail["merge_pass"] = merge_detail
        detail["mismatches"] += merge_mismatches[:20]
        layers.update(_batch_layers(spark, stream, watched))
        # both sides on a fresh session of the same JVM, event log off,
        # the same backlog and a fresh query each
        many = _backlog_rate(reopen(host_cpus()), stream, workdir, "many-cores")
        one = _backlog_rate(reopen(1), stream, workdir, "one-core")
        layers["scaling.cores_speedup"] = many / one
        detail["scaling_events_per_s"] = {"local[N]": many, "local[1]": one}
    return {"e2e": e2e, "layers": layers, "detail": detail, "attempted": generated,
            "failed": generated if not correct else max(0, generated - processed), "correct": correct,
            "exec_groups": [f"stream:{query.id}"]}


def _backlog_rate(spark, stream, workdir, label: str) -> float:
    """Drain rate of a fresh trending query over the drain files again."""
    base = os.path.join(workdir, label)
    watched, stage, ckpt = (os.path.join(base, d) for d in ("in", "stage", "checkpoint"))
    for d in (watched, stage):
        os.makedirs(d, exist_ok=True)
    names = [f"d{i:05d}.json" for i in range(len(stream.drain))]
    _publish_backlog(stream.drain, names, stage, watched)
    query, _, t_start = _start(spark, watched, ckpt, _Sink(), TREND.max_files)
    try:
        _wait_committed(ckpt, names, t_start + 60)
    finally:
        query.stop()
    files, commits = _checkpoint_state(ckpt)
    return _drain_rate(files, commits, names, dict(zip(names, stream.drain_counts)))


def _replica_mismatches(spark, target: str, reference: dict[int, dict]) -> list:
    """Rows where the replica differs from the reference: live rows must
    equal the last image per key; soft-deleted rows must carry is_deleted
    (the engine keeps their pre-batch content, so only the flag and the
    partition are compared)."""
    cols = ["id", "title", "content", "stored_date", "version", "views_count", "keywords", "is_deleted"]
    got = {r["id"]: r.asDict() for r in spark.read.parquet(target).select(*cols).collect()}
    out = [(k, "missing" if k in reference else "extra") for k in set(got) ^ set(reference)]
    for key in set(got) & set(reference):
        row, ref = got[key], reference[key]
        # the partition column reads back with an inferred (integer) type
        same = bool(row["is_deleted"]) == bool(ref["is_deleted"]) and str(row["stored_date"]) == ref["stored_date"]
        if same and not ref["is_deleted"]:
            same = all(row[c] == ref[c] for c in cols[1:-1] if c != "stored_date")
        if not same:
            out.append((key, {c: row[c] for c in cols}, {c: ref.get(c) for c in cols}))
    return sorted(out, key=lambda m: m[0])


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _query_layers(progress, files, commits, paced_names, late, t_last_pub) -> dict:
    """Per-batch layers from the query's own progress reports."""
    dur = [p.get("durationMs") or {} for p in progress if p["numInputRows"] > 0]
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        "sources.file.list_ms_p50": _p50([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]),
        "sources.file.lag_files_end": sum(
            1 for n in paced_names if files.get(n) not in commits or commits[files[n]] > t_last_pub
        ),
        "gen.late_ms_max": max(late) * 1000 if late else 0.0,
        "streaming.batch.add_batch_ms_p50": _p50([d.get("addBatch", 0) for d in dur]),
        "streaming.batch.query_planning_ms_p50": _p50([d.get("queryPlanning", 0) for d in dur]),
        "streaming.batch.wal_commit_ms_p50": _p50([d.get("walCommit", 0) for d in dur]),
        "streaming.batch.commit_offsets_ms_p50": _p50([d.get("commitOffsets", 0) for d in dur]),
        "streaming.state.rows_total_end": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state.rows_removed": sum(s["numRowsRemoved"] for s in state),
        "streaming.state.memory_bytes_end": state[-1]["memoryUsedBytes"] if state else 0,
        "streaming.state.commit_ms_p50": _p50([s["commitTimeMs"] for s in state]),
        "streaming.observed_rows": sum(
            (p.get("observedMetrics") or {}).get("articles", {}).get("rows", 0) for p in progress
        ),
    }


def _sink_layers(stream, files, names, sink_ms) -> dict:
    """MERGE sink layer: time inside each foreachBatch call, and, from the
    generator's per-file record, partitions touched per batch and target
    rows rewritten per applied event."""
    parts = dict(stream.snapshot_parts)
    touched_per_batch, rewritten, applied = [], 0, 0
    by_batch: dict[int, list[int]] = {}
    for i, n in enumerate(names):
        if n in files:
            by_batch.setdefault(files[n], []).append(i)
    for b in sorted(by_batch):
        touched: set[str] = set()
        for i in by_batch[b]:
            for part, new_rows in stream.file_touch[i].items():
                parts[part] = parts.get(part, 0) + new_rows
                touched.add(part)
            applied += stream.file_applied[i]
        touched_per_batch.append(len(touched))
        rewritten += sum(parts[p] for p in touched)
    return {
        "streaming.sinks.merge_ms_p50": _p50(sink_ms),
        "streaming.sinks.merge_ms_p95": percentile(sink_ms, 95) if sink_ms else 0.0,
        "streaming.sinks.touched_partitions_mean": statistics.fmean(touched_per_batch) if touched_per_batch else 0.0,
        "streaming.sinks.rewrite_amplification": rewritten / applied if applied else 0.0,
        "streaming.sinks.replica_rows_end": len(stream.replica),
    }


def _merge_pass(spark, seed: int, workdir: str, tiny: bool) -> tuple[dict, dict, list]:
    """Stream a generated write-heavy backlog (``MERGE``) through the
    MERGE sink into a replica loaded from its snapshot, and check the
    replica against the generator's last image per key.  Returns (sink
    layer metrics, detail, mismatches)."""
    stream = cdcgen.generate(merge_spec(tiny), seed)
    base = os.path.join(workdir, "merge-pass")
    watched, stage = os.path.join(base, "in"), os.path.join(base, "stage")
    ckpt, target = os.path.join(base, "checkpoint"), os.path.join(base, "replica")
    for d in (watched, stage):
        os.makedirs(d, exist_ok=True)
    _load_snapshot(spark, stream, base, target)
    names = [f"d{i:05d}.json" for i in range(len(stream.drain))]
    _publish_backlog(stream.drain, names, stage, watched)
    sink = _Sink(target)
    query, _, t_start = _start(spark, watched, ckpt, sink, MERGE.max_files)
    try:
        done = _wait_committed(ckpt, names, t_start + 90)
    finally:
        query.stop()
    files, commits = _checkpoint_state(ckpt)
    detail = {
        "events": stream.n_events,
        "batches": len(commits),
        "events_per_s": _drain_rate(files, commits, names, dict(zip(names, stream.drain_counts))),
        "merge_ms": sink.ms,
        "all_committed": done,
    }
    return _sink_layers(stream, files, names, sink.ms), detail, _replica_mismatches(spark, target, stream.replica)


def _batch_layers(spark, stream, watched) -> dict:
    """Time the calls into sources.cdc and streaming.pipeline as batch
    jobs over this run's own input; each stage's self time is its prefix
    time minus the previous prefix's (median of three)."""
    from cdc_pipeline_with_kafka_spark.sources import cdc
    from cdc_pipeline_with_kafka_spark.streaming import pipeline

    raw = spark.read.schema(RAW_SCHEMA_DDL).json(watched)
    value = raw.selectExpr("CAST(value AS STRING) AS value")

    def timed(df, label: str) -> float:
        spark.sparkContext.setJobDescription(label)
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        return statistics.median(runs)

    parsed = cdc.after_image(cdc.for_table(cdc.upsert_ops(cdc.parse_envelope(value)), "articles"))
    parse_s = timed(parsed, "layer:sources.cdc")
    articles = pipeline.article_stream(raw)
    keywords = pipeline.keyword_stream(articles)
    t_art = timed(articles, "layer:article_stream")
    t_kw = timed(keywords, "layer:keyword_stream")
    t_tr = timed(pipeline.trending_query(keywords), "layer:trending_query")

    spark.sparkContext.setJobDescription("layer:counts")
    rows_in = raw.count()
    n_parsed = cdc.parse_envelope(value).count()
    rows_out = parsed.count()
    n_articles = articles.count()
    n_keywords = keywords.count()
    spark.sparkContext.setJobDescription(None)
    return {
        "sources.cdc.parse_s": parse_s,
        "sources.cdc.rows_in": rows_in,
        "sources.cdc.rows_out": rows_out,
        "sources.cdc.malformed_ratio": (rows_in - n_parsed) / rows_in,
        "streaming.pipeline.article_stream_s": t_art,
        "streaming.pipeline.keyword_stream_s": max(0.0, t_kw - t_art),
        "streaming.pipeline.trending_query_s": max(0.0, t_tr - t_kw),
        "streaming.pipeline.keywords_per_article": n_keywords / n_articles if n_articles else 0.0,
        "_counts_match_generator": (
            rows_in == stream.n_events
            and rows_in - n_parsed == stream.n_malformed
            and rows_out == stream.n_articles_out
            and n_articles == stream.n_quality
            and n_keywords == stream.n_keywords
        ),
    }

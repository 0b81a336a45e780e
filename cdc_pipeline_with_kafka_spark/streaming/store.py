"""The batch-dir store behind every foreachBatch state sink
(SCALING.md "Batch-dir store").

One parquet directory per micro-batch, ``<path>/batch_id=N``, written
with mode("overwrite"): a checkpoint replay of batch N replaces its
own partial output instead of appending a second copy.  Reads use
basePath partition discovery, so ``batch_id`` comes from the
directory name and every read works on any Hadoop-visible URI.  Only
`compact` and `expire` rewrite directories, and only on the local
filesystem.
"""

from __future__ import annotations

import os
import re
import shutil
from urllib.parse import urlparse

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DIR = re.compile(r"batch_id=(-?\d+)")
# A compaction's tmp dir: ._compact_<highest id it replaces>_<target id>.
# The leading dot hides it from partition discovery.
_TMP = re.compile(r"\._compact_(-?\d+)_(-?\d+)")
# The only read errors that mean "nothing written yet".  The last one
# is an aborted first batch: the store holds only batch_id=0/_temporary,
# and replaying that batch must cold-start, not fail forever.
_COLD_START = ("PATH_NOT_FOUND", "Path does not exist", "UNABLE_TO_INFER_SCHEMA")


def write(df: DataFrame, path: str, batch_id: int) -> None:
    """Overwrite ``path/batch_id=<batch_id>`` with `df`."""
    df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")


def read(spark, path: str) -> DataFrame | None:
    """Every batch dir under `path`, with its ``batch_id`` column, or
    None on a cold start.  A finished compaction tmp that `compact` has
    not renamed yet stands in for the dirs it replaces.  Any other read
    error (storage blip, corrupt footer, permissions) raises, so the
    batch fails and the checkpoint retries it.  Callers apply their own
    replay filter on batch_id."""
    fs, jpath, names = _dirs(spark, path)
    try:
        df = spark.read.option("basePath", path).parquet(path)
    except AnalysisException as exc:
        if not any(m in str(exc) for m in _COLD_START):
            raise
        df = None
    for name in names:
        m = _TMP.fullmatch(name)
        if m and fs.exists(jpath(f"{path}/{name}/_SUCCESS")):
            merged = spark.read.parquet(f"{path}/{name}").withColumn("batch_id", F.lit(int(m.group(2))))
            return merged if df is None else df.filter(F.col("batch_id") > int(m.group(1))).unionByName(merged)
    return df


def latest(spark, path: str, before: int | None) -> DataFrame | None:
    """The newest snapshot dir with batch_id < `before` (None: no
    bound), or None on a cold start.  "Newest" comes from listing the
    dirs, not from row values: an EMPTY newest snapshot (a quiet batch)
    is the current state, where a row-value max would fall back to a
    stale non-empty one."""
    ids = [int(m.group(1)) for d in _dirs(spark, path)[2] if (m := _DIR.fullmatch(d))]
    ids = [k for k in ids if before is None or k < before]
    return spark.read.parquet(f"{path}/batch_id={max(ids)}") if ids else None


def _dirs(spark, path: str):
    """(Hadoop FileSystem, Path constructor, names of the dirs directly
    under `path`), listed through the FileSystem API so any URI works.
    A missing path has no dirs; every other listing failure raises."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath(path)):
        return fs, jpath, []
    return fs, jpath, [st.getPath().getName() for st in fs.listStatus(jpath(path)) if st.isDirectory()]


def last_per_key(df: DataFrame, keys: list[str], *tiebreak) -> DataFrame:
    """The newest row per key of a `read` frame: highest batch_id
    first, then the `tiebreak` orderings within one batch.  The
    batch_id column is dropped."""
    w = Window.partitionBy(*keys).orderBy(F.col("batch_id").desc(), *tiebreak)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )


def local_path(path: str) -> str:
    """`path` (a plain path or a ``file://`` URI) as a local path, for
    callers that rewrite dirs with local rename/delete.  Any other
    scheme raises: expiring or compacting nothing would be silent."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        raise ValueError(
            f"this operation uses local-filesystem rename/delete and "
            f"cannot run against scheme {url.scheme!r} ({path}); "
            f"rewrite remote tables with a storage-side job"
        )
    return url.path if url.scheme else path


def _names(local: str) -> list[str]:
    try:
        return os.listdir(local)
    except FileNotFoundError:
        return []


def _local_ids(local: str, keep) -> list[int]:
    """Sorted batch ids under the local dir `local` that `keep`."""
    ids = (int(m.group(1)) for d in _names(local) if (m := _DIR.fullmatch(d)))
    return sorted(k for k in ids if keep(k))


def compact(spark, path: str, upto: int | None, merge, into: int | None = None) -> int:
    """Fold the dirs with batch_id ≤ `upto` (None: all) into one.
    `merge(rows)` gets their rows with batch_id and returns the merged
    frame.  Order: write the merge to the hidden tmp dir
    ``._compact_<hi>_<into>`` (hi: the highest compacted id), then
    delete the old dirs, then rename tmp to ``batch_id=<into>``
    (default: hi, so a replay of any later batch reads the same state).
    Crash rule: once tmp holds ``_SUCCESS`` it is the state of every
    dir ≤ hi, so `read` uses it in their place and the next `compact`
    first finishes the deletes and the rename; an unfinished tmp is
    dropped (no old dir was deleted yet).  Only compact batches the
    stream has committed past.  Local filesystem only.  Returns the
    compacted row count."""
    path = local_path(path)
    _finish(path)
    ids = _local_ids(path, lambda k: upto is None or k <= upto)
    if not ids:
        return 0
    rows = spark.read.option("basePath", path).parquet(
        *[f"{path}/batch_id={k}" for k in ids]
    )
    tmp = f"{path}/._compact_{ids[-1]}_{ids[-1] if into is None else into}"
    merge(rows).drop("batch_id").write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    _finish(path)
    return n


def _finish(path: str) -> None:
    """Complete or drop the compaction tmp dirs under the local `path`."""
    for name in _names(path):
        if m := _TMP.fullmatch(name):
            if os.path.exists(f"{path}/{name}/_SUCCESS"):
                for k in _local_ids(path, lambda k: k <= int(m.group(1))):
                    shutil.rmtree(f"{path}/batch_id={k}")
                os.rename(f"{path}/{name}", f"{path}/batch_id={m.group(2)}")
            else:
                shutil.rmtree(f"{path}/{name}")


def expire(path: str, before: int) -> int:
    """Delete the whole snapshot dirs with batch_id < `before` —
    retention for stores versioned whole, where nothing needs merging.
    Local filesystem only.  Returns the number of dirs deleted."""
    path = local_path(path)
    ids = _local_ids(path, lambda k: k < before)
    for k in ids:
        shutil.rmtree(f"{path}/batch_id={k}")
    return len(ids)

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
# The only read errors that mean "nothing written yet".  The last one
# is an aborted first batch: the store holds only batch_id=0/_temporary,
# and replaying that batch must cold-start, not fail forever.
_COLD_START = ("PATH_NOT_FOUND", "Path does not exist", "UNABLE_TO_INFER_SCHEMA")


def write(df: DataFrame, path: str, batch_id: int) -> None:
    """Overwrite ``path/batch_id=<batch_id>`` with `df`."""
    df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")


def read(spark, path: str) -> DataFrame | None:
    """Every batch dir under `path`, with its ``batch_id`` column, or
    None on a cold start.  Any other read error (storage blip, corrupt
    footer, permissions) raises, so the batch fails and the checkpoint
    retries it.  Callers apply their own replay filter on batch_id."""
    try:
        return spark.read.option("basePath", path).parquet(path)
    except AnalysisException as exc:
        if any(m in str(exc) for m in _COLD_START):
            return None
        raise


def latest(spark, path: str, before: int | None) -> DataFrame | None:
    """The newest snapshot dir with batch_id < `before` (None: no
    bound), or None on a cold start.  "Newest" comes from listing the
    dirs through the Hadoop FileSystem API, not from row values: an
    EMPTY newest snapshot (a quiet batch) is the current state, where
    a row-value max would fall back to a stale non-empty one.  A
    missing path is a cold start; every other listing failure raises."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    ids = [
        int(m.group(1))
        for st in fs.listStatus(jpath)
        if st.isDirectory() and (m := _DIR.fullmatch(st.getPath().getName()))
    ]
    ids = [k for k in ids if before is None or k < before]
    return spark.read.parquet(f"{path}/batch_id={max(ids)}") if ids else None


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


def _local_ids(path: str, keep) -> tuple[str, list[int]]:
    """(local path, sorted batch ids under it that `keep`)."""
    local = local_path(path)
    try:
        names = os.listdir(local)
    except FileNotFoundError:
        return local, []
    ids = (int(m.group(1)) for d in names if (m := _DIR.fullmatch(d)))
    return local, sorted(k for k in ids if keep(k))


def compact(spark, path: str, upto: int | None, merge, into: int | None = None) -> int:
    """Fold the dirs with batch_id ≤ `upto` (None: all) into one.
    `merge(rows)` gets their rows with batch_id and returns the merged
    frame.  Order: write the merge to a hidden tmp dir, then delete
    the old dirs, then rename tmp to ``batch_id=<into>`` (default: the
    highest compacted id, so a replay of any later batch reads the
    same state).  A failed merge write leaves the store untouched.
    Only compact batches the stream has committed past.  Local
    filesystem only.  Returns the compacted row count."""
    path, ids = _local_ids(path, lambda k: upto is None or k <= upto)
    if not ids:
        return 0
    rows = spark.read.option("basePath", path).parquet(
        *[f"{path}/batch_id={k}" for k in ids]
    )
    tmp = f"{path}/._compact_tmp"
    merge(rows).drop("batch_id").write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    for k in ids:
        shutil.rmtree(f"{path}/batch_id={k}")
    os.rename(tmp, f"{path}/batch_id={ids[-1] if into is None else into}")
    return n


def expire(path: str, before: int) -> int:
    """Delete the whole snapshot dirs with batch_id < `before` —
    retention for stores versioned whole, where nothing needs merging.
    Local filesystem only.  Returns the number of dirs deleted."""
    path, ids = _local_ids(path, lambda k: k < before)
    for k in ids:
        shutil.rmtree(f"{path}/batch_id={k}")
    return len(ids)

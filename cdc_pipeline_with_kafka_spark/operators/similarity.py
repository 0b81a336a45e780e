"""Similarity search over embedding columns (array<float>).

Part of the 100 TB training-data extension set (BASELINE.json
north-star).  Two tiers:

- brute-force cosine top-k : exact baseline — the (small) query set is
  collected to a normalized numpy matrix and broadcast inside an
  Arrow-batched pandas UDF; each executor scores a whole Arrow batch
  with one matmul (vectorized BLAS beats both per-row Python and
  Catalyst higher-order expressions by orders of magnitude).
- LSH-bucketed ANN         : random-hyperplane signatures in
  `n_tables` independent tables (OR-construction) → candidates share
  a bucket in any table → exact re-rank inside buckets.  Candidate
  generation is linear; at 100 TB bucket tables are precomputed and
  partitioned by (table, bucket).

Column-expression `dot`/`cosine` remain for composability (small
inputs, candidate verification); the batch paths use numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType
from pyspark.sql.window import Window

from ..util import spread


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two float arrays (interpreted HOF —
    fine for per-candidate verification, not for corpus scans).
    Elements are widened to double BEFORE multiplying so results match
    float64 engines (numpy, DuckDB) bit-for-bit at 6-decimal rounding;
    float32 products would inject ~1e-6 noise."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a.cast("array<double>"), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _collect_query_matrix(queries: DataFrame, query_id_col: str, vec_col: str):
    rows = queries.collect()
    qids = [r[query_id_col] for r in rows]
    qm = np.array([r[vec_col] for r in rows], dtype=np.float64)
    return qids, qm


def _empty_topk_frame(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    query_id_col: str,
    variant: bool = False,
) -> DataFrame:
    """Zero-row result with the operator's output schema (column types
    inherited from the inputs) — the empty-query short-circuit."""
    base = (
        queries.select(F.col(query_id_col)).limit(0)
        .crossJoin(corpus.select(F.col(id_col)).limit(0))
        .withColumn("cos_sim", F.lit(None).cast("double"))
        .withColumn("rnk", F.lit(None).cast("int"))
    )
    if variant:
        return base.select(
            F.lit(None).cast("string").alias("variant"),
            query_id_col, id_col, "cos_sim", "rnk",
        )
    return base.select(query_id_col, id_col, "cos_sim", "rnk")


def _cosine_scores_udf(qm: np.ndarray):
    """Arrow-batched scorer: one (batch × dim) @ (dim × Q) matmul per
    Arrow batch.  qm (RAW float64, un-normalized) ships to executors
    once via closure serialization (the broadcast-small-side pattern).

    Operation order is dot-then-divide — dot(e,q) / (‖e‖·‖q‖) — the
    same order every float64 SQL engine (DuckDB oracle included) uses,
    so no value sits 1 ulp off a round(…,6) boundary the way a
    normalize-then-matmul formulation can."""
    qn = np.sqrt(np.einsum("ij,ij->i", qm, qm))
    qn[qn == 0] = 1.0

    @F.pandas_udf(ArrayType(DoubleType()))
    def scores(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        en = np.sqrt(np.einsum("ij,ij->i", m, m))
        en[en == 0] = 1.0
        s = np.round((m @ qm.T) / (en[:, None] * qn[None, :]), 6)
        return pd.Series(list(s))

    return scores


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector: one corpus scan,
    vectorized scoring, per-query top-k via window row_number."""
    qids, qm = _collect_query_matrix(queries, query_id_col, vec_col)
    if not qids:
        # empty query set: the outer explode would otherwise emit one
        # (null, null) row per corpus row (and _qidx % 0 is null)
        return _empty_topk_frame(corpus, queries, id_col, query_id_col)
    scored = _cosine_scored(corpus, qids, qm, id_col, vec_col, query_id_col)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos_sim", "rnk")
    )


def _cosine_scored(
    corpus: DataFrame,
    qids: list,
    qm: "np.ndarray",
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """All (query, corpus, cos_sim) scores — the shared seam under
    cosine_topk and hard_negatives: one corpus scan, one Arrow matmul
    per batch, scores rounded to 6 decimals in the UDF."""
    scorer = _cosine_scores_udf(qm)
    qid_lookup = F.array(*[F.lit(q) for q in qids])
    return (
        spread(corpus, id_col)
        .select(F.col(id_col), scorer(F.col(vec_col)).alias("_scores"))
        .select(F.col(id_col), F.posexplode_outer("_scores").alias("_qidx", "cos_sim"))
        .select(
            qid_lookup[F.col("_qidx")].alias(query_id_col), F.col(id_col), F.col("cos_sim")
        )
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    *,
    k_neg: int = 5,
    dup_ceiling: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    k_neg corpus vectors with the HIGHEST cosine that are (a) not the
    anchor itself (query_id != id — self-retrieval anchors) and (b)
    not near-duplicates (cos_sim < dup_ceiling: a 'negative' that is
    actually a positive poisons the contrastive loss — the standard
    false-negative filter).  Output (query_id, vec_id, cos_sim, rnk),
    rnk over the SURVIVING candidates.

    Exact ranking over all candidates via the same one-scan Arrow
    matmul as cosine_topk (the _cosine_scored seam) — no pool-size
    approximation where excluded dups silently eat the budget.  At
    corpus scale, generate candidates with the ANN tier (lsh/ivf) and
    re-rank the pool instead; this operator is the exact form and the
    oracle baseline."""
    qids, qm = _collect_query_matrix(anchors, query_id_col, vec_col)
    if not qids:
        return _empty_topk_frame(corpus, anchors, id_col, query_id_col)
    scored = _cosine_scored(corpus, qids, qm, id_col, vec_col, query_id_col)
    cand = scored.filter(
        (F.col(query_id_col) != F.col(id_col))
        & (F.col("cos_sim") < F.lit(float(dup_ceiling)))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k_neg)
        .select(query_id_col, id_col, "cos_sim", "rnk")
    )


def embedding_drift(
    old_assigned: DataFrame,
    new_assigned: DataFrame,
    n_clusters: int,
    cluster_col: str = "centroid_id",
) -> DataFrame:
    """Embedding-space drift between two corpus versions: PSI over the
    k-means/IVF CLUSTER-ASSIGNMENT histograms (classify.psi_core over
    centroid ids instead of token buckets) — catches semantic shift
    that token-level PSI misses (same vocabulary, different topics)
    and vice versa; run both between releases.  Inputs are ivf_assign
    / kmeans_assign_df outputs AGAINST THE SAME centroids (comparing
    histograms from different codebooks is meaningless — caller's
    contract).  Two ≤n_clusters-row collects, driver math shared with
    the oracle-replayable psi_core.  Returns one row:
    (psi_micro, n_buckets, n_old, n_new)."""
    from .classify import psi_core

    def counts(df: DataFrame) -> dict:
        return {
            int(r[cluster_col]): int(r["c"])
            for r in df.groupBy(cluster_col)
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    micro, nb, no, nn = psi_core(
        counts(old_assigned), counts(new_assigned), int(n_clusters)
    )
    return old_assigned.sparkSession.createDataFrame(
        [(micro, nb, no, nn)],
        "psi_micro long, n_buckets long, n_old long, n_new long",
    )


def ann_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: tuple,
    nprobes: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Recall@k of the IVF tier against the exact scan, per nprobe —
    the tuning table consulted before fixing nprobe at scale
    (SCALING §3's procedure, shipped as one call).  One exact top-k
    pass over a (held-out, queries-bounded) sample + one ANN pass per
    candidate nprobe; per-query recall is the exact integer
    ``|approx ∩ exact|·1e6 div k``, and the report row aggregates
    exact integer sums.

    Output: one row per nprobe — (nprobe, n_queries,
    mean_recall_ppm, min_recall_ppm)."""
    if not nprobes:
        raise ValueError("need at least one nprobe")
    exact = cosine_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).select(query_id_col, id_col).localCheckpoint()
    assigned = ivf_assign(
        corpus, centroids, id_col=id_col, vec_col=vec_col
    ).localCheckpoint()
    parts = []
    for np_ in sorted(set(int(n) for n in nprobes)):
        approx = ivf_ann_topk_preassigned(
            assigned, queries, centroids, nprobe=np_, k=k,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        ).select(query_id_col, id_col)
        per_q = (
            exact.join(approx.withColumn("_hit", F.lit(1)),
                       [query_id_col, id_col], "left")
            .groupBy(query_id_col)
            .agg(
                F.expr(f"CAST(sum(coalesce(_hit, 0)) * 1000000 div {int(k)} "
                       "AS BIGINT)").alias("recall_ppm")
            )
        )
        parts.append(
            per_q.agg(
                F.lit(np_).alias("nprobe"),
                F.count(F.lit(1)).alias("n_queries"),
                F.expr("CAST(sum(recall_ppm) div count(1) AS BIGINT)")
                .alias("mean_recall_ppm"),
                F.min("recall_ppm").alias("min_recall_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def hard_negatives_ann(
    corpus: DataFrame,
    anchors: DataFrame,
    centroids: tuple,
    *,
    k_neg: int = 5,
    dup_ceiling: float = 0.95,
    pool: int = 50,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The corpus-scale path of hard_negatives: candidates come from
    the IVF tier (top-`pool` per anchor over `nprobe` probed
    clusters) instead of an exhaustive scan, then the same self +
    near-dup exclusion and re-rank.  Approximate by construction —
    a true hard negative outside the probed clusters is missed, and
    excluded dups eat into the pool (size `pool` ≫ k_neg + expected
    dups accordingly).  Recall vs the exact operator is pytest-bounded."""
    cand = ivf_ann_topk(
        corpus, anchors, nlist=len(centroids[0]), nprobe=nprobe, k=pool,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        centroids=centroids,
    )
    kept = cand.filter(
        (F.col(query_id_col) != F.col(id_col))
        & (F.col("cos_sim") < F.lit(float(dup_ceiling)))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        kept.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k_neg)
        .select(query_id_col, id_col, "cos_sim", "rnk")
    )


def maxsim_topk(
    doc_chunks: DataFrame,
    query_chunks: DataFrame,
    *,
    k: int = 10,
    doc_id_col: str = "doc_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    block_chunks: int | None = None,
) -> DataFrame:
    """Late-interaction retrieval (ColBERT-style MaxSim, Khattab &
    Zaharia 2020) over CHUNK embeddings: score(q, d) = Σ_i max_j
    cos(q_i, d_j) — each query chunk finds its best-matching document
    chunk, so long documents are scored by their most relevant
    passages instead of one pooled vector.

    Exactness: per (query chunk, doc chunk) the 6-decimal cosine maps
    to an integer micro-sim; max over doc chunks is exact, the sum
    over query chunks is exact long arithmetic — partition order
    cannot move a score (the BM25 integer-micro contract, dense tier).
    Output (query_id, doc_id, maxsim_micro, rnk).

    Scale shape: ONE scan of doc chunks (the query-chunk matrix ships
    in the scorer closure), partial-aggregated max on (query, qchunk,
    doc), partial-aggregated sum on (query, doc), WindowGroupLimit
    top-k.  Missing-chunk semantics: a query chunk with NO doc chunk
    simply contributes nothing (inner grain), matching the oracle.  At
    100 TB, prefilter candidate docs with the pooled-vector ANN tier
    and MaxSim-re-rank the pool: pass `candidates` (any DataFrame with
    a doc_id_col column — e.g. cosine_topk over pooled doc vectors)
    and only those docs' chunks are scored (broadcast semi-join; the
    chunk table never shuffles).

    Query-set size: the chunk matrix collects to the driver, which is
    the right trade for a query WORKLOAD but fatal when the query set
    is itself a corpus (all-pairs doc linking).  Above
    `block_chunks` query-chunk rows (default MAXSIM_COLLECT_CHUNKS =
    65_536 ≈ 32 MB of float64 closure at dim 64) the plan switches to
    BLOCKED execution: query ids hash-partition into ⌈n/limit⌉
    blocks, each block collects bounded rows and scores with the same
    fused plan, and the per-block results union (a query's chunks all
    share its hash, so per-block sums are final — no re-aggregation).
    Cost: one doc-chunk scan PER BLOCK; for corpus×corpus linking
    prefer `candidates=` pools per block or the LSH/IVF pair tiers."""
    if block_chunks is not None and block_chunks < 1:
        raise ValueError(
            f"block_chunks must be >= 1 (got {block_chunks}); "
            "pass None for the default"
        )
    if candidates is not None:
        doc_chunks = doc_chunks.join(
            F.broadcast(candidates.select(doc_id_col).distinct()),
            doc_id_col,
            "left_semi",
        )
    limit = int(block_chunks if block_chunks is not None else MAXSIM_COLLECT_CHUNKS)
    n_chunks = query_chunks.count()
    if n_chunks > limit and candidates is None:
        import warnings

        n_blocks = -(-n_chunks // limit)
        warnings.warn(
            f"maxsim_topk: {n_chunks} query-chunk rows exceed the "
            f"collect limit ({limit}) with no `candidates` pool — the "
            f"blocked path will scan the doc-chunk table once PER "
            f"BLOCK ({int(n_blocks)} scans).  Fine for a large query "
            "workload; for corpus×corpus linking pass `candidates=` "
            "(pooled-vector ANN top-k per query) or use the LSH/IVF "
            "pair tiers instead.",
            stacklevel=2,
        )
    if n_chunks <= limit:
        qrows = query_chunks.select(query_id_col, vec_col).collect()
        fused = _maxsim_fused(
            doc_chunks, qrows, doc_id_col, vec_col, query_id_col
        )
    else:
        n_blocks = -(-n_chunks // limit)
        parts = []
        for b in range(int(n_blocks)):
            blk = query_chunks.filter(
                F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(int(n_blocks)))
                == b
            )
            qrows = blk.select(query_id_col, vec_col).collect()
            if qrows:
                parts.append(
                    _maxsim_fused(
                        doc_chunks, qrows, doc_id_col, vec_col, query_id_col
                    )
                )
        fused = parts[0] if parts else None
        for p in (parts[1:] if parts else []):
            fused = fused.unionByName(p)
    if fused is None:
        return _empty_topk_frame(
            doc_chunks.select(F.col(doc_id_col).alias("vec_id"), F.col(vec_col)),
            query_chunks,
            "vec_id",
            query_id_col,
        ).select(
            F.col(query_id_col),
            F.col("vec_id").alias(doc_id_col),
            F.lit(None).cast("long").alias("maxsim_micro"),
            F.col("rnk"),
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("maxsim_micro").desc(), F.col(doc_id_col).asc()
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, doc_id_col, "maxsim_micro", "rnk")
    )


# collect threshold for maxsim's query-chunk matrix: ~65k chunks × 64
# float64 dims ≈ 32 MB shipped in the scorer closure — past this the
# blocked path bounds driver/executor memory at one block apiece
MAXSIM_COLLECT_CHUNKS = 65_536


def _maxsim_fused(
    doc_chunks: DataFrame,
    qrows: list,
    doc_id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame | None:
    """(query_id, doc_id, maxsim_micro) for one collected block of
    query-chunk rows — max over doc chunks per query chunk, exact long
    sum over the block's query chunks.  None for an empty block."""
    if not qrows:
        return None
    qids = [r[query_id_col] for r in qrows]
    qm = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    scored = _cosine_scored(
        doc_chunks, list(range(len(qids))), qm, doc_id_col, vec_col, "_qpos"
    )
    qid_lookup = F.array(*[F.lit(q) for q in qids])
    micro = F.round(F.col("cos_sim") * 1e6, 0).cast("long")
    per_qchunk = (
        scored.select(
            qid_lookup[F.col("_qpos")].alias(query_id_col),
            F.col("_qpos"),
            F.col(doc_id_col),
            micro.alias("_micro"),
        )
        .groupBy(query_id_col, "_qpos", doc_id_col)
        .agg(F.max("_micro").alias("_best"))
    )
    return per_qchunk.groupBy(query_id_col, doc_id_col).agg(
        F.sum("_best").alias("maxsim_micro")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (generated once on the
    driver, shipped in the UDF closure)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _signature_udf(plane_sets: list[list[list[float]]]):
    """Vectorized multi-table signatures: returns array<string> of
    bucket keys, one per hash table, computed with one matmul per
    table per Arrow batch."""
    mats = [np.array(p, dtype=np.float64).T for p in plane_sets]  # dim × planes

    @F.pandas_udf(ArrayType(StringType()))
    def signatures(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        per_table = []
        for mat in mats:
            bits = (m @ mat) >= 0  # batch × planes
            keys = np.array(
                ["".join("1" if b else "0" for b in row) for row in bits]
            )
            per_table.append(keys)
        stacked = np.stack(per_table, axis=1)  # batch × tables
        return pd.Series(list(stacked))

    return signatures


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Column-expression single-table signature (kept for candidate
    verification and tests)."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(float(x)) for x in plane])) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank restricted to corpus
    vectors sharing a hyperplane bucket with the query in ANY of
    `n_tables` independent tables (OR-construction; recall
    ≈ 1-(1-p^planes)^tables).

    One corpus scan computes all table signatures (vectorized); the
    bucket join explodes to (table, bucket) entries; candidates are
    deduped then re-ranked with the same vectorized scorer."""
    plane_sets = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    sig = _signature_udf(plane_sets)

    c = (
        spread(corpus, id_col)
        .select(F.col(id_col), F.col(vec_col), sig(F.col(vec_col)).alias("_sigs"))
        .select(F.col(id_col), F.col(vec_col), F.posexplode_outer("_sigs").alias("_table", "_bucket"))
    )
    q = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
        .select(F.col(query_id_col), F.col("_qvec"), sig(F.col("_qvec")).alias("_sigs"))
        .select(F.col(query_id_col), F.col("_qvec"), F.posexplode_outer("_sigs").alias("_table", "_bucket"))
    )
    # score per band COLLISION, then dedup the scalar (r12): the old
    # `dropDuplicates([query, id])` carried both embedding arrays
    # through the exchange, and first() over array buffers forces two
    # SortAggregates (arrays are not hash-agg buffer types).  cos_sim
    # is a deterministic function of the pair, so aggregating max over
    # duplicate collisions is value-identical, the shuffle carries
    # (long, long, double) instead of two float vectors, and the
    # aggregate runs hash-based.  CPU trade: a pair colliding in b
    # tables computes cosine b ≤ n_tables times — map-side partial agg
    # keeps the exchange deduped either way.
    scored = (
        c.join(q, ["_table", "_bucket"])
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cos_sim"),
        )
        .groupBy(query_id_col, id_col)
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos_sim", "rnk")
    )


def ivf_centroids(
    corpus: DataFrame, nlist: int, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """Deterministic coarse quantizer for IVF: the first `nlist`
    corpus vectors by id.  Real deployments train k-means offline and
    ship the codebook; the search plan below works with ANY fixed
    centroid set, so training is pluggable — the deterministic pick
    keeps results exactly reproducible (and oracle-checkable).
    Returns (ids ascending, L2-normalized matrix nlist × dim)."""
    rows = corpus.orderBy(F.col(id_col).asc()).limit(nlist).select(id_col, vec_col).collect()
    cids = np.array([r[id_col] for r in rows], dtype=np.int64)
    cm = _normalize_rows(np.array([r[vec_col] for r in rows], dtype=np.float64))
    return cids, cm


def _ivf_assign_udf(cids: np.ndarray, cm: np.ndarray, nprobe: int):
    """Vectorized cluster assignment: one (batch × dim) @ (dim × nlist)
    matmul per Arrow batch; returns the `nprobe` nearest centroid ids
    by cosine (desc), centroid id asc on ties.  Sims are rounded to 6
    decimals before ranking so the order is reproducible across
    float64 engines."""

    @F.pandas_udf(ArrayType(LongType()))
    def assign(embs: pd.Series) -> pd.Series:
        m = _normalize_rows(np.stack(embs.to_numpy()).astype(np.float64))
        s = np.round(m @ cm.T, 6)  # batch × nlist
        # sort by (-sim, cid): lexsort uses the LAST key as primary
        order = np.lexsort((np.broadcast_to(cids, s.shape), -s), axis=1)[:, :nprobe]
        return pd.Series(list(cids[order]))

    return assign


def train_ivf_codebook(
    corpus: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rate_pct: int = 100,
    iters: int = 10,
    seed: int = 42,
    max_train_rows: int = 100_000,
):
    """Lloyd k-means codebook for IVF, trained on a (hash-sampled)
    driver-side subset — the 'train offline, ship the codebook' path
    the ivf_centroids docstring promises.

    Deterministic: the sample is md5-bucket selected (reproducible on
    any cluster size) and init takes the first `nlist` sample vectors
    by id.  Empty clusters re-seed to the farthest point from its
    centroid (standard fix).

    The driver-side collect is HARD-CAPPED at `max_train_rows`
    (ordered limit, so the cap is deterministic): at 100 TB you train
    on ~1e5 vectors and ship nlist × dim floats to executors — with
    the cap, a caller leaving sample_rate_pct=100 on a huge corpus
    trains on the first `max_train_rows` ids instead of OOMing the
    driver.  Returns (cids 0..nlist-1, L2-normalized centroid matrix)
    — plug into ivf_ann_topk(centroids=...)."""
    from .curation import hash_bucket

    if max_train_rows <= 0:
        raise ValueError(f"max_train_rows must be positive, got {max_train_rows}")
    sampled = corpus
    if sample_rate_pct < 100:
        sampled = corpus.filter(
            hash_bucket(F.col(id_col), salt=f"ivf{seed}:") < sample_rate_pct
        )
    rows = (
        sampled.orderBy(F.col(id_col).asc())
        .limit(max_train_rows)
        .select(id_col, vec_col)
        .collect()
    )
    m = _normalize_rows(np.array([r[vec_col] for r in rows], dtype=np.float64))
    if len(m) < nlist:
        raise ValueError(f"sample has {len(m)} vectors < nlist={nlist}")
    return np.arange(nlist, dtype=np.int64), ivf_kmeans_np(m, nlist, iters)


def ivf_kmeans_np(m: np.ndarray, nlist: int, iters: int = 10) -> np.ndarray:
    """Pure-numpy Lloyd core of `train_ivf_codebook` (cosine metric on
    L2-normalized rows, first-nlist init, farthest-point reseed of
    empty clusters).  Factored out so the pinned-codebook DuckDB
    oracle (queries._pq_oracle_sql) trains THE SAME centroids from the
    same ordered sample entirely off-Spark — the BPE/MMR pinned-model
    pattern."""
    cm = m[:nlist].copy()
    for _ in range(iters):
        sims = m @ cm.T  # cosine on normalized rows
        assign = np.argmax(sims, axis=1)
        new_cm = np.zeros_like(cm)
        for c in range(nlist):
            members = m[assign == c]
            if len(members):
                new_cm[c] = members.mean(axis=0)
            else:  # re-seed an empty cluster with the globally worst-fit point
                new_cm[c] = m[np.argmin(sims.max(axis=1))]
        cm = _normalize_rows(new_cm)
    return cm


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    nlist: int = 16,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: tuple | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid (inverted file); each query probes its `nprobe` nearest
    clusters and re-ranks exactly inside them.

    Scale shape: the assignment is one broadcast-codebook matmul per
    Arrow batch (embarrassingly parallel, no shuffle); at 100 TB the
    assigned table is written once, partitioned by centroid_id, and
    every query then prunes to nprobe/nlist of the corpus via
    partition pruning.  Complements LSH (lsh_ann_topk): IVF gives
    tunable recall via nprobe and data-adaptive buckets via a trained
    codebook (pass centroids=train_ivf_codebook(...); default is the
    deterministic first-nlist quantizer for exact reproducibility)."""
    cids, cm = centroids if centroids is not None else ivf_centroids(
        corpus, nlist, id_col, vec_col
    )
    assign1 = _ivf_assign_udf(cids, cm, 1)
    probe = _ivf_assign_udf(cids, cm, nprobe)
    assigned = spread(corpus, id_col).select(
        F.col(id_col), F.col(vec_col), F.coalesce(assign1(F.col(vec_col))[0], F.lit(-1)).alias("centroid_id")
    )
    qprobe = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec"),
            F.explode_outer(probe(F.col(vec_col))).alias("centroid_id"),
        )
    )
    candidates = assigned.join(qprobe, "centroid_id")
    scored = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos_sim", "rnk")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: tuple,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the IVF inverted file: (id, vec, centroid_id).

    Write this once, partitioned by centroid_id
    (`bucketing.write_partitioned(..., ["centroid_id"])`), and every
    later query prunes to its nprobe directories — the 'index build'
    half of the write-once/query-many IVF lifecycle at 100 TB."""
    cids, cm = centroids
    assign1 = _ivf_assign_udf(cids, cm, 1)
    return spread(corpus, id_col).select(
        F.col(id_col), F.col(vec_col), F.coalesce(assign1(F.col(vec_col))[0], F.lit(-1)).alias("centroid_id")
    )


def ivf_ann_topk_preassigned(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: tuple,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF query against a persisted `ivf_assign` table: no assignment
    pass over the corpus — probe clusters, re-rank exactly, top-k.
    Equal to ivf_ann_topk on the same codebook (asserted in tests)."""
    cids, cm = centroids
    probe = _ivf_assign_udf(cids, cm, nprobe)
    qprobe = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec"),
            F.explode_outer(probe(F.col(vec_col))).alias("centroid_id"),
        )
    )
    candidates = assigned.join(qprobe, "centroid_id")
    scored = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos_sim", "rnk")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold).

    exact=True does the O(n²) self-join (oracle-checkable baseline at
    small SF); default is LSH-blocked: pairs must share a hyperplane
    bucket — the linear-candidate path for 100 TB.  High-threshold
    pairs almost always share all signs, so recall at 0.95+ stays
    near 1 even with few planes."""
    df = spread(df, id_col)
    if exact:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            raise ValueError("dim required for LSH blocking")
        # one vectorized signature pass (matmul per Arrow batch) shared
        # by both join branches — the per-plane HOF column expression
        # (lsh_signature) costs 6 interpreted dot products per ROW per
        # BRANCH; the UDF is one BLAS matmul per batch
        planes = _hyperplanes(dim, n_planes, seed)
        sig = _signature_udf([planes])
        bucketed = df.select(
            F.col(id_col), F.col(vec_col),
            # coalesce folds the join's isnotnull(_bucket) check so it is
            # not pushed below the exchange as a second UDF evaluation
            F.coalesce(sig(F.col(vec_col))[0], F.lit("")).alias("_bucket")
        )
        a = bucketed.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "_bucket"
        )
        b = bucketed.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "_bucket"
        )
        pairs = a.join(b, "_bucket").filter(F.col("id_a") < F.col("id_b"))
    sim = F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6)
    return (
        pairs.select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5)  (explicit half-up — identical
    semantics in Spark and DuckDB, unlike round()'s engine-specific tie
    rules).  Returned as array<double> of integer values so downstream
    cosine math is float64 in both engines.

    4× memory/IO reduction per embedding at 100 TB; cosine over the
    quantized vectors is scale-invariant (per-vector scale cancels in
    the normalization), so ranking quality degrades only by rounding.
    """
    d = vec.cast("array<double>")
    amax = F.array_max(F.transform(d, lambda x: F.abs(x)))
    scale = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    return F.transform(d, lambda x: F.floor(x / scale + F.lit(0.5)).cast("double"))


def cosine_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """cosine_topk over int8-quantized embeddings (both sides
    quantized): same exact-scan/topk machinery, 4× narrower vectors."""
    qc = quantize_int8(F.col(vec_col)).alias(vec_col)
    return cosine_topk(
        corpus.select(F.col(id_col), qc),
        queries.select(F.col(query_id_col), qc),
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def _quantize_rows_np(m: np.ndarray) -> np.ndarray:
    """numpy twin of quantize_int8 (same half-up floor(x/scale + 0.5)
    double math), for fused scans that quantize inside the scorer."""
    amax = np.abs(m).max(axis=1)
    scale = np.where(amax == 0.0, 1.0, amax / 127.0)
    return np.floor(m / scale[:, None] + 0.5)


def cosine_topk_suite(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact AND int8-quantized cosine top-k in ONE corpus scan.

    cosine_topk + cosine_topk_int8 run back-to-back cost two full
    scans and two pandas-UDF passes over identical bytes; here a single
    Arrow batch is scored against both query matrices (raw float64 and
    int8-quantized) — the quantization is a cheap in-batch numpy pass,
    so the second variant rides the first scan's IO and deserialization
    for free.  At 100 TB that halves the dominant cost (the scan).

    Returns (variant, query_id, vec_id, cos_sim, rnk); variant ∈
    {'exact','int8'}; per-(variant, query) top-k.  Scores are
    dot-then-divide rounded to 6, identical to the unfused operators.
    """
    qids, qm = _collect_query_matrix(queries, query_id_col, vec_col)
    nq = len(qids)
    if nq == 0:
        # `_i % nq` is a modulo-by-zero (null) and the outer explode
        # emits (null, null) rows labeled 'int8' — short-circuit instead
        return _empty_topk_frame(corpus, queries, id_col, query_id_col, variant=True)
    qmq = _quantize_rows_np(qm)
    qn = np.sqrt(np.einsum("ij,ij->i", qm, qm))
    qn[qn == 0] = 1.0
    qnq = np.sqrt(np.einsum("ij,ij->i", qmq, qmq))
    qnq[qnq == 0] = 1.0

    @F.pandas_udf(ArrayType(DoubleType()))
    def scores2(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        en = np.sqrt(np.einsum("ij,ij->i", m, m))
        en[en == 0] = 1.0
        ex = np.round((m @ qm.T) / (en[:, None] * qn[None, :]), 6)
        mq = _quantize_rows_np(m)
        enq = np.sqrt(np.einsum("ij,ij->i", mq, mq))
        enq[enq == 0] = 1.0
        i8 = np.round((mq @ qmq.T) / (enq[:, None] * qnq[None, :]), 6)
        return pd.Series(list(np.concatenate([ex, i8], axis=1)))

    qid_lookup = F.array(*[F.lit(q) for q in qids])
    scored = (
        spread(corpus, id_col)
        .select(F.col(id_col), scores2(F.col(vec_col)).alias("_scores"))
        .select(F.col(id_col), F.posexplode_outer("_scores").alias("_i", "cos_sim"))
        .select(
            F.when(F.col("_i") < nq, F.lit("exact")).otherwise(F.lit("int8")).alias("variant"),
            qid_lookup[F.col("_i") % nq].alias(query_id_col),
            F.col(id_col),
            F.col("cos_sim"),
        )
    )
    w = Window.partitionBy("variant", query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("variant", query_id_col, id_col, "cos_sim", "rnk")
    )


# ---------------------------------------------------------------- product quantization


def train_pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 10,
    max_train_rows: int = 100_000,
) -> np.ndarray:
    """Train a product-quantization codebook (Jégou et al., 'Product
    Quantization for Nearest Neighbor Search', TPAMI 2011): split the
    L2-normalized vector into `m` subspaces and run Lloyd k-means with
    `ksub` centroids independently in each.

    Returns codebooks of shape (m, ksub, dim/m).  A 64-dim float32
    embedding (256 B) compresses to m=8 one-byte codes — 32× — while
    ADC scoring (pq_ann_topk) still approximates cosine well; at 100 TB
    that is the difference between an in-memory index and one that
    doesn't fit.  Driver-side training is HARD-CAPPED at
    `max_train_rows` exactly like train_ivf_codebook; deterministic
    (ordered sample, first-ksub init, farthest-point reseed)."""
    if max_train_rows <= 0:
        raise ValueError(f"max_train_rows must be positive, got {max_train_rows}")
    rows = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(max_train_rows)
        .select(vec_col)
        .collect()
    )
    x = _normalize_rows(np.array([r[vec_col] for r in rows], dtype=np.float64))
    n, dim = x.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if n < ksub:
        raise ValueError(f"sample has {n} vectors < ksub={ksub}")
    return pq_kmeans_np(x, m, ksub, iters)


def pq_kmeans_np(x: np.ndarray, m: int, ksub: int, iters: int = 10) -> np.ndarray:
    """Pure-numpy per-subspace Lloyd core of `train_pq_codebook`
    (L2 metric, first-ksub init, farthest-point reseed).  Factored out
    for the pinned-codebook oracle — see `ivf_kmeans_np`."""
    n, dim = x.shape
    dsub = dim // m
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cm = sub[:ksub].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            new_cm = np.zeros_like(cm)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    new_cm[c] = members.mean(axis=0)
                else:
                    new_cm[c] = sub[np.argmax(d2.min(axis=1))]
            cm = new_cm
        books[j] = cm
    return books


def _pq_encode_udf(codebooks: np.ndarray):
    """Arrow-batched PQ encoder shared by pq_encode and ivf_pq_index:
    one (batch × ksub) distance matrix per subspace, argmin code.
    ||s − c||² = ||s||² − 2s·c + ||c||²; the ||s||² term is constant
    per row so the argmin drops it."""
    mm, ksub, dsub = codebooks.shape

    @F.pandas_udf(ArrayType(LongType()))
    def encode(embs: pd.Series) -> pd.Series:
        x = _normalize_rows(np.stack(embs.to_numpy()).astype(np.float64))
        codes = np.zeros((len(x), mm), dtype=np.int64)
        for j in range(mm):
            sub = x[:, j * dsub : (j + 1) * dsub]
            d2 = (
                -2.0 * (sub @ codebooks[j].T)
                + (codebooks[j] ** 2).sum(axis=1)[None, :]
            )
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return encode


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to PQ codes: (id, codes array<int> of length m).

    The codes table is the persisted index at 100 TB (m bytes/vector);
    raw vectors are only re-read by the optional exact refine stage."""
    encode = _pq_encode_udf(codebooks)
    return spread(corpus, id_col).select(
        F.col(id_col), encode(F.col(vec_col)).alias("codes")
    )


def pq_ann_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    refine: int = 0,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    a PQ-encoded corpus: per query, a lookup table LUT[j][c] =
    q_sub_j · centroid_jc is built once on the driver (m × ksub
    doubles); each encoded row's approximate cosine is Σ_j
    LUT[j][codes_j] — a pure table-gather per Arrow batch, no float
    vector ever read.

    refine > 0 re-ranks the top k·refine ADC candidates EXACTLY against
    the raw vectors (requires `corpus`): the standard two-stage PQ
    search — ADC reads m bytes/vector over everything, the exact pass
    touches only k·refine rows per query.  Output (query_id, id,
    score, rnk); score is the ADC approximation (refine=0) or exact
    rounded cosine (refine>0)."""
    mm, ksub, dsub = codebooks.shape
    qids, qm_raw = _collect_query_matrix(queries, query_id_col, vec_col)
    qm = _normalize_rows(qm_raw)
    # LUT per query: (Q, m, ksub)
    lut = np.stack(
        [
            np.stack(
                [codebooks[j] @ qm[qi, j * dsub : (j + 1) * dsub] for j in range(mm)]
            )
            for qi in range(len(qids))
        ]
    )

    @F.pandas_udf(ArrayType(DoubleType()))
    def adc_scores(codes: pd.Series) -> pd.Series:
        c = np.stack(codes.to_numpy()).astype(np.int64)  # batch × m
        out = np.zeros((len(c), lut.shape[0]))
        for qi in range(lut.shape[0]):
            # gather: for each row, sum LUT[qi, j, code_j]
            out[:, qi] = lut[qi][np.arange(mm)[None, :], c].sum(axis=1)
        return pd.Series(list(np.round(out, 6)))

    qid_lookup = F.array(*[F.lit(q) for q in qids])
    scored = (
        encoded.select(F.col(id_col), adc_scores(F.col("codes")).alias("_s"))
        .select(F.col(id_col), F.posexplode_outer("_s").alias("_qidx", "score"))
        .select(qid_lookup[F.col("_qidx")].alias(query_id_col), F.col(id_col), "score")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    if refine <= 0:
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(query_id_col, id_col, "score", "rnk")
        )
    if corpus is None:
        raise ValueError("refine > 0 requires the raw corpus for the exact pass")
    cand = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k * refine)
        .select(query_id_col, id_col)
    )
    qdf = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    )
    exact = (
        cand.join(spread(corpus, id_col).select(id_col, vec_col), id_col)
        .join(qdf, query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("score"),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "score", "rnk")
    )


def ivf_pq_index(
    corpus: DataFrame,
    centroids: tuple,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the combined IVF-PQ index: (id, centroid_id, codes)
    — the classic IVFPQ layout (coarse quantizer prunes clusters,
    product codes stand in for vectors).  One pass over the corpus
    computes both the cluster assignment and the PQ codes; write it
    partitioned by centroid_id and a query touches nprobe/nlist of an
    index that is ~m bytes/vector — at 100 TB both prunings compound:
    directory pruning × 32× narrower rows."""
    cids, cm = centroids
    assign1 = _ivf_assign_udf(cids, cm, 1)
    encode = _pq_encode_udf(codebooks)
    return spread(corpus, id_col).select(
        F.col(id_col),
        F.coalesce(assign1(F.col(vec_col))[0], F.lit(-1)).alias("centroid_id"),
        encode(F.col(vec_col)).alias("codes"),
    )


def ivf_pq_ann_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: tuple,
    codebooks: np.ndarray,
    nprobe: int = 2,
    k: int = 10,
    refine: int = 0,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Query an `ivf_pq_index`: probe each query's `nprobe` nearest
    clusters (partition pruning on the persisted index), ADC-score the
    surviving rows from per-query lookup tables (codes only — no float
    vectors read), exact-refine the top k·refine if requested.

    The candidate row carries its query, so the scorer gathers from
    that row's OWN query LUT (a (Q, m, ksub) stack ships once in the
    closure; per batch it is one fancy-index gather + row sum)."""
    cids, cm = centroids
    mm, ksub, dsub = codebooks.shape
    rows = queries.collect()
    qids = [r[query_id_col] for r in rows]
    qm = _normalize_rows(np.array([r[vec_col] for r in rows], dtype=np.float64))
    lut = np.stack(
        [
            np.stack(
                [codebooks[j] @ qm[qi, j * dsub : (j + 1) * dsub] for j in range(mm)]
            )
            for qi in range(len(qids))
        ]
    )  # Q × m × ksub
    probe = _ivf_assign_udf(cids, cm, nprobe)
    qpos = {q: i for i, q in enumerate(qids)}
    pos_expr = F.create_map(
        *[x for q, i in qpos.items() for x in (F.lit(q), F.lit(i))]
    )
    qprobe = F.broadcast(
        queries.select(
            F.col(query_id_col),
            pos_expr[F.col(query_id_col)].alias("_qpos"),
            F.explode_outer(probe(F.col(vec_col))).alias("centroid_id"),
        )
    )
    cand = index.join(qprobe, "centroid_id")

    @F.pandas_udf(DoubleType())
    def adc(codes: pd.Series, qpos_s: pd.Series) -> pd.Series:
        c = np.stack(codes.to_numpy()).astype(np.int64)  # batch × m
        qp = qpos_s.to_numpy().astype(np.int64)
        # out[i, j] = lut[qp[i], j, c[i, j]] — one fancy-index gather
        s = lut[qp[:, None], np.arange(mm)[None, :], c]
        return pd.Series(np.round(s.sum(axis=1), 6))

    scored = cand.select(
        F.col(query_id_col), F.col(id_col),
        adc(F.col("codes"), F.col("_qpos")).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    if refine <= 0:
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(query_id_col, id_col, "score", "rnk")
        )
    if corpus is None:
        raise ValueError("refine > 0 requires the raw corpus for the exact pass")
    top = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k * refine)
        .select(query_id_col, id_col)
    )
    qdf = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    )
    exact = (
        top.join(spread(corpus, id_col).select(id_col, vec_col), id_col)
        .join(qdf, query_id_col)
        .select(
            query_id_col, id_col,
            F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("score"),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "score", "rnk")
    )


def mean_pool(vectors: Column) -> Column:
    """Element-wise mean of an array of equal-length vectors (chunk
    embeddings → one document embedding, the standard pooling step).

    Pure JVM fold: aggregate over zip_with(+), then one divide pass.
    NULL when the array is empty.
    """
    n = F.size(vectors)
    dim_zero = F.transform(
        F.element_at(vectors, 1).cast("array<double>"), lambda _: F.lit(0.0)
    )
    summed = F.aggregate(
        vectors,
        dim_zero,
        lambda acc, v: F.zip_with(acc, v.cast("array<double>"), lambda a, b: a + b),
    )
    return F.when(
        n > 0, F.transform(summed, lambda s: s / n.cast("double"))
    ).otherwise(F.lit(None).cast("array<double>"))


def doc_embedding_from_chunks(
    chunk_embs: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    order_col: str | None = None,
) -> DataFrame:
    """Collapse per-chunk embeddings to one mean-pooled vector per doc.

    collect_list + JVM fold per group: state per key is
    chunks/doc × dim floats — bounded by chunking policy, not corpus
    size, so the single groupBy shuffle is the whole cost at 100 TB.

    Pass `order_col` (e.g. chunk_idx) to SORT the collected chunks
    before the fold: float addition is order-dependent, so without it
    the pooled vector can drift by an ulp between runs/cluster
    layouts (collect_list order is not deterministic).  With it the
    result is bit-stable and oracle-checkable.  Pooling WITHOUT an
    order column emits a RuntimeWarning so nondeterminism is never
    silent on the default path.
    """
    if order_col is None:
        import warnings

        warnings.warn(
            "doc_embedding_from_chunks called without order_col: "
            "collect_list order is nondeterministic, so pooled vectors "
            "may drift by an ulp between runs — pass order_col (e.g. "
            "chunk_idx) for bit-stable output.",
            RuntimeWarning,
            stacklevel=2,
        )
        agg = F.collect_list(F.col(vec_col)).alias("_chunks")
        chunks: Column = F.col("_chunks")
    else:
        agg = F.sort_array(
            F.collect_list(
                F.struct(F.col(order_col).alias("o"), F.col(vec_col).alias("v"))
            )
        ).alias("_chunks")
        chunks = F.transform(F.col("_chunks"), lambda s: s["v"])
    return (
        chunk_embs.groupBy(id_col)
        .agg(agg)
        .select(F.col(id_col), mean_pool(chunks).alias(vec_col))
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: tuple,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = 100_000,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    embeddings are partitioned by their nearest k-means centroid and
    pairwise cosine runs INSIDE each cluster only — the semantic
    analog of LSH blocking, with the cluster structure doing the
    candidate pruning.

    Returns (id_a, id_b, cos_sim, centroid_id) for intra-cluster pairs
    with cos ≥ threshold.

    Scale shape: one assignment pass (Arrow matmul per batch) and one
    equi-join on centroid_id — cost Σ c_i² over cluster sizes, which
    nlist controls (at 100 TB you pick nlist so E[c] ≈ 10⁴-10⁵).  A
    degenerate corpus (everything in one cluster) would still quadratic
    up, so clusters larger than `max_cluster_size` are dropped from
    pairing with a warning count in the plan's debug name — same
    recall/cost escape hatch as ngram_jaccard_pairs' max_gram_df.
    """
    assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    if max_cluster_size is not None:
        sizes = assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("_csz"))
        assigned = assigned.join(
            F.broadcast(sizes.filter(F.col("_csz") <= max_cluster_size)), "centroid_id"
        ).drop("_csz")
    a = assigned.select(
        F.col("centroid_id"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
    )
    b = assigned.select(
        F.col("centroid_id"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
    )
    sim = F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6)
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cos_sim"), "centroid_id")
        .filter(F.col("cos_sim") >= threshold)
    )


def embed_hashed_ngrams(
    docs: DataFrame,
    *,
    dim: int = 64,
    ngram: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Deterministic text embeddings by the hashing trick (Weinberger
    et al. 2009): each word n-gram hashes to a bucket with a ±1 sign,
    the doc vector is the signed bucket-count histogram, optionally
    L2-normalized.  No model, no training, no external weights — the
    self-contained way to CREATE the `embedding` column the dense tier
    (cosine_topk / semantic_dedup / IVF / PQ / RRF hybrid) consumes,
    so raw text flows end-to-end through hybrid search with zero
    dependencies.

    Spark shape: one mapInPandas pass — one md5 per gram (bucket from
    the first 8 hex digits, sign from the 9th) + one signed bincount
    per doc, so per-doc cost is O(grams) and independent of dim.  An
    in-row JVM fold (md5-bucket transform, then a signed-count fold
    per bucket) computes the same vectors but costs O(dim·grams)
    lambda steps per doc — 3-6× slower at dim 32-64 and 96× at dim
    1024 (PLANS.md); tests keep it as the independent reference.
    Bucket counts are exact integers, the squared-norm sum of exact
    integers is exact in float64 in ANY order, and the one
    divide-then-cast-to-float32 is a single IEEE op, so the vectors
    are bit-reproducible (tokenization twins assume the corpus
    convention — whitespace tokens, ASCII-ish text).  No explode, no
    shuffle.  Same ids in, one (id, embedding array<float>) row out —
    schema-compatible with embeddings.parquet."""
    if dim < 2:
        raise ValueError("dim must be ≥ 2")
    import hashlib
    import math

    from pyspark.sql import types as T

    from .retrieval import terms_py

    id_field = docs.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches):
        for pdf in batches:
            embs = []
            for text in pdf[text_col]:
                v = np.zeros(dim, dtype=np.int64)
                for g in terms_py(text, ngram):
                    hx = hashlib.md5(g.encode("utf-8")).hexdigest()
                    b = int(hx[:8], 16) % dim
                    v[b] += 1 if int(hx[8], 16) % 2 == 0 else -1
                if normalize:
                    # Σv² over exact int64 is exact in float64 in any
                    # order (every partial sum is an integer < 2⁵³)
                    norm = math.sqrt(float(np.sum(v.astype(np.float64) ** 2)))
                    out = (
                        (v / norm).astype(np.float32)
                        if norm > 0
                        else v.astype(np.float32)
                    )
                else:
                    out = v.astype(np.float32)
                embs.append([float(x) for x in out])
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": embs})

    return spread(docs, id_col).select(F.col(id_col), F.col(text_col)).mapInPandas(
        run, schema
    )


def cluster_exemplars(
    assigned: DataFrame,
    centroids: tuple,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k exemplar vectors per k-means cluster: the members with
    the highest cosine to their OWN centroid — the vector-side
    companion to curation.cluster_topics' term view ("show me this
    cluster's most central documents").

    Takes a persisted/pinned `ivf_assign` output, so the corpus is
    never re-assigned.  The trainers emit L2-normalized centroids, so
    cosine = dot(vec, centroid)/|vec| — the same round-6 expression
    the SemDeDup oracle replays.  Ranking runs per cluster
    (WindowGroupLimit; partition size = cluster size) with an id
    tiebreak.  Returns (centroid_id, id, centroid_sim, rnk)."""
    cids, cm = centroids
    spark = assigned.sparkSession
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in vec]) for c, vec in zip(cids, cm)],
        "centroid_id int, _cvec array<double>",
    )
    sim = F.round(
        dot(F.col(vec_col), F.col("_cvec")) / l2_norm(F.col(vec_col)), 6
    )
    scored = assigned.join(F.broadcast(cent_df), "centroid_id").select(
        "centroid_id", F.col(id_col).alias("id"), sim.alias("centroid_sim")
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.col("centroid_sim").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("centroid_id", "id", "centroid_sim", "rnk")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: tuple,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = 100_000,
    score_col: str | None = None,
) -> DataFrame:
    """Full SemDeDup: cluster-blocked cosine pairs → connected
    components (label rounds, then star contraction) → one canonical
    survivor per semantic-duplicate group (lowest id).

    Output: input rows + (cluster_id, is_canonical); filter
    is_canonical for the deduplicated corpus.  Components run over the
    pair graph only; the corpus is touched once for assignment and once
    for the final survivor join — the same two-touch contract as
    dedup.dedup_survivors.
    """
    from .dedup import dedup_survivors

    pairs = semantic_dedup_pairs(
        df, centroids, threshold=threshold, id_col=id_col, vec_col=vec_col,
        max_cluster_size=max_cluster_size,
    )
    return dedup_survivors(df, pairs, id_col=id_col, score_col=score_col)


# ---------------------------------------------------------------- distributed k-means

# train_ivf_codebook trains on a driver-side capped sample (≤1e5
# vectors) — the right call when a sample suffices.  When the model
# must see EVERY vector (cluster balancing for SemDeDup blocking, or a
# corpus whose modes a sample misses), Lloyd iterations have to run on
# the cluster: assignment is an embarrassingly-parallel codegen map,
# the update is one groupBy(centroid) shuffle of k×(d+1) partial-agg
# cells per task — the classic MLlib shape, but with EXACTLY
# reproducible arithmetic so the pinned-Python oracle can replay it:
#
#   · distances: per-centroid left-fold Σ(x−c)² in float64, dimension
#     order fixed → the JVM and a Python loop produce the same bits;
#     argmin ties break to the lowest centroid id (array_position
#     finds the FIRST minimum).
#   · update: per-dimension sums of floor(x·1e6) as INTEGERS — order-
#     independent across partitions, so the shuffle can combine
#     partials in any order; centroid_j = qsum_j / (count·1e6) is one
#     float64 division replayed identically on the driver and in the
#     oracle.  Empty clusters keep their previous centroid.


# above this many plan literals (k × d), the trainer auto-switches
# from the codegen assignment to the Arrow path — the two paths are
# BIT-IDENTICAL (test_arrow_stats_bit_parity_with_codegen).  Measured
# (PLANS.md, sf0.1 local[32], warm JVM, iters=2): arrow wins from
# k·d ≈ 256 up (k=4·d=64: 1.2 s vs 2.2 s; k=16: 1.7 s vs 6.2 s;
# k=256: 1.5 s vs 39.7 s — the codegen path recompiles O(k·d)
# literals per iteration and past the Janino method limit falls back
# to interpreted eval).  Below the threshold codegen stays: compile
# is negligible there and the plan keeps zero Python workers.
KMEANS_ARROW_LITERALS = 192


def _kmeans_use_arrow(cm: list[list[float]]) -> bool:
    """The one assignment-path rule: Arrow when the centroid matrix
    would put more than KMEANS_ARROW_LITERALS literals in the plan."""
    return len(cm) * len(cm[0]) > KMEANS_ARROW_LITERALS


def kmeans_train_distributed(
    corpus: DataFrame,
    k: int,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed Lloyd k-means over the FULL corpus (squared-L2).

    Init = first k vectors by id (deterministic, the ivf_kmeans_np
    convention).  Per iteration: one job with a single groupBy shuffle
    whose payload is k rows × (d+1) integer cells; the corpus is never
    collected.  Returns (cids, centroid float64 matrix) — the same
    tuple shape train_ivf_codebook returns, pluggable into ivf_assign
    / semantic_dedup (note: those assign by cosine; Lloyd's euclidean
    assignment coincides on L2-normalized inputs).

    Assignment path, picked from k·d (``_kmeans_use_arrow``): up to
    KMEANS_ARROW_LITERALS it embeds the k×d centroid literals in a
    whole-stage-codegen fold — unbeatable at small k·d, but the plan
    recompiles per iteration and explodes at SemDeDup-scale k; above
    it, Arrow batches stream through a numpy pass whose per-element
    float64 op order REPLAYS the codegen fold exactly (see
    _kmeans_iter_stats_arrow — assignments and integer update cells
    are bit-identical, parity-tested).

    Driver traffic per iteration is k×(d+1) longs — independent of
    corpus size, so the loop holds at 100 TB where the capped trainer
    would have to subsample."""
    init_rows = (
        corpus.orderBy(F.col(id_col).asc()).limit(k).select(vec_col).collect()
    )
    if len(init_rows) < k:
        raise ValueError(f"corpus has {len(init_rows)} vectors < k={k}")
    cm = [[float(v) for v in r[vec_col]] for r in init_rows]
    d = len(cm[0])
    for _ in range(iters):
        stats = _kmeans_iter_stats(corpus, cm, vec_col).collect()
        by_cid = {r["cid"]: r for r in stats}
        cm = [
            _kmeans_centroid_update(by_cid.get(c), cm[c], d) for c in range(k)
        ]
    return np.arange(k, dtype=np.int64), np.array(cm, dtype=np.float64)


def _kmeans_iter_stats(
    corpus: DataFrame,
    cm: list[list[float]],
    vec_col: str,
) -> DataFrame:
    """One Lloyd iteration's update aggregate as a DataFrame (the
    trainer collects its ≤k rows): assignment map → groupBy(cid) with
    integer partial-agg cells.  Factored out so test_plans can pin the
    shape — partial aggregation (map-side combine), no Window, no
    join."""
    if _kmeans_use_arrow(cm):
        return _kmeans_iter_stats_arrow(corpus, cm, vec_col)
    d = len(cm[0])
    vec = F.col(vec_col).cast("array<double>")
    cid = _kmeans_assign_col(vec, cm)
    qsums = [
        F.sum(F.floor(F.element_at(F.col("_v"), j + 1) * 1e6).cast("long")).alias(f"q{j}")
        for j in range(d)
    ]
    return (
        corpus.select(cid.alias("cid"), vec.alias("_v"))
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("cnt"), *qsums)
    )


def _kmeans_assign_np(X: "np.ndarray", C: "np.ndarray", block: int = 1024):
    """Nearest-centroid ids for a float64 batch, BIT-IDENTICAL to
    _kmeans_assign_col's codegen fold: per element the distance is the
    same IEEE sequence 0.0 + (x₀−c₀)² + (x₁−c₁)² + … (a d-pass
    vectorized accumulation in dimension order — NOT a GEMM expansion
    ‖x‖²−2x·C+‖c‖², whose different rounding could flip a near-tie
    assignment), and ties break to the FIRST minimum exactly like
    array_position(array_min).  Centroids process in blocks so scratch
    stays n×block floats regardless of k; cross-block ties keep the
    earlier block via the strict < update."""
    n = X.shape[0]
    best = np.full(n, np.inf)
    bestc = np.zeros(n, dtype=np.int64)
    for c0 in range(0, C.shape[0], block):
        Cb = C[c0 : c0 + block]
        acc = np.zeros((n, Cb.shape[0]))
        for j in range(C.shape[1]):
            diff = X[:, j : j + 1] - Cb[None, :, j]
            acc += diff * diff
        barg = acc.argmin(axis=1)  # first minimum within the block
        bmin = acc[np.arange(n), barg]
        upd = bmin < best  # strict: earlier block wins exact ties
        best[upd] = bmin[upd]
        bestc[upd] = barg[upd] + c0
    return bestc


def _kmeans_iter_stats_arrow(
    corpus: DataFrame, cm: list[list[float]], vec_col: str
) -> DataFrame:
    """Arrow-path twin of the codegen _kmeans_iter_stats: one
    mapInPandas pass emits per-batch partial (cid, cnt, q0..q{d-1})
    cells (≤ batch-distinct cids per batch, never k×batches), then one
    groupBy(cid) long-sum — order-free integer merge, so the result is
    bit-identical to the codegen path (parity-tested).  No centroid
    literals ever enter a Spark plan: k×d ships once as a pickled
    numpy array, and per-iteration cost has no codegen recompile."""
    from pyspark.sql import types as T

    C = np.array(cm, dtype=np.float64)
    k, d = C.shape
    qcols = [f"q{j}" for j in range(d)]
    schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType()),
            T.StructField("cnt", T.LongType()),
            *[T.StructField(q, T.LongType()) for q in qcols],
        ]
    )

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cids = _kmeans_assign_np(X, C)
            # floor(x·1e6) in float64 — the exact codegen expression
            Q = np.floor(X * 1e6).astype(np.int64)
            uniq, inv = np.unique(cids, return_inverse=True)
            qs = np.zeros((uniq.size, d), dtype=np.int64)
            np.add.at(qs, inv, Q)
            out = pd.DataFrame(
                {
                    "cid": uniq.astype(np.int32),
                    "cnt": np.bincount(inv).astype(np.int64),
                }
            )
            for j in range(d):
                out[qcols[j]] = qs[:, j]
            yield out

    partials = corpus.select(
        F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(run, schema)
    return partials.groupBy("cid").agg(
        F.sum("cnt").alias("cnt"), *[F.sum(q).alias(q) for q in qcols]
    )


def _kmeans_assign_col(vec: Column, cm: list[list[float]]) -> Column:
    """Nearest-centroid id as a pure codegen column: per-centroid
    left-fold Σ(x−c)² (fixed dimension order → reproducible bits),
    first-minimum tie-break via array_position."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(v)) for v in c]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            for c in cm
        ]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def kmeans_assign_df(
    df: DataFrame,
    cm: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid) assignment of a corpus against fixed centroids, with
    the same codegen/arrow dispatch as the trainer — both paths
    bit-identical (see _kmeans_assign_np)."""
    vec = F.col(vec_col).cast("array<double>")
    if not _kmeans_use_arrow(cm):
        return df.select(F.col(id_col), _kmeans_assign_col(vec, cm).alias("cid"))
    from pyspark.sql import types as T

    C = np.array(cm, dtype=np.float64)
    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("cid", T.IntegerType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cid": _kmeans_assign_np(X, C).astype(np.int32),
                }
            )

    return df.select(F.col(id_col), vec.alias(vec_col)).mapInPandas(run, schema)


def _kmeans_centroid_update(row, prev: list[float], d: int) -> list[float]:
    """One centroid from its aggregated (cnt, Σfloor(x·1e6)) cells —
    float64 division on the driver, shared verbatim by the oracle
    replay.  None/empty → keep the previous centroid."""
    if row is None or row["cnt"] == 0:
        return list(prev)
    n = row["cnt"]
    return [row[f"q{j}"] / (n * 1e6) for j in range(d)]


def kmeans_lloyd_replay(vecs: list[tuple[int, list[float]]], k: int, iters: int = 4):
    """Pure-Python twin of kmeans_train_distributed for the pinned-
    model oracle (queries._semdedup_oracle_sql 'km' rows) and the
    equivalence pytest: same init, the same left-fold float64 distance
    sequence, the same floor(x·1e6) integer sums.  Returns
    (centroid matrix as lists, {id: cid} final assignment)."""
    import math

    ordered = sorted(vecs, key=lambda r: r[0])
    if len(ordered) < k:
        raise ValueError(f"corpus has {len(ordered)} vectors < k={k}")
    cm = [[float(v) for v in ordered[c][1]] for c in range(k)]
    d = len(cm[0])
    assign: dict[int, int] = {}
    for _ in range(iters):
        cnts = [0] * k
        qsums = [[0] * d for _ in range(k)]
        for vid, v in ordered:
            dists = []
            for c in cm:
                acc = 0.0
                for j in range(d):
                    x = float(v[j]) - c[j]
                    acc = acc + x * x
                dists.append(acc)
            cid = dists.index(min(dists))
            assign[vid] = cid
            cnts[cid] += 1
            for j in range(d):
                qsums[cid][j] += math.floor(float(v[j]) * 1e6)
        cm = [
            [qsums[c][j] / (cnts[c] * 1e6) for j in range(d)] if cnts[c] else list(cm[c])
            for c in range(k)
        ]
    # final assignment against the FINAL centroids (what ivf_assign /
    # the gate's assignment pass sees)
    for vid, v in ordered:
        dists = []
        for c in cm:
            acc = 0.0
            for j in range(d):
                x = float(v[j]) - c[j]
                acc = acc + x * x
            dists.append(acc)
        assign[vid] = dists.index(min(dists))
    return cm, assign


def kmeans_state(cm, cnts, qsums):
    """Cluster-state triple for ROLLING k-means: (float64 centroid
    rows, per-cluster point counts, per-cluster integer
    floor(x·1e6)-sum cells).  The integer cells are the exact
    sufficient statistic: merging two states is element-wise long
    addition, so shards can be absorbed in any order with bit-identical
    results."""
    return [list(c) for c in cm], list(cnts), [list(q) for q in qsums]


def kmeans_state_df(spark, state) -> DataFrame:
    """Persistable form of the cluster state: one row per cluster
    (cid, cnt, qsum array<long>, centroid array<double>) — k rows, a
    few KB; write to the lake next to the fingerprint indexes."""
    cm, cnts, qsums = state
    rows = [
        (c, int(cnts[c]), [int(x) for x in qsums[c]], [float(x) for x in cm[c]])
        for c in range(len(cm))
    ]
    return spark.createDataFrame(
        rows, "cid int, cnt long, qsum array<long>, centroid array<double>"
    )


def kmeans_state_from_df(df: DataFrame):
    rows = sorted(df.collect(), key=lambda r: r["cid"])
    return kmeans_state(
        [r["centroid"] for r in rows],
        [r["cnt"] for r in rows],
        [r["qsum"] for r in rows],
    )


def kmeans_update_distributed(
    shard: DataFrame,
    state,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Online k-means for rolling admission: assign a NEW shard to the
    CURRENT centroids (one codegen map + one k×(d+1)-integer-cell
    groupBy — the _kmeans_iter_stats plan), absorb its integer cells
    into the persisted cluster state, and recompute centroids as
    exact running means.  Previously admitted points keep their
    assignment (admission pipelines never revisit history); centroids
    drift as data accrues — classic single-pass online Lloyd.

    Exactness contract matches kmeans_train_distributed: integer cells
    make the merge associative and order-free across shards, so
    shard-at-a-time ≡ all-at-once single iteration from the same
    centroids (asserted in tests and replayed by
    kmeans_update_replay).  Returns (assigned_df, new_state) where
    assigned_df = (id, cid) for the shard against the PRE-update
    centroids."""
    cm, cnts, qsums = state
    d = len(cm[0])
    assigned = kmeans_assign_df(shard, cm, id_col=id_col, vec_col=vec_col)
    stats = _kmeans_iter_stats(shard, cm, vec_col).collect()
    new_cnts = list(cnts)
    new_qsums = [list(q) for q in qsums]
    for r in stats:
        c = r["cid"]
        new_cnts[c] += r["cnt"]
        for j in range(d):
            new_qsums[c][j] += r[f"q{j}"]
    new_cm = [
        [new_qsums[c][j] / (new_cnts[c] * 1e6) for j in range(d)]
        if new_cnts[c]
        else list(cm[c])
        for c in range(len(cm))
    ]
    return assigned, kmeans_state(new_cm, new_cnts, new_qsums)


def kmeans_update_replay(vecs: list[tuple[int, list[float]]], state):
    """Pure-Python twin of kmeans_update_distributed (pinned-oracle /
    equivalence tests): same assignment folds, same integer-cell
    merge.  Returns ({id: cid} against pre-update centroids,
    new_state)."""
    import math

    cm, cnts, qsums = state
    d = len(cm[0])
    assign: dict[int, int] = {}
    new_cnts = list(cnts)
    new_qsums = [list(q) for q in qsums]
    for vid, v in sorted(vecs, key=lambda r: r[0]):
        dists = []
        for c in cm:
            acc = 0.0
            for j in range(d):
                x = float(v[j]) - c[j]
                acc = acc + x * x
            dists.append(acc)
        cid = dists.index(min(dists))
        assign[vid] = cid
        new_cnts[cid] += 1
        for j in range(d):
            new_qsums[cid][j] += math.floor(float(v[j]) * 1e6)
    new_cm = [
        [new_qsums[c][j] / (new_cnts[c] * 1e6) for j in range(d)]
        if new_cnts[c]
        else list(cm[c])
        for c in range(len(cm))
    ]
    return assign, kmeans_state(new_cm, new_cnts, new_qsums)


def kmeans_state_from_training(
    corpus: DataFrame,
    k: int,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train with kmeans_train_distributed, then run ONE more stats
    pass against the final centroids to seed the online state (counts
    + integer cells of the full training corpus)."""
    _cids, cm_arr = kmeans_train_distributed(
        corpus, k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    cm = [list(c) for c in cm_arr]
    d = len(cm[0])
    stats = {r["cid"]: r for r in _kmeans_iter_stats(corpus, cm, vec_col).collect()}
    cnts = [stats[c]["cnt"] if c in stats else 0 for c in range(k)]
    qsums = [
        [stats[c][f"q{j}"] for j in range(d)] if c in stats else [0] * d
        for c in range(k)
    ]
    # running-mean centroids of the seeded state (NOT the trained cm:
    # the state's invariant is centroid = qsum/(cnt·1e6) exactly)
    cm_seed = [
        [qsums[c][j] / (cnts[c] * 1e6) for j in range(d)] if cnts[c] else list(cm[c])
        for c in range(k)
    ]
    return kmeans_state(cm_seed, cnts, qsums)


def semantic_neardup_incremental(
    shard: DataFrame,
    index_assigned: DataFrame,
    centroids: tuple,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = 100_000,
    shard_assigned: DataFrame | None = None,
) -> DataFrame:
    """Incremental SemDeDup: a NEW shard of embeddings against a
    PERSISTED cluster-assigned index (id, vec, centroid_id — the
    ivf_assign output a deployment keeps partitioned by centroid) —
    the semantic member of the incremental family
    (minhash/simhash/phash `_incremental`).  Shard embeddings assign
    once, then pair ONLY against index rows + shard rows in the same
    cluster.  Returns pairs (cos ≥ threshold) touching ≥1 shard
    vector, identical to full-corpus semantic_dedup_pairs restricted
    to the shard (held at driver level by the semdedup gate's 'sinc'
    rows).  Per-shard cost: one assignment pass + equi-join on
    centroid_id against the index's matching partitions — the corpus
    is never re-embedded or re-assigned.

    Pass `shard_assigned` (id, vec, centroid_id) to skip the internal
    assignment — e.g. when the caller already pinned one assignment
    pass for several consumers (the semdedup gate does; Spark
    re-evaluates an Arrow-UDF subtree per union-branch reference)."""
    if shard_assigned is None:
        shard_assigned = ivf_assign(
            shard, centroids, id_col=id_col, vec_col=vec_col
        )
    # cast to double ONCE at the scan — the per-element implicit
    # float→double inside the cosine HOF costs ~50% extra per
    # candidate (measured), and widening is exact so values can't move
    sh = shard_assigned.select(
        "centroid_id",
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    ix = spread(
        index_assigned.select(
            "centroid_id",
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ),
        "id",
    )
    # spread: the index is the STREAMED side of the broadcast join
    # below — a single-file local index would otherwise evaluate every
    # candidate cosine in one task (no-op at scale, where the index
    # has ≥ parallelism files)
    # join SHARD against cluster-mates — never index×index: the join
    # cost is |shard| × mates, which is what 'incremental' must mean
    # (the original union-self-join formulation generated the full
    # quadratic candidate set and filtered afterwards — caught by the
    # sf1 bench, 33 s/steady at 50k vectors)
    if max_cluster_size is not None:
        sizes = (
            ix.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("_ic"))
            .join(
                sh.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("_sc")),
                "centroid_id", "outer",
            )
            .fillna(0, ["_ic", "_sc"])
            .filter(F.col("_ic") + F.col("_sc") <= max_cluster_size)
            .select("centroid_id")
        )
        sh = sh.join(F.broadcast(sizes), "centroid_id")
        ix = ix.join(F.broadcast(sizes), "centroid_id")
    s_a = sh.select(
        "centroid_id", F.col("id").alias("sid"), F.col("vec").alias("svec")
    )
    # BROADCAST THE SHARD, STREAM THE INDEX: the shard is small by
    # definition (one admission batch) while centroid_id has only
    # nlist distinct values — an equi-join shuffled on it collapses to
    # ≤ nlist tasks (Catalyst also pulls the cosine filter into the
    # SMJ condition, so millions of interpreted-HOF cosines evaluate
    # inside those few tasks: measured 92 s for a 1.2k-shard ×
    # 20k-index pairing at sf1 that runs in ~4 s broadcast).  With
    # broadcast(shard), the index is never shuffled and parallelism
    # follows its partitioning — the correct 100 TB shape for
    # shard-vs-persisted-index admission.
    cand_si = ix.select(
        "centroid_id", F.col("id").alias("oid"), F.col("vec").alias("ovec")
    ).join(F.broadcast(s_a), "centroid_id").filter(F.col("sid") != F.col("oid"))
    # sid != oid: an id present in BOTH shard and index (re-admission
    # / crash replay) must not emit a self-pair (cos 1.0) that the
    # survivor election would treat as a duplicate edge
    cand_ss = sh.select(
        "centroid_id", F.col("id").alias("oid"), F.col("vec").alias("ovec")
    ).join(F.broadcast(s_a), "centroid_id").filter(F.col("sid") < F.col("oid"))
    cand = cand_si.unionByName(cand_ss)
    sim = F.round(cosine(F.col("svec"), F.col("ovec")), 6)
    return (
        cand.select(
            F.least("sid", "oid").alias("id_a"),
            F.greatest("sid", "oid").alias("id_b"),
            sim.alias("cos_sim"),
            "centroid_id",
        )
        .filter(F.col("cos_sim") >= threshold)
    )

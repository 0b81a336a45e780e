"""Query registry: every implemented operator from SURVEY.md §2 as a
(PySpark builder, DuckDB oracle SQL) pair over the driver's test
tables (TESTDATA.md).

Names are prefixed with the SURVEY §2 operator id they exercise
(a1, w2, j3, f6, o2, ...) so the inventory can be checked line by
line; the `dedup_*`, `sim_*`, `text_*` entries are the 100 TB
training-data extensions (BASELINE.json north-star).

Column names are aliased identically on both sides — the driver's
compare sorts columns by name and value-hashes.
Both engines run in UTC; floats are rounded at the edges where
accumulation order could differ in the last ulp.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .functions import scoring
from .functions import text as textfn
from .operators import alerts, dedup, relational, similarity, textstats, trends, windows
from .sources import cdc

AS_OF = "2024-01-30 23:00:00"  # inside the events table's 30-day range


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .sources.tables import load_table

    return load_table(spark, name, sf_dir)


_COUNT_CACHE: dict[tuple[str, str], int] = {}


def _table_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Memoized row count of a fixed input table: some queries need the
    cardinality as a literal (e.g. a modulo join key).  The tables are
    read-only test fixtures, so counting once per (sf_dir, table) —
    instead of running a Spark job on every query BUILD — is safe."""
    key = (sf_dir, name)
    if key not in _COUNT_CACHE:
        _COUNT_CACHE[key] = _t(spark, sf_dir, name).count()
    return _COUNT_CACHE[key]


def _hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-grain event counts per event_type — the base aggregate the
    trend operators roll up from (SURVEY §2.4 A3)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))


_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS cnt
FROM events GROUP BY 1, 2
"""

# ---------------------------------------------------------------- sources / scans


def s5_table_scan_projection(spark, sf_dir):
    """S5: projected, filtered scan — filter + pruning push to parquet."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 1000.0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


S5_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 1000.0
"""


def s4_cdc_parse_envelope(spark, sf_dir):
    """S4+P1+P2: synthesize Debezium envelopes from orders, parse with
    the engine's tolerant envelope parser, keep upsert ops, project the
    after-image (sources/cdc.py)."""
    row_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )
    from .util import spread

    raw = spread(_t(spark, sf_dir, "orders")).select(
        F.to_json(
            F.struct(
                F.struct(
                    F.when(F.col("o_orderstatus") == "O", "c")
                    .when(F.col("o_orderstatus") == "F", "u")
                    .otherwise("d")
                    .alias("op"),
                    F.struct(
                        F.col("o_orderkey").alias("id"),
                        F.col("o_totalprice").alias("total"),
                    ).alias("after"),
                    F.struct(F.lit("orders").alias("table")).alias("source"),
                    F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("ts_ms"),
                ).alias("payload")
            )
        ).alias("value")
    )
    parsed = cdc.parse_envelope(raw, row_schema=row_schema)
    kept = cdc.for_table(cdc.upsert_ops(parsed), "orders")
    return cdc.after_image(kept, extra_cols=["op", "ts"]).select(
        "id", "total", "op", F.col("ts").cast("timestamp_ntz").alias("ts")
    )


S4_SQL = """
WITH env AS (
  SELECT CASE o_orderstatus WHEN 'O' THEN 'c' WHEN 'F' THEN 'u' ELSE 'd' END AS op,
         o_orderkey AS id, o_totalprice AS total,
         epoch(o_orderdate) * 1000 AS ts_ms
  FROM orders
)
SELECT id, total, op, make_timestamp(CAST(ts_ms AS BIGINT) * 1000) AS ts
FROM env WHERE op IN ('c', 'r', 'u') AND id IS NOT NULL
"""

# ---------------------------------------------------------------- filters / projections


def p6_dynamic_filter(spark, sf_dir):
    """P6: composable dynamic predicate (equality + LIKE + range),
    built by the QueryFilter operator."""
    part = _t(spark, sf_dir, "part")
    qf = relational.QueryFilter(keyword="blue")
    return part.filter(
        qf.predicate(
            category_col="p_brand",
            title_col="p_name",
            content_col="p_type",
            ts_col="p_size",
            deleted_col=None,
        )
    ).filter(F.col("p_size").between(5, 40) & (F.col("p_retailprice") >= 100.0)).select(
        "p_partkey", "p_name", "p_size", "p_retailprice"
    )


P6_SQL = """
SELECT p_partkey, p_name, p_size, p_retailprice
FROM part
WHERE (lower(p_name) LIKE '%blue%' OR lower(p_type) LIKE '%blue%')
  AND p_size BETWEEN 5 AND 40 AND p_retailprice >= 100.0
"""


def p7_projection_split(spark, sf_dir):
    """P7/F16: DTO-style projection with CSV split → trimmed non-empty
    array (split_csv on a synthesized CSV column)."""
    docs = _t(spark, sf_dir, "documents")
    csv = F.concat_ws(",", F.col("lang"), F.col("source"), F.lit(" "), F.lit(""))
    return docs.select(
        "doc_id",
        # joined string rather than array: engine-independent value
        # representation for the driver's hash compare
        F.array_join(textfn.split_csv(csv), "|").alias("tags"),
        F.size(textfn.split_csv(csv)).alias("n_tags"),
    )


P7_SQL = """
SELECT doc_id,
       coalesce(array_to_string(list_filter(list_transform(string_split(concat_ws(',', lang, source, ' ', ''), ','), x -> trim(x)), x -> x <> ''), '|'), '') AS tags,
       len(list_filter(list_transform(string_split(concat_ws(',', lang, source, ' ', ''), ','), x -> trim(x)), x -> x <> '')) AS n_tags
FROM documents
"""

# ---------------------------------------------------------------- joins


def j1_one_to_many_nested(spark, sf_dir):
    """J1: orders ⋈ lineitem 1:N — child rows nested per parent
    (sorted for determinism)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("line_numbers"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return (
        orders.join(nested, orders.o_orderkey == nested.l_orderkey, "left")
        .select(
            "o_orderkey",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.array_join(
                F.transform(
                    F.coalesce("line_numbers", F.array().cast("array<int>")),
                    lambda x: x.cast("string"),
                ),
                "|",
            ).alias("line_numbers"),
        )
    )


J1_SQL = """
SELECT o_orderkey,
       coalesce(n_lines, 0) AS n_lines,
       coalesce(array_to_string(coalesce(line_numbers, []), '|'), '') AS line_numbers
FROM orders LEFT JOIN (
  SELECT l_orderkey, list(l_linenumber ORDER BY l_linenumber) AS line_numbers,
         count(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
) ON o_orderkey = l_orderkey
"""


def j2_dim_joins(spark, sf_dir):
    """J2: fact ⋈ broadcast dims — customer → nation → region rollup."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = relational.join_dim(
        relational.join_dim(customer, nation, customer.c_nationkey == nation.n_nationkey, "inner"),
        region,
        F.col("n_regionkey") == region.r_regionkey,
        "inner",
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


J2_SQL = """
SELECT r_name, n_name, count(*) AS n_custs, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def j3_anti_join(spark, sf_dir):
    """J3/O7/S14: customers with no orders (dedup-insert anti-join)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return relational.anti_join_new_keys(customer, orders, "c_custkey").select(
        "c_custkey", "c_name"
    )


J3_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def j4_stream_static_enrich(spark, sf_dir):
    """J4: stream–static enrichment join shape — the event stream
    enriched against a broadcast dimension, then aggregated
    (advanced_trend_analyzer.py:238-240's keyed-state lookup as a
    stream-static join)."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        relational.join_dim(ev, cust, "user_id", "inner")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("total_value"))
    )


J4_SQL = """
SELECT c_mktsegment, event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def text_length_stats(spark, sf_dir):
    """Corpus length distribution per language: count, mean chars,
    exact median (percentile with linear interpolation — matches
    DuckDB quantile_cont)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("median_chars"),
    )


TEXT_LENGTH_SQL = """
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
       round(quantile_cont(n_chars, 0.5), 4) AS median_chars
FROM documents GROUP BY lang
"""


def p8_semi_join(spark, sf_dir):
    """P8: suppliers that appear in lineitem (existence predicate)."""
    supplier = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("s_suppkey"))
    return relational.exists_key(supplier, li, "s_suppkey").select("s_suppkey", "s_name")


P8_SQL = """
SELECT s_suppkey, s_name FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
"""


def pj_exists_suite(spark, sf_dir):
    """P8 + J3 existence predicates in one tagged gate ('semi' =
    suppliers appearing in lineitem, 'anti' = customers with no orders
    — the dedup-insert anti-join).  Merged so the registry stays inside
    the driver's 50-row budget while both join forms keep a value-level
    oracle row (the anti branch alone is 0 rows at gate SF — riding
    with the semi branch keeps the gate falsifiable).

    r9 additions, all value-checked: 'link' (Fellegi–Sunter record
    linkage), 'core' (k-core decomposition), 'fzj' (edit-distance
    fuzzy join vs DuckDB's levenshtein cross join), 'fis' (A-priori
    frequent itemsets to k=3 vs explicit self-join SQL), 'lpa'
    (deterministic synchronous label propagation vs the pure-Python
    round replay).  'core', 'fis' and 'lpa' live here rather than a
    bench suite because their loop barriers are correctness
    fixtures, not perf signals.

    r10 'ent': the packaged `resolve_entities` pipeline end to end
    (blocking ∘ scoring ∘ hull ∘ survivor) — the last
    oracle-expressible operator that lacked gate rows.  r10 'hcore':
    a second row set of the same `coreness_hindex` run 'core' uses,
    value-checked against the same matula-beck replay.  r10 'snb':
    sorted-neighborhood blocking vs DuckDB's global row_number
    self-join.  r10 'jw': exact-integer
    Jaro–Winkler over the 'link' pair fixture vs the shared jw_core
    replay.  r11 'snbm': MULTI-PASS sorted neighborhood (two
    independent keys, unordered-pair union with pass count + closest
    gap).  r11 'sdx': American Soundex as a pure column chain, the
    phonetic blocking key, vs the identical chain in DuckDB SQL."""
    semi = p8_semi_join(spark, sf_dir).select(
        F.lit("semi").alias("branch"),
        F.col("s_suppkey").cast("string").alias("key"),
        F.col("s_name").alias("name"),
    )
    anti = j3_anti_join(spark, sf_dir).select(
        F.lit("anti").alias("branch"),
        F.col("c_custkey").cast("string").alias("key"),
        F.col("c_name").alias("name"),
    )
    # r9 'link': Fellegi–Sunter record-linkage scoring over a planted
    # fixture — each customer paired with a perturbed twin (true
    # pairs) and with its key-neighbour (decoys); the m/u log-odds
    # are Python-computed integer micros inlined into BOTH plans, so
    # the score has no libm seam (relational.record_linkage_score)
    cust = _t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("c_acctbal").alias("bal_a"),
    )
    b = cust.select(
        F.col("c_custkey").alias("key_b"),
        F.when(F.col("c_custkey") % 7 == 0,
               F.concat(F.col("c_name"), F.lit("_x")))
        .otherwise(F.col("c_name")).alias("name_b"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment")).alias("seg_b"),
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 1.0)
        .otherwise(F.col("c_acctbal")).alias("bal_b"),
    )
    pairs = a.join(b, F.col("key_a") == F.col("key_b")).unionByName(
        a.join(b, F.col("key_a") + 1 == F.col("key_b"))
    )
    scored = relational.record_linkage_score(
        pairs.withColumnRenamed("name_a", "nm_a")
        .withColumnRenamed("name_b", "nm_b"),
        {"nm": (0.95, 0.01), "seg": (0.9, 0.2), "bal": (0.95, 0.02)},
        upper_micro=5_000_000, lower_micro=0,
    )
    link = scored.select(
        F.lit("link").alias("branch"),
        F.concat_ws(
            "|", F.col("key_a").cast("string"), F.col("key_b").cast("string")
        ).alias("key"),
        F.concat_ws(
            "|", F.col("score_micro").cast("string"), F.col("decision"),
            F.col("n_agree").cast("string"),
            F.col("n_disagree").cast("string"),
            F.col("n_missing").cast("string"),
        ).alias("name"),
    )
    # r10 'jw': exact-integer Jaro–Winkler over the SAME planted pair
    # fixture 'link' scores — the linkage tier's name metric; every
    # pair's jw_ppm value-checked against the shared pure-Python
    # jw_core replayed off-Spark (rational arithmetic floored to ppm
    # once, so both engines land identical integers)
    jwp = relational.jaro_winkler(pairs, "name_a", "name_b").select(
        F.lit("jw").alias("branch"),
        F.concat_ws(
            "|", F.col("key_a").cast("string"), F.col("key_b").cast("string")
        ).alias("key"),
        F.col("jw_ppm").cast("string").alias("name"),
    )
    # r9 'core': k-core decomposition of the thresholded trade graph
    # (graph.coreness_hindex) — hosted HERE rather than in the
    # bench-headline curation_suite because the fixpoint loop's tiny
    # per-round jobs are a correctness fixture, not a perf signal;
    # pinned matula-beck replay in the oracle SQL
    from .operators import graph as graph_ops

    li = _t(spark, sf_dir, "lineitem")
    ordr = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    wedges = (
        li.join(ordr, li.l_orderkey == ordr.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # r13: coreness_hindex, not a peel loop — a peel's ~2 blocking
    # count jobs per (k, round) cost 206 s of BUILD at sf0.01; the
    # fixpoint form builds in ~2 s.  'core' and r10's 'hcore' are two
    # row sets of ONE run, kept so the gate's rows stay as they were;
    # both are value-checked against the same matula-beck replay
    kcore = graph_ops.coreness_hindex(
        wedges.filter(F.col("w") >= 150).select("src", "dst")
    )
    core, hcore = (
        kcore.select(
            F.lit(branch).alias("branch"),
            F.col("node").cast("string").alias("key"),
            F.col("coreness").cast("string").alias("name"),
        )
        for branch in ("core", "hcore")
    )
    # r9 'fzj': edit-distance join (relational.fuzzy_join — q-gram
    # count filter + short length-band lane + capped levenshtein
    # verify, never a cross join) over the document vocabulary vs its
    # first-char-dropped twins: every (word, suffix) pair within 2
    # edits, value-checked against DuckDB's levenshtein cross join
    words = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    suffixes = (
        words.filter(F.length("w") > 1)
        .select(F.expr("substr(w, 2)").alias("wr"))
        .distinct()
    )
    fzj = relational.fuzzy_join(
        words, suffixes, "w", "wr", max_dist=2, q=2
    ).select(
        F.lit("fzj").alias("branch"),
        F.concat_ws("|", "w", "wr").alias("key"),
        F.col("dist").cast("string").alias("name"),
    )
    # r9 'fis': A-priori frequent itemsets up to k=3 over lineitem
    # baskets (item = partkey mod 499, min_support 3 — the L2 level
    # is ~7% of the pair space, so the semi-join pruning actually
    # fires) — hosted HERE like 'core': the level barriers are a
    # correctness fixture, not a perf signal
    from .operators import curation as curation_ops

    fis = curation_ops.frequent_itemsets(
        li.select(
            F.col("l_orderkey").alias("b"),
            (F.col("l_partkey") % 499).alias("it"),
        ),
        "b", "it", min_support=3, max_k=3,
    ).select(
        F.lit("fis").alias("branch"),
        F.col("itemset").alias("key"),
        F.concat_ws(
            "|", F.col("k").cast("string"), F.col("cnt").cast("string"),
            F.col("support_ppm").cast("string"),
        ).alias("name"),
    )
    # r9 'fisr': A-priori phase 2 — one-item-consequent rules from
    # the ms=4 lattice (independent support level from 'fis' so the
    # level filter is exercised at two settings), confidence ≥ 0.3
    # so the rule filter prunes; confidence AND lift value-checked
    fisr = curation_ops.association_rules(
        li.select(
            F.col("l_orderkey").alias("b"),
            (F.col("l_partkey") % 499).alias("it"),
        ),
        "b", "it", min_support=4, min_confidence_ppm=300_000, max_k=3,
    ).select(
        F.lit("fisr").alias("branch"),
        F.concat_ws(">", F.col("antecedent"), F.col("consequent"))
        .alias("key"),
        F.concat_ws(
            "|", F.col("cnt").cast("string"),
            F.col("confidence_ppm").cast("string"),
            F.col("lift_ppm").cast("string"),
        ).alias("name"),
    )
    # r9 'lpa': deterministic synchronous label-propagation
    # communities over the SAME thresholded trade graph as 'core' —
    # 4 fixed rounds (the determinism contract), every node's label
    # value-checked against the pure-Python round replay
    lpa = graph_ops.label_propagation(
        wedges.filter(F.col("w") >= 150).select("src", "dst"),
        n_rounds=4,
    ).select(
        F.lit("lpa").alias("branch"),
        F.col("node").cast("string").alias("key"),
        F.col("label").cast("string").alias("name"),
    )
    # r10 'ent': the PACKAGED entity-resolution pipeline
    # (relational.resolve_entities — fuzzy_join blocking ∘
    # Fellegi–Sunter scoring ∘ transitive hull ∘ min-id survivor) over
    # document text prefixes with lang as the scored field: every
    # record's (entity_id, entity_size, is_canonical) value-checked
    # against a DuckDB levenshtein self-join + the censc RECURSIVE
    # min-label closure; the Σ entity_size = n totality invariant
    # holds on both sides by construction of the same rows
    docs_ent = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("rid"),
        F.expr("substr(text, 1, 16)").alias("nm"),
        F.col("lang"),
    )
    ent = relational.resolve_entities(
        docs_ent, "rid", "nm",
        field_weights={"lang": (0.9, 0.3)}, match_micro=1,
        max_dist=2, q=2,
    ).select(
        F.lit("ent").alias("branch"),
        F.col("rid").cast("string").alias("key"),
        F.concat_ws(
            "|", F.col("entity_id").cast("string"),
            F.col("entity_size").cast("string"),
            F.col("is_canonical").cast("string"),
        ).alias("name"),
    )
    # r10 'snb': sorted-neighborhood blocking (the other classic ER
    # candidate generator) over the same document-prefix records as
    # 'ent' — every (pred, succ, gap) pair within a window of 5 in
    # (key, id) sort order, value-checked against DuckDB's global
    # row_number self-join; deterministic tie-break by id is the
    # cross-engine contract
    snb = relational.sorted_neighborhood_pairs(
        docs_ent.select("rid", F.col("nm").alias("k")), "rid", "k",
        window=5,
    ).select(
        F.lit("snb").alias("branch"),
        F.concat_ws(
            "|", F.col("id_a").cast("string"), F.col("id_b").cast("string")
        ).alias("key"),
        F.col("gap").cast("string").alias("name"),
    )
    # r11 'snbm': MULTI-PASS sorted neighborhood (Hernández–Stolfo §4,
    # the paper's headline deployment) — two independent keys (two
    # disjoint text slices), per-key passes unioned as unordered
    # pairs with pass count and closest gap, value-checked against
    # DuckDB's two row_number self-joins + pair-grain group-by
    docs_m = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("rid"),
        F.expr("substr(text, 1, 16)").alias("k1"),
        F.expr("substr(text, 17, 16)").alias("k2"),
    )
    snbm = relational.sorted_neighborhood_pairs_multi(
        docs_m, "rid", ["k1", "k2"], window=5,
    ).select(
        F.lit("snbm").alias("branch"),
        F.concat_ws(
            "|", F.col("id_a").cast("string"), F.col("id_b").cast("string")
        ).alias("key"),
        F.concat_ws(
            "|", F.col("n_keys").cast("string"),
            F.col("min_gap").cast("string"),
        ).alias("name"),
    )
    # r11 'sdx': American Soundex as a pure column-expression chain —
    # the phonetic blocking key for the linkage tier; every document's
    # code over a text prefix value-checked against the IDENTICAL
    # upper→strip→translate→collapse→drop-first→strip-zeros chain in
    # DuckDB (empty/letterless prefixes land NULL → rendered '∅')
    sdx = _t(spark, sf_dir, "documents").select(
        F.lit("sdx").alias("branch"),
        F.col("doc_id").cast("string").alias("key"),
        F.coalesce(
            relational.soundex_key(F.expr("substr(text, 1, 12)")),
            F.lit("∅"),
        ).alias("name"),
    )
    return (
        semi.unionByName(anti).unionByName(link)
        .unionByName(core).unionByName(hcore).unionByName(fzj)
        .unionByName(fis).unionByName(fisr).unionByName(lpa)
        .unionByName(ent).unionByName(snb).unionByName(snbm)
        .unionByName(sdx).unionByName(jwp)
    )


# r10 'ent' Fellegi–Sunter literals — the IDENTICAL Python
# round(ln·1e6) the Spark operator embeds for {"lang": (0.9, 0.3)}
# (relational.record_linkage_score), inlined into both plans so the
# score has no SQL ln anywhere
_ENT_WA = int(round(__import__("math").log(0.9 / 0.3) * 1_000_000))
_ENT_WD = int(round(__import__("math").log(0.1 / 0.7) * 1_000_000))


def _pj_exists_suite_sql() -> str:
    """semi/anti plus the r9 'link' branch: the Fellegi–Sunter m/u
    log-odds are computed HERE with the same Python round(ln·1e6)
    the Spark operator embeds, then inlined as literals — identical
    integers in both plans, no SQL ln anywhere."""
    import math

    w = {
        f: (int(round(math.log(m / u) * 1_000_000)),
            int(round(math.log((1 - m) / (1 - u)) * 1_000_000)))
        for f, (m, u) in
        {"nm": (0.95, 0.01), "seg": (0.9, 0.2), "bal": (0.95, 0.02)}.items()
    }

    def _fw(field: str, a: str, b: str) -> str:
        wa, wd = w[field]
        return (
            f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0 "
            f"WHEN {a} = {b} THEN {wa} ELSE {wd} END"
        )

    def _fc(cond: str, a: str, b: str) -> str:
        return (
            f"CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL "
            f"AND {cond} THEN 1 ELSE 0 END"
        )

    sc = " + ".join(
        _fw(f, f"{f}_a", f"{f}_b") for f in ("nm", "seg", "bal")
    )
    n_ag = " + ".join(
        _fc(f"{f}_a = {f}_b", f"{f}_a", f"{f}_b")
        for f in ("nm", "seg", "bal")
    )
    n_dis = " + ".join(
        _fc(f"{f}_a <> {f}_b", f"{f}_a", f"{f}_b")
        for f in ("nm", "seg", "bal")
    )
    n_mis = " + ".join(
        f"CASE WHEN {f}_a IS NULL OR {f}_b IS NULL THEN 1 ELSE 0 END"
        for f in ("nm", "seg", "bal")
    )
    return f"""
SELECT 'semi' AS branch, CAST(s_suppkey AS VARCHAR) AS key, s_name AS name FROM ({{P8_SQL}}) s
UNION ALL
SELECT 'anti', CAST(c_custkey AS VARCHAR), c_name FROM ({{J3_SQL}}) a
UNION ALL
SELECT 'link',
       CAST(key_a AS VARCHAR) || '|' || CAST(key_b AS VARCHAR),
       CAST(score AS VARCHAR) || '|' ||
       CASE WHEN score >= 5000000 THEN 'match'
            WHEN score < 0 THEN 'non_match' ELSE 'possible' END
       || '|' || CAST(nag AS VARCHAR) || '|' || CAST(ndis AS VARCHAR)
       || '|' || CAST(nmis AS VARCHAR)
FROM (
  WITH la AS (
    SELECT c_custkey AS key_a, c_name AS nm_a, c_mktsegment AS seg_a,
           c_acctbal AS bal_a
    FROM customer
  ),
  lb AS (
    SELECT c_custkey AS key_b,
           CASE WHEN c_custkey % 7 = 0 THEN c_name || '_x'
                ELSE c_name END AS nm_b,
           CASE WHEN c_custkey % 3 = 0 THEN NULL
                ELSE c_mktsegment END AS seg_b,
           CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1.0
                ELSE c_acctbal END AS bal_b
    FROM customer
  ),
  lpairs AS (
    SELECT * FROM la JOIN lb ON key_a = key_b
    UNION ALL
    SELECT * FROM la JOIN lb ON key_a + 1 = key_b
  )
  SELECT key_a, key_b, {sc} AS score, {n_ag} AS nag,
         {n_dis} AS ndis, {n_mis} AS nmis
  FROM lpairs
) linkrows
UNION ALL
SELECT 'fzj', fa.w || '|' || fb.w,
       CAST(levenshtein(fa.w, fb.w) AS VARCHAR)
FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
      FROM documents) fa,
     (SELECT DISTINCT substr(w, 2) AS w
      FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
            FROM documents) iw
      WHERE length(w) > 1) fb
WHERE levenshtein(fa.w, fb.w) <= 2
UNION ALL
SELECT 'fisr', antecedent || '>' || consequent,
       CAST(cnt AS VARCHAR) || '|' || CAST(conf AS VARCHAR) || '|'
         || CAST(lift AS VARCHAR)
FROM (
  WITH rr0 AS (
    SELECT DISTINCT l_orderkey AS b, l_partkey % 499 AS i FROM lineitem
  ),
  rnb AS (SELECT count(DISTINCT b) AS nb FROM rr0),
  rl1 AS (SELECT i, count(*) AS cnt FROM rr0 GROUP BY i
          HAVING count(*) >= 4),
  rfr AS (SELECT rr0.b, rr0.i FROM rr0 JOIN rl1 ON rr0.i = rl1.i),
  rl2 AS (SELECT a.i AS ia, b.i AS ib, count(*) AS cnt
          FROM rfr a JOIN rfr b ON a.b = b.b AND b.i > a.i
          GROUP BY 1, 2 HAVING count(*) >= 4),
  rl3 AS (SELECT a.i AS ia, b.i AS ib, c.i AS ic, count(*) AS cnt
          FROM rfr a JOIN rfr b ON a.b = b.b AND b.i > a.i
                     JOIN rfr c ON a.b = c.b AND c.i > b.i
          GROUP BY 1, 2, 3 HAVING count(*) >= 4),
  rrules AS (
    SELECT CAST(p.ia AS VARCHAR) AS antecedent,
           CAST(p.ib AS VARCHAR) AS consequent, p.cnt,
           a1.cnt AS acnt, c1.cnt AS ccnt
    FROM rl2 p JOIN rl1 a1 ON a1.i = p.ia JOIN rl1 c1 ON c1.i = p.ib
    UNION ALL
    SELECT CAST(p.ib AS VARCHAR), CAST(p.ia AS VARCHAR), p.cnt,
           a1.cnt, c1.cnt
    FROM rl2 p JOIN rl1 a1 ON a1.i = p.ib JOIN rl1 c1 ON c1.i = p.ia
    UNION ALL
    SELECT CAST(t.ia AS VARCHAR) || '|' || CAST(t.ib AS VARCHAR),
           CAST(t.ic AS VARCHAR), t.cnt, p.cnt, c1.cnt
    FROM rl3 t JOIN rl2 p ON p.ia = t.ia AND p.ib = t.ib
               JOIN rl1 c1 ON c1.i = t.ic
    UNION ALL
    SELECT CAST(t.ia AS VARCHAR) || '|' || CAST(t.ic AS VARCHAR),
           CAST(t.ib AS VARCHAR), t.cnt, p.cnt, c1.cnt
    FROM rl3 t JOIN rl2 p ON p.ia = t.ia AND p.ib = t.ic
               JOIN rl1 c1 ON c1.i = t.ib
    UNION ALL
    SELECT CAST(t.ib AS VARCHAR) || '|' || CAST(t.ic AS VARCHAR),
           CAST(t.ia AS VARCHAR), t.cnt, p.cnt, c1.cnt
    FROM rl3 t JOIN rl2 p ON p.ia = t.ib AND p.ib = t.ic
               JOIN rl1 c1 ON c1.i = t.ia
  )
  SELECT antecedent, consequent, cnt,
         (cnt * 1000000) // acnt AS conf,
         (cnt * (SELECT nb FROM rnb) * 1000000) // (acnt * ccnt) AS lift
  FROM rrules
) fisrrows
WHERE conf >= 300000
UNION ALL
SELECT 'fis', itemset,
       CAST(k AS VARCHAR) || '|' || CAST(cnt AS VARCHAR) || '|' ||
       CAST((cnt * 1000000) // nb AS VARCHAR)
FROM (
  WITH fr0 AS (
    SELECT DISTINCT l_orderkey AS b, l_partkey % 499 AS i FROM lineitem
  ),
  fl1 AS (SELECT i, count(*) AS cnt FROM fr0 GROUP BY i
          HAVING count(*) >= 3),
  ffr AS (SELECT fr0.b, fr0.i FROM fr0 JOIN fl1 ON fr0.i = fl1.i),
  fl2 AS (SELECT a.i AS ia, b.i AS ib, count(*) AS cnt
          FROM ffr a JOIN ffr b ON a.b = b.b AND b.i > a.i
          GROUP BY 1, 2 HAVING count(*) >= 3),
  fl3 AS (SELECT a.i AS ia, b.i AS ib, c.i AS ic, count(*) AS cnt
          FROM ffr a JOIN ffr b ON a.b = b.b AND b.i > a.i
                     JOIN ffr c ON a.b = c.b AND c.i > b.i
          GROUP BY 1, 2, 3 HAVING count(*) >= 3)
  SELECT CAST(i AS VARCHAR) AS itemset, 1 AS k, cnt FROM fl1
  UNION ALL
  SELECT CAST(ia AS VARCHAR) || '|' || CAST(ib AS VARCHAR), 2, cnt FROM fl2
  UNION ALL
  SELECT CAST(ia AS VARCHAR) || '|' || CAST(ib AS VARCHAR) || '|' ||
         CAST(ic AS VARCHAR), 3, cnt FROM fl3
) fisrows, (SELECT count(DISTINCT b) AS nb FROM (
  SELECT DISTINCT l_orderkey AS b FROM lineitem) fb0) fnb
UNION ALL
SELECT 'ent', CAST(rid AS VARCHAR),
       CAST(entity_id AS VARCHAR) || '|' || CAST(entity_size AS VARCHAR)
       || '|' || CAST(is_canonical AS VARCHAR)
FROM (
  WITH RECURSIVE erecs AS (
    SELECT doc_id AS rid, substr(text, 1, 16) AS nm, lang FROM documents
  ),
  eedges0 AS (
    -- blocking: name edit distance <= 2 (fuzzy_join's contract is
    -- exactly levenshtein, its lanes are a cost strategy only);
    -- scoring: the SAME Python-rounded integer log-odds literals the
    -- Spark operator embeds (agree / disagree, NULL contributes 0),
    -- threshold match_micro = 1
    SELECT a.rid AS ra, b.rid AS rb
    FROM erecs a JOIN erecs b ON a.rid < b.rid
    WHERE a.nm IS NOT NULL AND b.nm IS NOT NULL
      AND levenshtein(a.nm, b.nm) <= 2
      AND (CASE WHEN a.lang IS NULL OR b.lang IS NULL THEN 0
                WHEN a.lang = b.lang THEN {_ENT_WA}
                ELSE {_ENT_WD} END) >= 1
  ),
  eedges AS (
    SELECT ra AS src, rb AS dst FROM eedges0
    UNION SELECT rb, ra FROM eedges0
  ),
  ereach(id, lbl) AS (
    SELECT src, src FROM eedges
    UNION
    SELECT e.dst, r.lbl FROM eedges e JOIN ereach r ON e.src = r.id
  ),
  ecomp AS (SELECT id, min(lbl) AS eid FROM ereach GROUP BY id),
  elab AS (
    SELECT r.rid, coalesce(c.eid, r.rid) AS entity_id
    FROM erecs r LEFT JOIN ecomp c ON r.rid = c.id
  )
  SELECT rid, entity_id,
         count(*) OVER (PARTITION BY entity_id) AS entity_size,
         rid = min(rid) OVER (PARTITION BY entity_id) AS is_canonical
  FROM elab
) entrows
UNION ALL
SELECT 'snb', CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR),
       CAST(gap AS VARCHAR)
FROM (
  WITH srecs AS (
    SELECT doc_id AS rid, substr(text, 1, 16) AS k FROM documents
    WHERE text IS NOT NULL
  ),
  srank AS (
    SELECT rid, k, row_number() OVER (ORDER BY k, rid) AS rn FROM srecs
  )
  SELECT a.rid AS id_a, b.rid AS id_b, b.rn - a.rn AS gap
  FROM srank a JOIN srank b ON b.rn - a.rn BETWEEN 1 AND 5
) snbrows
UNION ALL
SELECT 'snbm', CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR),
       CAST(n_keys AS VARCHAR) || '|' || CAST(min_gap AS VARCHAR)
FROM (
  WITH mrecs AS (
    SELECT doc_id AS rid, substr(text, 1, 16) AS k1,
           substr(text, 17, 16) AS k2
    FROM documents
  ),
  mr1 AS (
    SELECT rid, row_number() OVER (ORDER BY k1, rid) AS rn
    FROM mrecs WHERE k1 IS NOT NULL
  ),
  mr2 AS (
    SELECT rid, row_number() OVER (ORDER BY k2, rid) AS rn
    FROM mrecs WHERE k2 IS NOT NULL
  ),
  mp AS (
    SELECT least(a.rid, b.rid) AS id_a, greatest(a.rid, b.rid) AS id_b,
           b.rn - a.rn AS gap
    FROM mr1 a JOIN mr1 b ON b.rn - a.rn BETWEEN 1 AND 5
    UNION ALL
    SELECT least(a.rid, b.rid), greatest(a.rid, b.rid), b.rn - a.rn
    FROM mr2 a JOIN mr2 b ON b.rn - a.rn BETWEEN 1 AND 5
  )
  SELECT id_a, id_b, count(*) AS n_keys, min(gap) AS min_gap
  FROM mp GROUP BY id_a, id_b
) snbmrows
UNION ALL
SELECT 'sdx', CAST(doc_id AS VARCHAR), coalesce(code, '∅')
FROM (
  WITH sdq AS (
    SELECT doc_id,
           regexp_replace(upper(substr(text, 1, 12)),
                          '[^A-Z]', '', 'g') AS u
    FROM documents
  ),
  sdc AS (
    -- DuckDB's RE2 regex has NO backreferences, so the adjacent-
    -- repeat collapse is seven per-digit replaces (≡ (\\d)\1+ → \1)
    SELECT doc_id, u, substr(u, 1, 1) AS first,
           regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(
             translate(translate(u, 'HW', ''),
                       'ABCDEFGIJKLMNOPQRSTUVXYZ',
                       '012301202245501262301202'),
             '00+', '0', 'g'), '11+', '1', 'g'), '22+', '2', 'g'),
             '33+', '3', 'g'), '44+', '4', 'g'), '55+', '5', 'g'),
             '66+', '6', 'g') AS collapsed
    FROM sdq
  ),
  sdd AS (
    SELECT doc_id, u, first,
           translate(CASE WHEN first IN ('H', 'W') THEN collapsed
                          ELSE regexp_replace(collapsed, '^.', '')
                     END, '0', '') AS digits
    FROM sdc
  )
  SELECT doc_id,
         CASE WHEN length(u) = 0 THEN NULL
              ELSE substr(first || digits || '000', 1, 4) END AS code
  FROM sdd
) sdxrows
""".replace("{P8_SQL}", P8_SQL).replace("{J3_SQL}", J3_SQL)


def _pj_exists_suite_sql_full() -> str:
    """The static semi/anti/link SQL + the r9 'core' branch from the
    pinned pure-Python matula-beck replay over the thresholded trade
    graph read off-Spark (the pagerank_replay oracle pattern).
    Lazily built by the registry."""
    import duckdb

    from .operators import graph as graph_ops

    wedges = duckdb.sql(
        f"""SELECT c.c_nationkey, s.s_nationkey, count(*)
        FROM '{_ORACLE_SF_DIR}/lineitem.parquet' l
        JOIN '{_ORACLE_SF_DIR}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
        JOIN '{_ORACLE_SF_DIR}/customer.parquet' c ON o.o_custkey = c.c_custkey
        JOIN '{_ORACLE_SF_DIR}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
    ).fetchall()
    thresholded = [(int(a), int(b)) for a, b, w in wedges if int(w) >= 150]
    kcore = graph_ops.coreness_replay(thresholded)
    cvals = ", ".join(f"({n}, {c})" for n, c in sorted(kcore.items()))
    lpa = graph_ops.label_propagation_replay(thresholded, n_rounds=4)
    lvals = ", ".join(f"({n}, {l})" for n, l in sorted(lpa.items()))
    # r10 'jw': replay the planted link-fixture pairs off-Spark with
    # the SHARED jw_core (rational → floored ppm), inline as VALUES —
    # the coreness_replay pattern; name_b carries the %7 perturbation
    from .operators.relational import jw_core

    names = {
        int(k): n for k, n in duckdb.sql(
            f"SELECT c_custkey, c_name FROM "
            f"'{_ORACLE_SF_DIR}/customer.parquet'"
        ).fetchall()
    }

    def _pert(k: int, n: str) -> str:
        return n + "_x" if k % 7 == 0 else n

    jw_vals = []
    for k in sorted(names):
        for kb in (k, k + 1):
            if kb in names:
                jw_vals.append(
                    f"({k}, {kb}, {jw_core(names[k], _pert(kb, names[kb]))})"
                )
    return _pj_exists_suite_sql() + f"""
UNION ALL
SELECT 'jw', CAST(ka AS VARCHAR) || '|' || CAST(kb AS VARCHAR),
       CAST(jw AS VARCHAR)
FROM (VALUES {', '.join(jw_vals)}) jwv(ka, kb, jw)
UNION ALL
SELECT 'core', CAST(node AS VARCHAR), CAST(coreness AS VARCHAR)
FROM (VALUES {cvals}) kc(node, coreness)
UNION ALL
SELECT 'hcore', CAST(node AS VARCHAR), CAST(coreness AS VARCHAR)
FROM (VALUES {cvals}) hkc(node, coreness)
UNION ALL
SELECT 'lpa', CAST(node AS VARCHAR), CAST(lbl AS VARCHAR)
FROM (VALUES {lvals}) lp(node, lbl)
"""

# ---------------------------------------------------------------- aggregations


def q1_pricing_summary(spark, sf_dir):
    """Flagship (TPC-H Q1 shape): scan-heavy multi-aggregate groupBy —
    the whole-stage-codegen benchmark query."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape — the classic 6-table star join: revenue by
    customer nation where the SUPPLIER IS LOCAL (same nation),
    restricted to one region and a one-year order window.  The
    multi-join muscle of the analytics surface: lineitem⋈orders⋈
    customer⋈supplier are the fact-grain equi-joins, nation/region
    broadcast (plan-asserted), predicates push to the scans.  Revenue
    rounds to 2 decimals AFTER the sum — at corpus scale the sums are
    partial-aggregated doubles, identical shape to Q1."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    ordr = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    return (
        li.join(ordr, li.l_orderkey == ordr.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum("_rev"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def a7_group_count(spark, sf_dir):
    """A7: group-by count (ArticleRepository.java:32-33 shape)."""
    return _t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )


A7_SQL = "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus"


def a8_count_distinct(spark, sf_dir):
    """A8: exact count-distinct (ArticleRepository.java:38-45)."""
    return _t(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


A8_SQL = """
SELECT count(DISTINCT o_custkey) AS n_custs,
       count(DISTINCT o_orderpriority) AS n_priorities
FROM orders
"""


def a9_stats_per_group(spark, sf_dir):
    """A9: per-group count/min/max (ArticleRepository.java:56-65)."""
    return relational.stats_by_group(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderdate"
    )


A9_SQL = """
SELECT o_orderpriority, count(*) AS cnt,
       min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
FROM orders GROUP BY o_orderpriority
"""


def a10_global_max(spark, sf_dir):
    """A10: global max (ArticleRepository.java:50-51)."""
    return _t(spark, sf_dir, "orders").agg(F.max("o_orderdate").alias("max_orderdate"))


A10_SQL = "SELECT max(o_orderdate) AS max_orderdate FROM orders"


def a11_daily_counts(spark, sf_dir):
    """A11: daily counts, newest first, limited
    (ArticleRepository.java:70-79)."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "day", F.date_trunc("day", "o_orderdate")
    )
    return relational.daily_counts(orders, "day", 30)


A11_SQL = """
SELECT date_trunc('day', o_orderdate) AS day, count(*) AS cnt
FROM orders GROUP BY 1 ORDER BY day DESC LIMIT 30
"""


def a_stats_suite(spark, sf_dir):
    """A9 + A11 in one tagged gate (r4 merge: frees a driver budget
    row): per-group count/min/max stats and daily counts desc-limit.

    r5 adds the HLL sketch tier: 'hll' = distinct users per event type
    via the MERGEABLE Datasketches sketch, 'hllm' = the per-type
    sketches UNIONED to a global estimate through sketch.hll_merge.
    At gate cardinalities (≪ sparse-mode promotion) Datasketches HLL
    estimates are EXACT, so both branches value-check against plain
    COUNT(DISTINCT) — the sketch path and the rollup path must land on
    the true number, not merely near it."""
    a9 = a9_stats_per_group(spark, sf_dir)
    ts_fmt = "yyyy-MM-dd HH:mm:ss"
    from .operators import sketch as sketch_ops
    from .operators import stats as stats_ops

    ev = _t(spark, sf_dir, "events")
    # r12: the smoother branches ship rows through the Arrow seam
    # (applyInPandas); project the four columns the kernels and the
    # gate rows actually use BEFORE the boundary (guide §4.1) — the
    # unused user_id/props columns were ~half the serialized bytes.
    # Gate rows are unchanged (they never read the dropped columns).
    ev5 = ev.filter(F.col("event_id") % 5 == 0).select(
        "event_type", "ts", "event_id", "value"
    )
    per_type = sketch_ops.hll_sketches(ev, "user_id", ["event_type"])
    merged = sketch_ops.hll_merge(per_type.select("hll"))
    return _union_all([
        _suite_rows(a9, "a9_cnt", F.col("o_orderpriority"), v_num=F.col("cnt")),
        _suite_rows(a9, "a9_min", F.col("o_orderpriority"),
                    v_str=F.date_format("min_date", ts_fmt)),
        _suite_rows(a9, "a9_max", F.col("o_orderpriority"),
                    v_str=F.date_format("max_date", ts_fmt)),
        _suite_rows(a11_daily_counts(spark, sf_dir), "a11",
                    F.date_format("day", ts_fmt), v_num=F.col("cnt")),
        _suite_rows(per_type, "hll", F.col("event_type"),
                    v_num=F.col("n_distinct")),
        _suite_rows(merged, "hllm", F.lit("all"), v_num=F.col("n_distinct")),
        # r7 'trans' + r9 'sq3'/'path' (r13 fusion): Markov
        # transitions, order-3 sequential patterns and the first-4
        # flow paths all read the same per-user ordered sequence —
        # one collect-sorted-array pass + one tagged groupBy replaces
        # three scans / three user-grain exchanges (guide §2.4)
        _a_seq_rows(spark, sf_dir),
        # r7 'funl': ordered k-step funnel (view → click → purchase):
        # per-step reach counts + exact-ppm conversions, the ordered-
        # progression semantics (step i strictly after step i−1)
        _suite_rows(
            windows.funnel_report(
                ev, ["user_id"], "ts", "event_type",
                ["view", "click", "purchase"],
            ),
            "funl",
            F.concat_ws("|", F.col("step_idx").cast("string"), F.col("step")),
            v_str=F.concat_ws(
                "|", F.col("n_reached").cast("string"),
                F.col("conv_from_first_ppm").cast("string"),
            ),
            v_num=F.col("conv_from_prev_ppm").cast("double"),
        ),
        # r8 'tdiff': snapshot reconciliation between two planted
        # versions of the orders table (deletes %5, inserts %7
        # restored, price bump %3 / status flip %11) — every change
        # row and its NULL-safe per-column drift count value-checked
        _a_tdiff_rows(spark, sf_dir),
        # r8 'scd2': SCD type-2 history from the event change stream —
        # per-user validity intervals with (ts, event_id) ordering,
        # 'purchase' treated as the closing (delete) op
        _a_scd2_rows(spark, sf_dir),
        # r8 'skew': join-skew pre-flight report — per-key
        # multiplicity products for a view×click self-join of the
        # event stream, exact integer output-share ppm (the report
        # you run BEFORE a 100 TB join melts one reducer)
        _a_skew_rows(spark, sf_dir),
        # r8 'mad': robust per-group outliers by median absolute
        # deviation — lower medians are actual data values (exact
        # rank, no interpolation), fence = 3.5·MAD; med/mad encoded
        # as exact cents so no double→string formatting seam
        _a_mad_rows(spark, sf_dir),
        # r8 'prk': exact percentile rank (RANK-based, tie-stable)
        # per event_type — the cross-source score calibration
        # transform, every row's ppm value-checked
        _suite_rows(
            sketch_ops.percentile_rank(ev, "value", ["event_type"]),
            "prk",
            F.col("event_id").cast("string"),
            v_num=F.col("pct_ppm").cast("double"),
        ),
        # r8 'sess': row-level sessionization — every event's
        # (user, 30-min-gap) session ordinal, ts ties broken by
        # event_id; the gap test is integer microseconds
        _suite_rows(
            windows.sessionize(ev, ["user_id"], "ts", 30, ["event_id"]),
            "sess",
            F.col("event_id").cast("string"),
            v_str=F.col("user_id").cast("string"),
            v_num=F.col("session_id").cast("double"),
        ),
        # r8 'sesa': per-session aggregates over the sessionized
        # events — the downstream consumer the sessionize docstring
        # promises co-partitioning for: n_events, distinct types, and
        # exact integer-microsecond duration per (user, session)
        _a_sesa_rows(spark, sf_dir),
        # r8 'gq': exact rank quantiles per group — P25/P50/P95 of
        # value per event_type, values at rank ⌈q·n⌉ (actual data
        # values, the engine's exact quantile pattern)
        _suite_rows(
            sketch_ops.group_quantiles(
                ev, "value", ["event_type"], (250_000, 500_000, 950_000)
            ),
            "gq",
            F.concat_ws("|", F.col("event_type"),
                        F.col("q_ppm").cast("string")),
            v_num=F.col("quantile_value"),
        ),
        # r8 'coh': cohort retention matrix — users grouped by
        # first-activity day, per-offset active share as exact ppm
        _suite_rows(
            windows.cohort_retention(ev, ["user_id"], "ts"),
            "coh",
            F.concat_ws(
                "|", F.date_format("cohort_day", "yyyy-MM-dd"),
                F.col("offset_days").cast("string"),
            ),
            v_str=F.concat_ws(
                "|", F.col("n_active").cast("string"),
                F.col("n_cohort").cast("string"),
            ),
            v_num=F.col("retention_ppm").cast("double"),
        ),
        # r9 'ohlc': hourly OHLC bars of value per event_type —
        # open/close pinned by the packed (ts_us, event_id)
        # min_by/max_by key (HashAggregate, no sort); o/h/l/c are
        # actual data values so parity is exact
        _a_ohlc_rows(spark, sf_dir),
        # r9 'mrks'/'mrkd': merkle anti-entropy summaries — 52-bit
        # md5 digest sums per key-hash bucket over two planted
        # snapshot versions, and the divergent-bucket diff (the step
        # BEFORE snapshot_diff at 100 TB: ship n_buckets rows, then
        # row-diff only divergent buckets)
        _a_mrk_rows(spark, sf_dir),
        # r9 'lerp': linear resample of value per event_type onto the
        # epoch-aligned 6-hour grid — exact integer lerp (sign-safe on
        # decreasing segments), per-segment half-open grid ownership
        # so every grid instant lands exactly once
        _suite_rows(
            windows.resample_interpolate(
                ev, ["event_type"], "ts", "value",
                step_us=21_600_000_000, order_cols=["event_id"],
            ).drop("grid_ts"),
            "lerp",
            F.concat_ws("|", F.col("event_type"),
                        F.col("grid_us").cast("string")),
            v_num=F.col("v_micro").cast("double"),
        ),
        # r9 'hllr': arbitrary-range distinct-count over the HOURLY
        # HLL sketch rollup — the pre-aggregation layer ('hll' proves
        # the per-group sketch, this proves the TABLE: range queries
        # merge KB sketch rows, never rescan events); at gate
        # cardinality the union stays sparse-exact, so it
        # value-checks against plain COUNT(DISTINCT) over the range
        _a_hllr_rows(spark, sf_dir),
        # r9 'funw': the same funnel under a 48-hour conversion
        # DEADLINE pinned to each user's step-0 anchor (ClickHouse
        # windowFunnel semantics, no re-anchoring) — value-checked
        # against the chained-CTE replay with the deadline bound
        _suite_rows(
            windows.funnel_report(
                ev, ["user_id"], "ts", "event_type",
                ["view", "click", "purchase"], max_span="48 hours",
            ),
            "funw",
            F.concat_ws("|", F.col("step_idx").cast("string"), F.col("step")),
            v_str=F.concat_ws(
                "|", F.col("n_reached").cast("string"),
                F.col("conv_from_first_ppm").cast("string"),
            ),
            v_num=F.col("conv_from_prev_ppm").cast("double"),
        ),
        # r9 'twa': time-weighted average of value per event_type —
        # zero-order-hold mean over the irregular series, exact
        # Σ v_micro·Δt_us as DECIMAL(38,0) and sign-safe division
        _a_twa_rows(spark, sf_dir),
        # r9 'scda': point-in-time (as-of) read over the same SCD2
        # history the 'scd2' branch builds — the query the history
        # shape exists to serve, a pure double-bounded filter
        _a_scda_rows(spark, sf_dir),
        # r9 'coo': market-basket co-occurrence over lineitem orders
        # (item = partkey mod 97) — exact support counts + integer-ppm
        # lift vs independence, the association-mining primitive
        _a_coo_rows(spark, sf_dir),
        # r9 'ssj': the stream–stream attribution join's BATCH TWIN —
        # clicks within 30 min after a same-user view, the exact
        # key + two-sided-time-bound condition the watermarked
        # streaming join runs (streaming ≡ batch pinned in
        # tests/test_streaming.py; this row value-checks the
        # condition itself against a DuckDB range join, closing the
        # last oracle-expressible pytest-only operator)
        _a_ssj_rows(spark, sf_dir),
        # r9 'bnfd': Benford first-digit screen over order totals —
        # exact cents quantization, decimal-string digit extraction
        # (no float log10), zero-filled digits, fixed exp_ppm table
        _suite_rows(
            stats_ops.benford_report(
                _t(spark, sf_dir, "orders"), "o_totalprice"
            ),
            "bnfd",
            F.col("digit").cast("string"),
            v_str=F.concat_ws(
                "|", F.col("cnt").cast("string"), F.col("n").cast("string"),
                F.col("obs_ppm").cast("string"),
                F.col("exp_ppm").cast("string"),
            ),
            v_num=F.col("dev_ppm").cast("double"),
        ),
        # r9 'ols'/'olsi'/'olsr': per-type OLS trend of daily event
        # volume — slope/intercept/r² are fixed IEEE expressions over
        # exact DECIMAL co-moments, so the doubles match BITWISE
        # cross-engine (no rounding seam at all)
        *_a_ols_rows(spark, sf_dir),
        # r9 'km': Kaplan–Meier time-to-convert curve (first view →
        # first purchase, censored at last activity) — survival by
        # the per-step integer floor recurrence, replayed by a
        # DuckDB recursive CTE; no exp/ln seam anywhere
        _a_km_rows(spark, sf_dir),
        # r9 'ab': two-proportion A/B report over planted variants
        # (user_id mod 3, conversion = ever purchased) — exact ppm
        # lifts + the pooled-z as a fixed IEEE expression
        _a_ab_rows(spark, sf_dir),
        # r9 'wins': per-type winsorized event values — clamps at
        # exact rank-quantile cuts (actual data values), every row's
        # clamped value checked
        _suite_rows(
            sketch_ops.winsorize(
                _t(spark, sf_dir, "events"), "value", ["event_type"],
                100_000, 900_000,
            ),
            "wins",
            F.col("event_id").cast("string"),
            v_num=F.col("value_w"),
        ),
        # r9 'qn': quantile normalization — every event's value
        # mapped onto the POOLED value distribution by within-type
        # rank (ceiling grid, 1000 cells); outputs are actual pooled
        # data values, checked per row
        _suite_rows(
            sketch_ops.quantile_normalize(
                _t(spark, sf_dir, "events"), "value", ["event_type"],
                n_cuts=1000,
            ),
            "qn",
            F.col("event_id").cast("string"),
            v_num=F.col("value_qn"),
        ),
        # r9 'lagf' + r9 'mode' (r13 fusion): both aggregate events to
        # the (day, event_type) count grain — one shared aggregate
        # feeds the rolling-feature windows and the per-day mode ranks
        *_a_daily_rows(spark, sf_dir),
        # r9 'gaps': inter-session dark spans per user — coverage
        # holes over the t4 session intervals; every gap must exceed
        # the 30-minute session rule BY CONSTRUCTION, and the oracle
        # replays the same running-max/lead windows
        _a_gaps_rows(spark, sf_dir),
        # r9 'ewma': exponential smoothing per event_type (every 5th
        # event id keeps the recursive oracle cheap) — EXACT integer
        # micro recursion, sign-safe truncating division, Arrow
        # kernel vs a DuckDB RECURSIVE CTE replay; ewma + one-step
        # residual both value-checked
        _suite_rows(
            trends.ewma(
                ev5,
                ["event_type"], ["ts", "event_id"], "value", 200_000,
            ),
            "ewma",
            F.col("event_id").cast("string"),
            v_str=F.col("resid_micro").cast("string"),
            v_num=F.col("ewma_micro").cast("double"),
        ),
        # r9 'holt': Holt double-exponential (level + trend) over the
        # same downsampled series — two-state integer recursion,
        # level/trend/forecast all value-checked against the
        # recursive-CTE replay
        _suite_rows(
            trends.holt_smoothing(
                ev5,
                ["event_type"], ["ts", "event_id"], "value",
                250_000, 150_000,
            ),
            "holt",
            F.col("event_id").cast("string"),
            v_str=F.concat_ws(
                "|", F.col("level_micro").cast("string"),
                F.col("trend_micro").cast("string"),
            ),
            v_num=F.col("forecast_micro").cast("double"),
        ),
        # r9 'bkt': one-step-ahead rolling-origin backtest of the
        # EWMA smoother over the same downsampled series — per-type
        # exact integer MAE/bias/MAPE vs the recursive replay + lag
        _suite_rows(
            trends.forecast_backtest(
                ev5,
                ["event_type"], ["ts", "event_id"], "value", 200_000,
            ),
            "bkt",
            F.col("event_type"),
            v_str=F.concat_ws(
                "|", F.col("n_eval").cast("string"),
                F.col("bias_micro").cast("string"),
                F.col("n_mape").cast("string"),
                F.col("mape_ppm").cast("string"),
            ),
            v_num=F.col("mae_micro").cast("double"),
        ),
        # r9 'jprof': JSON payload schema discovery over a planted
        # mixed column (props + malformed/string/nested/bool/null
        # variants by event_id residue) — per-key presence, type
        # shape, cardinality; '__malformed__'/'__null__' totals make
        # the row accounting total
        _suite_rows(
            sketch_ops.json_key_profile(
                ev.withColumn(
                    "_pj",
                    F.when(F.col("event_id") % 7 == 0, F.lit("not json"))
                    .when(
                        F.col("event_id") % 5 == 0,
                        F.concat(
                            F.lit('{"a": "'), F.col("event_type"),
                            F.lit('", "n": '),
                            F.col("user_id").cast("string"), F.lit("}"),
                        ),
                    )
                    .when(
                        F.col("event_id") % 3 == 0,
                        F.lit('{"a": null, "arr": [1, 2], '
                              '"o": {"x": 1}, "b": true}'),
                    )
                    .otherwise(F.col("props")),
                ),
                "_pj",
            ),
            "jprof",
            F.col("key"),
            v_str=F.concat_ws(
                "|", F.col("n_present").cast("string"),
                F.col("n_null").cast("string"),
                F.col("n_numeric").cast("string"),
                F.col("n_bool").cast("string"),
                F.col("n_object").cast("string"),
                F.col("n_array").cast("string"),
                F.col("n_distinct").cast("string"),
            ),
            v_num=F.col("present_ppm").cast("double"),
        ),
        # r9 'attr': u-shaped (40/20/40) multi-touch attribution —
        # purchases credited to view/click touches inside a 12 h
        # lookback; exact ppm credits summing to 1e6 per conversion,
        # unattributed conversions kept as NULL-touch rows
        _suite_rows(
            windows.multi_touch_attribution(
                ev, ["user_id"], "ts", "event_id", "event_type",
                "purchase", ["view", "click"], 720, model="u",
            ),
            "attr",
            F.concat_ws(
                "|", F.col("user_id").cast("string"),
                F.col("conv_id").cast("string"),
                F.coalesce(F.col("touch_id").cast("string"), F.lit("")),
            ),
            v_str=F.concat_ws(
                "|", F.coalesce(F.col("touch_type"), F.lit("")),
                F.col("n_touches").cast("string"),
                F.col("position").cast("string"),
            ),
            v_num=F.col("credit_ppm").cast("double"),
        ),
        # r9 'jse': count-min inner-product self-join-size estimate
        # over lineitem partkey buckets — md5 hash rows replayed
        # bit-for-bit by the oracle, so the ESTIMATE is value-checked
        _suite_rows(
            sketch_ops.join_size_estimate(
                _t(spark, sf_dir, "lineitem").select(
                    (F.col("l_partkey") % 499).alias("k")
                ),
                _t(spark, sf_dir, "lineitem").select(
                    (F.col("l_partkey") % 499).alias("k")
                ),
                "k", width=1024, depth=5,
            ),
            "jse",
            F.col("hash_row").cast("string"),
            v_num=F.col("inner_product").cast("double"),
        ),
    ])


def _a_ols_rows(spark, sf_dir):
    """The three OLS sub-branches over one pinned per-type daily-count
    fit: slope ('ols'), intercept ('olsi'), r² ('olsr').  x is the
    epoch day index (UTC session TZ ≡ DuckDB CAST AS DATE), counts are
    already integers so micro=1 keeps every co-moment exact."""
    from .operators import stats as stats_ops

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("_day")
    ).agg(F.count(F.lit(1)).alias("_y")).select(
        "event_type",
        F.datediff("_day", F.lit("1970-01-01").cast("date")).alias("_x"),
        "_y",
    )
    fit = stats_ops.ols_by_group(
        daily, "_x", "_y", ["event_type"], micro=1
    ).localCheckpoint(eager=True)
    return [
        _suite_rows(fit, "ols", F.col("event_type"),
                    v_str=F.col("n").cast("string"),
                    v_num=F.col("slope")),
        _suite_rows(fit, "olsi", F.col("event_type"),
                    v_num=F.col("intercept")),
        _suite_rows(fit, "olsr", F.col("event_type"),
                    v_num=F.col("r2")),
    ]


def _a_daily_rows(spark, sf_dir):
    """'lagf' + 'mode' fused on their shared grain (r13, guide §2.4):
    both branches aggregate events to (day, event_type) counts — lagf
    then windows per type, mode ranks per day — so the two union legs
    consume ONE `daily` frame and their identical aggregate subtrees
    collapse to a single scan + exchange via ReusedExchange.  Values
    are untouched: lagf's rolling_features sees the same
    (event_type, day, cnt) rows; mode's rank/share core is the SAME
    code (sketch.mode_from_counts) over the same counts — filtering
    NULL types after the aggregate ≡ before it, and event_type is
    already a string so mode_by_group's cast was a no-op."""
    from .operators import sketch as sketch_ops

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    feats = windows.rolling_features(
        daily.select("event_type", "day", "cnt"),
        ["event_type"], "day", "cnt", lags=(1, 2), roll_window=7,
        micro=1,
    )
    lagf = _suite_rows(
        feats, "lagf",
        F.concat_ws("|", F.col("event_type"),
                    F.date_format("day", "yyyy-MM-dd")),
        v_str=F.concat_ws(
            "|",
            F.coalesce(F.col("lag_1").cast("string"), F.lit("-")),
            F.coalesce(F.col("lag_2").cast("string"), F.lit("-")),
            F.col("roll_n").cast("string"),
            F.coalesce(F.col("roll_min").cast("string"), F.lit("-")),
            F.coalesce(F.col("roll_max").cast("string"), F.lit("-")),
        ),
        v_num=F.col("roll_mean_micro").cast("double"),
    )
    mode_counts = daily.filter(F.col("event_type").isNotNull()).select(
        "day", F.col("event_type").alias("value"), "cnt"
    )
    mode = _suite_rows(
        sketch_ops.mode_from_counts(mode_counts, ["day"], 3),
        "mode",
        F.concat_ws(
            "|", F.date_format("day", "yyyy-MM-dd HH:mm:ss"),
            F.col("rank").cast("string"),
        ),
        v_str=F.concat_ws(
            "|", F.col("value"), F.col("cnt").cast("string")
        ),
        v_num=F.col("share_ppm").cast("double"),
    )
    return [lagf, mode]


def _a_seq_rows(spark, sf_dir):
    """'trans' + 'sq3' + 'path' — three reads of the SAME per-user
    (ts, event_id)-ordered event_type sequence — fused into ONE union
    leg (r13, guide §2.4 stacked aggregate, the a12 sentinel pattern
    generalized): collect each user's sorted state array once, derive
    transitions (consecutive 2-slices), order-3 grams (3-slices) and
    the first-4 path from that array, count all three grains in one
    tagged groupBy, and compute every denominator with ONE window
    whose key degrades per tag (per-from for 'trans', per-prefix for
    'sq3', all-users for 'path').  Replaces three scans + three
    user-grain exchanges (transition_counts / sequence_ngrams /
    funnel_paths each re-sorting raw events) with one aggregate pass.

    Value-identical because (ts, event_id) is unique, so the sorted
    array IS the window order the operators use, and consecutive
    slices ARE the lag pairs/triples; min_count=1 makes the
    operators' prune a no-op; funnel_paths' total-keys denominator
    equals the sum of path counts.  Pinned row-identical against the
    three operators by tests/test_windows_r9.py::
    test_a_seq_fusion_matches_operators and by the oracle gate (the
    oracle SQL is untouched).  The operators remain the public API."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct("ts", "event_id", F.col("event_type").alias("_st"))
            )
        ).alias("_seq")
    ).select(F.transform("_seq", lambda s: s["_st"]).alias("_sts"))
    sts = F.col("_sts")
    n = F.size(sts)
    empty = F.expr(
        "CAST(array() AS array<struct<tag:string,s1:string,s2:string,s3:string>>)"
    )

    def _grams(tag, k):
        cnt = n - F.lit(k - 1)
        zipped = F.arrays_zip(
            *[F.slice(sts, i + 1, cnt).alias(f"t{i}") for i in range(k)]
        )
        return F.when(
            n >= k,
            F.transform(
                zipped,
                lambda g: F.struct(
                    F.lit(tag).alias("tag"),
                    g["t0"].alias("s1"),
                    g["t1"].alias("s2"),
                    (g["t2"] if k == 3 else F.lit(None).cast("string"))
                    .alias("s3"),
                ),
            ),
        ).otherwise(empty)

    path_struct = F.array(F.struct(
        F.lit("p").alias("tag"),
        F.array_join(F.slice(sts, 1, 4), ">").alias("s1"),
        F.least(n, F.lit(4)).cast("string").alias("s2"),
        F.lit(None).cast("string").alias("s3"),
    ))
    tagged = per_user.select(
        F.explode(
            F.concat(_grams("t", 2), _grams("q", 3), path_struct)
        ).alias("_g")
    ).select("_g.tag", "_g.s1", "_g.s2", "_g.s3")
    counts = tagged.groupBy("tag", "s1", "s2", "s3").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wden = Window.partitionBy(
        "tag",
        F.when(F.col("tag") == "p", F.lit("")).otherwise(F.col("s1")),
        F.when(F.col("tag") == "q", F.col("s2")).otherwise(F.lit("")),
    )
    ppm = counts.withColumn("_tot", F.sum("cnt").over(wden)).withColumn(
        "p_ppm", F.expr("CAST(cnt * 1000000 div _tot AS BIGINT)")
    )
    tag = F.col("tag")
    return ppm.select(
        F.when(tag == "t", F.lit("trans"))
        .when(tag == "q", F.lit("sq3"))
        .otherwise(F.lit("path")).alias("suite_case"),
        F.coalesce(
            F.when(tag == "t", F.concat_ws("|", "s1", "s2"))
            .when(tag == "q", F.concat_ws("|", "s1", "s2", "s3"))
            .otherwise(F.col("s1")),
            F.lit(""),
        ).alias("k"),
        F.coalesce(
            F.when(
                tag == "p",
                F.concat_ws("|", F.col("s2"), F.col("cnt").cast("string")),
            ).otherwise(F.col("cnt").cast("string")),
            F.lit(""),
        ).alias("v_str"),
        F.coalesce(F.col("p_ppm").cast("double"), F.lit(-1.0)).alias("v_num"),
    )


def _a_gaps_rows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    sessions = windows.session_window_counts(
        ev, "ts", "user_id", gap="30 minutes"
    )
    gaps = windows.coverage_gaps(
        sessions, ["user_id"], "session_start", "session_end",
        "0 seconds",
    )
    return _suite_rows(
        gaps, "gaps",
        F.concat_ws(
            "|", F.col("user_id").cast("string"),
            F.date_format("gap_start", "yyyy-MM-dd HH:mm:ss"),
        ),
        v_str=F.date_format("gap_end", "yyyy-MM-dd HH:mm:ss"),
        v_num=F.col("gap_us").cast("double"),
    )


def _a_km_rows(spark, sf_dir):
    """Kaplan–Meier gate input: per-user time (hours) from first
    'view' to first strictly-later 'purchase', censored at the last
    observed event — built from one user-grain aggregate."""
    from .operators import stats as stats_ops

    ev = _t(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
        F.max("ts").alias("tl"),
    ).filter(F.col("t0").isNotNull())
    conv = F.col("tp").isNotNull() & (F.col("tp") > F.col("t0"))
    hours = lambda a, b: F.expr(  # noqa: E731
        f"(unix_micros(CAST({a} AS TIMESTAMP)) - "
        f"unix_micros(CAST({b} AS TIMESTAMP))) div 3600000000"
    )
    dur = base.select(
        F.when(conv, hours("tp", "t0"))
        .otherwise(hours("tl", "t0")).alias("dur_h"),
        conv.alias("converted"),
    )
    return _suite_rows(
        stats_ops.km_survival(dur, "dur_h", "converted"),
        "km",
        F.col("t").cast("string"),
        v_str=F.concat_ws(
            "|", F.col("n_risk").cast("string"), F.col("d").cast("string"),
            F.col("c_censored").cast("string"),
            F.col("factor_ppm").cast("string"),
        ),
        v_num=F.col("surv_ppm").cast("double"),
    )


def _a_ab_rows(spark, sf_dir):
    from .operators import stats as stats_ops

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", True).otherwise(False)
        ).alias("conv")
    ).select(
        (F.col("user_id") % 3).cast("string").alias("variant"), "conv"
    )
    return _suite_rows(
        stats_ops.abtest_report(units, "variant", "conv", "0"),
        "ab",
        F.col("variant"),
        v_str=F.concat_ws(
            "|", F.col("n").cast("string"), F.col("n_success").cast("string"),
            F.col("n_excluded").cast("string"),
            F.col("cr_ppm").cast("string"),
            F.coalesce(F.col("lift_ppm").cast("string"), F.lit("-")),
            F.coalesce(F.col("rel_lift_ppm").cast("string"), F.lit("-")),
        ),
        v_num=F.coalesce(F.col("z"), F.lit(-999.0)),
    )


def _a_hllr_rows(spark, sf_dir):
    import datetime as _dt

    from .operators import sketch as sketch_ops

    ev = _t(spark, sf_dir, "events")
    roll = sketch_ops.hll_rollup(ev, "user_id", "ts", "hour", ["event_type"])
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = ev.agg(F.min(us).alias("mn"), F.max(us).alias("mx")).first()
    hour_us = 3_600_000_000
    t0 = int(b["mn"]) - int(b["mn"]) % hour_us
    mid = (t0 + int(b["mx"])) // 2
    mid -= mid % hour_us
    fmt = "%Y-%m-%d %H:%M:%S"
    start_s = _dt.datetime.utcfromtimestamp(t0 // 1_000_000).strftime(fmt)
    end_s = _dt.datetime.utcfromtimestamp(mid // 1_000_000).strftime(fmt)
    est = sketch_ops.hll_range_estimate(roll, start_s, end_s, ["event_type"])
    return _suite_rows(
        est, "hllr", F.col("event_type"),
        v_num=F.col("n_distinct").cast("double"),
    )


def _a_twa_rows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return _suite_rows(
        windows.time_weighted_avg(
            ev, ["event_type"], "ts", "value", order_cols=["event_id"]
        ),
        "twa",
        F.col("event_type"),
        v_str=F.concat_ws(
            "|", F.col("n_samples").cast("string"),
            F.col("span_us").cast("string"),
            F.col("weighted_sum").cast("string"),
        ),
        v_num=F.col("twa_micro").cast("double"),
    )


def _a_scda_rows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    chg = ev.select(
        "user_id", "event_type", "value", "event_id", ts_us.alias("ts_us")
    )
    hist = relational.scd2_history(
        chg, ["user_id"], ["ts_us", "event_id"], ["value"],
        op_col="event_type", delete_ops=("purchase",),
    )
    b = ev.agg(F.min(ts_us).alias("mn"), F.max(ts_us).alias("mx")).first()
    t_mid = (int(b["mn"]) + int(b["mx"])) // 2
    return _suite_rows(
        relational.scd2_as_of(hist, t_mid), "scda",
        F.col("user_id").cast("string"),
        v_str=F.concat_ws(
            "|", F.col("effective_from").cast("string"),
            F.coalesce(F.col("effective_to").cast("string"), F.lit("cur")),
        ),
        v_num=F.col("value"),
    )


def _a_coo_rows(spark, sf_dir):
    from .operators import curation

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("b"), (F.col("l_partkey") % 97).alias("it")
    )
    out = curation.cooccurrence_pairs(li, "b", "it", min_pairs=2)
    return _suite_rows(
        out, "coo",
        F.concat_ws("|", F.col("item_a").cast("string"),
                    F.col("item_b").cast("string")),
        v_str=F.concat_ws(
            "|", F.col("n_ab").cast("string"), F.col("n_a").cast("string"),
            F.col("n_b").cast("string"),
        ),
        v_num=F.col("lift_ppm").cast("double"),
    )


def _a_ohlc_rows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bars = windows.ohlc_bars(
        ev, ["event_type"], "ts", "value", "hour", "event_id"
    )
    return bars.selectExpr(
        "event_type", "bucket_start",
        "stack(5, 'o', open, 'h', high, 'l', low, 'c', close,"
        " 'n', CAST(n_rows AS DOUBLE)) AS (fld, v)",
    ).select(
        F.lit("ohlc").alias("suite_case"),
        F.concat_ws(
            "|", F.col("event_type"),
            F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss"),
            F.col("fld"),
        ).alias("k"),
        F.lit("").alias("v_str"),
        F.col("v").alias("v_num"),
    )


def _a_mrk_rows(spark, sf_dir):
    ords = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    k = F.col("o_orderkey")
    snap_old = ords.filter(k % 7 != 0)
    snap_new = (
        ords.filter(k % 5 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(k % 11 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
        )
        .withColumn(
            "cents",
            F.when(k % 3 == 0, F.col("cents") + 100).otherwise(F.col("cents")),
        )
    )
    vcols = ["o_orderstatus", "cents"]
    sa = relational.merkle_summary(snap_old, ["o_orderkey"], vcols, n_buckets=64)
    sb = relational.merkle_summary(snap_new, ["o_orderkey"], vcols, n_buckets=64)
    mrks = _suite_rows(
        sa, "mrks", F.col("bucket").cast("string"),
        v_str=F.col("sum_digest").cast("string"),
        v_num=F.col("n_rows").cast("double"),
    )
    mrkd = _suite_rows(
        relational.merkle_diff(sa, sb), "mrkd",
        F.col("bucket").cast("string"),
        v_str=F.concat_ws(
            "|", F.col("status"),
            F.coalesce(F.col("n_rows_a").cast("string"), F.lit("-")),
            F.coalesce(F.col("n_rows_b").cast("string"), F.lit("-")),
        ),
        v_num=F.lit(-1.0),
    )
    return _union_all([mrks, mrkd])


def _a_ssj_rows(spark, sf_dir):
    from .streaming import pipeline as stream_pipeline

    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    joined = stream_pipeline.stream_stream_join(
        v, c, ["user_id"], max_lag="30 minutes"
    )
    lag_us = F.unix_micros(F.col("ts_r").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    return _suite_rows(
        joined, "ssj",
        F.concat_ws("|", F.col("event_id").cast("string"),
                    F.col("event_id_r").cast("string")),
        v_str=lag_us.cast("string"),
        v_num=F.col("value"),
    )


def _a_tdiff_rows(spark, sf_dir):
    ords = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    snap_old = ords.filter(k % 7 != 0)
    snap_new = ords.filter(k % 5 != 0).select(
        "o_orderkey",
        F.when(k % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(k % 3 == 0, F.col("o_totalprice") + F.lit(1.0))
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    return _suite_rows(
        relational.snapshot_diff(snap_old, snap_new, ["o_orderkey"]),
        "tdiff",
        F.col("o_orderkey"),
        v_str=F.col("change"),
        v_num=F.col("n_changed_cols").cast("double"),
    )


def _a_scd2_rows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    changes = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id", "event_type", "value",
    )
    scd = relational.scd2_history(
        changes, ["user_id"], ["ts_us", "event_id"], ["value"],
        op_col="event_type", delete_ops=("purchase",),
    )
    return _suite_rows(
        scd,
        "scd2",
        F.concat_ws(
            "|", F.col("user_id").cast("string"),
            F.col("effective_from").cast("string"),
        ),
        v_str=F.concat_ws(
            "|",
            F.coalesce(F.col("effective_to").cast("string"), F.lit("cur")),
            F.col("is_current").cast("int").cast("string"),
        ),
        v_num=F.col("value"),
    )


def _a_mad_rows(spark, sf_dir):
    from .operators import sketch as sketch_ops

    out = sketch_ops.mad_outliers(
        _t(spark, sf_dir, "events"), "value", ["event_type"],
        k_milli=3500,
    ).localCheckpoint(eager=False)
    flagged = _suite_rows(
        out, "mad", F.col("event_type"), v_num=F.col("value")
    )
    stats = out.select("event_type", "med", "mad").distinct()
    meds = _suite_rows(
        stats, "mads",
        F.concat_ws("|", F.col("event_type"), F.lit("med")),
        v_num=F.col("med"),
    )
    mads = _suite_rows(
        stats, "mads",
        F.concat_ws("|", F.col("event_type"), F.lit("mad")),
        v_num=F.col("mad"),
    )
    return _union_all([flagged, meds, mads])


def _a_sesa_rows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    sess = windows.sessionize(ev, ["user_id"], "ts", 30, ["event_id"])
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    agg = (
        sess.withColumn("_us", ts_us)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            (F.max("_us") - F.min("_us")).alias("dur_us"),
        )
    )
    return _suite_rows(
        agg, "sesa",
        F.concat_ws("|", F.col("user_id").cast("string"),
                    F.col("session_id").cast("string")),
        v_str=F.concat_ws("|", F.col("n_events").cast("string"),
                          F.col("n_types").cast("string")),
        v_num=F.col("dur_us").cast("double"),
    )


def _a_skew_rows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    rep = relational.join_skew_report(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
        "user_id", k=20,
    )
    return _suite_rows(
        rep, "skew", F.col("user_id").cast("string"),
        v_str=F.concat_ws(
            "|", F.col("l_cnt").cast("string"),
            F.col("r_cnt").cast("string"),
            F.col("out_rows").cast("string"),
        ),
        v_num=F.col("share_ppm").cast("double"),
    )


A_STATS_SUITE_SQL = f"""
SELECT 'a9_cnt' AS suite_case, o_orderpriority AS k, '' AS v_str, CAST(cnt AS DOUBLE) AS v_num FROM ({A9_SQL}) s1
UNION ALL
SELECT 'a9_min', o_orderpriority, strftime(min_date, '%Y-%m-%d %H:%M:%S'), -1.0 FROM ({A9_SQL}) s2
UNION ALL
SELECT 'a9_max', o_orderpriority, strftime(max_date, '%Y-%m-%d %H:%M:%S'), -1.0 FROM ({A9_SQL}) s3
UNION ALL
SELECT 'a11', strftime(day, '%Y-%m-%d %H:%M:%S'), '', CAST(cnt AS DOUBLE) FROM ({A11_SQL}) s4
UNION ALL
SELECT 'hll', event_type, '', CAST(count(DISTINCT user_id) AS DOUBLE)
FROM events GROUP BY event_type
UNION ALL
SELECT 'hllm', 'all', '', CAST(count(DISTINCT user_id) AS DOUBLE)
FROM events
UNION ALL
SELECT 'trans', from_state || '|' || to_state, CAST(cnt AS VARCHAR),
       CAST((cnt * 1000000) // tot AS DOUBLE)
FROM (
  SELECT from_state, to_state, count(*) AS cnt,
         sum(count(*)) OVER (PARTITION BY from_state) AS tot
  FROM (
    SELECT lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ) AS from_state,
           event_type AS to_state
    FROM events
  ) seq
  WHERE from_state IS NOT NULL
  GROUP BY from_state, to_state
) trows
UNION ALL
SELECT 'funl', CAST(step_idx AS VARCHAR) || '|' || step,
       CAST(n AS VARCHAR) || '|' ||
       CAST(CASE WHEN first_n > 0 THEN (n * 1000000) // first_n ELSE 0 END AS VARCHAR),
       CAST(CASE WHEN prev_n > 0 THEN (n * 1000000) // prev_n ELSE 0 END AS DOUBLE)
FROM (
  WITH fs0 AS (
    SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1
  ),
  fs1 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN fs0 ON e.user_id = fs0.user_id
    WHERE e.event_type = 'click' AND e.ts > fs0.t GROUP BY 1
  ),
  fs2 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN fs1 ON e.user_id = fs1.user_id
    WHERE e.event_type = 'purchase' AND e.ts > fs1.t GROUP BY 1
  ),
  fcounts AS (
    SELECT 0 AS step_idx, 'view' AS step, (SELECT count(*) FROM fs0) AS n
    UNION ALL
    SELECT 1, 'click', (SELECT count(*) FROM fs1)
    UNION ALL
    SELECT 2, 'purchase', (SELECT count(*) FROM fs2)
  )
  SELECT step_idx, step, n,
         first_value(n) OVER (ORDER BY step_idx) AS first_n,
         coalesce(lag(n) OVER (ORDER BY step_idx), n) AS prev_n
  FROM fcounts
) frows
UNION ALL
SELECT 'tdiff', CAST(k AS VARCHAR),
       CASE WHEN NOT in_o THEN 'insert'
            WHEN NOT in_n THEN 'delete' ELSE 'update' END,
       CAST(CASE WHEN in_o AND in_n THEN nch ELSE 0 END AS DOUBLE)
FROM (
  WITH told AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 7 <> 0
  ),
  tnew AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 5 <> 0
  )
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
         o.o_orderkey IS NOT NULL AS in_o,
         n.o_orderkey IS NOT NULL AS in_n,
         (CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 1 ELSE 0 END
          + CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 1 ELSE 0 END) AS nch
  FROM told o FULL OUTER JOIN tnew n ON o.o_orderkey = n.o_orderkey
) drows
WHERE (NOT in_o) OR (NOT in_n) OR nch > 0
UNION ALL
SELECT 'scd2',
       CAST(user_id AS VARCHAR) || '|' || CAST(ts_us AS VARCHAR),
       coalesce(CAST(eto AS VARCHAR), 'cur') || '|' ||
       CAST(CASE WHEN eto IS NULL THEN 1 ELSE 0 END AS VARCHAR),
       CAST(value AS DOUBLE)
FROM (
  SELECT user_id, epoch_us(ts) AS ts_us, event_type, value,
         lead(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC
         ) AS eto
  FROM events
) srows
WHERE event_type <> 'purchase'
UNION ALL
SELECT 'skew', CAST(user_id AS VARCHAR),
       CAST(l_cnt AS VARCHAR) || '|' || CAST(r_cnt AS VARCHAR) ||
       '|' || CAST(out_rows AS VARCHAR),
       CAST((out_rows * 1000000) // tot AS DOUBLE)
FROM (
  SELECT user_id, l_cnt, r_cnt, out_rows, tot
  FROM (
    SELECT l.user_id AS user_id, l.l_cnt, r.r_cnt,
           l.l_cnt * r.r_cnt AS out_rows,
           sum(l.l_cnt * r.r_cnt) OVER () AS tot
    FROM (SELECT user_id, count(*) AS l_cnt FROM events
          WHERE event_type = 'view' GROUP BY 1) l
    JOIN (SELECT user_id, count(*) AS r_cnt FROM events
          WHERE event_type = 'click' GROUP BY 1) r
    ON l.user_id = r.user_id
  ) p
  ORDER BY out_rows DESC, user_id ASC
  LIMIT 20
) skrows
UNION ALL
SELECT suite_case, k, '' AS v_str, v_num
FROM (
  WITH mrows AS (
    SELECT event_type AS g, CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL
  ),
  mrk AS (
    SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY g) AS n
    FROM mrows
  ),
  mmed AS (SELECT g, v AS med FROM mrk WHERE rn = (n + 1) // 2),
  mdev AS (
    SELECT mrows.g, mrows.v, mmed.med, abs(mrows.v - mmed.med) AS d
    FROM mrows JOIN mmed ON mrows.g = mmed.g
  ),
  mdrk AS (
    SELECT g, d, row_number() OVER (PARTITION BY g ORDER BY d) AS rn,
           count(*) OVER (PARTITION BY g) AS n
    FROM mdev
  ),
  mmad AS (SELECT g, d AS mad FROM mdrk WHERE rn = (n + 1) // 2),
  mout AS (
    SELECT mdev.g, mdev.v, mdev.med, mmad.mad
    FROM mdev JOIN mmad ON mdev.g = mmad.g
    WHERE mdev.d * 1000 > 3500 * mmad.mad
  )
  SELECT 'mad' AS suite_case, g AS k, v AS v_num FROM mout
  UNION ALL
  SELECT DISTINCT 'mads', g || '|med', med FROM mout
  UNION ALL
  SELECT DISTINCT 'mads', g || '|mad', mad FROM mout
) madrows
UNION ALL
SELECT 'prk', CAST(event_id AS VARCHAR), '',
       CAST(CASE
         WHEN value IS NULL THEN NULL
         WHEN nn > 1 THEN (CAST(rk - 1 AS BIGINT) * 1000000) // (nn - 1)
         ELSE 0 END AS DOUBLE)
FROM (
  SELECT event_id, value,
         CASE WHEN value IS NOT NULL THEN
           rank() OVER (PARTITION BY event_type
                        ORDER BY value ASC NULLS LAST) END AS rk,
         count(value) OVER (PARTITION BY event_type) AS nn
  FROM events
) prkrows
UNION ALL
SELECT 'sess', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
       CAST(sid AS DOUBLE)
FROM (
  SELECT event_id, user_id,
         sum(CASE WHEN prev_us IS NULL
                  OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC
           ) AS prev_us
    FROM events
  ) s
) sessrows
UNION ALL
SELECT 'sesa',
       CAST(user_id AS VARCHAR) || '|' || CAST(sid AS VARCHAR),
       CAST(n_events AS VARCHAR) || '|' || CAST(n_types AS VARCHAR),
       CAST(dur_us AS DOUBLE)
FROM (
  SELECT user_id, sid, count(*) AS n_events,
         count(DISTINCT event_type) AS n_types,
         max(ts_us) - min(ts_us) AS dur_us
  FROM (
    SELECT user_id, event_type, ts_us,
           sum(CASE WHEN prev_us IS NULL
                    OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC
             ) AS prev_us
      FROM events
    ) sb
  ) ss GROUP BY user_id, sid
) sesarows
UNION ALL
SELECT 'coh',
       strftime(cohort_day, '%Y-%m-%d') || '|' ||
       CAST(offset_days AS VARCHAR),
       CAST(n_active AS VARCHAR) || '|' || CAST(n_cohort AS VARCHAR),
       CAST((n_active * 1000000) // n_cohort AS DOUBLE)
FROM (
  WITH cacts AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
  ),
  ccoh AS (SELECT user_id, min(d) AS cohort_day FROM cacts GROUP BY 1),
  csz AS (SELECT cohort_day, count(*) AS n_cohort FROM ccoh GROUP BY 1),
  cact AS (
    SELECT c.cohort_day,
           date_diff('day', c.cohort_day, a.d) AS offset_days,
           count(*) AS n_active
    FROM cacts a JOIN ccoh c USING (user_id)
    GROUP BY 1, 2
  )
  SELECT cact.cohort_day, cact.offset_days, cact.n_active, csz.n_cohort
  FROM cact JOIN csz USING (cohort_day)
) cohrows
UNION ALL
SELECT 'gq', event_type || '|' || CAST(q AS VARCHAR), '',
       CAST(v AS DOUBLE)
FROM (
  SELECT r.event_type, q.q AS q, r.v
  FROM (
    SELECT event_type, value AS v,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE value IS NOT NULL
  ) r
  JOIN (VALUES (250000), (500000), (950000)) q(q)
    ON r.rn = (q.q * r.n + 999999) // 1000000
) gqrows
UNION ALL
SELECT 'ssj',
       CAST(v.event_id AS VARCHAR) || '|' || CAST(c.event_id AS VARCHAR),
       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS VARCHAR),
       CAST(c.value AS DOUBLE)
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, event_id, ts, value FROM events
      WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 30 MINUTE
UNION ALL
SELECT 'lerp', event_type || '|' || CAST(grid_us AS VARCHAR), '',
       CAST(v0 + CASE WHEN num >= 0 THEN num // den
                      ELSE -((-num) // den) END AS DOUBLE)
FROM (
  WITH lsrc AS (
    SELECT event_type, epoch_us(ts) AS t0,
           CAST(round(value * 1000000) AS BIGINT) AS v0, event_id
    FROM events WHERE value IS NOT NULL
  ),
  lseg AS (
    SELECT event_type, t0, v0,
           lead(t0) OVER (PARTITION BY event_type
                          ORDER BY t0 ASC, event_id ASC) AS t1,
           lead(v0) OVER (PARTITION BY event_type
                          ORDER BY t0 ASC, event_id ASC) AS v1,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY t0 ASC, event_id ASC) AS rn
    FROM lsrc
  )
  SELECT s.event_type, g.grid_us, s.v0,
         (s.v1 - s.v0)::HUGEINT * (g.grid_us - s.t0) AS num,
         s.t1 - s.t0 AS den
  FROM lseg s,
       LATERAL unnest(generate_series(
         CASE WHEN s.rn = 1 AND s.t0 % 21600000000 = 0 THEN s.t0
              ELSE (s.t0 // 21600000000 + 1) * 21600000000 END,
         (s.t1 // 21600000000) * 21600000000,
         21600000000)) AS g(grid_us)
  WHERE s.t1 IS NOT NULL
) lerprows
UNION ALL
SELECT 'hllr', event_type, '', CAST(nd AS DOUBLE)
FROM (
  WITH hbnd AS (
    SELECT min(epoch_us(ts)) - min(epoch_us(ts)) % 3600000000 AS t0us,
           max(epoch_us(ts)) AS mxus
    FROM events
  ),
  hrng AS (
    SELECT t0us,
           ((t0us + mxus) // 2) - ((t0us + mxus) // 2) % 3600000000 AS midus
    FROM hbnd
  )
  SELECT e.event_type, count(DISTINCT e.user_id) AS nd
  FROM events e, hrng
  WHERE epoch_us(e.ts) - epoch_us(e.ts) % 3600000000 >= hrng.t0us
    AND epoch_us(e.ts) - epoch_us(e.ts) % 3600000000 < hrng.midus
  GROUP BY 1
) hllrrows
UNION ALL
SELECT 'funw', CAST(step_idx AS VARCHAR) || '|' || step,
       CAST(n AS VARCHAR) || '|' ||
       CAST(CASE WHEN first_n > 0 THEN (n * 1000000) // first_n ELSE 0 END AS VARCHAR),
       CAST(CASE WHEN prev_n > 0 THEN (n * 1000000) // prev_n ELSE 0 END AS DOUBLE)
FROM (
  WITH fw0 AS (
    SELECT user_id, min(ts) AS t0 FROM events
    WHERE event_type = 'view' GROUP BY 1
  ),
  fw1 AS (
    SELECT e.user_id, fw0.t0, min(e.ts) AS t
    FROM events e JOIN fw0 ON e.user_id = fw0.user_id
    WHERE e.event_type = 'click' AND e.ts > fw0.t0
      AND e.ts <= fw0.t0 + INTERVAL 48 HOUR
    GROUP BY 1, 2
  ),
  fw2 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN fw1 ON e.user_id = fw1.user_id
    WHERE e.event_type = 'purchase' AND e.ts > fw1.t
      AND e.ts <= fw1.t0 + INTERVAL 48 HOUR
    GROUP BY 1
  ),
  fwcounts AS (
    SELECT 0 AS step_idx, 'view' AS step, (SELECT count(*) FROM fw0) AS n
    UNION ALL
    SELECT 1, 'click', (SELECT count(*) FROM fw1)
    UNION ALL
    SELECT 2, 'purchase', (SELECT count(*) FROM fw2)
  )
  SELECT step_idx, step, n,
         first_value(n) OVER (ORDER BY step_idx) AS first_n,
         coalesce(lag(n) OVER (ORDER BY step_idx), n) AS prev_n
  FROM fwcounts
) fwrows
UNION ALL
SELECT 'twa', event_type,
       CAST(n AS VARCHAR) || '|' || CAST(span AS VARCHAR)
         || '|' || CAST(wsum AS VARCHAR),
       CAST(CASE WHEN span > 0 THEN
              CASE WHEN wsum >= 0 THEN wsum // span
                   ELSE -((-wsum) // span) END
            ELSE v0 END AS DOUBLE)
FROM (
  WITH tsrc AS (
    SELECT event_type, epoch_us(ts) AS us, event_id,
           CAST(round(value * 1000000) AS BIGINT) AS vm
    FROM events WHERE value IS NOT NULL
  ),
  tseg AS (
    SELECT event_type, us, vm,
           lead(us) OVER (
             PARTITION BY event_type ORDER BY us ASC, event_id ASC
           ) AS nxt
    FROM tsrc
  )
  SELECT event_type, count(*) AS n, max(us) - min(us) AS span,
         coalesce(sum(CASE WHEN nxt IS NOT NULL
                           THEN vm::HUGEINT * (nxt - us) END), 0) AS wsum,
         min(vm) AS v0
  FROM tseg GROUP BY 1
) twarows
UNION ALL
SELECT 'scda', CAST(user_id AS VARCHAR),
       CAST(efrom AS VARCHAR) || '|' || coalesce(CAST(eto AS VARCHAR), 'cur'),
       CAST(value AS DOUBLE)
FROM (
  WITH stmid AS (
    SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS t FROM events
  ),
  shist AS (
    SELECT user_id, epoch_us(ts) AS efrom, event_type, value,
           lead(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC
           ) AS eto
    FROM events
  )
  SELECT h.user_id, h.efrom, h.eto, h.value
  FROM shist h, stmid
  WHERE h.event_type <> 'purchase'
    AND h.efrom <= stmid.t AND (h.eto IS NULL OR h.eto > stmid.t)
) scdarows
UNION ALL
SELECT 'coo', CAST(ia AS VARCHAR) || '|' || CAST(ib AS VARCHAR),
       CAST(n_ab AS VARCHAR) || '|' || CAST(na2 AS VARCHAR)
         || '|' || CAST(nb3 AS VARCHAR),
       CAST((cn::HUGEINT * n_ab * 1000000) // (na2::HUGEINT * nb3) AS DOUBLE)
FROM (
  WITH citems AS (
    SELECT DISTINCT l_orderkey AS b, l_partkey % 97 AS it FROM lineitem
  ),
  ccnt AS (SELECT it, count(*) AS n_i FROM citems GROUP BY 1),
  ctot AS (SELECT count(DISTINCT b) AS n FROM citems),
  cp AS (
    SELECT a.it AS ia, b.it AS ib, count(*) AS n_ab
    FROM citems a JOIN citems b ON a.b = b.b AND a.it < b.it
    GROUP BY 1, 2
    HAVING count(*) >= 2
  )
  SELECT cp.ia, cp.ib, cp.n_ab, ca.n_i AS na2, cb.n_i AS nb3, ctot.n AS cn
  FROM cp
  JOIN ccnt ca ON ca.it = cp.ia
  JOIN ccnt cb ON cb.it = cp.ib, ctot
) coorows
UNION ALL
SELECT 'ohlc', k, '', v
FROM (
  WITH osrc AS (
    SELECT event_type, date_trunc('hour', ts) AS b, value,
           epoch_us(ts)::HUGEINT * 18446744073709551616::HUGEINT
             + event_id AS pk
    FROM events WHERE value IS NOT NULL
  ),
  obars AS (
    SELECT event_type || '|' || strftime(b, '%Y-%m-%d %H:%M:%S') AS bk,
           arg_min(value, pk) AS o, max(value) AS h, min(value) AS l,
           arg_max(value, pk) AS c, CAST(count(*) AS DOUBLE) AS n
    FROM osrc GROUP BY event_type, b
  )
  SELECT bk || '|o' AS k, o AS v FROM obars
  UNION ALL SELECT bk || '|h', h FROM obars
  UNION ALL SELECT bk || '|l', l FROM obars
  UNION ALL SELECT bk || '|c', c FROM obars
  UNION ALL SELECT bk || '|n', n FROM obars
) orows
UNION ALL
SELECT suite_case, k, v_str, v_num
FROM (
  WITH mbase AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
  ),
  mold AS (SELECT * FROM mbase WHERE o_orderkey % 7 <> 0),
  mnew AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN 'X'
                ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 3 = 0 THEN cents + 100
                ELSE cents END AS cents
    FROM mbase WHERE o_orderkey % 5 <> 0
  ),
  msuma AS (
    SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13))
                AS BIGINT) % 64 AS bucket,
           count(*) AS n_rows,
           sum(CAST(('0x' || substr(md5(
                 CAST(o_orderkey AS VARCHAR) || chr(31) || o_orderstatus
                 || chr(31) || CAST(cents AS VARCHAR)), 1, 13))
               AS BIGINT)::HUGEINT) AS sum_digest
    FROM mold GROUP BY 1
  ),
  msumb AS (
    SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13))
                AS BIGINT) % 64 AS bucket,
           count(*) AS n_rows,
           sum(CAST(('0x' || substr(md5(
                 CAST(o_orderkey AS VARCHAR) || chr(31) || o_orderstatus
                 || chr(31) || CAST(cents AS VARCHAR)), 1, 13))
               AS BIGINT)::HUGEINT) AS sum_digest
    FROM mnew GROUP BY 1
  )
  SELECT 'mrks' AS suite_case, CAST(bucket AS VARCHAR) AS k,
         CAST(sum_digest AS VARCHAR) AS v_str,
         CAST(n_rows AS DOUBLE) AS v_num
  FROM msuma
  UNION ALL
  SELECT 'mrkd', CAST(coalesce(a.bucket, b.bucket) AS VARCHAR),
         (CASE WHEN a.bucket IS NULL THEN 'missing_a'
               WHEN b.bucket IS NULL THEN 'missing_b'
               ELSE 'diff' END)
         || '|' || coalesce(CAST(a.n_rows AS VARCHAR), '-')
         || '|' || coalesce(CAST(b.n_rows AS VARCHAR), '-'),
         -1.0
  FROM msuma a FULL OUTER JOIN msumb b ON a.bucket = b.bucket
  WHERE a.bucket IS NULL OR b.bucket IS NULL
     OR a.n_rows <> b.n_rows OR a.sum_digest <> b.sum_digest
) mrkrows
UNION ALL
SELECT 'bnfd', CAST(digit AS VARCHAR),
       CAST(cnt AS VARCHAR) || '|' || CAST(n AS VARCHAR) || '|' ||
       CAST(obs_ppm AS VARCHAR) || '|' || CAST(exp_ppm AS VARCHAR),
       CAST(obs_ppm - exp_ppm AS DOUBLE)
FROM (
  WITH bnx AS (
    SELECT abs(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
    FROM orders WHERE o_totalprice IS NOT NULL
  ),
  bndg AS (
    SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS INT) AS digit
    FROM bnx WHERE x > 0
  ),
  bnexp AS (
    SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
                          (4, 96910), (5, 79181), (6, 66947),
                          (7, 57992), (8, 51153), (9, 45757))
           AS e(digit, exp_ppm)
  ),
  bncnt AS (
    SELECT e.digit, e.exp_ppm, count(bndg.digit) AS cnt
    FROM bnexp e LEFT JOIN bndg ON bndg.digit = e.digit
    GROUP BY e.digit, e.exp_ppm
  )
  SELECT digit, cnt, sum(cnt) OVER () AS n, exp_ppm,
         CASE WHEN sum(cnt) OVER () > 0
              THEN cnt * 1000000 // sum(cnt) OVER ()
              ELSE 0 END AS obs_ppm
  FROM bncnt
) bnrows
UNION ALL
SELECT suite_case, k, v_str, v_num
FROM (
  WITH odaily AS (
    SELECT event_type AS g,
           datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
           count(*) AS y
    FROM events GROUP BY 1, CAST(ts AS DATE)
  ),
  oag AS (
    SELECT g, count(*)::HUGEINT AS n, sum(x)::HUGEINT AS sx,
           sum(y)::HUGEINT AS sy, sum(x * y)::HUGEINT AS sxy,
           sum(x * x)::HUGEINT AS sxx, sum(y * y)::HUGEINT AS syy
    FROM odaily GROUP BY g
  ),
  ofit AS (
    SELECT g, n,
           n * sxy - sx * sy AS num,
           n * sxx - sx * sx AS vx,
           n * syy - sy * sy AS vy,
           sx, sy
    FROM oag
  ),
  ocols AS (
    SELECT g, n,
           CASE WHEN vx > 0 THEN (num::DOUBLE) / (vx::DOUBLE) END AS slope,
           CASE WHEN vx > 0 THEN
             ((sy::DOUBLE) - (num::DOUBLE) / (vx::DOUBLE) * (sx::DOUBLE))
             / (n::DOUBLE) / 1.0 END AS icept,
           CASE WHEN vx > 0 AND vy > 0 THEN
             ((num::DOUBLE) * (num::DOUBLE))
             / ((vx::DOUBLE) * (vy::DOUBLE)) END AS r2
    FROM ofit
  )
  SELECT 'ols' AS suite_case, g AS k, CAST(n AS VARCHAR) AS v_str,
         coalesce(slope, -1.0) AS v_num
  FROM ocols
  UNION ALL
  SELECT 'olsi', g, '', coalesce(icept, -1.0) FROM ocols
  UNION ALL
  SELECT 'olsr', g, '', coalesce(r2, -1.0) FROM ocols
) olsrows
UNION ALL
SELECT 'km', CAST(t AS VARCHAR),
       CAST(n AS VARCHAR) || '|' || CAST(d AS VARCHAR) || '|' ||
       CAST(c AS VARCHAR) || '|' ||
       CAST((n - d) * 1000000 // n AS VARCHAR),
       CAST(s AS DOUBLE)
FROM (
  WITH RECURSIVE kmbase AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
           max(ts) AS tl
    FROM events GROUP BY user_id
  ),
  kmdur AS (
    SELECT CASE WHEN tp IS NOT NULL AND tp > t0
                THEN (epoch_us(tp) - epoch_us(t0)) // 3600000000
                ELSE (epoch_us(tl) - epoch_us(t0)) // 3600000000
           END AS dur_h,
           (tp IS NOT NULL AND tp > t0) AS e
    FROM kmbase WHERE t0 IS NOT NULL
  ),
  kmpt AS (
    SELECT dur_h AS t, sum(CASE WHEN e THEN 1 ELSE 0 END) AS d,
           count(*) AS cnt
    FROM kmdur GROUP BY 1
  ),
  kmsz AS (
    SELECT t, d, cnt - d AS c,
           sum(cnt) OVER () - coalesce(sum(cnt) OVER (
             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS n
    FROM kmpt
  ),
  kmst AS (
    SELECT t, d, c, n, row_number() OVER (ORDER BY t) AS rn
    FROM kmsz WHERE d > 0
  ),
  kmrec AS (
    SELECT t, n, d, c, rn, 1000000 * (n - d) // n AS s
    FROM kmst WHERE rn = 1
    UNION ALL
    SELECT kmst.t, kmst.n, kmst.d, kmst.c, kmst.rn,
           kmrec.s * (kmst.n - kmst.d) // kmst.n
    FROM kmst JOIN kmrec ON kmst.rn = kmrec.rn + 1
  )
  SELECT t, n, d, c, s FROM kmrec
) kmrows
UNION ALL
SELECT 'ab', variant,
       CAST(n AS VARCHAR) || '|' || CAST(s AS VARCHAR) || '|0|' ||
       CAST(s * 1000000 // n AS VARCHAR) || '|' ||
       CASE WHEN variant = '0' THEN '-'
            ELSE CAST(s * 1000000 // n - cs * 1000000 // cn AS VARCHAR)
       END || '|' ||
       CASE WHEN variant = '0' OR cs <= 0 THEN '-'
            ELSE CAST((CASE WHEN s * cn - cs * n < 0 THEN -1 ELSE 1 END)
                 * (abs(s::HUGEINT * cn - cs::HUGEINT * n) * 1000000
                    // (cs::HUGEINT * n)) AS VARCHAR)
       END,
       CASE WHEN variant = '0' OR n <= 0 OR cn <= 0 THEN -999.0
            ELSE CASE WHEN
              sqrt(((s + cs)::DOUBLE / (n + cn)::DOUBLE)
                   * (1.0 - (s + cs)::DOUBLE / (n + cn)::DOUBLE)
                   * (1.0 / n::DOUBLE + 1.0 / cn::DOUBLE)) <= 0
            THEN -999.0
            ELSE ((s::DOUBLE / n::DOUBLE) - (cs::DOUBLE / cn::DOUBLE))
                 / sqrt(((s + cs)::DOUBLE / (n + cn)::DOUBLE)
                        * (1.0 - (s + cs)::DOUBLE / (n + cn)::DOUBLE)
                        * (1.0 / n::DOUBLE + 1.0 / cn::DOUBLE))
            END
       END
FROM (
  WITH abunits AS (
    SELECT user_id % 3 AS variant,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
             AS conv
    FROM events GROUP BY user_id
  ),
  abpv AS (
    SELECT CAST(variant AS VARCHAR) AS variant, count(*) AS n,
           sum(CASE WHEN conv THEN 1 ELSE 0 END) AS s
    FROM abunits GROUP BY 1
  ),
  abctl AS (SELECT n AS cn, s AS cs FROM abpv WHERE variant = '0')
  SELECT * FROM abpv, abctl
) abrows
UNION ALL
SELECT 'wins', CAST(event_id AS VARCHAR), '',
       CASE WHEN e.value IS NULL OR c.lo IS NULL THEN coalesce(e.value, -1.0)
            ELSE greatest(least(e.value, c.hi), c.lo) END
FROM events e
LEFT JOIN (
  SELECT event_type,
         min(CASE WHEN rn = (100000 * n + 999999) // 1000000
                  THEN value END) AS lo,
         min(CASE WHEN rn = (900000 * n + 999999) // 1000000
                  THEN value END) AS hi
  FROM (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE value IS NOT NULL
  ) wr
  GROUP BY event_type
) c USING (event_type)
UNION ALL
SELECT 'sq3', step_1 || '|' || step_2 || '|' || step_3,
       CAST(cnt AS VARCHAR),
       CAST(cnt * 1000000 // tot AS DOUBLE)
FROM (
  SELECT step_1, step_2, step_3, count(*) AS cnt,
         sum(count(*)) OVER (PARTITION BY step_1, step_2) AS tot
  FROM (
    SELECT lag(event_type, 2) OVER w AS step_1,
           lag(event_type, 1) OVER w AS step_2,
           event_type AS step_3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
  ) seq3
  WHERE step_1 IS NOT NULL
  GROUP BY 1, 2, 3
) sq3rows
UNION ALL
SELECT 'lagf', event_type || '|' || strftime(day, '%Y-%m-%d'),
       coalesce(CAST(lag_1 AS VARCHAR), '-') || '|' ||
       coalesce(CAST(lag_2 AS VARCHAR), '-') || '|' ||
       CAST(roll_n AS VARCHAR) || '|' ||
       coalesce(CAST(roll_min AS VARCHAR), '-') || '|' ||
       coalesce(CAST(roll_max AS VARCHAR), '-'),
       CASE WHEN roll_n > 0 THEN CAST(qsum // roll_n AS DOUBLE)
            ELSE -1.0 END
FROM (
  WITH lfd AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           count(*)::BIGINT AS cnt
    FROM events GROUP BY 1, 2
  )
  SELECT event_type, day,
         lag(cnt, 1) OVER w AS lag_1,
         lag(cnt, 2) OVER w AS lag_2,
         count(cnt) OVER wr AS roll_n,
         min(cnt) OVER wr AS roll_min,
         max(cnt) OVER wr AS roll_max,
         sum(cnt::HUGEINT) OVER wr AS qsum
  FROM lfd
  WINDOW w AS (PARTITION BY event_type ORDER BY day),
         wr AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
) lagfrows
UNION ALL
SELECT 'path', path,
       CAST(depth AS VARCHAR) || '|' || CAST(cnt AS VARCHAR),
       CAST(cnt * 1000000 // tot AS DOUBLE)
FROM (
  WITH pkeys AS (
    SELECT user_id,
           list_slice(list(event_type ORDER BY ts, event_id), 1, 4)
             AS steps
    FROM events GROUP BY user_id
  ),
  ppaths AS (
    SELECT array_to_string(steps, '>') AS path, len(steps) AS depth
    FROM pkeys
  )
  SELECT path, depth, count(*) AS cnt, sum(count(*)) OVER () AS tot
  FROM ppaths GROUP BY path, depth
) pathrows
UNION ALL
SELECT 'qn', CAST(event_id AS VARCHAR), '',
       coalesce(value_qn, -1.0)
FROM (
  WITH qnref AS (
    SELECT value,
           row_number() OVER (ORDER BY value) AS rn,
           count(*) OVER () AS nn
    FROM events WHERE value IS NOT NULL
  ),
  qncuts AS (
    SELECT k.k * 1000 AS q_ppm, r.value AS value_qn
    FROM (SELECT unnest(generate_series(1, 1000)) AS k) k
    JOIN qnref r
      ON r.rn = (k.k * 1000 * r.nn + 999999) // 1000000
  ),
  qnrows AS (
    SELECT event_id, value,
           CASE WHEN value IS NULL THEN NULL
                WHEN n > 1 THEN ((rk - 1) * 1000000) // (n - 1)
                ELSE 0 END AS pct
    FROM (
      SELECT event_id, value,
             CASE WHEN value IS NOT NULL THEN
               rank() OVER (PARTITION BY event_type
                            ORDER BY value ASC NULLS LAST) END AS rk,
             count(value) OVER (PARTITION BY event_type) AS n
      FROM events
    ) rnk
  )
  SELECT q.event_id,
         c.value_qn
  FROM (
    SELECT event_id,
           CASE WHEN pct IS NULL THEN NULL
                ELSE greatest(1, (pct * 1000 + 999999) // 1000000) * 1000
           END AS q_ppm
    FROM qnrows
  ) q
  LEFT JOIN qncuts c USING (q_ppm)
) qnout
"""


def a5_topk_per_group(spark, sf_dir):
    """A5: top-k per group via row_number (heap top-k in the reference,
    realtime_keyword_aggregator.py:163-181)."""
    part = _t(spark, sf_dir, "part")
    return windows.topk_per_window(
        part, k=3, partition_cols=["p_brand"], count_col="p_retailprice", key_col="p_partkey"
    ).select("p_brand", "p_partkey", "p_retailprice", "rnk")


A5_SQL = """
SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
  FROM part
) WHERE rnk <= 3
"""


def a6_topk_global(spark, sf_dir):
    """A6: global top-k (TakeOrderedAndProject plan)."""
    counts = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return windows.topk_global(counts, 10, count_col="cnt", key_col="user_id")


A6_SQL = """
SELECT user_id, count(*) AS cnt FROM events
GROUP BY user_id ORDER BY cnt DESC, user_id ASC LIMIT 10
"""


def a13_wordcloud_rollup(spark, sf_dir):
    """A13: total + unique rollup over the per-key counts."""
    hourly = _hourly_counts(spark, sf_dir)
    return windows.wordcloud_rollup(hourly, ["bucket"], key_col="event_type").select(
        "bucket", "total_count", "unique_keywords"
    )


A13_SQL = f"""
WITH hourly AS ({_HOURLY_SQL})
SELECT bucket, CAST(sum(cnt) AS BIGINT) AS total_count, count(DISTINCT event_type) AS unique_keywords
FROM hourly GROUP BY bucket
"""

# ---------------------------------------------------------------- sorts / pagination


def o2_offset_pagination_total(spark, sf_dir):
    """O1+O2: dynamic sort + stable offset pagination (page 2, size
    20) WITH the Page-contract total count (the reference returns
    Page<Article> with a COUNT query alongside the page —
    ArticleController.java:30-36)."""
    customer = _t(spark, sf_dir, "customer")
    return relational.dynamic_query(
        customer,
        relational.QueryFilter(),
        sort_by="c_acctbal",
        ascending=False,
        page=2,
        size=20,
        with_total=True,
        category_col="c_mktsegment",
        title_col="c_name",
        content_col="c_name",
        ts_col="c_custkey",
        deleted_col=None,
    ).select("c_custkey", "c_name", "c_acctbal", "total_count")


O2_SQL = """
SELECT c_custkey, c_name, c_acctbal,
       (SELECT count(*) FROM customer) AS total_count
FROM customer
ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 20 OFFSET 40
"""

# ---------------------------------------------------------------- windowed (streaming-shape) aggs


def a1_windowed_count(spark, sf_dir):
    """A1/T1: 30-min tumbling count per key
    (AlertTopology.java:86-91)."""
    ev = _t(spark, sf_dir, "events")
    return windows.windowed_count(ev, "ts", "event_type", "30 minutes")


A1_SQL = """
SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000) AS window_start,
       make_timestamp((CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) + 1800) * 1000000) AS window_end,
       event_type, count(*) AS cnt
FROM events GROUP BY 1, 2, 3
"""


def a4_sliding_window(spark, sf_dir):
    """A4/T2: sliding-window counts (30-min window, 10-min slide) —
    each event contributes to 3 overlapping windows."""
    ev = _t(spark, sf_dir, "events")
    return windows.windowed_count(ev, "ts", "event_type", "30 minutes", "10 minutes").select(
        "window_start", "event_type", "cnt"
    )


A4_SQL = """
WITH starts AS (
  SELECT event_type, epoch(ts) AS e,
         (CAST(floor(epoch(ts) / 600) AS BIGINT) - gs) * 600 AS start_s
  FROM events, unnest(generate_series(0, 2)) AS t(gs)
),
valid AS (
  SELECT event_type, make_timestamp(start_s * 1000000) AS window_start
  FROM starts WHERE e - start_s < 1800 AND e >= start_s
)
SELECT window_start, event_type, count(*) AS cnt
FROM valid GROUP BY 1, 2
"""


def a3_multi_window_counts(spark, sf_dir):
    """A3: trailing 1h/6h/24h/168h counts per key in one conditional-agg
    pass (vs the reference's 4×24 Redis reads,
    advanced_trend_analyzer.py:127-146)."""
    hourly = _hourly_counts(spark, sf_dir)
    return trends.multi_window_counts(hourly, AS_OF, key_col="event_type")


A3_SQL = f"""
WITH hourly AS ({_HOURLY_SQL})
SELECT event_type,
  CAST(sum(CASE WHEN bucket > TIMESTAMP '{AS_OF}' - INTERVAL 1 HOUR THEN cnt ELSE 0 END) AS BIGINT) AS cnt_1h,
  CAST(sum(CASE WHEN bucket > TIMESTAMP '{AS_OF}' - INTERVAL 6 HOUR THEN cnt ELSE 0 END) AS BIGINT) AS cnt_6h,
  CAST(sum(CASE WHEN bucket > TIMESTAMP '{AS_OF}' - INTERVAL 24 HOUR THEN cnt ELSE 0 END) AS BIGINT) AS cnt_24h,
  CAST(sum(cnt) AS BIGINT) AS cnt_168h
FROM hourly
WHERE bucket > TIMESTAMP '{AS_OF}' - INTERVAL 168 HOUR AND bucket <= TIMESTAMP '{AS_OF}'
GROUP BY event_type
"""


def a_rollup_suite(spark, sf_dir):
    """A3 + A13 in one tagged gate: trailing multi-window counts per
    key, and the total/unique wordcloud rollup per bucket — both over
    the shared hourly aggregate."""
    a3 = a3_multi_window_counts(spark, sf_dir).select(
        F.lit("a3").alias("suite_case"), F.col("event_type").alias("k"),
        F.col("cnt_1h").cast("long").alias("v1"), F.col("cnt_6h").cast("long").alias("v2"),
        F.col("cnt_24h").cast("long").alias("v3"), F.col("cnt_168h").cast("long").alias("v4"),
    )
    a13 = a13_wordcloud_rollup(spark, sf_dir).select(
        F.lit("a13").alias("suite_case"),
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("k"),
        F.col("total_count").cast("long").alias("v1"),
        F.col("unique_keywords").cast("long").alias("v2"),
        F.lit(-1).cast("long").alias("v3"), F.lit(-1).cast("long").alias("v4"),
    )
    return a3.unionByName(a13)


def _a_rollup_suite_sql() -> str:
    return f"""
SELECT 'a3' AS suite_case, event_type AS k, cnt_1h AS v1, cnt_6h AS v2, cnt_24h AS v3, cnt_168h AS v4 FROM ({A3_SQL}) s1
UNION ALL
SELECT 'a13', strftime(bucket, '%Y-%m-%d %H:%M:%S'), total_count, unique_keywords, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) FROM ({A13_SQL}) s2
"""


def a12_breaking_words(spark, sf_dir):
    """A12 (fused): hourly (window, lang) word stats over a synthetic
    text stream (events ⋈ documents by id-mod) — max word frequency +
    distinct sources, the breaking-news rule input
    (AlertAnalyzer.java:13-43).

    Uses the FACTORED formulation (breaking_word_stats_factored): text
    arrives via a bounded dimension, so each document is tokenized once
    and weighted by per-window reference counts instead of exploding
    the joined stream — measured 1.4× at sf0.1, and the win grows with
    |events|/|docs| (the 100 TB regime).  breaking_word_stats remains
    the operator for true per-row text streams (streaming pipeline)."""
    from .util import spread

    ev = spread(_t(spark, sf_dir, "events"))  # parallelize the probe side
    docs = _t(spark, sf_dir, "documents")
    n_docs = _table_count(spark, sf_dir, "documents")
    stats = windows.breaking_word_stats_factored(
        ev, docs, F.col("event_id") % n_docs, "ts", "lang", "text", "source", "1 hour"
    )
    return stats.select(
        "window_start", "category", "max_word_cnt", "distinct_sources", "article_cnt"
    )


A12_SQL = """
WITH stream AS (
  SELECT date_trunc('hour', e.ts) AS window_start, d.lang AS category, d.source, d.text
  FROM events e JOIN documents d
    ON e.event_id % (SELECT count(*) FROM documents) = d.doc_id
),
words AS (
  SELECT window_start, category, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
  FROM stream
),
word_counts AS (
  SELECT window_start, category, word, count(*) AS word_cnt
  FROM words GROUP BY 1, 2, 3
),
per_group AS (
  SELECT window_start, category, max(word_cnt) AS max_word_cnt
  FROM word_counts GROUP BY 1, 2
),
srcs AS (
  SELECT window_start, category, count(DISTINCT source) AS distinct_sources, count(*) AS article_cnt
  FROM stream GROUP BY 1, 2
)
SELECT p.window_start, p.category, p.max_word_cnt, s.distinct_sources, s.article_cnt
FROM per_group p JOIN srcs s USING (window_start, category)
"""

# ---------------------------------------------------------------- trend math (W-series)


def w1_velocity(spark, sf_dir):
    """W1: adjacent-window velocity with brand-new boost
    (advanced_trend_analyzer.py:148-169)."""
    hourly = _hourly_counts(spark, sf_dir)
    out = trends.velocity(hourly, key_col="event_type")
    return out.select("bucket", "event_type", "cnt", F.round("velocity", 6).alias("velocity"))


W1_SQL = f"""
WITH hourly AS ({_HOURLY_SQL})
SELECT bucket, event_type, cnt,
       round(CASE WHEN lag(cnt) OVER w IS NULL THEN cnt * 2.0
                  ELSE (cnt - lag(cnt) OVER w) / 1.0 END, 6) AS velocity
FROM hourly
WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
"""


def w2_zscore(spark, sf_dir):
    """W2: z-score anomaly vs trailing 168h history, ≥24 points
    (advanced_trend_analyzer.py:171-197)."""
    hourly = _hourly_counts(spark, sf_dir)
    out = trends.zscore_anomaly(hourly, key_col="event_type")
    return out.select(
        "bucket", "event_type", "cnt",
        F.round("zscore", 6).alias("zscore"),
        F.round("anomaly", 6).alias("anomaly"),
    )


W2_SQL = f"""
WITH hourly AS ({_HOURLY_SQL}),
z AS (
  SELECT bucket, event_type, cnt,
         CASE WHEN count(cnt) OVER w >= 24 AND stddev_pop(cnt) OVER w > 0
              THEN (cnt - avg(cnt) OVER w) / stddev_pop(cnt) OVER w
              ELSE 0.0 END AS zscore
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN 168 PRECEDING AND 1 PRECEDING)
)
SELECT bucket, event_type, cnt, round(zscore, 6) AS zscore,
       round(least(abs(zscore) / 3.0, 1.0), 6) AS anomaly
FROM z
"""


def w3_trend_direction(spark, sf_dir):
    """W3: rising/falling/stable ladder over 1h and 6h velocities
    (advanced_trend_analyzer.py:199-206)."""
    hourly = _hourly_counts(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("bucket")
    df = hourly.withColumn(
        "velocity_1h", (F.col("cnt") - F.lag("cnt").over(w)).cast("double")
    ).withColumn(
        "velocity_6h", ((F.col("cnt") - F.lag("cnt", 6).over(w)) / 6.0)
    ).filter(F.col("velocity_1h").isNotNull() & F.col("velocity_6h").isNotNull())
    return trends.trend_direction(df).select(
        "bucket", "event_type",
        F.round("velocity_1h", 6).alias("velocity_1h"),
        F.round("velocity_6h", 6).alias("velocity_6h"),
        "direction",
    )


W3_SQL = f"""
WITH hourly AS ({_HOURLY_SQL}),
v AS (
  SELECT bucket, event_type,
         CAST(cnt - lag(cnt) OVER w AS DOUBLE) AS velocity_1h,
         (cnt - lag(cnt, 6) OVER w) / 6.0 AS velocity_6h
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
)
SELECT bucket, event_type, round(velocity_1h, 6) AS velocity_1h,
       round(velocity_6h, 6) AS velocity_6h,
       CASE WHEN velocity_1h > 2 AND velocity_6h > 1 THEN 'rising'
            WHEN velocity_1h < -1 AND velocity_6h < -0.5 THEN 'falling'
            ELSE 'stable' END AS direction
FROM v WHERE velocity_1h IS NOT NULL AND velocity_6h IS NOT NULL
"""


def _w4_metrics(spark, sf_dir) -> DataFrame:
    """Shared W4 pipeline: multi-window counts + velocity + z-score +
    compound score per event_type at AS_OF."""
    hourly = _hourly_counts(spark, sf_dir)
    mw = trends.multi_window_counts(hourly, AS_OF, key_col="event_type")
    prev = hourly.filter(
        F.col("bucket") == F.lit(AS_OF).cast("timestamp_ntz") - F.expr("INTERVAL 1 HOUR")
    ).select("event_type", F.col("cnt").alias("prev_cnt"))
    z = (
        trends.zscore_anomaly(hourly, key_col="event_type")
        .filter(F.col("bucket") == F.lit(AS_OF).cast("timestamp_ntz"))
        .select("event_type", "zscore", "anomaly")
    )
    df = (
        mw.join(prev, "event_type", "left")
        .join(z, "event_type", "left")
        .withColumn(
            "velocity_1h",
            F.when(F.col("prev_cnt").isNull(), F.col("cnt_1h") * 2.0).otherwise(
                (F.col("cnt_1h") - F.col("prev_cnt")) / 1.0
            ),
        )
        .withColumn("zscore", F.coalesce("zscore", F.lit(0.0)))
    )
    return trends.compound_scored(df)


def w4_compound_score(spark, sf_dir):
    """W4 + W5 in one gate: normalized weighted compound trend score
    (advanced_trend_analyzer.py:208-236) for every key, plus
    `topk_rank` (1..3 for the trending top-3, else -1) so the W5
    ranking semantic stays value-verified.

    Single-branch: the rank comes from one window over the scored rows
    — joining the trending_ranking operator's output back would re-run
    the whole _w4_metrics pipeline as a second branch (no exchange
    reuse; measured 2.5× on the bench).  The TakeOrdered operator
    itself (trends.trending_ranking) serves the top-k-only api.trending
    path and is covered by api/pytest.  The window ranks the PER-KEY
    AGGREGATE (|keys| rows), never raw events."""
    from pyspark.sql.window import Window

    base = _w4_metrics(spark, sf_dir).select(
        "event_type", "cnt_1h", "cnt_6h", "cnt_24h",
        F.round("velocity_1h", 6).alias("velocity_1h"),
        F.round("zscore", 6).alias("zscore"),
        "compound_score",
    )
    w = Window.orderBy(F.col("compound_score").desc(), F.col("event_type").asc())
    rnk = F.row_number().over(w)
    return base.select(
        "*",
        F.when(rnk <= 3, rnk).otherwise(F.lit(-1)).cast("int").alias("topk_rank"),
    )


_W4_CTE = f"""
WITH hourly AS ({_HOURLY_SQL}),
mw AS (
  SELECT event_type,
    CAST(sum(CASE WHEN bucket > TIMESTAMP '{AS_OF}' - INTERVAL 1 HOUR THEN cnt ELSE 0 END) AS BIGINT) AS cnt_1h,
    CAST(sum(CASE WHEN bucket > TIMESTAMP '{AS_OF}' - INTERVAL 6 HOUR THEN cnt ELSE 0 END) AS BIGINT) AS cnt_6h,
    CAST(sum(CASE WHEN bucket > TIMESTAMP '{AS_OF}' - INTERVAL 24 HOUR THEN cnt ELSE 0 END) AS BIGINT) AS cnt_24h
  FROM hourly
  WHERE bucket > TIMESTAMP '{AS_OF}' - INTERVAL 168 HOUR AND bucket <= TIMESTAMP '{AS_OF}'
  GROUP BY event_type
),
prev AS (
  SELECT event_type, cnt AS prev_cnt FROM hourly
  WHERE bucket = TIMESTAMP '{AS_OF}' - INTERVAL 1 HOUR
),
z AS (
  SELECT event_type, zscore FROM (
    SELECT bucket, event_type,
           CASE WHEN count(cnt) OVER w >= 24 AND stddev_pop(cnt) OVER w > 0
                THEN (cnt - avg(cnt) OVER w) / stddev_pop(cnt) OVER w
                ELSE 0.0 END AS zscore
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN 168 PRECEDING AND 1 PRECEDING)
  ) WHERE bucket = TIMESTAMP '{AS_OF}'
),
m AS (
  SELECT mw.event_type, cnt_1h, cnt_6h, cnt_24h,
         CASE WHEN prev_cnt IS NULL THEN cnt_1h * 2.0 ELSE (cnt_1h - prev_cnt) / 1.0 END AS velocity_1h,
         coalesce(zscore, 0.0) AS zscore
  FROM mw LEFT JOIN prev USING (event_type) LEFT JOIN z USING (event_type)
),
scored AS (
  SELECT *,
    round((least(cnt_1h / 10.0, 10.0) * 0.25
         + least(greatest(velocity_1h, 0.0) / 5.0, 10.0) * 0.30
         + least(abs(zscore) / 3.0, 1.0) * 10.0 * 0.25
         + least(CASE WHEN cnt_24h > 0 THEN cnt_6h / cnt_24h ELSE 0.0 END, 5.0) * 2.0 * 0.20
          ) * 10.0, 2) AS compound_score
  FROM m
)
"""

W4_SQL = (
    _W4_CTE
    + """
SELECT event_type, cnt_1h, cnt_6h, cnt_24h,
       round(velocity_1h, 6) AS velocity_1h, round(zscore, 6) AS zscore, compound_score,
       CAST(CASE WHEN rnk <= 3 THEN rnk ELSE -1 END AS INT) AS topk_rank
FROM (
  SELECT *, row_number() OVER (ORDER BY compound_score DESC, event_type ASC) AS rnk
  FROM scored
)
"""
)


def w6_rank_change(spark, sf_dir):
    """W6: rank-change indicators between consecutive snapshots
    (realtime_keyword_aggregator.py:358-383)."""
    hourly = _hourly_counts(spark, sf_dir)
    out = trends.rank_change(hourly, snapshot_col="bucket", key_col="event_type")
    return out.select(
        "bucket", "event_type", "cnt", "rnk",
        F.coalesce("prev_rnk", F.lit(0)).alias("prev_rnk"),  # null-safe for compare
        "indicator",
    )


W6_SQL = f"""
WITH hourly AS ({_HOURLY_SQL}),
ranked AS (
  SELECT bucket, event_type, cnt,
         row_number() OVER (PARTITION BY bucket ORDER BY cnt DESC, event_type ASC) AS rnk
  FROM hourly
),
lagged AS (
  SELECT *, lag(rnk) OVER (PARTITION BY event_type ORDER BY bucket) AS prev_rnk
  FROM ranked
)
SELECT bucket, event_type, cnt, rnk, coalesce(prev_rnk, 0) AS prev_rnk,
       CASE WHEN prev_rnk IS NULL THEN 'new'
            WHEN prev_rnk - rnk > 3 THEN 'rising-fast'
            WHEN prev_rnk - rnk > 0 THEN 'rising'
            WHEN prev_rnk - rnk < -3 THEN 'falling-fast'
            WHEN prev_rnk - rnk < 0 THEN 'falling'
            ELSE 'stable' END AS indicator
FROM lagged
"""


def w_trend_suite(spark, sf_dir):
    """W1 + W2 + W3 + W6 + W8 in one tagged gate (r4 merges: frees four
    driver budget rows for the round-3/4 tiers): velocity, z-score
    anomaly, trend direction, rank-change indicators — all over the
    same hourly counts — plus the zero-filled minute timeline.  Every
    value the five standalone gates checked keeps its own suite row."""
    k2 = F.concat_ws("|", F.date_format("bucket", "yyyy-MM-dd HH:mm:ss"),
                     F.col("event_type"))
    k8 = F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")
    w1 = w1_velocity(spark, sf_dir)
    w2 = w2_zscore(spark, sf_dir)
    w3 = w3_trend_direction(spark, sf_dir)
    w6 = w6_rank_change(spark, sf_dir)
    w8 = w8_timeline(spark, sf_dir)
    # r8 'cusum': two-sided CUSUM level-shift statistics over daily
    # counts per event_type — the window closed form of the
    # max(0, s+d) recursion, all integer micros; s⁺/s⁻ and both
    # flags value-checked per (type, day)
    from .operators import trends as trends_ops

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cus = trends_ops.cusum_changepoints(
        daily, ["event_type"], "day", "cnt", h_micro=20_000_000
    )
    cus_rows = _suite_rows(
        cus, "cusum",
        F.concat_ws("|", F.col("event_type"),
                    F.date_format("day", "yyyy-MM-dd HH:mm:ss")),
        v_str=F.concat_ws(
            "|", F.col("flag_up").cast("string"),
            F.col("flag_down").cast("string"),
            F.col("s_minus_micro").cast("string"),
        ),
        v_num=F.col("s_plus_micro").cast("double"),
    )
    # r9 'seas': same-slot seasonal leave-one-out anomaly over hourly
    # counts — Monday-9am judged against other same-(dow, hour)
    # hours; slots pure integer epoch arithmetic, z a fixed IEEE
    # expression over exact DECIMAL slot sums (bitwise cross-engine)
    hourly = ev.groupBy(
        F.col("event_type"),
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    seas = trends_ops.seasonal_anomaly(
        hourly, ["event_type"], "bucket", "cnt", micro=1
    )
    seas_rows = _suite_rows(
        seas, "seas",
        F.concat_ws("|", F.col("event_type"),
                    F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")),
        v_str=F.concat_ws(
            "|", F.col("slot_dow").cast("string"),
            F.col("slot_hour").cast("string"),
            F.col("n_slot").cast("string"),
        ),
        v_num=F.col("z"),
    )
    # r9 'tsen': Theil–Sen robust trend over the same daily counts
    # the 'ols' branch fits — median pairwise slope + median residual
    # intercept; slopes are single IEEE divisions over exact integers
    # and both medians are ACTUAL elements at rank ⌈n/2⌉, so the
    # doubles compare raw cross-engine
    ts_daily = daily.select(
        "event_type",
        F.datediff(
            F.col("day").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("_x"),
        F.col("cnt").alias("_y"),
    )
    from .operators import stats as stats_ops

    tsfit = stats_ops.theil_sen_by_group(
        ts_daily, "_x", "_y", ["event_type"], micro=1
    ).localCheckpoint(eager=True)
    tsen_rows = _suite_rows(
        tsfit,
        "tsen",
        F.col("event_type"),
        v_str=F.concat_ws(
            "|", F.col("n_points").cast("string"),
            F.col("n_pairs").cast("string"),
        ),
        v_num=F.col("slope"),
    )
    tseni_rows = _suite_rows(
        tsfit,
        "tseni",
        F.col("event_type"),
        v_num=F.col("intercept"),
    )
    return _union_all([
        cus_rows,
        seas_rows,
        tsen_rows,
        tseni_rows,
        _suite_rows(w1, "w1_v", k2, v_num=F.col("velocity")),
        _suite_rows(w1, "w1_cnt", k2, v_num=F.col("cnt")),
        _suite_rows(w2, "w2_z", k2, v_num=F.col("zscore")),
        _suite_rows(w2, "w2_anom", k2, v_num=F.col("anomaly")),
        _suite_rows(w2, "w2_cnt", k2, v_num=F.col("cnt")),
        _suite_rows(w3, "w3", k2, v_str=F.col("direction"),
                    v_num=F.col("velocity_1h")),
        _suite_rows(w3, "w3_v6", k2, v_num=F.col("velocity_6h")),
        _suite_rows(w6, "w6", k2, v_str=F.col("indicator"),
                    v_num=F.col("rnk")),
        _suite_rows(w6, "w6_prev", k2, v_num=F.col("prev_rnk")),
        _suite_rows(w6, "w6_cnt", k2, v_num=F.col("cnt")),
        _suite_rows(w8, "w8", k8, v_num=F.col("cnt")),
    ])


_W_TREND_K = "strftime(bucket, '%Y-%m-%d %H:%M:%S') || '|' || event_type"
W_TREND_SUITE_SQL = f"""
SELECT 'w1_v' AS suite_case, {_W_TREND_K} AS k, '' AS v_str, velocity AS v_num FROM ({W1_SQL}) s0a
UNION ALL
SELECT 'w1_cnt', {_W_TREND_K}, '', CAST(cnt AS DOUBLE) FROM ({W1_SQL}) s0b
UNION ALL
SELECT 'w2_z', {_W_TREND_K}, '', zscore FROM ({W2_SQL}) s1
UNION ALL
SELECT 'w2_anom', {_W_TREND_K}, '', anomaly FROM ({W2_SQL}) s2
UNION ALL
SELECT 'w2_cnt', {_W_TREND_K}, '', CAST(cnt AS DOUBLE) FROM ({W2_SQL}) s3
UNION ALL
SELECT 'w3', {_W_TREND_K}, direction, velocity_1h FROM ({W3_SQL}) s4
UNION ALL
SELECT 'w3_v6', {_W_TREND_K}, '', velocity_6h FROM ({W3_SQL}) s5
UNION ALL
SELECT 'w6', {_W_TREND_K}, indicator, CAST(rnk AS DOUBLE) FROM ({W6_SQL}) s6
UNION ALL
SELECT 'w6_prev', {_W_TREND_K}, '', CAST(prev_rnk AS DOUBLE) FROM ({W6_SQL}) s7
UNION ALL
SELECT 'w6_cnt', {_W_TREND_K}, '', CAST(cnt AS DOUBLE) FROM ({W6_SQL}) s8
"""


def w8_timeline(spark, sf_dir):
    """W8: dense per-minute series with zero-fill
    (advanced_trend_analyzer.py:314-329)."""
    ev = _t(spark, sf_dir, "events")
    minute = ev.filter(F.col("event_type") == "purchase").groupBy(
        F.date_trunc("minute", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return trends.timeline(
        minute.withColumn("keyword", F.lit("purchase")),
        "purchase",
        "2024-01-15 00:00:00",
        "2024-01-15 06:00:00",
    )


W8_SQL = """
WITH cal AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-15 00:00:00',
                                TIMESTAMP '2024-01-15 06:00:00',
                                INTERVAL 1 MINUTE)) AS bucket
),
minute AS (
  SELECT date_trunc('minute', ts) AS bucket, count(*) AS cnt
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT cal.bucket, coalesce(minute.cnt, 0) AS cnt
FROM cal LEFT JOIN minute USING (bucket)
"""

# W8 rides in w_trend_suite (r4 merge); its SQL is defined below the
# suite literal, so the branch is appended here.
W_TREND_SUITE_SQL += f"""
UNION ALL
SELECT 'w8', strftime(bucket, '%Y-%m-%d %H:%M:%S'), '', CAST(cnt AS DOUBLE) FROM ({W8_SQL}) s9
UNION ALL
SELECT 'cusum', event_type || '|' || strftime(day, '%Y-%m-%d %H:%M:%S'),
       CAST(s_plus > 20000000 AS VARCHAR) || '|' ||
       CAST(s_minus > 20000000 AS VARCHAR) || '|' ||
       CAST(s_minus AS VARCHAR),
       CAST(s_plus AS DOUBLE)
FROM (
  WITH cdaily AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           count(*) * 1000000 AS x
    FROM events GROUP BY 1, 2
  ),
  cmu AS (
    -- sign-safe exact division (engine parity: Spark div truncates,
    -- DuckDB // floors; they agree only on non-negative operands)
    SELECT event_type,
           CAST(CASE WHEN sum(x) >= 0 THEN sum(x) // count(*)
                ELSE -((-sum(x)) // count(*)) END AS BIGINT) AS mu
    FROM cdaily GROUP BY 1
  ),
  cpre AS (
    SELECT d.event_type, d.day,
           sum(d.x - m.mu) OVER (
             PARTITION BY d.event_type ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pu,
           sum(m.mu - d.x) OVER (
             PARTITION BY d.event_type ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd
    FROM cdaily d JOIN cmu m USING (event_type)
  )
  SELECT event_type, day,
         pu - least(0, min(pu) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_plus,
         pd - least(0, min(pd) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_minus
  FROM cpre
) cusumrows
UNION ALL
SELECT 'seas', event_type || '|' || strftime(bucket, '%Y-%m-%d %H:%M:%S'),
       CAST(sdow AS VARCHAR) || '|' || CAST(shour AS VARCHAR) || '|' ||
       CAST(n AS VARCHAR),
       -- the leave-one-out z, SAME IEEE expression order as the
       -- Spark operator (mean first, var from raw moments, then z)
       CASE WHEN n - 1 >= 3
                 AND ((q::DOUBLE - x::DOUBLE * x::DOUBLE)
                      / ((n - 1)::DOUBLE)
                      - ((s::DOUBLE - x::DOUBLE) / ((n - 1)::DOUBLE))
                        * ((s::DOUBLE - x::DOUBLE) / ((n - 1)::DOUBLE))) > 0
            THEN (x::DOUBLE - (s::DOUBLE - x::DOUBLE) / ((n - 1)::DOUBLE))
                 / sqrt((q::DOUBLE - x::DOUBLE * x::DOUBLE)
                        / ((n - 1)::DOUBLE)
                        - ((s::DOUBLE - x::DOUBLE) / ((n - 1)::DOUBLE))
                          * ((s::DOUBLE - x::DOUBLE) / ((n - 1)::DOUBLE)))
            ELSE 0.0 END
FROM (
  WITH shourly AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           count(*)::BIGINT AS cnt
    FROM events GROUP BY 1, 2
  )
  SELECT event_type, bucket, cnt AS x,
         (epoch_us(bucket) // 86400000000) % 7 AS sdow,
         (epoch_us(bucket) // 3600000000) % 24 AS shour,
         sum(cnt::HUGEINT) OVER w AS s,
         sum(cnt::HUGEINT * cnt) OVER w AS q,
         count(*) OVER w AS n
  FROM shourly
  WINDOW w AS (PARTITION BY event_type,
               (epoch_us(bucket) // 86400000000) % 7,
               (epoch_us(bucket) // 3600000000) % 24)
) seasrows
UNION ALL
SELECT suite_case, k, v_str, v_num
FROM (
  WITH tdaily AS (
    SELECT event_type AS g,
           datediff('day', DATE '1970-01-01', CAST(ts AS DATE))::BIGINT AS x,
           count(*)::BIGINT AS y
    FROM events GROUP BY 1, CAST(ts AS DATE)
  ),
  tnp AS (SELECT g, count(*) AS np FROM tdaily GROUP BY g),
  tpairs AS (
    SELECT a.g, (b.y - a.y)::DOUBLE / (b.x - a.x)::DOUBLE AS slope
    FROM tdaily a JOIN tdaily b ON a.g = b.g AND a.x < b.x
  ),
  tranked AS (
    SELECT g, slope,
           row_number() OVER (PARTITION BY g ORDER BY slope) AS rn,
           count(*) OVER (PARTITION BY g) AS npairs
    FROM tpairs
  ),
  tmed AS (
    SELECT g, slope AS med_slope, npairs FROM tranked
    WHERE rn = (npairs + 1) // 2
  ),
  tresid AS (
    SELECT d.g, m.npairs, m.med_slope,
           d.y::DOUBLE - m.med_slope * d.x::DOUBLE AS r
    FROM tdaily d JOIN tmed m ON d.g = m.g
  ),
  trr AS (
    SELECT g, npairs, med_slope, r,
           row_number() OVER (PARTITION BY g ORDER BY r) AS rrn,
           count(*) OVER (PARTITION BY g) AS nr
    FROM tresid
  ),
  tfit AS (
    SELECT t.g, p.np, t.npairs, t.med_slope, t.r / 1.0 AS icept
    FROM trr t JOIN tnp p ON t.g = p.g
    WHERE t.rrn = (t.nr + 1) // 2
  )
  SELECT 'tsen' AS suite_case, g AS k,
         CAST(np AS VARCHAR) || '|' || CAST(npairs AS VARCHAR) AS v_str,
         coalesce(med_slope, -1.0) AS v_num
  FROM tfit
  UNION ALL
  SELECT 'tseni', g, '', coalesce(icept, -1.0) FROM tfit
) tsenrows
"""

def t4_session_window(spark, sf_dir):
    """T4: session windows per user (gap 30 min) — gaps-and-islands in
    the oracle."""
    ev = _t(spark, sf_dir, "events")
    return windows.session_window_counts(ev, "ts", "user_id", gap="30 minutes")


T4_SQL = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
i AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp
  FROM o
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id, count(*) AS cnt
FROM i GROUP BY user_id, grp
"""

# 'gaps' rides in a_stats_suite but replays the T4 session intervals,
# which are defined just above — appended here (the W8/cusum pattern).
A_STATS_SUITE_SQL += f"""
UNION ALL
SELECT 'gaps',
       CAST(user_id AS VARCHAR) || '|' ||
       strftime(make_timestamp(cov_end), '%Y-%m-%d %H:%M:%S'),
       strftime(make_timestamp(next_s), '%Y-%m-%d %H:%M:%S'),
       CAST(next_s - cov_end AS DOUBLE)
FROM (
  SELECT user_id,
         max(epoch_us(session_end)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(session_start),
           epoch_us(session_end)
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cov_end,
         lead(epoch_us(session_start)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(session_start),
           epoch_us(session_end)
         ) AS next_s
  FROM ({T4_SQL}) t4g
) gaprows
WHERE next_s IS NOT NULL AND next_s - cov_end > 0
"""

# ---------------------------------------------------------------- alerts


def w11_trending_threshold(spark, sf_dir):
    """W11: per-window counts ≥ min mentions (AlertAnalyzer.java:45-50)."""
    counts = windows.windowed_count(_t(spark, sf_dir, "events"), "ts", "event_type", "30 minutes")
    return alerts.trending_alerts(counts, min_mentions=8).select(
        "window_start", "event_type", "cnt"
    )


W11_SQL = """
WITH wc AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000) AS window_start,
         event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, cnt FROM wc WHERE cnt >= 8
"""


def o3_recent_alerts(spark, sf_dir):
    """O3: newest-100 alert-log read (Redis LTRIM 0..99 semantics) —
    TakeOrderedAndProject, never a full sort.  The events table stands
    in for the alert log (ts values are unique in the fixture, so the
    cap is deterministic)."""
    from .operators import alerts as alerts_ops

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").alias("timestamp"), "event_type"
    )
    return alerts_ops.recent_alerts(ev, limit=100).select("event_id", "event_type")


O3_SQL = """
SELECT event_id, event_type FROM events ORDER BY ts DESC LIMIT 100
"""


def w10_surge_alerts(spark, sf_dir):
    """W10: ≥ratio growth vs previous window with min mentions
    (readme.md:210-213 300% rule; ratio tuned to the uniform test
    stream so the rule fires)."""
    counts = windows.windowed_count(
        _t(spark, sf_dir, "events"), "ts", "event_type", "30 minutes"
    ).select("window_start", "event_type", "cnt")
    return alerts.surge_alerts(
        counts, growth_ratio=1.5, min_mentions=5, key_col="event_type"
    ).select("window_start", "event_type", "cnt", "prev_cnt")


W10_SQL = """
WITH wc AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000) AS window_start,
         event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT *, lag(cnt) OVER (PARTITION BY event_type ORDER BY window_start) AS prev_cnt
  FROM wc
)
SELECT window_start, event_type, cnt, prev_cnt FROM lagged
WHERE cnt >= 5 AND prev_cnt IS NOT NULL AND prev_cnt > 0 AND cnt >= prev_cnt * 1.5
"""

# ---------------------------------------------------------------- scalar functions


def f6_tokenize_wordfreq(spark, sf_dir):
    """F6+A5: tokenize → explode → global top-20 word frequencies."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(F.explode(textfn.tokenize(F.col("text"))).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(20)


F6_SQL = """
SELECT word, count(*) AS cnt FROM (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
  FROM documents
) GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20
"""


def f10_date_bucketing(spark, sf_dir):
    """F10: stored_date / hour-bucket formatting + counts."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyyMMdd").alias("stored_date"),
        F.date_trunc("hour", "ts").alias("hour_bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


F10_SQL = """
SELECT strftime(ts, '%Y%m%d') AS stored_date, date_trunc('hour', ts) AS hour_bucket,
       count(*) AS cnt
FROM events GROUP BY 1, 2
"""


def f14_json_extract(spark, sf_dir):
    """F14: JSON decode of the props column + aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.round(F.avg("k"), 6).alias("avg_k"),
        F.max("k").alias("max_k"),
        F.count(F.lit(1)).alias("cnt"),
    )


F14_SQL = """
SELECT event_type, round(avg(k), 6) AS avg_k, max(k) AS max_k, count(*) AS cnt
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
GROUP BY event_type
"""


def f_parse_suite(spark, sf_dir):
    """F6 + F14 in one tagged gate (r4 merge: frees a driver budget
    row): tokenize → global word frequencies, and JSON props decode →
    per-type aggregates."""
    f14 = f14_json_extract(spark, sf_dir)
    return _union_all([
        _suite_rows(f6_tokenize_wordfreq(spark, sf_dir), "f6",
                    F.col("word"), v_num=F.col("cnt")),
        _suite_rows(f14, "f14_avg", F.col("event_type"), v_num=F.col("avg_k")),
        _suite_rows(f14, "f14_max", F.col("event_type"), v_num=F.col("max_k")),
        _suite_rows(f14, "f14_cnt", F.col("event_type"), v_num=F.col("cnt")),
    ])


F_PARSE_SUITE_SQL = f"""
SELECT 'f6' AS suite_case, word AS k, '' AS v_str, CAST(cnt AS DOUBLE) AS v_num FROM ({F6_SQL}) s1
UNION ALL
SELECT 'f14_avg', event_type, '', avg_k FROM ({F14_SQL}) s2
UNION ALL
SELECT 'f14_max', event_type, '', CAST(max_k AS DOUBLE) FROM ({F14_SQL}) s3
UNION ALL
SELECT 'f14_cnt', event_type, '', CAST(cnt AS DOUBLE) FROM ({F14_SQL}) s4
"""


def f9_log_view_weight(spark, sf_dir):
    """F9: log10(x+1) dynamic weighting (readme.md:240-244)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(scoring.log_view_weight(F.col("value")), 6).alias("log_weight"),
    )


F9_SQL = "SELECT event_id, round(log10(value + 1), 6) AS log_weight FROM events"

# Every particle in the reference's four groups
# (hybrid_keyword_extractor.py:59-64) suffixed onto a stem, plus the
# order-sensitive compounds (까지도, 밖에, 한테서, …) and non-particle
# controls — so the gate pins the whole chain, not a subset.
_KOREAN_WORDS = [
    "대통령이", "경제를", "부동산에서", "금리와", "올림픽도", "반도체",
    "그리고", "12345", "발표하다", "인공지능", "태풍", "한테",
    # group 1, one word per alternative, reference order
    "학교을", "학교를", "학교이", "학교가", "학교은", "학교는", "학교에",
    "학교에서", "학교에게", "학교한테", "학교께", "학교으로", "학교로",
    "학교와", "학교과", "학교랑", "학교이랑",
    # group 2
    "학교의", "학교도", "학교만", "학교까지", "학교부터", "학교마저",
    "학교조차", "학교밖에", "학교뿐", "학교라도", "학교라서",
    # group 3 (에서/에게 already hit by group 1)
    "학교한테서", "학교로부터", "학교으로부터",
    # group 4
    "학교다가", "학교면서", "학교지만", "학교거나", "학교든지",
    # compounds where group order decides the result
    "학교까지도", "사람들밖에", "학교마저도", "회사로부터도", "친구한테서는",
]
_KW_VALUES = ", ".join(f"('{w}')" for w in _KOREAN_WORDS)


def f1_josa_strip(spark, sf_dir):
    """F1: Korean particle stripping over a fixed word list (the same
    literals on both engines — hybrid_keyword_extractor.py:56-69)."""
    df = spark.createDataFrame([(w,) for w in _KOREAN_WORDS], "word string")
    return df.select("word", textfn.strip_josa(F.col("word")).alias("stripped"))


F1_SQL = f"""
SELECT word,
  trim(regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(word, '(을|를|이|가|은|는|에|에서|에게|한테|께|으로|로|와|과|랑|이랑)$', ''),
        '(의|도|만|까지|부터|마저|조차|밖에|뿐|라도|라서)$', ''),
      '(에서|에게|한테서|로부터|으로부터)$', ''),
    '(다가|면서|지만|거나|든지)$', '')) AS stripped
FROM (VALUES {_KW_VALUES}) AS t(word)
"""


_SENT_ROWS = [
    (1, "속보 대통령이 국회에서 연설했다", "경제 정책과 금리가 관심사였다. Extra English 123!"),
    (2, "인공지능 기술이 발전한다", None),
    (3, None, "데이터를 처리하는 엔진은 빠르다"),
    (4, "짧은 제목", "특수문자 !!! @@@ 테스트와 공백   정리"),
]


def f2_f3_f4_noun_extraction(spark, sf_dir):
    """F3→F4→F2 text-prep pipeline: title×3-weighted concat, normalize
    (strip non-word/non-Hangul, collapse whitespace), then Hangul-run
    noun candidates with josa stripped and length ≥ 2
    (hybrid_keyword_extractor.py:56-99)."""
    df = spark.createDataFrame(_SENT_ROWS, "id int, title string, content string")
    nouns = textfn.extract_korean_nouns(
        textfn.normalize_text(textfn.weighted_text(F.col("title"), F.col("content")))
    )
    return df.select("id", F.explode(nouns).alias("noun"))


_SENT_VALUES = ", ".join(
    "({}, {}, {})".format(
        i,
        "NULL" if t is None else "'" + t + "'",
        "NULL" if c is None else "'" + c + "'",
    )
    for i, t, c in _SENT_ROWS
)

F2_SQL = f"""
WITH src AS (SELECT * FROM (VALUES {_SENT_VALUES}) AS t(id, title, content)),
w AS (
  SELECT id, concat_ws(' ', coalesce(title, ''), coalesce(title, ''),
                       coalesce(title, ''), substr(coalesce(content, ''), 1, 1000)) AS wt
  FROM src
),
n AS (
  SELECT id, trim(regexp_replace(regexp_replace(wt, '[^\\w\\s가-힣]', ' ', 'g'),
                                 '\\s+', ' ', 'g')) AS norm
  FROM w
),
raw AS (SELECT id, unnest(regexp_extract_all(norm, '[가-힣]{{2,8}}')) AS tok FROM n),
stripped AS (
  SELECT id,
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(tok, '(을|를|이|가|은|는|에|에서|에게|한테|께|으로|로|와|과|랑|이랑)$', ''),
          '(의|도|만|까지|부터|마저|조차|밖에|뿐|라도|라서)$', ''),
        '(에서|에게|한테서|로부터|으로부터)$', ''),
      '(다가|면서|지만|거나|든지)$', '')) AS noun
  FROM raw
)
SELECT id, noun FROM stripped WHERE length(noun) >= 2
"""


def f5_keyword_validity(spark, sf_dir):
    """F5: keyword validity predicate (length band, digits, stopword,
    verb-ending — hybrid_keyword_extractor.py:173-188)."""
    df = spark.createDataFrame([(w,) for w in _KOREAN_WORDS], "word string")
    return df.select("word", textfn.is_valid_keyword(F.col("word")).alias("valid"))


_STOPWORD_SQL_LIST = ", ".join(f"'{w}'" for w in textfn.KOREAN_STOPWORDS)

F5_SQL = f"""
SELECT word,
       length(word) BETWEEN 2 AND 8
       AND NOT regexp_matches(word, '^\\d+$')
       AND word NOT IN ({_STOPWORD_SQL_LIST})
       AND NOT regexp_matches(word, '(하다|되다|있다|없다)$') AS valid
FROM (VALUES {_KW_VALUES}) AS t(word)
"""


def f15_author_first_token(spark, sf_dir):
    """F15: first whitespace token (CrawlerServiceImpl.java:495-498) —
    applied to a synthesized two-token author string."""
    cust = _t(spark, sf_dir, "customer")
    author = F.concat_ws(" ", F.col("c_name"), F.lit("기자"))
    return cust.select(
        "c_custkey", textfn.author_first_token(author).alias("author_name")
    )


F15_SQL = """
SELECT c_custkey, split_part(concat_ws(' ', c_name, '기자'), ' ', 1) AS author_name
FROM customer
"""


def o7_dedup_by_key(spark, sf_dir):
    """O7/S14: first row per key (deterministic survivor = lowest id;
    dropDuplicates semantics made reproducible)."""
    ev = _t(spark, sf_dir, "events")
    return relational.dedup_by_key(
        ev.select("event_id", "user_id", "event_type"), ["user_id", "event_type"]
    )


O7_SQL = """
SELECT event_id, user_id, event_type FROM (
  SELECT event_id, user_id, event_type,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""


def o5_merge_keywords(spark, sf_dir):
    """O5: order-preserving case-insensitive dedup union of two keyword
    lists, capped at 6 (hybrid_keyword_extractor.py:243-260) — lists
    synthesized from document tokens."""
    docs = _t(spark, sf_dir, "documents")
    tokens = F.split(dedup.normalized_text(F.col("text")), " ")
    primary = F.slice(tokens, 1, 4)
    secondary = F.slice(tokens, 3, 5)
    return docs.select(
        "doc_id",
        F.array_join(
            textfn.merge_keywords_capped(primary, secondary, cap=6), "|"
        ).alias("merged"),
    )


O5_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
),
unioned AS (
  SELECT doc_id, list_concat(t[1:4], t[3:7]) AS kws FROM toks
),
pos AS (
  SELECT doc_id, unnest(kws) AS kw, generate_subscripts(kws, 1) AS ord FROM unioned
),
firsts AS (
  SELECT doc_id, kw, ord,
         row_number() OVER (PARTITION BY doc_id, lower(kw) ORDER BY ord) AS rn
  FROM pos
)
SELECT doc_id, coalesce(array_to_string(coalesce(list(kw ORDER BY ord) FILTER (WHERE rn = 1), [])[1:6], '|'), '') AS merged
FROM firsts
GROUP BY doc_id
"""


def a2_windowed_collect(spark, sf_dir):
    """A2: tumbling-window collect of per-key payloads
    (AlertTopology.java:57-67) — arrays sorted for determinism."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.sort_array(F.collect_list("event_id")).alias("event_ids"),
             F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"), "event_type",
            F.array_join(
                F.transform("event_ids", lambda x: x.cast("string")), "|"
            ).alias("event_ids"),
            "cnt",
        )
    )


A2_SQL = """
SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) * 1000000) AS window_start,
       event_type, coalesce(array_to_string(list(event_id ORDER BY event_id), '|'), '') AS event_ids, count(*) AS cnt
FROM events GROUP BY 1, 2
"""

_KOREAN_TITLES = [
    "속보 서울 도심 화재 발생",
    "대통령 경제 정책 발표",
    "긴급 태풍 북상 중",
    "올림픽 개막식 성황",
    "지진 감지 후 폭발 사고",
]
_TITLE_VALUES = ", ".join(f"('{t}')" for t in _KOREAN_TITLES)


def f7_breaking_indicators(spark, sf_dir):
    """F7: breaking-keyword containment scan over titles
    (keyword_republisher.py:145-176)."""
    df = spark.createDataFrame([(t,) for t in _KOREAN_TITLES], "title string")
    return df.select(
        "title",
        F.array_join(textfn.breaking_indicators(F.col("title")), "|").alias("indicators"),
        textfn.is_breaking(F.col("title")).alias("is_breaking"),
    )


_BREAKING_SQL_LIST = ", ".join(f"'{t}'" for t in textfn.BREAKING_KEYWORDS)

F7_SQL = f"""
SELECT title,
       coalesce(array_to_string(list_filter([{_BREAKING_SQL_LIST}], t -> contains(title, t)), '|'), '') AS indicators,
       len(list_filter([{_BREAKING_SQL_LIST}], t -> contains(title, t))) > 0 AS is_breaking
FROM (VALUES {_TITLE_VALUES}) AS t(title)
"""


def f8_classify_keyword(spark, sf_dir):
    """F8: numeric/short/general keyword classifier
    (keyword_republisher.py:245-253)."""
    df = spark.createDataFrame([(w,) for w in _KOREAN_WORDS], "word string")
    return df.select("word", textfn.classify_keyword(F.col("word")).alias("cls"))


F8_SQL = f"""
SELECT word,
       CASE WHEN regexp_matches(word, '\\d') THEN 'numeric'
            WHEN length(word) <= 2 THEN 'short'
            ELSE 'general' END AS cls
FROM (VALUES {_KW_VALUES}) AS t(word)
"""

_ISO_VALUES = """
('2024-03-01T12:00:00Z', '42'), ('2024-03-01T15:30:00+00:00', ''),
('2024-12-31T23:59:59Z', '  '), ('2024-06-15T08:00:00+00:00', '7')
"""


def f12_day_range(spark, sf_dir):
    """F12: date-pair → [start 00:00:00, end 23:59:59] expansion
    (ArticleServiceImpl.java:210-218) applied as an event-time BETWEEN
    predicate, counts per type inside the range."""
    from .functions import dates

    ev = _t(spark, sf_dir, "events")
    start, end = dates.day_range(F.lit("2024-01-03"), F.lit("2024-01-05"))
    return (
        ev.filter(
            F.col("ts").between(start.cast("timestamp_ntz"), end.cast("timestamp_ntz"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


F12_SQL = """
SELECT event_type, count(*) AS cnt FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-03 00:00:00' AND TIMESTAMP '2024-01-05 23:59:59'
GROUP BY event_type
"""


def f11_f13_coercions(spark, sf_dir):
    """F11+F13: ISO-8601 parse tolerating 'Z' + empty-string → NULL
    (SyncService.py:289-333)."""
    df = spark.createDataFrame(
        [("2024-03-01T12:00:00Z", "42"), ("2024-03-01T15:30:00+00:00", ""),
         ("2024-12-31T23:59:59Z", "  "), ("2024-06-15T08:00:00+00:00", "7")],
        "changed_at string, raw_val string",
    )
    from .functions import dates

    return df.select(
        "changed_at",
        dates.parse_iso_ts(F.col("changed_at")).cast("timestamp_ntz").alias("parsed_ts"),
        # coalesce keeps the compare NULL-free (pandas NaN asymmetry)
        F.coalesce(dates.empty_to_null(F.col("raw_val")).cast("int"), F.lit(-1)).alias("val"),
    )


A_STATS_SUITE_SQL += """
UNION ALL
SELECT 'mode',
       strftime(day, '%Y-%m-%d %H:%M:%S') || '|' || CAST(rank AS VARCHAR),
       v || '|' || CAST(cnt AS VARCHAR),
       CAST((cnt * 1000000) // tot AS DOUBLE)
FROM (
  SELECT day, v, cnt,
         row_number() OVER (PARTITION BY day
                            ORDER BY cnt DESC, v ASC) AS rank,
         sum(cnt) OVER (PARTITION BY day) AS tot
  FROM (
    SELECT date_trunc('day', ts) AS day, event_type AS v, count(*) AS cnt
    FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
  ) modec
) moderk
WHERE rank <= 3
"""


A_STATS_SUITE_SQL += """
UNION ALL
SELECT 'attr',
       CAST(user_id AS VARCHAR) || '|' || CAST(conv_id AS VARCHAR) || '|'
         || coalesce(CAST(touch_id AS VARCHAR), ''),
       coalesce(touch_type, '') || '|' || CAST(n AS VARCHAR) || '|'
         || CAST(p AS VARCHAR),
       CAST(CASE WHEN n = 0 THEN 1000000
                 WHEN n = 1 THEN 1000000
                 WHEN n = 2 THEN 500000
                 WHEN p = 1 OR p = n THEN 400000
                 ELSE (200000 // (n - 2)) +
                      CASE WHEN p = n - 1
                           THEN 200000 - (n - 2) * (200000 // (n - 2))
                           ELSE 0 END
            END AS DOUBLE)
FROM (
  SELECT user_id, conv_id, touch_id, touch_type,
         count(touch_id) OVER (PARTITION BY user_id, conv_id) AS n,
         CASE WHEN touch_id IS NULL THEN 0
              ELSE row_number() OVER (PARTITION BY user_id, conv_id
                                      ORDER BY t_us ASC, touch_id ASC)
         END AS p
  FROM (
    SELECT c.user_id, c.conv_id, t.touch_id, t.touch_type, t.t_us
    FROM (SELECT user_id, event_id AS conv_id, epoch_us(ts) AS c_us
          FROM events WHERE event_type = 'purchase') c
    LEFT JOIN (SELECT user_id, event_id AS touch_id,
                      event_type AS touch_type, epoch_us(ts) AS t_us
               FROM events WHERE event_type IN ('view', 'click')) t
    ON c.user_id = t.user_id AND t.t_us < c.c_us
       AND t.t_us >= c.c_us - 43200000000
  ) attrj
) attrr
UNION ALL
SELECT 'jse', CAST(hash_row AS VARCHAR), '', CAST(ip AS DOUBLE)
FROM (
  WITH jk AS (SELECT l_partkey % 499 AS k FROM lineitem),
  jbuck AS (
    SELECT i AS hash_row,
           ('0x' || substr(md5('jse:' || CAST(i AS VARCHAR) || ':'
                               || CAST(k AS VARCHAR)), 1, 8))::BIGINT
             % 1024 AS bucket,
           count(*) AS cnt
    FROM jk, range(5) t(i) GROUP BY 1, 2
  ),
  jip AS (SELECT hash_row, sum(cnt * cnt) AS ip FROM jbuck GROUP BY 1)
  SELECT hash_row, ip FROM jip
  UNION ALL
  SELECT -1, min(ip) FROM jip
) jserows
"""


A_STATS_SUITE_SQL += """
UNION ALL
SELECT 'jprof', key,
       CAST(n_present AS VARCHAR) || '|' || CAST(n_null AS VARCHAR) || '|'
         || CAST(n_numeric AS VARCHAR) || '|' || CAST(n_bool AS VARCHAR)
         || '|' || CAST(n_object AS VARCHAR) || '|'
         || CAST(n_array AS VARCHAR) || '|' || CAST(n_distinct AS VARCHAR),
       CAST(present_ppm AS DOUBLE)
FROM (
  WITH pj AS (
    SELECT CASE WHEN event_id % 7 = 0 THEN 'not json'
                WHEN event_id % 5 = 0 THEN
                  '{"a": "' || event_type || '", "n": '
                    || CAST(user_id AS VARCHAR) || '}'
                WHEN event_id % 3 = 0 THEN
                  '{"a": null, "arr": [1, 2], "o": {"x": 1}, "b": true}'
                ELSE props END AS j
    FROM events
  ),
  pv AS (SELECT j FROM pj
         WHERE j IS NOT NULL
           AND CASE WHEN json_valid(j) THEN json_type(j) = 'OBJECT'
                    ELSE FALSE END),
  pnv AS (SELECT greatest(count(*), 1) AS n FROM pv),
  pkv AS (SELECT k AS key, json_extract_string(j, '$.' || k) AS v
          FROM pv, unnest(json_keys(j)) t(k))
  SELECT key,
         count(*) AS n_present,
         sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null,
         sum(CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL
                  THEN 1 ELSE 0 END) AS n_numeric,
         sum(CASE WHEN v IN ('true', 'false') THEN 1 ELSE 0 END)
           AS n_bool,
         sum(CASE WHEN v LIKE '{%' THEN 1 ELSE 0 END) AS n_object,
         sum(CASE WHEN v LIKE '[%' THEN 1 ELSE 0 END) AS n_array,
         count(DISTINCT v) AS n_distinct,
         (count(*) * 1000000) // (SELECT n FROM pnv) AS present_ppm
  FROM pkv GROUP BY key
  UNION ALL
  SELECT '__malformed__',
         (SELECT count(*) FROM pj
          WHERE j IS NOT NULL
            AND NOT CASE WHEN json_valid(j)
                         THEN json_type(j) = 'OBJECT'
                         ELSE FALSE END),
         0, 0, 0, 0, 0, 0, 0
  UNION ALL
  SELECT '__null__', (SELECT count(*) FROM pj WHERE j IS NULL),
         0, 0, 0, 0, 0, 0, 0
) jprofrows
"""


A_STATS_SUITE_SQL += """
UNION ALL
SELECT 'ewma', CAST(id AS VARCHAR), CAST(resid AS VARCHAR),
       CAST(s AS DOUBLE)
FROM (
  WITH RECURSIVE ewbase AS (
    SELECT event_type AS g, event_id AS id,
           CAST(round(value * 1000000, 0) AS BIGINT) AS xm,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS rn
    FROM events WHERE value IS NOT NULL AND event_id % 5 = 0
  ),
  ewrec AS (
    SELECT g, id, xm, rn, xm AS s, CAST(0 AS BIGINT) AS resid
    FROM ewbase WHERE rn = 1
    UNION ALL
    SELECT b.g, b.id, b.xm, b.rn,
           CASE WHEN 200000 * b.xm + 800000 * r.s >= 0
                THEN (200000 * b.xm + 800000 * r.s) // 1000000
                ELSE -((-(200000 * b.xm + 800000 * r.s)) // 1000000)
           END,
           b.xm - r.s
    FROM ewbase b JOIN ewrec r ON b.g = r.g AND b.rn = r.rn + 1
  )
  SELECT id, s, resid FROM ewrec
) ewmarows
"""


A_STATS_SUITE_SQL += """
UNION ALL
SELECT 'holt', CAST(id AS VARCHAR),
       CAST(s AS VARCHAR) || '|' || CAST(b AS VARCHAR),
       CAST(s + b AS DOUBLE)
FROM (
  WITH RECURSIVE hbase AS (
    SELECT event_type AS g, event_id AS id,
           CAST(round(value * 1000000, 0) AS BIGINT) AS xm,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS rn
    FROM events WHERE value IS NOT NULL AND event_id % 5 = 0
  ),
  hrec AS (
    SELECT g, id, xm, rn, xm AS s, CAST(0 AS BIGINT) AS b
    FROM hbase WHERE rn = 1
    UNION ALL
    SELECT q.g, q.t_id, q.xm, q.rn, q.s2,
           CASE WHEN 150000 * (q.s2 - q.s) + 850000 * q.b >= 0
                THEN (150000 * (q.s2 - q.s) + 850000 * q.b) // 1000000
                ELSE -((-(150000 * (q.s2 - q.s) + 850000 * q.b))
                       // 1000000) END
    FROM (
      SELECT bb.g, bb.id AS t_id, bb.xm, bb.rn, r.s, r.b,
             CASE WHEN 250000 * bb.xm + 750000 * (r.s + r.b) >= 0
                  THEN (250000 * bb.xm + 750000 * (r.s + r.b))
                       // 1000000
                  ELSE -((-(250000 * bb.xm + 750000 * (r.s + r.b)))
                         // 1000000) END AS s2
      FROM hbase bb JOIN hrec r ON bb.g = r.g AND bb.rn = r.rn + 1
    ) q
  )
  SELECT id, s, b FROM hrec
) holtrows
"""


A_STATS_SUITE_SQL += """
UNION ALL
SELECT 'bkt', g,
       CAST(n_eval AS VARCHAR) || '|' || CAST(bias AS VARCHAR) || '|'
         || CAST(n_mape AS VARCHAR) || '|' || CAST(mape AS VARCHAR),
       CAST(mae AS DOUBLE)
FROM (
  WITH RECURSIVE bkbase AS (
    SELECT event_type AS g, event_id AS id,
           CAST(round(value * 1000000, 0) AS BIGINT) AS xm,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS rn
    FROM events WHERE value IS NOT NULL AND event_id % 5 = 0
  ),
  bkrec AS (
    SELECT g, id, xm, rn, xm AS s FROM bkbase WHERE rn = 1
    UNION ALL
    SELECT b.g, b.id, b.xm, b.rn,
           CASE WHEN 200000 * b.xm + 800000 * r.s >= 0
                THEN (200000 * b.xm + 800000 * r.s) // 1000000
                ELSE -((-(200000 * b.xm + 800000 * r.s)) // 1000000) END
    FROM bkbase b JOIN bkrec r ON b.g = r.g AND b.rn = r.rn + 1
  ),
  bkerr AS (
    SELECT g, xm, xm - lag(s) OVER (PARTITION BY g ORDER BY rn) AS err
    FROM bkrec
  )
  SELECT g, count(*) AS n_eval,
         CASE WHEN sum(abs(err)) >= 0
              THEN sum(abs(err)) // count(*)
              ELSE -((-sum(abs(err))) // count(*)) END AS mae,
         CASE WHEN sum(err) >= 0 THEN sum(err) // count(*)
              ELSE -((-sum(err)) // count(*)) END AS bias,
         count(CASE WHEN xm != 0 THEN 1 END) AS n_mape,
         CASE WHEN count(CASE WHEN xm != 0 THEN 1 END) > 0 THEN
           sum(CASE WHEN xm != 0
                    THEN (abs(err) * 1000000) // abs(xm) END)
           // count(CASE WHEN xm != 0 THEN 1 END)
         ELSE NULL END AS mape
  FROM bkerr WHERE err IS NOT NULL GROUP BY g
) bktrows
"""


F11_SQL = f"""
SELECT changed_at,
       CAST(strptime(regexp_replace(changed_at, 'Z$', '+00:00'), '%Y-%m-%dT%H:%M:%S%z') AS TIMESTAMP) AS parsed_ts,
       coalesce(CAST(nullif(trim(raw_val), '') AS INT), -1) AS val
FROM (VALUES {_ISO_VALUES}) AS t(changed_at, raw_val)
"""

# ---------------------------------------------------------------- merged suite gates
#
# CORRECTNESS_r01.json contained exactly the first 50 registry entries
# in declaration order — the driver compares at most ~50 rows.  To keep
# EVERY operator behind a value-level oracle row, the trivial scalar
# gates below are merged into tagged long-format suite gates
# (suite_case, k, v_str, v_num) so the registry fits in the budget.
# The per-gate functions above are retained (used here and by pytest).


def _suite_rows(df, case, k, v_str=None, v_num=None):
    """Reshape a gate output to the long (suite_case, k, v_str, v_num)
    format: string/double value slots, NULL-free (sentinels '' / -1.0)
    so the cross-engine value hash is stable through pandas."""
    v_str = v_str if v_str is not None else F.lit("")
    v_num = v_num if v_num is not None else F.lit(-1.0)
    return df.select(
        F.lit(case).alias("suite_case"),
        F.coalesce(k.cast("string"), F.lit("")).alias("k"),
        F.coalesce(v_str.cast("string"), F.lit("")).alias("v_str"),
        F.coalesce(v_num.cast("double"), F.lit(-1.0)).alias("v_num"),
    )


def _union_all(parts):
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def f_scalar_suite(spark, sf_dir):
    """F1 + F2/F3/F4 + F5 + F7 + F8 + F11/F13 in one tagged gate:
    josa strip, Korean noun extraction pipeline, keyword validity,
    breaking indicators, keyword classifier, ISO-8601/empty-string
    coercions.  Each branch is the unchanged per-function gate."""
    return _union_all([
        _suite_rows(f1_josa_strip(spark, sf_dir), "f1",
                    F.col("word"), v_str=F.col("stripped")),
        _suite_rows(f2_f3_f4_noun_extraction(spark, sf_dir), "f2_f3_f4",
                    F.col("id"), v_str=F.col("noun")),
        _suite_rows(f5_keyword_validity(spark, sf_dir), "f5",
                    F.col("word"), v_num=F.col("valid").cast("int")),
        _suite_rows(f7_breaking_indicators(spark, sf_dir), "f7",
                    F.col("title"), v_str=F.col("indicators"),
                    v_num=F.col("is_breaking").cast("int")),
        _suite_rows(f8_classify_keyword(spark, sf_dir), "f8",
                    F.col("word"), v_str=F.col("cls")),
        _suite_rows(f11_f13_coercions(spark, sf_dir), "f11_f13",
                    F.col("changed_at"),
                    v_str=F.date_format("parsed_ts", "yyyy-MM-dd HH:mm:ss"),
                    v_num=F.col("val")),
        # P3+P5: inserts-only + content-quality filter over an article
        # frame derived from documents (op from doc_id%3; title blanked
        # on doc_id%7 to exercise the title rule)
        _suite_rows(_p3_p5_articles(spark, sf_dir), "p3_p5", F.col("id")),
        # O6: order-preserving distinct of document tokens
        _suite_rows(_o6_ordered_distinct(spark, sf_dir), "o6",
                    F.col("doc_id"), v_str=F.col("dedup_tokens")),
        # F18: truncate to 20 chars
        _suite_rows(
            _t(spark, sf_dir, "documents").select(
                "doc_id", textfn.truncate(F.col("text"), 20).alias("tr")
            ),
            "f18", F.col("doc_id"), v_str=F.col("tr"),
        ),
        # r3: strip_html — each doc's text wrapped in a fixed markup
        # shell, visible text extracted back (boilerplate removal)
        _suite_rows(_htmlstrip_rows(spark, sf_dir), "htmlstrip",
                    F.col("doc_id"), v_str=F.col("vis")),
        # r4: C4 line/page heuristics — synthesized multi-line docs
        # (testdata has no newlines) through textstats.c4_clean; both
        # the line filters and the page-kill rules are value-checked
        _suite_rows(_c4_rows(spark, sf_dir), "c4",
                    F.col("doc_id"), v_str=F.col("clean_md5"),
                    v_num=F.col("n_kept_lines")),
        _suite_rows(_c4_rows(spark, sf_dir), "c4keep",
                    F.col("doc_id"), v_str=F.col("n_lines").cast("string"),
                    v_num=F.col("keep").cast("int")),
        # r5: Gopher page-quality rules (Rae et al. 2021) over the raw
        # documents — verdict bit + word count, then required-word hits
        # + mean word length, all value-checked per doc
        _suite_rows(_gopher_rows(spark, sf_dir), "gopher",
                    F.col("doc_id"), v_str=F.col("keep").cast("string"),
                    v_num=F.col("n_words")),
        _suite_rows(_gopher_rows(spark, sf_dir), "gopherv",
                    F.col("doc_id"), v_str=F.col("required_hits").cast("string"),
                    v_num=F.col("mean_word_len")),
        # r6: code-detection heuristics — docs %3==0 wrapped in a
        # 3-line code shell; all five exact-integer signals + the
        # verdict value-checked per doc
        _suite_rows(_code_rows(spark, sf_dir), "code",
                    F.col("doc_id"),
                    v_str=F.concat_ws(
                        "|",
                        F.col("punct_lines_ppm").cast("string"),
                        F.col("indent_lines_ppm").cast("string"),
                        F.col("symbol_chars_ppm").cast("string"),
                        F.col("kw_hits").cast("string"),
                        F.col("ident_tokens_ppm").cast("string"),
                        F.col("n_signals").cast("string"),
                    ),
                    v_num=F.col("is_code").cast("int")),
    ])


def _gopher_rows(spark, sf_dir):
    """gopher_rules gate branch over the raw documents table."""
    from .operators.textstats import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def _code_rows(spark, sf_dir):
    """code_stats gate branch: docs with doc_id %% 3 == 0 are wrapped
    in a deterministic 3-line code shell (def/assignment/return with
    indent + trailing ';'), the rest stay prose — both the firing and
    the non-firing path value-checked."""
    from .operators.textstats import code_stats

    did = F.col("doc_id").cast("string")
    shell = F.concat(
        F.lit("def fn_"), did, F.lit("(x):\n"),
        F.lit("    total_sum = x + "), did, F.lit(";\n"),
        F.lit("    return total_sum;\n"),
        F.col("text"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, shell).otherwise(F.col("text")).alias("text"),
    )
    return code_stats(docs)


_HTML_SHELL_PRE = (
    '<html><head><SCRIPT>var x=1;</SCRIPT><style>css ignore</style></head>'
    '<body><!-- note --><p class="t">'
)
_HTML_SHELL_POST = ' &amp; <b>tail</b> &#39;q&#39;</p></body></html>'


def _htmlstrip_rows(spark, sf_dir):
    """strip_html gate branch: wrap document text in a markup shell
    exercising every removal rule (case-insensitive script, style,
    comment, tags, entities) and extract the visible text back."""
    from .operators.textstats import strip_html

    blob = F.concat(F.lit(_HTML_SHELL_PRE), F.col("text"), F.lit(_HTML_SHELL_POST))
    return _t(spark, sf_dir, "documents").select(
        "doc_id", strip_html(blob).alias("vis")
    )


def _c4_rows(spark, sf_dir):
    """c4_clean gate branch: build deterministic multi-line documents —
    a good lead line, a too-short line, a blocklist (javascript) line,
    a no-terminal-punctuation line, a good closer, an extra good line
    on even ids (3 kept → page survives), plus lorem-ipsum (ids %5==0)
    and curly-brace (ids %7==3) page kills."""
    from .operators.textstats import c4_clean

    t = F.col("text")
    blob = F.concat_ws(
        "\n",
        F.concat(F.lit("Alpha intro keeps the line alive with "),
                 F.substring(t, 1, 40), F.lit(" included.")),
        F.lit("short line."),
        F.concat(F.lit("Please enable javascript feature to view "),
                 F.col("source"), F.lit(" today.")),
        F.substring(t, 1, 60),
        F.lit("A closing proper sentence keeps this document alive today!"),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("Another fine sentence appears in the even documents right here.")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("Lorem ipsum dolor sit amet line.")),
        F.when(F.col("doc_id") % 7 == 3, F.lit("code block { inside } this line.")),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", blob.alias("text"))
    return c4_clean(docs).select(
        "doc_id",
        F.md5(F.coalesce("cleaned_text", F.lit(""))).alias("clean_md5"),
        "n_kept_lines", "n_lines", "keep",
    )


def _p3_p5_articles(spark, sf_dir):
    """Article frame for the P3/P5 gate branch: survivors of
    inserts_only → quality_filter (sources/cdc.py)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.expr("CASE doc_id % 3 WHEN 0 THEN 'c' WHEN 1 THEN 'u' ELSE 'd' END").alias("op"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(F.col("source")).alias("title"),
        F.col("text").alias("content"),
    )
    return cdc.quality_filter(cdc.inserts_only(docs)).select("id")


def _o6_ordered_distinct(spark, sf_dir):
    """O6 gate branch: first-occurrence-preserving distinct
    (functions/extract.py ordered-distinct step) over document tokens."""
    from .operators.textstats import _tokens

    return (
        _t(spark, sf_dir, "documents")
        # whitespace-only docs yield no unnest rows in the oracle; drop
        # them on both sides rather than emitting an empty-string row
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.concat_ws(" ", F.array_distinct(_tokens(F.col("text")))).alias("dedup_tokens"),
        )
    )


F_SCALAR_SUITE_SQL = f"""
SELECT 'f1' AS suite_case, word AS k, stripped AS v_str, -1.0 AS v_num FROM ({F1_SQL}) s1
UNION ALL
SELECT 'f2_f3_f4', CAST(id AS VARCHAR), noun, -1.0 FROM ({F2_SQL}) s2
UNION ALL
SELECT 'f5', word, '', CASE WHEN valid THEN 1.0 ELSE 0.0 END FROM ({F5_SQL}) s3
UNION ALL
SELECT 'f7', title, indicators, CASE WHEN is_breaking THEN 1.0 ELSE 0.0 END FROM ({F7_SQL}) s4
UNION ALL
SELECT 'f8', word, cls, -1.0 FROM ({F8_SQL}) s5
UNION ALL
SELECT 'f11_f13', changed_at, strftime(parsed_ts, '%Y-%m-%d %H:%M:%S'), CAST(val AS DOUBLE) FROM ({F11_SQL}) s6
UNION ALL
SELECT 'p3_p5', CAST(doc_id AS VARCHAR), '', -1.0
FROM documents
WHERE doc_id % 3 = 0
  AND (CASE WHEN doc_id % 7 = 0 THEN '' ELSE source END) <> ''
  AND (CASE WHEN doc_id % 7 = 0 THEN '' ELSE source END) IS NOT NULL
  AND text IS NOT NULL AND length(text) >= 50
UNION ALL
SELECT 'o6', CAST(doc_id AS VARCHAR),
       array_to_string(list(t ORDER BY mi), ' '), -1.0
FROM (
  SELECT doc_id, t, min(i) AS mi
  FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS t,
           generate_subscripts(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''), 1) AS i
    FROM documents WHERE trim(text) <> ''
  ) tok GROUP BY doc_id, t
) firsts GROUP BY doc_id
UNION ALL
SELECT 'f18', CAST(doc_id AS VARCHAR), substr(text, 1, 20), -1.0 FROM documents
UNION ALL
SELECT 'htmlstrip', CAST(doc_id AS VARCHAR),
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(replace(
      regexp_replace(
      regexp_replace(
      regexp_replace(
      regexp_replace(
        '{_HTML_SHELL_PRE.replace("'", "''")}' || text || '{_HTML_SHELL_POST.replace("'", "''")}',
        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g'),
        '(?s)<[^>]*>', ' ', 'g'),
      '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&apos;', ''''),
    '\\s+', ' ', 'g')), -1.0
FROM documents
"""

# 'c4' / 'c4keep' branches appended as a PLAIN string (the suite literal
# above is an f-string; the brace-kill fixture line would need escaping)
F_SCALAR_SUITE_SQL = F_SCALAR_SUITE_SQL + """
UNION ALL
SELECT c4_case, c4_k, c4_vs, c4_vn FROM (
  WITH c4b AS (
    SELECT doc_id,
           'Alpha intro keeps the line alive with ' || substr(text, 1, 40) || ' included.'
           || chr(10) || 'short line.'
           || chr(10) || 'Please enable javascript feature to view ' || source || ' today.'
           || chr(10) || substr(text, 1, 60)
           || chr(10) || 'A closing proper sentence keeps this document alive today!'
           || CASE WHEN doc_id % 2 = 0
                   THEN chr(10) || 'Another fine sentence appears in the even documents right here.'
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN chr(10) || 'Lorem ipsum dolor sit amet line.'
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 3
                   THEN chr(10) || 'code block { inside } this line.'
                   ELSE '' END AS blob
    FROM documents
  ),
  c4f AS (
    SELECT doc_id, blob,
           list_filter(list_transform(string_split(blob, chr(10)), l -> trim(l)),
                       l -> l <> '') AS lines
    FROM c4b
  ),
  c4k AS (
    SELECT doc_id, blob, lines,
           list_filter(lines, l ->
             len(list_filter(string_split_regex(l, '\\s+'), x -> x <> '')) >= 5
             AND regexp_matches(l, '[.!?"]$')
             AND NOT contains(lower(l), 'javascript')
             AND NOT contains(lower(l), 'cookie policy')
             AND NOT contains(lower(l), 'terms of use')
             AND NOT contains(lower(l), 'privacy policy')) AS kept
    FROM c4f
  )
  SELECT 'c4' AS c4_case, CAST(doc_id AS VARCHAR) AS c4_k,
         md5(coalesce(array_to_string(kept, chr(10)), '')) AS c4_vs,
         CAST(len(kept) AS DOUBLE) AS c4_vn
  FROM c4k
  UNION ALL
  SELECT 'c4keep', CAST(doc_id AS VARCHAR), CAST(len(lines) AS VARCHAR),
         CASE WHEN len(kept) >= 3
                   AND NOT contains(lower(blob), 'lorem ipsum')
                   AND NOT contains(blob, '{')
              THEN 1.0 ELSE 0.0 END
  FROM c4k
) c4rows
UNION ALL
SELECT g_case, g_k, g_vs, g_vn FROM (
  WITH gw AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '') AS words,
           list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                       l -> l <> '') AS glines
    FROM documents
  ),
  gs AS (
    SELECT doc_id,
           len(words) AS n_words,
           CASE WHEN len(words) > 0
                THEN CAST(list_sum(list_transform(words, w -> len(w))) AS DOUBLE) / len(words)
                ELSE 0.0 END AS mean_wl,
           CASE WHEN len(words) > 0
                THEN CAST(3 * (len(text) - len(replace(text, '#', '')))
                     + (len(text) - len(replace(text, '...', '')))
                     + 3 * (len(text) - len(replace(text, chr(8230), ''))) AS DOUBLE)
                     / (3 * len(words))
                ELSE 0.0 END AS sym_ratio,
           CASE WHEN len(glines) > 0
                THEN CAST(len(list_filter(glines, l -> regexp_matches(l, '^[•\\-\\*▪●]'))) AS DOUBLE) / len(glines)
                ELSE 0.0 END AS bullet_frac,
           CASE WHEN len(glines) > 0
                THEN CAST(len(list_filter(glines, l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) AS DOUBLE) / len(glines)
                ELSE 0.0 END AS ell_frac,
           CASE WHEN len(words) > 0
                THEN CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(words)
                ELSE 0.0 END AS alpha_frac,
           len(list_filter(['the','be','to','of','and','that','have','with'],
                           s -> list_contains(list_transform(words, w -> lower(w)), s))) AS req_hits
    FROM gw
  ),
  gk AS (
    SELECT *,
           (n_words >= 50 AND n_words <= 100000
            AND mean_wl >= 3.0 AND mean_wl <= 10.0
            AND sym_ratio <= 0.1
            AND bullet_frac <= 0.9 AND ell_frac <= 0.3
            AND alpha_frac >= 0.8 AND req_hits >= 2) AS keep
    FROM gs
  )
  SELECT 'gopher' AS g_case, CAST(doc_id AS VARCHAR) AS g_k,
         CAST(keep AS VARCHAR) AS g_vs, CAST(n_words AS DOUBLE) AS g_vn
  FROM gk
  UNION ALL
  SELECT 'gopherv', CAST(doc_id AS VARCHAR), CAST(req_hits AS VARCHAR),
         round(mean_wl, 6)
  FROM gk
) gopherrows
"""

# 'code' branch appended as a RAW string (regex classes with braces and
# backslash escapes — \s, \[, \t — must reach RE2 verbatim)
F_SCALAR_SUITE_SQL = F_SCALAR_SUITE_SQL + r"""
UNION ALL
SELECT 'code', cd_k, cd_vs, cd_vn FROM (
  WITH cdocs AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN 'def fn_' || CAST(doc_id AS VARCHAR) || '(x):' || chr(10)
                     || '    total_sum = x + ' || CAST(doc_id AS VARCHAR) || ';' || chr(10)
                     || '    return total_sum;' || chr(10) || text
                ELSE text END AS t
    FROM documents
  ),
  cparts AS (
    SELECT doc_id, t,
           list_filter(list_transform(string_split(t, chr(10)), l -> rtrim(l)),
                       l -> trim(l) <> '') AS lines,
           list_filter(string_split_regex(trim(t), '\s+'), w -> w <> '') AS words
    FROM cdocs
  ),
  csig AS (
    SELECT doc_id,
           len(lines) AS n_lines,
           len(list_filter(lines, l -> regexp_matches(l, '[;{}()]$'))) AS punct,
           len(list_filter(lines, l -> regexp_matches(l, '^(  |\t)'))) AS ind,
           length(t) AS n_chars,
           length(t) - length(regexp_replace(t, '[()\[\]{};=<>|&]', '', 'g')) AS sym,
           len(words) AS n_words,
           len(list_filter(['def','class','import','return','function','const',
                            'var','let','void','public','static','struct',
                            '#include','fn','lambda','elif','endif','null',
                            'true;','false;'],
                           s -> list_contains(list_transform(words, w -> lower(w)), s))) AS kw,
           len(list_filter(words,
               w -> regexp_matches(w, '(_[a-z0-9])|([a-z][A-Z])|(^[A-Za-z_][A-Za-z0-9_]*\()'))) AS ident
    FROM cparts
  ),
  cppm AS (
    SELECT doc_id,
           CASE WHEN n_lines > 0 THEN punct * 1000000 // n_lines ELSE 0 END AS p_punct,
           CASE WHEN n_lines > 0 THEN ind * 1000000 // n_lines ELSE 0 END AS p_ind,
           CASE WHEN n_chars > 0 THEN sym * 1000000 // n_chars ELSE 0 END AS p_sym,
           kw,
           CASE WHEN n_words > 0 THEN ident * 1000000 // n_words ELSE 0 END AS p_ident
    FROM csig
  ),
  cver AS (
    SELECT doc_id, p_punct, p_ind, p_sym, kw, p_ident,
           (CASE WHEN p_punct >= 300000 THEN 1 ELSE 0 END
            + CASE WHEN p_ind >= 200000 THEN 1 ELSE 0 END
            + CASE WHEN p_sym >= 40000 THEN 1 ELSE 0 END
            + CASE WHEN kw >= 2 THEN 1 ELSE 0 END
            + CASE WHEN p_ident >= 150000 THEN 1 ELSE 0 END) AS n_signals
    FROM cppm
  )
  SELECT CAST(doc_id AS VARCHAR) AS cd_k,
         CAST(p_punct AS VARCHAR) || '|' || CAST(p_ind AS VARCHAR) || '|'
         || CAST(p_sym AS VARCHAR) || '|' || CAST(kw AS VARCHAR) || '|'
         || CAST(p_ident AS VARCHAR) || '|' || CAST(n_signals AS VARCHAR) AS cd_vs,
         CASE WHEN n_signals >= 2 THEN 1.0 ELSE 0.0 END AS cd_vn
  FROM cver
) coderows
"""


def f_value_suite(spark, sf_dir):
    """F9 + F10 + F12 + F15 in one tagged gate: log view weight, date
    bucketing, day-range expansion, author first token."""
    return _union_all([
        _suite_rows(f9_log_view_weight(spark, sf_dir), "f9",
                    F.col("event_id"), v_num=F.col("log_weight")),
        _suite_rows(f10_date_bucketing(spark, sf_dir), "f10",
                    F.concat_ws("|", F.col("stored_date"),
                                F.date_format("hour_bucket", "yyyy-MM-dd HH:mm:ss")),
                    v_num=F.col("cnt")),
        _suite_rows(f12_day_range(spark, sf_dir), "f12",
                    F.col("event_type"), v_num=F.col("cnt")),
        _suite_rows(f15_author_first_token(spark, sf_dir), "f15",
                    F.col("c_custkey"), v_str=F.col("author_name")),
        # as-of join: each event enriched with the latest hourly count
        # for its type at or before its timestamp (union-and-carry
        # window; oracle = DuckDB native ASOF LEFT JOIN)
        _suite_rows(_asof_enriched(spark, sf_dir), "asof",
                    F.col("event_id"), v_num=F.coalesce(F.col("cnt"), F.lit(-1))),
        # r6 'ivj': bucketized interval join — sampled lineitems whose
        # ship day falls in [o_orderdate, +7d) of sampled orders; the
        # operator plans an equi-join on day buckets (plan-pinned in
        # pytest: no BroadcastNestedLoop), the oracle is DuckDB's
        # native range join
        _suite_rows(
            _interval_join_rows(spark, sf_dir), "ivj",
            F.concat_ws("|", F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                        F.col("o_orderkey").cast("string")),
            v_num=F.col("v"),
        ),
        # r7 'ivo': interval × interval OVERLAP join — two sampled
        # order-activity windows ([date, +7d) vs [date, +10d)); the
        # operator's first-shared-bucket trick emits each overlapping
        # pair exactly once with no distinct exchange; oracle = the
        # naive strict-inequality range join
        _suite_rows(
            _interval_overlap_rows(spark, sf_dir), "ivo",
            F.concat_ws("|", F.col("a_key").cast("string"),
                        F.col("b_key").cast("string")),
            v_num=F.col("b_s"),
        ),
    ])


def _interval_join_rows(spark, sf_dir):
    from .operators import relational as rel

    points = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 50 == 0
    ).select(
        "l_orderkey", "l_linenumber",
        F.unix_date(F.col("l_shipdate").cast("date")).alias("v"),
    )
    intervals = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 40 == 0
    ).select(
        "o_orderkey",
        F.unix_date(F.col("o_orderdate").cast("date")).alias("s"),
        (F.unix_date(F.col("o_orderdate").cast("date")) + 7).alias("e"),
    )
    return rel.interval_join(points, intervals, "v", "s", "e", bucket_width=7)


def _interval_overlap_rows(spark, sf_dir):
    from .operators import relational as rel

    ordr = _t(spark, sf_dir, "orders")
    day = F.unix_date(F.col("o_orderdate").cast("date"))
    a = ordr.filter(F.col("o_orderkey") % 40 == 0).select(
        F.col("o_orderkey").alias("a_key"),
        day.alias("a_s"), (day + 7).alias("a_e"),
    )
    b = ordr.filter(F.col("o_orderkey") % 50 == 0).select(
        F.col("o_orderkey").alias("b_key"),
        day.alias("b_s"), (day + 10).alias("b_e"),
    )
    return rel.interval_overlap_join(
        a, b, ("a_s", "a_e"), ("b_s", "b_e"), bucket_width=7
    )


def _asof_enriched(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    hourly = _hourly_counts(spark, sf_dir)
    return relational.asof_join(
        ev, hourly, ["event_type"], "ts", "bucket", ["cnt"]
    )


F_VALUE_SUITE_SQL = f"""
SELECT 'f9' AS suite_case, CAST(event_id AS VARCHAR) AS k, '' AS v_str, log_weight AS v_num FROM ({F9_SQL}) s1
UNION ALL
SELECT 'f10', stored_date || '|' || strftime(hour_bucket, '%Y-%m-%d %H:%M:%S'), '', CAST(cnt AS DOUBLE) FROM ({F10_SQL}) s2
UNION ALL
SELECT 'f12', event_type, '', CAST(cnt AS DOUBLE) FROM ({F12_SQL}) s3
UNION ALL
SELECT 'f15', CAST(c_custkey AS VARCHAR), author_name, -1.0 FROM ({F15_SQL}) s4
UNION ALL
SELECT 'asof', CAST(e.event_id AS VARCHAR), '', CAST(coalesce(h.cnt, -1) AS DOUBLE)
FROM events e ASOF LEFT JOIN ({_HOURLY_SQL}) h
  ON e.event_type = h.event_type AND e.ts >= h.bucket
UNION ALL
SELECT 'ivj',
       CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)
         || '|' || CAST(o_orderkey AS VARCHAR),
       '', CAST(v AS DOUBLE)
FROM (
  SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey,
         datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) AS v
  FROM lineitem l JOIN orders o
    ON datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
         >= datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
   AND datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
         < datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) + 7
  WHERE l.l_orderkey % 50 = 0 AND o.o_orderkey % 40 = 0
) ivjrows
UNION ALL
SELECT 'ivo', CAST(a_key AS VARCHAR) || '|' || CAST(b_key AS VARCHAR),
       '', CAST(b_s AS DOUBLE)
FROM (
  SELECT a.o_orderkey AS a_key, b.o_orderkey AS b_key,
         datediff('day', DATE '1970-01-01', CAST(b.o_orderdate AS DATE)) AS b_s
  FROM orders a JOIN orders b
    ON datediff('day', DATE '1970-01-01', CAST(a.o_orderdate AS DATE))
         < datediff('day', DATE '1970-01-01', CAST(b.o_orderdate AS DATE)) + 10
   AND datediff('day', DATE '1970-01-01', CAST(b.o_orderdate AS DATE))
         < datediff('day', DATE '1970-01-01', CAST(a.o_orderdate AS DATE)) + 7
  WHERE a.o_orderkey % 40 = 0 AND b.o_orderkey % 50 = 0
) ivorows
"""


def a_basic_aggs(spark, sf_dir):
    """A7 + A8 + A10 in one tagged gate: group-by count, exact
    count-distinct, global max."""
    a8df = a8_count_distinct(spark, sf_dir)
    return _union_all([
        _suite_rows(a7_group_count(spark, sf_dir), "a7",
                    F.col("o_orderstatus"), v_num=F.col("cnt")),
        _suite_rows(a8df, "a8", F.lit("n_custs"), v_num=F.col("n_custs")),
        _suite_rows(a8df, "a8", F.lit("n_priorities"), v_num=F.col("n_priorities")),
        _suite_rows(a10_global_max(spark, sf_dir), "a10", F.lit("max_orderdate"),
                    v_str=F.date_format("max_orderdate", "yyyy-MM-dd HH:mm:ss")),
        # r7 'roll': OLAP ROLLUP over (status, priority) — the whole
        # drill-down hierarchy in ONE grouping-sets job; g_* flags
        # disambiguate rollup placeholders from real NULLs
        _suite_rows(
            windows.rollup_counts(
                _t(spark, sf_dir, "orders"),
                ["o_orderstatus", "o_orderpriority"],
            ),
            "roll",
            F.concat_ws(
                "|",
                F.coalesce(F.col("o_orderstatus"), F.lit("(all)")),
                F.coalesce(F.col("o_orderpriority"), F.lit("(all)")),
                F.col("g_o_orderstatus").cast("string"),
                F.col("g_o_orderpriority").cast("string"),
            ),
            v_num=F.col("cnt"),
        ),
        # r7 'cube': the full-lattice variant (adds the priority-only
        # slice the rollup prefix order omits)
        _suite_rows(
            windows.rollup_counts(
                _t(spark, sf_dir, "orders"),
                ["o_orderstatus", "o_orderpriority"],
                mode="cube",
            ),
            "cube",
            F.concat_ws(
                "|",
                F.coalesce(F.col("o_orderstatus"), F.lit("(all)")),
                F.coalesce(F.col("o_orderpriority"), F.lit("(all)")),
                F.col("g_o_orderstatus").cast("string"),
                F.col("g_o_orderpriority").cast("string"),
            ),
            v_num=F.col("cnt"),
        ),
        # r8 'pivt': explicit-values crosstab — priority × status
        # count matrix, pinned schema, one partial-aggregated job;
        # stacked back to long form for the compare
        _suite_rows(
            windows.pivot_counts(
                _t(spark, sf_dir, "orders"), ["o_orderpriority"],
                "o_orderstatus", ["F", "O", "P"],
            ).selectExpr(
                "o_orderpriority",
                "stack(3, 'F', F, 'O', O, 'P', P) AS (st, cnt)",
            ),
            "pivt",
            F.concat_ws("|", F.col("o_orderpriority"), F.col("st")),
            v_num=F.col("cnt").cast("double"),
        ),
    ])


A_BASIC_AGGS_SQL = f"""
SELECT 'a7' AS suite_case, o_orderstatus AS k, '' AS v_str, CAST(cnt AS DOUBLE) AS v_num FROM ({A7_SQL}) s1
UNION ALL
SELECT 'a8', 'n_custs', '', CAST(n_custs AS DOUBLE) FROM ({A8_SQL}) s2
UNION ALL
SELECT 'a8', 'n_priorities', '', CAST(n_priorities AS DOUBLE) FROM ({A8_SQL}) s3
UNION ALL
SELECT 'a10', 'max_orderdate', strftime(max_orderdate, '%Y-%m-%d %H:%M:%S'), -1.0 FROM ({A10_SQL}) s4
UNION ALL
SELECT 'roll',
       coalesce(o_orderstatus, '(all)') || '|' ||
       coalesce(o_orderpriority, '(all)') || '|' ||
       CAST(GROUPING(o_orderstatus) AS VARCHAR) || '|' ||
       CAST(GROUPING(o_orderpriority) AS VARCHAR),
       '', CAST(count(*) AS DOUBLE)
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'cube',
       coalesce(o_orderstatus, '(all)') || '|' ||
       coalesce(o_orderpriority, '(all)') || '|' ||
       CAST(GROUPING(o_orderstatus) AS VARCHAR) || '|' ||
       CAST(GROUPING(o_orderpriority) AS VARCHAR),
       '', CAST(count(*) AS DOUBLE)
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'pivt', o_orderpriority || '|' || st, '', CAST(cnt AS DOUBLE)
FROM (
  SELECT o_orderpriority,
         unnest(['F','O','P']) AS st,
         unnest([sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END),
                 sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END),
                 sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)]) AS cnt
  FROM orders GROUP BY o_orderpriority
) pivtrows
"""


def w_alert_rules(spark, sf_dir):
    """W10 + W11 in one tagged gate: surge (growth-vs-previous-window)
    and threshold alert rules over the same 30-min windowed counts."""
    thr = w11_trending_threshold(spark, sf_dir).select(
        F.lit("threshold").alias("rule"), "window_start", "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.lit(-1).cast("long").alias("prev_cnt"),
    )
    srg = w10_surge_alerts(spark, sf_dir).select(
        F.lit("surge").alias("rule"), "window_start", "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("prev_cnt").cast("long").alias("prev_cnt"),
    )
    return thr.unionByName(srg)


W_ALERT_RULES_SQL = f"""
SELECT 'threshold' AS rule, window_start, event_type, cnt, CAST(-1 AS BIGINT) AS prev_cnt FROM ({W11_SQL}) s1
UNION ALL
SELECT 'surge', window_start, event_type, cnt, prev_cnt FROM ({W10_SQL}) s2
"""

# ---------------------------------------------------------------- text analysis extensions


def text_profile(spark, sf_dir):
    """Text-analysis pass: token counts, stopword/punct ratios, quality
    score, fingerprint, AND marker-stopword language ID — one JVM-side
    map stage (text_profile already computes lang_detected; this gate
    covers what used to be the separate text_langid row).

    r5 adds the encoding-health columns (textstats.encoding_stats) over
    a junk-injected twin of each doc (control char on %3, U+FFFD on
    %4, mojibake digraph on %5 — the clean corpus has none), value-
    checking the replacement/control/mojibake ppm math and keep flag."""
    docs = _t(spark, sf_dir, "documents")
    out = textstats.text_profile(docs)
    junk = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("\x01")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 1, F.lit("�")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 2, F.lit(" Ã© tail")).otherwise(F.lit("")),
    )
    enc = textstats.encoding_stats(
        docs.select("doc_id", junk.alias("text")), max_bad_ppm=2000
    ).select(
        "doc_id", "replacement_ppm", "control_ppm", "mojibake_ppm",
        F.col("keep").alias("enc_keep"),
    )
    # r6: canonical_url over a synthesized crawl URL per doc (case/
    # default-port/trailing-slash/tracking-param/fragment variants by
    # doc_id residue); the oracle derives the EXPECTED canonical form
    # independently from the variant logic — no regex replay
    d = F.col("doc_id")
    raw_url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("https://")),
        F.lit("WWW."), F.col("source"), F.lit(".Example.COM"),
        F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        F.lit("/docs/"), d.cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 4 == 1, F.lit("?z=1&ref=x"))
        .otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    urls = docs.select(
        "doc_id", textstats.canonical_url(raw_url).alias("canon_url")
    )
    # r6: DEFLATE compression-ratio repetitiveness signal (pinned-zlib
    # oracle VALUES — same interpreter's zlib both sides, exact ppm)
    comp = textstats.compression_ratio(docs).select(
        "doc_id", "compress_ratio_ppm", F.col("keep").alias("comp_keep")
    )
    return (
        out.select(
            "doc_id", "n_tokens", "stopword_ratio", "mean_word_len", "quality",
            "fingerprint", "lang_detected",
        )
        .join(enc, "doc_id").join(urls, "doc_id").join(comp, "doc_id")
    )


TEXT_PROFILE_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS tokens,
         lower(trim(text)) AS lowered
  FROM documents
),
tok AS (
  SELECT doc_id, tokens,
         CASE WHEN len(tokens) = 0 THEN 0 ELSE len(tokens) END AS n_tokens,
         list_filter(string_split_regex(lowered, '\\s+'), t -> t <> '') AS ltokens
  FROM base
),
m AS (
  SELECT doc_id, n_tokens,
         CASE WHEN len(ltokens) > 0
              THEN CAST(len(list_filter(ltokens, t -> list_contains(['the','and','of','to','is','in','that','it','a','an','for','on','with','as','was','are'], t))) AS DOUBLE) / len(ltokens)
              ELSE 0.0 END AS stopword_ratio,
         CASE WHEN len(tokens) > 0
              THEN CAST(list_sum(list_transform(tokens, t -> length(t))) AS DOUBLE) / len(tokens)
              ELSE 0.0 END AS mean_word_len
  FROM tok
)
SELECT m.doc_id, n_tokens,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(mean_word_len, 6) AS mean_word_len,
       round(least(n_tokens / 100.0, 1.0) * 0.4
           + least(stopword_ratio / 0.2, 1.0) * 0.4
           + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       lang.lang_detected AS lang_detected,
       enc.replacement_ppm, enc.control_ppm, enc.mojibake_ppm, enc.enc_keep,
       -- canonical_url expected output, derived INDEPENDENTLY from the
       -- synthesis variants (no regex replay): lowercased scheme+host,
       -- default port stripped, fragment dropped, tracking params
       -- removed + rest sorted, trailing slash stripped
       (CASE WHEN m.doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
         || '://www.' || d.source || '.example.com/docs/' || CAST(m.doc_id AS VARCHAR)
         || (CASE WHEN m.doc_id % 4 = 0 THEN '?a=1&b=2'
                  WHEN m.doc_id % 4 = 1 THEN '?z=1'
                  ELSE '' END) AS canon_url
       , comp.compress_ratio_ppm, comp.compress_ratio_ppm >= 200000 AS comp_keep
FROM m JOIN documents d ON m.doc_id = d.doc_id
JOIN (__LANGID__) lang ON m.doc_id = lang.doc_id
JOIN (__ENC__) enc ON m.doc_id = enc.doc_id
JOIN (SELECT * FROM (VALUES __COMP__) v(doc_id, compress_ratio_ppm)) comp ON m.doc_id = comp.doc_id
"""

TEXT_ENC_SQL = """
WITH blob AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0 THEN chr(1) ELSE '' END
              || CASE WHEN doc_id % 4 = 1 THEN '�' ELSE '' END
              || CASE WHEN doc_id % 5 = 2 THEN ' Ã© tail' ELSE '' END AS b
  FROM documents
),
cnt AS (
  SELECT doc_id, len(b) AS n,
         len(b) - len(replace(b, '�', '')) AS repl,
         len(b) - len(regexp_replace(b, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) AS ctrl,
         len(regexp_extract_all(b, '(Ã[©¨«¯±¼½¾€‚„†‰‘’“”]|â€[™œ˜"]|Â[ °«»])', 1)) AS moji
  FROM blob
)
SELECT doc_id,
       CASE WHEN n > 0 THEN CAST(floor(repl * 1000000.0 / n) AS BIGINT) ELSE 0 END AS replacement_ppm,
       CASE WHEN n > 0 THEN CAST(floor(ctrl * 1000000.0 / n) AS BIGINT) ELSE 0 END AS control_ppm,
       CASE WHEN n > 0 THEN CAST(floor(moji * 1000000.0 / n) AS BIGINT) ELSE 0 END AS mojibake_ppm,
       (CASE WHEN n > 0 THEN CAST(floor(repl * 1000000.0 / n) AS BIGINT) ELSE 0 END
        + CASE WHEN n > 0 THEN CAST(floor(ctrl * 1000000.0 / n) AS BIGINT) ELSE 0 END
        + CASE WHEN n > 0 THEN CAST(floor(moji * 1000000.0 / n) AS BIGINT) ELSE 0 END) <= 2000 AS enc_keep
FROM cnt
"""


def text_langid(spark, sf_dir):
    """Language-ID heuristic: marker-stopword argmax."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textstats.detect_language(F.col("text")).alias("lang_detected")
    )


TEXT_LANGID_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
s AS (
  SELECT doc_id,
    len(list_filter(t, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS s_en,
    len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], x))) AS s_de,
    len(list_filter(t, x -> list_contains(['le','la','les','et','est','une','que','des'], x))) AS s_fr,
    len(list_filter(t, x -> list_contains(['el','la','los','y','es','que','una','de'], x))) AS s_es
  FROM tok
)
SELECT doc_id,
  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       ELSE 'es' END AS lang_detected
FROM s
"""

# splice the langid subquery into the merged profile oracle (plain
# string assembly — TEXT_LANGID_SQL is defined after TEXT_PROFILE_SQL)
TEXT_PROFILE_SQL = TEXT_PROFILE_SQL.replace("__LANGID__", TEXT_LANGID_SQL).replace("__ENC__", TEXT_ENC_SQL)


def _text_profile_sql() -> str:
    """Lazy builder: embeds the pinned-zlib compression-ratio VALUES
    (operators/textstats.compression_ratio's exact integer ppm,
    recomputed off-Spark with the same interpreter's zlib)."""
    import zlib

    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"'{_ORACLE_SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()

    def ppm(t):
        raw = (t or "").encode("utf-8")
        if not raw:
            return 0
        return len(zlib.compress(raw, 6)) * 1_000_000 // len(raw)

    vals = ", ".join(f"({d}, {ppm(t)})" for d, t in rows)
    return TEXT_PROFILE_SQL.replace("__COMP__", vals)

# ---------------------------------------------------------------- dedup extensions


def dedup_exact_summary(spark, sf_dir):
    """Exact dedup: corpus size vs distinct normalized-content hashes
    (the groupBy-hash strategy; pairs table is empty on this corpus)."""
    docs = _t(spark, sf_dir, "documents")
    norm = dedup.normalized_text(F.col("text"))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(norm)).alias("n_unique"),
    )


DEDUP_EXACT_SQL = """
SELECT count(*) AS n_docs,
       count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS n_unique
FROM documents
"""


def dedup_ngram_jaccard3(spark, sf_dir):
    """Near-dup pairs by word-TRIgram Jaccard ≥ 0.8 — realistic
    selectivity (unigram sets on this synthetic corpus degenerate to
    all-pairs-similar; trigram sequences are distinctive).  This is
    the bench-scale variant."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.8, n=3)


DEDUP_JACCARD3_SQL = """
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT id, unnest(list_distinct(list_transform(generate_series(1, len(t) - 2),
                i -> coalesce(array_to_string(list_slice(t, i, i + 2), ' '), '')))) AS gram
  FROM toks WHERE len(t) >= 3
),
sizes AS (SELECT id, count(*) AS set_size FROM grams GROUP BY id),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(shared AS DOUBLE) / (sa.set_size + sb.set_size - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE shared * 1000000 >= 800000 * (sa.set_size + sb.set_size - shared)
"""


# component-closure oracle over a pair query spliced in at __PAIRS__
# (plain string assembly keeps each pair query single-sourced)
_DEDUP_CLUSTERS_TEMPLATE = """
WITH RECURSIVE pr AS (__PAIRS__),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION
  SELECT id_b, id_a FROM pr
),
reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM edges e JOIN reach r ON e.src = r.id
),
comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
"""


def dedup_minhash_lsh3(spark, sf_dir):
    """MinHash+LSH on trigram shingles — the bench-scale configuration
    (distinct shingles → sane bucket sizes)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.5, num_hashes=16, bands=8, shingle_n=3)


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (16 hashes, 8 bands) — the
    linear-candidate scale path."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.5, num_hashes=16, bands=8, shingle_n=1)


def _minhash_oracle_sql(shingle_n: int, num_hashes: int = 16, bands: int = 8,
                        threshold: float = 0.5) -> str:
    """DuckDB oracle for minhash_lsh_pairs: replays the exact pipeline
    (md5 gram hash → affine rehash mins → banding) with the same
    deterministic coefficients, but generates candidates by an O(n²)
    pair scan (fine at oracle SF) instead of the bucket join — a pair
    collides in LSH iff some band's signature slice matches, which the
    pair scan checks directly."""
    p = dedup._MINHASH_P
    rows_per_band = num_hashes // bands
    if shingle_n == 1:
        grams = "SELECT DISTINCT id, unnest(toks) AS gram FROM toks"
    else:
        grams = f"""SELECT DISTINCT id, unnest(
      CASE WHEN len(toks) >= {shingle_n}
           THEN list_transform(generate_series(1, len(toks) - {shingle_n - 1}),
                               i -> array_to_string(list_slice(toks, i, i + {shingle_n - 1}), ' '))
           ELSE [] END) AS gram FROM toks"""
    sig_cols = []
    for i in range(num_hashes):
        a, b = dedup._minhash_params(i)
        sig_cols.append(f"min((h * {a} + {b}) % {p}) AS s{i}")
    band_pred = " OR ".join(
        "(" + " AND ".join(
            f"a.s{bnd * rows_per_band + r} = b.s{bnd * rows_per_band + r}"
            for r in range(rows_per_band)
        ) + ")"
        for bnd in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
grams AS ({grams}),
hashes AS (
  SELECT id, ('0x' || substr(md5(gram), 1, 15))::BIGINT % {p} AS h FROM grams
),
sigs AS (SELECT id, {', '.join(sig_cols)} FROM hashes GROUP BY id)
SELECT a.id AS id_a, b.id AS id_b,
       round(({matches}) / {float(num_hashes)}, 6) AS est_jaccard
FROM sigs a JOIN sigs b ON a.id < b.id
WHERE ({band_pred})
  AND ({matches}) / {float(num_hashes)} >= {threshold}
"""


def dedup_end_to_end(spark, sf_dir):
    """The COMPLETE corpus-dedup pipeline a training-data user runs, in
    one gate: raw documents → MinHash+LSH candidate pairs (trigram
    shingles, the linear-candidate 100 TB path) → connected components
    → survivor table with per-cluster sizes.  Supersedes the r2
    trigram-Jaccard cluster gate (same clustering machinery, now fed
    by the production MinHash path instead of the O(n²)-oracle Jaccard
    pairs, plus the cluster-size rollup a dedup report needs).

    Scale shape: pairs are LSH-banded (no self-join), components
    iterate over the pair graph only (tiny vs corpus), sizes are one
    window over the final assignment — the corpus itself is touched
    exactly twice (shingle pass + final left join)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, threshold=0.5, num_hashes=16, bands=8, shingle_n=3
    ).localCheckpoint()
    # score_col engages the quality survivor policy (keep the LONGEST
    # member, ties → lowest id); the id policy stays derivable as
    # cluster_id == doc_id, so one call value-checks both (r6)
    surv = dedup.dedup_survivors(
        docs.select("doc_id", "n_chars"), pairs, score_col="n_chars"
    )
    # r7 incremental-components pin: split the SAME pairs into an
    # arbitrary deterministic old/shard halves, run the full
    # components on the old half and ADMIT the shard incrementally —
    # the oracle emits the FULL closure's cluster_id for this column,
    # so the hash match proves incremental ≡ full at driver level
    # (the component tier's member of the incremental family)
    old_pairs = pairs.filter((F.col("id_a") + F.col("id_b")) % 2 == 0)
    shard_pairs = pairs.filter((F.col("id_a") + F.col("id_b")) % 2 != 0)
    labels = dedup.connected_components(old_pairs)
    inc = dedup.connected_components_incremental(
        shard_pairs, labels
    ).withColumnRenamed("id", "doc_id").withColumnRenamed(
        "cluster_id", "_inc"
    )
    return surv.join(inc, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("doc_id")).alias("is_canonical"),
        F.col("is_canonical").alias("q_canonical"),
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("bigint").alias("cluster_size"),
        F.coalesce("_inc", F.col("doc_id")).alias("inc_cluster_id"),
    )


DEDUP_E2E_SQL = (
    _DEDUP_CLUSTERS_TEMPLATE
    .replace("__PAIRS__", _minhash_oracle_sql(shingle_n=3))
    .replace(
        """SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""",
        """SELECT doc_id, cluster_id, is_canonical,
       row_number() OVER (
         PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
       ) = 1 AS q_canonical,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       cluster_id AS inc_cluster_id
FROM (
  SELECT d.doc_id, d.n_chars,
         coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
) assigned""",
    )
)

_CURATION_RATES = {"en": 10, "zh": 40}  # stratified: downsample en, boost zh


def curation_suite(spark, sf_dir):
    """Training-data curation in one tagged gate:
    - 'sample': reproducible hash sampling, stratified by lang
      (20% default; en downsampled to 10%, zh boosted to 40% — the
      corpus language-balancing move),
    - 'pack'  : concat-then-chunk packing of docs into 4096-token
      blocks per lang (start block | offset, end block),
    - 'tfidf' : top-3 TF-IDF terms per document over the corpus,
    - 'hh'    : exact top-5 corpus terms via the candidate/verify
      heavy-hitter sketch (operators/sketch.py — no full-vocabulary
      shuffle),
    - 'quant' : per-lang n_chars quantiles (exact percentile; the
      approx GK path is pytest-bounded in test_sketch.py),
    - 'rank'  : integer-exact PageRank source authority over the
      nation trade graph (r7 — operators/graph.py, pinned replay).
    All pure column plans (operators/curation.py, operators/sketch.py)."""
    from .operators import curation, sketch

    docs = _t(spark, sf_dir, "documents")
    sample = curation.hash_sample(
        docs, rate_pct=20, key_col="doc_id", salt="s1:",
        stratum_col="lang", stratum_rates=_CURATION_RATES,
    ).select(
        F.lit("sample").alias("suite_case"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("lang").alias("v_str"),
        F.lit(-1.0).alias("v_num"),
    )
    pack = curation.pack_sequential(
        docs, token_col="n_chars", budget=4096, order_col="doc_id", stratum_col="lang"
    ).select(
        F.lit("pack").alias("suite_case"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "lang", F.col("start_block").cast("string"),
                    F.col("block_offset").cast("string")).alias("v_str"),
        F.col("end_block").cast("double").alias("v_num"),
    )
    packed_df = curation.pack_sequential(
        docs, token_col="n_chars", budget=4096, order_col="doc_id", stratum_col="lang"
    )
    packb = curation.pack_blocks(
        packed_df, token_col="n_chars", budget=4096, group_cols=["lang"]
    ).select(
        F.lit("packb").alias("suite_case"),
        F.concat_ws(
            "|", "lang", F.col("block").cast("string"),
            F.col("doc_id").cast("string"),
        ).alias("k"),
        F.col("seg_offset").cast("string").alias("v_str"),
        F.col("seg_len").cast("double").alias("v_num"),
    )
    tfidf = curation.tfidf_top_terms(docs, k=3).select(
        F.lit("tfidf").alias("suite_case"),
        F.concat_ws("|", F.col("doc_id").cast("string"), F.col("rnk").cast("string")).alias("k"),
        F.col("term").alias("v_str"),
        F.col("tfidf").alias("v_num"),
    )
    # 'lenstats': corpus length distribution per language (folded in to
    # free the text_length_stats registry slot for pii_scrub)
    lenstats = text_length_stats(spark, sf_dir).select(
        F.lit("lenstats").alias("suite_case"),
        F.col("lang"),
        F.expr(
            "stack(3, 'n_docs', CAST(n_docs AS DOUBLE), 'avg_chars', avg_chars,"
            " 'median_chars', median_chars) AS (stat, v)"
        ),
    ).select(
        "suite_case",
        F.concat_ws("|", "lang", "stat").alias("k"),
        F.lit("").alias("v_str"),
        F.col("v").alias("v_num"),
    )
    # 'chunk': context-window chunking (64-token windows, 16 overlap) —
    # chunk text carried as md5 to keep compare rows narrow
    chunk = curation.chunk_documents(docs, chunk_tokens=64, overlap=16).select(
        F.lit("chunk").alias("suite_case"),
        F.concat_ws("|", F.col("doc_id").cast("string"), F.col("chunk_idx").cast("string")).alias("k"),
        F.md5(F.col("chunk_text")).alias("v_str"),
        F.col("n_tokens").cast("double").alias("v_num"),
    )
    words = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    hh_topk, _hh_bound = sketch.heavy_hitters(words, "w", 5)
    hh = hh_topk.select(
        F.lit("hh").alias("suite_case"),
        F.col("w").alias("k"),
        F.lit("").alias("v_str"),
        F.col("cnt").cast("double").alias("v_num"),
    )
    quant = sketch.quantile_summary(
        docs, "n_chars", [0.25, 0.5, 0.75, 0.9], stratum_col="lang"
    ).select(
        F.lit("quant").alias("suite_case"),
        F.concat_ws(
            "|", "lang",
            F.concat(F.lit("p"), (F.col("prob") * 100).cast("int").cast("string")),
        ).alias("k"),
        F.lit("").alias("v_str"),
        F.col("quantile").alias("v_num"),
    )
    # 'report': the one-row dataset card (curation.corpus_report)
    # melted to long rows; averages computed from integer sums inside
    # the operator, so the cross-engine values are order-independent
    report = curation.corpus_report(docs).selectExpr(
        "stack(6, 'n_docs', CAST(n_docs AS DOUBLE),"
        " 'total_tokens', CAST(total_tokens AS DOUBLE),"
        " 'avg_tokens', avg_tokens,"
        " 'exact_dup_rate', exact_dup_rate,"
        " 'avg_quality', avg_quality,"
        " 'median_chars', median_chars) AS (stat, v)"
    ).select(
        F.lit("report").alias("suite_case"),
        F.col("stat").alias("k"),
        F.lit("").alias("v_str"),
        F.col("v").alias("v_num"),
    )
    # 'src': domain-level rollup (curation.source_stats) — the
    # URL/domain curation tier, one row per (source, stat)
    src = curation.source_stats(docs).selectExpr(
        "source",
        "stack(5, 'n_docs', CAST(n_docs AS DOUBLE),"
        " 'total_tokens', CAST(total_tokens AS DOUBLE),"
        " 'avg_quality', avg_quality,"
        " 'exact_dup_rate', exact_dup_rate,"
        " 'avg_chars', avg_chars) AS (stat, v)"
    ).select(
        F.lit("src").alias("suite_case"),
        F.concat_ws("|", "source", "stat").alias("k"),
        F.lit("").alias("v_str"),
        F.col("v").alias("v_num"),
    )
    # 'bloom': the membership sketch's full 64-bit word map over doc
    # ids (4096 bits, k=3) — deterministic md5 bit positions, so the
    # filter contents are value-checked bit-for-bit cross-engine
    bloom = sketch.bloom_build(
        docs.select("doc_id"), "doc_id", num_bits=4096, k=3
    ).select(
        F.lit("bloom").alias("suite_case"),
        F.col("word_idx").cast("string").alias("k"),
        F.col("word").cast("string").alias("v_str"),
        F.lit(-1.0).alias("v_num"),
    )
    # 'schunk': sentence-aware chunking (budget walk resets per chunk;
    # a sentence is never split) — the embedding/RAG chunking mode
    schunk = curation.chunk_by_sentences(docs, budget_tokens=64).select(
        F.lit("schunk").alias("suite_case"),
        F.concat_ws("|", F.col("doc_id").cast("string"), F.col("chunk_idx").cast("string")).alias("k"),
        F.md5(F.col("chunk_text")).alias("v_str"),
        F.col("n_tokens").cast("double").alias("v_num"),
    )
    # 'vocab' (r6): the corpus vocabulary report — token/term/hapax
    # totals + exact top-100 coverage ppm, the tokenizer-design stats
    vocab = curation.vocab_report(docs).selectExpr(
        "stack(4, 'n_tokens', CAST(n_tokens AS DOUBLE),"
        " 'n_terms', CAST(n_terms AS DOUBLE),"
        " 'hapax_terms', CAST(hapax_terms AS DOUBLE),"
        " 'top_coverage_ppm', CAST(top_coverage_ppm AS DOUBLE)) AS (stat, v)"
    ).select(
        F.lit("vocab").alias("suite_case"),
        F.col("stat").alias("k"),
        F.lit("").alias("v_str"),
        F.col("v").alias("v_num"),
    )
    # 'prof' (r7): one-scan table profile of the corpus — per column
    # nulls / exact distincts / min / max (the delivery-validation
    # report); md5 the stringified extrema so long text stays bounded
    prof = sketch.table_profile(docs).select(
        F.lit("prof").alias("suite_case"),
        F.col("column").alias("k"),
        F.concat_ws(
            "|",
            F.col("n_rows").cast("string"),
            F.col("n_nulls").cast("string"),
            F.md5(F.coalesce(F.col("min_str"), F.lit(""))),
            F.md5(F.coalesce(F.col("max_str"), F.lit(""))),
        ).alias("v_str"),
        F.col("n_distinct").cast("double").alias("v_num"),
    )
    # 'rank' (r7): source-authority PageRank — exact-integer iterations
    # over the nation trade graph (customer → supplier via orders ×
    # lineitem), every score_micro vs the pinned pure-Python replay
    from .operators import graph as graph_ops

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ordr = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(ordr, li.l_orderkey == ordr.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
    )
    rank = graph_ops.pagerank(edges, iters=_PAGERANK_ITERS).select(
        F.lit("rank").alias("suite_case"),
        F.col("node").cast("string").alias("k"),
        F.lit("").alias("v_str"),
        F.col("score_micro").cast("double").alias("v_num"),
    )
    # 'rankw' (r7): the WEIGHTED variant over the same graph — edge
    # weight = lineitem count per (cust_nation, supp_nation), so mass
    # flows proportionally to trade volume; replayed by the same
    # pinned pagerank_replay on 3-tuples
    wedges = (
        li.join(ordr, li.l_orderkey == ordr.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    rankw = graph_ops.pagerank(
        wedges, iters=_PAGERANK_ITERS, weight_col="w"
    ).select(
        F.lit("rankw").alias("suite_case"),
        F.col("node").cast("string").alias("k"),
        F.lit("").alias("v_str"),
        F.col("score_micro").cast("double").alias("v_num"),
    )
    # 'pdif' (r8): profile drift between two deliveries — the same
    # documents columns with a planted lang null-burst (%3 → NULL);
    # per column status/flags/null-ppms/distincts value-checked
    prof_cols = ["doc_id", "lang", "source", "n_chars"]
    docs_sel = _t(spark, sf_dir, "documents").select(*prof_cols)
    docs_mut = docs_sel.withColumn(
        "lang",
        F.when(F.col("doc_id") % 3 == 0, None).otherwise(F.col("lang")),
    )
    pdif = sketch.profile_diff(
        sketch.table_profile(docs_sel), sketch.table_profile(docs_mut)
    )
    pdif_rows = _suite_rows(
        pdif, "pdif", F.col("column"),
        v_str=F.concat_ws(
            "|", F.col("status"), F.col("flags"),
            F.col("null_ppm_old").cast("string"),
            F.col("null_ppm_new").cast("string"),
            F.col("distinct_old").cast("string"),
            F.col("distinct_new").cast("string"),
        ),
        v_num=F.col("flagged").cast("int").cast("double"),
    )
    # 'tri' (r8): triangle census over the same trade graph —
    # degree-ordered wedge enumeration (Suri & Vassilvitskii 2011),
    # per-node triangle counts + exact-ppm local clustering
    # coefficient, replayed by plain SQL self-joins
    tri = graph_ops.triangle_census(edges).select(
        F.lit("tri").alias("suite_case"),
        F.col("node").cast("string").alias("k"),
        F.concat_ws(
            "|", F.col("deg").cast("string"), F.col("n_tri").cast("string")
        ).alias("v_str"),
        F.col("lcc_ppm").cast("double").alias("v_num"),
    )
    # 'hist' (r8): exact equi-depth histogram of the length column —
    # boundaries at exact rank quantiles (actual data values, the
    # engine's TakeOrdered cut pattern), ties never straddling a
    # boundary; the distribution view 'prof''s extrema can't give
    hist = _suite_rows(
        sketch.equi_depth_histogram(docs, "n_chars", 8),
        "hist",
        F.col("bucket"),
        v_str=F.concat_ws(
            "|", F.col("lo").cast("string"), F.col("hi").cast("string")
        ),
        v_num=F.col("n_rows").cast("double"),
    )
    # 'bfs' (r9): multi-source minimum-hop BFS over the THRESHOLDED
    # trade graph (edges with ≥150 lineitems — sparse enough for
    # real levels), sources = region-0 nations, directed; frontier
    # iteration with per-hop lineage truncation, early stop on empty
    # frontier — replayed by a DuckDB recursive CTE (UNION dedup on
    # (node, level) pairs keeps the path explosion bounded)
    bfs = graph_ops.bfs_levels(
        wedges.filter(F.col("w") >= 150).select("src", "dst"),
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 0)
        .select(F.col("n_nationkey").alias("node")),
        directed=True,
    ).select(
        F.lit("bfs").alias("suite_case"),
        F.col("node").cast("string").alias("k"),
        F.lit("").alias("v_str"),
        F.col("level").cast("double").alias("v_num"),
    )
    # 'sssp' (r9): weighted shortest paths over the SAME thresholded
    # trade graph 'bfs' walks, weight = lineitem count per edge
    # (micro=1: exact integer min-plus distances) — frontier
    # Bellman–Ford on the engine, pinned pure-Python Dijkstra in the
    # oracle (graph.sssp_replay); min-hop ≠ min-cost is the point
    ssp = graph_ops.sssp(
        wedges.filter(F.col("w") >= 150),
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 0)
        .select(F.col("n_nationkey").alias("node")),
        directed=True, micro=1,
    ).select(
        F.lit("sssp").alias("suite_case"),
        F.col("node").cast("string").alias("k"),
        F.lit("").alias("v_str"),
        F.col("dist_micro").cast("double").alias("v_num"),
    )
    # ('core' lives in pj_exists_suite — the k-core loop's per-round
    # jobs would distort this BENCH headline's timing; the
    # non-bench suite pays the same correctness gate without skewing
    # the perf signal)
    # 'dq' (r9): the data-quality contract gate — five named
    # row-level rules over orders in ONE single-aggregate scan;
    # FALSE-or-NULL counts as a violation (a NULL predicate must not
    # pass), exact integer ppm, pass flag as engine-portable
    # boolean-string
    dq = sketch.validate_rules(_t(spark, sf_dir, "orders"), {
        "price_positive": "o_totalprice > 0",
        "status_known": "o_orderstatus IN ('O', 'F', 'P')",
        "date_present": "o_orderdate IS NOT NULL",
        "price_cap": "o_totalprice < 400000",
        "null_affirm": "CASE WHEN o_orderkey % 10 = 0 THEN NULL "
                       "ELSE o_totalprice > 0 END",
    }).select(
        F.lit("dq").alias("suite_case"),
        F.col("rule").alias("k"),
        F.concat_ws(
            "|", F.col("n_rows").cast("string"),
            F.col("n_violations").cast("string"),
            F.col("passed").cast("string"),
        ).alias("v_str"),
        F.col("violation_ppm").cast("double").alias("v_num"),
    )
    # 'corr' (r9): one-pass pairwise Pearson over the lineitem
    # numeric columns — every co-moment an exact DECIMAL(38,0) sum
    # (order-free, shard-mergeable), the corr one fixed IEEE-double
    # expression over those exact integers (so even the float step
    # replays bit-for-bit); n + Σx + Σxy value-checked as exact
    # integer strings alongside
    corr = sketch.corr_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    ).select(
        F.lit("corr").alias("suite_case"),
        F.concat_ws("|", "col_x", "col_y").alias("k"),
        F.concat_ws(
            "|", F.col("n").cast("string"), F.col("sum_x").cast("string"),
            F.col("sum_xy").cast("string"),
        ).alias("v_str"),
        F.col("corr").alias("v_num"),
    )
    return (
        sample.unionByName(pack).unionByName(tfidf).unionByName(lenstats)
        .unionByName(chunk).unionByName(hh).unionByName(quant)
        .unionByName(report).unionByName(src).unionByName(bloom)
        .unionByName(schunk).unionByName(packb).unionByName(vocab)
        .unionByName(prof).unionByName(rank).unionByName(rankw)
        .unionByName(tri).unionByName(hist).unionByName(pdif_rows)
        .unionByName(corr).unionByName(bfs).unionByName(ssp)
        .unionByName(dq)
    )


_PAGERANK_ITERS = 6


def _curation_suite_sql() -> str:
    """CURATION_SUITE_SQL + the 'rank' branch from the pinned
    pure-Python PageRank replay (graph.pagerank_replay — identical
    integer divisions, base, dangling handling) over the same nation
    trade graph read off-Spark from the driver's parquet."""
    import duckdb

    from .operators import graph as graph_ops

    edges = duckdb.sql(
        f"""SELECT DISTINCT c.c_nationkey, s.s_nationkey
        FROM '{_ORACLE_SF_DIR}/lineitem.parquet' l
        JOIN '{_ORACLE_SF_DIR}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
        JOIN '{_ORACLE_SF_DIR}/customer.parquet' c ON o.o_custkey = c.c_custkey
        JOIN '{_ORACLE_SF_DIR}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey"""
    ).fetchall()
    score = graph_ops.pagerank_replay(
        [(int(a), int(b)) for a, b in edges], iters=_PAGERANK_ITERS
    )
    vals = ", ".join(f"({n}, {s})" for n, s in sorted(score.items()))
    wedges = duckdb.sql(
        f"""SELECT c.c_nationkey, s.s_nationkey, count(*)
        FROM '{_ORACLE_SF_DIR}/lineitem.parquet' l
        JOIN '{_ORACLE_SF_DIR}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
        JOIN '{_ORACLE_SF_DIR}/customer.parquet' c ON o.o_custkey = c.c_custkey
        JOIN '{_ORACLE_SF_DIR}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
    ).fetchall()
    wscore = graph_ops.pagerank_replay(
        [(int(a), int(b), int(w)) for a, b, w in wedges], iters=_PAGERANK_ITERS
    )
    wvals = ", ".join(f"({n}, {s})" for n, s in sorted(wscore.items()))
    # r9 'sssp': pinned Dijkstra over the thresholded directed trade
    # graph (same fixture as 'bfs'), integer weights (micro=1)
    seeds = [
        int(r[0]) for r in duckdb.sql(
            f"SELECT n_nationkey FROM '{_ORACLE_SF_DIR}/nation.parquet' "
            "WHERE n_regionkey = 0"
        ).fetchall()
    ]
    sdist = graph_ops.sssp_replay(
        [(int(a), int(b), int(w)) for a, b, w in wedges if int(w) >= 150],
        seeds, directed=True, micro=1,
    )
    svals = ", ".join(f"({n}, {d})" for n, d in sorted(sdist.items()))
    return (
        CURATION_SUITE_SQL
        + f"""
UNION ALL
SELECT 'rank', CAST(node AS VARCHAR), '', CAST(score_micro AS DOUBLE)
FROM (VALUES {vals}) pr(node, score_micro)
UNION ALL
SELECT 'rankw', CAST(node AS VARCHAR), '', CAST(score_micro AS DOUBLE)
FROM (VALUES {wvals}) prw(node, score_micro)
UNION ALL
SELECT 'sssp', CAST(node AS VARCHAR), '', CAST(dist_micro AS DOUBLE)
FROM (VALUES {svals}) sp(node, dist_micro)
UNION ALL
SELECT 'prof', col_name,
       CAST(n_rows AS VARCHAR) || '|' || CAST(n_nulls AS VARCHAR) || '|' ||
       md5(coalesce(min_str, '')) || '|' || md5(coalesce(max_str, '')),
       CAST(n_distinct AS DOUBLE)
FROM (
  SELECT unnest(['doc_id', 'text', 'lang', 'source', 'n_chars']) AS col_name,
         unnest([CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(count(*) AS BIGINT)]) AS n_rows,
         unnest([sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END),
                 sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
                 sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
                 sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
                 sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)]) AS n_nulls,
         unnest([count(DISTINCT doc_id), count(DISTINCT text),
                 count(DISTINCT lang), count(DISTINCT source),
                 count(DISTINCT n_chars)]) AS n_distinct,
         unnest([CAST(min(doc_id) AS VARCHAR), min(text), min(lang),
                 min(source), CAST(min(n_chars) AS VARCHAR)]) AS min_str,
         unnest([CAST(max(doc_id) AS VARCHAR), max(text), max(lang),
                 max(source), CAST(max(n_chars) AS VARCHAR)]) AS max_str
  FROM documents
) profrows
UNION ALL
SELECT 'pdif', col_name,
       'kept' || '|' || flags || '|' || CAST(ppm_old AS VARCHAR) || '|' ||
       CAST(ppm_new AS VARCHAR) || '|' || CAST(d_old AS VARCHAR) || '|' ||
       CAST(d_new AS VARCHAR),
       CAST(CASE WHEN flags <> '' THEN 1 ELSE 0 END AS DOUBLE)
FROM (
  WITH pdold AS (
    SELECT unnest(['doc_id','lang','source','n_chars']) AS col_name,
           unnest([count(*), count(*), count(*), count(*)]) AS rows_o,
           unnest([sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END),
                   sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
                   sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
                   sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)]) AS nulls_o,
           unnest([count(DISTINCT doc_id), count(DISTINCT lang),
                   count(DISTINCT source), count(DISTINCT n_chars)]) AS d_old
    FROM documents
  ),
  pdmut AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang,
           source, n_chars
    FROM documents
  ),
  pdnew AS (
    SELECT unnest(['doc_id','lang','source','n_chars']) AS col_name,
           unnest([count(*), count(*), count(*), count(*)]) AS rows_n,
           unnest([sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END),
                   sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
                   sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
                   sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)]) AS nulls_n,
           unnest([count(DISTINCT doc_id), count(DISTINCT lang),
                   count(DISTINCT source), count(DISTINCT n_chars)]) AS d_new
    FROM pdmut
  ),
  pdj AS (
    SELECT o.col_name,
           CASE WHEN o.rows_o > 0
                THEN CAST((o.nulls_o * 1000000) // o.rows_o AS BIGINT)
                ELSE 0 END AS ppm_old,
           CASE WHEN n.rows_n > 0
                THEN CAST((n.nulls_n * 1000000) // n.rows_n AS BIGINT)
                ELSE 0 END AS ppm_new,
           o.d_old, n.d_new
    FROM pdold o JOIN pdnew n USING (col_name)
  )
  SELECT col_name, ppm_old, ppm_new, d_old, d_new,
         concat_ws(',',
           CASE WHEN abs(ppm_new - ppm_old) > 10000
                THEN 'null_shift' END,
           CASE WHEN d_old > 0 AND d_new * 1000 < 500 * d_old
                THEN 'distinct_collapse' END,
           CASE WHEN d_new > 0 AND d_old * 1000 < 500 * d_new
                THEN 'distinct_surge' END) AS flags
  FROM pdj
) pdifrows
UNION ALL
SELECT 'tri', CAST(node AS VARCHAR),
       CAST(deg AS VARCHAR) || '|' || CAST(n_tri AS VARCHAR),
       CAST(lcc_ppm AS DOUBLE)
FROM (
  WITH traw AS (
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
  ),
  te AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM traw WHERE src <> dst
  ),
  tdeg AS (
    SELECT node, count(*) AS deg FROM (
      SELECT a AS node FROM te UNION ALL SELECT b FROM te
    ) nrows GROUP BY node
  ),
  ttri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM te e1
    JOIN te e2 ON e2.a = e1.a AND e2.b > e1.b
    JOIN te e3 ON e3.a = e1.b AND e3.b = e2.b
  ),
  tcnt AS (
    SELECT node, count(*) AS n_tri FROM (
      SELECT x AS node FROM ttri
      UNION ALL SELECT y FROM ttri
      UNION ALL SELECT z FROM ttri
    ) trows GROUP BY node
  )
  SELECT d.node, d.deg, coalesce(t.n_tri, 0) AS n_tri,
         CASE WHEN d.deg >= 2
              THEN (2 * coalesce(t.n_tri, 0) * 1000000)
                   // (d.deg * (d.deg - 1))
              ELSE 0 END AS lcc_ppm
  FROM tdeg d LEFT JOIN tcnt t USING (node)
) trirows
UNION ALL
SELECT 'hist', CAST(bucket AS VARCHAR),
       CAST(lo AS VARCHAR) || '|' || CAST(hi AS VARCHAR),
       CAST(n_rows AS DOUBLE)
FROM (
  WITH hvals AS (
    SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE n_chars IS NOT NULL
  ),
  hrnk AS (
    SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n
    FROM hvals
  ),
  -- exact rank cuts: cut_k = max of the lowest ceil(k*n/8) values —
  -- the same TakeOrdered formula the Spark operator uses
  hcuts AS (
    SELECT t.k, max(r.v) AS cut
    FROM hrnk r JOIN (VALUES (1),(2),(3),(4),(5),(6),(7)) t(k)
      ON r.rn <= (t.k * r.n + 7) // 8
    GROUP BY t.k
  ),
  hbucketed AS (
    SELECT v,
           coalesce((SELECT min(k) FROM hcuts WHERE hvals.v <= cut), 8) AS bucket
    FROM hvals
  )
  SELECT bucket, min(v) AS lo, max(v) AS hi, count(*) AS n_rows
  FROM hbucketed GROUP BY bucket
) histrows
"""
    )


CURATION_SUITE_SQL = """
WITH sample AS (
  SELECT doc_id, lang FROM documents
  WHERE ('0x' || substr(md5('s1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        < CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 40 ELSE 20 END
),
packed AS (
  SELECT doc_id, lang,
         sum(n_chars) OVER w - n_chars AS pre,
         sum(n_chars) OVER w AS cum
  FROM documents
  WINDOW w AS (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
),
tokens AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf * (ln(((SELECT count(*) FROM documents) + 1) / (df + 1)) + 1), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term
),
topk AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
)
SELECT 'sample' AS suite_case, CAST(doc_id AS VARCHAR) AS k, lang AS v_str, -1.0 AS v_num FROM sample
UNION ALL
SELECT 'pack', CAST(doc_id AS VARCHAR),
       lang || '|' || CAST(CAST(floor(pre / 4096) AS BIGINT) AS VARCHAR)
            || '|' || CAST(pre % 4096 AS VARCHAR),
       CAST(floor((cum - 1) / 4096) AS DOUBLE)
FROM packed
UNION ALL
SELECT 'packb',
       lang || '|' || CAST(b AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR),
       CAST(greatest(pre, b * 4096) - b * 4096 AS VARCHAR),
       CAST(least(cum, (b + 1) * 4096) - greatest(pre, b * 4096) AS DOUBLE)
FROM (
  SELECT doc_id, lang, pre, cum,
         unnest(generate_series(CAST(floor(pre / 4096) AS BIGINT),
                                CAST(floor((cum - 1) / 4096) AS BIGINT))) AS b
  FROM packed WHERE cum > pre
) pb
WHERE least(cum, (b + 1) * 4096) > greatest(pre, b * 4096)
UNION ALL
SELECT 'tfidf', CAST(doc_id AS VARCHAR) || '|' || CAST(rnk AS VARCHAR), term, tfidf
FROM topk WHERE rnk <= 3
UNION ALL
SELECT 'lenstats', lang || '|' || stat, '', v FROM (
  SELECT lang, unnest(['n_docs', 'avg_chars', 'median_chars']) AS stat,
         unnest([CAST(n_docs AS DOUBLE), avg_chars, median_chars]) AS v
  FROM ({TEXT_LENGTH_SQL_PLACEHOLDER}) ls
) s4
UNION ALL
SELECT 'chunk', CAST(doc_id AS VARCHAR) || '|' || CAST(k AS VARCHAR),
       md5(chunk_text),
       CAST(len(list_filter(string_split(chunk_text, ' '), t -> t <> '')) AS DOUBLE)
FROM (
  SELECT doc_id, k,
         array_to_string(toks[k * 48 + 1 : k * 48 + 64], ' ') AS chunk_text
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
    FROM documents
  ) b,
  unnest(generate_series(0, greatest((len(toks) - 64 + 47) // 48, 0))) AS t(k)
  WHERE len(toks) > 0
) c
UNION ALL
SELECT 'hh', word, '', CAST(cnt AS DOUBLE) FROM (
  SELECT term AS word, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rnk
  FROM tokens GROUP BY term
) h WHERE rnk <= 5
UNION ALL
SELECT 'quant', lang || '|' || lbl, '', q FROM (
  SELECT lang,
         unnest(['p25', 'p50', 'p75', 'p90']) AS lbl,
         unnest([quantile_cont(n_chars, 0.25), quantile_cont(n_chars, 0.5),
                 quantile_cont(n_chars, 0.75), quantile_cont(n_chars, 0.9)]) AS q
  FROM documents GROUP BY lang
) qq
UNION ALL
SELECT 'report', stat, '', v FROM (
  WITH rm AS (
    SELECT doc_id,
           CASE WHEN len(tokens) = 0 THEN 0 ELSE len(tokens) END AS ntok,
           CAST(length(text) AS DOUBLE) AS nchars,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ch,
           CASE WHEN len(ltokens) > 0
                THEN CAST(len(list_filter(ltokens, t -> list_contains(['the','and','of','to','is','in','that','it','a','an','for','on','with','as','was','are'], t))) AS DOUBLE) / len(ltokens)
                ELSE 0.0 END AS sw,
           CASE WHEN len(tokens) > 0
                THEN CAST(list_sum(list_transform(tokens, t -> length(t))) AS DOUBLE) / len(tokens)
                ELSE 0.0 END AS mwl
    FROM (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS tokens,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS ltokens
      FROM documents
    ) rb
  ),
  rq AS (
    SELECT doc_id, ntok, nchars, ch,
           CAST(round(round(least(ntok / 100.0, 1.0) * 0.4
                + least(sw / 0.2, 1.0) * 0.4
                + (CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.5 END) * 0.2, 6)
               * 1000000) AS BIGINT) AS qmicro
    FROM rm
  ),
  ragg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(ntok), 0) AS BIGINT) AS total_tokens,
           round(coalesce(sum(ntok), 0) / count(*), 2) AS avg_tokens,
           round(1.0 - CAST(count(DISTINCT ch) AS DOUBLE) / count(*), 6) AS exact_dup_rate,
           round(coalesce(sum(qmicro), 0) / count(*) / 1000000, 4) AS avg_quality,
           round(quantile_cont(nchars, 0.5), 1) AS median_chars
    FROM rq
  )
  SELECT unnest(['n_docs', 'total_tokens', 'avg_tokens', 'exact_dup_rate',
                 'avg_quality', 'median_chars']) AS stat,
         unnest([CAST(n_docs AS DOUBLE), CAST(total_tokens AS DOUBLE), avg_tokens,
                 exact_dup_rate, avg_quality, median_chars]) AS v
  FROM ragg
) rep
UNION ALL
SELECT 'src', source || '|' || stat, '', v FROM (
  WITH sb AS (
    SELECT source,
           list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS tokens,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS ltokens,
           CAST(length(text) AS DOUBLE) AS nchars,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ch
    FROM documents
  ),
  sq AS (
    SELECT source,
           CASE WHEN len(tokens) = 0 THEN 0 ELSE len(tokens) END AS ntok,
           nchars, ch,
           CAST(round(round(least(len(tokens) / 100.0, 1.0) * 0.4
                + least((CASE WHEN len(ltokens) > 0
                              THEN CAST(len(list_filter(ltokens, t -> list_contains(['the','and','of','to','is','in','that','it','a','an','for','on','with','as','was','are'], t))) AS DOUBLE) / len(ltokens)
                              ELSE 0.0 END) / 0.2, 1.0) * 0.4
                + (CASE WHEN (CASE WHEN len(tokens) > 0
                                   THEN CAST(list_sum(list_transform(tokens, t -> length(t))) AS DOUBLE) / len(tokens)
                                   ELSE 0.0 END) BETWEEN 3 AND 10
                        THEN 1.0 ELSE 0.5 END) * 0.2, 6)
               * 1000000) AS BIGINT) AS qmicro
    FROM sb
  ),
  sagg AS (
    SELECT source, count(*) AS n_docs, sum(ntok) AS total_tokens,
           round(sum(qmicro) / count(*) / 1000000.0, 4) AS avg_quality,
           round(1.0 - count(DISTINCT ch) * 1.0 / count(*), 6) AS exact_dup_rate,
           round(sum(nchars) / count(*), 2) AS avg_chars
    FROM sq GROUP BY source
  )
  SELECT source,
         unnest(['n_docs', 'total_tokens', 'avg_quality', 'exact_dup_rate', 'avg_chars']) AS stat,
         unnest([CAST(n_docs AS DOUBLE), CAST(total_tokens AS DOUBLE), avg_quality,
                 exact_dup_rate, avg_chars]) AS v
  FROM sagg
) srcq
UNION ALL
SELECT 'bloom', CAST(word_idx AS VARCHAR), CAST(word AS VARCHAR), -1.0 FROM (
  WITH bpos AS (
    SELECT doc_id, unnest([0, 1, 2]) AS i FROM documents
  ),
  bbits AS (
    SELECT (('0x' || substr(md5('b' || CAST(i AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4096) AS p
    FROM bpos
  ),
  bwords AS (
    SELECT p // 64 AS word_idx,
           CASE WHEN p % 64 = 63 THEN (-9223372036854775807 - 1)
                ELSE (1::BIGINT << CAST(p % 64 AS INT)) END AS w
    FROM bbits
  )
  SELECT word_idx, bit_or(w) AS word FROM bwords GROUP BY word_idx
) brows
"""
CURATION_SUITE_SQL = CURATION_SUITE_SQL.replace(
    "{TEXT_LENGTH_SQL_PLACEHOLDER}", TEXT_LENGTH_SQL
)

# 'schunk' branch (r5): sentence-aware chunking — the sentence split
# is replayed without lookbehind (RE2) by marking boundaries with
# chr(30), and the greedy budget walk is a per-doc recursive CTE whose
# counter resets exactly like the Spark fold's.
CURATION_SUITE_SQL = CURATION_SUITE_SQL + """
UNION ALL
SELECT 'schunk', CAST(doc_id AS VARCHAR) || '|' || CAST(chunk_idx AS VARCHAR),
       md5(chunk_text), CAST(n_tokens AS DOUBLE) FROM (
  WITH RECURSIVE sbase AS (
    SELECT doc_id,
           list_filter(
             string_split(regexp_replace(text, '([.!?])\\s+', '\\1' || chr(30), 'g'), chr(30)),
             s -> trim(s) <> '') AS sents
    FROM documents
  ),
  ssents AS (
    SELECT doc_id, i AS idx, sents[i] AS sent,
           len(list_filter(string_split_regex(trim(sents[i]), '\\s+'), x -> x <> '')) AS tok
    FROM sbase, unnest(generate_series(1, len(sents))) AS g(i)
  ),
  walk(doc_id, idx, chunk_idx, used) AS (
    SELECT doc_id, 1, 0, tok FROM ssents WHERE idx = 1
    UNION ALL
    SELECT s.doc_id, s.idx,
           CASE WHEN w.used + s.tok > 64 THEN w.chunk_idx + 1 ELSE w.chunk_idx END,
           CASE WHEN w.used + s.tok > 64 THEN s.tok ELSE w.used + s.tok END
    FROM walk w JOIN ssents s ON s.doc_id = w.doc_id AND s.idx = w.idx + 1
  )
  SELECT w.doc_id, w.chunk_idx,
         string_agg(s.sent, ' ' ORDER BY w.idx) AS chunk_text,
         sum(s.tok) AS n_tokens
  FROM walk w JOIN ssents s ON s.doc_id = w.doc_id AND s.idx = w.idx
  GROUP BY 1, 2
) scrows
UNION ALL
SELECT 'vocab', vstat, '', vval FROM (
  WITH vterms AS (
    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS term
    FROM documents
  ),
  vcnt AS (SELECT term, count(*) AS cnt FROM vterms GROUP BY term),
  vtot AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
           count(*) AS n_terms,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
    FROM vcnt
  ),
  vtop AS (
    SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS top_cnt
    FROM (SELECT cnt, term FROM vcnt ORDER BY cnt DESC, term ASC LIMIT 100)
  )
  SELECT 'n_tokens' AS vstat, CAST(n_tokens AS DOUBLE) AS vval FROM vtot
  UNION ALL SELECT 'n_terms', CAST(n_terms AS DOUBLE) FROM vtot
  UNION ALL SELECT 'hapax_terms', CAST(hapax AS DOUBLE) FROM vtot
  UNION ALL
  SELECT 'top_coverage_ppm',
         CAST((top_cnt::HUGEINT * 1000000 // greatest(n_tokens, 1)) AS DOUBLE)
  FROM vtot, vtop
) vrows
UNION ALL
-- 'corr' (r9): pairwise Pearson from exact integer co-moments
-- (HUGEINT ≡ Spark DECIMAL(38,0)); the corr double is the same fixed
-- IEEE expression over the same exact integers on both engines
SELECT 'corr', col_x || '|' || col_y,
       CAST(n AS VARCHAR) || '|' || CAST(sum_x AS VARCHAR)
         || '|' || CAST(sum_xy AS VARCHAR),
       CASE WHEN vx > 0 AND vy > 0
            THEN CAST(num AS DOUBLE)
                 / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))
       END
FROM (
  SELECT col_x, col_y, n, sum_x, sum_xy,
         n * sum_xy - sum_x * sum_y AS num,
         n * sum_xx - sum_x * sum_x AS vx,
         n * sum_yy - sum_y * sum_y AS vy
  FROM (
    WITH cmq AS (
      SELECT CAST(round(l_quantity * 1000000) AS BIGINT) AS cq,
             CAST(round(l_extendedprice * 1000000) AS BIGINT) AS cp,
             CAST(round(l_discount * 1000000) AS BIGINT) AS cd,
             CAST(round(l_tax * 1000000) AS BIGINT) AS ct
      FROM lineitem
    ),
    cpairs AS (
      SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, cq AS x, cp AS y FROM cmq
      UNION ALL SELECT 'l_quantity', 'l_discount', cq, cd FROM cmq
      UNION ALL SELECT 'l_quantity', 'l_tax', cq, ct FROM cmq
      UNION ALL SELECT 'l_extendedprice', 'l_discount', cp, cd FROM cmq
      UNION ALL SELECT 'l_extendedprice', 'l_tax', cp, ct FROM cmq
      UNION ALL SELECT 'l_discount', 'l_tax', cd, ct FROM cmq
    )
    SELECT col_x, col_y,
           CAST(count(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                           THEN 1 END) AS HUGEINT) AS n,
           coalesce(sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                             THEN x::HUGEINT END), 0) AS sum_x,
           coalesce(sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                             THEN y::HUGEINT END), 0) AS sum_y,
           coalesce(sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                             THEN x::HUGEINT * y END), 0) AS sum_xy,
           coalesce(sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                             THEN x::HUGEINT * x END), 0) AS sum_xx,
           coalesce(sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                             THEN y::HUGEINT * y END), 0) AS sum_yy
    FROM cpairs GROUP BY 1, 2
  ) cmoments
) corrrows
UNION ALL
-- 'bfs' (r9): recursive-CTE min-hop replay; UNION (not UNION ALL)
-- dedups (node, level) pairs so cyclic paths can't explode
SELECT 'bfs', CAST(node AS VARCHAR), '', CAST(min(level) AS DOUBLE)
FROM (
  WITH RECURSIVE bedges AS (
    SELECT c.c_nationkey AS s, sp.s_nationkey AS d
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier sp ON l.l_suppkey = sp.s_suppkey
    GROUP BY 1, 2
    HAVING count(*) >= 150
  ),
  bwalk(node, level) AS (
    SELECT n_nationkey, 0 FROM nation WHERE n_regionkey = 0
    UNION
    SELECT e.d, w.level + 1
    FROM bwalk w JOIN bedges e ON e.s = w.node
    WHERE w.level < 20
  )
  SELECT node, level FROM bwalk
) bfsrows
GROUP BY node
UNION ALL
SELECT 'dq', rule,
       CAST(n AS VARCHAR) || '|' || CAST(v AS VARCHAR) || '|'
         || CAST(v = 0 AS VARCHAR),
       CAST(CASE WHEN n > 0 THEN (v * 1000000) // n ELSE 0 END AS DOUBLE)
FROM (
  WITH dqa AS (
    SELECT count(*) AS n,
      count(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE)
                 THEN 1 END) AS v1,
      count(CASE WHEN NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE)
                 THEN 1 END) AS v2,
      count(CASE WHEN NOT coalesce(o_orderdate IS NOT NULL, FALSE)
                 THEN 1 END) AS v3,
      count(CASE WHEN NOT coalesce(o_totalprice < 400000, FALSE)
                 THEN 1 END) AS v4,
      count(CASE WHEN NOT coalesce(
                   CASE WHEN o_orderkey % 10 = 0 THEN NULL
                        ELSE o_totalprice > 0 END, FALSE)
                 THEN 1 END) AS v5
    FROM orders
  )
  SELECT 'price_positive' AS rule, n, v1 AS v FROM dqa
  UNION ALL SELECT 'status_known', n, v2 FROM dqa
  UNION ALL SELECT 'date_present', n, v3 FROM dqa
  UNION ALL SELECT 'price_cap', n, v4 FROM dqa
  UNION ALL SELECT 'null_affirm', n, v5 FROM dqa
) dqrows
"""


def dedup_simhash(spark, sf_dir):
    """SimHash fingerprints + Hamming-distance pairs via pigeonhole
    blocking.  r5: tagged suite — 'full' = whole-corpus pairs, 'inc' =
    the incremental shard-vs-index path (8-byte fingerprint index
    persisted for ids < cutoff, shard = the rest), which must equal
    the full pair set restricted to pairs touching the shard — the
    contract its docstring promises, now value-checked at driver
    level, not just in pytest."""
    docs = _t(spark, sf_dir, "documents")
    pair_key = F.concat_ws(
        "|", F.col("id_a").cast("string"), F.col("id_b").cast("string")
    )
    full = _suite_rows(
        dedup.simhash_pairs(docs, max_hamming=12), "full",
        pair_key, v_num=F.col("hamming"),
    )
    cutoff = _table_count(spark, sf_dir, "documents") // 2
    index = dedup.simhash_fingerprints(docs.filter(F.col("doc_id") < cutoff))
    shard = docs.filter(F.col("doc_id") >= cutoff)
    inc = _suite_rows(
        dedup.simhash_pairs(shard, max_hamming=12, index_fps=index), "inc",
        pair_key, v_num=F.col("hamming"),
    )
    return full.unionByName(inc)


def _simhash_suite_sql() -> str:
    base = _simhash_oracle_sql()
    return f"""
SELECT 'full' AS suite_case,
       CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR) AS k,
       '' AS v_str, CAST(hamming AS DOUBLE) AS v_num
FROM ({base}) s1
UNION ALL
-- incremental ≡ full restricted to pairs touching the shard: pairs
-- are (least, greatest), so id_b >= cutoff ⇔ at least one shard doc
SELECT 'inc', CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR),
       '', CAST(hamming AS DOUBLE)
FROM ({base}) s2
WHERE id_b >= (SELECT count(*) // 2 FROM documents)
"""


def _simhash_oracle_sql(max_hamming: int = 12, blocks: int = 4) -> str:
    """DuckDB oracle for simhash_pairs: same salted md5 token hashes
    and 60-bit majority-vote fingerprint; the pigeonhole blocking
    (candidates must share a 15-bit block) is checked directly on the
    O(n²) pair scan."""
    block_bits = 60 // blocks
    mask = (1 << block_bits) - 1
    share = " OR ".join(
        f"((a.fp >> {i * block_bits}) & {mask}) = ((b.fp >> {i * block_bits}) & {mask})"
        for i in range(blocks)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id, unnest(
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
),
th AS (
  SELECT id, ('0x' || substr(md5('sh:' || tok), 1, 15))::BIGINT AS h FROM toks
),
votes AS (
  SELECT id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) AS bits
  GROUP BY id, bit
),
fps AS (
  SELECT id,
         sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS fp
  FROM votes GROUP BY id
)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.fp, b.fp))::INT AS hamming
FROM fps a JOIN fps b ON a.id < b.id
WHERE ({share}) AND bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""

# ---------------------------------------------------------------- similarity extensions


def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 5 query vectors (exact ANN
    baseline; JVM-side dot products)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(emb, queries, k=10)


SIM_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))), 6) AS cos_sim
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 10
"""


SIM_NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.75
"""


def sim_embedding_neardup_lsh(spark, sf_dir):
    """Embedding-cosine near-dup, BOTH tiers in one tagged gate:
    'exact' = O(n²) self-join baseline; 'lsh' = hyperplane-blocked
    linear-candidate path (pairs must share the full 6-bit signature —
    the 100 TB path).  The oracle replays the identical deterministic
    hyperplane literals, so the LSH path is value-verified, not just
    recall-tested."""
    emb = _t(spark, sf_dir, "embeddings")
    # threshold 0.4 (not the production-ish 0.95/0.75): the synthetic
    # embeddings have no true near-dups, and a 0-row gate verifies
    # nothing — 0.4 yields ~59 exact pairs at sf0.01 so the cosine
    # math AND the blocking logic are value-checked on real rows.
    ex = similarity.embedding_neardup_pairs(emb, threshold=0.4, exact=True).select(
        F.lit("exact").alias("path"), "id_a", "id_b", "cos_sim"
    )
    lsh = similarity.embedding_neardup_pairs(
        emb, threshold=0.4, exact=False, dim=64, n_planes=6, seed=42
    ).select(F.lit("lsh").alias("path"), "id_a", "id_b", "cos_sim")
    return ex.unionByName(lsh)


def _neardup_lsh_oracle_sql(dim: int = 64, n_planes: int = 6, seed: int = 42,
                            threshold: float = 0.4) -> str:
    """DuckDB oracle for the LSH-blocked near-dup branch: the same
    hyperplanes baked as literals, signature = sign-bit sum, candidates
    share the full bucket, cosine computed in double and filtered on
    the ROUNDED value (matching the Spark operator exactly)."""
    planes = similarity._hyperplanes(dim, n_planes, seed)

    def arr(p: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"

    sig = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr(plane)}) >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    return f"""
WITH sigs AS (SELECT vec_id, embedding, ({sig}) AS bucket FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
  FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT 'lsh' AS path, id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {threshold}
"""


def _sim_neardup_lsh_sql(threshold: float = 0.4) -> str:
    exact = SIM_NEARDUP_SQL.replace(">= 0.75", f">= {threshold}")
    return f"""
SELECT 'exact' AS path, id_a, id_b, cos_sim FROM ({exact}) ex
UNION ALL
SELECT * FROM ({_neardup_lsh_oracle_sql()}) lsh
"""


def sim_lsh_ann_topk(spark, sf_dir):
    """LSH-bucketed approximate NN (random hyperplanes); recall vs
    brute force asserted in pytest.  The hyperplanes are deterministic
    driver-side constants, so the oracle bakes them in as literals and
    replays the identical bucket-then-rerank pipeline."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_ann_topk(emb, queries, dim=64, k=10, n_planes=6)


def _doc_assets(spark, sf_dir):
    """Deterministic multimodal asset table derived from documents:
    payload = UTF-8 bytes of the text (the container has no codecs, so
    the binary payloads are synthesized — the schema, batching and UDF
    plumbing are exactly what real image/audio payloads flow through)."""
    docs = _t(spark, sf_dir, "documents")
    mt = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        "doc_id",
        mt.alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        ((F.col("n_chars") % 10 + 1) * 1000).cast("int").alias("duration_ms"),
    )


def multimodal_features(spark, sf_dir):
    """mapInPandas decode/feature plumbing over binary payloads: byte
    sizes, content hashes, and the deterministic fake feature (sha256-
    derived — stands in for the stubbed codec tier)."""
    from .operators import multimodal

    feats = multimodal.extract_features(_doc_assets(spark, sf_dir))
    fsum = F.aggregate(
        F.col("feature").cast("array<double>"), F.lit(0.0), lambda a, v: a + v
    )
    return feats.select(
        "asset_id",
        "media_type",
        "payload_bytes",
        "content_hash",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
        F.round(fsum, 6).alias("feature_sum"),
    )


MULTIMODAL_FEATURES_SQL = """
WITH f AS (
  SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
         octet_length(encode(text)) AS payload_bytes,
         md5(text) AS content_hash,
         list_transform(generate_series(0, 7),
             i -> ('0x' || substr(sha256(text), 2*i + 1, 2))::INT / 255.0) AS feature
  FROM documents
)
SELECT asset_id, media_type, payload_bytes, content_hash,
       round(feature[1], 6) AS f0,
       round(list_sum(feature), 6) AS feature_sum
FROM f
"""


def multimodal_frames(spark, sf_dir):
    """Video frame-sampling plan: frames become rows BEFORE the decode
    UDF so the cluster parallelizes across frames, not videos."""
    from .operators import multimodal

    return multimodal.frame_sample_plan(_doc_assets(spark, sf_dir), every_ms=1000)


MULTIMODAL_FRAMES_SQL = """
SELECT doc_id AS asset_id, doc_id, fi.frame_idx AS frame_idx,
       fi.frame_idx * 1000 AS frame_ts_ms
FROM (
  SELECT doc_id, (n_chars % 10 + 1) AS n_frames FROM documents WHERE doc_id % 3 = 2
) v, LATERAL (SELECT unnest(generate_series(0, v.n_frames - 1)) AS frame_idx) fi
"""


def _phash_gate_ppm(text: str, variant: int, w: int = 24, h: int = 24) -> bytes:
    """Deterministic P6 payload for the pHash gate: the raster is
    sha256-expanded from the doc text (texture differs per doc, and
    duplicate texts yield identical images — real dedup behavior);
    variant 1 is a clipped +3 brightness shift, the canonical
    perturbation pHash is designed to survive (only the DC coefficient
    moves).  Pure Python/numpy — rerun verbatim by the pinned oracle."""
    import hashlib

    import numpy as np

    need = w * h * 3
    body = b""
    i = 0
    while len(body) < need:
        body += hashlib.sha256(f"{text}:{i}".encode("utf-8")).digest()
        i += 1
    a = np.frombuffer(body[:need], dtype=np.uint8)
    if variant:
        a = np.minimum(a.astype(np.int64) + 3, 255).astype(np.uint8)
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def _ahash_gate_wav(text: str, variant: int, n: int = 2048, rate: int = 8000) -> bytes:
    """Deterministic 16-bit mono WAV for the audio-fingerprint gate:
    samples are a sha256-expanded stream keyed by the doc text (white
    noise with doc-specific envelope); variant 1 halves the volume —
    the canonical perturbation ahash64 is level-invariant to.  Pure
    Python/numpy, rerun verbatim by the pinned oracle."""
    import hashlib
    import struct

    import numpy as np

    need = n * 2
    body = b""
    i = 0
    while len(body) < need:
        body += hashlib.sha256(f"wav:{text}:{i}".encode("utf-8")).digest()
        i += 1
    samples = np.frombuffer(body[:need], dtype="<i2").astype(np.int64)
    samples = samples // 2  # headroom so the variant halving never wraps
    if variant:
        samples = samples // 2
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _ahash_gate_assets(spark, sf_dir):
    """Audio-typed docs (doc_id % 3 == 1) → two synthetic WAV variants
    each (asset_id = doc_id·2 + variant)."""
    import pandas as pd

    variants = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .select(
            "doc_id", "text",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("variant"),
        )
    )

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"] * 2 + pdf["variant"],
                    "payload": [
                        _ahash_gate_wav(t, v)
                        for t, v in zip(pdf["text"], pdf["variant"])
                    ],
                }
            )

    return variants.mapInPandas(synth, "asset_id long, payload binary")


def _ahash_gate_hashes(spark, sf_dir):
    from .operators import multimodal

    return multimodal.ahash_assets(_ahash_gate_assets(spark, sf_dir))


def _vhash_gate_y4m(
    text: str, variant: int, n_frames: int = 6, w: int = 24, h: int = 24
) -> bytes:
    """Deterministic mono YUV4MPEG2 clip for the video-fingerprint
    gate: per-frame per-pixel noise sha256-expanded from the doc text
    (full-rank texture keeps every DCT coefficient away from the
    median, so the variant twin hashes identically); variant 1 is the
    clipped +3 brightness shift.  Pure Python/numpy — rerun verbatim
    by the pinned oracle."""
    import hashlib

    import numpy as np

    frames = []
    need = w * h
    for f in range(n_frames):
        body = b""
        i = 0
        while len(body) < need:
            body += hashlib.sha256(f"y4m:{text}:{f}:{i}".encode("utf-8")).digest()
            i += 1
        a = np.frombuffer(body[:need], dtype=np.uint8)
        if variant:
            a = np.minimum(a.astype(np.int64) + 3, 255).astype(np.uint8)
        frames.append(a.tobytes())
    hdr = f"YUV4MPEG2 W{w} H{h} F25:1 Cmono\n".encode()
    return hdr + b"".join(b"FRAME\n" + f for f in frames)


def _vhash_gate_hashes(spark, sf_dir):
    """Video-typed docs (doc_id % 3 == 2) → two synthetic Y4M variants
    each (asset_id = doc_id·2 + variant) → vhash_assets."""
    from .operators import multimodal

    import pandas as pd

    variants = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 2)
        .select(
            "doc_id", "text",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("variant"),
        )
    )

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"] * 2 + pdf["variant"],
                    "payload": [
                        _vhash_gate_y4m(t, v)
                        for t, v in zip(pdf["text"], pdf["variant"])
                    ],
                }
            )

    assets = variants.mapInPandas(synth, "asset_id long, payload binary")
    return multimodal.vhash_assets(assets)


def _kp_gate_rgb(text: str, variant: int, w: int = 64, h: int = 64):
    """Pure core for the crop-detection gate: variant 0 = w×h gray
    noise (sha-expanded from the doc text, r=g=b), variant 1 = its
    40×40 crop at (dy, dx) = (11, 5).  Returns the uint8 gray plane."""
    import hashlib

    import numpy as np

    need = w * h
    body = b""
    i = 0
    while len(body) < need:
        body += hashlib.sha256(f"kp:{text}:{i}".encode("utf-8")).digest()
        i += 1
    g = np.frombuffer(body[:need], dtype=np.uint8).reshape(h, w)
    if variant:
        g = g[11 : 11 + 40, 5 : 5 + 40]
    return g


def _kp_gate_ppm(text: str, variant: int) -> bytes:
    import numpy as np

    g = _kp_gate_rgb(text, variant)
    rgb = np.repeat(g[:, :, None], 3, axis=2)
    return b"P6\n%d %d\n255\n" % (g.shape[1], g.shape[0]) + rgb.tobytes()


def _kp_gate_assets(spark, sf_dir):
    """Every 9th doc (doc_id % 9 == 0) → base image + crop twin
    (asset_id = doc_id·2 + variant)."""
    import pandas as pd

    variants = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 9 == 0)
        .select(
            "doc_id", "text",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("variant"),
        )
    )

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"] * 2 + pdf["variant"],
                    "payload": [
                        _kp_gate_ppm(t, v)
                        for t, v in zip(pdf["text"], pdf["variant"])
                    ],
                }
            )

    return variants.mapInPandas(synth, "asset_id long, payload binary")


def _phash_gate_assets(spark, sf_dir):
    """Image-typed docs (doc_id % 3 == 0) → two synthetic PPM variants
    each (asset_id = doc_id·2 + variant)."""
    import pandas as pd

    variants = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id", "text",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("variant"),
        )
    )

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"] * 2 + pdf["variant"],
                    "payload": [
                        _phash_gate_ppm(t, v)
                        for t, v in zip(pdf["text"], pdf["variant"])
                    ],
                }
            )

    return variants.mapInPandas(synth, "asset_id long, payload binary")


def _phash_gate_hashes(spark, sf_dir):
    from .operators import multimodal

    return multimodal.phash_assets(_phash_gate_assets(spark, sf_dir))


def multimodal_pipeline(spark, sf_dir):
    """multimodal_features + multimodal_frames + the perceptual-hash
    near-dup tier in one tagged gate: the mapInPandas binary-payload
    feature plumbing, the frames-as-rows-before-decode sampling plan,
    'ph' = 64-bit pHash per synthetic image asset (value-checked as
    two exact 32-bit halves against a pinned-Python replay), 'php' =
    Hamming-≤6 near-dup pairs via the pigeonhole-blocked phash_pairs
    (the DuckDB side replays candidate generation + popcount on the
    same VALUES table)."""
    from .operators import multimodal

    # one synth+hash pass shared by the 'ph'/'php'/'phinc' branches
    # (branch-sharing seam, the spans_df/scored_df pattern)
    hashes = _phash_gate_hashes(spark, sf_dir).localCheckpoint()
    ph = hashes.select(
        F.lit("ph").alias("suite_case"),
        F.col("asset_id").cast("long").alias("asset_id"),
        F.lit("").alias("k"),
        F.lit("").alias("v_str"),
        (F.col("phash").bitwiseAND(F.lit(4294967295))).cast("double").alias("v_num1"),
        (F.shiftright("phash", 32).bitwiseAND(F.lit(4294967295)))
        .cast("double").alias("v_num2"),
    )
    php = multimodal.phash_pairs(hashes, max_hamming=6).select(
        F.lit("php").alias("suite_case"),
        F.col("id_a").cast("long").alias("asset_id"),
        F.col("id_b").cast("string").alias("k"),
        F.lit("").alias("v_str"),
        F.col("hamming").cast("double").alias("v_num1"),
        F.lit(-1.0).alias("v_num2"),
    )
    # 'phinc': incremental shard-vs-index ≡ full restricted to pairs
    # touching the shard — the rolling-admission contract, held at
    # driver level like the text tier's simhash/minhash 'inc' rows
    cutoff = _table_count(spark, sf_dir, "documents")
    phinc = multimodal.phash_pairs(
        hashes.filter(F.col("asset_id") >= cutoff), max_hamming=6,
        index_hashes=hashes.filter(F.col("asset_id") < cutoff),
    ).select(
        F.lit("phinc").alias("suite_case"),
        F.col("id_a").cast("long").alias("asset_id"),
        F.col("id_b").cast("string").alias("k"),
        F.lit("").alias("v_str"),
        F.col("hamming").cast("double").alias("v_num1"),
        F.lit(-1.0).alias("v_num2"),
    )
    # 'ah'/'ahp': the audio-fingerprint twin (ahash64 envelope+ZCR
    # hash; pairs REUSE phash_pairs via hash_col) — same pinned-replay
    # + SQL-pair-replay oracle split as the image tier
    ahashes = _ahash_gate_hashes(spark, sf_dir).localCheckpoint()
    ah = ahashes.select(
        F.lit("ah").alias("suite_case"),
        F.col("asset_id").cast("long").alias("asset_id"),
        F.lit("").alias("k"),
        F.lit("").alias("v_str"),
        (F.col("ahash").bitwiseAND(F.lit(4294967295))).cast("double").alias("v_num1"),
        (F.shiftright("ahash", 32).bitwiseAND(F.lit(4294967295)))
        .cast("double").alias("v_num2"),
    )
    ahp = multimodal.phash_pairs(
        ahashes, max_hamming=6, hash_col="ahash"
    ).select(
        F.lit("ahp").alias("suite_case"),
        F.col("id_a").cast("long").alias("asset_id"),
        F.col("id_b").cast("string").alias("k"),
        F.lit("").alias("v_str"),
        F.col("hamming").cast("double").alias("v_num1"),
        F.lit(-1.0).alias("v_num2"),
    )
    # 'hk'/'hkp': the Haitsma-Kalker sub-fingerprint tier over the
    # same audio assets — 'hk' = per-asset (n_frames, Σ subfp) exact
    # integer checksum of the full sub-fingerprint computation, 'hkp' =
    # alignment pairs (the volume-halved twin aligns at offset 0 —
    # HK bits are scale-invariant: signs of energy differences)
    aassets = _ahash_gate_assets(spark, sf_dir)
    subfps = multimodal.audio_subfp_assets(aassets).localCheckpoint()
    hk = subfps.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("subfp").alias("_s")
    ).select(
        F.lit("hk").alias("suite_case"),
        F.col("asset_id").cast("long").alias("asset_id"),
        F.lit("").alias("k"),
        F.lit("").alias("v_str"),
        F.col("_n").cast("double").alias("v_num1"),
        F.col("_s").cast("double").alias("v_num2"),
    )
    hkp = multimodal.audio_align_pairs(subfps, min_votes=4).select(
        F.lit("hkp").alias("suite_case"),
        F.col("id_a").cast("long").alias("asset_id"),
        F.col("id_b").cast("string").alias("k"),
        F.col("offset_frames").cast("string").alias("v_str"),
        F.col("votes").cast("double").alias("v_num1"),
        F.lit(-1.0).alias("v_num2"),
    )
    # 'kp'/'kpp': image crop detection over a doc subset — base 64×64
    # noise image + its 40×40 crop at (11, 5); 'kp' = per-asset
    # (n_keypoints, Σ kphash) exact checksums, 'kpp' = recovered crop
    # offsets, both vs the pinned-Python keypoint+vote replay
    kassets = _kp_gate_assets(spark, sf_dir)
    kps = multimodal.image_keypoint_hashes(kassets).localCheckpoint()
    kp = kps.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("kphash").alias("_s")
    ).select(
        F.lit("kp").alias("suite_case"),
        F.col("asset_id").cast("long").alias("asset_id"),
        F.lit("").alias("k"),
        F.lit("").alias("v_str"),
        F.col("_n").cast("double").alias("v_num1"),
        F.col("_s").cast("double").alias("v_num2"),
    )
    kpp = multimodal.image_overlap_pairs(kps, min_votes=4).select(
        F.lit("kpp").alias("suite_case"),
        F.col("id_a").cast("long").alias("asset_id"),
        F.col("id_b").cast("string").alias("k"),
        F.concat_ws("|", F.col("dy").cast("string"), F.col("dx").cast("string"))
        .alias("v_str"),
        F.col("votes").cast("double").alias("v_num1"),
        F.lit(-1.0).alias("v_num2"),
    )
    # 'vh'/'vhp': the video-fingerprint twin (vhash64 — per-frame luma
    # pHash, tie-free majority vote across sampled frames)
    vhashes = _vhash_gate_hashes(spark, sf_dir).localCheckpoint()
    vh = vhashes.select(
        F.lit("vh").alias("suite_case"),
        F.col("asset_id").cast("long").alias("asset_id"),
        F.lit("").alias("k"),
        F.lit("").alias("v_str"),
        (F.col("vhash").bitwiseAND(F.lit(4294967295))).cast("double").alias("v_num1"),
        (F.shiftright("vhash", 32).bitwiseAND(F.lit(4294967295)))
        .cast("double").alias("v_num2"),
    )
    vhp = multimodal.phash_pairs(
        vhashes, max_hamming=6, hash_col="vhash"
    ).select(
        F.lit("vhp").alias("suite_case"),
        F.col("id_a").cast("long").alias("asset_id"),
        F.col("id_b").cast("string").alias("k"),
        F.lit("").alias("v_str"),
        F.col("hamming").cast("double").alias("v_num1"),
        F.lit(-1.0).alias("v_num2"),
    )
    # 'cdcb'/'cdcp': content-defined chunking over the image payloads
    # (gear-hash boundaries; pinned-Python chunk replay) + the
    # shared-chunk pair rollup replayed as a SQL bucket self-join —
    # duplicate doc TEXTS yield byte-identical payloads, so real
    # cross-asset shared chunks exist in the fixture
    chunks = multimodal.cdc_chunk_assets(
        _phash_gate_assets(spark, sf_dir)
    ).localCheckpoint()
    cdcb = chunks.select(
        F.lit("cdcb").alias("suite_case"),
        F.col("asset_id").cast("long").alias("asset_id"),
        F.concat_ws(
            "|", F.col("chunk_idx").cast("string"), F.col("chunk_hash")
        ).alias("k"),
        F.lit("").alias("v_str"),
        F.col("chunk_off").cast("double").alias("v_num1"),
        F.col("chunk_len").cast("double").alias("v_num2"),
    )
    cdcp = multimodal.shared_chunk_pairs(chunks, min_shared_bytes=256).select(
        F.lit("cdcp").alias("suite_case"),
        F.col("id_a").cast("long").alias("asset_id"),
        F.col("id_b").cast("string").alias("k"),
        F.lit("").alias("v_str"),
        F.col("shared_chunks").cast("double").alias("v_num1"),
        F.col("shared_bytes").cast("double").alias("v_num2"),
    )
    feats = multimodal_features(spark, sf_dir).select(
        F.lit("features").alias("suite_case"),
        F.col("asset_id").cast("long").alias("asset_id"),
        F.concat_ws("|", "media_type", F.col("payload_bytes").cast("string")).alias("k"),
        F.col("content_hash").alias("v_str"),
        F.col("f0").cast("double").alias("v_num1"),
        F.col("feature_sum").cast("double").alias("v_num2"),
    )
    frames = multimodal_frames(spark, sf_dir).select(
        F.lit("frames").alias("suite_case"),
        F.col("asset_id").cast("long").alias("asset_id"),
        F.col("frame_idx").cast("string").alias("k"),
        F.lit("").alias("v_str"),
        F.col("frame_ts_ms").cast("double").alias("v_num1"),
        F.lit(-1.0).alias("v_num2"),
    )
    return (
        feats.unionByName(frames).unionByName(ph)
        .unionByName(php).unionByName(phinc)
        .unionByName(ah).unionByName(ahp)
        .unionByName(vh).unionByName(vhp)
        .unionByName(cdcb).unionByName(cdcp)
        .unionByName(hk).unionByName(hkp)
        .unionByName(kp).unionByName(kpp)
    )


def _multimodal_pipeline_sql() -> str:
    """Lazy builder (pinned-Python-model oracle pattern): the pHash
    values are recomputed off-Spark — duckdb reads the same documents
    parquet, _phash_gate_ppm + operators.multimodal.phash64 run
    verbatim — and land as a VALUES table; the pigeonhole candidate
    generation (share ≥1 of four 16-bit blocks) and popcount verify
    are replayed as DuckDB SQL, mirroring _simhash_oracle_sql."""
    import duckdb

    from .operators.multimodal import ahash64, phash64, vhash64

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM "
        f"'{_ORACLE_SF_DIR}/documents.parquet' WHERE doc_id % 3 = 0 "
        "ORDER BY doc_id"
    ).fetchall()
    arows = con.execute(
        "SELECT doc_id, text FROM "
        f"'{_ORACLE_SF_DIR}/documents.parquet' WHERE doc_id % 3 = 1 "
        "ORDER BY doc_id"
    ).fetchall()
    vrows = con.execute(
        "SELECT doc_id, text FROM "
        f"'{_ORACLE_SF_DIR}/documents.parquet' WHERE doc_id % 3 = 2 "
        "ORDER BY doc_id"
    ).fetchall()
    con.close()
    vals = ", ".join(
        f"({doc_id * 2 + variant}, {phash64(_phash_gate_ppm(text, variant))})"
        for doc_id, text in rows
        for variant in (0, 1)
    )
    avals = ", ".join(
        f"({doc_id * 2 + variant}, {ahash64(_ahash_gate_wav(text, variant))})"
        for doc_id, text in arows
        for variant in (0, 1)
    )
    share = " OR ".join(
        f"((a.fp >> {s}) & 65535) = ((b.fp >> {s}) & 65535)"
        for s in (0, 16, 32, 48)
    )
    vvals = ", ".join(
        f"({doc_id * 2 + variant}, {vhash64(_vhash_gate_y4m(text, variant))})"
        for doc_id, text in vrows
        for variant in (0, 1)
    )
    from .operators.multimodal import cdc_chunks

    cvals = ", ".join(
        f"({doc_id * 2 + variant}, {ci}, {off}, {ln}, '{hx}')"
        for doc_id, text in rows
        for variant in (0, 1)
        for ci, (off, ln, hx) in enumerate(
            cdc_chunks(_phash_gate_ppm(text, variant))
        )
    )
    from .operators.multimodal import _hk_subfps, _wav_pcm

    def _subfps_for(payload):
        n_ch, rate, _bits, norm = _wav_pcm(payload)
        mono = norm[: (norm.size // n_ch) * n_ch].reshape(-1, n_ch).mean(axis=1)
        return _hk_subfps(mono, rate, rate * 100 // 1000, rate * 25 // 1000,
                          17, 300.0, 2000.0)

    hk_sub = {}
    for doc_id, text in arows:
        for variant in (0, 1):
            aid = doc_id * 2 + variant
            hk_sub[aid] = [int(v) for v in _subfps_for(_ahash_gate_wav(text, variant))]
    hk_vals = ", ".join(
        f"({aid}, {len(fps)}, {sum(fps)})" for aid, fps in sorted(hk_sub.items())
    )
    # alignment replay: equi-join + offset vote + best-per-pair, pure
    # Python over the same sub-fp rows (mirrors audio_align_pairs incl.
    # the max_fp_df cap and the (votes, -offset) tie-break)
    fp_df = {}
    for fps in hk_sub.values():
        for v in fps:
            fp_df[v] = fp_df.get(v, 0) + 1
    votes = {}
    aids = sorted(hk_sub)
    pos = {}
    for aid in aids:
        for i, v in enumerate(hk_sub[aid]):
            if fp_df[v] <= 10_000:
                pos.setdefault(v, []).append((aid, i))
    for v, entries in pos.items():
        for x in range(len(entries)):
            for y in range(x + 1, len(entries)):
                (a1, f1), (a2, f2) = entries[x], entries[y]
                if a1 == a2:
                    continue
                if a1 > a2:
                    a1, f1, a2, f2 = a2, f2, a1, f1
                votes.setdefault((a1, a2), {})
                votes[(a1, a2)][f2 - f1] = votes[(a1, a2)].get(f2 - f1, 0) + 1
    hkp_rows = []
    for (a1, a2), offmap in sorted(votes.items()):
        off, n = max(offmap.items(), key=lambda kv: (kv[1], -kv[0]))
        if n >= 4:
            hkp_rows.append((a1, a2, off, n))
    hkp_vals = ", ".join(
        f"({a1}, {a2}, {off}, {n})" for a1, a2, off, n in hkp_rows
    ) or "(NULL, NULL, NULL, NULL)"
    hkp_where = "" if hkp_rows else " WHERE id_a IS NOT NULL"
    from .operators.multimodal import _image_keypoints

    import duckdb as _dd

    _c = _dd.connect()
    krows = _c.execute(
        "SELECT doc_id, text FROM "
        f"'{_ORACLE_SF_DIR}/documents.parquet' WHERE doc_id % 9 = 0 "
        "ORDER BY doc_id"
    ).fetchall()
    _c.close()
    kp_pts = {}
    for doc_id, text in krows:
        for variant in (0, 1):
            g = _kp_gate_rgb(text, variant).astype("float64") / 255.0
            # replicate the Spark path's luma EXPRESSION exactly:
            # 0.299x+0.587x+0.114x per pixel is NOT bit-identical to x
            # in float64, and the strict-maximum anchor test is
            # equality-sensitive
            luma = 0.299 * g + 0.587 * g + 0.114 * g
            kp_pts[doc_id * 2 + variant] = _image_keypoints(luma)
    kp_vals = ", ".join(
        f"({aid}, {len(pts)}, {sum(v for _y, _x, v in pts)})"
        for aid, pts in sorted(kp_pts.items())
    )
    kvotes = {}
    kpos = {}
    kdf = {}
    for pts in kp_pts.values():
        for _y, _x, v in pts:
            kdf[v] = kdf.get(v, 0) + 1
    for aid in sorted(kp_pts):
        for y, x, v in kp_pts[aid]:
            if kdf[v] <= 10_000:
                kpos.setdefault(v, []).append((aid, y, x))
    for v, entries in kpos.items():
        for i in range(len(entries)):
            for j in range(i + 1, len(entries)):
                (a1, y1, x1), (a2, y2, x2) = entries[i], entries[j]
                if a1 == a2:
                    continue
                if a1 > a2:
                    a1, y1, x1, a2, y2, x2 = a2, y2, x2, a1, y1, x1
                kvotes.setdefault((a1, a2), {})
                key = (y1 - y2, x1 - x2)
                kvotes[(a1, a2)][key] = kvotes[(a1, a2)].get(key, 0) + 1
    kpp_rows = []
    for (a1, a2), offmap in sorted(kvotes.items()):
        (dy, dx), n = max(
            offmap.items(), key=lambda kv: (kv[1], -kv[0][0], -kv[0][1])
        )
        if n >= 4:
            kpp_rows.append((a1, a2, dy, dx, n))
    kpp_vals = ", ".join(
        f"({a1}, {a2}, '{dy}|{dx}', {n})" for a1, a2, dy, dx, n in kpp_rows
    ) or "(NULL, NULL, NULL, NULL)"
    kpp_where = "" if kpp_rows else " WHERE id_a IS NOT NULL"
    ashare = share.replace("a.fp", "aa.fp").replace("b.fp", "ab.fp")
    vshare = share.replace("a.fp", "va.fp").replace("b.fp", "vb.fp")
    return f"""
WITH ph(asset_id, fp) AS (VALUES {vals}),
     ah(asset_id, fp) AS (VALUES {avals}),
     vh(asset_id, fp) AS (VALUES {vvals}),
     cdcb(asset_id, chunk_idx, chunk_off, chunk_len, chunk_hash) AS (VALUES {cvals})
SELECT 'features' AS suite_case, asset_id, media_type || '|' || CAST(payload_bytes AS VARCHAR) AS k,
       content_hash AS v_str, CAST(f0 AS DOUBLE) AS v_num1, CAST(feature_sum AS DOUBLE) AS v_num2
FROM ({MULTIMODAL_FEATURES_SQL}) s1
UNION ALL
SELECT 'frames', asset_id, CAST(frame_idx AS VARCHAR), '', CAST(frame_ts_ms AS DOUBLE), -1.0
FROM ({MULTIMODAL_FRAMES_SQL}) s2
UNION ALL
SELECT 'ph', asset_id, '', '',
       CAST(fp & 4294967295 AS DOUBLE),
       CAST((fp >> 32) & 4294967295 AS DOUBLE)
FROM ph
UNION ALL
SELECT 'php', a.asset_id, CAST(b.asset_id AS VARCHAR), '',
       CAST(bit_count(xor(a.fp, b.fp)) AS DOUBLE), -1.0
FROM ph a JOIN ph b ON a.asset_id < b.asset_id
WHERE ({share}) AND bit_count(xor(a.fp, b.fp)) <= 6
UNION ALL
-- incremental ≡ full restricted to pairs touching the shard: pairs
-- are (least, greatest), so id_b ≥ cutoff ⇔ at least one shard asset
SELECT 'phinc', a.asset_id, CAST(b.asset_id AS VARCHAR), '',
       CAST(bit_count(xor(a.fp, b.fp)) AS DOUBLE), -1.0
FROM ph a JOIN ph b ON a.asset_id < b.asset_id
WHERE ({share}) AND bit_count(xor(a.fp, b.fp)) <= 6
  AND b.asset_id >= (SELECT count(*) FROM documents)
UNION ALL
SELECT 'ah', asset_id, '', '',
       CAST(fp & 4294967295 AS DOUBLE),
       CAST((fp >> 32) & 4294967295 AS DOUBLE)
FROM ah
UNION ALL
SELECT 'ahp', aa.asset_id, CAST(ab.asset_id AS VARCHAR), '',
       CAST(bit_count(xor(aa.fp, ab.fp)) AS DOUBLE), -1.0
FROM ah aa JOIN ah ab ON aa.asset_id < ab.asset_id
WHERE ({ashare}) AND bit_count(xor(aa.fp, ab.fp)) <= 6
UNION ALL
SELECT 'vh', asset_id, '', '',
       CAST(fp & 4294967295 AS DOUBLE),
       CAST((fp >> 32) & 4294967295 AS DOUBLE)
FROM vh
UNION ALL
SELECT 'vhp', va.asset_id, CAST(vb.asset_id AS VARCHAR), '',
       CAST(bit_count(xor(va.fp, vb.fp)) AS DOUBLE), -1.0
FROM vh va JOIN vh vb ON va.asset_id < vb.asset_id
WHERE ({vshare}) AND bit_count(xor(va.fp, vb.fp)) <= 6
UNION ALL
SELECT 'cdcb', asset_id,
       CAST(chunk_idx AS VARCHAR) || '|' || chunk_hash, '',
       CAST(chunk_off AS DOUBLE), CAST(chunk_len AS DOUBLE)
FROM cdcb
UNION ALL
SELECT 'hk', asset_id, '', '', CAST(n AS DOUBLE), CAST(s AS DOUBLE)
FROM (VALUES {hk_vals}) hk(asset_id, n, s)
UNION ALL
SELECT 'hkp', id_a, CAST(id_b AS VARCHAR), CAST(off AS VARCHAR),
       CAST(votes AS DOUBLE), -1.0
FROM (VALUES {hkp_vals}) hkp(id_a, id_b, off, votes){hkp_where}
UNION ALL
SELECT 'kp', asset_id, '', '', CAST(n AS DOUBLE), CAST(s AS DOUBLE)
FROM (VALUES {kp_vals}) kp(asset_id, n, s)
UNION ALL
SELECT 'kpp', id_a, CAST(id_b AS VARCHAR), CAST(off AS VARCHAR),
       CAST(votes AS DOUBLE), -1.0
FROM (VALUES {kpp_vals}) kpp(id_a, id_b, off, votes){kpp_where}
UNION ALL
SELECT 'cdcp', id_a, CAST(id_b AS VARCHAR), '',
       CAST(shared_chunks AS DOUBLE), CAST(shared_bytes AS DOUBLE)
FROM (
  SELECT ca.asset_id AS id_a, cb.asset_id AS id_b,
         count(*) AS shared_chunks, sum(ca.chunk_len) AS shared_bytes
  FROM (SELECT DISTINCT asset_id, chunk_hash, chunk_len FROM cdcb) ca
  JOIN (SELECT DISTINCT asset_id, chunk_hash, chunk_len FROM cdcb) cb
    ON ca.chunk_hash = cb.chunk_hash AND ca.chunk_len = cb.chunk_len
   AND ca.asset_id < cb.asset_id
  GROUP BY 1, 2
  HAVING sum(ca.chunk_len) >= 256
) sp
"""


def sim_ivf_ann_topk(spark, sf_dir):
    """IVF approximate NN: nearest-centroid bucketing (deterministic
    coarse quantizer = first nlist vectors by id; trained codebooks are
    pluggable), nprobe-cluster pruning, exact in-cluster re-rank."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_ann_topk(emb, queries, nlist=16, nprobe=2, k=10)


SIM_IVF_SQL = """
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
),
sims AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cvec::DOUBLE[])
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]))), 6) DESC,
                 c.cid ASC) AS crnk
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (SELECT vec_id, embedding, cid AS centroid_id FROM sims WHERE crnk = 1),
qprobe AS (
  SELECT vec_id AS query_id, embedding AS qvec, cid AS centroid_id
  FROM sims WHERE vec_id < 5 AND crnk <= 2
),
cand AS (
  SELECT q.query_id, a.vec_id, a.embedding, q.qvec
  FROM assigned a JOIN qprobe q USING (centroid_id)
),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(embedding::DOUBLE[], qvec::DOUBLE[])
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qvec::DOUBLE[], qvec::DOUBLE[]))), 6) AS cos_sim
  FROM cand
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 10
"""


def _lsh_ann_oracle_sql(dim: int = 64, k: int = 10, n_planes: int = 6,
                        n_tables: int = 4, seed: int = 42) -> str:
    """DuckDB oracle for lsh_ann_topk: per-table signatures encoded as
    bit-sum integers (equality ⇔ all plane signs agree), candidates =
    share a bucket in ANY table, exact cosine re-rank in double."""
    plane_sets = [
        similarity._hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]

    def arr(p: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"

    def table_sigs(vec: str) -> list[str]:
        return [
            " + ".join(
                f"(CASE WHEN list_dot_product({vec}::DOUBLE[], {arr(plane)}) >= 0"
                f" THEN {1 << j} ELSE 0 END)"
                for j, plane in enumerate(planes)
            )
            for planes in plane_sets
        ]

    sig_cols = ", ".join(
        f"({expr}) AS t{t}" for t, expr in enumerate(table_sigs("embedding"))
    )
    share = " OR ".join(f"s.t{t} = q.t{t}" for t in range(n_tables))
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, {sig_cols} FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec,
         {', '.join(f't{t}' for t in range(n_tables))}
  FROM sigs WHERE vec_id < 5
),
cand AS (
  SELECT q.query_id, s.vec_id, s.embedding, q.qvec
  FROM sigs s JOIN q ON ({share})
),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(embedding::DOUBLE[], qvec::DOUBLE[])
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qvec::DOUBLE[], qvec::DOUBLE[]))), 6) AS cos_sim
  FROM cand
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= {k}
"""


# ------------------------------------------------- round-2 extensions:
# repetition-quality filters, benchmark decontamination, int8-quantized
# similarity, and the a1+a4 / a5+a6 suite merges that free their
# registry slots.


def a_windowed_suite(spark, sf_dir):
    """A1 (30-min tumbling count) + A4 (30-min/10-min sliding count)
    in one tagged gate — same (window_start, key, cnt) shape."""
    a1 = a1_windowed_count(spark, sf_dir).select(
        F.lit("a1").alias("suite_case"), "window_start", "event_type", "cnt"
    )
    a4 = a4_sliding_window(spark, sf_dir).select(
        F.lit("a4").alias("suite_case"), "window_start", "event_type", "cnt"
    )
    return a1.unionByName(a4)


A_WINDOWED_SUITE_SQL = f"""
SELECT 'a1' AS suite_case, window_start, event_type, cnt FROM ({A1_SQL}) s1
UNION ALL
SELECT 'a4', window_start, event_type, cnt FROM ({A4_SQL}) s2
"""


def a_topk_suite(spark, sf_dir):
    """A5 (top-k per group, WindowGroupLimit) + A6 (global top-k,
    TakeOrderedAndProject) in one tagged long-format gate."""
    a5 = a5_topk_per_group(spark, sf_dir).select(
        F.lit("a5").alias("suite_case"),
        F.col("p_brand").alias("grp"),
        F.col("p_partkey").cast("string").alias("k"),
        F.col("p_retailprice").cast("double").alias("v_num"),
        F.col("rnk"),
    )
    a6 = a6_topk_global(spark, sf_dir).select(
        F.lit("a6").alias("suite_case"),
        F.lit("").alias("grp"),
        F.col("user_id").cast("string").alias("k"),
        F.col("cnt").cast("double").alias("v_num"),
        F.lit(-1).alias("rnk"),
    )
    return a5.unionByName(a6)


A_TOPK_SUITE_SQL = f"""
SELECT 'a5' AS suite_case, p_brand AS grp, CAST(p_partkey AS VARCHAR) AS k,
       CAST(p_retailprice AS DOUBLE) AS v_num, rnk
FROM ({A5_SQL}) s1
UNION ALL
SELECT 'a6', '', CAST(user_id AS VARCHAR), CAST(cnt AS DOUBLE), -1
FROM ({A6_SQL}) s2
"""


def quality_repetition(spark, sf_dir):
    """Gopher-style repetition filters over documents: top-2-gram and
    duplicated-5-gram character coverage, exact ppm integer arithmetic
    (no float rounding → engine-tie-rule-proof oracle compare)."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.repetition_stats(docs)


# ppm fractions via BIGINT integer division (DIV / //) — exact in both
# engines; float round() differs on ties (Spark HALF_UP, DuckDB
# HALF_EVEN) when tot_chars is a power of 2.
QUALITY_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks,
         length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')) AS tot_chars
  FROM documents
),
g2 AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
  FROM base, unnest(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2
),
g5 AS (
  SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram
  FROM base, unnest(generate_series(1, len(toks) - 4)) AS t(i)
  WHERE len(toks) >= 5
),
c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2),
c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY 1, 2),
a2 AS (
  SELECT doc_id, max(cnt * length(replace(gram, ' ', ''))) AS top_chars
  FROM c2 GROUP BY 1
),
a5 AS (
  SELECT doc_id,
         sum(CASE WHEN cnt >= 2 THEN cnt * length(replace(gram, ' ', '')) ELSE 0 END) AS dup_chars
  FROM c5 GROUP BY 1
)
SELECT b.doc_id,
       CAST(coalesce(top_chars, 0) * 1000000 // greatest(tot_chars, 1) AS BIGINT) AS top_ngram_ppm,
       CAST(least(coalesce(dup_chars, 0) * 1000000 // greatest(tot_chars, 1), 1000000) AS BIGINT) AS dup_ngram_ppm,
       (coalesce(top_chars, 0) * 1000000 // greatest(tot_chars, 1) <= 300000
        AND least(coalesce(dup_chars, 0) * 1000000 // greatest(tot_chars, 1), 1000000) <= 300000) AS keep
FROM base b LEFT JOIN a2 USING (doc_id) LEFT JOIN a5 USING (doc_id)
"""


def decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any distinct lowercase
    4-gram with the held-out benchmark slice (doc_id % 20 == 0) are
    flagged; broadcast semi-join of the small benchmark gram set."""
    from .operators import curation

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return curation.ngram_decontaminate(corpus, bench, n=4)


DECONTAMINATE_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
  FROM base, unnest(generate_series(1, len(toks) - 3)) AS t(i)
  WHERE len(toks) >= 4
),
bg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
hits AS (
  SELECT g.doc_id, count(*) AS n_hits
  FROM grams g JOIN bg USING (gram)
  WHERE g.doc_id % 20 <> 0
  GROUP BY 1
)
SELECT d.doc_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
LEFT JOIN hits USING (doc_id)
"""

# int8-quantized cosine top-k (half-up floor(x/scale + 0.5) — identical
# semantics in Spark and DuckDB, unlike round()'s tie rules).
_SIM_TOPK_INT8_SQL = """
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding, x -> floor(CAST(x AS DOUBLE)
           / (CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END) + 0.5)) AS qe
  FROM (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
    FROM embeddings
  )
),
q AS (SELECT vec_id AS query_id, qe AS qvec FROM qz WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(e.qe::DOUBLE[], q.qvec::DOUBLE[])
               / (sqrt(list_dot_product(e.qe::DOUBLE[], e.qe::DOUBLE[]))
                  * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))), 6) AS cos_sim
  FROM qz e CROSS JOIN q
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 10
"""


def sim_cosine_suite(spark, sf_dir):
    """Exact + int8-quantized brute-force cosine top-10 for 5 query
    vectors in one tagged gate, computed in ONE corpus scan
    (similarity.cosine_topk_suite): the quantized variant exercises
    the int8 path (4× narrower vectors at 100 TB) riding the exact
    scan's IO instead of re-reading the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = similarity.cosine_topk_suite(emb, queries, k=10)
    # 'pool' (r5): chunk-embedding mean pooling — vectors grouped into
    # pseudo-docs (vec_id % 100), order-pinned fold (order_col), every
    # pooled element value-checked.  Column reuse: query_id = doc,
    # vec_id = dimension index, cos_sim = pooled value, rnk = n_chunks.
    chunks = emb.select(
        (F.col("vec_id") % 100).alias("doc"), "vec_id", "embedding"
    )
    pooled = similarity.doc_embedding_from_chunks(
        chunks, id_col="doc", order_col="vec_id"
    )
    nch = chunks.groupBy("doc").agg(F.count(F.lit(1)).alias("_n"))
    pool_rows = (
        pooled.join(nch, "doc")
        .select("doc", "_n", F.posexplode("embedding").alias("dim", "val"))
        .select(
            F.lit("pool").alias("variant"),
            F.col("doc").cast("long").alias("query_id"),
            F.col("dim").cast("long").alias("vec_id"),
            (F.round("val", 6) + F.lit(0.0)).alias("cos_sim"),
            F.col("_n").cast("int").alias("rnk"),
        )
    )
    return base.unionByName(pool_rows)


SIM_COSINE_SUITE_SQL = f"""
SELECT 'exact' AS variant, query_id, vec_id, cos_sim, rnk FROM ({SIM_TOPK_SQL}) s1
UNION ALL
SELECT 'int8', query_id, vec_id, cos_sim, rnk FROM ({_SIM_TOPK_INT8_SQL}) s2
UNION ALL
SELECT 'pool', doc, dim, round(val, 6) + 0.0, n FROM (
  WITH ch AS (
    SELECT vec_id % 100 AS doc, vec_id, embedding::DOUBLE[] AS v FROM embeddings
  ),
  agg AS (
    SELECT doc, list(v ORDER BY vec_id) AS vs, count(*) AS n FROM ch GROUP BY doc
  ),
  -- list_reduce seeds with the FIRST element, Spark's fold with a
  -- zero vector: (0.0 + x) == x exactly in IEEE, so the two
  -- accumulation sequences are bit-identical over the sorted chunks
  pooled AS (
    SELECT doc, n,
           list_transform(
             list_reduce(vs, (a, b) -> list_transform(generate_series(1, len(a)),
                                                      i -> a[i] + b[i])),
             x -> x / n) AS pv
    FROM agg
  )
  SELECT doc, n, i - 1 AS dim, pv[i] AS val
  FROM pooled, unnest(generate_series(1, len(pv))) AS g(i)
) poolrows
"""


def pii_scrub(spark, sf_dir):
    """PII governance suite: 'scrub' — redaction over a contact blob
    derived deterministically from the customer table (the driver's
    schema carries no phone column, so phone/IP strings are formatted
    from the keys — same printf specifiers in both engines), every
    scrubbed string value-checked; 'scrubc' — the per-category match
    counts + has_pii flag; 'piic' (r8) — pii_column_report's
    column-exposure sweep over a 3-string-column table planted so
    each column carries a different category mix (name: none,
    contact: email-or-NULL, meta: phone+ipv4), every (column,
    category) count and exact integer match_ppm value-checked.
    'kan'/'kenf' (r9/r10) audit + enforce the k-anonymity policy;
    'klad' (r11) value-checks the generalization-ladder WALK —
    rung choice and released rows — against a full SQL replay of
    all rungs + the same exact-ppm stop rule."""
    cust = _t(spark, sf_dir, "customer")
    phone = F.format_string(
        "%02d-%03d-%03d-%04d",
        F.col("c_nationkey"),
        F.col("c_custkey") % 1000,
        F.expr("(c_custkey DIV 7) % 1000"),
        F.col("c_custkey") % 10000,
    )
    email = F.concat(
        F.regexp_replace(F.col("c_name"), "[# ]", "."), F.lit("@example.com")
    )
    ip = F.format_string(
        "%d.%d.%d.%d",
        F.col("c_custkey") % 224,
        F.col("c_nationkey") % 256,
        (F.col("c_custkey") * 7) % 256,
        F.col("c_custkey") % 250,
    )
    blob = F.concat_ws(
        " ", F.col("c_name"), phone, email, F.lit("from"), ip,
        F.col("c_mktsegment"),
    )
    df = cust.select(F.col("c_custkey"), blob.alias("text"))
    scrub = textstats.scrub_pii(df, text_col="text", id_col="c_custkey")
    wide = cust.select(
        F.col("c_name").alias("name"),
        F.when(F.col("c_custkey") % 97 == 0, F.lit(None).cast("string"))
        .otherwise(email).alias("contact"),
        F.concat_ws(" ", phone, F.lit("from"), ip).alias("meta"),
    )
    piic = textstats.pii_column_report(wide, cols=["name", "contact", "meta"])
    return _union_all([
        _suite_rows(scrub, "scrub", F.col("c_custkey"),
                    v_str=F.col("scrubbed")),
        _suite_rows(
            scrub, "scrubc", F.col("c_custkey"),
            v_str=F.concat_ws(
                "|", F.col("n_email").cast("string"),
                F.col("n_phone").cast("string"),
                F.col("n_ipv4").cast("string"),
                F.col("has_pii").cast("int").cast("string"),
            ),
        ),
        _suite_rows(
            piic, "piic",
            F.concat_ws("|", F.col("column"), F.col("category")),
            v_str=F.concat_ws(
                "|", F.col("n_rows").cast("string"),
                F.col("n_matching_rows").cast("string"),
            ),
            v_num=F.col("match_ppm").cast("double"),
        ),
        # r9 'kan': k-anonymity + l-diversity audit — the STRUCTURAL
        # privacy gate the regex scrub can't give: quasi-identifier
        # classes (segment × nation) below k=10, and classes whose
        # balance-sign is homogeneous; TOTAL row carries exact ppm
        # shares of at-risk rows
        _suite_rows(
            textstats.k_anonymity_report(
                cust.withColumn(
                    "bal_sign",
                    F.when(F.col("c_acctbal") < 0, F.lit("neg"))
                    .otherwise(F.lit("pos")),
                ),
                ["c_mktsegment", "c_nationkey"], k=10,
                sensitive_col="bal_sign", l_distinct=2,
            ),
            "kan",
            F.concat_ws("|", F.col("class_kind"), F.col("quasi_values")),
            v_str=F.concat_ws(
                "|",
                F.coalesce(
                    F.col("n_sensitive_distinct").cast("string"), F.lit("-")
                ),
                F.col("k_violation").cast("int").cast("string"),
                F.col("l_violation").cast("int").cast("string"),
            ),
            v_num=F.col("n_rows").cast("double"),
        ),
        # r10 'kenf': the enforcement TRANSFORM — suppression to the
        # same (k=10, l=2) policy; surviving custkeys value-checked,
        # and the output is k-anonymous by construction (re-audit
        # pinned in pytest)
        _suite_rows(
            textstats.enforce_k_anonymity(
                cust.withColumn(
                    "bal_sign",
                    F.when(F.col("c_acctbal") < 0, F.lit("neg"))
                    .otherwise(F.lit("pos")),
                ),
                ["c_mktsegment", "c_nationkey"], k=10,
                sensitive_col="bal_sign", l_distinct=2,
            ),
            "kenf", F.col("c_custkey"),
        ),
        # r11 'klad': the generalization-ladder DRIVER — walk rungs
        # (exact nation → nation mod 5 → erased) until the suppressed
        # share is ≤ 10%, release the chosen rung.  Every released
        # custkey is value-checked AND the chosen rung rides every
        # row's v_num, so the WALK itself (not just one enforce) is
        # oracle-replayed: the SQL computes all three rungs' kept
        # counts and picks the first under the same exact-ppm rule
        _suite_rows(
            _klad_release(cust),
            "klad", F.col("c_custkey"),
            v_num=F.col("_rung").cast("double"),
        ),
    ])


def _klad_release(cust):
    """anonymize_with_ladder over customer for the 'klad' gate: k=10
    on (segment, nation) with a two-rung nation ladder (mod-5 group,
    then erased to -1), suppressed-share target 10%.

    Timing attribution (r12, advisor finding): the ladder WALK runs
    eager per-rung `count()` jobs at query-CONSTRUCTION time (and
    r12's localCheckpoint pins the winner there), so that work lands
    in the bench's build_s, not the per-query steady timing — which
    measures reading the pinned winner plus the suite's other
    branches.  Same class as fuzzy_join's hot-gram probe in the
    'ent' gate; deliberate: the walk is driver-paced by
    design and pii_scrub is a correctness gate, not a bench query."""
    released, rung, _stats = textstats.anonymize_with_ladder(
        cust, ["c_mktsegment", "c_nationkey"], k=10,
        ladders={
            "c_nationkey": [
                F.col("c_nationkey") % 5,
                F.lit(-1).cast("long"),
            ],
        },
        max_suppressed_ppm=100_000,
    )
    return released.withColumn("_rung", F.lit(int(rung)))


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{2,3}[-. ]\d{3}[-. ]\d{3,4}[-. ]\d{4}\b"
_PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"

PII_SCRUB_SQL = f"""
WITH blob AS (
  SELECT c_custkey,
         concat_ws(' ', c_name,
                   printf('%02d-%03d-%03d-%04d', c_nationkey, c_custkey % 1000,
                          (c_custkey // 7) % 1000, c_custkey % 10000),
                   regexp_replace(c_name, '[# ]', '.', 'g') || '@example.com',
                   'from',
                   printf('%d.%d.%d.%d', c_custkey % 224, c_nationkey % 256,
                          (c_custkey * 7) % 256, c_custkey % 250),
                   c_mktsegment) AS text
  FROM customer
),
scrub AS (
  SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{_PII_EMAIL}', '[REDACTED]', 'g'),
         '{_PII_PHONE}', '[REDACTED]', 'g'),
         '{_PII_IPV4}', '[REDACTED]', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
       (len(regexp_extract_all(text, '{_PII_EMAIL}'))
        + len(regexp_extract_all(text, '{_PII_PHONE}'))
        + len(regexp_extract_all(text, '{_PII_IPV4}'))) > 0 AS has_pii
  FROM blob
),
wide AS (
  SELECT c_name AS name,
         CASE WHEN c_custkey % 97 = 0 THEN NULL
              ELSE regexp_replace(c_name, '[# ]', '.', 'g') || '@example.com'
         END AS contact,
         printf('%02d-%03d-%03d-%04d', c_nationkey, c_custkey % 1000,
                (c_custkey // 7) % 1000, c_custkey % 10000)
           || ' from ' ||
         printf('%d.%d.%d.%d', c_custkey % 224, c_nationkey % 256,
                (c_custkey * 7) % 256, c_custkey % 250) AS meta
  FROM customer
),
piic_src AS (
  SELECT 'name' AS col_name, name AS v FROM wide
  UNION ALL SELECT 'contact', contact FROM wide
  UNION ALL SELECT 'meta', meta FROM wide
),
piic AS (
  SELECT col_name, cat, count(*) AS n_rows,
         sum(CASE WHEN v IS NOT NULL AND regexp_matches(v, pat)
                  THEN 1 ELSE 0 END) AS n_match
  FROM piic_src
  CROSS JOIN (VALUES ('email', '{_PII_EMAIL}'), ('phone', '{_PII_PHONE}'),
                     ('ipv4', '{_PII_IPV4}')) c(cat, pat)
  GROUP BY col_name, cat
)
SELECT 'scrub' AS suite_case, CAST(c_custkey AS VARCHAR) AS k,
       scrubbed AS v_str, -1.0 AS v_num
FROM scrub
UNION ALL
SELECT 'scrubc', CAST(c_custkey AS VARCHAR),
       CAST(n_email AS VARCHAR) || '|' || CAST(n_phone AS VARCHAR) || '|' ||
       CAST(n_ipv4 AS VARCHAR) || '|' || CAST(CAST(has_pii AS INT) AS VARCHAR),
       -1.0
FROM scrub
UNION ALL
SELECT 'piic', col_name || '|' || cat,
       CAST(n_rows AS VARCHAR) || '|' || CAST(n_match AS VARCHAR),
       CAST(CASE WHEN n_rows > 0 THEN (n_match * 1000000) // n_rows
                 ELSE 0 END AS DOUBLE)
FROM piic
UNION ALL
SELECT 'kan', class_kind || '|' || quasi_values,
       coalesce(CAST(n_sens AS VARCHAR), '-') || '|' ||
       CAST(CAST(kv AS INT) AS VARCHAR) || '|' ||
       CAST(CAST(lv AS INT) AS VARCHAR),
       CAST(n_rows AS DOUBLE)
FROM (
  WITH kcls AS (
    SELECT coalesce(CAST(c_mktsegment AS VARCHAR), '∅') AS q0,
           coalesce(CAST(c_nationkey AS VARCHAR), '∅') AS q1,
           count(*) AS n_rows,
           count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                               ELSE 'pos' END) AS n_sens
    FROM customer GROUP BY 1, 2
  ),
  kmark AS (
    SELECT q0, q1, n_rows, n_sens,
           n_rows < 10 AS kv, n_sens < 2 AS lv
    FROM kcls
  )
  SELECT 'class' AS class_kind, q0 || '|' || q1 AS quasi_values,
         n_rows, n_sens, kv, lv
  FROM kmark WHERE kv OR lv
  UNION ALL
  SELECT 'TOTAL',
         CAST(count(*) AS VARCHAR) || '|' ||
         CAST(CASE WHEN sum(n_rows) > 0 THEN
           sum(CASE WHEN kv THEN n_rows ELSE 0 END) * 1000000
             // sum(n_rows) ELSE 0 END AS VARCHAR) || '|' ||
         CAST(CASE WHEN sum(n_rows) > 0 THEN
           sum(CASE WHEN lv THEN n_rows ELSE 0 END) * 1000000
             // sum(n_rows) ELSE 0 END AS VARCHAR),
         sum(n_rows), NULL,
         sum(CASE WHEN kv THEN n_rows ELSE 0 END) > 0,
         sum(CASE WHEN lv THEN n_rows ELSE 0 END) > 0
  FROM kmark
) kanrows
UNION ALL
SELECT 'kenf', CAST(c_custkey AS VARCHAR), '', -1.0
FROM (
  WITH kbase AS (
    SELECT c_custkey, c_mktsegment, c_nationkey,
           CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_sign
    FROM customer
  ),
  kok AS (
    SELECT c_mktsegment, c_nationkey FROM kbase
    GROUP BY 1, 2
    HAVING count(*) >= 10 AND count(DISTINCT bal_sign) >= 2
  )
  SELECT b.c_custkey FROM kbase b JOIN kok o
    ON b.c_mktsegment = o.c_mktsegment AND b.c_nationkey = o.c_nationkey
) kenfrows
UNION ALL
SELECT 'klad', CAST(c_custkey AS VARCHAR), '', CAST(rung AS DOUBLE)
FROM (
  WITH kl_base AS (
    SELECT c_custkey, c_mktsegment AS s, c_nationkey AS n FROM customer
  ),
  kl_tot AS (SELECT count(*) AS t FROM kl_base),
  kl_k0 AS (
    SELECT b.c_custkey FROM kl_base b
    JOIN (SELECT s, n FROM kl_base GROUP BY s, n
          HAVING count(*) >= 10) o
      ON b.s = o.s AND b.n = o.n
  ),
  kl_k1 AS (
    SELECT b.c_custkey FROM kl_base b
    JOIN (SELECT s, n % 5 AS n5 FROM kl_base GROUP BY s, n % 5
          HAVING count(*) >= 10) o
      ON b.s = o.s AND b.n % 5 = o.n5
  ),
  kl_k2 AS (
    SELECT b.c_custkey FROM kl_base b
    JOIN (SELECT s FROM kl_base GROUP BY s HAVING count(*) >= 10) o
      ON b.s = o.s
  ),
  kl_sel AS (
    SELECT CASE
      WHEN (SELECT t FROM kl_tot) = 0 THEN 0
      WHEN ((SELECT t FROM kl_tot) - (SELECT count(*) FROM kl_k0))
           * 1000000 // (SELECT t FROM kl_tot) <= 100000 THEN 0
      WHEN ((SELECT t FROM kl_tot) - (SELECT count(*) FROM kl_k1))
           * 1000000 // (SELECT t FROM kl_tot) <= 100000 THEN 1
      ELSE 2 END AS rung
  )
  SELECT k.c_custkey, sel.rung
  FROM kl_sel sel
  JOIN (
    SELECT 0 AS rung, c_custkey FROM kl_k0
    UNION ALL SELECT 1, c_custkey FROM kl_k1
    UNION ALL SELECT 2, c_custkey FROM kl_k2
  ) k ON k.rung = sel.rung
) kladrows
"""

# The 4-gram canary the stream-parity gate plants and then detects —
# stands in for a benchmark's distinct-gram list (MB-scale, shipped in
# the plan like a broadcast).
_STREAM_BENCH_GRAMS = ["benchmark leak canary phrase"]


def stream_parity_suite(spark, sf_dir):
    """Streaming-vs-batch parity for the stateless extension tier,
    oracle-anchored (VERDICT r2 next-round #6): the SAME column
    expressions the streaming twin applies per micro-batch —
    textstats.scrub_pii and curation.contamination_flag_col, proven to
    run over a real readStream in tests/test_quality_decontam.py::
    test_pii_and_contamination_compose_with_streaming — replayed over
    the events table as a batch and value-checked against DuckDB.
    Stateless projections are batch≡stream by construction, so a green
    row certifies the stream path's VALUES, not just that it runs.

    Each event synthesizes a text blob carrying real PII shapes
    (email + IPv4 formatted from the keys — the driver schema has no
    PII columns) and, on a deterministic subset, a planted benchmark
    4-gram; branch 'pii' checks redaction + counts, branch 'contam'
    checks gram-overlap flagging."""
    from .operators import curation

    ev = _t(spark, sf_dir, "events")
    marker = F.when(
        (F.col("event_type") == "error") & (F.col("user_id") % 3 == 0),
        F.lit(" " + _STREAM_BENCH_GRAMS[0]),
    ).otherwise(F.lit(""))
    blob = F.concat(
        F.concat_ws(
            " ",
            F.col("event_type"),
            F.format_string("user%d@example.com", F.col("user_id")),
            F.format_string(
                "%d.%d.%d.%d",
                F.col("user_id") % 224,
                F.col("event_id") % 256,
                (F.col("event_id") * 7) % 256,
                F.col("user_id") % 250,
            ),
            F.col("props"),
        ),
        marker,
    )
    df = ev.select("event_id", blob.alias("text"))
    pii = textstats.scrub_pii(df, text_col="text", id_col="event_id").select(
        F.lit("pii").alias("branch"),
        F.col("event_id").alias("id"),
        F.col("scrubbed").alias("text_out"),
        (F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")).cast("bigint").alias("n_pii"),
        F.col("has_pii").alias("flag"),
    )
    contam = df.select(
        F.lit("contam").alias("branch"),
        F.col("event_id").alias("id"),
        F.lit(None).cast("string").alias("text_out"),
        F.lit(0).cast("bigint").alias("n_pii"),
        curation.contamination_flag_col(F.col("text"), _STREAM_BENCH_GRAMS, 4).alias("flag"),
    )
    return pii.unionByName(contam)


STREAM_PARITY_SQL = f"""
WITH blob AS (
  SELECT event_id,
         concat_ws(' ', event_type,
                   printf('user%d@example.com', user_id),
                   printf('%d.%d.%d.%d', user_id % 224, event_id % 256,
                          (event_id * 7) % 256, user_id % 250),
                   props)
         || (CASE WHEN event_type = 'error' AND user_id % 3 = 0
                  THEN ' {_STREAM_BENCH_GRAMS[0]}' ELSE '' END) AS text
  FROM events
)
SELECT 'pii' AS branch, event_id AS id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{_PII_EMAIL}', '[REDACTED]', 'g'),
         '{_PII_PHONE}', '[REDACTED]', 'g'),
         '{_PII_IPV4}', '[REDACTED]', 'g') AS text_out,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}'))
            + len(regexp_extract_all(text, '{_PII_PHONE}'))
            + len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_pii,
       (len(regexp_extract_all(text, '{_PII_EMAIL}'))
        + len(regexp_extract_all(text, '{_PII_PHONE}'))
        + len(regexp_extract_all(text, '{_PII_IPV4}'))) > 0 AS flag
FROM blob
UNION ALL
SELECT 'contam', event_id, NULL, CAST(0 AS BIGINT),
       list_has_any(
         list_distinct(CASE WHEN len(toks) >= 4
           THEN list_transform(generate_series(1, len(toks) - 3),
                               i -> array_to_string(list_slice(toks, i, i + 3), ' '))
           ELSE [] END),
         ['{_STREAM_BENCH_GRAMS[0]}'])
FROM (
  SELECT event_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
  FROM blob
) t
"""


# ------------------------------------------------- round-4 tier gates


def pq_recall(spark, sf_dir):
    """PQ and IVF-PQ refined top-k recall vs the exact cosine gate —
    the driver-level evidence that the compressed-index tier answers
    real queries, not just unit fixtures.

    Oracle = `_pq_oracle_sql`: the deterministic trainers (shared
    numpy k-means cores, same ordered-limit sample contract) rerun
    driver-side off-Spark, and encode/ADC/probe/refine are replayed in
    numpy with the same round-6 quantization — the pinned-model
    pattern of bpe_tokenize/mmr_extract.  The gate additionally
    SELF-ASSERTS: recall is computed eagerly against the exact top-k
    and the build RAISES below threshold, so a quality regression
    turns the driver row red even if the replay agreed."""
    k, thresholds = 10, {"pq": 0.7, "ivf_pq": 0.6}
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def _topk_sets(df) -> dict:
        out: dict = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = _topk_sets(similarity.cosine_topk(emb, queries, k=k))
    books = similarity.train_pq_codebook(emb, m=8, ksub=64)
    approx = {
        "pq": _topk_sets(
            similarity.pq_ann_topk(
                similarity.pq_encode(emb, books), queries, books,
                k=k, refine=3, corpus=emb,
            )
        )
    }
    cents = similarity.train_ivf_codebook(emb, nlist=16)
    approx["ivf_pq"] = _topk_sets(
        similarity.ivf_pq_ann_topk(
            similarity.ivf_pq_index(emb, cents, books), queries, cents, books,
            nprobe=4, k=k, refine=3, corpus=emb,
        )
    )
    rows = []
    for variant, got in approx.items():
        recall = sum(
            len(got.get(q, set()) & hits) / float(k) for q, hits in exact.items()
        ) / max(len(exact), 1)
        if recall < thresholds[variant]:
            raise RuntimeError(
                f"{variant} refined recall@{k} = {recall:.3f} < "
                f"{thresholds[variant]} — compressed index quality regressed"
            )
        rows.append((variant, round(recall, 6), len(exact), k))
    return spark.createDataFrame(
        sorted(rows), "variant string, recall double, n_queries long, k long"
    )


_BPE_MERGES = 200
_BPE_HEAD = 5


def bpe_tokenize(spark, sf_dir):
    """Trainable-BPE corpus accounting end to end: learn merges from
    the corpus (driver-capped ordered sample), tokenize every document
    with the Arrow-batched UDFs, emit per-doc token count + the first
    tokens.  Oracle = the pinned pure-Python BPE model run driver-side
    over the same parquet (deterministic merges make the distributed
    path exactly reproducible)."""
    from .operators import tokenize as tok

    docs = _t(spark, sf_dir, "documents")
    merges = tok.train_bpe(docs, num_merges=_BPE_MERGES)
    tok_udf, cnt_udf = tok.make_bpe_udfs(merges)
    return docs.select(
        "doc_id",
        cnt_udf(F.col("text")).cast("long").alias("n_bpe_tokens"),
        F.concat_ws("|", F.slice(tok_udf(F.col("text")), 1, _BPE_HEAD)).alias(
            "head_tokens"
        ),
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


_ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def _oracle_docs() -> list[tuple[int, str]]:
    """(doc_id, text) of the driver's correctness-scale documents table,
    read WITHOUT Spark — inputs for the pinned-Python-model oracles."""
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, coalesce(text, '') FROM "
        f"'{_ORACLE_SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def _bpe_oracle_sql() -> str:
    """VALUES oracle from the pinned pure-Python BPE model (tokenize.
    bpe_tokenize_py): trains on the same ordered-capped sample contract
    as train_bpe, entirely off-Spark.  Generated lazily (first
    oracle_sql() call) so importing this module stays cheap."""
    from collections import Counter

    from .operators import tokenize as tok

    rows = _oracle_docs()
    wf: Counter = Counter()
    for _, text in rows[:50_000]:  # train_bpe max_train_rows default
        wf.update(tok._words(text))
    merges = tok.train_bpe_from_counts(wf, num_merges=_BPE_MERGES)
    vals = []
    for doc_id, text in rows:
        toks = tok.bpe_tokenize_py(text, merges)
        head = _sql_quote("|".join(toks[:_BPE_HEAD]))
        vals.append(f"({doc_id}, {len(toks)}, {head})")
    return (
        "SELECT doc_id::BIGINT AS doc_id, n::BIGINT AS n_bpe_tokens, "
        "head_tokens FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(doc_id, n, head_tokens)"
    )


_BM25_QUERY_IDS = 5  # query q = first _BM25_HEAD tokens of doc q
_BM25_HEAD = 8
_BM25_K = 10


def _bm25_gate_parts(spark, sf_dir):
    """Shared by the 'bm25' and 'rrf' branches: the lexical top-10 for
    the 5 head-of-document queries (checkpointed — rrf reuses it), and
    the dense cosine top-10 for the SAME query ids over the aligned
    embeddings table (vec_id ≡ doc_id per TESTDATA.md)."""
    from .operators import retrieval

    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") < _BM25_QUERY_IDS).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, _BM25_HEAD)
        ).alias("text"),
    )
    lex = retrieval.bm25_topk(docs, queries, k=_BM25_K).localCheckpoint()
    emb = _t(spark, sf_dir, "embeddings")
    dense = similarity.cosine_topk(
        emb,
        emb.filter(F.col("vec_id") < _BM25_QUERY_IDS).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=_BM25_K,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rnk")
    fused = retrieval.rrf_fuse([lex, dense], k=_BM25_K)
    return lex, fused


def retrieval_hybrid(spark, sf_dir):
    """Bench entry for the retrieval tier: BM25 postings build +
    scoring for the 5 head-of-document queries, dense cosine top-10,
    and the RRF fusion — returns the fused ranking (forcing the whole
    hybrid path).  The lexical index build lands in build_s (the
    localCheckpoint pin); the steady number is the prepared fusion."""
    _lex, fused = _bm25_gate_parts(spark, sf_dir)
    return fused


def sim_ann_suite(spark, sf_dir):
    """sim_lsh_ann_topk + sim_ivf_ann_topk in one tagged gate (r5
    merge — frees a budget slot; both ANN paths keep every
    (query, hit, score, rank) row), plus the retrieval tier (r6):
    'bm25' — lexical top-10 per head-of-document query, every
    (query, doc, integer micro-score, rank) row vs the pinned-Python
    twin; 'rrf' — the hybrid lexical+dense fusion, every
    (query, doc, exact-integer rrf score, n_lists, rank) row;
    'hneg' (r7) — hard-negative mining with self + near-dup (≥0.95)
    exclusion over the twin-planted corpus; 'msim' (r7) — ColBERT-
    style MaxSim late interaction over 4-chunks-per-doc groupings,
    integer micro Σmax; 'recall' (r8) — ann_recall_report's
    IVF-vs-exact recall@10 tuning table at nprobe ∈ {1,2,4}, every
    exact-integer ppm aggregate value-checked against a pure-SQL
    replay; 'edrift' (r8) — embedding_drift's cluster-histogram PSI
    between the even- and odd-id corpus halves assigned against the
    SAME first-16 quantizer, replayed by psi_core over DuckDB-side
    assignment counts."""
    lsh = _suite_rows(
        sim_lsh_ann_topk(spark, sf_dir), "lsh",
        F.concat_ws("|", F.col("query_id").cast("string"), F.col("vec_id").cast("string")),
        v_str=F.col("rnk").cast("string"),
        v_num=F.col("cos_sim"),
    )
    ivf = _suite_rows(
        sim_ivf_ann_topk(spark, sf_dir), "ivf",
        F.concat_ws("|", F.col("query_id").cast("string"), F.col("vec_id").cast("string")),
        v_str=F.col("rnk").cast("string"),
        v_num=F.col("cos_sim"),
    )
    lex, fused = _bm25_gate_parts(spark, sf_dir)
    bm25 = _suite_rows(
        lex, "bm25",
        F.concat_ws("|", F.col("query_id").cast("string"), F.col("doc_id").cast("string")),
        v_str=F.col("rnk").cast("string"),
        v_num=F.col("score_micro").cast("double"),
    )
    rrf = _suite_rows(
        fused, "rrf",
        F.concat_ws("|", F.col("query_id").cast("string"), F.col("doc_id").cast("string")),
        v_str=F.concat_ws("|", F.col("rnk").cast("string"), F.col("n_lists").cast("string")),
        v_num=F.col("rrf_micro").cast("double"),
    )
    # r7 'hneg': hard-negative mining — per anchor the top-5 most
    # similar NON-duplicates (self excluded by id, near-dups by the
    # cos < 0.95 ceiling; the twin corpus plants real dups so the
    # ceiling provably bites — anchor 0's twin at +100000 has cos 1.0
    # and must be absent)
    hneg_corpus = _semdedup_corpus(spark, sf_dir)
    anchors = hneg_corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hneg = _suite_rows(
        similarity.hard_negatives(
            hneg_corpus, anchors, k_neg=5, dup_ceiling=0.95
        ),
        "hneg",
        F.concat_ws("|", F.col("query_id").cast("string"), F.col("vec_id").cast("string")),
        v_str=F.col("rnk").cast("string"),
        v_num=F.col("cos_sim"),
    )
    # r7 'msim': ColBERT-style MaxSim late interaction — embeddings
    # grouped 4-chunks-per-doc, the first two docs' chunk sets as
    # queries; integer micro-sims make the Σmax exact long arithmetic
    chunks = _t(spark, sf_dir, "embeddings").select(
        F.expr("CAST(vec_id div 4 AS BIGINT)").alias("doc_id"),
        "vec_id",
        "embedding",
    )
    qchunks = chunks.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    msim = _suite_rows(
        similarity.maxsim_topk(chunks, qchunks, k=10),
        "msim",
        F.concat_ws("|", F.col("query_id").cast("string"), F.col("doc_id").cast("string")),
        v_str=F.col("rnk").cast("string"),
        v_num=F.col("maxsim_micro").cast("double"),
    )
    # r8 'recall': the nprobe tuning table — exact top-10 vs the IVF
    # tier at nprobe 1/2/4 over the same deterministic first-16
    # quantizer the 'ivf' branch pins; mean/min recall in exact ppm
    emb = _t(spark, sf_dir, "embeddings")
    equeries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.ivf_centroids(emb, 16)
    recall = _suite_rows(
        similarity.ann_recall_report(
            emb, equeries, cents, nprobes=[1, 2, 4], k=10
        ),
        "recall",
        F.col("nprobe"),
        v_str=F.concat_ws(
            "|", F.col("n_queries").cast("string"),
            F.col("min_recall_ppm").cast("string"),
        ),
        v_num=F.col("mean_recall_ppm").cast("double"),
    )
    # r8 'edrift': embedding-space PSI between the even/odd corpus
    # halves, both assigned against the SAME centroids (the operator's
    # contract); psi_core is shared with the oracle replay
    edrift = _suite_rows(
        similarity.embedding_drift(
            similarity.ivf_assign(emb.filter(F.col("vec_id") % 2 == 0), cents),
            similarity.ivf_assign(emb.filter(F.col("vec_id") % 2 == 1), cents),
            n_clusters=16,
        ),
        "edrift",
        F.lit("even_vs_odd"),
        v_str=F.concat_ws(
            "|", F.col("n_buckets").cast("string"),
            F.col("n_old").cast("string"), F.col("n_new").cast("string"),
        ),
        v_num=F.col("psi_micro").cast("double"),
    )
    return _union_all([lsh, ivf, bm25, rrf, hneg, msim, recall, edrift])


def _bm25_oracle_values() -> str:
    """Pinned-Python BM25 oracle: the pure twin (retrieval.
    bm25_scores_py — identical tokenization, per-contribution IEEE op
    order, HALF_UP micro rounding, tiebreaks) re-run off-Spark over
    the driver's parquet. Emits VALUES(query_id, doc_id, score_micro,
    rnk)."""
    from .operators import retrieval

    rows = _oracle_docs()
    queries = [
        (d, " ".join(retrieval.terms_py(t)[:_BM25_HEAD]))
        for d, t in rows
        if d < _BM25_QUERY_IDS
    ]
    scored = retrieval.bm25_scores_py(rows, queries, k=_BM25_K)
    vals = ", ".join(f"({q}, {d}, {s}, {r})" for q, d, s, r in scored)
    return (
        "SELECT q::BIGINT AS query_id, d::BIGINT AS doc_id, "
        "s::BIGINT AS score_micro, r::INT AS rnk "
        f"FROM (VALUES {vals}) AS t(q, d, s, r)"
    )


def _rrf_oracle_sql(bm25_values: str) -> str:
    """Hybrid-fusion replay: lexical ranks from the pinned BM25 VALUES,
    dense ranks from the proven cosine oracle (SIM_TOPK_SQL extended to
    the 5 gate queries), contributions as the same exact integer
    round-half-up (2S + r) // (2r) — no floating point anywhere."""
    dense = SIM_TOPK_SQL.replace("vec_id < 5", f"vec_id < {_BM25_QUERY_IDS}")
    return f"""
WITH lex AS ({bm25_values}),
dense AS ({dense}),
contrib AS (
  SELECT query_id, doc_id,
         (2000000000 + (rnk + 60)) // (2 * (rnk + 60)) AS c
  FROM lex
  UNION ALL
  SELECT query_id, vec_id,
         (2000000000 + (rnk + 60)) // (2 * (rnk + 60))
  FROM dense
),
fused AS (
  SELECT query_id, doc_id, SUM(c) AS rrf_micro, COUNT(*) AS n_lists
  FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id ASC) AS rnk
  FROM fused
)
SELECT query_id, doc_id, rrf_micro, n_lists, rnk
FROM ranked WHERE rnk <= {_BM25_K}
"""


def _ivf_sql_at_nprobe(nprobe: int) -> str:
    """SIM_IVF_SQL with the probe fan-out widened to `nprobe` (the
    template's qprobe CTE carries the literal once)."""
    return SIM_IVF_SQL.replace("crnk <= 2", f"crnk <= {int(nprobe)}")


def _recall_oracle_sql() -> str:
    """Pure-SQL replay of ann_recall_report at nprobe 1/2/4: exact
    top-10 (SIM_TOPK_SQL) left-joined against each IVF pass; per-query
    recall and the report aggregates as the same exact integer
    divisions the Spark path emits."""
    per_nprobe = []
    for np_ in (1, 2, 4):
        per_nprobe.append(f"""
  SELECT {np_} AS nprobe, e.query_id,
         (sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
           // 10 AS recall_ppm
  FROM ({SIM_TOPK_SQL}) e
  LEFT JOIN (SELECT query_id, vec_id FROM ({_ivf_sql_at_nprobe(np_)}) x{np_}) i
    ON e.query_id = i.query_id AND e.vec_id = i.vec_id
  GROUP BY e.query_id""")
    perq = "\n  UNION ALL\n".join(per_nprobe)
    return f"""
WITH perq AS (
{perq}
)
SELECT nprobe, count(*) AS n_queries,
       sum(recall_ppm) // count(*) AS mean_recall_ppm,
       min(recall_ppm) AS min_recall_ppm
FROM perq GROUP BY nprobe
"""


def _edrift_oracle_row() -> str:
    """'edrift' replay: DuckDB reproduces the first-16 quantizer
    assignment (the exact expression the green 'ivf' branch pins),
    the even/odd histogram split happens in SQL, and the SAME
    psi_core the Spark path calls turns the two count dicts into the
    one-row report — pinned as a literal SELECT."""
    import duckdb as _dd

    from .operators.classify import psi_core

    rows = _dd.sql(f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec
  FROM '{_ORACLE_SF_DIR}/embeddings.parquet' ORDER BY vec_id LIMIT 16
),
sims AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cvec::DOUBLE[])
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]))), 6) DESC,
                 c.cid ASC) AS crnk
  FROM '{_ORACLE_SF_DIR}/embeddings.parquet' e CROSS JOIN cent c
)
SELECT vec_id % 2 AS parity, cid, count(*) AS n
FROM sims WHERE crnk = 1 GROUP BY 1, 2
""").fetchall()
    old = {int(c): int(n) for p, c, n in rows if p == 0}
    new = {int(c): int(n) for p, c, n in rows if p == 1}
    pm, nb, no, nn = psi_core(old, new, 16)
    return (
        f"SELECT 'edrift', 'even_vs_odd', "
        f"'{nb}|{no}|{nn}', CAST({pm} AS DOUBLE)"
    )


def _sim_ann_suite_sql() -> str:
    bm25_vals = _bm25_oracle_values()
    return f"""
SELECT 'lsh' AS suite_case,
       CAST(query_id AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR) AS k,
       CAST(rnk AS VARCHAR) AS v_str, CAST(cos_sim AS DOUBLE) AS v_num
FROM ({_lsh_ann_oracle_sql()}) s1
UNION ALL
SELECT 'ivf', CAST(query_id AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR),
       CAST(rnk AS VARCHAR), CAST(cos_sim AS DOUBLE)
FROM ({SIM_IVF_SQL}) s2
UNION ALL
SELECT 'bm25', CAST(query_id AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR),
       CAST(rnk AS VARCHAR), CAST(score_micro AS DOUBLE)
FROM ({bm25_vals}) s3
UNION ALL
SELECT 'rrf', CAST(query_id AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR),
       CAST(rnk AS VARCHAR) || '|' || CAST(n_lists AS VARCHAR),
       CAST(rrf_micro AS DOUBLE)
FROM ({_rrf_oracle_sql(bm25_vals)}) s4
UNION ALL
SELECT 'hneg', CAST(query_id AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR),
       CAST(rnk AS VARCHAR), CAST(cos_sim AS DOUBLE)
FROM ({_hneg_sql()}) s5
UNION ALL
SELECT 'msim', CAST(query_id AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR),
       CAST(rnk AS VARCHAR), CAST(maxsim_micro AS DOUBLE)
FROM ({_MSIM_SQL}) s6
UNION ALL
SELECT 'recall', CAST(nprobe AS VARCHAR),
       CAST(n_queries AS VARCHAR) || '|' || CAST(min_recall_ppm AS VARCHAR),
       CAST(mean_recall_ppm AS DOUBLE)
FROM ({_recall_oracle_sql()}) s7
UNION ALL
{_edrift_oracle_row()}
"""


def _hneg_sql() -> str:
    return _HNEG_SQL_TEMPLATE.replace("__TWIN__", str(_SEMDEDUP_TWIN))


_HNEG_SQL_TEMPLATE = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + __TWIN__, embedding FROM embeddings WHERE vec_id % 17 = 0
),
q AS (SELECT vec_id AS query_id, embedding AS qvec FROM corpus WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         round(list_dot_product(c.embedding::DOUBLE[], q.qvec::DOUBLE[])
               / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))), 6) AS cos_sim
  FROM corpus c CROSS JOIN q
),
cand AS (
  SELECT * FROM scored WHERE query_id <> vec_id AND cos_sim < 0.95
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
  FROM cand
)
SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
"""


_MSIM_SQL = """
WITH chunks AS (
  SELECT vec_id // 4 AS doc_id, vec_id, embedding FROM embeddings
),
q AS (
  SELECT doc_id AS query_id, vec_id AS qpos, embedding AS qvec
  FROM chunks WHERE doc_id < 2
),
scored AS (
  SELECT q.query_id, q.qpos, c.doc_id,
         CAST(round(round(list_dot_product(c.embedding::DOUBLE[], q.qvec::DOUBLE[])
               / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))), 6) * 1e6)
              AS BIGINT) AS micro
  FROM chunks c CROSS JOIN q
),
best AS (
  SELECT query_id, qpos, doc_id, max(micro) AS m
  FROM scored GROUP BY query_id, qpos, doc_id
),
fused AS (
  SELECT query_id, doc_id, sum(m) AS maxsim_micro
  FROM best GROUP BY query_id, doc_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY maxsim_micro DESC, doc_id ASC) AS rnk
  FROM fused
)
SELECT query_id, doc_id, maxsim_micro, rnk FROM ranked WHERE rnk <= 10
"""


def dedup_minhash_suite(spark, sf_dir):
    """dedup_minhash_lsh (unigram shingles) + dedup_minhash_lsh3
    (trigram) in one tagged gate (r5 merge — frees a budget slot; both
    configurations keep every candidate-pair row), plus 'ed' — the
    candidate → verify split: the trigram candidates re-checked by
    exact (budget-short-circuited) Levenshtein, surviving pairs with
    their absolute and relative distances value-checked."""
    uni = _suite_rows(
        dedup_minhash_lsh(spark, sf_dir), "uni",
        F.concat_ws("|", F.col("id_a").cast("string"), F.col("id_b").cast("string")),
        v_num=F.col("est_jaccard"),
    )
    tri_pairs = dedup_minhash_lsh3(spark, sf_dir).localCheckpoint()
    tri = _suite_rows(
        tri_pairs, "tri",
        F.concat_ws("|", F.col("id_a").cast("string"), F.col("id_b").cast("string")),
        v_num=F.col("est_jaccard"),
    )
    docs = _t(spark, sf_dir, "documents")
    verified = dedup.verify_pairs_edit_distance(
        tri_pairs, docs, max_rel_dist=0.5
    )
    ed = _suite_rows(
        verified, "ed",
        F.concat_ws("|", F.col("id_a").cast("string"), F.col("id_b").cast("string")),
        v_str=F.col("edit_dist").cast("string"),
        v_num=F.col("rel_dist"),
    )
    # 'inc' (r5): the shard-vs-persisted-signature-index path — must
    # equal the full trigram pair set restricted to shard-touching
    # pairs (the operator's documented contract, driver-level)
    cutoff = _table_count(spark, sf_dir, "documents") // 2
    index = dedup.minhash_signatures(docs.filter(F.col("doc_id") < cutoff)).selectExpr(
        "id AS doc_id", "sig"
    )
    inc = _suite_rows(
        dedup.minhash_lsh_pairs(
            docs.filter(F.col("doc_id") >= cutoff),
            threshold=0.5, num_hashes=16, bands=8, shingle_n=3, index_sigs=index,
        ),
        "inc",
        F.concat_ws("|", F.col("id_a").cast("string"), F.col("id_b").cast("string")),
        v_num=F.col("est_jaccard"),
    )
    # 'apj' (r8): AllPairs prefix-filtered EXACT Jaccard join — must
    # equal the brute-force trigram-Jaccard oracle row for row, so a
    # green gate IS the prefix-pruning-is-lossless theorem at driver
    # level (same oracle as the dedup_ngram_jaccard3 gate)
    apj = _suite_rows(
        dedup.prefix_jaccard_pairs(docs, threshold=0.8, n=3),
        "apj",
        F.concat_ws("|", F.col("id_a").cast("string"), F.col("id_b").cast("string")),
        v_num=F.col("jaccard"),
    )
    return _union_all([uni, tri, ed, inc, apj])


def _dedup_minhash_suite_sql() -> str:
    return f"""
SELECT 'uni' AS suite_case,
       CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR) AS k,
       '' AS v_str, CAST(est_jaccard AS DOUBLE) AS v_num
FROM ({_minhash_oracle_sql(shingle_n=1)}) s1
UNION ALL
SELECT 'tri', CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR),
       '', CAST(est_jaccard AS DOUBLE)
FROM ({_minhash_oracle_sql(shingle_n=3)}) s2
UNION ALL
SELECT 'ed', CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR),
       CAST(edit_dist AS VARCHAR), CAST(rel_dist AS DOUBLE)
FROM (
  SELECT p.id_a, p.id_b,
         levenshtein(a.text, b.text) AS edit_dist,
         greatest(len(a.text), len(b.text)) AS ml,
         CASE WHEN greatest(len(a.text), len(b.text)) > 0
              THEN round(CAST(levenshtein(a.text, b.text) AS DOUBLE)
                         / greatest(len(a.text), len(b.text)), 6)
              ELSE 0.0 END AS rel_dist
  FROM ({_minhash_oracle_sql(shingle_n=3)}) p
  JOIN documents a ON p.id_a = a.doc_id
  JOIN documents b ON p.id_b = b.doc_id
) v
WHERE rel_dist <= 0.5 AND edit_dist <= ceil(0.5 * ml)
UNION ALL
-- incremental ≡ full trigram pairs restricted to shard-touching
-- pairs ((least, greatest) ordering ⇒ id_b >= cutoff suffices)
SELECT 'inc', CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR),
       '', CAST(est_jaccard AS DOUBLE)
FROM ({_minhash_oracle_sql(shingle_n=3)}) s4
WHERE id_b >= (SELECT count(*) // 2 FROM documents)
UNION ALL
-- prefix-filtered AllPairs join ≡ brute-force exact trigram Jaccard
SELECT 'apj', CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR),
       '', CAST(jaccard AS DOUBLE)
FROM ({DEDUP_JACCARD3_SQL}) s5
"""


_SEMDEDUP_NLIST = 8
_SEMDEDUP_T = 0.9
_SEMDEDUP_TWIN = 100_000


def _semdedup_corpus(spark, sf_dir):
    """embeddings + identical-embedding twins (vec_id + 100000 for
    vec_id %% 17 == 0): the synthetic corpus has no organic near-dups
    (max pairwise cosine ≈ 0.51), so the twins provide real semantic-
    duplicate structure with clean separation from the threshold."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") % 17 == 0).select(
        (F.col("vec_id") + _SEMDEDUP_TWIN).alias("vec_id"), "embedding"
    )
    return emb.unionByName(twins)


def semdedup(spark, sf_dir):
    """SemDeDup at driver level (similarity.semantic_dedup, Abbas et
    al. 2023) with TRAINED centroids: k-means codebook → nearest-
    centroid blocking → intra-cluster cosine pairs → connected
    components → canonical survivors.  Oracle = pinned-centroid
    replay: the trained matrix (deterministic ordered-sample trainer,
    rerun off-Spark via ivf_kmeans_np) embeds as a VALUES table and
    assignment/pairing/survivorship re-run in SQL.
    Branches: 'assign' = every doc's nearest centroid (the blocking
    decision itself), 'pair' = discovered duplicate pairs with their
    cosine, 'surv' = every doc's (cluster_id, is_canonical)."""
    corpus = _semdedup_corpus(spark, sf_dir)
    cents = similarity.train_ivf_codebook(corpus, nlist=_SEMDEDUP_NLIST)
    # pinned: the assignment matmul runs ONCE even though three
    # branches (assign rows, sinc's index side, and the survivor
    # baseline) reference it — union branches otherwise re-evaluate
    # the Arrow UDF subtree per reference
    assigned = similarity.ivf_assign(corpus, cents).localCheckpoint()
    assign_rows = _suite_rows(
        assigned, "assign", F.col("vec_id"), v_num=F.col("centroid_id")
    )
    pairs = similarity.semantic_dedup_pairs(
        corpus, cents, threshold=_SEMDEDUP_T
    ).localCheckpoint()
    pair_rows = _suite_rows(
        pairs, "pair",
        F.concat_ws("|", F.col("id_a").cast("string"), F.col("id_b").cast("string")),
        v_str=F.col("centroid_id").cast("string"),
        v_num=F.col("cos_sim"),
    )
    surv = dedup.dedup_survivors(corpus.select("vec_id"), pairs, id_col="vec_id")
    surv_rows = _suite_rows(
        surv, "surv", F.col("vec_id"),
        v_str=F.col("is_canonical").cast("string"),
        v_num=F.col("cluster_id"),
    )
    # r6 'sinc': the INCREMENTAL semantic path — twins as the new
    # shard against the originals' persisted cluster-assigned index;
    # must equal the full pair set restricted to pairs touching the
    # shard (the minhash/simhash/phash 'inc' contract, semantic tier)
    sinc_pairs = similarity.semantic_neardup_incremental(
        corpus.filter(F.col("vec_id") >= _SEMDEDUP_TWIN),
        assigned.filter(F.col("vec_id") < _SEMDEDUP_TWIN),
        cents, threshold=_SEMDEDUP_T,
        shard_assigned=assigned.filter(F.col("vec_id") >= _SEMDEDUP_TWIN),
    ).localCheckpoint()
    sinc_rows = _suite_rows(
        sinc_pairs, "sinc",
        F.concat_ws("|", F.col("id_a").cast("string"), F.col("id_b").cast("string")),
        v_str=F.col("centroid_id").cast("string"),
        v_num=F.col("cos_sim"),
    )
    # r6: 'km'/'kmc' — the DISTRIBUTED Lloyd trainer (full-corpus, no
    # driver cap) value-checked end-to-end: final per-vector
    # assignments and every centroid cell must match the pinned
    # pure-Python replay bit-for-bit (exact quantized-integer update,
    # reproducible left-fold distances — similarity.py kmeans notes).
    _kc, kcm = similarity.kmeans_train_distributed(corpus, k=4, iters=2)
    kvec = F.col("embedding").cast("array<double>")
    km_assign = corpus.select(
        "vec_id",
        similarity._kmeans_assign_col(kvec, [list(c) for c in kcm]).alias("cid"),
    )
    km_rows = _suite_rows(km_assign, "km", F.col("vec_id"), v_num=F.col("cid"))
    d = kcm.shape[1]
    kmc_rows = _suite_rows(
        spark.createDataFrame(
            [(c, j, float(kcm[c][j])) for c in range(4) for j in range(d)],
            "c int, j int, v double",
        ),
        "kmc",
        F.concat_ws("|", F.col("c").cast("string"), F.col("j").cast("string")),
        v_num=F.col("v"),
    )
    # r6 'kmu'/'kmuc': the ONLINE path — seed integer cluster state
    # from the originals against the trained centroids, absorb the
    # twin shard, value-check the shard assignments and every updated
    # centroid cell against the pure-Python replay (exact: assignment
    # folds + associative integer-cell merge)
    zero_state = similarity.kmeans_state(
        [list(c) for c in kcm], [0] * 4, [[0] * d for _ in range(4)]
    )
    originals = corpus.filter(F.col("vec_id") < _SEMDEDUP_TWIN)
    twins = corpus.filter(F.col("vec_id") >= _SEMDEDUP_TWIN)
    _a0, seeded = similarity.kmeans_update_distributed(originals, zero_state)
    kmu_assign, upd_state = similarity.kmeans_update_distributed(twins, seeded)
    kmu_rows = _suite_rows(kmu_assign, "kmu", F.col("vec_id"), v_num=F.col("cid"))
    ucm = upd_state[0]
    kmuc_rows = _suite_rows(
        spark.createDataFrame(
            [(c, j, float(ucm[c][j])) for c in range(4) for j in range(d)],
            "c int, j int, v double",
        ),
        "kmuc",
        F.concat_ws("|", F.col("c").cast("string"), F.col("j").cast("string")),
        v_num=F.col("v"),
    )
    # r6 'topic': cluster labeling over the SAME pinned assignment —
    # top-5 distinctive terms per centroid by integer-exact lift
    # (curation.cluster_topics; twins carry no text so the doc join
    # restricts to originals, mirrored in the oracle)
    from .operators import curation as _cur

    topics = _cur.cluster_topics(
        assigned, _t(spark, sf_dir, "documents").select("doc_id", "text"),
        k=5, min_count=2,
    )
    topic_rows = _suite_rows(
        topics, "topic",
        F.concat_ws("|", F.col("centroid_id").cast("string"), F.col("term")),
        v_str=F.concat_ws("|", F.col("rnk").cast("string"), F.col("cnt").cast("string")),
        v_num=F.col("lift_milli").cast("double"),
    )
    # r6 'exem': top-3 exemplars per cluster (highest round-6 cosine
    # to the own centroid, id tiebreak) — the vector-side companion to
    # 'topic', over the same pinned assignment
    exem = similarity.cluster_exemplars(assigned, cents, k=3)
    exem_rows = _suite_rows(
        exem, "exem",
        F.concat_ws("|", F.col("centroid_id").cast("string"), F.col("id").cast("string")),
        v_str=F.col("rnk").cast("string"),
        v_num=F.col("centroid_sim"),
    )
    return _union_all(
        [assign_rows, pair_rows, surv_rows, km_rows, kmc_rows,
         kmu_rows, kmuc_rows, sinc_rows, topic_rows, exem_rows]
    )


def _semdedup_oracle_sql() -> str:
    """Pinned-centroid oracle for the semdedup gate: retrain the
    centroids off-Spark (duckdb read + similarity.ivf_kmeans_np on the
    same ordered sample), embed them as VALUES, and replay nearest-
    centroid assignment (round-6, centroid-id tiebreak — mirroring
    _ivf_assign_udf), intra-cluster pairing at the threshold, and
    min-id survivorship in SQL.  Twin edges are disjoint, so
    components need no recursion: cluster(twin) = twin − offset."""
    import duckdb
    import numpy as np

    from .operators import similarity as sim

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"'{_ORACLE_SF_DIR}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    X = np.array([r[1] for r in rows], dtype=np.float64)
    twin_sel = [i for i, v in enumerate(ids) if v % 17 == 0]
    # train matrix = union ordered by vec_id: originals, then twins
    # (+offset keeps them past every original id)
    m = sim._normalize_rows(np.vstack([X, X[twin_sel]]))[:100_000]
    cm = sim.ivf_kmeans_np(m, _SEMDEDUP_NLIST, 10)
    cent_vals = ", ".join(
        f"({c}, [{', '.join(repr(x) for x in cm[c])}]::DOUBLE[])"
        for c in range(_SEMDEDUP_NLIST)
    )
    # r6 'km'/'kmc': replay the distributed Lloyd trainer in pure
    # Python over the SAME corpus (originals + %17 twins) — exact
    # arithmetic (kmeans_lloyd_replay docstring), so values embed
    # verbatim (repr round-trips float64 through DuckDB literals).
    kvecs = [(int(v), X[i]) for i, v in enumerate(ids)] + [
        (int(ids[i]) + _SEMDEDUP_TWIN, X[i]) for i in twin_sel
    ]
    kcm, kassign = sim.kmeans_lloyd_replay(kvecs, k=4, iters=2)
    km_vals = ", ".join(f"({vid}, {cid})" for vid, cid in sorted(kassign.items()))
    kmc_vals = ", ".join(
        f"({c}, {j}, {kcm[c][j]!r})"
        for c in range(4)
        for j in range(len(kcm[0]))
    )
    # 'kmu'/'kmuc' replay: zero-seeded state + originals, then the
    # twin shard — same sequence as the gate's Spark path
    kd = len(kcm[0])
    zero_state = sim.kmeans_state(kcm, [0] * 4, [[0] * kd for _ in range(4)])
    originals_v = [(int(v), X[i]) for i, v in enumerate(ids)]
    twins_v = [(int(ids[i]) + _SEMDEDUP_TWIN, X[i]) for i in twin_sel]
    _a0, seeded = sim.kmeans_update_replay(originals_v, zero_state)
    kmu_assign, upd_state = sim.kmeans_update_replay(twins_v, seeded)
    kmu_vals = ", ".join(f"({vid}, {cid})" for vid, cid in sorted(kmu_assign.items()))
    kmuc_vals = ", ".join(
        f"({c}, {j}, {upd_state[0][c][j]!r})" for c in range(4) for j in range(kd)
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_SEMDEDUP_TWIN}, embedding FROM embeddings WHERE vec_id % 17 = 0
),
cent(cid, cvec) AS (VALUES {cent_vals}),
sims AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cvec)
                 / sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 6) DESC,
                 c.cid ASC) AS crnk
  FROM corpus e CROSS JOIN cent c
),
assigned AS (SELECT vec_id, embedding, cid AS centroid_id FROM sims WHERE crnk = 1),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim,
         a.centroid_id
  FROM assigned a JOIN assigned b USING (centroid_id)
  WHERE a.vec_id < b.vec_id
),
dup_pairs AS (SELECT * FROM pairs WHERE cos_sim >= {_SEMDEDUP_T}),
clusters AS (
  SELECT c.vec_id,
         coalesce(p1.id_a, c.vec_id) AS cluster_id
  FROM corpus c
  LEFT JOIN dup_pairs p1 ON c.vec_id = p1.id_b
)
SELECT 'assign' AS suite_case, CAST(vec_id AS VARCHAR) AS k,
       '' AS v_str, CAST(centroid_id AS DOUBLE) AS v_num
FROM assigned
UNION ALL
SELECT 'pair', CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR),
       CAST(centroid_id AS VARCHAR), CAST(cos_sim AS DOUBLE)
FROM dup_pairs
UNION ALL
-- incremental ≡ full restricted to pairs touching the twin shard:
-- twin ids all exceed every original id, so id_b ≥ offset ⇔ ≥1 twin
SELECT 'sinc', CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR),
       CAST(centroid_id AS VARCHAR), CAST(cos_sim AS DOUBLE)
FROM dup_pairs WHERE id_b >= {_SEMDEDUP_TWIN}
UNION ALL
SELECT 'surv', CAST(vec_id AS VARCHAR),
       CAST(cluster_id = vec_id AS VARCHAR), CAST(cluster_id AS DOUBLE)
FROM clusters
UNION ALL
SELECT 'km', CAST(vid AS VARCHAR), '', CAST(cid AS DOUBLE)
FROM (VALUES {km_vals}) km(vid, cid)
UNION ALL
SELECT 'kmc', CAST(c AS VARCHAR) || '|' || CAST(j AS VARCHAR), '', CAST(v AS DOUBLE)
FROM (VALUES {kmc_vals}) kmc(c, j, v)
UNION ALL
SELECT 'kmu', CAST(vid AS VARCHAR), '', CAST(cid AS DOUBLE)
FROM (VALUES {kmu_vals}) kmu(vid, cid)
UNION ALL
SELECT 'kmuc', CAST(c AS VARCHAR) || '|' || CAST(j AS VARCHAR), '', CAST(v AS DOUBLE)
FROM (VALUES {kmuc_vals}) kmuc(c, j, v)
UNION ALL
SELECT 'exem', CAST(centroid_id AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR),
       CAST(rnk AS VARCHAR), CAST(csim AS DOUBLE)
FROM (
  SELECT a.centroid_id, a.vec_id,
         round(list_dot_product(a.embedding::DOUBLE[], c.cvec)
               / sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])), 6) AS csim,
         row_number() OVER (
           PARTITION BY a.centroid_id
           ORDER BY round(list_dot_product(a.embedding::DOUBLE[], c.cvec)
               / sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])), 6) DESC,
               a.vec_id ASC) AS rnk
  FROM assigned a JOIN cent c ON a.centroid_id = c.cid
) exemrows
WHERE rnk <= 3
UNION ALL
SELECT 'topic', CAST(centroid_id AS VARCHAR) || '|' || term,
       CAST(rnk AS VARCHAR) || '|' || CAST(cnt AS VARCHAR),
       CAST(lift_milli AS DOUBLE)
FROM (
  WITH tok AS (
    SELECT a.centroid_id,
           unnest(list_filter(string_split_regex(lower(trim(coalesce(d.text, ''))), '\\s+'),
                              x -> x <> '')) AS term
    FROM assigned a JOIN documents d ON a.vec_id = d.doc_id
  ),
  tbase AS (SELECT centroid_id, term, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
  tenr AS (
    SELECT centroid_id, term, cnt,
           SUM(cnt) OVER (PARTITION BY centroid_id) AS cl_tok,
           SUM(cnt) OVER (PARTITION BY term) AS term_total,
           SUM(cnt) OVER () AS corpus_tokens
    FROM tbase
  ),
  tscored AS (
    -- HUGEINT widening mirrors the Spark side's decimal(38,0): the
    -- cnt·1e9 product overflows a bigint at real-corpus term counts
    SELECT centroid_id, term, cnt,
           CAST(((cnt::HUGEINT * 1000000000 // cl_tok) * 1000)
             // greatest(term_total::HUGEINT * 1000000000 // corpus_tokens, 1)
             AS BIGINT) AS lift_milli
    FROM tenr WHERE cnt >= 2
  ),
  tranked AS (
    SELECT *, row_number() OVER (
      PARTITION BY centroid_id
      ORDER BY lift_milli DESC, cnt DESC, term ASC) AS rnk
    FROM tscored
  )
  SELECT centroid_id, term, cnt, lift_milli, rnk FROM tranked WHERE rnk <= 5
) topics
"""


def corpus_release_suite(spark, sf_dir):
    """The corpus-release builder tier (curation.build_mixture /
    corpus_diff / leakage_safe_split / shuffle_deterministic)
    value-checked PER DOCUMENT — driver-level evidence for the
    one-call release story (release_corpus end-to-end, which only adds
    the lake write, stays pytest).
    Branches:
      'mix'  : three hash-disjoint parts at 60/100/25 pct — every
               surviving row's source tag (nested-sample arithmetic);
      'diff' : corpus_diff against a synthesized next snapshot (drop
               %7, edit %5, add %11 under shifted ids) — every doc's
               added/removed/changed/unchanged status;
      'split': leakage_safe_split over synthesized near-dup pairs
               ((d, d+1) for d %% 10 == 0) — cluster and split per
               doc, proving pairs never straddle splits;
      'shuf' : shuffle_deterministic's md5 permutation key per doc;
    plus (r5/r6, commented inline below): 'mixk' exact-k carve,
    'tokb' token-budget carve, 'curr' curriculum phases, 'epoch'
    water-fill plan, 'mat' plan materialization, 'temp' temperature
    mixture weights, 'mani' release data card."""
    from .operators import curation

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mix = curation.build_mixture(
        {
            "web": (docs.filter(F.col("doc_id") % 3 == 0), 60),
            "books": (docs.filter(F.col("doc_id") % 3 == 1), 100),
            "code": (docs.filter(F.col("doc_id") % 3 == 2), 25),
        }
    )
    mix_rows = _suite_rows(mix, "mix", F.col("doc_id"), v_str=F.col("mixture_source"))
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" EDITED"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    diff_rows = _suite_rows(
        curation.corpus_diff(docs, new), "diff", F.col("doc_id"), v_str=F.col("status")
    )
    pairs = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).join(docs.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
    split = curation.leakage_safe_split(docs.select("doc_id"), pairs=pairs)
    split_rows = _suite_rows(
        split, "split", F.col("doc_id"),
        v_str=F.col("split"), v_num=F.col("cluster_id"),
    )
    shuf = curation.shuffle_deterministic(docs.select("doc_id"), salt="release:")
    shuf_rows = _suite_rows(shuf, "shuf", F.col("doc_id"), v_str=F.col("_shuffle_key"))
    # 'mixk': exact-k-per-stratum eval-set carve (hash_sample_k) — 7
    # docs per language by md5 rank, the growth-stable few-shot picker
    full = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    carve = curation.hash_sample_k(full, k=7, key_col="doc_id", salt="carve:",
                                   stratum_col="lang")
    mixk_rows = _suite_rows(carve, "mixk", F.col("doc_id"), v_str=F.col("lang"))
    # 'tokb': TOKEN-budget carve (sample_token_budget) — 5000 chars
    # per language by md5 rank; every kept doc's running total
    # value-checked (tokens are the unit mixtures are specified in)
    tokb = curation.sample_token_budget(
        full, budget_tokens=5000, token_col="n_chars", key_col="doc_id",
        salt="tok:", stratum_col="lang",
    )
    tokb_rows = _suite_rows(
        tokb, "tokb", F.col("doc_id"),
        v_str=F.col("lang"), v_num=F.col("_cum_tokens"),
    )
    # 'wsk' (r8): exact-k WEIGHTED sample without replacement
    # (Efraimidis–Spirakis, hash-deterministic) — 25 docs per lang
    # with inclusion odds ∝ n_chars; membership value-checked against
    # the same integer-priority formula in SQL
    wsk = curation.weighted_sample_k(
        full.filter(F.col("n_chars") > 0), k=25, weight_col="n_chars",
        key_col="doc_id", salt="wsk:", stratum_col="lang",
    )
    wsk_rows = _suite_rows(
        wsk, "wsk", F.col("doc_id"),
        v_str=F.col("lang"), v_num=F.col("n_chars").cast("double"),
    )
    # 'curr': curriculum ordering (r6) — 3 phases cut at the EXACT
    # rank-ceil(k·n/3) n_chars terciles (TakeOrdered cuts, the pplb
    # machinery), deterministic within-phase order key; every doc's
    # (phase, order_key) value-checked
    curr = curation.curriculum_order(
        full, score_col="n_chars", n_phases=3, salt="cur:",
    )
    curr_rows = _suite_rows(
        curr, "curr", F.col("doc_id"),
        v_str=F.col("_order_key"), v_num=F.col("phase"),
    )
    # 'epoch': epoch-aware repetition planning (r6, Muennighoff et al.
    # 2023 water-filling) — per-source token rollup with a varied
    # deterministic weight (1 + src_idx % 7) so the gate exercises the
    # capped/uncapped boundary; every source's (capped, alloc,
    # epochs_ppm) value-checked against a HUGEINT-cumsum SQL replay
    srcs = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("n_tokens"))
        .withColumn(
            "w", F.lit(1) + F.substring("source", 4, 10).cast("long") % 7
        )
    )
    ep = curation.plan_epoch_mixture(
        srcs, budget_tokens=350_000, weight_col="w"
    )
    ep_rows = _suite_rows(
        ep, "epoch", F.col("source"),
        v_str=F.concat_ws("|", F.col("capped").cast("string"),
                          F.col("alloc_tokens").cast("string")),
        v_num=F.col("epochs_ppm"),
    )
    # 'mat': epoch-plan MATERIALIZATION (r6) over three sources with a
    # budget that mixes capped/fractional outcomes — every emitted
    # training row (source, doc, epoch_idx) value-checked, including
    # the fractional-epoch hash-prefix carve membership
    mat_three = ("src0", "src1", "src2")
    mat_parts = {
        s: _t(spark, sf_dir, "documents")
        .filter(F.col("source") == s)
        .select("doc_id", "source", "n_chars")
        for s in mat_three
    }
    mat_src = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("source").isin(*mat_three))
        .groupBy("source")
        .agg(F.sum("n_chars").alias("n_tokens"))
        .withColumn(
            "w", F.lit(1) + F.substring("source", 4, 10).cast("long") % 7
        )
    )
    mat_plan = curation.plan_epoch_mixture(
        mat_src, budget_tokens=80_000, weight_col="w"
    )
    mat = curation.materialize_epoch_plan(
        mat_parts, mat_plan, "n_chars", salt="mat:"
    )
    mat_rows = _suite_rows(
        mat, "mat",
        F.concat_ws("|", "source", F.col("doc_id").cast("string"),
                    F.col("epoch_idx").cast("string")),
        v_num=F.col("n_chars"),
    )
    # 'temp': temperature mixture weights (r6; XLM-R/mT5 α-sampling,
    # α=0.3) over the per-source n_chars rollup — every source's
    # (weight_ppm, epoch_weight) value-checked against a
    # pinned-Python oracle (temperature_weights_core rerun off-Spark
    # on the same rollup: identical float sequence, integer output)
    tw = curation.temperature_weights(
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("n_tokens")),
        alpha=0.3,
    )
    temp_rows = _suite_rows(
        tw, "temp", F.col("source"),
        v_str=F.col("epoch_weight").cast("string"),
        v_num=F.col("weight_ppm"),
    )
    # 'mani': release data card (r6) — corpus_manifest grouped by lang
    # over the full documents table: per-group n_docs, token total and
    # the order-independent md5-fold content checksum, each
    # value-checked (the checksum replays exactly in SQL — the reason
    # it is md5-based, not xxhash64)
    mani = curation.corpus_manifest(
        _t(spark, sf_dir, "documents"), split_col="lang",
        token_col="n_chars",
    )
    mani_rows = spark.createDataFrame(
        [("mani", d["split"],
          f"{d['content_checksum']}|{d['total_tokens']}",
          float(d["n_docs"])) for d in mani],
        "suite_case string, k string, v_str string, v_num double",
    )
    # 'zord' (r6): the z-order (Morton) layout key per doc over
    # (doc_id, n_chars) at 8 bits/dim — scale_for_zorder + zorder_value
    # are pure long arithmetic (clamp, affine div, bit interleave), so
    # the oracle replays them exactly; the write path (range-partition
    # by z) stays pytest (filesystem semantics)
    from .sources import bucketing

    zd = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    zs = zd.agg(
        F.min("doc_id").alias("mn1"), F.max("doc_id").alias("mx1"),
        F.min("n_chars").alias("mn2"), F.max("n_chars").alias("mx2"),
    ).first()
    zscaled = [
        bucketing.scale_for_zorder(F.col("doc_id"), int(zs["mn1"]), int(zs["mx1"]), bits=8),
        bucketing.scale_for_zorder(F.col("n_chars"), int(zs["mn2"]), int(zs["mx2"]), bits=8),
    ]
    zord_rows = _suite_rows(
        zd.select("doc_id", bucketing.zorder_value(zscaled, bits=8).alias("zval")),
        "zord", F.col("doc_id"), v_num=F.col("zval"),
    )
    return _union_all(
        [mix_rows, diff_rows, split_rows, shuf_rows, mixk_rows, tokb_rows,
         wsk_rows, curr_rows, ep_rows, mat_rows, temp_rows, mani_rows,
         zord_rows]
    )


CORPUS_RELEASE_SUITE_SQL = """
WITH mix AS (
  SELECT doc_id, 'web' AS src FROM documents
  WHERE doc_id % 3 = 0
    AND ('0x' || substr(md5('mix:web:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 60
  UNION ALL
  SELECT doc_id, 'books' FROM documents
  WHERE doc_id % 3 = 1
    AND ('0x' || substr(md5('mix:books:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 100
  UNION ALL
  SELECT doc_id, 'code' FROM documents
  WHERE doc_id % 3 = 2
    AND ('0x' || substr(md5('mix:code:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 25
),
diff AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN 'removed'
              WHEN doc_id % 5 = 0 THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, 'added' FROM documents WHERE doc_id % 11 = 0
),
-- disjoint (d, d+1) near-dup edges: cluster = the pair minimum when
-- the partner exists, else the doc's own id
clusters AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 0
                   AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d.doc_id + 1)
              THEN d.doc_id
              WHEN d.doc_id % 10 = 1
                   AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d.doc_id - 1)
              THEN d.doc_id - 1
              ELSE d.doc_id END AS cluster_id
  FROM documents d
),
splits AS (
  SELECT doc_id, cluster_id,
         CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT doc_id, cluster_id,
           ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
    FROM clusters
  )
)
SELECT 'mix' AS suite_case, CAST(doc_id AS VARCHAR) AS k, src AS v_str, -1.0 AS v_num FROM mix
UNION ALL
SELECT 'diff', CAST(doc_id AS VARCHAR), status, -1.0 FROM diff
UNION ALL
SELECT 'split', CAST(doc_id AS VARCHAR), split, CAST(cluster_id AS DOUBLE) FROM splits
UNION ALL
SELECT 'shuf', CAST(doc_id AS VARCHAR),
       md5('release:' || CAST(doc_id AS VARCHAR)), -1.0
FROM documents
UNION ALL
SELECT 'mixk', CAST(doc_id AS VARCHAR), lang, -1.0 FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('carve:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rk
  FROM documents
) WHERE rk <= 7
UNION ALL
SELECT 'tokb', CAST(doc_id AS VARCHAR), lang, CAST(cum AS DOUBLE) FROM (
  SELECT doc_id, lang,
         sum(n_chars) OVER (
           PARTITION BY lang
           ORDER BY md5('tok:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM documents
) WHERE cum <= 5000
UNION ALL
SELECT 'wsk', CAST(doc_id AS VARCHAR), lang, CAST(n_chars AS DOUBLE) FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang ORDER BY
             (CAST(round(-ln(
                (('0x' || substr(md5('wsk:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
                / 4503599627370496.0) * 1e9) AS BIGINT) * 1000000)
             // CAST(n_chars AS BIGINT) ASC,
             doc_id ASC
         ) AS rk
  FROM documents WHERE n_chars > 0
) WHERE rk <= 25
UNION ALL
SELECT 'curr', CAST(doc_id AS VARCHAR),
       md5('cur:' || CAST(phase AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)),
       CAST(phase AS DOUBLE)
FROM (
  WITH ranked AS (
    SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn,
           count(*) OVER () AS n
    FROM documents WHERE n_chars IS NOT NULL
  ),
  ccuts AS (
    SELECT max(CASE WHEN rn = (n + 2) // 3 THEN n_chars END) AS c1,
           max(CASE WHEN rn = (2 * n + 2) // 3 THEN n_chars END) AS c2
    FROM ranked
  )
  SELECT doc_id,
         CASE WHEN n_chars <= (SELECT c1 FROM ccuts) THEN 0
              WHEN n_chars <= (SELECT c2 FROM ccuts) THEN 1
              ELSE 2 END AS phase
  FROM documents
)
UNION ALL
SELECT 'epoch', source,
       CAST(capped AS VARCHAR) || '|' || CAST((t * e) // 1000000 AS VARCHAR),
       CAST(e AS DOUBLE)
FROM (
  WITH esrc AS (
    SELECT source, CAST(sum(n_chars) AS HUGEINT) AS t,
           CAST(1 + CAST(substr(source, 4) AS BIGINT) % 7 AS HUGEINT) AS w
    FROM documents GROUP BY source
  ),
  ecum AS (
    SELECT *,
      coalesce(sum(t * 4000000) OVER (ORDER BY w DESC, source ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cap_before,
      coalesce(sum(t * w) OVER (ORDER BY w DESC, source ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wt_before,
      sum(t * w) OVER () AS wt_total,
      row_number() OVER (ORDER BY w DESC, source ASC) AS rn
    FROM esrc
  ),
  eb AS (
    SELECT coalesce(min(rn), (SELECT count(*) + 1 FROM ecum)) - 1 AS K
    FROM ecum
    WHERE NOT ((350000000000 - cap_before) * w >= 4000000 * (wt_total - wt_before))
  ),
  eparams AS (
    SELECT 350000000000
           - coalesce(sum(CASE WHEN rn <= (SELECT K FROM eb)
                               THEN t * 4000000 END), 0) AS b_rem,
           coalesce(sum(CASE WHEN rn > (SELECT K FROM eb)
                             THEN t * w END), 0) AS w_rem
    FROM ecum
  )
  SELECT source, t, rn,
         rn <= (SELECT K FROM eb) AS capped,
         CASE WHEN rn <= (SELECT K FROM eb) THEN CAST(4000000 AS HUGEINT)
              WHEN (SELECT w_rem FROM eparams) > 0
                THEN ((SELECT b_rem FROM eparams) * w) // (SELECT w_rem FROM eparams)
              ELSE 0 END AS e
  FROM ecum
)
UNION ALL
SELECT 'mat',
       source || '|' || CAST(doc_id AS VARCHAR) || '|' || CAST(eidx AS VARCHAR),
       '', CAST(n_chars AS DOUBLE)
FROM (
  WITH m_src AS (
    SELECT source, CAST(sum(n_chars) AS HUGEINT) AS t,
           CAST(1 + CAST(substr(source, 4) AS BIGINT) % 7 AS HUGEINT) AS w
    FROM documents WHERE source IN ('src0', 'src1', 'src2') GROUP BY source
  ),
  m_cum AS (
    SELECT *,
      coalesce(sum(t * 4000000) OVER (ORDER BY w DESC, source ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cap_before,
      coalesce(sum(t * w) OVER (ORDER BY w DESC, source ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wt_before,
      sum(t * w) OVER () AS wt_total,
      row_number() OVER (ORDER BY w DESC, source ASC) AS rn
    FROM m_src
  ),
  m_eb AS (
    SELECT coalesce(min(rn), (SELECT count(*) + 1 FROM m_cum)) - 1 AS K
    FROM m_cum
    WHERE NOT ((80000000000 - cap_before) * w >= 4000000 * (wt_total - wt_before))
  ),
  m_par AS (
    SELECT 80000000000
           - coalesce(sum(CASE WHEN rn <= (SELECT K FROM m_eb)
                               THEN t * 4000000 END), 0) AS b_rem,
           coalesce(sum(CASE WHEN rn > (SELECT K FROM m_eb)
                             THEN t * w END), 0) AS w_rem
    FROM m_cum
  ),
  m_plan AS (
    SELECT source, t,
           CASE WHEN rn <= (SELECT K FROM m_eb) THEN CAST(4000000 AS HUGEINT)
                WHEN (SELECT w_rem FROM m_par) > 0
                  THEN ((SELECT b_rem FROM m_par) * w) // (SELECT w_rem FROM m_par)
                ELSE 0 END AS e
    FROM m_cum
  ),
  m_nf AS (
    SELECT source, t, e, CAST(e // 1000000 AS BIGINT) AS nf,
           (t * e) // 1000000 - CAST(e // 1000000 AS BIGINT) * t AS fb
    FROM m_plan
  ),
  m_full AS (
    SELECT d.source, d.doc_id, d.n_chars, gs.eidx
    FROM documents d JOIN m_nf p USING (source),
         LATERAL (SELECT unnest(generate_series(0, p.nf - 1)) AS eidx) gs
    WHERE d.source IN ('src0', 'src1', 'src2')
  ),
  m_carve AS (
    SELECT source, doc_id, n_chars, nf AS eidx
    FROM (
      SELECT d.source, d.doc_id, d.n_chars, p.nf, p.fb,
             sum(d.n_chars) OVER (
               PARTITION BY d.source
               ORDER BY md5('mat:' || d.source || ':e'
                            || CAST(p.nf AS VARCHAR) || ':'
                            || CAST(d.doc_id AS VARCHAR)) ASC,
                        d.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents d JOIN m_nf p USING (source)
      WHERE d.source IN ('src0', 'src1', 'src2')
    ) WHERE fb > 0 AND cum <= fb
  )
  SELECT source, doc_id, n_chars, eidx FROM m_full
  UNION ALL
  SELECT source, doc_id, n_chars, eidx FROM m_carve
)
UNION ALL
SELECT 'mani', lang,
       CAST(bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                        || md5(coalesce(text, ''))), 1, 15)
                    )::BIGINT) AS VARCHAR)
       || '|' || CAST(sum(n_chars) AS VARCHAR),
       CAST(count(*) AS DOUBLE)
FROM documents GROUP BY lang
"""


def _corpus_release_suite_sql() -> str:
    """CORPUS_RELEASE_SUITE_SQL plus the 'temp' branch as a
    pinned-Python VALUES table: `curation.temperature_weights_core`
    (the exact function the Spark path collects into) rerun off-Spark
    on the same per-source rollup read via DuckDB — identical float
    sequence, integer (weight_ppm, epoch_weight) output, so the
    branch is a full value-level gate without putting `pow` float
    parity between two engines on the line."""
    import duckdb

    from .operators.curation import temperature_weights_core

    rows = duckdb.sql(
        f"SELECT source, CAST(sum(n_chars) AS BIGINT) FROM "
        f"'{_ORACLE_SF_DIR}/documents.parquet' GROUP BY source ORDER BY source"
    ).fetchall()
    out = temperature_weights_core(
        [(s, int(t)) for s, t in rows], 0.3, 1_000_000
    )
    values = ",\n".join(
        f"('{s}', '{ew}', {ppm})" for s, _t, ppm, ew in out
    )
    # 'zord': the same clamp → affine-div → bit-interleave chain as
    # scale_for_zorder/zorder_value, replayed as exact integer SQL
    zterms = " + ".join(
        f"((({c} >> {i}) & 1) << {i * 2 + c_idx})"
        for c_idx, c in enumerate(("sx", "sy"))
        for i in range(8)
    )
    return CORPUS_RELEASE_SUITE_SQL + f"""
UNION ALL
SELECT 'temp', source, ew, CAST(ppm AS DOUBLE)
FROM (VALUES {values}) AS tw(source, ew, ppm)
UNION ALL
SELECT 'zord', CAST(doc_id AS VARCHAR), '', CAST({zterms} AS DOUBLE)
FROM (
  SELECT doc_id,
         ((least(greatest(doc_id, mn1), mx1) - mn1) * 255)
           // greatest(mx1 - mn1, 1) AS sx,
         ((least(greatest(n_chars, mn2), mx2) - mn2) * 255)
           // greatest(mx2 - mn2, 1) AS sy
  FROM documents CROSS JOIN (
    SELECT min(doc_id) AS mn1, max(doc_id) AS mx1,
           min(n_chars) AS mn2, max(n_chars) AS mx2
    FROM documents) zstats
) z
"""


def _pq_oracle_sql() -> str:
    """Pinned-codebook VALUES oracle for pq_recall: the same
    deterministic trainers (similarity.pq_kmeans_np / ivf_kmeans_np on
    the ordered-limit sample) run driver-side over the same parquet
    WITHOUT Spark, then encode, ADC scoring, IVF probing, and the
    exact refine are replayed in numpy — identical vectorized formulas
    and round-6 quantization, with the refine cosine mirroring the JVM
    `cosine` column's sequential left-fold accumulation and HALF_UP
    rounding.  Emits the (variant, recall, n_queries, k) rows the
    distributed path must reproduce."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import numpy as np

    from .operators import similarity as sim

    k, refine, nlist, nprobe, mm, ksub = 10, 3, 16, 4, 8, 64
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"'{_ORACLE_SF_DIR}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    X = np.array([r[1] for r in rows], dtype=np.float64)
    n, dim = X.shape
    dsub = dim // mm
    qsel = ids < 10
    qids = ids[qsel]
    qm_raw = X[qsel]
    nq = len(qids)
    pos_of = {int(v): p for p, v in enumerate(ids)}

    def topk_sets(scores: np.ndarray, kk: int) -> dict:
        # rank by (score desc, id asc) — the Spark windows' exact keys
        out = {}
        for qi in range(nq):
            order = np.lexsort((ids, -scores[:, qi]))
            out[int(qids[qi])] = set(ids[order[:kk]].tolist())
        return out

    # exact gate — _cosine_scores_udf's formula verbatim
    en = np.sqrt(np.einsum("ij,ij->i", X, X))
    en[en == 0] = 1.0
    qn = np.sqrt(np.einsum("ij,ij->i", qm_raw, qm_raw))
    qn[qn == 0] = 1.0
    exact = topk_sets(np.round((X @ qm_raw.T) / (en[:, None] * qn[None, :]), 6), k)

    def _fold(a: np.ndarray, b: np.ndarray) -> float:
        acc = 0.0
        for i in range(len(a)):
            acc = acc + float(a[i]) * float(b[i])
        return acc

    def _jvm_cosine6(a: np.ndarray, b: np.ndarray) -> float:
        c = _fold(a, b) / (math.sqrt(_fold(a, a)) * math.sqrt(_fold(b, b)))
        # F.round on double = BigDecimal.valueOf(toString) + HALF_UP
        return float(Decimal(repr(c)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    def refine_sets(adc_scores: np.ndarray, valid: np.ndarray | None) -> dict:
        got = {}
        for qi in range(nq):
            vidx = (
                np.arange(n) if valid is None else np.nonzero(valid[:, qi])[0]
            )
            order = vidx[np.lexsort((ids[vidx], -adc_scores[vidx, qi]))]
            cand = ids[order[: k * refine]]
            scs = np.array(
                [_jvm_cosine6(X[pos_of[int(c)]], qm_raw[qi]) for c in cand]
            )
            order2 = np.lexsort((cand, -scs))
            got[int(qids[qi])] = set(cand[order2[:k]].tolist())
        return got

    # PQ: trainer core + _pq_encode_udf + pq_ann_topk's LUT, verbatim
    xn = sim._normalize_rows(X)
    books = sim.pq_kmeans_np(xn[:100_000], mm, ksub, 10)
    codes = np.zeros((n, mm), dtype=np.int64)
    for j in range(mm):
        sub = xn[:, j * dsub : (j + 1) * dsub]
        d2 = -2.0 * (sub @ books[j].T) + (books[j] ** 2).sum(axis=1)[None, :]
        codes[:, j] = np.argmin(d2, axis=1)
    qmn = sim._normalize_rows(qm_raw)
    lut = np.stack(
        [
            np.stack([books[j] @ qmn[qi, j * dsub : (j + 1) * dsub] for j in range(mm)])
            for qi in range(nq)
        ]
    )
    adc = np.zeros((n, nq))
    for qi in range(nq):
        adc[:, qi] = lut[qi][np.arange(mm)[None, :], codes].sum(axis=1)
    adc = np.round(adc, 6)
    got = {"pq": refine_sets(adc, None)}

    # IVF-PQ: shared centroids + _ivf_assign_udf's round-6 lexsort
    cm = sim.ivf_kmeans_np(xn, nlist, 10)
    cids = np.arange(nlist, dtype=np.int64)
    s_corpus = np.round(xn @ cm.T, 6)
    assign1 = cids[
        np.lexsort((np.broadcast_to(cids, s_corpus.shape), -s_corpus), axis=1)[:, 0]
    ]
    s_q = np.round(qmn @ cm.T, 6)
    probes = cids[np.lexsort((np.broadcast_to(cids, s_q.shape), -s_q), axis=1)[:, :nprobe]]
    valid = np.zeros((n, nq), dtype=bool)
    for qi in range(nq):
        valid[:, qi] = np.isin(assign1, probes[qi])
    got["ivf_pq"] = refine_sets(adc, valid)

    out_rows = []
    for variant in ("ivf_pq", "pq"):
        g = got[variant]
        recall = sum(
            len(g.get(q, set()) & hits) / float(k) for q, hits in exact.items()
        ) / max(len(exact), 1)
        out_rows.append(f"('{variant}', {round(recall, 6)!r}, {len(exact)}, {k})")
    return (
        "SELECT variant, CAST(recall AS DOUBLE) AS recall, "
        "CAST(nq AS BIGINT) AS n_queries, CAST(kk AS BIGINT) AS k "
        "FROM (VALUES " + ", ".join(out_rows) + ") AS t(variant, recall, nq, kk)"
    )


def mmr_extract(spark, sf_dir):
    """U1's FULL model seam at driver level: weighted text → hashing
    embedder → cosine relevance → MMR re-rank (diversity 0.3) → cap,
    through the real extract_keywords(use_udf=True) path over the
    documents corpus (word-candidates generator — the test corpus has
    no Hangul).  Oracle = the same pinned deterministic model replayed
    driver-side in pure Python."""
    from .functions import extract as ex

    docs = _t(spark, sf_dir, "documents").withColumn("title", F.lit(""))
    out = ex.extract_keywords(
        docs,
        title_col="title",
        content_col="text",
        out_col="keywords",
        use_udf=True,
        model_loader=ex.make_hashing_model_loader(
            mmr_diversity=0.3, candidates=ex.word_candidates
        ),
    )
    return out.select("doc_id", F.concat_ws("|", "keywords").alias("keywords"))


def _mmr_oracle_sql() -> str:
    """VALUES oracle for mmr_extract: the identical deterministic
    scorer run driver-side (weighted_text mirrored as the same
    3×title + first-1000-chars concat).  Lazily generated."""
    from .functions import extract as ex

    scorer = ex.make_hashing_model_loader(
        mmr_diversity=0.3, candidates=ex.word_candidates
    )()
    rows = _oracle_docs()
    texts = [" ".join(["", "", "", t[:1000]]) for _, t in rows]
    kws = scorer(texts)
    vals = [
        f"({doc_id}, {_sql_quote('|'.join(kw))})"
        for (doc_id, _), kw in zip(rows, kws)
    ]
    return (
        "SELECT doc_id::BIGINT AS doc_id, keywords FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(doc_id, keywords)"
    )


def admit_shard_e2e(spark, sf_dir):
    """The incremental-admission flagship at driver level: split the
    corpus into two sequential shards (ids grow across shards), admit
    shard 1 cold, admit shard 2 against shard 1's sig/hash index
    deltas, and emit every document's terminal status + rejection
    reason.  Exercises curation.admit_shard's whole ladder — in-shard
    exact dedup, corpus exact dedup, corpus near-dup (incremental
    MinHash vs the persisted index), in-shard near-dup components —
    against a full SQL replay of the sequential semantics."""
    from .operators import curation

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cutoff = _table_count(spark, sf_dir, "documents") // 2
    r1 = curation.admit_shard(docs.filter(F.col("doc_id") < cutoff))
    r2 = curation.admit_shard(
        docs.filter(F.col("doc_id") >= cutoff),
        index_sigs=r1["sigs_delta"],
        index_hashes=r1["hashes_delta"],
    )

    def _status(res, shard):
        adm = res["admitted"].select(
            "doc_id",
            F.lit(shard).cast("long").alias("shard"),
            F.lit("admitted").alias("status"),
            F.lit("").alias("reason"),
        )
        rej = res["rejected"].select(
            "doc_id",
            F.lit(shard).cast("long").alias("shard"),
            F.lit("rejected").alias("status"),
            "reason",
        )
        return adm.unionByName(rej)

    return _status(r1, 1).unionByName(_status(r2, 2))


def _admit_oracle_sql() -> str:
    """SQL replay of two-shard sequential admission.  The pair source
    is the same O(n²) MinHash oracle scan as the dedup gates; the
    sequential ladder is replayed shard by shard: exact (row_number on
    the normalized-content hash), exact-vs-corpus (hash semi-join on
    shard 1's ADMITTED hashes), near-vs-corpus (a pair with an admitted
    shard-1 partner), then in-shard components (recursive CTE, min-id
    canonical).  A doc rejected at a rung never contributes its hash,
    signature, or edges to later rungs — exactly admit_shard's
    semantics.

    r13: every non-recursive CTE is AS MATERIALIZED.  DuckDB inlines
    plain CTEs per reference, so the r2 recursion re-evaluated the
    whole e2←s2c←s2nc←adm1 chain EVERY iteration — the oracle ran
    310 s at sf0.01 (the driver's verify budget killer); materialized
    it is 0.22 s with byte-identical rows (verified old-vs-new before
    adopting).  MATERIALIZED is an optimization fence only — it cannot
    change the result set."""
    pairs = _minhash_oracle_sql(shingle_n=3)
    norm = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
    return f"""
WITH RECURSIVE
pr AS MATERIALIZED ({pairs}),
cut AS MATERIALIZED (SELECT count(*) // 2 AS c FROM documents),
d1 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id < (SELECT c FROM cut)),
d2 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id >= (SELECT c FROM cut)),
h1 AS MATERIALIZED (SELECT doc_id, {norm} AS ch,
              row_number() OVER (PARTITION BY {norm} ORDER BY doc_id) AS rn
       FROM d1),
s1x AS MATERIALIZED (SELECT doc_id FROM h1 WHERE rn > 1),
s1a AS MATERIALIZED (SELECT doc_id, ch FROM h1 WHERE rn = 1),
e1 AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pr
  WHERE id_a IN (SELECT doc_id FROM s1a) AND id_b IN (SELECT doc_id FROM s1a)
  UNION
  SELECT id_b, id_a FROM pr
  WHERE id_a IN (SELECT doc_id FROM s1a) AND id_b IN (SELECT doc_id FROM s1a)
),
r1(id, lbl) AS (
  SELECT src, src FROM e1
  UNION
  SELECT e.dst, r.lbl FROM e1 e JOIN r1 r ON e.src = r.id
),
c1 AS MATERIALIZED (SELECT id, min(lbl) AS cid FROM r1 GROUP BY id),
s1n AS MATERIALIZED (SELECT id AS doc_id FROM c1 WHERE cid <> id),
adm1 AS MATERIALIZED (SELECT a.doc_id, a.ch FROM s1a a
         WHERE a.doc_id NOT IN (SELECT doc_id FROM s1n)),
h2 AS MATERIALIZED (SELECT doc_id, {norm} AS ch,
              row_number() OVER (PARTITION BY {norm} ORDER BY doc_id) AS rn
       FROM d2),
s2x AS MATERIALIZED (SELECT doc_id FROM h2 WHERE rn > 1),
s2a AS MATERIALIZED (SELECT doc_id, ch FROM h2 WHERE rn = 1),
s2xc AS MATERIALIZED (SELECT doc_id FROM s2a WHERE ch IN (SELECT ch FROM adm1)),
s2b AS MATERIALIZED (SELECT doc_id FROM s2a WHERE ch NOT IN (SELECT ch FROM adm1)),
s2nc AS MATERIALIZED (
  SELECT DISTINCT s.doc_id FROM s2b s JOIN pr p
    ON (p.id_a = s.doc_id AND p.id_b IN (SELECT doc_id FROM adm1))
    OR (p.id_b = s.doc_id AND p.id_a IN (SELECT doc_id FROM adm1))
),
s2c AS MATERIALIZED (SELECT doc_id FROM s2b
        WHERE doc_id NOT IN (SELECT doc_id FROM s2nc)),
e2 AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pr
  WHERE id_a IN (SELECT doc_id FROM s2c) AND id_b IN (SELECT doc_id FROM s2c)
  UNION
  SELECT id_b, id_a FROM pr
  WHERE id_a IN (SELECT doc_id FROM s2c) AND id_b IN (SELECT doc_id FROM s2c)
),
r2(id, lbl) AS (
  SELECT src, src FROM e2
  UNION
  SELECT e.dst, r.lbl FROM e2 e JOIN r2 r ON e.src = r.id
),
c2 AS MATERIALIZED (SELECT id, min(lbl) AS cid FROM r2 GROUP BY id),
s2n AS MATERIALIZED (SELECT id AS doc_id FROM c2 WHERE cid <> id),
adm2 AS MATERIALIZED (SELECT doc_id FROM s2c WHERE doc_id NOT IN (SELECT doc_id FROM s2n))
SELECT doc_id, 1::BIGINT AS shard, 'admitted' AS status, '' AS reason FROM adm1
UNION ALL SELECT doc_id, 1::BIGINT, 'rejected', 'exact_dup_shard' FROM s1x
UNION ALL SELECT doc_id, 1::BIGINT, 'rejected', 'near_dup_shard' FROM s1n
UNION ALL SELECT doc_id, 2::BIGINT, 'admitted', '' FROM adm2
UNION ALL SELECT doc_id, 2::BIGINT, 'rejected', 'exact_dup_shard' FROM s2x
UNION ALL SELECT doc_id, 2::BIGINT, 'rejected', 'exact_dup_corpus' FROM s2xc
UNION ALL SELECT doc_id, 2::BIGINT, 'rejected', 'near_dup_corpus' FROM s2nc
UNION ALL SELECT doc_id, 2::BIGINT, 'rejected', 'near_dup_shard' FROM s2n
"""


ADMIT_E2E_SQL = _admit_oracle_sql()


# ---------------------------------------------------------------- round-4 tier


def span_dedup(spark, sf_dir):
    """Substring-level dedup (operators/spans.py — Lee et al. 2021
    exact-substring tier): duplicated 10-token windows merged to
    maximal spans (keep-first policy), then the in-row corpus rewrite.
    Branches: 'span' = the maximal spans per doc (start/end/window
    count), 'doc' = every document's rewrite (md5 of cleaned text +
    removed-token count) — the whole remove path value-checked."""
    from .operators import spans as spans_ops

    docs = _t(spark, sf_dir, "documents")
    # one span table feeds BOTH branches: localCheckpoint pins the
    # (spans-only, corpus-small) result so the rewrite branch doesn't
    # re-run the two window passes the span branch already paid for
    sp = spans_ops.duplicated_spans(
        docs, k=10, min_docs=2, policy="keep_first"
    ).localCheckpoint()
    span_rows = _suite_rows(
        sp, "span",
        F.concat_ws("|", F.col("id").cast("string"), F.col("span_start").cast("string")),
        v_str=F.col("span_end").cast("string"),
        v_num=F.col("n_windows"),
    )
    cleaned = spans_ops.remove_duplicated_spans(
        docs, k=10, min_docs=2, policy="keep_first", spans_df=sp
    )
    doc_rows = _suite_rows(
        cleaned, "doc", F.col("doc_id"),
        v_str=F.md5("cleaned_text"),
        v_num=F.col("n_removed_tokens"),
    )
    # 'line': RefinedWeb-style cross-doc line dedup over synthesized
    # multi-line docs (shared header everywhere, text-prefix middle,
    # shared footer on even ids) — testdata has no newlines
    multiline = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Shared corpus header line"),
            F.substring("text", 1, 50),
            F.when(F.col("doc_id") % 2 == 0, F.lit("Common footer for even docs")),
        ).alias("text"),
    )
    line_rows = _suite_rows(
        spans_ops.dedup_lines_across_docs(multiline, min_docs=2, policy="keep_first"),
        "line", F.col("doc_id"),
        v_str=F.md5("cleaned_text"),
        v_num=F.col("n_removed_lines"),
    )
    # 'rep': repeated_spans' occurrence-count mode (within-doc repeats
    # included) over docs synthesized to self-repeat their first 80
    # chars — keep_first exempts the global (id, start)-minimum
    # occurrence; the rewrite machinery is shared with 'doc', so only
    # the span coordinates need their own rows
    rep_docs = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.substring("text", 1, 80),
            F.substring("text", 1, 80),
            F.lit("closing unique tail words"),
        ).alias("text"),
    )
    rep_rows = _suite_rows(
        spans_ops.repeated_spans(rep_docs, k=5, min_count=2, policy="keep_first"),
        "rep",
        F.concat_ws("|", F.col("id").cast("string"), F.col("span_start").cast("string")),
        v_str=F.col("span_end").cast("string"),
        v_num=F.col("n_windows"),
    )
    # r6 'winn'/'winp': winnowing fingerprints (Schleimer et al. 2003)
    # — per-doc fingerprint xor+count over the real corpus, and the
    # MOSS pair candidates over planted-overlap twins (each doc d and
    # d+offset share their first-100-char passage behind different
    # tails; raw testdata has no organic ≥ w+k−1-token overlaps)
    fps = spans_ops.winnow_fingerprints(docs, k=_WINNOW_K, w=_WINNOW_W)
    winn_rows = _suite_rows(
        fps.groupBy("id").agg(
            F.expr("bit_xor(fp)").alias("fp_xor"),
            F.count(F.lit(1)).alias("n_fps"),
        ),
        "winn", F.col("id"),
        v_str=F.col("fp_xor").cast("string"),
        v_num=F.col("n_fps"),
    )
    planted = docs.select(
        "doc_id",
        F.concat(F.substring("text", 1, 100), F.lit(" tail alpha variant")).alias("text"),
    ).unionByName(
        docs.select(
            (F.col("doc_id") + _WINNOW_TWIN).alias("doc_id"),
            F.concat(F.substring("text", 1, 100), F.lit(" tail beta variant")).alias("text"),
        )
    )
    winp_rows = _suite_rows(
        spans_ops.winnow_pairs(planted, k=_WINNOW_K, w=_WINNOW_W),
        "winp",
        F.concat_ws("|", F.col("id_a").cast("string"), F.col("id_b").cast("string")),
        v_num=F.col("shared_fps"),
    )
    # r7 'cens'/'censc': the one-call text duplication census
    # (dedup.overlap_census) — exact + minhash-near + winnow-substring
    # pair tiers over ONE planted corpus (an exact twin, a near twin
    # with a short suffix, a shared-passage twin with a fresh tail),
    # plus the union-graph cluster membership.  Each tier is already
    # gated on its own; these rows pin the COMPOSITION (tier labels,
    # strengths, one cluster per transitively linked group).
    census = dedup.overlap_census(
        _census_corpus(docs),
        minhash_threshold=0.7,
        shingle_n=3,
        winnow_min_shared=2,
        winnow_k=_WINNOW_K,
        winnow_w=_WINNOW_W,
    )
    cens_rows = _suite_rows(
        census["pairs"], "cens",
        F.concat_ws(
            "|",
            F.col("id_a").cast("string"),
            F.col("id_b").cast("string"),
            F.col("tier"),
        ),
        v_num=F.round(F.col("strength"), 6),
    )
    censc_rows = _suite_rows(
        census["docs"], "censc",
        F.col("doc_id"),
        v_str=F.col("is_canonical").cast("string"),
        v_num=F.col("cluster_id"),
    )
    return _union_all(
        [span_rows, doc_rows, line_rows, rep_rows, winn_rows, winp_rows,
         cens_rows, censc_rows]
    )


_CENSUS_EXACT, _CENSUS_NEAR, _CENSUS_SUB = 200_000, 250_000, 300_000


def _census_corpus(docs):
    """Planted census corpus: base docs + an exact twin (%13), a
    near twin with a 3-word suffix (%19), and a shared-passage twin
    (first 100 chars + fresh tail, %11) — so every census tier has
    non-vacuous rows (raw testdata has no organic cross-doc overlap).
    Mirrored verbatim by the oracle's cens_docs CTE."""
    base = docs.select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    return _union_all(
        [
            base,
            base.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + _CENSUS_EXACT).alias("doc_id"), "text"
            ),
            base.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + _CENSUS_NEAR).alias("doc_id"),
                F.concat("text", F.lit(" near census suffix")).alias("text"),
            ),
            base.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + _CENSUS_SUB).alias("doc_id"),
                F.concat(
                    F.substring("text", 1, 100), F.lit(" census tail variant")
                ).alias("text"),
            ),
        ]
    )


_WINNOW_K, _WINNOW_W = 4, 4
_WINNOW_TWIN = 100_000


def _span_dedup_sql() -> str:
    """SPAN_DEDUP_SQL + the winnowing branches from the pinned
    pure-Python twin (spans.winnow_fps_py — identical tokenization,
    hashing, rightmost-min tiebreak), re-run off-Spark over the
    driver's parquet."""
    from functools import reduce

    from .operators import spans as spans_ops

    rows = _oracle_docs()
    winn_vals = []
    for doc_id, text in rows:
        fps = spans_ops.winnow_fps_py(text, k=_WINNOW_K, w=_WINNOW_W)
        if not fps:
            continue
        xor = reduce(lambda a, b: a ^ b, (fp for _, fp in fps))
        winn_vals.append(f"({doc_id}, {xor}, {len(fps)})")
    # planted-overlap twins: replay the same construction
    fp_ids: dict[int, set[int]] = {}
    for doc_id, text in rows:
        for vid, tail in ((doc_id, " tail alpha variant"),
                          (doc_id + _WINNOW_TWIN, " tail beta variant")):
            for _, fp in spans_ops.winnow_fps_py(
                text[:100] + tail, k=_WINNOW_K, w=_WINNOW_W
            ):
                fp_ids.setdefault(fp, set()).add(vid)
    shared: dict[tuple[int, int], int] = {}
    for ids in fp_ids.values():
        sids = sorted(ids)
        for i, a in enumerate(sids):
            for b in sids[i + 1:]:
                shared[(a, b)] = shared.get((a, b), 0) + 1
    winp_vals = [f"({a}, {b}, {n})" for (a, b), n in sorted(shared.items())]
    # r7 census: replay the winnow tier over the SAME planted census
    # corpus the gate builds (exact/near/substr twins), pinned as
    # VALUES; exact + minhash tiers and the union-graph closure replay
    # in pure SQL
    cens_rows_py = [(d, t) for d, t in rows]
    cens_rows_py += [(d + _CENSUS_EXACT, t) for d, t in rows if d % 13 == 0]
    cens_rows_py += [
        (d + _CENSUS_NEAR, t + " near census suffix")
        for d, t in rows if d % 19 == 0
    ]
    cens_rows_py += [
        (d + _CENSUS_SUB, t[:100] + " census tail variant")
        for d, t in rows if d % 11 == 0
    ]
    cens_fp_ids: dict[int, set[int]] = {}
    for vid, text in cens_rows_py:
        for _, fp in spans_ops.winnow_fps_py(text, k=_WINNOW_K, w=_WINNOW_W):
            cens_fp_ids.setdefault(fp, set()).add(vid)
    cshared: dict[tuple[int, int], int] = {}
    for ids in cens_fp_ids.values():
        sids = sorted(ids)
        for i, a in enumerate(sids):
            for b in sids[i + 1:]:
                cshared[(a, b)] = cshared.get((a, b), 0) + 1
    sub_vals = [
        f"({a}, {b}, {n})" for (a, b), n in sorted(cshared.items()) if n >= 2
    ] or ["(-1, -1, 0)"]
    mh_cens = _minhash_oracle_sql(shingle_n=3, threshold=0.7).replace(
        "FROM documents", "FROM cens_docs"
    )
    cens_docs_cte = f"""cens_docs AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
  UNION ALL
  SELECT doc_id + {_CENSUS_EXACT}, coalesce(text, '')
  FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + {_CENSUS_NEAR}, coalesce(text, '') || ' near census suffix'
  FROM documents WHERE doc_id % 19 = 0
  UNION ALL
  SELECT doc_id + {_CENSUS_SUB},
         substr(coalesce(text, ''), 1, 100) || ' census tail variant'
  FROM documents WHERE doc_id % 11 = 0
)"""
    cens_pair_ctes = f"""{cens_docs_cte},
exact_grp AS (
  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h, doc_id
  FROM cens_docs
),
exact_keep AS (
  SELECT h, min(doc_id) AS keep_id FROM exact_grp GROUP BY h HAVING count(*) > 1
),
cens_pairs AS (
  SELECT k.keep_id AS id_a, g.doc_id AS id_b, 'exact' AS tier, 1.0 AS strength
  FROM exact_grp g JOIN exact_keep k USING (h) WHERE g.doc_id <> k.keep_id
  UNION ALL
  SELECT id_a, id_b, 'near' AS tier, est_jaccard AS strength FROM ({mh_cens}) mh
  UNION ALL
  SELECT id_a, id_b, 'substr' AS tier, CAST(shared_fps AS DOUBLE) AS strength
  FROM (VALUES {', '.join(sub_vals)}) w(id_a, id_b, shared_fps)
  WHERE id_a >= 0
)"""
    cens_sql = f"""
UNION ALL
SELECT 'cens',
       CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR) || '|' || tier,
       '', CAST(round(strength, 6) AS DOUBLE)
FROM (WITH {cens_pair_ctes} SELECT * FROM cens_pairs) cp
UNION ALL
SELECT 'censc', CAST(doc_id AS VARCHAR), CAST(is_canonical AS VARCHAR),
       CAST(cluster_id AS DOUBLE)
FROM (
  WITH RECURSIVE {cens_pair_ctes},
  pr AS (SELECT DISTINCT id_a, id_b FROM cens_pairs),
  edges AS (
    SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr
  ),
  reach(id, lbl) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.lbl FROM edges e JOIN reach r ON e.src = r.id
  ),
  comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
  FROM cens_docs d LEFT JOIN comp c ON d.doc_id = c.id
) cc"""
    return f"""{SPAN_DEDUP_SQL}
UNION ALL
SELECT 'winn', CAST(doc_id AS VARCHAR), CAST(fp_xor AS VARCHAR),
       CAST(n_fps AS DOUBLE)
FROM (VALUES {', '.join(winn_vals)}) winn(doc_id, fp_xor, n_fps)
UNION ALL
SELECT 'winp', CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR), '',
       CAST(shared_fps AS DOUBLE)
FROM (VALUES {', '.join(winp_vals)}) winp(id_a, id_b, shared_fps)
{cens_sql}
"""


SPAN_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS t
  FROM documents
),
wins AS (
  SELECT doc_id, i - 1 AS win_start,
         md5(array_to_string(t[i:i+9], ' ')) AS whash
  FROM toks, unnest(generate_series(1, len(t) - 9)) AS g(i)
),
dup AS (
  SELECT whash, min(doc_id) AS keep_id
  FROM wins GROUP BY whash HAVING count(DISTINCT doc_id) >= 2
),
occ AS (
  SELECT wins.doc_id AS id, win_start AS s, win_start + 9 AS e
  FROM wins JOIN dup USING (whash)
  WHERE wins.doc_id <> dup.keep_id
),
isl AS (
  SELECT id, s, e,
         CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w + 1
              THEN 1 ELSE 0 END AS ni
  FROM occ
  WINDOW w AS (PARTITION BY id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl2 AS (
  SELECT id, s, e,
         sum(ni) OVER (PARTITION BY id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
),
spans AS (
  SELECT id, island, min(s) AS span_start, max(e) AS span_end,
         count(*) AS n_windows
  FROM isl2 GROUP BY id, island
),
spanlists AS (
  SELECT id,
         list(struct_pack(ss := span_start, se := span_end) ORDER BY span_start) AS sl,
         sum(span_end - span_start + 1) AS rm
  FROM spans GROUP BY id
),
raw AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '\\S+') AS tko,
         regexp_extract_all(text, '\\s+') AS sps,
         CASE WHEN regexp_matches(text, '^\\s') THEN 1 ELSE 0 END AS woff
  FROM documents
),
-- range-cut rebuild over the ORIGINAL text: kept token i keeps its
-- trailing separator iff a kept token follows (i < last-kept) or it is
-- the document's final token; leading whitespace always survives
cleaned AS (
  SELECT r.doc_id,
         CASE WHEN sl.sl IS NULL THEN r.text
              ELSE CASE WHEN r.woff = 1 THEN r.sps[1] ELSE '' END ||
                   coalesce(array_to_string(
                     list_transform(
                       CASE WHEN len(r.tko) = 0 THEN []
                            ELSE generate_series(0, len(r.tko) - 1) END,
                       i -> CASE WHEN len(list_filter(sl.sl, sp -> i >= sp.ss AND i <= sp.se)) > 0
                                 THEN ''
                                 ELSE r.tko[i + 1] ||
                                      CASE WHEN i = len(r.tko) - 1
                                             OR i < list_max(list_filter(
                                                  CASE WHEN len(r.tko) = 0 THEN []
                                                       ELSE generate_series(0, len(r.tko) - 1) END,
                                                  j -> len(list_filter(sl.sl, sp -> j >= sp.ss AND j <= sp.se)) = 0))
                                           THEN coalesce(r.sps[i + 1 + r.woff], '')
                                           ELSE '' END
                            END),
                     '') , '')
         END AS cleaned_text,
         coalesce(sl.rm, 0) AS n_removed_tokens
  FROM raw r LEFT JOIN spanlists sl ON r.doc_id = sl.id
)
SELECT 'span' AS suite_case,
       CAST(id AS VARCHAR) || '|' || CAST(span_start AS VARCHAR) AS k,
       CAST(span_end AS VARCHAR) AS v_str,
       CAST(n_windows AS DOUBLE) AS v_num
FROM spans
UNION ALL
SELECT 'doc', CAST(doc_id AS VARCHAR), md5(cleaned_text),
       CAST(n_removed_tokens AS DOUBLE)
FROM cleaned
UNION ALL
SELECT 'line', CAST(doc_id AS VARCHAR), md5(ct), CAST(nrm AS DOUBLE) FROM (
  WITH lb AS (
    SELECT doc_id,
           'Shared corpus header line' || chr(10) || substr(text, 1, 50)
           || CASE WHEN doc_id % 2 = 0
                   THEN chr(10) || 'Common footer for even docs'
                   ELSE '' END AS mtext
    FROM documents
  ),
  lls AS (
    SELECT doc_id, mtext,
           string_split(mtext, chr(10)) AS al,
           list_filter(list_transform(string_split(mtext, chr(10)), l -> trim(l)),
                       l -> l <> '') AS lines
    FROM lb
  ),
  locc AS (
    SELECT doc_id, i - 1 AS pos, md5(lower(lines[i])) AS lhash
    FROM lls, unnest(generate_series(1, len(lines))) AS g(i)
  ),
  ldup AS (
    SELECT lhash, min(doc_id) AS keep_id
    FROM locc GROUP BY lhash HAVING count(DISTINCT doc_id) >= 2
  ),
  lrm AS (
    SELECT locc.doc_id, pos FROM locc JOIN ldup USING (lhash)
    WHERE locc.doc_id <> ldup.keep_id
  ),
  lrml AS (SELECT doc_id, list(pos) AS rp, count(*) AS nrm FROM lrm GROUP BY doc_id),
  -- rebuild from the ORIGINAL raw lines (blank lines and interior
  -- whitespace survive); raw line i maps to normalized position
  -- = count of non-blank trimmed lines before it
  lcleaned AS (
    SELECT l.doc_id,
           CASE WHEN r.rp IS NULL THEN l.mtext
                ELSE coalesce(array_to_string(
                  list_transform(
                    list_filter(
                      CASE WHEN len(l.al) = 0 THEN []
                           ELSE generate_series(1, len(l.al)) END,
                      i -> trim(l.al[i]) = ''
                           OR NOT list_contains(
                                r.rp,
                                len(list_filter(list_slice(l.al, 1, i - 1),
                                                x -> trim(x) <> '')))),
                    i -> l.al[i]),
                  chr(10)), '')
           END AS ct,
           coalesce(r.nrm, 0) AS nrm
    FROM lls l LEFT JOIN lrml r USING (doc_id)
  )
  SELECT doc_id, ct, nrm FROM lcleaned
) lrows
UNION ALL
SELECT 'rep', CAST(id AS VARCHAR) || '|' || CAST(s AS VARCHAR),
       CAST(e AS VARCHAR), CAST(nw AS DOUBLE) FROM (
  WITH rtoks AS (
    SELECT doc_id, list_filter(string_split_regex(lower(trim(
             substr(text, 1, 80) || ' ' || substr(text, 1, 80)
             || ' closing unique tail words'
           )), '\\s+'), t -> t <> '') AS t
    FROM documents
  ),
  rwins AS (
    SELECT doc_id, i - 1 AS ws, md5(array_to_string(t[i:i+4], ' ')) AS whash
    FROM rtoks, unnest(generate_series(1, len(t) - 4)) AS g(i)
  ),
  rocc AS (
    SELECT doc_id, ws,
           count(*) OVER (PARTITION BY whash) AS n_occ,
           row_number() OVER (PARTITION BY whash ORDER BY doc_id, ws) AS rn
    FROM rwins
  ),
  rrem AS (
    SELECT doc_id AS id, ws AS s2, ws + 4 AS e2
    FROM rocc WHERE n_occ >= 2 AND rn > 1
  ),
  risl AS (
    SELECT id, s2, e2,
           CASE WHEN max(e2) OVER w IS NULL OR s2 > max(e2) OVER w + 1
                THEN 1 ELSE 0 END AS ni
    FROM rrem
    WINDOW w AS (PARTITION BY id ORDER BY s2 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
  ),
  risl2 AS (
    SELECT id, s2, e2,
           sum(ni) OVER (PARTITION BY id ORDER BY s2 ROWS UNBOUNDED PRECEDING) AS isl
    FROM risl
  )
  SELECT id, min(s2) AS s, max(e2) AS e, count(*) AS nw
  FROM risl2 GROUP BY id, isl
) reprows
"""


def classify_suite(spark, sf_dir):
    """Model-in-the-loop curation (operators/classify.py) in one tagged
    gate — everything in exact integer micro-nats, so cross-engine
    float accumulation order cannot flip a value:
    - 'nb'   : multinomial Naive Bayes trained on (lang ← text) over
               the corpus itself, per-(doc, label) score,
    - 'nbp'  : the argmax label per doc,
    - 'dsir' : DSIR importance log-weights of every doc against the
               lang='zh' target slice (hashed unigram+bigram features,
               1024 buckets)."""
    from .operators import classify as classify_ops

    docs = _t(spark, sf_dir, "documents")
    token_logp, class_stats = classify_ops.train_nb(docs, "lang", max_vocab=None)
    # pin the (doc × label)-row scores: the 'nb' and 'nbp' branches
    # both read them, and re-scoring would re-tokenize the corpus per
    # branch per execution (same move as span_dedup's span table)
    scored = classify_ops.nb_score(docs, token_logp, class_stats).localCheckpoint()
    nb = _suite_rows(
        scored, "nb",
        F.concat_ws("|", F.col("id").cast("string"), F.col("label")),
        v_num=F.col("score_micro"),
    )
    nbp = _suite_rows(
        scored.filter(F.col("predicted")), "nbp", F.col("id"),
        v_str=F.col("label"),
    )
    target = docs.filter(F.col("lang") == "zh")
    weights = classify_ops.dsir_weights(
        docs, target, hash_buckets=1024
    ).localCheckpoint()
    dsir = _suite_rows(
        weights, "dsir", F.col("id"),
        v_str=F.col("n_feats").cast("string"),
        v_num=F.col("logw_micro"),
    )
    # r7 'pr': classifier calibration — precision/recall/F1 threshold
    # sweep of the DSIR weights against the true zh labels, every
    # confusion count and integer-ppm metric value-checked (the step
    # between training a filter and picking its deployment threshold)
    truthed = weights.join(
        docs.select(F.col("doc_id").alias("id"), (F.col("lang") == "zh").alias("is_zh")),
        "id",
    )
    pr = _suite_rows(
        classify_ops.pr_report(
            truthed, "logw_micro", "is_zh", list(_PR_THRESHOLDS)
        ),
        "pr",
        F.col("threshold"),
        v_str=F.concat_ws(
            "|", F.col("tp").cast("string"), F.col("fp").cast("string"),
            F.col("fn").cast("string"), F.col("tn").cast("string"),
            F.col("n_excluded").cast("string"),
            F.col("precision_ppm").cast("string"),
            F.col("recall_ppm").cast("string"),
        ),
        v_num=F.col("f1_ppm").cast("double"),
    )
    # r8 'reli': reliability diagram — the DSIR scores bucketed into
    # 10 equal-population percentile bands, observed zh rate per band
    # (calibration: is the score MONOTONE in the truth, not merely
    # threshold-able); sums not means, so no negative-div seam
    reli = _suite_rows(
        classify_ops.reliability_report(truthed, "logw_micro", "is_zh", 10),
        "reli",
        F.col("bucket").cast("string"),
        v_str=F.concat_ws(
            "|", F.col("n").cast("string"),
            F.col("lo_micro").cast("string"),
            F.col("hi_micro").cast("string"),
            F.col("sum_score_micro").cast("string"),
        ),
        v_num=F.col("pos_ppm").cast("double"),
    )
    # r9 'gain': cumulative gains / decile lift of the DSIR scores —
    # the triage view (review the top k% by score, catch what share
    # of the positives); value-cut banding (TakeOrdered cuts, no
    # global window), exact integer cum/gain/lift, total accounting
    gain = _suite_rows(
        classify_ops.gains_table(truthed, "logw_micro", "is_zh", 10),
        "gain",
        F.col("band").cast("string"),
        v_str=F.concat_ws(
            "|",
            F.coalesce(
                F.col("cut_score").cast("bigint").cast("string"), F.lit("-")
            ),
            F.col("n").cast("string"), F.col("n_pos").cast("string"),
            F.col("cum_n").cast("string"), F.col("cum_pos").cast("string"),
            F.col("n_excluded").cast("string"),
            F.col("gain_ppm").cast("string"),
        ),
        v_num=F.col("lift_ppm").cast("double"),
    )
    # r7 'psi': population-stability drift between the en and zh
    # slices over the hashed feature space — the release-to-release
    # drift gate; one bounded bucket-count collect per side, the PSI
    # itself computed by the shared psi_core (replayed verbatim by the
    # oracle from duckdb-side counts)
    psi = _suite_rows(
        classify_ops.psi_report(
            docs.filter(F.col("lang") == "en"),
            docs.filter(F.col("lang") == "zh"),
            hash_buckets=1024,
        ),
        "psi",
        F.lit("en_vs_zh"),
        v_str=F.concat_ws(
            "|", F.col("n_buckets").cast("string"),
            F.col("n_old_feats").cast("string"),
            F.col("n_new_feats").cast("string"),
        ),
        v_num=F.col("psi_micro").cast("double"),
    )
    # r5: 'ppl' — CCNet bigram-LM perplexity per doc (lm.py); the
    # deterministic trainer (ordered-limit sample, lexicographic vocab
    # ties) makes the scores pinned-model-oracle-checkable.
    from .operators import lm as lm_ops

    model = lm_ops.train_bigram_lm(docs)
    # pin the per-doc scores once: 'ppl' and 'pplb' both read them,
    # and the tercile cuts replay the same pinned values — one Arrow
    # scoring pass for the whole LM tier (the spans_df reuse pattern)
    ppl_scored = lm_ops.doc_perplexity(docs, model).localCheckpoint()
    ppl = _suite_rows(
        ppl_scored, "ppl",
        F.col("doc_id"), v_num=F.col("ppl"),
    )
    # r6: 'pplb' — the CCNet head/middle/tail terciles via the EXACT
    # rank-based branch (value at rank ceil(k·n/3), TakeOrdered cuts):
    # bucket assignment is value-checked per doc; the GK-sketch branch
    # stays the 100 TB path with a pytest equivalence-at-tolerance.
    pplb = _suite_rows(
        lm_ops.perplexity_buckets(docs, model, approx=False,
                                  scored_df=ppl_scored),
        "pplb",
        F.col("doc_id"), v_str=F.col("bucket"), v_num=F.col("ppl"),
    )
    # r9 'ks': exact two-sample Kolmogorov–Smirnov drift between the
    # en and zh n_chars distributions — the bucketing-free companion
    # to 'psi'; every number exact integer (D localized at its cut)
    from .operators import stats as stats_ops

    ks = _suite_rows(
        stats_ops.ks_drift(docs, "n_chars", "lang", "en", "zh"),
        "ks",
        F.lit("en_vs_zh"),
        v_str=F.concat_ws(
            "|", F.col("n_a").cast("string"), F.col("n_b").cast("string"),
            F.col("at_value").cast("string"),
        ),
        v_num=F.col("d_ppm").cast("double"),
    )
    # r10 'ksq': the CONTINUOUS-column path — ks_drift's (now default)
    # auto-quantize grid on a genuine DOUBLE (n_chars / 7.0), 16 cells
    # so quantization actually bites at gate SF; the oracle replays
    # the identical IEEE grid (min/max → width → floor cell → cell
    # lower edge — every step the same double ops in both engines);
    # at_value rides v_num because engines render doubles as strings
    # differently
    ksq = _suite_rows(
        stats_ops.ks_drift(
            docs.withColumn("score", F.col("n_chars") / F.lit(7.0)),
            "score", "lang", "en", "zh", auto_quantize_cells=16,
        ),
        "ksq",
        F.lit("en_vs_zh_q16"),
        v_str=F.concat_ws(
            "|", F.col("n_a").cast("string"), F.col("n_b").cast("string"),
            F.col("d_ppm").cast("string"),
        ),
        v_num=F.col("at_value").cast("double"),
    )
    # r9 'chi2': chi-square + Cramér's V between lang and source —
    # the categorical association screen; chi2_ppm is the EXACT
    # per-cell-floored integer sum (no float accumulation order),
    # Cramér's V one IEEE sqrt over exact integers
    chi2 = _suite_rows(
        stats_ops.chi2_association(docs, "lang", "source"),
        "chi2",
        F.lit("lang~source"),
        v_str=F.concat_ws(
            "|", F.col("n").cast("string"),
            F.col("n_excluded").cast("string"),
            F.col("n_cells").cast("string"),
            F.col("card_a").cast("string"), F.col("card_b").cast("string"),
            F.col("dof").cast("string"), F.col("chi2_ppm").cast("string"),
        ),
        v_num=F.col("cramers_v_ppm").cast("double"),
    )
    # r9 'minf': mutual information of (source, length-bucket) vs
    # lang — cells-sized bounded collect, MI computed by the shared
    # mi_core so the number replays exactly off-Spark (the psi
    # pattern); len bucket via floor(n_chars/500), the same integer
    # floor both engines compute
    minf = _suite_rows(
        stats_ops.mutual_information_report(
            docs.withColumn(
                "len_b",
                F.floor(F.col("n_chars") / F.lit(500)).cast("string"),
            ),
            ["source", "len_b"], "lang",
        ),
        "minf",
        F.col("feature"),
        v_str=F.concat_ws(
            "|", F.col("n").cast("string"),
            F.col("card_feature").cast("string"),
            F.col("card_label").cast("string"),
            F.col("h_feature_micro").cast("string"),
            F.col("h_label_micro").cast("string"),
            F.col("nmi_ppm").cast("string"),
        ),
        v_num=F.col("mi_micro").cast("double"),
    )
    return _union_all([nb, nbp, dsir, pr, reli, gain, psi, ppl, pplb,
                       ks, ksq, chi2, minf])


_PR_THRESHOLDS = (-1_000_000, -250_000, 0, 250_000, 1_000_000)


CLASSIFY_SUITE_SQL = """
WITH base AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS t
  FROM documents
),
ltoks AS (SELECT lang AS label, unnest(t) AS token FROM base),
counts AS (SELECT label, token, count(*) AS cnt FROM ltoks GROUP BY 1, 2),
vs AS (SELECT count(DISTINCT token) AS v FROM counts),
totals AS (SELECT label, sum(cnt) AS n_tok FROM counts GROUP BY 1),
tlogp AS (
  SELECT label, token,
         CAST(round(ln((cnt + 1) / (n_tok + v)) * 1000000) AS BIGINT) AS lp
  FROM counts JOIN totals USING (label), vs
),
cstats AS (
  SELECT d.lang AS label,
         CAST(round(ln(CAST(d.n AS DOUBLE) / (SELECT count(*) FROM documents)) * 1000000) AS BIGINT) AS prior,
         CAST(round(ln(1.0 / (coalesce(t.n_tok, 0) + v.v)) * 1000000) AS BIGINT) AS unseen
  FROM (SELECT lang, count(*) AS n FROM documents GROUP BY lang) d
  LEFT JOIN totals t ON t.label = d.lang, vs v
),
dt AS (
  SELECT doc_id AS id, unnest(t) AS token FROM base
),
dtc AS (SELECT id, token, count(*) AS cnt FROM dt GROUP BY 1, 2),
nbscore AS (
  SELECT dtc.id, c.label,
         any_value(c.prior) + sum(dtc.cnt * coalesce(tl.lp, c.unseen)) AS score_micro
  FROM dtc CROSS JOIN cstats c
  LEFT JOIN tlogp tl ON tl.label = c.label AND tl.token = dtc.token
  GROUP BY dtc.id, c.label
),
empties AS (
  SELECT b.doc_id AS id, c.label, c.prior AS score_micro
  FROM base b CROSS JOIN cstats c
  WHERE len(b.t) = 0
),
allscores AS (SELECT * FROM nbscore UNION ALL SELECT * FROM empties),
pred AS (
  SELECT id, label, score_micro,
         row_number() OVER (PARTITION BY id ORDER BY score_micro DESC, label ASC) AS rn
  FROM allscores
),
feats AS (
  SELECT doc_id AS id, unnest(list_concat(t,
           CASE WHEN len(t) >= 2
                THEN list_transform(generate_series(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i + 1])
                ELSE [] END)) AS f
  FROM base
),
fb AS (
  SELECT id, ('0x' || substr(md5(f), 1, 15))::BIGINT % 1024 AS bucket FROM feats
),
rawd AS (SELECT bucket, count(*) AS c FROM fb GROUP BY bucket),
rawtot AS (SELECT count(*) AS n FROM fb),
tgtf AS (SELECT bucket, count(*) AS c FROM fb
         WHERE id IN (SELECT doc_id FROM documents WHERE lang = 'zh')
         GROUP BY bucket),
tgttot AS (SELECT count(*) AS n FROM fb
           WHERE id IN (SELECT doc_id FROM documents WHERE lang = 'zh')),
ratio AS (
  SELECT coalesce(r.bucket, t.bucket) AS bucket,
         CAST(round(ln((coalesce(t.c, 0) + 1.0) / ((SELECT n FROM tgttot) + 1024)) * 1000000) AS BIGINT)
       - CAST(round(ln((coalesce(r.c, 0) + 1.0) / ((SELECT n FROM rawtot) + 1024)) * 1000000) AS BIGINT) AS lr
  FROM rawd r FULL JOIN tgtf t ON r.bucket = t.bucket
),
dsir AS (
  SELECT fb.id, count(*) AS n_feats, sum(ratio.lr) AS logw
  FROM fb JOIN ratio USING (bucket)
  GROUP BY fb.id
)
SELECT 'nb' AS suite_case,
       CAST(id AS VARCHAR) || '|' || label AS k, '' AS v_str,
       CAST(score_micro AS DOUBLE) AS v_num
FROM allscores
UNION ALL
SELECT 'nbp', CAST(id AS VARCHAR), label, -1.0 FROM pred WHERE rn = 1
UNION ALL
SELECT 'dsir', CAST(id AS VARCHAR), CAST(n_feats AS VARCHAR), CAST(logw AS DOUBLE)
FROM dsir
UNION ALL
SELECT 'pr', CAST(threshold AS VARCHAR),
       CAST(tp AS VARCHAR) || '|' || CAST(fp AS VARCHAR) || '|' ||
       CAST(fn AS VARCHAR) || '|' || CAST(tn AS VARCHAR) || '|' ||
       CAST(nex AS VARCHAR) || '|' ||
       CAST(CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) ELSE 0 END AS VARCHAR) || '|' ||
       CAST(CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) ELSE 0 END AS VARCHAR),
       CAST(CASE WHEN 2 * tp + fp + fn > 0
                 THEN (2 * tp * 1000000) // (2 * tp + fp + fn)
                 ELSE 0 END AS DOUBLE)
FROM (
  SELECT t.threshold,
         sum(CASE WHEN tr.s >= t.threshold AND tr.y THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN tr.s >= t.threshold AND NOT tr.y THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN tr.s < t.threshold AND tr.y THEN 1 ELSE 0 END) AS fn,
         sum(CASE WHEN tr.s < t.threshold AND NOT tr.y THEN 1 ELSE 0 END) AS tn,
         sum(CASE WHEN tr.s IS NULL OR tr.y IS NULL THEN 1 ELSE 0 END) AS nex
  FROM (SELECT d.logw AS s, (doc.lang = 'zh') AS y
        FROM dsir d JOIN documents doc ON d.id = doc.doc_id) tr
  CROSS JOIN (VALUES (-1000000), (-250000), (0), (250000), (1000000)) t(threshold)
  GROUP BY t.threshold
) prsweep
UNION ALL
SELECT 'reli', CAST(bucket AS VARCHAR),
       CAST(n AS VARCHAR) || '|' || CAST(lo AS VARCHAR) || '|' ||
       CAST(hi AS VARCHAR) || '|' || CAST(ssum AS VARCHAR),
       CAST(pos_ppm AS DOUBLE)
FROM (
  WITH rbase AS (
    SELECT d.logw AS s, (doc.lang = 'zh') AS y
    FROM dsir d JOIN documents doc ON d.id = doc.doc_id
    WHERE d.logw IS NOT NULL
  ),
  rrank AS (
    SELECT s, y,
           rank() OVER (ORDER BY s ASC) AS rk,
           count(*) OVER () AS nn
    FROM rbase
  ),
  rbuck AS (
    SELECT s, y,
           least(10, (CASE WHEN nn > 1
                           THEN ((rk - 1) * 1000000) // (nn - 1)
                           ELSE 0 END * 10) // 1000000 + 1) AS bucket
    FROM rrank
  )
  SELECT bucket, count(*) AS n, min(s) AS lo, max(s) AS hi,
         sum(s) AS ssum,
         (sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000) // count(*)
           AS pos_ppm
  FROM rbuck GROUP BY bucket
) relirows
UNION ALL
SELECT 'gain', CAST(band AS VARCHAR),
       coalesce(CAST(cut AS VARCHAR), '-') || '|' || CAST(n_b AS VARCHAR)
         || '|' || CAST(pos_b AS VARCHAR) || '|' || CAST(cum_n AS VARCHAR)
         || '|' || CAST(cum_pos AS VARCHAR) || '|' || CAST(nex AS VARCHAR)
         || '|' || CAST(CASE WHEN tot_pos > 0
                             THEN (cum_pos::HUGEINT * 1000000) // tot_pos
                             ELSE 0 END AS VARCHAR),
       CAST(CASE WHEN tot_pos > 0 AND cum_n > 0
                 THEN (cum_pos::HUGEINT * n_tot * 1000000)
                      // (tot_pos::HUGEINT * cum_n)
                 ELSE 0 END AS DOUBLE)
FROM (
  WITH gsrc AS (
    SELECT d.logw AS s, (doc.lang = 'zh') AS y
    FROM dsir d JOIN documents doc ON d.id = doc.doc_id
  ),
  gex AS (
    SELECT count(CASE WHEN s IS NULL OR y IS NULL THEN 1 END) AS nex
    FROM gsrc
  ),
  grk AS (
    SELECT s, y, row_number() OVER (ORDER BY s DESC) AS rn,
           count(*) OVER () AS n
    FROM gsrc WHERE s IS NOT NULL AND y IS NOT NULL
  ),
  gcuts AS (
    SELECT ks.k, min(g.s) AS cut
    FROM grk g
    JOIN (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) ks(k)
      ON g.rn <= (ks.k * g.n + 9) // 10
    GROUP BY ks.k
  ),
  gband AS (
    SELECT g.s, g.y,
           coalesce((SELECT min(c.k) FROM gcuts c WHERE g.s >= c.cut),
                    10) AS band
    FROM grk g
  ),
  gagg AS (
    SELECT band, count(*) AS n_b,
           sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos_b
    FROM gband GROUP BY band
  ),
  gcum AS (
    SELECT band, n_b, pos_b,
           sum(n_b) OVER (ORDER BY band) AS cum_n,
           sum(pos_b) OVER (ORDER BY band) AS cum_pos,
           sum(pos_b) OVER () AS tot_pos,
           sum(n_b) OVER () AS n_tot
    FROM gagg
  )
  SELECT gc.band, c.cut, gc.n_b, gc.pos_b, gc.cum_n, gc.cum_pos,
         gc.tot_pos, gc.n_tot, gex.nex
  FROM gcum gc LEFT JOIN gcuts c ON c.k = gc.band, gex
) gainrows
UNION ALL
SELECT 'ks', 'en_vs_zh',
       CAST(na AS VARCHAR) || '|' || CAST(nb AS VARCHAR) || '|' ||
       CAST(v AS VARCHAR),
       CAST(CASE WHEN na > 0 AND nb > 0
                 THEN d * 1000000 // (na * nb)
                 ELSE 0 END AS DOUBLE)
FROM (
  WITH ksrows AS (
    SELECT n_chars AS v,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia
    FROM documents WHERE n_chars IS NOT NULL AND lang IN ('en', 'zh')
  ),
  kspv AS (
    SELECT v, sum(ia)::HUGEINT AS ca, sum(1 - ia)::HUGEINT AS cb
    FROM ksrows GROUP BY v
  ),
  kscum AS (
    SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
           sum(cb) OVER (ORDER BY v) AS cumb,
           sum(ca) OVER () AS na, sum(cb) OVER () AS nb
    FROM kspv
  )
  SELECT v, na, nb, abs(cuma * nb - cumb * na) AS d
  FROM kscum
  ORDER BY abs(cuma * nb - cumb * na) DESC, v ASC
  LIMIT 1
) ksone
UNION ALL
SELECT 'ksq', 'en_vs_zh_q16',
       CAST(na AS VARCHAR) || '|' || CAST(nb AS VARCHAR) || '|' ||
       CAST(CASE WHEN na > 0 AND nb > 0
                 THEN d * 1000000 // (na * nb)
                 ELSE 0 END AS VARCHAR),
       CAST(v AS DOUBLE)
FROM (
  WITH kqrows AS (
    SELECT n_chars / 7.0 AS v,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia
    FROM documents
    WHERE n_chars IS NOT NULL AND lang IN ('en', 'zh')
  ),
  kqmm AS (SELECT min(v) AS lo, max(v) AS hi FROM kqrows),
  -- the IDENTICAL IEEE grid the Spark default builds: width =
  -- (hi-lo)/16 computed once, cell = least(15, floor((v-lo)/width)),
  -- quantized value = lo + CAST(cell AS DOUBLE) * width
  kqq AS (
    SELECT m.lo + CAST(least(15, CAST(floor((r.v - m.lo)
             / ((m.hi - m.lo) / 16)) AS BIGINT)) AS DOUBLE)
             * ((m.hi - m.lo) / 16) AS v,
           r.ia
    FROM kqrows r, kqmm m
  ),
  kqpv AS (
    SELECT v, sum(ia)::HUGEINT AS ca, sum(1 - ia)::HUGEINT AS cb
    FROM kqq GROUP BY v
  ),
  kqcum AS (
    SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
           sum(cb) OVER (ORDER BY v) AS cumb,
           sum(ca) OVER () AS na, sum(cb) OVER () AS nb
    FROM kqpv
  )
  SELECT v, na, nb, abs(cuma * nb - cumb * na) AS d
  FROM kqcum
  ORDER BY abs(cuma * nb - cumb * na) DESC, v ASC
  LIMIT 1
) kstop
UNION ALL
SELECT 'chi2', 'lang~source',
       CAST(n AS VARCHAR) || '|' || CAST(nex AS VARCHAR) || '|' ||
       CAST(ncells AS VARCHAR) || '|' || CAST(ca AS VARCHAR) || '|' ||
       CAST(cb AS VARCHAR) || '|' || CAST((ca - 1) * (cb - 1) AS VARCHAR)
       || '|' || CAST(chi2 AS VARCHAR),
       CAST(CASE WHEN least(ca - 1, cb - 1) > 0 AND n > 0
                 THEN floor(1000000.0 * sqrt((chi2::DOUBLE) /
                      (1000000.0 * (n::DOUBLE) *
                       (least(ca - 1, cb - 1)::DOUBLE))))
                 ELSE 0 END AS DOUBLE)
FROM (
  WITH c2cells AS (
    SELECT lang AS a, source AS b, count(*)::HUGEINT AS o
    FROM documents GROUP BY 1, 2
  ),
  c2sized AS (
    SELECT a, b, o,
           sum(o) OVER (PARTITION BY a) AS r,
           sum(o) OVER (PARTITION BY b) AS c,
           sum(o) OVER () AS n
    FROM c2cells WHERE a IS NOT NULL AND b IS NOT NULL
  ),
  c2pc AS (
    SELECT n, a, b,
           (o * o * n * 1000000) // (r * c) AS cell
    FROM c2sized
  ),
  c2ag AS (
    SELECT max(n) AS n, count(*) AS ncells,
           count(DISTINCT a) AS ca, count(DISTINCT b) AS cb,
           greatest(sum(cell) - max(n) * 1000000, 0) AS chi2
    FROM c2pc
  ),
  c2ex AS (
    SELECT coalesce(sum(o), 0) AS nex FROM c2cells
    WHERE a IS NULL OR b IS NULL
  )
  SELECT * FROM c2ag, c2ex
) c2rows
"""


def _classify_suite_sql() -> str:
    """CLASSIFY_SUITE_SQL + the 'ppl'/'pplb' branches from a
    pinned-model VALUES table: the identical pure-Python bigram LM
    (lm.train_bigram_lm_from_texts — the trainer core the Spark path
    collects into) retrained off-Spark over the same parquet, scored
    driver-side with the same round-6 policy.  The tercile cuts are
    recomputed IN SQL from that table with the same rank-ceil(k·n/3)
    definition the exact Spark branch uses (only n itself comes from
    the replay — a structural count).  Lazily built."""
    from .operators import lm as lm_ops

    rows = _oracle_docs()
    model = lm_ops.train_bigram_lm_from_texts([t for _, t in rows[:50_000]])
    vals = []
    n_finite = 0
    for doc_id, text in rows:
        p = round(model.perplexity(text), 6)
        lit = "CAST('infinity' AS DOUBLE)" if p == float("inf") else repr(p)
        vals.append(f"({doc_id}, {lit})")
        if p != float("inf"):
            n_finite += 1
    if n_finite:
        r1, r2 = -(-n_finite // 3), -(-2 * n_finite // 3)
        cuts = (
            f"pcuts AS (SELECT (SELECT max(p) FROM (SELECT p FROM pplv "
            f"WHERE isfinite(p) ORDER BY p LIMIT {r1})) AS lo, "
            f"(SELECT max(p) FROM (SELECT p FROM pplv "
            f"WHERE isfinite(p) ORDER BY p LIMIT {r2})) AS hi),\n"
        )
    else:
        cuts = ("pcuts AS (SELECT CAST('infinity' AS DOUBLE) AS lo, "
                "CAST('infinity' AS DOUBLE) AS hi),\n")
    sql = CLASSIFY_SUITE_SQL.replace(
        "WITH base AS (",
        "WITH pplv AS (SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS v(doc_id, p)),\n" + cuts + "base AS (",
        1,
    )
    # r7 'psi': pure-Python replay — identical tokenization (terms_py
    # == classify._tokens), identical bigram join, identical md5
    # 15-hex-char bucket hash, the SAME psi_core the Spark path calls
    import hashlib

    import duckdb as _dd

    from .operators import classify as _cls
    from .operators.retrieval import terms_py as _tp

    def _bucket_counts(lang: str) -> dict:
        rows2 = _dd.sql(
            f"SELECT coalesce(text, '') FROM "
            f"'{_ORACLE_SF_DIR}/documents.parquet' WHERE lang = '{lang}'"
        ).fetchall()
        counts: dict = {}
        for (text,) in rows2:
            toks = _tp(text)
            feats = toks + (
                [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
                if len(toks) >= 2 else []
            )
            for f in feats:
                b = int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % 1024
                counts[b] = counts.get(b, 0) + 1
        return counts

    pm, pb, po, pn = _cls.psi_core(
        _bucket_counts("en"), _bucket_counts("zh"), 1024
    )
    psi_sql = (
        f"\nUNION ALL\nSELECT 'psi', 'en_vs_zh', "
        f"'{pb}|{po}|{pn}', CAST({pm} AS DOUBLE)"
    )
    # r9 'minf': identical cell counts off DuckDB (the same floor
    # length-bucketing the Spark gate applies), the SAME mi_core
    from .operators.stats import mi_core as _mi_core

    minf_sql = ""
    for feat, expr in [
        ("source", "source"),
        ("len_b", "CAST(n_chars // 500 AS VARCHAR)"),
    ]:
        cells = _dd.sql(
            f"SELECT {expr} AS v, lang AS l, count(*) AS c FROM "
            f"'{_ORACLE_SF_DIR}/documents.parquet' "
            "WHERE lang IS NOT NULL GROUP BY 1, 2"
        ).fetchall()
        mi, n, cv, cl, hv, hl, nmi = _mi_core(
            [(v, l, int(c)) for v, l, c in cells]
        )
        minf_sql += (
            f"\nUNION ALL\nSELECT 'minf', '{feat}', "
            f"'{n}|{cv}|{cl}|{hv}|{hl}|{nmi}', CAST({mi} AS DOUBLE)"
        )
    return (
        sql
        + psi_sql
        + minf_sql
        + "\nUNION ALL\nSELECT 'ppl', CAST(doc_id AS VARCHAR), '', "
        "CAST(p AS DOUBLE) FROM pplv"
        + "\nUNION ALL\nSELECT 'pplb', CAST(doc_id AS VARCHAR), "
        "CASE WHEN p <= (SELECT lo FROM pcuts) THEN 'head' "
        "WHEN p <= (SELECT hi FROM pcuts) THEN 'middle' ELSE 'tail' END, "
        "CAST(p AS DOUBLE) FROM pplv"
    )


# ---------------------------------------------------------------- registry

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (spark builder, oracle SQL or None for rows-only check)
#
# HARD BUDGET: the driver compares at most ~50 rows (CORRECTNESS_r01
# contained exactly the first 50 entries in declaration order, cutting
# off the 14 training-data extensions).  Trivial scalar gates are
# therefore merged into tagged suite gates (f_scalar_suite,
# f_value_suite, a_basic_aggs, w_alert_rules, multimodal_pipeline,
# text_profile ⊇ text_langid) — every operator keeps a value-level
# oracle row and the registry stays at exactly 50 entries.
# tests/test_registry_gate.py enforces the ≤50 invariant.
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "s4_cdc_parse_envelope": (s4_cdc_parse_envelope, S4_SQL),
    "s5_table_scan_projection": (s5_table_scan_projection, S5_SQL),
    "p6_dynamic_filter": (p6_dynamic_filter, P6_SQL),
    "p7_projection_split": (p7_projection_split, P7_SQL),
    # r3: P8 semi + J3 anti merged into one tagged gate (both keep
    # value-level rows; frees a budget slot for stream_parity_suite)
    "pj_exists_suite": (pj_exists_suite, _pj_exists_suite_sql_full),
    "j1_one_to_many_nested": (j1_one_to_many_nested, J1_SQL),
    "j2_dim_joins": (j2_dim_joins, J2_SQL),
    "j4_stream_static_enrich": (j4_stream_static_enrich, J4_SQL),
    "stream_parity_suite": (stream_parity_suite, STREAM_PARITY_SQL),
    "pii_scrub": (pii_scrub, PII_SCRUB_SQL),
    "a_windowed_suite": (a_windowed_suite, A_WINDOWED_SUITE_SQL),
    "a_rollup_suite": (a_rollup_suite, _a_rollup_suite_sql()),
    "a_topk_suite": (a_topk_suite, A_TOPK_SUITE_SQL),
    "a_basic_aggs": (a_basic_aggs, A_BASIC_AGGS_SQL),
    # r4: A9 + A11 merged (frees one budget slot)
    "a_stats_suite": (a_stats_suite, A_STATS_SUITE_SQL),
    "a12_breaking_words": (a12_breaking_words, A12_SQL),
    "o2_offset_pagination_total": (o2_offset_pagination_total, O2_SQL),
    # r4: W1 + W2 + W3 + W6 + W8 merged into one tagged gate (all
    # values keep their own rows; frees four budget slots for the
    # round-3/4 tiers)
    "w_trend_suite": (w_trend_suite, W_TREND_SUITE_SQL),
    "w4_compound_score": (w4_compound_score, W4_SQL),
    "w_alert_rules": (w_alert_rules, W_ALERT_RULES_SQL),
    "o3_recent_alerts": (o3_recent_alerts, O3_SQL),
    "t4_session_window": (t4_session_window, T4_SQL),
    "a2_windowed_collect": (a2_windowed_collect, A2_SQL),
    "o5_merge_keywords": (o5_merge_keywords, O5_SQL),
    "o7_dedup_by_key": (o7_dedup_by_key, O7_SQL),
    "f_scalar_suite": (f_scalar_suite, F_SCALAR_SUITE_SQL),
    "f_value_suite": (f_value_suite, F_VALUE_SUITE_SQL),
    # r4: F6 + F14 merged (frees one budget slot)
    "f_parse_suite": (f_parse_suite, F_PARSE_SUITE_SQL),
    "text_profile": (text_profile, _text_profile_sql),
    "dedup_exact_summary": (dedup_exact_summary, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard3": (dedup_ngram_jaccard3, DEDUP_JACCARD3_SQL),
    # r3: supersedes the r2 cluster gate — same clustering machinery, now the
    # full docs → MinHash pairs → components → survivors+sizes pipeline
    "dedup_end_to_end": (dedup_end_to_end, DEDUP_E2E_SQL),
    "curation_suite": (curation_suite, _curation_suite_sql),
    # r5: unigram + trigram MinHash configs merged (frees one slot)
    "dedup_minhash_suite": (dedup_minhash_suite, _dedup_minhash_suite_sql),
    "dedup_simhash": (dedup_simhash, _simhash_suite_sql),
    "sim_cosine_topk": (sim_cosine_suite, SIM_COSINE_SUITE_SQL),
    "quality_repetition": (quality_repetition, QUALITY_REPETITION_SQL),
    "decontaminate": (decontaminate, DECONTAMINATE_SQL),
    "sim_embedding_neardup_lsh": (sim_embedding_neardup_lsh, _sim_neardup_lsh_sql()),
    # r5: LSH + IVF ANN merged (frees one slot)
    "sim_ann_suite": (sim_ann_suite, _sim_ann_suite_sql),
    "multimodal_pipeline": (multimodal_pipeline, _multimodal_pipeline_sql),
    # r4 tier (slots freed by the w2/w3/w6, a9/a11, f6/f14 merges):
    # sequential-admission flagship with a full SQL replay oracle
    "admit_shard_e2e": (admit_shard_e2e, ADMIT_E2E_SQL),
    # pinned-Python-model oracles, generated lazily at oracle_sql() time
    "bpe_tokenize": (bpe_tokenize, _bpe_oracle_sql),
    "mmr_extract": (mmr_extract, _mmr_oracle_sql),
    # r5: pinned-codebook oracle (trainers rerun off-Spark, ADC/refine
    # replayed in numpy); the build ALSO self-asserts on refined recall
    "pq_recall": (pq_recall, _pq_oracle_sql),
    # r4 tier (slots freed by the w1/w8 merges): substring-level dedup
    # and the NB/DSIR model-in-the-loop curation classifiers
    "span_dedup": (span_dedup, _span_dedup_sql),
    "classify_suite": (classify_suite, _classify_suite_sql),
    # r5 tier (slots freed by the minhash / ANN merges): SemDeDup with
    # a pinned-centroid oracle, and the corpus-release builder tier
    "semdedup": (semdedup, _semdedup_oracle_sql),
    "corpus_release_suite": (corpus_release_suite, _corpus_release_suite_sql),
}

# Headline queries (perfbench's query_mix runs 13 of them;
# .bench/dump_plans_r13.py dumps all their plans) — chosen to stress
# distinct physical plans: codegen agg, broadcast join, shuffle agg +
# window fns, session windows, CDC parse, JSON decode, text explode,
# inverted-index join, LSH, vector math.  Mapped to functions directly (NOT through
# REGISTRY) so bench names stay stable across rounds even when gate
# entries are merged/renamed: multimodal_features here is the same
# measured plan as rounds 1's entry of that name.
BENCH_FNS: dict[str, QueryFn] = {
    "q1_pricing_summary": q1_pricing_summary,
    # round 7: the 6-table star join (TPC-H Q5 shape) — fact-grain
    # equi-joins + broadcast dims, the multi-join analytics muscle
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "s4_cdc_parse_envelope": s4_cdc_parse_envelope,
    "j1_one_to_many_nested": j1_one_to_many_nested,
    "j2_dim_joins": j2_dim_joins,
    "a1_windowed_count": a1_windowed_count,
    "a4_sliding_window": a4_sliding_window,
    "a12_breaking_words": a12_breaking_words,
    "t4_session_window": t4_session_window,
    "w2_zscore": w2_zscore,
    "w4_compound_score": w4_compound_score,
    "w6_rank_change": w6_rank_change,
    "f14_json_extract": f14_json_extract,
    "text_profile": text_profile,
    "o5_merge_keywords": o5_merge_keywords,
    "dedup_ngram_jaccard3": dedup_ngram_jaccard3,
    "dedup_minhash_lsh3": dedup_minhash_lsh3,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_lsh_ann_topk": sim_lsh_ann_topk,
    "sim_ivf_ann_topk": sim_ivf_ann_topk,
    "multimodal_features": multimodal_features,
    # round 2+: curation layer (sample/pack/tfidf union; tfidf dominates)
    "curation_suite": curation_suite,
    "quality_repetition": quality_repetition,
    "decontaminate": decontaminate,
    # round 3+: full corpus-dedup pipeline (pairs → components →
    # survivors); the component iterations run at BUILD time
    # (localCheckpoint per round), so build_s carries them and the
    # steady-state number is the prepared survivor-assignment plan
    "dedup_end_to_end": dedup_end_to_end,
    # round 4+: substring-level dedup (window hash agg + islands +
    # in-row rewrite) and the NB/DSIR classifier tier (tokenize +
    # broadcast model joins, integer micro-nat sums)
    "span_dedup": span_dedup,
    "classify_suite": classify_suite,
    # round 5+: trained-centroid SemDeDup (assign + cluster-blocked
    # pairs + survivors) and the corpus-release builder tier (mixture
    # / diff / leakage-safe split / deterministic shuffle key)
    "semdedup": semdedup,
    "corpus_release_suite": corpus_release_suite,
    # round 6: the multimodal fingerprint tier (synth + pHash/aHash/
    # vHash mapInPandas passes + pigeonhole pairs + incremental) —
    # the whole 9-branch gate, so the bench tracks the real decode+
    # hash+pair cost, not just the metadata plumbing
    "multimodal_pipeline": multimodal_pipeline,
    # round 6 fourth wave: hybrid retrieval (BM25 postings + scoring,
    # dense cosine, RRF fusion) — the lexical index build rides in
    # build_s, the steady number is the prepared fusion plan
    "retrieval_hybrid": retrieval_hybrid,
    # round 9: the CDC-analytics tier rode invisible to the bench —
    # a_stats_suite carries 20+ branches (skew/mad/sessionize/cohort/
    # snapshot-diff/scd2/funnels/ohlc/merkle/twa/hll-rollup/...);
    # funnel counts + as-of/rollup bound collects pay in build_s, the
    # per-branch steady costs land in branch_s like every other suite
    "a_stats_suite": a_stats_suite,
}

BENCH_QUERIES = list(BENCH_FNS)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


_SQL_CACHE: dict[str, str] = {}


def resolve_sql(name: str, sql) -> str | None:
    """Registry SQL entries may be strings or zero-arg builders (the
    pinned-Python-model oracles train a model at build time, so they
    run lazily at first oracle_sql() call, memoized)."""
    if sql is None or isinstance(sql, str):
        return sql
    if name not in _SQL_CACHE:
        _SQL_CACHE[name] = sql()
    return _SQL_CACHE[name]


def oracle_sql() -> dict[str, str]:
    return {
        name: resolve_sql(name, sql)
        for name, (_fn, sql) in REGISTRY.items()
        if sql is not None
    }

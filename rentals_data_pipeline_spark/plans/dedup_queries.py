"""Catalog queries for the near-dup dedup extension (documents table).

Every Spark query here runs the *scale path* (LSH banding / pigeonhole
blocking — candidate generation by equi-join, never an O(n²) cross
join), while the DuckDB oracle computes the same answer exhaustively.
A hash match therefore certifies both the fingerprint math AND the
candidate-generation recall:

- MinHash banding (16 bands × 4 rows over 64 hashes): miss probability
  for a Jaccard-0.9 pair is (1 - 0.9⁴)^16 ≈ 4e-8 — statistically exact
  at any test SF, while admitting far fewer background candidates than
  2-row bands (candidate rate ~p⁴ per band).
- SimHash pigeonhole blocking (4 blocks of 16 bits over a 64-bit
  fingerprint, distance ≤ 3 = blocks-1): recall exactly 1 by
  construction, and 65 536 bucket values per block keep candidate
  buckets ~n/2^16 at corpus scale.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.functions.rounding import round_half_up as RND
from rentals_data_pipeline_spark.operators import dedup as DD
from rentals_data_pipeline_spark.operators import relational as RL
from rentals_data_pipeline_spark.operators import window as W
from rentals_data_pipeline_spark.plans.catalog import query
from rentals_data_pipeline_spark.sources.tables import load_table

# DuckDB fragment: distinct word-3-gram shingle set per document.
_ORACLE_SHINGLES = """
d AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents),
g AS (
    SELECT doc_id,
        CASE WHEN len(w) >= 3
             THEN list_distinct(list_transform(
                      generate_series(1, len(w) - 2),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
             ELSE [] END AS s
    FROM d
)
"""

# DuckDB fragment: per-doc DISTINCT word-5-gram sets — the decon
# family's shared gram contract (one copy; a tokenization or separator
# change edits exactly one place, the _sql_cos/_ORACLE_SHINGLES rule).
_ORACLE_SHINGLES5 = r"""d AS (
    SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
),
g AS (
    SELECT doc_id,
        CASE WHEN len(w) >= 5
             THEN list_distinct(list_transform(
                      generate_series(1, len(w) - 4),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           || ' ' || w[i+3] || ' ' || w[i+4]))
             ELSE [] END AS s
    FROM d
)"""

# DuckDB fragment: 64-bit simhash per document (same md5-nibble family
# as operators/dedup.py::simhash — bits 1-32 from md5(w), bits 33-64
# from the salted md5('1' || w); md5 is the only hash both engines share).
_ORACLE_SIMHASH = """
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
    FROM documents
),
bits AS (
    SELECT doc_id, i,
        SUM(CASE WHEN substr(CASE WHEN i <= 32 THEN md5(w)
                             ELSE md5('1' || w) END,
                 ((i - 1) % 32) + 1, 1)
                 IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS sgn
    FROM tok, generate_series(1, 64) AS t(i)
    GROUP BY doc_id, i
),
sim AS (
    SELECT doc_id,
        string_agg(CASE WHEN sgn >= 0 THEN '1' ELSE '0' END, '' ORDER BY i)
            AS simhash
    FROM bits
    GROUP BY doc_id
)
"""


@query(
    "dedup_minhash_lsh_pairs",
    f"""
WITH {_ORACLE_SHINGLES},
p AS (
    SELECT
        a.doc_id AS id_a,
        b.doc_id AS id_b,
        FLOOR((CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0))
              * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM p WHERE jaccard > 0.5
""",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (word-3-gram Jaccard > 0.5) via MinHash + LSH
    banding; the oracle brute-forces all O(n²) pairs, so a hash match
    also certifies LSH recall."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.transform(DD.minhash_near_dup_pairs(threshold=0.5))


@query(
    "dedup_simhash_fingerprints",
    f"""
WITH {_ORACLE_SIMHASH}
SELECT doc_id, simhash FROM sim
""",
)
def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (term-frequency-weighted sign-of-sums
    over the nibble-high bits of md5(w) and salted md5('1' || w))."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.transform(DD.simhash_fingerprints("doc_id", "text", 64, "simhash"))


@query(
    "dedup_simhash_hamming_pairs",
    f"""
WITH {_ORACLE_SIMHASH},
p AS (
    SELECT
        a.doc_id AS id_a,
        b.doc_id AS id_b,
        CAST(len(list_filter(generate_series(1, 64),
                 i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1)))
             AS INT) AS hamming_distance
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming_distance FROM p WHERE hamming_distance <= 3
""",
)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs within SimHash Hamming distance 3, candidates by pigeonhole
    blocking (4 × 16-bit blocks → recall exactly 1 for distance ≤ 3,
    65 536 bucket values per block so buckets stay small at corpus
    scale); oracle brute-forces all pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.transform(
        DD.simhash_hamming_pairs(nbits=64, blocks=4, max_distance=3)
    ).withColumn("hamming_distance", F.col("hamming_distance").cast("int"))


@query(
    "dedup_ngram_jaccard_topk",
    f"""
WITH {_ORACLE_SHINGLES},
probe AS (SELECT doc_id, s FROM g WHERE doc_id % 100 = 0),
scored AS (
    SELECT
        p.doc_id AS probe_id,
        c.doc_id AS match_id,
        FLOOR((CAST(len(list_intersect(p.s, c.s)) AS DOUBLE)
               / NULLIF(len(list_distinct(list_concat(p.s, c.s))), 0))
              * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM probe p JOIN g c ON p.doc_id <> c.doc_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY probe_id ORDER BY jaccard DESC, match_id) AS rn
    FROM scored
)
SELECT probe_id, match_id, jaccard FROM ranked WHERE rn <= 3
""",
)
def dedup_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most-similar documents (3-gram Jaccard) for each probe doc
    (doc_id % 100 = 0). The probe set is tiny → broadcast against the
    corpus, so the 'pairwise' scan is |probes| × |corpus|, not n²."""
    docs = load_table(spark, sf_dir, "documents")
    # codegen shingling (posexplode + lead window) and long-hashed
    # shingle sets: the n×probes Jaccard kernel intersects 8-byte longs
    # instead of strings — the oracle intersects the strings; a 64-bit
    # collision changing a cardinality is ~1e-15 per pair. Docs with
    # fewer than 3 words drop out (the oracle corpus has none).
    shingled = (
        docs.transform(DD.shingle_hash_rows("doc_id", "text", 3))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("s"))
    )
    probes = shingled.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("probe_id"), F.col("s").alias("probe_s")
    )
    scored = (
        F.broadcast(probes)
        .join(
            shingled.select(F.col("doc_id").alias("match_id"), F.col("s")),
            F.col("probe_id") != F.col("match_id"),
        )
        .select(
            "probe_id",
            "match_id",
            RND(DD.jaccard(F.col("probe_s"), F.col("s")), 4).alias("jaccard"),
        )
    )
    return scored.transform(
        W.top_k_per_group("jaccard", ["probe_id"], 3, tiebreakers=["match_id"])
    )


@query(
    "dedup_exact_documents",
    """
WITH h AS (
    SELECT doc_id, md5(text) AS content_hash,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
)
SELECT doc_id, content_hash FROM h WHERE rn = 1
""",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup (the brief's hash-groupBy family): documents
    grouped by md5(text), lowest doc_id survives. The hash-first shape
    is the 100 TB form — the shuffle key is a 16-byte digest instead of
    the document body, and the deterministic keep-first window replaces
    shuffle-order-dependent dropDuplicates (SURVEY §7.4-1)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("content_hash"))
        .transform(RL.dedup_keep_first(["content_hash"], [F.col("doc_id")]))
        .select("doc_id", "content_hash")
    )


# Shared recursive-CTE chain for the cluster family (one copy, the
# _ORACLE_SHINGLES rule): exhaustive near-dup pairs -> symmetric edge
# list -> min-label reachability. Consumers append their own fold;
# the standalone reports and their _probe twins pass the IDENTICAL
# final string, so one certified hash covers both paths.
_ORACLE_CC_REACH = f"""{_ORACLE_SHINGLES},
p AS (
    SELECT
        a.doc_id AS id_a,
        b.doc_id AS id_b
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE FLOOR((CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0))
                * 10000.0 + 0.5) / 10000.0 > 0.5
),
e AS (
    SELECT id_a AS src, id_b AS dst FROM p
    UNION ALL
    SELECT id_b, id_a FROM p
),
reach(id, label) AS (
    SELECT DISTINCT src, src FROM e
    UNION
    SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.id
)"""

_DUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_ORACLE_CC_REACH}
SELECT id AS doc_id, MIN(label) AS cluster_id
FROM reach
GROUP BY id
"""


@query("dedup_duplicate_clusters", _DUP_CLUSTERS_ORACLE)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components of the word-3-gram
    Jaccard > 0.5 near-dup graph, each doc labeled with its component's
    min doc_id (the canonical representative — collapse = keep
    cluster_id, drop the rest). Spark runs min-label propagation
    (operators/dedup.py::connected_components); the oracle computes the
    same components by recursive min-label reachability over the
    exhaustively recomputed pair graph (thresholding the identically
    rounded jaccard), so the hash match certifies pair recall AND the
    clustering fixpoint. CC is scale-tiered inside the operator
    (r13): bit-identical output, union-find below the 200k-pair bound
    where the distributed loop's per-round fixed cost (join + agg +
    checkpoint + probe job) dwarfs the work, distributed pointer
    jumping above it."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.transform(DD.minhash_near_dup_pairs(threshold=0.5))
    return DD.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


_CLUSTER_HISTOGRAM_ORACLE = f"""
WITH RECURSIVE {_ORACLE_CC_REACH},
cc AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY 1)
SELECT CAST(cluster_size AS INT) AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes
GROUP BY cluster_size
"""


@query("dedup_cluster_size_histogram", _CLUSTER_HISTOGRAM_ORACLE)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the statistic that drives
    dedup POLICY at scale (a corpus dominated by size-2 clusters wants
    pairwise collapse; heavy-tail mega-clusters signal boilerplate that
    needs template removal, not representative-keeping). Two tiny
    aggregations over the connected-components output; the oracle
    extends the duplicate-clusters recursive CTE, so the hash match
    certifies the full pair→CC→distribution chain. CC is
    scale-tiered (r13, bit-identical — see dedup_duplicate_clusters)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.transform(DD.minhash_near_dup_pairs(threshold=0.5))
    sizes = (
        DD.connected_components(pairs)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return (
        sizes.groupBy(F.col("cluster_size").cast("int").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn(
            "n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("bigint")
        )
    )


_SOFT_DEDUP_ORACLE = f"""
WITH RECURSIVE {_ORACLE_CC_REACH},
cc AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM cc GROUP BY 1),
dw AS (
    SELECT doc.source, COALESCE(s.sz, 1) AS sz
    FROM documents doc
    LEFT JOIN cc ON cc.id = doc.doc_id
    LEFT JOIN sizes s ON s.cluster_id = cc.cluster_id
)
SELECT source, COUNT(*) AS n_docs,
    CAST(SUM(CAST(FLOOR((1.0 / sz) * 1000000.0 + 0.5) / 1000000.0
                  AS DECIMAL(18,6))) AS DOUBLE) AS effective_docs,
    FLOOR((CAST(COUNT(*) AS DOUBLE)
           / NULLIF(CAST(SUM(CAST(FLOOR((1.0 / sz) * 1000000.0 + 0.5)
                                  / 1000000.0 AS DECIMAL(18,6)))
                         AS DOUBLE), 0.0))
          * 1000000.0 + 0.5) / 1000000.0 AS dup_inflation
FROM dw GROUP BY source
"""


@query("dedup_soft_dedup_weights", _SOFT_DEDUP_ORACLE)
def dedup_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (reweight, don't drop): every document keeps weight
    1/|its near-dup cluster| — duplicates dilute instead of vanishing,
    the loss-reweighting alternative to hard removal (SoftDeDup,
    arXiv:2407.06654's data-reweighting idea applied at cluster
    granularity).  Reports per source the raw doc count, the effective
    (weighted) corpus size, and the inflation ratio — the numbers that
    decide whether a source needs template removal before it can be
    mixed.  Composed from the certified near-dup chain (3-gram Jaccard
    > 0.5 pairs -> connected components); docs outside any cluster are
    singletons at weight 1 via the left join, so the whole corpus is
    accounted for.  Weights anchor at 6-dp decimals so the per-source
    sums are order-invariant; the oracle extends the duplicate-
    clusters recursive CTE, so one hash certifies pairs, the CC
    fixpoint, AND the reweighting fold.  Scale shape: only the
    clustered slice (pair-graph members) joins back, and the join
    carries NO forced broadcast hint — on a sparse dup graph AQE
    demotes it to a broadcast at runtime (the corpus never shuffles),
    while a template-heavy corpus whose clustered slice is
    corpus-proportional degrades to a shuffle join instead of a driver
    OOM (r12 review).  CC is scale-tiered — bit-identical output,
    union-find below the pair bound."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.transform(DD.minhash_near_dup_pairs(threshold=0.5))
    cc = DD.connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    member_sz = cc.join(sizes, "cluster_id").select(
        F.col("id").alias("doc_id"), "sz"
    )
    dw = docs.select("doc_id", "source").join(member_sz, "doc_id", "left")
    wgt = RND(F.lit(1.0) / F.coalesce(F.col("sz"), F.lit(1)), 6).cast(
        "decimal(18,6)"
    )
    eff = F.sum(wgt).cast("double")
    return dw.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        eff.alias("effective_docs"),
        RND(
            F.count(F.lit(1)).cast("double")
            / F.nullif(eff, F.lit(0.0)),
            6,
        ).alias("dup_inflation"),
    )


# ---------------------------------------------------------------------------
# Materialized cluster map (r13, verdict #1): the full LSH chain
# (shingle -> minhash -> band join -> CC fixpoint) is the dominant cost
# of the dedup workload, and the three cluster reports above each
# recomputed it — three chains for three reports over the same corpus.
# `dedup_cluster_map_build` runs the chain ONCE and persists
# (doc_id, cluster_id, sz) via the repo's persisted-index pattern
# (operators/dedup.py::write_cluster_map); the `_probe` twins answer
# the same three reports by READING the map. The standalone queries
# stay registered as the oracle-certified twins (the sketch exact-twin
# policy), and the probes pass the IDENTICAL oracle strings, so the
# certified hash covers both paths.
# ---------------------------------------------------------------------------

# Per-process build cache: one materialized map per corpus dir. The
# map is a session artifact (tempfile) — a production pipeline would
# write it next to the corpus and refresh on ingest, exactly like the
# decon / LSH-band / SemDeDup indexes.
_CLUSTER_MAP_DIRS: dict[str, str] = {}


def _cluster_map_path(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> str:
    key = os.path.abspath(sf_dir)
    path = _CLUSTER_MAP_DIRS.get(key)
    if rebuild or path is None:
        if path is not None:
            # a rebuild replaces the artifact — drop the superseded
            # copy instead of leaking one tempdir per build (review)
            shutil.rmtree(path, ignore_errors=True)
        path = tempfile.mkdtemp(prefix="ndclustermap-")
        docs = load_table(spark, sf_dir, "documents")
        DD.write_cluster_map(docs, path)
        _CLUSTER_MAP_DIRS[key] = path
    return path


def _cluster_map_frame(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> DataFrame:
    return DD.read_cluster_map(
        spark, _cluster_map_path(spark, sf_dir, rebuild)
    )


_CLUSTER_MAP_ORACLE = f"""
WITH RECURSIVE {_ORACLE_CC_REACH},
cc AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM cc GROUP BY 1)
SELECT cc.id AS doc_id, cc.cluster_id, CAST(s.sz AS BIGINT) AS sz
FROM cc JOIN sizes s USING (cluster_id)
"""


@query("dedup_cluster_map_build", _CLUSTER_MAP_ORACLE)
def dedup_cluster_map_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + persist the near-dup cluster map, returning its full
    contents: (doc_id, cluster_id, sz) for every clustered document
    (operators/dedup.py::cluster_map / write_cluster_map). This entry
    IS the production pipeline step — it always rebuilds (never serves
    the cache), so its bench time is the honest cost of the one chain
    the three probe reports then amortize. The oracle extends the
    shared recursive-CTE chain with the size join, so one hash
    certifies pairs, the CC fixpoint, AND the persisted artifact's
    row-for-row contents as read back from parquet."""
    return _cluster_map_frame(spark, sf_dir, rebuild=True).select(
        "doc_id", "cluster_id", F.col("sz").cast("long").alias("sz")
    )


@query("dedup_duplicate_clusters_probe", _DUP_CLUSTERS_ORACLE)
def dedup_duplicate_clusters_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate clusters served FROM the materialized map — the shape
    a 100 TB curation run uses (one chain, many reports). Identical
    output contract (and oracle string) to `dedup_duplicate_clusters`;
    the plan is a bare parquet scan + projection."""
    return _cluster_map_frame(spark, sf_dir).select("doc_id", "cluster_id")


@query("dedup_cluster_size_histogram_probe", _CLUSTER_HISTOGRAM_ORACLE)
def dedup_cluster_size_histogram_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-size distribution FROM the materialized map: recount
    members per cluster_id (two tiny aggregations over map rows — the
    stored sz is deliberately ignored so the probe certifies the map's
    membership rows, not a stored aggregate). Identical output
    contract (and oracle string) to `dedup_cluster_size_histogram`."""
    sizes = (
        _cluster_map_frame(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return (
        sizes.groupBy(F.col("cluster_size").cast("int").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn(
            "n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("bigint")
        )
    )


@query("dedup_soft_dedup_weights_probe", _SOFT_DEDUP_ORACLE)
def dedup_soft_dedup_weights_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Soft-dedup reweighting FROM the materialized map: the corpus
    scans once for (doc_id, source), left-joins the map's (doc_id, sz)
    — absence = singleton at weight 1 — and folds the same 6-dp
    anchored decimal weights. Identical output contract (and oracle
    string) to `dedup_soft_dedup_weights`; the join stays hint-free so
    AQE picks broadcast-vs-shuffle from the map's actual size."""
    docs = load_table(spark, sf_dir, "documents")
    member_sz = _cluster_map_frame(spark, sf_dir).select("doc_id", "sz")
    dw = docs.select("doc_id", "source").join(member_sz, "doc_id", "left")
    wgt = RND(F.lit(1.0) / F.coalesce(F.col("sz"), F.lit(1)), 6).cast(
        "decimal(18,6)"
    )
    eff = F.sum(wgt).cast("double")
    return dw.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        eff.alias("effective_docs"),
        RND(
            F.count(F.lit(1)).cast("double")
            / F.nullif(eff, F.lit(0.0)),
            6,
        ).alias("dup_inflation"),
    )


@query(
    "dedup_cluster_map_point_probe",
    f"""
WITH RECURSIVE {_ORACLE_CC_REACH},
cc AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM cc GROUP BY 1)
SELECT d.doc_id,
    COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
    CAST(COALESCE(s.sz, 1) AS BIGINT) AS sz
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 = 0) d
LEFT JOIN cc ON cc.id = d.doc_id
LEFT JOIN sizes s ON s.cluster_id = cc.cluster_id
""",
)
def dedup_cluster_map_point_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point lookup against the persisted cluster map (every 50th doc
    plays an arriving probe batch): is THIS doc a known near-dup, of
    which cluster, how big? — the serving-path query an ingest gate
    asks per batch. The probe ids' hash buckets become a static
    ``kb IN (...)`` partition filter, so the scan reads only the hit
    ``kb=`` directories (operators/dedup.py::probe_cluster_map — the
    LSH band gate's directory-pruning discipline on the map artifact);
    unclustered probes return as their own singleton (cluster_id =
    doc_id, sz = 1). The oracle replays the full chain + left joins,
    so the hash certifies the map contents AND the pruned lookup path
    end-to-end."""
    probes = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 50 == 0)
        .select("doc_id")
    )
    return DD.probe_cluster_map(
        spark, _cluster_map_path(spark, sf_dir), probes
    )


@query(
    "dedup_token_budget_by_source",
    f"""
WITH RECURSIVE {_ORACLE_CC_REACH},
cc AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM cc GROUP BY 1),
tk AS (
    SELECT doc.source, doc.doc_id,
        len(list_filter(string_split_regex(doc.text, '\\s+'),
                        w -> w <> '')) AS n_tokens,
        COALESCE(s.sz, 1) AS sz
    FROM documents doc
    LEFT JOIN cc ON cc.id = doc.doc_id
    LEFT JOIN sizes s ON s.cluster_id = cc.cluster_id
)
SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
    CAST(SUM(CAST(FLOOR((n_tokens * (FLOOR((1.0 / sz) * 1000000.0 + 0.5)
                                     / 1000000.0))
                        * 1000000.0 + 0.5) / 1000000.0
                  AS DECIMAL(38,6))) AS DOUBLE) AS effective_tokens,
    FLOOR((CAST(SUM(CAST(FLOOR((n_tokens
                                * (FLOOR((1.0 / sz) * 1000000.0 + 0.5)
                                   / 1000000.0))
                               * 1000000.0 + 0.5) / 1000000.0
                         AS DECIMAL(38,6))) AS DOUBLE)
           / NULLIF(CAST(SUM(n_tokens) AS DOUBLE), 0.0))
          * 1000000.0 + 0.5) / 1000000.0 AS dedup_discount
FROM tk GROUP BY source
""",
)
def dedup_token_budget_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup-weighted token budget (r13): per source, raw token count
    vs the EFFECTIVE token count after soft-dedup weighting (each
    doc's tokens × 1/|its near-dup cluster|, the soft-dedup weight) —
    the number a training-budget plan actually needs: how many unique
    tokens does this source really contribute, and what fraction of
    its raw volume survives dedup (dedup_discount). Composes the
    materialized cluster map (absence = singleton at weight 1) with
    the token counter; the corpus scans ONCE for (source, tokens),
    never re-shingles — the map probe path, like the soft-dedup
    weights probe. Weights and per-doc products anchor at 6-dp
    decimals so the per-source folds are order-invariant; the oracle
    replays the chain + the identical anchored fold."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    )
    member_sz = _cluster_map_frame(spark, sf_dir).select("doc_id", "sz")
    tk = (
        docs.select(
            "source", "doc_id", n_tokens.alias("n_tokens")
        )
        .join(member_sz, "doc_id", "left")
    )
    w6 = RND(F.lit(1.0) / F.coalesce(F.col("sz"), F.lit(1)), 6)
    eff_term = RND(F.col("n_tokens") * w6, 6).cast("decimal(38,6)")
    eff = F.sum(eff_term).cast("double")
    return tk.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("raw_tokens"),
        eff.alias("effective_tokens"),
        RND(
            eff
            / F.nullif(
                F.sum("n_tokens").cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("dedup_discount"),
    )


@query(
    "dedup_cross_source_overlap",
    r"""
WITH d AS (
    SELECT source, string_split_regex(text, '\s+') AS w FROM documents
),
g AS (
    SELECT DISTINCT source, u.gram
    FROM d, unnest(CASE WHEN len(w) >= 5
             THEN list_transform(generate_series(1, len(w) - 4),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       || ' ' || w[i+3] || ' ' || w[i+4])
             ELSE [] END) AS u(gram)
),
per AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
p AS (
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS shared_grams
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    GROUP BY 1, 2
)
SELECT p.source_a, p.source_b,
    CAST(p.shared_grams AS BIGINT) AS shared_grams,
    FLOOR((CAST(p.shared_grams AS DOUBLE)
           / NULLIF(CAST(LEAST(pa.n, pb.n) AS DOUBLE), 0.0))
          * 1000000.0 + 0.5) / 1000000.0 AS overlap_coeff
FROM p JOIN per pa ON pa.source = p.source_a
       JOIN per pb ON pb.source = p.source_b
""",
)
def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source redundancy matrix: for every source pair, the
    count of shared distinct word 5-grams and the overlap coefficient
    shared / min(|A|, |B|) — the dataset-card statistic that decides
    whether two sources are near-mirrors (dedup across them BEFORE
    mixing) or genuinely complementary.  Pairs sharing nothing don't
    appear (inner join).

    Scale shape: the corpus maps once through the fused in-array
    gram+digest stage keyed by SOURCE (``shingle_digest_rows`` with
    id_col='source' — digests, never gram text, on the wire) into ONE
    shuffle keyed by digest that collects each digest's deduped,
    sorted source set (<= n_sources elements; collect_set subsumes the
    incidence distinct, so no second data-sized shuffle exists).
    There is NO digest self-join at all: pairs generate IN-ROW from
    the sorted set by an indexed array transform — at most
    C(n_sources, 2) pair rows per digest by construction, never a
    join fanout — and per-source gram totals come from exploding the
    same sets (every downstream branch hangs off the one digest
    exchange; single scan runtime-pinned).  (A naive digest SELF-JOIN
    reads the table twice: the pre-join alias renames defeat exchange
    reuse — measured before this shape replaced it.)  The oracle
    replays raw grams (digest equality == gram equality, the
    decontamination family's standing md5 contract), so one hash
    certifies tokenization, gram construction, the incidence dedup,
    AND the pair fold."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.transform(
        DD.shingle_digest_rows(id_col="source", text_col="text", n=5)
    )
    bys = grams.groupBy("d").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    )
    per = (
        bys.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        bys.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (a, i) -> "
                    "transform(slice(ss, i + 2, size(ss) - i - 1), "
                    "b -> struct(a AS source_a, b AS source_b))))"
                )
            ).alias("p")
        )
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    pb = per.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared_grams").cast("long").alias("shared_grams"),
            RND(
                F.col("shared_grams").cast("double")
                / F.nullif(
                    F.least(F.col("na"), F.col("nb")).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("overlap_coeff"),
        )
    )


@query(
    "dedup_decontaminate_train",
    f"""
WITH {_ORACLE_SHINGLES5},
bm AS (
    SELECT DISTINCT u.gram
    FROM g, unnest(g.s) AS u(gram)
    WHERE g.doc_id % 97 = 0
),
contaminated AS (
    SELECT DISTINCT g.doc_id
    FROM g, unnest(g.s) AS u(gram)
    JOIN bm ON u.gram = bm.gram
    WHERE g.doc_id % 97 <> 0
)
SELECT d.doc_id
FROM d
WHERE d.doc_id % 97 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
""",
)
def dedup_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py::decontaminate):
    every 97th document plays the held-out benchmark; the remaining
    docs are the training corpus, and any training doc sharing a word
    5-gram with a benchmark doc is dropped. The synthetic corpus's
    duplicate clusters make real contamination cross the split, so the
    anti join demonstrably removes rows; the oracle replays the shingle
    overlap from raw grams (the Spark side joins on md5 digests of the
    same grams — equality of gram strings and of their digests is the
    same predicate)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    benchmark = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return DD.decontaminate(train, benchmark, n=5).select("doc_id")


@query(
    "dedup_decontaminate_bloom",
    f"""
WITH {_ORACLE_SHINGLES5},
bm AS (
    SELECT DISTINCT u.gram
    FROM g, unnest(g.s) AS u(gram)
    WHERE g.doc_id % 89 = 0
),
contaminated AS (
    SELECT DISTINCT g.doc_id
    FROM g, unnest(g.s) AS u(gram)
    JOIN bm ON u.gram = bm.gram
    WHERE g.doc_id % 89 <> 0
)
SELECT d.doc_id
FROM d
WHERE d.doc_id % 89 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
""",
)
def dedup_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination
    (operators/dedup.py::decontaminate_bloom): the oracle replays the
    EXACT shingle-overlap semantics — identical results ARE the
    operator's contract, because the Bloom relation admits no false
    negatives and the exact digest semi-join discards its false
    positives. What changes is the 100 TB shape: only the chunked
    (word, bits) Bloom relation broadcasts (64x+ smaller than the raw
    digest set), the train side never shuffles (fused shingling + k
    broadcast-hash membership probes), and the exact verify join sees
    only the bloom-positive sliver. Every 89th doc plays the held-out
    benchmark so this certifies on a different split than the exact
    operator's query (% 97)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    benchmark = docs.where(F.col("doc_id") % 89 == 0)
    train = docs.where(F.col("doc_id") % 89 != 0)
    return DD.decontaminate_bloom(
        train, benchmark, n=5, m_bits=1 << 18, k_hashes=4
    ).select("doc_id")


@query(
    "dedup_shared_span_pairs",
    r"""
WITH t AS (
    SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
),
g AS (
    SELECT doc_id, i.i AS pos,
           md5(w[i.i+1] || ' ' || w[i.i+2] || ' ' || w[i.i+3]
               || ' ' || w[i.i+4] || ' ' || w[i.i+5]) AS d
    FROM t, (SELECT unnest(range(0, (SELECT COALESCE(MAX(len(w)), 0)
                                     FROM t))) AS i) i
    WHERE len(w) >= 5 AND i.i <= len(w) - 5
),
keep AS (
    SELECT d FROM g GROUP BY d HAVING COUNT(DISTINCT doc_id) <= 64
),
m AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
    FROM g a JOIN g b USING (d) JOIN keep USING (d)
    WHERE a.doc_id < b.doc_id
),
isl AS (
    SELECT id_a, id_b, pa, pb,
        pa - ROW_NUMBER() OVER (
            PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
    FROM m
)
SELECT id_a, id_b,
    CAST(COUNT(*) + 4 AS BIGINT) AS span_tokens,
    CAST(MIN(pa) AS BIGINT) AS a_start,
    CAST(MIN(pb) AS BIGINT) AS b_start
FROM isl
GROUP BY id_a, id_b, pa - pb, grp
HAVING COUNT(*) + 4 >= 12
""",
)
def dedup_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact shared spans
    (operators/dedup.py::shared_span_pairs) — the substring-level
    dedup modality (Lee et al. 2022 use suffix arrays; here a shared
    L-token span is L-4 consecutive 5-gram digest matches on one
    (pair, pos_a-pos_b) diagonal, extracted with a gaps-and-islands
    window over candidates only). Emits one row per maximal shared
    span of >= 12 tokens, with start offsets in both docs — the rows
    a span-level deduper would cut. Doc-frequency cap 64 drops
    boilerplate grams before pairing (the hot-shingle guard; the
    oracle replays the cap). The synthetic corpus's duplicate
    clusters guarantee real cross-doc spans at every SF."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return DD.shared_span_pairs(
        docs, n=5, min_span_tokens=12, max_doc_freq=64
    )


@query(
    "dedup_edit_distance_pairs",
    """
WITH blocked AS (
    SELECT doc_id, text, substr(text, 1, 1) AS c1, bk
    FROM documents,
         UNNEST([length(text) // 16, length(text) // 16 + 1]) AS u(bk)
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.text AS ta, b.text AS tb
    FROM blocked a JOIN blocked b ON a.bk = b.bk AND a.c1 = b.c1
    WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS INTEGER) AS edit_dist
FROM cand
WHERE levenshtein(ta, tb) <= 8
""",
)
def dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level (Levenshtein) near-dup pairs
    (operators/dedup.py::edit_distance_pairs): the fuzzy-match dedup
    modality — catches typo/OCR/single-word variants that token-set
    methods under-weigh.  Candidates come from overlapping length
    buckets (every pair within distance 8 differs by <= 8 chars, so
    the two-bucket probe cannot miss on length) keyed with the first
    character; the O(len^2) verify runs only inside blocks and
    short-circuits at the threshold.  The oracle replays blocking and
    distance exactly (Levenshtein is well-defined — both engines agree
    integer-for-integer)."""
    from rentals_data_pipeline_spark.operators.dedup import edit_distance_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = docs.transform(edit_distance_pairs())
    return out.select("id_a", "id_b", F.col("edit_dist").cast("int"))


@query(
    "dedup_normalized_documents",
    r"""
WITH n AS (
    SELECT doc_id,
        md5(trim(regexp_replace(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
            ' +', ' ', 'g'))) AS norm_fp
    FROM documents
),
r AS (
    SELECT doc_id, norm_fp,
        ROW_NUMBER() OVER (PARTITION BY norm_fp ORDER BY doc_id) AS rn,
        COUNT(*) OVER (PARTITION BY norm_fp) AS n_variants
    FROM n
)
SELECT doc_id, norm_fp, (rn = 1) AS is_kept,
    CAST(n_variants AS BIGINT) AS n_variants
FROM r
""",
)
def dedup_normalized_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: lowercase, strip non-
    alphanumerics, collapse whitespace, md5 — the canonicalization
    pass that catches trivially-reformatted copies (case, punctuation,
    spacing) raw byte-exact dedup misses, while staying cheaper than
    MinHash. Keep-first per normalized fingerprint (deterministic:
    smallest doc_id), variant count attached. One shuffle keyed on the
    32-byte digest (WindowGroupLimit-eligible), normalization itself
    is codegen regex in the scan stage."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.lower(F.col("text")), "[^a-z0-9 ]", " "
                ),
                " +",
                " ",
            )
        )
    )
    from pyspark.sql import Window as W6

    w = W6.partitionBy("norm_fp").orderBy("doc_id")
    return (
        docs.select("doc_id", norm.alias("norm_fp"))
        .select(
            "doc_id",
            "norm_fp",
            (F.row_number().over(w) == 1).alias("is_kept"),
            F.count(F.lit(1))
            .over(W6.partitionBy("norm_fp"))
            .cast("long")
            .alias("n_variants"),
        )
    )


@query(
    "dedup_split_leakage_audit",
    """
WITH s AS (
    SELECT doc_id,
        md5(array_to_string(
            list_sort(list_distinct(string_split_regex(text, '\\s+'))),
            ' ')) AS fp,
        CASE WHEN (('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)),
                    1, 8))::BIGINT % 10000) < 8000 THEN 'train'
             WHEN (('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)),
                    1, 8))::BIGINT % 10000) < 9000 THEN 'val'
             ELSE 'test' END AS split
    FROM documents
),
g AS (
    SELECT fp,
        COUNT(*) AS n_docs,
        COUNT(DISTINCT split) AS n_splits,
        SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
        SUM(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) AS n_eval
    FROM s GROUP BY 1
)
SELECT fp,
    CAST(n_docs AS BIGINT) AS n_docs,
    CAST(n_train AS BIGINT) AS n_train,
    CAST(n_eval AS BIGINT) AS n_eval
FROM g
WHERE n_splits > 1 AND n_train > 0 AND n_eval > 0
""",
)
def dedup_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit: near-duplicate documents (same
    bag-of-words fingerprint — the certified near-dup signature of
    pipeline_corpus_curation) whose copies landed on BOTH sides of the
    split — the eval-hygiene check
    that must run AFTER splitting (deduping before splitting prevents
    it; this query verifies, or quantifies the damage when dedup was
    skipped). Reuses the certified deterministic hash split and the
    exact content fingerprint; one digest-keyed count shuffle, then
    the leak filter. Every flagged fingerprint is a benchmark answer
    sitting in the training set."""
    from rentals_data_pipeline_spark.operators import sampling as SP2

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bow = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.col("text"), r"\s+"))),
            " ",
        )
    )
    s = docs.transform(
        SP2.train_val_test_split("doc_id", (0.8, 0.1, 0.1))
    ).select("doc_id", bow.alias("fp"), "split")
    g = s.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("split").alias("n_splits"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "n_train"
        ),
        F.sum(F.when(F.col("split") != "train", 1).otherwise(0)).alias(
            "n_eval"
        ),
    )
    return g.where(
        (F.col("n_splits") > 1)
        & (F.col("n_train") > 0)
        & (F.col("n_eval") > 0)
    ).select(
        "fp",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_train").cast("long").alias("n_train"),
        F.col("n_eval").cast("long").alias("n_eval"),
    )


@query(
    "dedup_span_rewrite_documents",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
raw AS (
    SELECT doc_id, i AS pos, ws[i] AS word
    FROM t, UNNEST(generate_series(1, len(ws))) AS u(i)
    WHERE ws[i] <> ''
),
w AS (
    SELECT doc_id, word,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS fpos
    FROM raw
),
s AS (
    SELECT doc_id, CAST((fpos - 1) // 8 AS BIGINT) AS g,
           string_agg(word, ' ' ORDER BY fpos) AS span
    FROM w GROUP BY doc_id, 2
),
r AS (
    SELECT doc_id, g, span,
           ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, g) AS rn
    FROM s
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY g),
                '') AS new_text
FROM r GROUP BY doc_id
""",
)
def dedup_span_rewrite_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style corpus span dedup with rewrite: delete every
    8-word span instance that is not the globally first occurrence of
    its content and reassemble each document from the survivors
    (operators/dedup.py::span_dedup_rewrite — span-first array ops, no
    token explode; three natural-key shuffles). The oracle replays the
    identical (doc_id, span index) first-occurrence order token by
    token, so a hash match certifies the span chunking, the keep-first
    rule, AND the reassembly order."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.transform(DD.span_dedup_rewrite("doc_id", "text", 8))


@query(
    "dedup_contamination_report",
    f"""
WITH {_ORACLE_SHINGLES5},
tr AS (
    SELECT * FROM g
    WHERE doc_id % 83 <> 0 AND doc_id % 89 <> 0 AND doc_id % 97 <> 0
),
tn AS (
    SELECT COUNT(*) AS n_train FROM d
    WHERE doc_id % 83 <> 0 AND doc_id % 89 <> 0 AND doc_id % 97 <> 0
),
bm83 AS (SELECT DISTINCT u.gram FROM g, unnest(g.s) AS u(gram)
         WHERE g.doc_id % 83 = 0),
bm89 AS (SELECT DISTINCT u.gram FROM g, unnest(g.s) AS u(gram)
         WHERE g.doc_id % 89 = 0),
bm97 AS (SELECT DISTINCT u.gram FROM g, unnest(g.s) AS u(gram)
         WHERE g.doc_id % 97 = 0),
c83 AS (SELECT COUNT(DISTINCT tr.doc_id) AS n
        FROM tr, unnest(tr.s) AS u(gram) JOIN bm83 ON u.gram = bm83.gram),
c89 AS (SELECT COUNT(DISTINCT tr.doc_id) AS n
        FROM tr, unnest(tr.s) AS u(gram) JOIN bm89 ON u.gram = bm89.gram),
c97 AS (SELECT COUNT(DISTINCT tr.doc_id) AS n
        FROM tr, unnest(tr.s) AS u(gram) JOIN bm97 ON u.gram = bm97.gram),
b83 AS (SELECT COUNT(*) AS nb FROM d WHERE doc_id % 83 = 0),
b89 AS (SELECT COUNT(*) AS nb FROM d WHERE doc_id % 89 = 0),
b97 AS (SELECT COUNT(*) AS nb FROM d WHERE doc_id % 97 = 0)
SELECT 'suite_83' AS suite,
    CAST(b83.nb AS BIGINT) AS n_benchmark_docs,
    CAST(tn.n_train AS BIGINT) AS n_train_docs,
    CAST(c83.n AS BIGINT) AS n_contaminated,
    FLOOR((CAST(c83.n AS DOUBLE) / CAST(tn.n_train AS DOUBLE))
          * 10000.0 + 0.5) / 10000.0 AS contamination_rate
FROM b83, c83, tn
UNION ALL
SELECT 'suite_89',
    CAST(b89.nb AS BIGINT), CAST(tn.n_train AS BIGINT),
    CAST(c89.n AS BIGINT),
    FLOOR((CAST(c89.n AS DOUBLE) / CAST(tn.n_train AS DOUBLE))
          * 10000.0 + 0.5) / 10000.0
FROM b89, c89, tn
UNION ALL
SELECT 'suite_97',
    CAST(b97.nb AS BIGINT), CAST(tn.n_train AS BIGINT),
    CAST(c97.n AS BIGINT),
    FLOOR((CAST(c97.n AS DOUBLE) / CAST(tn.n_train AS DOUBLE))
          * 10000.0 + 0.5) / 10000.0
FROM b97, c97, tn
""",
)
def dedup_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity dataset card: per benchmark SUITE, how much of
    the training corpus shares a word 5-gram with it — the
    contamination table a release audit publishes alongside the
    decontaminated corpus (the removal itself is
    dedup_decontaminate_train / the streaming Bloom gate; this is the
    multi-suite MEASUREMENT over the same digest machinery). Three
    deterministic slices play held-out suites (doc_id % 83/89/97 = 0);
    train = docs in none of them.

    Scale shape (r12 single-digest rewrite): the training corpus is
    shingled + digested exactly ONCE — one subtree, one scan — and
    probed by ONE broadcast holding all three suites' digest slivers
    tagged with their suite name (an inner join adds the tag, so one
    pass over the train gram stream answers every suite; train never
    shuffles for the membership test, only the (suite, doc_id) sliver
    reaches the count-distinct). The suite slivers themselves come
    from one scan of the union of benchmarks (suite tags exploded from
    a per-doc membership array), and every per-suite/train count comes
    from one conditional aggregate over one scan — 3 scans of
    ``documents`` total, vs the previous per-suite shape whose
    dominant 100 TB cost (the train digest pass) ran once per suite.
    At 100 TB the suite-partitioned decon index
    (add_benchmark_to_decon_index) supplies the same tagged slivers
    without recomputing them."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    suites = (("suite_83", 83), ("suite_89", 89), ("suite_97", 97))
    in_suite = {
        name: F.col("doc_id") % p == 0 for name, p in suites
    }
    train_pred = None
    for name, _ in suites:
        c = ~in_suite[name]
        train_pred = c if train_pred is None else (train_pred & c)
    # one scan: every headcount in a single conditional aggregate
    counts = docs.agg(
        *[
            F.coalesce(
                F.sum(in_suite[name].cast("long")), F.lit(0).cast("long")
            ).alias(f"nb_{name}")
            for name, _ in suites
        ],
        F.coalesce(
            F.sum(train_pred.cast("long")), F.lit(0).cast("long")
        ).alias("n_train_docs"),
    )
    stack_args = ", ".join(
        f"'{name}', nb_{name}" for name, _ in suites
    )
    bench_counts = counts.select(
        F.expr(
            f"stack({len(suites)}, {stack_args})"
            " as (suite, n_benchmark_docs)"
        ),
        "n_train_docs",
    )
    # one scan: train digests ONCE (the dominant cost term at scale)
    train_grams = docs.where(train_pred).transform(DD.shingle_digest_rows())
    # one scan: all suite slivers, tagged — a doc in two suites (rare:
    # doc_id divisible by two of the primes) digests once per tag,
    # which is benchmark-sized work either way
    any_suite = None
    for name, _ in suites:
        any_suite = (
            in_suite[name]
            if any_suite is None
            else (any_suite | in_suite[name])
        )
    tagged = docs.where(any_suite).select(
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.when(in_suite[name], F.lit(name))
                        for name, _ in suites
                    ]
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("suite"),
        "doc_id",
        "text",
    )
    suite_digests = (
        tagged.transform(DD.shingle_digest_rows(id_col="suite"))
        .distinct()  # (suite, d)
    )
    # one probe: the tagged sliver broadcasts, the inner join adds the
    # suite label, and one groupBy answers all three suites
    contaminated = (
        train_grams.join(F.broadcast(suite_digests), "d")
        .select("suite", "doc_id")
        .distinct()
        .groupBy("suite")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    return (
        bench_counts.join(contaminated, "suite", "left")
        .select(
            "suite",
            "n_benchmark_docs",
            "n_train_docs",
            F.coalesce("n_contaminated", F.lit(0).cast("long")).alias(
                "n_contaminated"
            ),
            RND(
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.nullif(F.col("n_train_docs"), F.lit(0)).cast("double"),
                4,
            ).alias("contamination_rate"),
        )
    )

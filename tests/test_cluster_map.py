"""Materialized near-dup cluster-map tests (r13 verdict #1).

The full LSH chain (shingle → minhash → band join → CC fixpoint) is
the dedup workload's dominant cost; the cluster map persists its
result ONCE so the three cluster reports become cheap probes. These
tests pin (a) the map's contents against the inline chain, (b) the
persisted layout + guards, and (c) the probes' equality with their
standalone oracle-certified twins — including the runtime guarantee
that the probes never re-shingle the corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import rentals_data_pipeline_spark.operators.dedup as DD
from rentals_data_pipeline_spark import metrics as M
from rentals_data_pipeline_spark.plans import catalog
from rentals_data_pipeline_spark.plans import dedup_queries as DQ
from rentals_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

# two hand-planted clusters ({1,2,3} via identical/near text, {5,6})
# plus singletons that must be ABSENT from the map
CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog today"),
    (3, "the quick brown fox jumps over the lazy dog tonight"),
    (4, "completely unrelated words occupy this document here now"),
    (5, "pack my box with five dozen liquor jugs again"),
    (6, "pack my box with five dozen liquor jugs again"),
]


def _docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def test_cluster_map_matches_inline_chain(spark):
    got = sorted(
        (r.doc_id, r.cluster_id, r.sz)
        for r in DD.cluster_map(_docs(spark)).collect()
    )
    pairs = _docs(spark).transform(DD.minhash_near_dup_pairs(threshold=0.5))
    cc = {
        r.id: r.cluster_id
        for r in DD.connected_components(pairs, driver_bound=1).collect()
    }
    sizes: dict = {}
    for cid in cc.values():
        sizes[cid] = sizes.get(cid, 0) + 1
    want = sorted((i, cid, sizes[cid]) for i, cid in cc.items())
    assert got == want
    # the hand-planted shape: 1/2 (and likely 3) cluster to min-id 1,
    # 5/6 cluster to 5; singleton 4 is absent
    by_id = {i: (cid, sz) for i, cid, sz in got}
    assert by_id[1][0] == 1 and by_id[2][0] == 1
    assert by_id[5] == (5, 2) and by_id[6] == (5, 2)
    assert 4 not in by_id


def test_write_read_roundtrip_layout_and_guard(spark, tmp_path):
    path = str(tmp_path / "cmap")
    DD.write_cluster_map(_docs(spark), path)
    back = sorted(
        (r.doc_id, r.cluster_id, r.sz)
        for r in DD.read_cluster_map(spark, path).collect()
    )
    want = sorted(
        (r.doc_id, r.cluster_id, r.sz)
        for r in DD.cluster_map(_docs(spark)).collect()
    )
    assert back == want and back
    # hive layout: kb=<bucket> dirs + the bucket-count marker
    assert list((tmp_path / "cmap" / "map").glob("kb=*"))
    assert (tmp_path / "cmap" / "map_meta" / "n_buckets=16").is_dir()
    # a probe under a different constant must fail fast, not mis-prune
    with pytest.raises(ValueError, match="n_buckets"):
        DD.read_cluster_map(spark, path, n_buckets=64)


def test_write_cluster_map_empty_corpus(spark, tmp_path):
    path = str(tmp_path / "cmap")
    empty = spark.createDataFrame([], "doc_id long, text string")
    DD.write_cluster_map(empty, path)
    out = DD.read_cluster_map(spark, path)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "cluster_id", "sz"]


PROBE_PAIRS = [
    ("dedup_duplicate_clusters_probe", "dedup_duplicate_clusters"),
    ("dedup_cluster_size_histogram_probe", "dedup_cluster_size_histogram"),
    ("dedup_soft_dedup_weights_probe", "dedup_soft_dedup_weights"),
]


def test_probe_queries_equal_standalone(spark):
    """Each probe must reproduce its standalone twin row-for-row at
    sf0.001 (the twins' oracles certify against DuckDB; this pins
    probe ≡ standalone so the shared oracle string is honest), and the
    probes pass the IDENTICAL oracle text."""
    DQ._CLUSTER_MAP_DIRS.clear()  # force a fresh build for this corpus
    for probe, standalone in PROBE_PAIRS:
        assert catalog.ORACLE_SQL[probe] == catalog.ORACLE_SQL[standalone]
        got = sorted(
            tuple(r) for r in catalog.QUERIES[probe](spark, SF_DIR).collect()
        )
        want = sorted(
            tuple(r)
            for r in catalog.QUERIES[standalone](spark, SF_DIR).collect()
        )
        assert got == want, probe


def test_probes_never_reshingle_the_corpus(spark):
    """The whole point of the map: once built, the three reports pay
    map-read cost, not chain cost. Runtime pin via input_records —
    duplicate-clusters and size-histogram read ONLY map rows (zero
    corpus rows), soft-dedup reads the corpus exactly once (for
    (doc_id, source)) plus map rows."""
    DQ._CLUSTER_MAP_DIRS.clear()
    DQ._cluster_map_frame(spark, SF_DIR)  # build outside the window
    n_docs = load_table(spark, SF_DIR, "documents").count()
    n_map = DQ._cluster_map_frame(spark, SF_DIR).count()
    expected = {
        "dedup_duplicate_clusters_probe": n_map,
        "dedup_cluster_size_histogram_probe": n_map,
        "dedup_soft_dedup_weights_probe": n_docs + n_map,
    }
    for name, want in expected.items():
        _, stats = M.run_measured(
            spark, lambda: catalog.QUERIES[name](spark, SF_DIR)
        )
        assert stats["input_records"] == want, (name, stats)


def test_point_probe_prunes_kb_directories(spark, tmp_path):
    """The point lookup must push the probe ids' hash buckets as a
    PARTITION filter (directory pruning, the LSH-band-gate
    discipline), return singletons for unclustered ids, and equal the
    unpruned full-map lookup row-for-row."""
    path = str(tmp_path / "cmap")
    DD.write_cluster_map(_docs(spark), path)
    probes = spark.createDataFrame([(1,), (4,), (999,)], "doc_id long")
    out = DD.probe_cluster_map(spark, path, probes)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "kb" in pf, plan
    got = sorted((r.doc_id, r.cluster_id, r.sz) for r in out.collect())
    # clustered probe resolves; unclustered (4) and unknown (999) are
    # their own singletons — the lookup is total over the probe set
    assert got[0][0] == 1 and got[0][2] >= 2
    assert (4, 4, 1) in got and (999, 999, 1) in got
    # pruned ≡ full: the same lookup joined against the unpruned map
    full = sorted(
        (r.doc_id, r.cluster_id, r.sz)
        for r in probes.join(
            DD.read_cluster_map(spark, path), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            F.coalesce(F.col("sz"), F.lit(1)).cast("long").alias("sz"),
        )
        .collect()
    )
    assert got == full


def test_point_probe_int_typed_ids_hash_like_longs(spark, tmp_path):
    """Review pass 1: Murmur3 hashes int 7 and long 7 to DIFFERENT
    values, so an int-typed probe column must be long-cast before the
    kb computation — otherwise every clustered probe prunes to the
    wrong directory and comes back a fabricated singleton."""
    path = str(tmp_path / "cmap")
    DD.write_cluster_map(_docs(spark), path)
    probes_int = spark.createDataFrame([(1,), (5,)], "doc_id int")
    got = {
        r.doc_id: (r.cluster_id, r.sz)
        for r in DD.probe_cluster_map(spark, path, probes_int).collect()
    }
    assert got[1][1] >= 2 and got[5] == (5, 2)


def test_refresh_to_empty_clears_stale_map(spark, tmp_path):
    """Review pass 1: refreshing an existing map from a corpus with no
    clusters must clear ALL old kb dirs — a kb=0-only overwrite would
    leave up to 15/16 of the previous build serving stale rows."""
    path = str(tmp_path / "cmap")
    DD.write_cluster_map(_docs(spark), path)
    assert DD.read_cluster_map(spark, path).count() > 0
    empty = spark.createDataFrame([], "doc_id long, text string")
    DD.write_cluster_map(empty, path)
    assert DD.read_cluster_map(spark, path).count() == 0


def test_point_probe_empty_probe_set(spark, tmp_path):
    """No probe ids → no kb values → the probe must return empty
    without scanning anything (the isin([]) guard), not error."""
    path = str(tmp_path / "cmap")
    DD.write_cluster_map(_docs(spark), path)
    empty = spark.createDataFrame([], "doc_id long")
    assert DD.probe_cluster_map(spark, path, empty).count() == 0


def test_build_query_always_rebuilds(spark, tmp_path):
    """dedup_cluster_map_build is the pipeline's refresh step: it must
    not serve a stale cache (an ingest between builds would otherwise
    go unseen by every probe)."""
    DQ._CLUSTER_MAP_DIRS.clear()
    catalog.QUERIES["dedup_cluster_map_build"](spark, SF_DIR).collect()
    first = DQ._CLUSTER_MAP_DIRS[__import__("os").path.abspath(SF_DIR)]
    catalog.QUERIES["dedup_cluster_map_build"](spark, SF_DIR).collect()
    second = DQ._CLUSTER_MAP_DIRS[__import__("os").path.abspath(SF_DIR)]
    assert first != second

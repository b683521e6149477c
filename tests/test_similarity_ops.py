"""Unit + golden tests for the similarity-search operators."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.operators import similarity as SIM
from rentals_data_pipeline_spark.plans import similarity_queries as SQ

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


def test_cosine_kernel_golden(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]), ([1.0, 0.0], [0.0, 1.0])],
        ["a", "b"],
    )
    vals = [r[0] for r in df.select(SIM.cosine(F.col("a"), F.col("b"))).collect()]
    assert vals[0] == pytest.approx(1 / math.sqrt(2))
    assert vals[1] == pytest.approx(1.0)
    assert vals[2] == pytest.approx(0.0)


def test_cosine_zero_norm_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], ["a", "b"])
    assert df.select(SIM.cosine(F.col("a"), F.col("b"))).collect()[0][0] is None


def test_brute_force_topk(spark):
    probes = spark.createDataFrame(
        [(0, [1.0, 0.0])], ["probe_id", "probe_vec"]
    )
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.1]),    # nearly parallel -> best
            (2, [1.0, 1.0]),    # 45 deg
            (3, [0.0, 1.0]),    # orthogonal
            (4, [-1.0, 0.0]),   # opposite
        ],
        ["match_id", "match_vec"],
    )
    rows = SIM.brute_force_topk(probes, corpus, k=2).orderBy(F.desc("cosine")).collect()
    assert [r["match_id"] for r in rows] == [1, 2]
    assert rows[0]["cosine"] == pytest.approx(0.995, abs=1e-3)


def test_brute_force_topk_kernels_agree(spark):
    """The GEMM kernel reproduces the DuckDB fold oracle of
    ``sim_cosine_topk`` at sf0.001: the same rounded frontier, compared
    by the order-insensitive value hash of tools/check_oracle.py."""
    import duckdb

    import __spark_entry__  # noqa: F401 — populates the catalog registry
    from rentals_data_pipeline_spark.plans.catalog import ORACLE_SQL
    from rentals_data_pipeline_spark.sources.tables import load_table
    from tools.check_oracle import value_hash

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("match_vec")
    )
    got = SIM.brute_force_topk(probes, corpus, k=5)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    res = con.execute(ORACLE_SQL["sim_cosine_topk"])
    want = res.fetchall()
    assert len(want) == 50
    assert value_hash(
        [tuple(r) for r in got.collect()], got.columns
    ) == value_hash(want, [d[0] for d in res.description])


def test_topk_gemm_small_batches_prune_correctly(spark):
    """Per-batch top-k pre-pruning must not change the global frontier:
    force many tiny Arrow batches so the top-k for each probe is
    scattered across batches, and compare against the default batch
    size."""
    from rentals_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("match_vec"),
    ).repartition(8)

    def topk() -> list:
        return sorted(
            map(tuple, SIM.brute_force_topk(probes, corpus, k=5).collect())
        )

    default = topk()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        tiny = topk()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert tiny == default
    assert len(default) == 50


def test_topk_gemm_probe_blocking(spark):
    """Chunking the probe matrix into bounded blocks (the 100×-scale
    driver-memory fix) must be invisible in the result: a 3-vector
    block size that forces many blocks reproduces the single-block
    frontier exactly."""
    from rentals_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("match_vec")
    )
    assert probes.count() > 3  # multi-block is actually exercised
    blocked = sorted(
        map(
            tuple,
            SIM.brute_force_topk(
                probes, corpus, k=5, probe_block_size=3
            ).collect(),
        )
    )
    single = sorted(
        map(
            tuple,
            SIM.brute_force_topk(probes, corpus, k=5).collect(),
        )
    )
    assert blocked == single


def test_embedding_curation_strategies_agree(spark):
    """The flagship's two pair strategies (exact GEMM vs SRP-LSH) must
    produce the same curated corpus at this threshold — the property
    that lets the SRP variant certify against the same oracle."""
    gemm = sorted(
        map(tuple, SQ.embedding_curation(spark, SF_DIR, "gemm").collect())
    )
    srp = sorted(
        map(tuple, SQ.embedding_curation(spark, SF_DIR, "srp").collect())
    )
    assert gemm == srp
    assert len(gemm) > 0
    with pytest.raises(ValueError):
        SQ.embedding_curation(spark, SF_DIR, "bogus")


def test_topk_gemm_empty_probes(spark):
    probes = spark.createDataFrame([], "probe_id long, probe_vec array<float>")
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "match_id long, match_vec array<float>"
    )
    assert SIM.brute_force_topk(probes, corpus, k=3).count() == 0


def test_similarity_kernels_ignore_null_vectors(spark):
    """NULL embeddings (failed embedder rows — routine at corpus scale)
    must be dropped, not abort the numpy stage."""
    probes = spark.createDataFrame(
        [(0, [1.0, 0.0]), (9, None)], "probe_id long, probe_vec array<double>"
    )
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, None), (3, [0.0, 1.0])],
        "match_id long, match_vec array<double>",
    )
    rows = SIM.brute_force_topk(probes, corpus, k=2).collect()
    assert sorted(r["match_id"] for r in rows) == [1, 3]
    assert all(r["probe_id"] == 0 for r in rows)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, None), (3, [1.0, 0.2])],
        "vec_id long, embedding array<double>",
    )
    pairs = SIM.all_pairs_cosine_pairs(emb, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 3)]
    ivf = SIM.ivf_topk(probes, corpus, k=2, n_cells=2, n_probe=2).collect()
    assert sorted({r["match_id"] for r in ivf}) == [1, 3]


def test_srp_near_dup_matches_exact(spark):
    """Composed SRP near-dup path reproduces the exact all-pairs result
    at sf0.001 (recall certified by construction of the banding)."""
    from rentals_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = sorted(
        map(
            tuple,
            SIM.all_pairs_cosine_pairs(
                emb, "vec_id", "embedding", threshold=0.4
            ).collect(),
        )
    )
    srp = sorted(
        map(
            tuple,
            SIM.srp_near_dup_pairs(
                emb, "vec_id", "embedding", threshold=0.4, n_planes=64, rows_per_band=2
            ).collect(),
        )
    )
    assert srp == exact
    assert len(exact) > 0


def test_srp_candidates_empty_corpus(spark):
    """Empty (or all-null-vector) corpus: dimension probe returns None;
    the operator must return an empty pairs frame, not crash."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    empty = spark.createDataFrame([], schema)
    assert SIM.srp_lsh_candidate_pairs(empty, "vec_id", "embedding").count() == 0
    allnull = spark.createDataFrame([(1, None), (2, None)], schema)
    assert SIM.srp_lsh_candidate_pairs(allnull, "vec_id", "embedding").count() == 0


def test_deterministic_planes_stable():
    p1 = SIM.deterministic_planes(2, 4)
    p2 = SIM.deterministic_planes(2, 4)
    assert p1 == p2
    assert all(-7.5 <= c <= 7.5 for row in p1 for c in row)
    # different seeds decorrelate
    assert SIM.deterministic_planes(2, 4, seed="x") != p1


def test_srp_lsh_recall_golden(spark):
    """Pins the deterministic SRP-LSH recall stats at sf0.001 (md5
    hyperplanes, no RNG — any change means the family changed)."""
    r = SQ.sim_srp_lsh_recall(spark, SF_DIR).collect()[0]
    assert r["true_pairs"] == 66
    assert r["candidate_pairs"] == 8752
    assert r["hits"] == 19
    assert r["recall"] == pytest.approx(0.2879)


def test_ivf_topk_recall_golden(spark):
    """IVF@(16 cells, 4 probed) vs exact top-5 at sf0.001: pins the
    deterministic recall. n_probe = n_cells must reproduce the exact
    answer (every cell searched)."""
    exact = {
        (r.probe_id, r.match_id)
        for r in SQ.sim_cosine_topk(spark, SF_DIR).collect()
    }
    approx = {
        (r.probe_id, r.match_id)
        for r in SQ.sim_ivf_topk(spark, SF_DIR).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert len(exact) == 50
    assert 0.3 <= recall <= 1.0  # far-pair synthetic corpus; see SRP note
    # exhaustive probing == brute force
    from rentals_data_pipeline_spark.operators import similarity as S
    from rentals_data_pipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as FF

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.where(FF.col("vec_id") % 50 == 0).select(
        FF.col("vec_id").alias("probe_id"), FF.col("embedding").alias("probe_vec")
    )
    corpus = emb.select(
        FF.col("vec_id").alias("match_id"), FF.col("embedding").alias("match_vec")
    )
    full = {
        (r.probe_id, r.match_id)
        for r in S.ivf_topk(probes, corpus, k=5, n_cells=8, n_probe=8).collect()
    }
    assert full == exact


def test_kmeans_refine_centroids_contract(spark):
    """One Lloyd iteration: every returned centroid equals the
    elementwise mean of the vectors assigned to it under the PREVIOUS
    centroids; empty cells keep their old centroid; the refinement is
    deterministic."""
    import numpy as np

    # two tight clusters around (1,0) and (0,1); init centroids near
    # each, plus one far-away centroid that captures nothing
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.1]),
            (2, [1.0, -0.1]),
            (3, [0.1, 1.0]),
            (4, [-0.1, 1.0]),
        ],
        "match_id long, match_vec array<double>",
    )
    init = [[1.0, 0.0], [0.0, 1.0], [-1.0, -1.0]]
    out = SIM.kmeans_refine_centroids(corpus, init, 1, "match_vec")
    np.testing.assert_allclose(out[0], [1.0, 0.0])   # mean of (1,.1),(1,-.1)
    np.testing.assert_allclose(out[1], [0.0, 1.0])   # mean of (.1,1),(-.1,1)
    assert out[2] == [-1.0, -1.0]                    # empty cell retained
    assert SIM.kmeans_refine_centroids(corpus, init, 1, "match_vec") == out


def test_ivf_refine_iters_still_returns_topk(spark):
    """The refined path produces a valid top-k frame (k rows per probe
    present in the corpus) and stays deterministic."""
    from rentals_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("match_vec")
    )
    a = sorted(map(tuple, SIM.ivf_topk(probes, corpus, k=5, n_cells=8, n_probe=2, refine_iters=2).collect()))
    b = sorted(map(tuple, SIM.ivf_topk(probes, corpus, k=5, n_cells=8, n_probe=2, refine_iters=2).collect()))
    assert a == b and len(a) > 0
    per_probe = {}
    for pid, mid, cos in a:
        per_probe.setdefault(pid, set()).add(mid)
    assert all(len(v) == 5 for v in per_probe.values())


def test_ivf_topk_shuffled_probe_path_matches_broadcast(spark):
    """The non-broadcast probe routing (the large-probe-set scale path)
    must return the identical result."""
    from rentals_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("match_vec")
    )
    kw = dict(k=5, n_cells=8, n_probe=3)
    bc = sorted(map(tuple, SIM.ivf_topk(probes, corpus, **kw).collect()))
    sh = sorted(
        map(
            tuple,
            SIM.ivf_topk(probes, corpus, broadcast_probes=False, **kw).collect(),
        )
    )
    assert bc == sh and len(bc) > 0


def test_plan_srp_geometry_s_curve():
    """Planner honors the S-curve: miss ≤ target, planes ≤ cap, and
    pruning power (candidate fraction) improves as the threshold
    rises — far-pair thresholds can't prune, near-dup ones can."""
    prev_cand = None
    for t in (0.2, 0.4, 0.6, 0.8, 0.9, 0.95):
        g = SIM.plan_srp_geometry(t, target_miss=1e-8, max_planes=512)
        assert g.expected_miss <= 1e-8
        assert g.n_planes <= 512
        assert g.n_planes == g.n_bands * g.rows_per_band
        if prev_cand is not None:
            assert g.candidate_fraction <= prev_cand + 1e-12
        prev_cand = g.candidate_fraction
    with pytest.raises(ValueError):
        SIM.plan_srp_geometry(1.5)


def test_plan_pair_strategy_crossover():
    """Cost model routes far-pair thresholds to exact GEMM and
    production near-dup thresholds to SRP-LSH."""
    assert SIM.plan_pair_strategy(0.4)[0] == "gemm"
    assert SIM.plan_pair_strategy(0.2)[0] == "gemm"
    assert SIM.plan_pair_strategy(0.9)[0] == "srp"
    assert SIM.plan_pair_strategy(0.95)[0] == "srp"
    # production miss tolerance moves the crossover left
    assert SIM.plan_pair_strategy(0.8, target_miss=1e-3)[0] == "srp"


def test_tuned_srp_matches_exact_at_high_threshold(spark):
    """Planner-sized SRP equals the exact path in the regime LSH is
    built for: a corpus with genuine near-duplicates at cosine ≥ 0.9."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 4 == 0:  # a near-dup twin: small perturbation
            w = v + 0.05 * rng.randn(16)
            rows.append((1000 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = sorted(
        map(
            tuple,
            SIM.all_pairs_cosine_pairs(
                df, "vec_id", "embedding", threshold=0.9
            ).collect(),
        )
    )
    tuned = sorted(
        map(
            tuple,
            SIM.srp_near_dup_pairs(
                df, "vec_id", "embedding", threshold=0.9
            ).collect(),
        )
    )
    adaptive = sorted(
        map(
            tuple,
            SIM.adaptive_near_dup_pairs(
                df, "vec_id", "embedding", threshold=0.9
            ).collect(),
        )
    )
    assert len(exact) >= 10  # the twins qualify
    assert tuned == exact
    assert adaptive == exact  # planner routes 0.9 to srp; same answer


def test_embedding_curation_auto_agrees(spark):
    """pair_strategy="auto" (the new default) produces the identical
    curated corpus — the planner's choice is a physical-plan decision,
    never a semantic one."""
    auto = sorted(
        map(tuple, SQ.embedding_curation(spark, SF_DIR, "auto").collect())
    )
    gemm = sorted(
        map(tuple, SQ.embedding_curation(spark, SF_DIR, "gemm").collect())
    )
    assert auto == gemm and len(auto) > 0


def test_srp_near_dup_geometry_args():
    with pytest.raises(ValueError):
        SIM.srp_near_dup_pairs(None, threshold=0.5, n_planes=64)


def test_ivf_hot_cell_guard_bounds_work(spark):
    """On a pathologically skewed corpus (every vector in one
    direction → one hot cell), max_cell_size bounds per-probe
    candidate work at n_probe × max_cell_size, the survivors are an
    unbiased hash sample, and recall degrades gracefully instead of
    the guard silently scanning the whole cell."""
    import numpy as np

    rng = np.random.RandomState(11)
    base = np.abs(rng.randn(8)) + 1.0  # strictly positive direction
    corpus_rows = [
        (i, [float(x) for x in base + 0.01 * rng.randn(8)])
        for i in range(200)
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "match_id long, match_vec array<float>"
    )
    probes = spark.createDataFrame(
        [(0, [float(x) for x in base])], "probe_id long, probe_vec array<float>"
    )
    # k ≫ cap: the output size IS the candidate count
    unguarded = SIM.ivf_topk(
        probes, corpus, k=1000, n_cells=8, n_probe=2
    ).collect()
    guarded = SIM.ivf_topk(
        probes, corpus, k=1000, n_cells=8, n_probe=2, max_cell_size=20
    ).collect()
    assert len(unguarded) > 2 * 20  # the skew really concentrates
    assert len(guarded) <= 2 * 20   # bounded per-probe work
    # guard only trims: every guarded candidate exists unguarded
    assert {r["match_id"] for r in guarded} <= {
        r["match_id"] for r in unguarded
    }
    # deterministic: same sample on re-run
    again = SIM.ivf_topk(
        probes, corpus, k=1000, n_cells=8, n_probe=2, max_cell_size=20
    ).collect()
    assert sorted(map(tuple, guarded)) == sorted(map(tuple, again))
    # recall golden: with cap 20 on a ~200-vector hot cell the top-5
    # of the guarded search still returns 5 strong candidates
    top5 = SIM.ivf_topk(
        probes, corpus, k=5, n_cells=8, n_probe=2, max_cell_size=20
    ).collect()
    assert len(top5) == 5 and all(r["cosine"] > 0.99 for r in top5)


def test_ivf_index_split_equals_monolithic(spark):
    """ivf_topk == ivf_index + ivf_probe on real embeddings (the
    serving split must not change a single result row), and the probe
    path works off a PERSISTED, cell-partitioned index."""
    from rentals_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("match_vec")
    )
    direct = sorted(
        map(tuple, SIM.ivf_topk(probes, corpus, k=3, n_cells=8, n_probe=3).collect())
    )
    cents, cells = SIM.ivf_index(corpus, n_cells=8)
    via_index = sorted(
        map(tuple, SIM.ivf_probe(probes, cents, cells, k=3, n_probe=3).collect())
    )
    assert via_index == direct and len(direct) > 0


def test_ivf_index_append_composable(spark, tmp_path):
    """With FIXED centroids, assignment is a pure per-row map:
    index(A+B) == index(A) union index(B), so corpus growth is an
    append; probing the unioned (persisted) index matches probing a
    freshly built one."""
    from rentals_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("match_vec")
    )
    old = corpus.where(F.col("match_id") % 3 != 0)
    new = corpus.where(F.col("match_id") % 3 == 0)
    cents, old_cells = SIM.ivf_index(old, n_cells=8)
    _, new_cells = SIM.ivf_index(new, centroids=cents)
    _, full_cells = SIM.ivf_index(corpus, centroids=cents)
    key = lambda df: sorted(
        (r["match_id"], r["cell"]) for r in df.collect()
    )
    assert key(full_cells) == key(old_cells.unionByName(new_cells))

    # probe the persisted union (cell-partitioned parquet) vs in-memory
    path = str(tmp_path / "ivf_index")
    old_cells.unionByName(new_cells).write.partitionBy("cell").parquet(path)
    stored = spark.read.parquet(path)
    probes = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    got = sorted(
        map(tuple, SIM.ivf_probe(probes, cents, stored, k=3, n_probe=3).collect())
    )
    want = sorted(
        map(tuple, SIM.ivf_probe(probes, cents, full_cells, k=3, n_probe=3).collect())
    )
    assert got == want and len(got) > 0


def test_ivf_probe_plan_is_equi_join(spark):
    """Serving path: the candidate join is an equi-join on the cell id
    (pruned scan on a cell-partitioned index at scale) — never a
    cartesian/nested-loop pair blowup."""
    from rentals_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("match_vec")
    )
    probes = emb.limit(5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    cents, cells = SIM.ivf_index(corpus, n_cells=4)
    plan = (
        SIM.ivf_probe(probes, cents, cells, k=2, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# SemDeDup (semdedup_keep) — hand-computable 2-D corpus
# ---------------------------------------------------------------------------

# centroids default to the 2 lowest ids: c0 = id1 [1,0], c1 = id2 [0,1].
# cluster 0 order by (centroid_sim, id): id3 (0.9939), id4 (0.9939),
# id1 (1.0) — pairwise cosines all > 0.9, so the centroid-OUTLIER id3
# survives and dominates both others (the paper's keep rule).
_SEM_VECS = [
    (1, [1.0, 0.0]),
    (2, [0.0, 1.0]),
    (3, [0.9, 0.1]),
    (4, [0.9, 0.1]),
    (5, [-1.0, 0.0]),
    (6, [0.0, 0.0]),   # zero norm: cluster 0 at -2.0, never pairs
    (7, None),         # null vector: dropped up front
]


def _semdedup_rows(spark, **kw):
    df = spark.createDataFrame(
        _SEM_VECS, "vec_id long, embedding array<double>"
    )
    out = SIM.semdedup_keep(df, n_clusters=2, threshold=0.9, **kw)
    return {r.vec_id: r for r in out.collect()}


def test_semdedup_keeps_centroid_outlier(spark):
    rows = _semdedup_rows(spark)
    assert set(rows) == {1, 2, 3, 4, 5, 6}  # null vector absent
    assert rows[3].kept and not rows[4].kept  # id tiebreak inside the dup pair
    assert not rows[1].kept  # prototypical member loses to the outlier
    assert rows[3].centroid_sim == 0.9939 and rows[1].centroid_sim == 1.0


def test_semdedup_far_pairs_survive(spark):
    rows = _semdedup_rows(spark)
    # cluster 1: id2 (cs 1.0) and id5 (cs 0.0) — cosine 0.0, both kept
    assert rows[2].cluster_id == rows[5].cluster_id == 1
    assert rows[2].kept and rows[5].kept


def test_semdedup_zero_norm_never_pairs(spark):
    rows = _semdedup_rows(spark)
    assert rows[6].cluster_id == 0
    assert rows[6].centroid_sim == -2.0
    assert rows[6].kept


def test_semdedup_explicit_centroids_flip_clusters(spark):
    rows = _semdedup_rows(spark, centroids=[[0.0, 1.0], [1.0, 0.0]])
    assert rows[1].cluster_id == 1 and rows[2].cluster_id == 0


def test_semdedup_empty_corpus(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = SIM.semdedup_keep(df)
    assert out.columns == ["vec_id", "cluster_id", "centroid_sim", "kept"]
    assert out.count() == 0


def test_semdedup_single_row_corpus(spark):
    df = spark.createDataFrame(
        [(9, [0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    rows = SIM.semdedup_keep(df, n_clusters=8).collect()
    assert len(rows) == 1 and rows[0].kept and rows[0].centroid_sim == 1.0


# ---------------------------------------------------------------------------
# Incremental SemDeDup (semdedup_index / semdedup_against_index)
# ---------------------------------------------------------------------------


def test_semdedup_index_is_the_kept_set(spark):
    df = spark.createDataFrame(
        [r for r in _SEM_VECS if r[1] is not None],
        "vec_id long, embedding array<double>",
    )
    full = SIM.semdedup_keep(df, n_clusters=2, threshold=0.9)
    kept_ids = {r.vec_id for r in full.collect() if r.kept}
    cents, idx = SIM.semdedup_index(df, n_clusters=2, threshold=0.9)
    rows = idx.collect()
    assert {r.vec_id for r in rows} == kept_ids
    # vectors ride along for the probe matmul
    assert all(r.vec is not None for r in rows)
    assert len(cents) == 2


def test_semdedup_against_empty_index_equals_build(spark):
    df = spark.createDataFrame(
        _SEM_VECS, "vec_id long, embedding array<double>"
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    empty_idx = spark.createDataFrame(
        [],
        "vec_id long, vec array<double>, cluster_id int, centroid_sim double",
    )
    inc = {
        r.vec_id: (r.cluster_id, r.centroid_sim, r.kept)
        for r in SIM.semdedup_against_index(
            df, cents, empty_idx, threshold=0.9
        ).collect()
    }
    full = {
        r.vec_id: (r.cluster_id, r.centroid_sim, r.kept)
        for r in SIM.semdedup_keep(
            df, centroids=cents, threshold=0.9
        ).collect()
    }
    assert inc == full


def test_semdedup_incremental_drops_copies_of_index_members(spark):
    df = spark.createDataFrame(
        [r for r in _SEM_VECS if r[1] is not None],
        "vec_id long, embedding array<double>",
    )
    cents, idx = SIM.semdedup_index(df, n_clusters=2, threshold=0.9)
    batch = spark.createDataFrame(
        [
            (101, [0.9, 0.1]),    # copy of kept id3 → dropped
            (102, [0.05, -1.0]),  # far from everything → kept
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r.kept
        for r in SIM.semdedup_against_index(
            batch, cents, idx, threshold=0.9
        ).collect()
    }
    assert out == {101: False, 102: True}
    # index members are never re-emitted
    assert set(out) == {101, 102}


def test_semdedup_keep_rule_is_cluster_count_invariant(spark):
    """r11 verdict item: the catalog certifies k=8, but a 100 TB run
    uses k ~ 1e5 — the greedy keep rule must match the SQL oracle at
    OTHER cluster counts too, on the real sf0.001 embeddings corpus.
    The oracle f-string takes k as a parameter
    (plans/similarity_queries.py::semdedup_core_ctes); the two k
    values must produce genuinely different clusterings or the
    cross-k certification is vacuous."""
    import duckdb

    from rentals_data_pipeline_spark.plans.similarity_queries import (
        semdedup_core_ctes,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    assign_by_k = {}
    for k in (2, 32):
        got = sorted(
            (r.vec_id, r.cluster_id, r.centroid_sim, r.kept)
            for r in SIM.semdedup_keep(
                emb, "vec_id", "embedding", n_clusters=k, threshold=0.35
            ).collect()
        )
        want = sorted(
            (int(v), int(c), float(s), bool(kp))
            for v, c, s, kp in con.execute(
                f"""
WITH {semdedup_core_ctes(k)}
SELECT a.vec_id, a.cluster_id, a.centroid_sim,
       d.vec_id IS NULL AS kept
FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""
            ).fetchall()
        )
        assert got == want, f"operator vs oracle diverged at k={k}"
        assign_by_k[k] = {v: c for v, c, _, _ in got}
    # the certification is only meaningful if k changes the clustering
    assert assign_by_k[2] != assign_by_k[32]
    assert len(set(assign_by_k[32].values())) > len(
        set(assign_by_k[2].values())
    )


def test_semdedup_pruned_index_probe_matches_full(spark):
    """The pruning contract the streaming gate relies on: an index
    restricted to the batch's hit clusters returns byte-identical
    verdicts to the full index, because a batch row can only be
    dominated by index members of its own cluster."""
    df = spark.createDataFrame(
        [r for r in _SEM_VECS if r[1] is not None],
        "vec_id long, embedding array<double>",
    )
    cents, idx = SIM.semdedup_index(df, n_clusters=2, threshold=0.9)
    idx = idx.localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        [(101, [0.9, 0.1]), (102, [0.88, 0.12])],
        "vec_id long, embedding array<double>",
    )
    assigned = SIM.semdedup_assign(batch, cents)
    hits = [
        r["cluster_id"]
        for r in assigned.select("cluster_id").distinct().collect()
    ]
    # the scenario only means something if pruning actually removes
    # index rows: the batch must hit a strict subset of clusters
    idx_clusters = {r.cluster_id for r in idx.collect()}
    assert set(hits) < idx_clusters
    pruned = idx.where(F.col("cluster_id").isin(hits))
    key = lambda df_: sorted(  # noqa: E731
        (r.vec_id, r.cluster_id, r.centroid_sim, r.kept)
        for r in df_.collect()
    )
    assert key(
        SIM.semdedup_against_index(batch, cents, pruned, threshold=0.9)
    ) == key(SIM.semdedup_against_index(batch, cents, idx, threshold=0.9))


def test_semdedup_assign_short_circuit_matches(spark):
    """Passing a pre-computed semdedup_assign frame via assigned= must
    be a pure short-circuit — identical verdicts to letting the probe
    assign internally."""
    df = spark.createDataFrame(
        [r for r in _SEM_VECS if r[1] is not None],
        "vec_id long, embedding array<double>",
    )
    cents, idx = SIM.semdedup_index(df, n_clusters=2, threshold=0.9)
    idx = idx.localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        [(101, [0.9, 0.1]), (102, [0.05, -1.0]), (103, [-0.9, 0.0])],
        "vec_id long, embedding array<double>",
    )
    assigned = SIM.semdedup_assign(batch, cents)
    key = lambda df_: sorted(  # noqa: E731
        (r.vec_id, r.cluster_id, r.centroid_sim, r.kept)
        for r in df_.collect()
    )
    assert key(
        SIM.semdedup_against_index(
            batch, cents, idx, threshold=0.9, assigned=assigned
        )
    ) == key(SIM.semdedup_against_index(batch, cents, idx, threshold=0.9))


def test_semdedup_hot_cluster_guard(spark):
    df = spark.createDataFrame(
        [r for r in _SEM_VECS if r[1] is not None],
        "vec_id long, embedding array<double>",
    )
    # cluster 0 holds ids 1/3/4/6 — four members, over a bound of 3
    with pytest.raises(Exception, match="max_cluster_members"):
        SIM.semdedup_keep(
            df, n_clusters=2, threshold=0.9, max_cluster_members=3
        ).collect()
    # a loose bound passes untouched
    rows = SIM.semdedup_keep(
        df, n_clusters=2, threshold=0.9, max_cluster_members=100
    ).collect()
    assert len(rows) == 6


# ---------------------------------------------------------------------------
# Hard-negative mining (hard_negative_topk)
# ---------------------------------------------------------------------------


def test_hard_negative_topk_matches_pairwise_spec(spark):
    """r12: the GEMM label-mask kernel must equal the naive pairwise
    spec (join on label<>label, rounded cosine, (cos desc, id asc)
    window) row-for-row — including k>1 and a probe block small enough
    to force multi-block unioning."""
    import numpy as np

    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(6)], i % 3)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    got = sorted(
        (r.anchor_id, r.neg_id, r.cosine, r.neg_label)
        for r in SIM.hard_negative_topk(
            df, k=2, probe_block_size=7
        ).collect()
    )
    # spec: rounded cosine over every different-label pair
    vecs = {i: np.asarray(v, dtype=np.float64) for i, v, _ in rows}
    labs = {i: l for i, _, l in rows}

    def cos(a, b):
        x = vecs[a] / np.linalg.norm(vecs[a])
        y = vecs[b] / np.linalg.norm(vecs[b])
        return math.floor(float(x @ y) * 1e4 + 0.5) / 1e4

    want = []
    for a in vecs:
        cands = sorted(
            (
                (-cos(a, b), b)
                for b in vecs
                if b != a and labs[b] != labs[a]
            ),
        )[:2]
        want += [(a, b, -negc, labs[b]) for negc, b in cands]
    assert got == sorted(want)


def test_hard_negative_topk_null_and_single_label(spark):
    """NULL vectors/labels drop on both sides; an anchor whose label is
    the only one present emits nothing (no negative exists)."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, None, 1),
            (3, [0.0, 1.0], None),
            (4, [0.9, 0.1], 0),
        ],
        "vec_id long, embedding array<double>, label long",
    )
    # only ids 1 and 4 survive the filters, and they share label 0
    assert SIM.hard_negative_topk(df).count() == 0
    with_neg = df.union(
        spark.createDataFrame(
            [(5, [0.5, 0.5], 1)],
            "vec_id long, embedding array<double>, label long",
        )
    )
    out = {
        r.anchor_id: (r.neg_id, r.neg_label)
        for r in SIM.hard_negative_topk(with_neg).collect()
    }
    # 1 and 4 can only pick 5; 5 picks its nearest label-0 vector
    assert out[1] == (5, 1) and out[4] == (5, 1)
    assert out[5][1] == 0


def test_hard_negative_topk_drops_zero_norm_vectors(spark):
    """r13 (r12 ADVICE): a zero-norm vector yields NaN cosines that
    numpy's lexsort ranks last in the per-batch prune but Spark's
    final desc window ranks FIRST (NaN sorts greatest) — and the
    oracle would diverge the same way. Zero vectors carry no signal:
    they must be dropped alongside NULLs on both sides, so real
    neighbors keep their ranks and no NaN ever reaches the window."""
    import numpy as np

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.9, 0.1], 1),
            (3, [0.0, 0.0], 1),  # zero-norm: never anchor, never negative
            (4, [0.1, 0.9], 1),
            (5, [None, 2.0], 1),  # NULL element: fold null-propagates
            (6, [float("nan"), 1.0], 1),  # NaN element: sum is NaN
            (7, [float("inf"), 1.0], 1),  # inf element: norm not finite
        ],
        "vec_id long, embedding array<double>, label long",
    )
    out = {
        r.anchor_id: (r.neg_id, r.cosine)
        for r in SIM.hard_negative_topk(df).collect()
    }
    # degenerate vectors (zero / NULL-element / NaN / inf) mine nothing
    assert not {3, 5, 6, 7} & set(out)
    assert out[1][0] == 2  # and are never mined: 2 beats 4, rest absent
    assert all(np.isfinite(c) for _, c in out.values())

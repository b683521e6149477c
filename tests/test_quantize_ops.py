"""Unit + property tests for int8 scalar quantization (operators/quantize)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.operators import quantize as QZ


def _corpus(spark):
    return spark.createDataFrame(
        [
            (0, [0.0, -1.0, 5.0]),
            (1, [1.0, 0.0, 5.0]),
            (2, [0.5, 1.0, 5.0]),
            (3, [0.25, -0.5, 5.0]),
        ],
        ["vec_id", "embedding"],
    )


def test_dimension_minmax_golden(spark):
    rows = {
        r["dim_idx"]: r
        for r in QZ.dimension_minmax(_corpus(spark)).collect()
    }
    assert rows[1]["dmin"] == 0.0 and rows[1]["dmax"] == 1.0
    assert rows[2]["dmin"] == -1.0 and rows[2]["dmax"] == 1.0
    assert rows[1]["scale"] == pytest.approx(1.0 / 255)
    # constant dimension -> zero scale
    assert rows[3]["dmin"] == 5.0 and rows[3]["scale"] == 0.0


def test_codes_in_range_and_extremes_saturate(spark):
    df = _corpus(spark)
    calib = sorted(QZ.dimension_minmax(df).collect(), key=lambda r: r["dim_idx"])
    mins = [r["dmin"] for r in calib]
    scales = [r["scale"] for r in calib]
    out = {r["vec_id"]: r["qvec"] for r in QZ.quantize_vectors(df, mins, scales).collect()}
    for codes in out.values():
        assert all(0 <= c <= 255 for c in codes)
    # min of dim 1 is vec 0 (0.0) -> code 0; max is vec 1 (1.0) -> code 255
    assert out[0][0] == 0 and out[1][0] == 255
    # constant dimension encodes as 0 everywhere
    assert all(codes[2] == 0 for codes in out.values())


def test_roundtrip_error_bounded_by_half_scale(spark):
    df = _corpus(spark)
    calib = sorted(QZ.dimension_minmax(df).collect(), key=lambda r: r["dim_idx"])
    mins = [r["dmin"] for r in calib]
    scales = [r["scale"] for r in calib]
    dq = QZ.dequantize_vectors(QZ.quantize_vectors(df, mins, scales), mins, scales)
    rows = dq.select("embedding", "dqvec").collect()
    for r in rows:
        for x, y, s in zip(r["embedding"], r["dqvec"], scales):
            assert abs(x - y) <= s / 2 + 1e-12


def test_error_stats_match_literal_path(spark):
    """The distributed audit and the literal encode agree on worst error."""
    df = _corpus(spark)
    stats = {
        r["dim_idx"]: r
        for r in QZ.quantization_error_stats(df).collect()
    }
    calib = sorted(QZ.dimension_minmax(df).collect(), key=lambda r: r["dim_idx"])
    mins = [r["dmin"] for r in calib]
    scales = [r["scale"] for r in calib]
    dq = QZ.dequantize_vectors(QZ.quantize_vectors(df, mins, scales), mins, scales)
    worst = [0.0, 0.0, 0.0]
    for r in dq.select("embedding", "dqvec").collect():
        for i, (x, y) in enumerate(zip(r["embedding"], r["dqvec"])):
            worst[i] = max(worst[i], abs(x - y))
    for i in range(3):
        assert stats[i + 1]["max_abs_err"] == pytest.approx(worst[i], abs=1e-12)
    # constant dim: zero error, everything saturates at code 0
    assert stats[3]["max_abs_err"] == 0.0
    assert stats[3]["n_saturated"] == 4


def test_stats_partitioning_invariant(spark):
    """Order-invariant aggregates: same audit at any partitioning."""
    df = _corpus(spark)
    a = sorted(
        map(tuple, QZ.quantization_error_stats(df).collect())
    )
    b = sorted(
        map(tuple, QZ.quantization_error_stats(df.repartition(7)).collect())
    )
    assert a == b


def test_ragged_vector_degrades_not_errors(spark):
    """A vector longer than the calibration frame encodes the overflow
    dims as code 0 (try_element_at), where a bare element_at would
    raise INVALID_ARRAY_INDEX in the engine's ANSI-on session."""
    df = spark.createDataFrame([(0, [0.5, 1.0, 2.0])], ["vec_id", "embedding"])
    out = QZ.quantize_vectors(df, [0.0], [1.0 / 255]).collect()[0]["qvec"]
    assert out[0] == 128 and out[1] == 0 and out[2] == 0


def test_null_vector_passes_through(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, None)],
        "vec_id int, embedding array<double>",
    )
    out = {r["vec_id"]: r["qvec"] for r in QZ.quantize_vectors(df, [0.0, 0.0], [1.0 / 255] * 2).collect()}
    assert out[1] is None and out[0] is not None


# ---------------------------------------------------------------------------
# Product quantization (PQ) + ADC
# ---------------------------------------------------------------------------


def _clustered_corpus(spark, n_per=20, dim=8):
    """Four well-separated clusters; PQ must retrieve within-cluster."""
    import random

    rng = random.Random(11)
    centers = [
        [10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.0, 10.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, 10.0, 0.0, 0.0, 0.0, 0.0],
    ]
    rows = []
    i = 0
    for c in centers:
        for _ in range(n_per):
            rows.append(
                (i, [x + rng.uniform(-0.5, 0.5) for x in c])
            )
            i += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_pq_codebooks_deterministic_under_repartition(spark):
    import numpy as np

    df = _clustered_corpus(spark)
    b1 = QZ.train_pq_codebooks(df, m=4, k=4, iters=5)
    b2 = QZ.train_pq_codebooks(df.repartition(13), m=4, k=4, iters=5)
    for a, b in zip(b1, b2):
        assert np.array_equal(a, b)


def test_pq_encode_codes_shape_and_determinism(spark):
    df = _clustered_corpus(spark)
    books = QZ.train_pq_codebooks(df, m=4, k=4, iters=5)
    c1 = {r["vec_id"]: list(r["pq_code"]) for r in QZ.pq_encode(df, books).collect()}
    c2 = {
        r["vec_id"]: list(r["pq_code"])
        for r in QZ.pq_encode(df.repartition(7), books).collect()
    }
    assert c1 == c2
    assert all(len(v) == 4 and all(0 <= x < 4 for x in v) for v in c1.values())


def test_pq_adc_retrieval_stays_in_cluster(spark):
    """Well-separated clusters: every ADC neighbor must come from the
    probe's own cluster (coarse retrieval — PQ's actual job; within a
    tight cluster the normalized members are near-identical, so exact
    WITHIN-cluster neighbor order sits below code resolution by
    design), and the result must be partitioning-invariant."""
    df = _clustered_corpus(spark)
    books = QZ.train_pq_codebooks(df, m=4, k=8, iters=10)
    codes = QZ.pq_encode(df, books)
    probes = df.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    approx = QZ.pq_adc_topk(probes, codes, books, k=3)
    ap = {(r["probe_id"], r["match_id"]) for r in approx.collect()}
    probe_cluster = lambda pid: pid // 20  # noqa: E731
    assert len(ap) == 8 * 3  # 8 probes x top-3
    assert all(probe_cluster(a) == probe_cluster(b) for a, b in ap)
    codes2 = QZ.pq_encode(df.repartition(9), books)
    ap2 = {
        (r["probe_id"], r["match_id"])
        for r in QZ.pq_adc_topk(probes, codes2, books, k=3).collect()
    }
    assert ap == ap2


def test_pq_adc_probe_blocking(spark):
    """A probe set larger than probe_block_size must stream in blocks
    and return EXACTLY the unblocked result (scores included) — the
    bounded-probe contract the round-8 audit demanded — without
    caching the caller's codes. Also pins that empty probes return an
    empty frame without touching the codes."""
    df = _clustered_corpus(spark)
    books = QZ.train_pq_codebooks(df, m=4, k=8, iters=10)
    codes = QZ.pq_encode(df, books)
    probes = df.where(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )  # 20 probes
    one_pass = {
        (r["probe_id"], r["match_id"], r["adc_score"])
        for r in QZ.pq_adc_topk(probes, codes, books, k=3).collect()
    }
    blocked = {
        (r["probe_id"], r["match_id"], r["adc_score"])
        for r in QZ.pq_adc_topk(
            probes, codes, books, k=3, probe_block_size=6
        ).collect()
    }
    assert one_pass == blocked
    assert len({p for p, _, _ in one_pass}) == 20
    # every block re-scans the codes: a multi-block call leaves no
    # cache on the caller's frame
    assert not (codes.storageLevel.useMemory or codes.storageLevel.useDisk)
    empty = QZ.pq_adc_topk(probes.where(F.lit(False)), codes, books, k=3)
    assert empty.count() == 0
    assert empty.columns == ["probe_id", "match_id", "adc_score"]


def test_bounded_training_sample_is_one_job(spark, jobs_run):
    """The training-sample probe ``orderBy(id).limit(bound + 1)`` plans
    as a TakeOrderedAndProject: one job over a multi-partition
    checkpoint, where a bare limit scales up one job per round."""
    df = _clustered_corpus(spark).repartition(3).localCheckpoint(eager=True)
    assert df.rdd.getNumPartitions() >= 3
    rows: list = []
    n_jobs = jobs_run(
        lambda: rows.extend(
            QZ._bounded_training_sample(df, "embedding", "vec_id", 1, 1000)
        )
    )
    assert n_jobs == 1
    assert [r["i"] for r in rows] == list(range(80))


def test_pq_catalog_recall_row(spark):
    from rentals_data_pipeline_spark.plans import similarity_queries  # noqa: F401
    from rentals_data_pipeline_spark.plans.catalog import QUERIES

    r1 = QUERIES["sim_pq_adc_topk_recall"](spark, "/root/testdata/sf0.001").collect()
    assert len(r1) == 1
    row = r1[0]
    assert row["n_probes"] == 10 and row["true_pairs"] == 50
    # golden: deterministic codebooks -> exact measured recall (the
    # far-pair regime value; see the query docstring)
    assert row["hits"] == 38 and row["recall"] == 0.76
    # deterministic: a second run returns the identical row
    r2 = QUERIES["sim_pq_adc_topk_recall"](spark, "/root/testdata/sf0.001").collect()
    assert r1 == r2


def test_ivf_pq_full_probe_degenerates_to_pure_pq(spark):
    """n_probe == n_cells removes the cell restriction: IVF-PQ must
    return exactly the pure PQ-ADC ranking."""
    df = _clustered_corpus(spark)
    books = QZ.train_pq_codebooks(df, m=4, k=8, iters=10)
    cents = [r["embedding"] for r in df.orderBy("vec_id").limit(4).collect()]
    probes = df.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    codes = QZ.pq_encode(df, books)
    pure = {
        (r["probe_id"], r["match_id"])
        for r in QZ.pq_adc_topk(probes, codes, books, k=3).collect()
    }
    corpus = df.select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("match_vec")
    )
    full = {
        (r["probe_id"], r["match_id"])
        for r in QZ.ivf_pq_topk(
            probes, corpus, books, cents, k=3, n_probe=4
        ).collect()
    }
    assert pure == full


def test_ivf_pq_catalog_rows_and_determinism(spark):
    from rentals_data_pipeline_spark.plans import similarity_queries  # noqa: F401
    from rentals_data_pipeline_spark.plans.catalog import QUERIES

    r1 = sorted(
        map(tuple, QUERIES["sim_ivf_pq_topk"](spark, "/root/testdata/sf0.001").collect())
    )
    assert len(r1) == 50  # 10 probes x top-5
    r2 = sorted(
        map(tuple, QUERIES["sim_ivf_pq_topk"](spark, "/root/testdata/sf0.001").collect())
    )
    assert r1 == r2


def test_residual_codes_reconstruct_better_on_clustered_data(spark):
    """Residual encoding's actual claim: when coarse cells capture the
    cluster structure, x ~ centroid[cell] + decode(code) reconstructs
    with strictly lower error than raw-PQ decode at the same code
    budget."""
    import numpy as np

    import random

    # Dense, non-axis-aligned cluster centers + a STARVED code budget
    # (k=2): every 2-dim subspace sees four distinct cluster offsets
    # that two raw centroids cannot cover, while residual codes only
    # need to model the small within-cluster noise.
    rng = random.Random(7)
    centers = [[rng.uniform(-3, 3) for _ in range(8)] for _ in range(4)]
    data = []
    i = 0
    for c in centers:
        for _ in range(20):
            data.append((i, [x + rng.uniform(-0.05, 0.05) for x in c]))
            i += 1
    df = spark.createDataFrame(data, ["vec_id", "embedding"])
    rows = sorted((r["vec_id"], r["embedding"]) for r in df.collect())
    X = QZ._as_unit_rows(np.asarray([v for _, v in rows]))
    # coarse centroids: one seed vector per cluster
    cents = [rows[0][1], rows[20][1], rows[40][1], rows[60][1]]
    cn = QZ._unit_centroids(cents)
    m, k = 4, 2
    raw_books = QZ.train_pq_codebooks(df, m=m, k=k, iters=10)
    res_books = QZ.train_pq_codebooks_residual(df, cents, m=m, k=k, iters=10)
    sub = X.shape[1] // m

    def decode(books, base):
        out = np.zeros_like(X)
        target = X - base
        for s in range(m):
            Ts = target[:, s * sub : (s + 1) * sub]
            d2 = ((Ts[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            codes = d2.argmin(axis=1)
            out[:, s * sub : (s + 1) * sub] = books[s][codes]
        return base + out

    cells = np.argmax(X @ cn.T, axis=1)
    err_raw = ((X - decode(raw_books, np.zeros_like(X))) ** 2).sum(axis=1).mean()
    err_res = ((X - decode(res_books, cn[cells])) ** 2).sum(axis=1).mean()
    assert err_res < err_raw


def test_residual_ivf_pq_deterministic(spark):
    df = _clustered_corpus(spark)
    cents = [r["embedding"] for r in df.orderBy("vec_id").limit(4).collect()]
    books = QZ.train_pq_codebooks_residual(df, cents, m=4, k=8, iters=5)
    probes = df.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    corpus = df.select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("match_vec")
    )
    r1 = sorted(
        (r["probe_id"], r["match_id"])
        for r in QZ.ivf_pq_residual_topk(
            probes, corpus, books, cents, k=3, n_probe=4
        ).collect()
    )
    r2 = sorted(
        (r["probe_id"], r["match_id"])
        for r in QZ.ivf_pq_residual_topk(
            probes, corpus.repartition(11), books, cents, k=3, n_probe=4
        ).collect()
    )
    assert r1 == r2 and len(r1) == 24


def test_residual_recall_catalog_row(spark):
    from rentals_data_pipeline_spark.plans import similarity_queries  # noqa: F401
    from rentals_data_pipeline_spark.plans.catalog import QUERIES

    r = QUERIES["sim_ivf_pq_residual_recall"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(r) == 1
    row = r[0]
    # golden: deterministic pipeline -> exact measured values
    assert row["n_probes"] == 10 and row["true_pairs"] == 50
    assert row["hits_raw"] == 27 and row["hits_residual"] == 27
    assert row["recall_raw"] == 0.54 and row["recall_residual"] == 0.54


def test_pq_training_sample_bound_enforced(spark):
    """Round-5 verdict item 7: a miscalled sample_mod on an over-bound
    corpus must RAISE (via the limit(bound+1) probe) instead of
    collecting the world; a correctly-sized sample trains normally."""
    import pytest as _pytest

    df = _clustered_corpus(spark)
    n = df.count()
    with _pytest.raises(ValueError, match="max_sample_rows"):
        QZ.train_pq_codebooks(df, m=4, k=4, iters=2, max_sample_rows=n - 1)
    with _pytest.raises(ValueError, match="max_sample_rows"):
        QZ.train_pq_codebooks_residual(
            df,
            [[1.0] * 8],
            m=4,
            k=4,
            iters=2,
            max_sample_rows=n - 1,
        )
    # within bound: trains fine (and sample_mod shrinks the sample)
    books = QZ.train_pq_codebooks(
        df, m=4, k=4, iters=2, sample_mod=2, max_sample_rows=n
    )
    assert len(books) == 4

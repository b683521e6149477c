"""Near-dup dedup unit tests: hand-planted duplicates with golden
Jaccard values (reference test style, tests/test_transform.py:90-108).
The oracle layer re-verifies these at sf0.01 against exhaustive DuckDB
Jaccard; these tests pin the semantics on a corpus small enough to
reason about by hand.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import rentals_data_pipeline_spark.operators.dedup as DD

# doc 1/2: identical → jaccard 1.0. doc 3: one word changed out of 8
# (6 trigram shingles each; 3 shared → j = 3/9). doc 4: unrelated.
# doc 5: too short for a trigram (dropped, must not pair with doc 6).
DOCS = [
    (1, "the quick brown fox jumps over the dog"),
    (2, "the quick brown fox jumps over the dog"),
    (3, "the quick brown fox leaps over the dog"),
    (4, "completely different words in this one here now"),
    (5, "hi there"),
    (6, "yo there"),
]


def test_minhash_near_dup_pairs_golden(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    out = df.transform(DD.minhash_near_dup_pairs(threshold=0.3)).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    # j(1,3) = 3/9 ≈ 0.3333 > 0.3; banding at 16×4 catches j≈0.33 with
    # p ≈ 1-(1-0.33⁴)¹⁶ ≈ 0.17 — too flaky to assert present, but if
    # found the value must be exact.
    if (1, 3) in got:
        assert got[(1, 3)] == round(3 / 9, 4)
    assert not any(4 in pair or 5 in pair or 6 in pair for pair in got)


def test_minhash_identical_pair_always_found(spark):
    # identical docs agree on every band; recall is exactly 1, not
    # probabilistic — safe to assert deterministically
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    out = df.transform(DD.minhash_near_dup_pairs(threshold=0.99)).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}


def test_token_ngram_set_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b c")], ["doc_id", "text"])
    rows = df.select(
        "doc_id", F.size(DD.token_ngram_set(F.col("text"), 3)).alias("n")
    ).collect()
    sizes = {r.doc_id: r.n for r in rows}
    assert sizes == {1: 0, 2: 1}


def test_jaccard_kernel(spark):
    df = spark.range(1).select(
        DD.jaccard(
            F.array(F.lit(1), F.lit(2), F.lit(3)), F.array(F.lit(2), F.lit(3), F.lit(4))
        ).alias("j"),
        DD.jaccard(
            F.array().cast("array<int>"), F.array().cast("array<int>")
        ).alias("j_empty"),
    )
    r = df.collect()[0]
    assert r.j == 0.5
    assert r.j_empty is None


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (diameter 4 — forces multiple propagation rounds),
    a separate pair, and the pair list's singletons-excluded contract."""
    from rentals_data_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs, driver_bound=1).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_converges_early(spark):
    """max_iter larger than diameter must not change the result."""
    from rentals_data_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(7, 3), (3, 9)], ["id_a", "id_b"])
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            pairs, max_iter=30, driver_bound=1
        ).collect()
    }
    assert got == {3: 3, 7: 3, 9: 3}


def test_decontaminate_golden(spark):
    from rentals_data_pipeline_spark.operators.dedup import decontaminate

    benchmark = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # shares the 5-gram "quick brown fox jumps over" -> dropped
            (1, "a quick brown fox jumps over fences daily it seems"),
            # same words, different order: no shared 5-gram -> kept
            (2, "fox brown quick the jumps dog lazy over the it"),
            # too short for any 5-gram -> kept
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in decontaminate(train, benchmark, n=5).collect()
    )
    assert kept == [2, 3]


def test_decontaminate_bloom_equals_exact(spark):
    """The Bloom-prefiltered operator's contract is exact-output
    equality with plain decontaminate: no false negatives by bloom
    construction, false positives discarded by the digest verify join.
    Checked across filter sizes down to a saturated 64-bit filter
    (every probe positive -> degenerates to the exact join, still
    correct) and on a randomized corpus with planted contamination."""
    import random

    from rentals_data_pipeline_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12))))
        for i in range(60)
    ]
    # plant exact 5-gram contamination: doc 50 copies doc 7's text
    rows[50] = (50, rows[7][1] + " tailword extra pad words here")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    benchmark = docs.where(F.col("doc_id") % 7 == 0)
    train = docs.where(F.col("doc_id") % 7 != 0)
    want = sorted(
        r["doc_id"] for r in decontaminate(train, benchmark, n=5).collect()
    )
    assert len(want) < train.count()  # contamination actually drops rows
    for m_bits, k in ((1 << 14, 4), (1 << 10, 2), (64, 1)):
        got = sorted(
            r["doc_id"]
            for r in decontaminate_bloom(
                train, benchmark, n=5, m_bits=m_bits, k_hashes=k
            ).collect()
        )
        assert got == want, (m_bits, k)


def test_bloom_prefilter_prunes_and_never_false_negatives(spark):
    """Membership mechanics: every inserted key survives
    bloom_might_contain (zero false negatives), and at a sane m/n the
    prefilter actually prunes most non-members — the property the
    100 TB verify-join cost rides on."""
    from rentals_data_pipeline_spark.operators.dedup import (
        bloom_filter_relation,
        bloom_might_contain,
    )

    members = spark.range(0, 200).select(
        F.md5(F.col("id").cast("string")).alias("d")
    )
    others = spark.range(10_000, 12_000).select(
        F.md5(F.col("id").cast("string")).alias("d")
    )
    m_bits, k = 1 << 13, 4  # m/n = 41 -> FPR well under 1%
    bloom = bloom_filter_relation(members, "d", m_bits, k)
    assert bloom_might_contain(members, "d", bloom, m_bits, k).count() == 200
    fp = bloom_might_contain(others, "d", bloom, m_bits, k).count()
    assert fp < 100  # ~2000 * FPR; generous bound against hash luck


def test_bloom_index_is_merge_composable(spark):
    """index(A union B) == merge(index(A), index(B)) for BOTH halves of
    bloom_decon_index — the bloom relation folds by bit_or, the digest
    relation by union+distinct — including with overlapping documents
    (bit_or and distinct are idempotent). This is what makes a
    persisted decontamination index an append, never a rebuild."""
    import random

    from rentals_data_pipeline_spark.operators.dedup import (
        bloom_decon_index,
        merge_bloom_relations,
    )

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(40)]

    def corpus(lo, hi):
        return spark.createDataFrame(
            [
                (i, " ".join(rng.choice(vocab) for _ in range(10)))
                for i in range(lo, hi)
            ],
            "doc_id long, text string",
        )

    a = corpus(0, 25)
    b = corpus(20, 45)  # overlapping id range; rng makes texts distinct
    both = a.unionByName(b)
    m_bits, k = 1 << 12, 3
    bloom_u, dig_u = bloom_decon_index(both, m_bits=m_bits, k_hashes=k)
    bloom_a, dig_a = bloom_decon_index(a, m_bits=m_bits, k_hashes=k)
    bloom_b, dig_b = bloom_decon_index(b, m_bits=m_bits, k_hashes=k)
    merged = merge_bloom_relations(bloom_a, bloom_b)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, bloom_u.collect())
    )
    assert sorted(r["d"] for r in dig_a.unionByName(dig_b).distinct().collect()) == sorted(
        r["d"] for r in dig_u.collect()
    )


def test_decontaminate_with_index_equals_exact(spark):
    """The persisted-index probe (decontaminate_with_index over a
    merged multi-suite index) returns exactly what plain decontaminate
    returns against the union of the suites."""
    import random

    from rentals_data_pipeline_spark.operators.dedup import (
        bloom_decon_index,
        decontaminate,
        decontaminate_with_index,
        merge_bloom_relations,
    )

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 12))))
        for i in range(40)
    ]
    rows[30] = (30, rows[2][1] + " tail pad words four five")  # planted
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    suite_a = docs.where(F.col("doc_id") % 10 == 2)
    suite_b = docs.where(F.col("doc_id") % 10 == 7)
    train = docs.where(~F.col("doc_id").isin(2, 12, 22, 32, 7, 17, 27, 37))
    m_bits, k = 1 << 12, 4
    ba, da = bloom_decon_index(suite_a, m_bits=m_bits, k_hashes=k)
    bb, db = bloom_decon_index(suite_b, m_bits=m_bits, k_hashes=k)
    got = sorted(
        r["doc_id"]
        for r in decontaminate_with_index(
            train,
            merge_bloom_relations(ba, bb).localCheckpoint(eager=True),
            da.unionByName(db).distinct(),
            m_bits=m_bits,
            k_hashes=k,
        ).collect()
    )
    want = sorted(
        r["doc_id"]
        for r in decontaminate(
            train, suite_a.unionByName(suite_b), n=5
        ).collect()
    )
    assert got == want and len(want) < train.count()


def test_shared_span_pairs_golden(spark):
    """Hand-computed spans: docs 1/2 share one 7-token span at known
    offsets; doc 3 shares only a 5-token span with doc 1 (below the
    6-token threshold -> excluded); two DISJOINT shared runs on the
    same diagonal stay two islands, not one merged span."""
    from rentals_data_pipeline_spark.operators.dedup import shared_span_pairs

    span = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    rows = [
        (1, "x1 x2 " + span + " y1 y2"),          # span at pos 2..8
        (2, "z1 " + span + " w1 w2 w3"),          # span at pos 1..7
        (3, "alpha beta gamma delta epsilon q r s t u"),  # 5-token overlap
        # doc 4 repeats doc 1's prefix AND suffix with a gap between —
        # same diagonal, two islands
        (4, "x1 x2 alpha beta gamma delta epsilon GAP zeta eta y1 y2 k9"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["span_tokens"], r["a_start"], r["b_start"])
        for r in shared_span_pairs(
            docs, n=3, min_span_tokens=6, max_doc_freq=64
        ).collect()
    }
    # doc1-doc2: 7-token span, starts (2, 1)
    assert (1, 2, 7, 2, 1) in got
    # doc1-doc4: 7-token prefix span only (suffix run "zeta eta y1 y2"
    # is 4 tokens < 6); same diagonal, islands kept it separate
    assert (1, 4, 7, 0, 0) in got
    # doc1-doc3 is below threshold
    assert not any(a == 1 and b == 3 for a, b, *_ in got)
    # no span reported twice, nothing with < 6 tokens
    assert all(s >= 6 for _, _, s, _, _ in got)


def test_shared_span_pairs_doc_freq_cap(spark):
    """A gram present in more than max_doc_freq docs never generates
    candidates: with the boilerplate line in every doc and cap=2, only
    the pair sharing a RARE span survives."""
    from rentals_data_pipeline_spark.operators.dedup import shared_span_pairs

    boiler = "subscribe to our newsletter for updates today"
    rows = [(i, boiler) for i in range(5)] + [
        (10, "rare span one two three four five six " + boiler),
        (11, "pad rare span one two three four five six"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = shared_span_pairs(
        docs, n=3, min_span_tokens=6, max_doc_freq=2
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert pairs == {(10, 11)}


def test_cc_tiers_agree_on_random_graphs(spark):
    """The driver tier (union-find) must be bit-identical to the
    distributed pointer-jumping loop (forced by driver_bound=1) on
    arbitrary graphs, including chains, cycles, and singleton-free
    multi-component mixes."""
    import random

    from rentals_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(17)
    edges = [(rng.randrange(0, 60), rng.randrange(0, 60)) for _ in range(80)]
    edges += [(i, i + 1) for i in range(90, 99)]  # a 10-node chain
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    driver_tier = sorted(map(tuple, connected_components(pairs).collect()))
    dist_tier = sorted(
        map(tuple, connected_components(pairs, driver_bound=1).collect())
    )
    assert driver_tier == dist_tier


def test_cc_auto_falls_back_above_bound(spark):
    """At or above the driver bound the distributed path runs (same
    output), so huge pair graphs never collect."""
    from rentals_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    out = sorted(
        map(tuple, connected_components(pairs, driver_bound=5).collect())
    )
    # one chain component labeled by its min id
    assert out == [(i, 0) for i in range(31)]


def test_normalized_dedup_catches_reformatted_copies(spark, tmp_path):
    """Case/punctuation/spacing variants collapse to one fingerprint;
    genuinely different text does not."""
    rows = [
        (1, "Hello, World!  This is   a test."),
        (2, "hello world this is a test"),
        (3, "HELLO WORLD — this is a test"),
        (4, "completely different content"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(str(tmp_path / "documents.parquet"))
    from rentals_data_pipeline_spark.plans import dedup_queries  # noqa: F401
    from rentals_data_pipeline_spark.plans.catalog import QUERIES

    got = {
        r["doc_id"]: (r["is_kept"], r["n_variants"])
        for r in QUERIES["dedup_normalized_documents"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[1] == (True, 3)   # keep-first of the 3-way variant set
    assert got[2] == (False, 3)
    assert got[3] == (False, 3)
    assert got[4] == (True, 1)


def test_split_leakage_audit_flags_cross_split_dups_only(spark, tmp_path):
    """Planted near-dup pair forced across splits is flagged; a
    same-split dup pair and unique docs are not."""
    from rentals_data_pipeline_spark.operators.sampling import hash_bucket
    from rentals_data_pipeline_spark.plans import dedup_queries  # noqa: F401
    from rentals_data_pipeline_spark.plans.catalog import QUERIES

    # find doc_ids whose hash split differs (train vs non-train)
    probe = spark.createDataFrame(
        [(i,) for i in range(200)], ["doc_id"]
    ).withColumn("b", hash_bucket(F.col("doc_id"), 10000, "split"))
    rows = {r["doc_id"]: r["b"] for r in probe.collect()}
    train_ids = [i for i, b in rows.items() if b < 8000]
    eval_ids = [i for i, b in rows.items() if b >= 8000]
    leak_a, leak_b = train_ids[0], eval_ids[0]       # cross-split pair
    same_a, same_b = train_ids[1], train_ids[2]      # same-split pair
    uniq = train_ids[3]
    text = "alpha beta gamma delta epsilon"
    docs = [
        (leak_a, text), (leak_b, text),
        (same_a, "one two three"), (same_b, "one two three"),
        (uniq, "solo words only here"),
    ]
    spark.createDataFrame(docs, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["dedup_split_leakage_audit"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    assert out[0]["n_train"] == 1 and out[0]["n_eval"] == 1


def test_minhash_index_is_append_composable(spark):
    """index(A union B) == index(A) union index(B) row-for-row: daily
    corpus growth is an append, never a rebuild."""
    a = spark.createDataFrame(DOCS[:3], ["doc_id", "text"])
    b = spark.createDataFrame(DOCS[3:], ["doc_id", "text"])
    ab = spark.createDataFrame(DOCS, ["doc_id", "text"])

    def key_bands(df):
        return {tuple(r) for r in df.collect()}

    def key_sets(df):
        return {(r["doc_id"], tuple(sorted(r["hset"]))) for r in df.collect()}

    ab_bands, ab_sets = DD.minhash_index(ab)
    a_bands, a_sets = DD.minhash_index(a)
    b_bands, b_sets = DD.minhash_index(b)
    assert key_bands(ab_bands) == key_bands(a_bands) | key_bands(b_bands)
    assert key_sets(ab_sets) == key_sets(a_sets) | key_sets(b_sets)


def test_dedup_against_index_equals_full_pairing(spark):
    """Incremental dedup finds EXACTLY the cross pairs that re-pairing
    the unioned corpus would find (same signatures, same banding — the
    equivalence is deterministic, not probabilistic), and never reports
    pairs internal to the new batch."""
    corpus = spark.createDataFrame(DOCS, ["doc_id", "text"])
    new = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the dog"),  # = docs 1/2
            (12, "the quick brown fox leaps over a cat"),    # near doc 3
            (13, "entirely novel content with no corpus overlap"),
            (14, "entirely novel content with no corpus overlap"),  # = 13
        ],
        ["doc_id", "text"],
    )
    idx_bands, idx_sets = DD.minhash_index(corpus)
    inc = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in DD.dedup_against_index(
            new, idx_bands, idx_sets, threshold=0.3
        ).collect()
    }

    full = corpus.union(new).transform(DD.minhash_near_dup_pairs(threshold=0.3))
    cross = {
        (r["id_b"], r["id_a"], r["jaccard"])  # id_a < id_b => corpus, new
        for r in full.collect()
        if r["id_a"] <= 6 and r["id_b"] >= 11
    }
    assert inc == cross
    assert (11, 1, 1.0) in inc and (11, 2, 1.0) in inc
    # novel docs match nothing; the 13/14 internal pair is NOT reported
    assert not any(n in (13, 14) for n, _, _ in inc)


def test_dedup_against_index_empty_sides(spark):
    """Empty new batch, or an empty index, yields an empty result with
    the declared columns — never an error."""
    corpus = spark.createDataFrame(DOCS, ["doc_id", "text"])
    empty = spark.createDataFrame([], "doc_id long, text string")
    idx_bands, idx_sets = DD.minhash_index(corpus)
    out = DD.dedup_against_index(empty, idx_bands, idx_sets)
    assert out.columns == ["new_id", "corpus_id", "jaccard"]
    assert out.count() == 0
    e_bands, e_sets = DD.minhash_index(empty)
    assert DD.dedup_against_index(corpus, e_bands, e_sets).count() == 0


def test_dedup_against_index_plan_is_equi_join(spark):
    """The probe path must stay an equi-join on (band, band_key) plus
    id-keyed verify joins — no cartesian/nested-loop node anywhere."""
    corpus = spark.createDataFrame(DOCS, ["doc_id", "text"])
    new = spark.createDataFrame([(11, "the quick brown fox")], ["doc_id", "text"])
    idx_bands, idx_sets = DD.minhash_index(corpus)
    plan = (
        DD.dedup_against_index(new, idx_bands, idx_sets)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Corpus span dedup with rewrite (span_dedup_rewrite) — C4-style
# ---------------------------------------------------------------------------

_SPAN_DOCS = [
    (1, "a b c d"),     # both spans first occurrences
    (2, "a b x y"),     # "a b" already seen at (1,0) → removed
    (3, "c d"),         # whole doc removed → empty rewrite, row kept
    (4, "a  b e"),      # double space: tokens [a,b,e] — "a b" removed
    (5, ""),            # zero words → no spans → no output row
    (6, "p q r"),       # short tail span "r" stands alone
    (7, "z w z w"),     # within-doc duplicate: g0 kept, g1 removed
]


def _span_rows(spark):
    df = spark.createDataFrame(_SPAN_DOCS, ["doc_id", "text"])
    out = df.transform(DD.span_dedup_rewrite("doc_id", "text", 2))
    return {r.doc_id: r for r in out.collect()}


def test_span_rewrite_keep_first_across_docs(spark):
    rows = _span_rows(spark)
    assert rows[1].new_text == "a b c d" and rows[1].kept_spans == 2
    assert rows[2].new_text == "x y" and rows[2].kept_spans == 1
    assert rows[6].new_text == "p q r" and rows[6].kept_spans == 2


def test_span_rewrite_fully_deduped_doc_is_auditable(spark):
    rows = _span_rows(spark)
    assert rows[3].n_spans == 1 and rows[3].kept_spans == 0
    assert rows[3].new_text == ""


def test_span_rewrite_zero_word_doc_has_no_row(spark):
    assert 5 not in _span_rows(spark)


def test_span_rewrite_tokenizes_like_the_oracle(spark):
    # consecutive spaces yield empty tokens on both engines; both filter
    # them BEFORE chunking, so doc 4 chunks as [a b][e]
    rows = _span_rows(spark)
    assert rows[4].n_spans == 2 and rows[4].new_text == "e"


def test_span_rewrite_within_doc_duplicate(spark):
    rows = _span_rows(spark)
    assert rows[7].n_spans == 2 and rows[7].kept_spans == 1
    assert rows[7].new_text == "z w"


def test_span_rewrite_rejects_bad_span_size():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        DD.span_dedup_rewrite(span_words=0)


def test_soft_dedup_weights_hand_computed(spark, tmp_path):
    """Synthetic corpus: two identical docs in source X (one cluster of
    size 2 -> weight 0.5 each), one unique doc in X (weight 1), one
    unique doc in Y and one NULL-text doc in Y (both singletons at
    weight 1).  X: n=3, effective=2.0, inflation=1.5; Y: n=2,
    effective=2.0, inflation=1.0."""
    from pyspark.sql import types as T

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "X"),
        (2, "the quick brown fox jumps over the lazy dog", "X"),
        (3, "an entirely different document about spark pipelines", "X"),
        (4, "another unrelated text with its own unique words", "Y"),
        (5, None, "Y"),
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    spark.createDataFrame(rows, schema).withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from rentals_data_pipeline_spark.plans import dedup_queries  # noqa: F401
    from rentals_data_pipeline_spark.plans.catalog import QUERIES

    got = {
        r["source"]: r
        for r in QUERIES["dedup_soft_dedup_weights"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["X"]["n_docs"] == 3
    assert got["X"]["effective_docs"] == 2.0
    assert got["X"]["dup_inflation"] == 1.5
    assert got["Y"]["n_docs"] == 2
    assert got["Y"]["effective_docs"] == 2.0
    assert got["Y"]["dup_inflation"] == 1.0

"""Distributed BPE training/encoding vs a pure-Python reference.

The reference implements Sennrich-style BPE directly on a word-count
dict (the same statistics the Spark histogram carries); every Spark
result must match it exactly — merges are discrete, so there is no
tolerance, and ties are broken identically (count DESC, pair ASC).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rentals_data_pipeline_spark.operators import tokenizer as TK

# ---------------------------------------------------------------- reference


def _ref_merge(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _ref_train(
    word_counts: dict[str, int], num_merges: int, min_pair_count: int = 2
) -> list[tuple[str, str]]:
    vocab = {
        tuple(list(w) + [TK.EOW]): c for w, c in word_counts.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pairs:
            break
        best, cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_count:
            break
        merges.append(best)
        vocab = {_ref_merge(s, *best): c for s, c in vocab.items()}
    return merges


def _ref_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    syms = tuple(list(word) + [TK.EOW])
    for a, b in merges:
        syms = _ref_merge(syms, a, b)
    return list(syms)


# The classic Sennrich corpus, spread across rows so training has to
# aggregate counts across documents and partitions.
SENNRICH = {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def _sennrich_docs(spark, n_parts: int = 1):
    words: list[str] = []
    for w, c in SENNRICH.items():
        words.extend([w] * c)
    rows = [(i, " ".join(words[i::4])) for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return df.repartition(n_parts) if n_parts > 1 else df


def test_word_histogram_counts(spark):
    hist = {
        r["word"]: r["cnt"]
        for r in TK.word_histogram(_sennrich_docs(spark)).collect()
    }
    assert hist == SENNRICH


def test_bpe_train_matches_reference(spark):
    got = TK.bpe_train(_sennrich_docs(spark), num_merges=10)
    want = _ref_train(SENNRICH, 10)
    assert got == want
    # sanity on the classic example: 'est' forms early from newest+widest
    assert ("es", "t") in got or ("e", "st") in got


def test_bpe_train_partition_invariant(spark):
    assert TK.bpe_train(_sennrich_docs(spark, 7), num_merges=8) == _ref_train(
        SENNRICH, 8
    )


def test_bpe_train_early_stop_on_unique_pairs(spark):
    # every word occurs once -> every pair count is 1 < min_pair_count
    df = spark.createDataFrame([(0, "abc xyz qrs")], ["doc_id", "text"])
    assert TK.bpe_train(df, num_merges=5) == []


def test_bpe_train_punctuation_symbols(spark):
    # regex-special symbols must be literal-quoted in the merge pattern
    df = spark.createDataFrame([(0, "a.b a.b a.b c++ c++ c++")], ["doc_id", "text"])
    got = TK.bpe_train(df, num_merges=4)
    want = _ref_train({"a": 3, ".": 3, "b": 3, "c": 3, "+": 6}, 4)
    assert got == want


def test_bpe_replacement_metachar_symbols(spark):
    """Java replacement-string metacharacters: '$' in a merged symbol
    is an illegal group reference (crash) and '\\' silently vanishes
    unless the replacement is quoted — both must train and encode
    exactly like the reference."""
    text = "a$ a$ a$ b$ b$ x\\ x\\ x\\"
    counts = {"a": 3, "$": 5, "b": 2, "x": 3, "\\": 3}
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    got = TK.bpe_train(df, num_merges=6)
    want = _ref_train(counts, 6)
    assert got == want
    assert any("$" in a + b or "\\" in a + b for a, b in got)  # non-trivial
    toks = df.select(TK.bpe_segment_expr(got).alias("t")).collect()[0]["t"]
    want_toks: list[str] = []
    for w in ["a", "$", "a", "$", "a", "$", "b", "$", "b", "$",
              "x", "\\", "x", "\\", "x", "\\"]:
        want_toks.extend(_ref_encode(w, got))
    assert toks == want_toks
    # the vocab-join path quotes identically
    via = TK.bpe_segment_via_vocab(df, got).collect()[0]["bpe_tokens"]
    assert via == want_toks


def test_bpe_train_max_words_truncates_by_mass(spark):
    # max_words=2 keeps newest(6) and low(5); merges must come from
    # those two words only
    got = TK.bpe_train(_sennrich_docs(spark), num_merges=6, max_words=2)
    want = _ref_train({"newest": 6, "low": 5}, 6)
    assert got == want


def test_bpe_segment_matches_reference_encode(spark):
    merges = _ref_train(SENNRICH, 8)
    df = spark.createDataFrame(
        [(0, "lowest newest low"), (1, "wider lower")], ["doc_id", "text"]
    )
    rows = df.select(
        "doc_id", TK.bpe_segment_expr(merges).alias("toks")
    ).collect()
    for r in rows:
        text = {0: "lowest newest low", 1: "wider lower"}[r["doc_id"]]
        want: list[str] = []
        for w in text.split():
            want.extend(_ref_encode(w, merges))
        assert r["toks"] == want


def test_bpe_segment_roundtrip(spark):
    """Stripping </w> and re-joining tokens reconstructs the words."""
    merges = _ref_train(SENNRICH, 8)
    df = spark.createDataFrame([(0, "newest widest lower low")], ["doc_id", "text"])
    toks = df.select(TK.bpe_segment_expr(merges).alias("t")).collect()[0]["t"]
    rebuilt = "".join(toks).replace(TK.EOW, " ").strip()
    assert rebuilt == "newest widest lower low"


def test_bpe_token_count(spark):
    merges = _ref_train(SENNRICH, 8)
    df = spark.createDataFrame([(0, "low lower")], ["doc_id", "text"])
    n = df.select(TK.bpe_token_count_expr(merges).alias("n")).collect()[0]["n"]
    want = len(_ref_encode("low", merges)) + len(_ref_encode("lower", merges))
    assert n == want


def test_bpe_merges_golden_sf0001(spark):
    """Golden pin on the real documents corpus: the catalog query is
    rows-only (the driver only checks rows>0), so the first merges are
    pinned here — semantic drift in tokenization, tie-breaking, or the
    merge regex shows up as a golden diff instead of passing silently."""
    import __spark_entry__ as E

    rows = E.queries()["text_bpe_merges"](spark, "/root/testdata/sf0.001").collect()
    got = [(r["pair_a"], r["pair_b"], r["merged"]) for r in rows[:5]]
    assert got == [
        ("e", "r", "er"),
        ("e", "</w>", "e</w>"),
        ("n", "</w>", "n</w>"),
        ("o", "r", "or"),
        ("t", "</w>", "t</w>"),
    ]
    assert len(rows) == 30
    assert [r["rank"] for r in rows] == list(range(1, 31))


def test_bpe_train_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id INT, text STRING")
    assert TK.bpe_train(df, num_merges=3) == []


def test_bpe_train_tiers_agree(spark):
    """The driver fold (sub-bound histogram, incremental heap) and the
    distributed per-merge loop implement the identical (count DESC,
    pair ASC) recurrence — same merge table, bit for bit, on the same
    corpus, including tie-heavy and punctuation-bearing vocabularies.
    driver_bound=1 forces the distributed tier on any non-empty corpus."""
    corpora = [
        _sennrich_docs(spark, 5),
        spark.createDataFrame(
            [(0, "a.b a.b a.b c++ c++ c++ aaa aaa bab bab")],
            ["doc_id", "text"],
        ),
    ]
    for df in corpora:
        driver_tier = TK.bpe_train(df, num_merges=12)
        dist_tier = TK.bpe_train(df, num_merges=12, driver_bound=1)
        assert driver_tier == dist_tier
        assert driver_tier  # non-trivial table


def test_bpe_train_probe_is_one_job(spark, jobs_run):
    """The tier probe reads the histogram checkpoint (4 partitions under
    the suite's 4 shuffle partitions) through coalesce(1): one job. A
    bare limit().collect() scaled up over the partitions in two jobs,
    so this sub-bound call ran 10 jobs with it."""
    df = _sennrich_docs(spark)
    assert jobs_run(lambda: TK.bpe_train(df, num_merges=4)) == 10 - 1


def test_bpe_driver_train_matches_reference_large(spark):
    """The driver fold's incremental bookkeeping (inverted index, lazy
    heap, delta counts) equals the naive reference recount on a
    many-word randomized vocabulary — the structures BPE updates
    in-place are exactly the ones a stale-entry bug would corrupt."""
    import random

    rng = random.Random(11)
    alphabet = "abcdef"
    counts: dict[str, int] = {}
    for _ in range(300):
        w = "".join(
            rng.choice(alphabet) for _ in range(rng.randint(1, 8))
        )
        counts[w] = counts.get(w, 0) + rng.randint(1, 9)
    rows = [
        (" ".join(list(w) + [TK.EOW]), c) for w, c in counts.items()
    ]
    got = TK._driver_train(rows, num_merges=60, min_pair_count=2)
    want = _ref_train(counts, 60)
    assert got == want


def _vocab_parity_corpus(spark):
    rows = [
        (0, "lowest newest low low"),
        (1, "wider lower c++ a.b"),
        (2, ""),  # word-less doc must survive with an empty array
        (3, "newest newest widest"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).repartition(5)


def test_bpe_segment_via_vocab_matches_chained_regex(spark):
    """The vocab-join scale path must produce EXACTLY the chained-regex
    segmentation, including empty docs, across a multi-partition corpus
    and in both join modes (broadcast vocab / plain equi-join)."""
    merges = _ref_train(SENNRICH, 8)
    df = _vocab_parity_corpus(spark)
    want = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id", TK.bpe_segment_expr(merges).alias("t")
        ).collect()
    }
    assert want[2] == []  # the empty doc really is the edge case
    for bcast in (True, False):
        got = {
            r["doc_id"]: r["bpe_tokens"]
            for r in TK.bpe_segment_via_vocab(
                df, merges, broadcast_vocab=bcast
            ).collect()
        }
        assert got == want, f"broadcast_vocab={bcast}"


def test_bpe_segment_via_vocab_keeps_columns(spark):
    merges = _ref_train(SENNRICH, 4)
    out = TK.bpe_segment_via_vocab(_vocab_parity_corpus(spark), merges)
    assert set(out.columns) == {"doc_id", "text", "bpe_tokens"}
    assert out.count() == 4

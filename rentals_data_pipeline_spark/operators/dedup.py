"""Near-duplicate deduplication for LLM-data pipelines.

Three families over a ``documents``-shaped table, all built from JVM-side
built-ins so candidate generation stays in whole-stage codegen:

- **MinHash + LSH banding** (``minhash_agg_exprs`` / ``lsh_candidate_pairs``
  / ``minhash_near_dup_pairs``): k-gram shingles → explode → per-doc
  min(xxhash64(h, seed)) aggregate signature → band keys → bucket
  self-join → exact Jaccard verify. The O(n²) pair space is never
  materialized; only same-bucket candidates are verified. For a pair
  with Jaccard j the miss probability is (1 - j^rows)^bands — with the
  default 16 bands × 4 rows over 64 hashes, j ≥ 0.9 pairs are missed
  with p ≈ 4e-8, so results are hash-comparable against an exhaustive
  oracle at test SFs.

- **SimHash** (``simhash``, ``simhash_hamming_pairs``): sign-of-sums
  fingerprint over token hashes (up to 64 bits: md5 nibble-high bits
  plus a salted second md5). Pairing uses pigeonhole blocking: the bits
  split into equal blocks; any pair within Hamming distance blocks-1
  must agree on ≥ 1 whole block, so recall is exactly 1 (deterministic,
  unlike MinHash banding) while candidate generation is an equi-join.
  The catalog runs 64 bits × 4 blocks → 16-bit blocks, 65 536 bucket
  values, so buckets stay ~n/2^16 at corpus scale.

- **Exact / n-gram Jaccard** primitives (``token_ngram_set``,
  ``jaccard``): the verification kernel shared by both families. Exact
  dedup itself is ``relational.dedup_keep_first`` (reference D1,
  jobs/transform.py:107-119).

Hash choice: internal-only values (MinHash signatures, band keys,
shingle-set elements) use xxhash64 — fast, long-typed, allocation-free.
Values that appear in query output and must match the DuckDB oracle
bit-for-bit (SimHash fingerprints) use md5, which both engines compute
identically; md5 there is a fingerprint hash, not crypto.

No reference counterpart (the reference only has exact key dedup,
jobs/transform.py:119); this is the mandated LLM-pipeline extension
surface (BASELINE.json "dedup").
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.functions.rounding import round_half_up

Op = Callable[[DataFrame], DataFrame]

_HIGH_NIBBLE = tuple("89abcdef")  # hex digits with the high bit set


def token_ngram_set(text_col: Column, n: int = 3) -> Column:
    """Distinct word-level n-gram shingles of a text column.

    Word n-grams (not char shingles) because the downstream Jaccard is
    over the shingle *set*; n=3 sharpens near-dup separation on
    small-vocabulary corpora where unigram sets saturate.
    """
    toks = F.split(text_col, r"\s+")
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hash_rows(
    id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> Callable[[DataFrame], DataFrame]:
    """One (id, h) row per word n-gram occurrence, h = xxhash64 of the
    space-joined gram.

    Round-6 shape: grams build INSIDE the token array by indexed
    concat over a positional transform (ten O(1) element reads per
    gram — NOT ``slice`` copies, the interpreted form that dominated
    the LSH queries before round 2, and NOT the r2-r5 posexplode →
    ``lead``-window form, which shuffled EVERY RAW TOKEN on the id to
    sort for the window). The gram stage is now a pure map fused into
    the scan; the downstream per-doc MinHash aggregate partially
    combines map-side, so the only shuffle carries one
    (id, 64 partial mins) row per doc per task instead of the whole
    tokenized corpus — the at-scale win that motivated the change.
    Hashes are byte-identical (same gram strings), so every certified
    consumer is unchanged. Rows are NOT deduped (aggregate with
    ``collect_set``/``min`` downstream, both duplicate-insensitive);
    docs with fewer than n words emit nothing.
    """
    tail = " , ' ', ".join(f"_toks[i + {j}]" for j in range(1, n))
    gram_expr = (
        f"transform(slice(_toks, 1, greatest(size(_toks) - {n - 1}, 0)), "
        f"(t, i) -> xxhash64(concat(t, ' ', {tail})))"
    )

    def _apply(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), F.split(F.col(text_col), r"\s+").alias("_toks")
        ).select(F.col(id_col), F.explode(F.expr(gram_expr)).alias("h"))

    return _apply


def minhash_agg_exprs(h_col: Column, num_hashes: int = 64) -> list[Column]:
    """Per-seed MinHash **aggregate** expressions over an exploded
    shingle-hash column (one bigint row per (doc, shingle)): for seed s,
    ``min(xxhash64(h, s))`` within the group. xxhash64 is uniform over
    the signed-long order, so each seed is a valid uniform min-hash.

    The signature is computed agg-side, not as ``array_min(transform(
    hset, ...))`` over an array column: higher-order array functions are
    evaluated interpreted (no whole-stage codegen), measured ~22µs per
    element-hash vs the flat ``min``-aggregate form that stays entirely
    inside codegen — 344s → 9s for 5k docs × 64 seeds at sf0.1. The
    explode → groupBy shape is also the scalable one: partial mins
    combine map-side, and the one shuffle is on the doc id.

    The signature never appears in query output, so the family needs no
    cross-engine reproducibility — the DuckDB oracle brute-forces exact
    Jaccard and a hash match certifies LSH *recall*, not the signature.
    """
    return [
        F.min(F.xxhash64(h_col, F.lit(s))).alias(f"mh{s}") for s in range(num_hashes)
    ]


def band_keys(sig_exprs: list[Column], bands: int = 16, rows: int = 4) -> Column:
    """LSH band keys: xxhash64 of each band's signature rows."""
    if len(sig_exprs) != bands * rows:
        raise ValueError("need exactly bands*rows signature expressions")
    return F.array(
        *[
            F.xxhash64(*sig_exprs[b * rows : (b + 1) * rows])
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    banded: DataFrame, id_col: str, band_col: str = "band", key_col: str = "band_key"
) -> DataFrame:
    """Bucket self-join: pairs sharing ≥1 (band, key) bucket.

    Input is the exploded (id, band, band_key) table; the join shuffles
    on (band, band_key) — at 100 TB each bucket is tiny (near-dup
    clusters), so this is an equi-join on a high-cardinality key, not a
    cross join. Output pairs are distinct with id_a < id_b.
    """
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=[band_col, key_col])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard(set_a: Column, set_b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| as double (null-safe: empty union → null)."""
    inter = F.size(F.array_intersect(set_a, set_b)).cast("double")
    union = F.size(F.array_union(set_a, set_b)).cast("double")
    return inter / F.nullif(union, F.lit(0.0))


def minhash_near_dup_pairs(
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    threshold: float = 0.5,
    scale: int = 4,
) -> Callable[[DataFrame], DataFrame]:
    """Full near-dup pipeline: shingle → MinHash → LSH buckets →
    candidate pairs → exact-Jaccard verify (> threshold).

    Returns (id_a, id_b, jaccard) with jaccard rounded for stable
    cross-engine hashing.

    Banding is tuned for the standard near-dup regime (true dups at
    j ≥ 0.8–0.9): 16 bands × 4 rows keeps the miss probability at
    (1-0.9⁴)^16 ≈ 4e-8 while admitting only ~p⁴ per band of the
    background pairs — on a corpus with background Jaccard 0.1 that is
    a ~2e-3 candidate rate vs ~15% for 2-row bands. Candidate rate,
    not signature width, dominates cost at scale: every candidate pair
    ships both shingle sets through a shuffle.

    Verification intersects xxhash64-hashed shingles (8-byte longs)
    rather than the shingle strings — ~4× smaller shuffle payload and
    cheaper equality; a 64-bit collision shifting Jaccard across the
    threshold is ~1e-15 per pair.

    Physical plan: explode the hashed shingles to (id, h) rows, then
    ONE groupBy(id) computes the 64 min-hashes AND collect_set's the
    shingle-hash set for verification in the same pass — everything in
    whole-stage codegen, partial aggs combining map-side. That grouped
    result feeds four consumers (both sides of the bucket self-join,
    both sides of the verify join); AQE's ReusedExchange shares the one
    shuffle across them, and the shuffle on the id spreads the work
    across the cluster even when the source is a single file. Docs with
    fewer than n words vanish at the explode: every such doc would
    share the same degenerate signature, which at corpus scale would
    form one quadratic bucket of guaranteed non-matches.
    """

    def _apply(df: DataFrame) -> DataFrame:
        elems = df.transform(shingle_hash_rows(id_col, text_col, ngram))
        sig_exprs = minhash_agg_exprs(F.col("h"), num_hashes)
        grouped = elems.groupBy(id_col).agg(
            F.collect_set("h").alias("hset"), *sig_exprs
        )
        banded = grouped.select(
            id_col,
            F.posexplode(
                band_keys([F.col(f"mh{s}") for s in range(num_hashes)], bands, rows)
            ).alias("band", "band_key"),
        )
        pairs = lsh_candidate_pairs(banded, id_col)
        sets = grouped.select(id_col, "hset")
        verified = (
            pairs.join(
                sets.select(F.col(id_col).alias("id_a"), F.col("hset").alias("set_a")),
                "id_a",
            )
            .join(
                sets.select(F.col(id_col).alias("id_b"), F.col("hset").alias("set_b")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                round_half_up(jaccard(F.col("set_a"), F.col("set_b")), scale).alias(
                    "jaccard"
                ),
            )
            .where(F.col("jaccard") > threshold)
        )
        return verified

    return _apply


# Directory-pruning bucket count for a persisted band index: the gate
# partitions bands/batch=<id> by kb = pmod(hash(band, band_key),
# N_BAND_BUCKETS), and a probe batch's bounded (band, band_key) set
# prunes to its own kb directories. 64 balances prune ratio (a 1-doc
# batch touches <= 16 of 64 dirs) against per-batch file fanout
# (consolidate_gate_storage bounds the long-run dir count either way).
N_BAND_BUCKETS = 64


def band_bucket(
    band: Column, band_key: Column, n_buckets: int = N_BAND_BUCKETS
) -> Column:
    """Stable directory-bucket id for a band-index row. Build and probe
    must use the same ``n_buckets``; the function is a pure column map
    so bucket membership is identical on both sides by construction."""
    return F.pmod(F.hash(band, band_key), F.lit(n_buckets))


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    checkpoint: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Persistable LSH index over a corpus, for INCREMENTAL dedup: new
    batches are checked against the stored index without re-scanning
    (or re-pairing) the corpus — the production shape when a 100 TB
    corpus grows by a few TB a day.

    Returns two frames with the storage layout that keeps the query
    path cheap:

    - ``bands``: one row per (doc, band) — (id, band, band_key). Write
      it partitioned/bucketed by (band, band_key) so the probe join is
      pruned and co-located.
    - ``sets``: one row per doc — (id, hset), the xxhash64 shingle set
      used for the exact-Jaccard verify. Kept separate so the 16x band
      fanout never duplicates the sets.

    The index is a pure per-doc map: ``minhash_index(A union B)`` ==
    ``minhash_index(A) union minhash_index(B)`` row-for-row, so daily
    growth is an append, never a rebuild (pinned by test). Same
    signature parameters must be used at build and probe time. Docs
    shorter than ``ngram`` words are absent (same degenerate-bucket
    rationale as ``minhash_near_dup_pairs``).

    ``checkpoint=True`` localCheckpoints the shared minhash aggregate
    before the two outputs are derived, so a caller that consumes BOTH
    frames (the streaming gate: probe + index write) pays the
    shingle+minhash pass once instead of once per consumer. Batch-only
    (localCheckpoint is illegal on a streaming frame); leave False when
    only one output is used or lineage must stay re-resolvable.
    """
    elems = df.transform(shingle_hash_rows(id_col, text_col, ngram))
    grouped = elems.groupBy(id_col).agg(
        F.collect_set("h").alias("hset"),
        *minhash_agg_exprs(F.col("h"), num_hashes),
    )
    if checkpoint:
        grouped = grouped.localCheckpoint(eager=True)
    banded = grouped.select(
        id_col,
        F.posexplode(
            band_keys([F.col(f"mh{s}") for s in range(num_hashes)], bands, rows)
        ).alias("band", "band_key"),
    )
    return banded, grouped.select(id_col, "hset")


def dedup_against_index(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    threshold: float = 0.5,
    scale: int = 4,
    broadcast_candidates: bool = True,
    broadcast_probe: bool = True,
    materialize_candidates: bool = False,
    probe_index: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """Near-dup check of a NEW batch against an existing corpus index
    (from ``minhash_index``): returns (new_id, corpus_id, jaccard) for
    every cross pair above ``threshold``. Anti-join ``new_docs`` on
    ``new_id`` to keep only novel documents; pairs WITHIN the new batch
    are ``minhash_near_dup_pairs``'s job.

    Recall is identical to pairing over the unioned corpus (same
    signature function, same banding — pinned by an equivalence test),
    but the work is |new| shingling + an equi-join that touches only
    the index buckets the new batch's band keys land in.

    Join orientation at a TB-scale index, enforced rather than
    stats-trusted (size estimates at a toy SF happily build the hash
    relation from the INDEX side, or past the auto-broadcast threshold
    fall back to a sort-merge join that shuffles the whole index;
    pinned by a plan test with auto-broadcast disabled):

    - the band join broadcasts the PROBE band keys (bounded:
      |batch| × bands rows of three scalars) — index bands streamed;
    - the verify side first reduces the index sets to the CANDIDATE
      SLIVER via a left-semi join against the broadcast distinct
      candidate ids (8 bytes each — never the sets themselves, whose
      replication per candidate PAIR is unbounded under band-key
      skew) — index sets streamed through one filtered scan;
    - the final pair join then runs over two candidate-scale
      relations and is left to the optimizer: a shuffle there moves
      the sliver, never the index.

    ``broadcast_candidates`` caveat: the candidate-id set is bounded
    by |batch| × bands × BUCKET WIDTH, and bucket width is a
    CORPUS-side quantity — an index whose boilerplate concentrates
    ~10⁸ docs in one (band, band_key) bucket would push the id
    broadcast past Spark's 8 GB cap and fail the trigger. The default
    True is right for trigger-bounded gate batches against a
    healthily-banded index (ids are 8 bytes; even 10⁶ candidates ≈
    8 MB); for an index with known hot buckets pass False — the
    semi-join is left to the optimizer/AQE, which degrades to a
    completing (if slow) shuffle instead of a failing broadcast. The
    production mitigation for hot buckets is upstream either way:
    re-band, or drop the ubiquitous grams the way
    ``corpus_ngram_topk`` surfaces them.

    ``broadcast_probe`` (default True) hints the probe SHINGLE SETS —
    the one probe-side relation whose rows are variable-width (a set
    per doc, not 8-byte ids). Right for trigger-bounded gate batches;
    for BATCH-mode use on a large ``new_docs``, pass False so the pair
    join degrades to a completing shuffle instead of failing at
    Spark's broadcast cap.

    ``materialize_candidates=True`` localCheckpoints the candidate
    pairs before the id filter is derived from them, so the band join
    (and the index-bands scan under it) runs ONCE per call instead of
    twice — once for the semi-join filter, once as the pair-join
    input. Batch-bounded rows; the streaming gate passes True, default
    False keeps lineage pure for batch composition.

    ``probe_index`` optionally supplies a precomputed
    ``minhash_index(new_docs, ...)`` pair built with IDENTICAL
    parameters — the streaming gate derives its directory-prune key
    set from the same materialized probe instead of re-shingling the
    batch here.
    """
    if probe_index is not None:
        probe_bands, probe_sets = probe_index
    else:
        probe_bands, probe_sets = minhash_index(
            new_docs, id_col, text_col, ngram, num_hashes, bands, rows
        )
    cand = (
        F.broadcast(
            probe_bands.select(
                F.col(id_col).alias("new_id"), "band", "band_key"
            )
        )
        .join(
            index_bands.select(
                F.col(id_col).alias("corpus_id"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    if materialize_candidates:
        cand = cand.localCheckpoint(eager=True)
    cand_ids = cand.select("corpus_id").distinct()
    if broadcast_candidates:
        cand_ids = F.broadcast(cand_ids)
    corpus_sliver = index_sets.select(
        F.col(id_col).alias("corpus_id"),
        F.col("hset").alias("corpus_set"),
    ).join(cand_ids, "corpus_id", "left_semi")
    probe_verify = probe_sets.select(
        F.col(id_col).alias("new_id"),
        F.col("hset").alias("new_set"),
    )
    if broadcast_probe:
        probe_verify = F.broadcast(probe_verify)
    return (
        cand.join(
            probe_verify,
            "new_id",
        )
        .join(corpus_sliver, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            round_half_up(
                jaccard(F.col("new_set"), F.col("corpus_set")), scale
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") > threshold)
    )


def simhash(text_col: Column, nbits: int = 16) -> Column:
    """SimHash fingerprint as an ``nbits``-char '0'/'1' string.

    Bit i is the sign of Σ_tokens (±1), where the ±1 is the high bit of
    hex digit i of an md5 over the token (each md5 nibble is uniform,
    and its high bit is an unbiased coin). Token multiplicity is kept —
    SimHash weights by term frequency. A string (not a long) so the
    oracle SQL stays engine-portable.

    One md5 supplies 32 nibble-high bits; bits 33-64 come from a second
    salted hash, md5('1' || token), keeping every bit expressible in
    DuckDB oracle SQL (md5 is the only hash both engines share).
    """
    if nbits > 64:
        raise ValueError("at most 64 bits (two md5 nibble-high-bit groups)")
    toks = F.split(text_col, r"\s+")
    md5_groups = [F.transform(toks, F.md5)]
    if nbits > 32:
        md5_groups.append(
            F.transform(toks, lambda t: F.md5(F.concat(F.lit("1"), t)))
        )

    def bit_sum(i: int) -> Column:
        # closure factory (not a default arg: pyspark inspects lambda
        # arity, so `lambda acc, h, i=i` would read as a 3-arg merge fn)
        group, j = divmod(i, 32)

        def merge(acc: Column, h: Column) -> Column:
            return acc + F.when(
                F.substring(h, j + 1, 1).isin(*_HIGH_NIBBLE), 1
            ).otherwise(-1)

        return F.aggregate(md5_groups[group], F.lit(0), merge)

    bits = [
        F.when(bit_sum(i) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(nbits)
    ]
    return F.concat(*bits)


def simhash_fingerprints(
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 16,
    out_col: str = "simhash",
) -> Callable[[DataFrame], DataFrame]:
    """SimHash as a DataFrame op — same fingerprint as ``simhash`` but
    computed as explode → md5-per-token-row → one groupBy with ``nbits``
    conditional sums. The Column form folds the token array with
    ``F.aggregate`` × nbits, which runs interpreted (higher-order
    functions never enter whole-stage codegen) and re-hashes every
    token once *per bit*; this shape hashes each token once and keeps
    the whole pipeline in codegen with map-side partial aggregation —
    45s → ~3s for 5k docs × 32 bits at sf0.1. Docs with NULL text are
    dropped (the Column form yields a NULL fingerprint instead).

    Bits 1-32 are the nibble-high bits of md5(token); bits 33-64 come
    from a second salted hash md5('1' || token) — md5 is the only hash
    both Spark and DuckDB expose, so this is the widest fingerprint the
    oracle can replicate.
    """
    if nbits > 64:
        raise ValueError("at most 64 bits (two md5 nibble-high-bit groups)")
    n_groups = 1 if nbits <= 32 else 2

    def _apply(df: DataFrame) -> DataFrame:
        # The per-nibble high bits are extracted numerically: each md5
        # hex string is parsed once into three ≤60-bit longs (conv of
        # 15+15+2 hex digits — 16 would overflow signed 64), and each
        # bit is a shift+mask. The substring(h,i,1).isin(high_nibbles)
        # form allocated 32 single-char strings per token — 8M string
        # ops at sf0.1, 4.6s → 1.5s for the whole aggregation.
        parse_exprs = []
        for g in range(n_groups):
            h = F.md5("tok") if g == 0 else F.md5(F.concat(F.lit(str(g)), F.col("tok")))
            parse_exprs.extend(
                F.conv(F.substring(h, start, width), 16, 10)
                .cast("long")
                .alias(f"g{g}{name}")
                for name, start, width in (("v1", 1, 15), ("v2", 16, 15), ("v3", 31, 2))
            )
        toks = df.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
        ).select(id_col, *parse_exprs)

        def nib_bit(i: int) -> Column:
            # high bit of 1-indexed fingerprint bit i: group g's hex
            # digit j; digit j's bits sit at position (last_digit - j)*4
            # .. +3 of its chunk's long
            g, j = divmod(i - 1, 32)
            j += 1
            if j <= 15:
                src, pos = f"g{g}v1", (15 - j) * 4 + 3
            elif j <= 30:
                src, pos = f"g{g}v2", (30 - j) * 4 + 3
            else:
                src, pos = f"g{g}v3", (32 - j) * 4 + 3
            return F.shiftright(F.col(src), pos).bitwiseAND(F.lit(1))

        sums = toks.groupBy(id_col).agg(
            *[
                F.sum(nib_bit(i + 1) * 2 - 1).alias(f"s{i}")
                for i in range(nbits)
            ]
        )
        bits = [
            F.when(F.col(f"s{i}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(nbits)
        ]
        return sums.select(F.col(id_col), F.concat(*bits).alias(out_col))

    return _apply


def hamming(a: Column, b: Column, nbits: int = 16) -> Column:
    """Hamming distance between two equal-length bit strings."""
    diffs = [
        F.when(F.substring(a, i + 1, 1) != F.substring(b, i + 1, 1), 1).otherwise(0)
        for i in range(nbits)
    ]
    total = diffs[0]
    for d in diffs[1:]:
        total = total + d
    return total


def simhash_hamming_pairs(
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 16,
    blocks: int = 4,
    max_distance: int = 3,
) -> Callable[[DataFrame], DataFrame]:
    """All pairs within SimHash Hamming distance ``max_distance``.

    Candidate generation by pigeonhole blocking: split the fingerprint
    into ``blocks`` equal substrings; a pair with ≤ blocks-1 differing
    bits must match on at least one whole block, so an equi-join on
    (block_idx, block_value) has recall exactly 1 for
    max_distance ≤ blocks - 1. Exact Hamming verify runs only on
    candidates. Returns (id_a, id_b, hamming_distance).

    Block width is the scale lever: each block bucket holds ~n/2^width
    docs, so candidates grow ~n²·blocks/2^width. 8-bit blocks (nbits=32,
    blocks=4) saturate at corpus scale — 256 bucket values → 7.5M
    candidates for just 5k docs at sf0.1. nbits=64 with blocks=4 gives
    16-bit blocks (65 536 bucket values) — the same recall guarantee
    with ~256× fewer collisions per bucket.
    """
    if max_distance > blocks - 1:
        raise ValueError("pigeonhole blocking needs max_distance <= blocks - 1")
    width = nbits // blocks

    def _apply(df: DataFrame) -> DataFrame:
        # The bit-string fingerprint is converted to a long ONCE per doc
        # so the per-pair verify is a single xor + popcount. The naive
        # per-pair form — hamming() over 2×nbits substring extractions —
        # costs ~µs/pair in allocations; at sf0.1 the hot block bucket
        # makes the candidate multiset quadratic (7.5M pairs), where
        # substring hamming took 40s vs ~4s for bit_count(a ^ b). The
        # verify also runs BEFORE distinct, so the distinct only
        # shuffles the ≤max_distance survivors, not the raw multiset.
        hashed = df.transform(simhash_fingerprints(id_col, text_col, nbits, "sh"))
        if nbits <= 32:
            shl = F.conv("sh", 2, 10).cast("long")
        else:
            # conv of a 64-char bit string can exceed signed-long range
            # (cast → NULL); pack two ≤32-bit halves instead — the
            # shiftleft wraps into two's complement, preserving bits.
            shl = F.shiftleft(
                F.conv(F.substring("sh", 1, nbits - 32), 2, 10).cast("long"), 32
            ).bitwiseOR(F.conv(F.substring("sh", nbits - 31, 32), 2, 10).cast("long"))
        blocked = hashed.select(
            id_col,
            shl.alias("shl"),
            F.posexplode(
                F.array(
                    *[F.substring("sh", b * width + 1, width) for b in range(blocks)]
                )
            ).alias("block", "block_val"),
        )
        a = blocked.alias("a")
        b = blocked.alias("b")
        return (
            a.join(b, on=["block", "block_val"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(
                    F.col("a.shl").bitwiseXOR(F.col("b.shl"))
                ).cast("int").alias("hamming_distance"),
            )
            .where(F.col("hamming_distance") <= max_distance)
            .distinct()
        )

    return _apply


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_bound: int = 200_000,
) -> DataFrame:
    """Connected components over an undirected pair list: (id,
    cluster_id) for every node in ``pairs``, labeled by its component's
    minimum id — the canonical representative for duplicate-cluster
    collapse (singletons carry no dedup decision and are omitted).

    Scale-tiered on the DETECTED-pair count, not the corpus. The
    projected pairs are localCheckpoint-ed first and the tier probe
    reads the checkpoint, so the upstream (LSH band join, similarity
    self-join) is evaluated once whichever tier runs. Below
    ``driver_bound`` pairs a path-compressed union-find labels the
    probe rows in one pass: the distributed loop's per-round fixed
    overhead (join + agg + checkpoint + probe job) dwarfs the work on
    small graphs, and near-dup pair sets are tiny relative to their
    corpora (the sf0.1 embedding graph is ~450 edges out of 2000
    vectors). At or above it, ``_connected_components_distributed``
    runs over the same checkpoint. Output is bit-identical either way
    (min-label is strategy-independent), so one oracle certifies both
    tiers.
    """
    pairs = pairs.select(id_a, id_b).localCheckpoint(eager=True)
    # coalesce(1): one task reads the checkpoint up to the bound, so
    # the probe is one job at any partition count (a bare limit
    # collect scales up over the partitions, one job per round)
    probe = pairs.coalesce(1).limit(driver_bound).collect()
    if len(probe) >= driver_bound:
        return _connected_components_distributed(pairs, id_a, id_b, max_iter)
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in probe:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    label: dict = {}
    for node in parent:
        root = find(node)
        cur = label.get(root)
        if cur is None or node < cur:
            label[root] = node
    rows = sorted((node, label[find(node)]) for node in parent)
    return pairs.sparkSession.createDataFrame(
        rows, "id bigint, cluster_id bigint"
    )


def _connected_components_distributed(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> DataFrame:
    """The at-or-above-bound tier of ``connected_components``: min-label
    propagation WITH pointer jumping. Each round every node takes the
    min of (its label, its neighbors' labels, its label's label). The
    extra label-of-label hop (through the previous round's label map)
    compresses label chains each round — measured 17 rounds -> 11 on
    the sf0.1 embedding near-dup graph; per-round cost is dominated by
    fixed job overhead on these tiny label frames.

    Distributed-iteration mechanics that matter at scale:

    - The driver loop controls ONLY iteration count and the scalar
      convergence probe; label and edge data never leave the executors.
      The probe is the SUM of labels (decimal(38,0) — no overflow at
      any node count): labels are per-node non-increasing under
      min-propagation over a fixed node set, so the sum strictly
      decreases until fixpoint — one scan + scalar agg per round
      instead of a new-vs-old label equi-join (which was a fourth
      shuffle per round, pure fixed overhead on the tiny label
      frames that dominate this loop's cost at bench scale).
    - Each round's result is ``localCheckpoint``-ed: without lineage
      truncation an iterative DataFrame plan doubles per round and
      planning time explodes long before data size matters.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    _label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(_label_sum).collect()[0][0]
    for _ in range(max_iter):
        msgs = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"), F.col("label")
        )
        hop = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: follow label -> label-of-label through the
        # PREVIOUS round's (checkpointed) label map — an independent
        # plan, so no self-join of hop with itself (which trips
        # attribute resolution under AQE on complex lineage). Same
        # chain compression, one round behind.
        lookup = labels.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        jumped = (
            hop.join(lookup, hop["label"] == F.col("_lid"), "left")
            .select(
                hop["id"],
                F.least(
                    hop["label"], F.coalesce(F.col("_llabel"), hop["label"])
                ).alias("label"),
            )
        )
        # eager: lazy localCheckpoint under AQE hits attribute-
        # resolution errors (key not found: id#...) on complex input
        # lineage; the eager materialization costs ~10% per round
        new_labels = jumped.localCheckpoint(eager=True)
        new_sum = new_labels.agg(_label_sum).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("id", F.col("label").alias("cluster_id"))


def shingle_digest_rows(
    id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> Callable[[DataFrame], DataFrame]:
    """One (id, d) row per word n-gram, d = md5 hex digest of the
    space-joined gram. md5 is the hash both engines share, so
    digest-keyed set operations (decontamination's overlap join)
    certify against a DuckDB oracle value-for-value, and the shuffle
    key is a fixed 32-byte digest rather than a variable-width gram
    string. Docs with fewer than ``n`` words emit nothing; rows are
    NOT deduped (downstream joins/distincts are duplicate-safe).

    Round-6 shape: grams are built INSIDE the token array by indexed
    concat over a positional transform — ten O(1) element reads per
    gram — and exploded already digested. The previous posexplode →
    lead-window form SHUFFLED every token on the id to sort for the
    window: a full-corpus token shuffle at 100 TB that this form
    eliminates entirely (the gram stage is now a pure map fused into
    the scan; byte-identical digests, so every certified consumer is
    unchanged — same lesson as text.py::duplicated_ngram_fraction,
    where the indexed concat also measured 2.5x faster than
    per-position ``slice`` copies)."""
    tail = " , ' ', ".join(f"_toks[i + {j}]" for j in range(1, n))
    gram_expr = (
        f"transform(slice(_toks, 1, greatest(size(_toks) - {n - 1}, 0)), "
        f"(t, i) -> md5(concat(t, ' ', {tail})))"
    )

    def _apply(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), F.split(F.col(text_col), r"\s+").alias("_toks")
        ).select(F.col(id_col), F.explode(F.expr(gram_expr)).alias("d"))

    return _apply


def gram_position_rows(
    id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> Callable[[DataFrame], DataFrame]:
    """One (id, pos, d) row per word n-gram — ``shingle_digest_rows``
    plus the 0-based token position, for span reconstruction. Same
    in-array indexed-concat build (pure map fused into the scan, no
    token-level shuffle), same md5 digests, so the oracle replays
    positions exactly."""
    tail = " , ' ', ".join(f"_toks[i + {j}]" for j in range(1, n))
    gram_expr = (
        f"transform(slice(_toks, 1, greatest(size(_toks) - {n - 1}, 0)), "
        f"(t, i) -> struct(i AS pos, md5(concat(t, ' ', {tail})) AS d))"
    )

    def _apply(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(id_col), F.split(F.col(text_col), r"\s+").alias("_toks")
            )
            .select(F.col(id_col), F.explode(F.expr(gram_expr)).alias("_g"))
            .select(
                F.col(id_col),
                F.col("_g.pos").cast("long").alias("pos"),
                F.col("_g.d").alias("d"),
            )
        )

    return _apply


def shared_span_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_span_tokens: int = 12,
    max_doc_freq: int = 64,
) -> DataFrame:
    """Cross-document EXACT shared spans — the substring-level dedup
    modality of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" (public paper; they use suffix arrays),
    re-expressed relationally for Spark: a shared token span of length
    L appears as L-n+1 consecutive n-gram digest matches lying on one
    (id_a, id_b, pos_a - pos_b) DIAGONAL, so spans fall out of the
    classic gaps-and-islands window over candidate matches:

    1. (id, pos, digest) gram rows — pure map, no token shuffle;
    2. doc-frequency cap: grams present in more than ``max_doc_freq``
       docs are dropped BEFORE pairing (a boilerplate 5-gram in f docs
       would otherwise fan out ~f^2 match rows — the standard hot-
       shingle guard; the cap is part of the operator's semantics and
       the oracle replays it);
    3. digest self-join (id_a < id_b) — the candidate stage; match
       volume is sum over grams of f_a*f_b, bounded by the cap;
    4. islands: row_number per (pair, diagonal) ordered by pos_a;
       pos_a - row_number is constant exactly on consecutive runs;
    5. one aggregation per island -> span rows
       (count + n - 1 tokens, start positions), filtered to
       ``min_span_tokens``.

    Output: one row per maximal shared span (id_a, id_b, span_tokens,
    a_start, b_start) — a deterministic SET (no tie-breaking), so the
    whole operator hash-certifies. Window partitions are per
    (pair, diagonal) — candidate-sized, never corpus-sized."""
    g = docs.transform(gram_position_rows(id_col, text_col, n))
    keep = (
        g.groupBy("d")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .where(F.col("_df") <= max_doc_freq)
        .select("d")
    )
    g = g.join(keep, "d", "left_semi")
    a = g.select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("pa"), "d"
    )
    b = g.select(
        F.col(id_col).alias("id_b"), F.col("pos").alias("pb"), "d"
    )
    m = a.join(b, "d").where(F.col("id_a") < F.col("id_b"))
    w = Window.partitionBy(
        "id_a", "id_b", F.col("pa") - F.col("pb")
    ).orderBy("pa")
    isl = m.select(
        "id_a",
        "id_b",
        "pa",
        "pb",
        (F.col("pa") - F.row_number().over(w)).alias("_grp"),
    )
    return (
        isl.groupBy("id_a", "id_b", (F.col("pa") - F.col("pb")).alias("_diag"), "_grp")
        .agg(
            (F.count(F.lit(1)) + F.lit(n - 1)).cast("long").alias("span_tokens"),
            F.min("pa").cast("long").alias("a_start"),
            F.min("pb").cast("long").alias("b_start"),
        )
        .where(F.col("span_tokens") >= min_span_tokens)
        .select("id_a", "id_b", "span_tokens", "a_start", "b_start")
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination — the eval-leakage guard every LLM
    training pipeline runs before a data release: drop every training
    document sharing at least one word ``n``-gram with any benchmark
    document. Returns the surviving ``train`` rows unchanged.

    Plan shape: both sides shingle through the in-array indexed-concat
    path (``shingle_digest_rows`` — a pure map fused into the scan; as
    of round 6 NO window, so no token-level shuffle anywhere), the
    benchmark's digest SET is deduplicated, and contamination is two
    hash joins — a semi join marking contaminated train ids, then an
    anti join dropping them.
    No text ever crosses a shuffle: only 32-byte digests and ids. At
    100 TB the benchmark side is eval-suite-sized (thousands of docs →
    at most a few million distinct digests), so AQE broadcasts it and
    the train side never shuffles at all; if a pathological benchmark
    outgrows the broadcast threshold the same plan degrades to a
    co-partitioned shuffle join, never to n².
    """
    tr_shingles = train.transform(shingle_digest_rows(id_col, text_col, n))
    bm_digests = (
        benchmark.transform(shingle_digest_rows(id_col, text_col, n))
        .select("d")
        .distinct()
    )
    contaminated = (
        tr_shingles.join(bm_digests, "d", "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def bloom_filter_relation(
    keys: DataFrame,
    key_col: str,
    m_bits: int,
    k_hashes: int,
) -> DataFrame:
    """Build a Bloom filter over ``keys[key_col]`` as a RELATION of
    (word index, 64-bit word) — the bitmap chunked into longs — so the
    filter is a plain broadcastable DataFrame, not driver state.

    Spark's internal BloomFilterAggregate is not a public SQL function,
    and collecting keys to build a driver-side sketch is the unbounded-
    driver shape this engine bans; this stays fully relational: k
    xxhash64 positions per key, explode, ``bit_or`` of ``1 << (pos %
    64)`` grouped by ``pos div 64``. Size is <= m_bits/64 rows × 16 B —
    a 2^27-bit filter (1% FPR at ~10M keys with k=4) is a ~32 MB
    relation, broadcastable where the raw 32-byte digest set (320 MB+)
    is not. The aggregation combines map-side, so ~m_bits/64 rows cross
    the wire per task regardless of key count. Membership tests join on
    the word index (``bloom_might_contain``)."""
    if m_bits < 64 or k_hashes < 1:
        raise ValueError("m_bits must be >= 64 and k_hashes >= 1")
    positions = F.array(
        *[
            F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
            for i in range(k_hashes)
        ]
    )
    return (
        keys.select(F.explode(positions).alias("_pos"))
        .select(
            F.expr("_pos div 64").cast("long").alias("bloom_word"),
            # expr form: the PySpark shiftleft wrapper only takes a
            # literal int shift amount
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias(
                "_bit"
            ),
        )
        .groupBy("bloom_word")
        .agg(F.bit_or("_bit").alias("bloom_bits"))
    )


def bloom_might_contain(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int,
    k_hashes: int,
) -> DataFrame:
    """Keep the rows of ``df`` whose ``key_col`` MIGHT be in the Bloom
    relation (no false negatives; false-positive rate set by m/n and
    k). k chained broadcast hash joins — one per hash position, each a
    zero-shuffle probe of the (word, bits) relation — AND-ed by inner
    join + bit test: a row survives only if every one of its k bits is
    set. The probe side never shuffles; downstream exact verification
    sees only the surviving sliver."""
    reserved = {"_pos", "_bw", "_bb"}
    clash = [
        c for c in df.columns if any(c.startswith(r) for r in reserved)
    ]
    if clash:  # same contract as global_top_n's reserved-name guard
        raise ValueError(f"input columns collide with bloom internals: {clash}")
    out = df
    for i in range(k_hashes):
        pos = F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
        b = bloom.select(
            F.col("bloom_word").alias(f"_bw{i}"),
            F.col("bloom_bits").alias(f"_bb{i}"),
        )
        out = (
            out.withColumn(f"_pos{i}", pos)
            .join(
                F.broadcast(b),
                F.expr(f"_pos{i} div 64") == F.col(f"_bw{i}"),
            )
            .where(
                F.expr(
                    f"shiftright(_bb{i}, CAST(_pos{i} % 64 AS INT)) & 1"
                )
                == 1
            )
            .drop(f"_pos{i}", f"_bw{i}", f"_bb{i}")
        )
    return out


def decontaminate_bloom(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Benchmark decontamination with a Bloom prefilter — EXACTLY the
    output of :func:`decontaminate` (the filter admits no false
    negatives, and an exact digest semi-join re-verifies the bloom-
    positive sliver, discarding its false positives), with the scale
    profile a 100 TB corpus needs:

    - :func:`decontaminate` broadcasts the benchmark's full distinct
      digest set (32 B/​digest — hundreds of MB for a large eval
      suite). Here only the m_bits/64-row bloom relation broadcasts
      (64x+ smaller at 1% FPR), and the TRAIN side still never
      shuffles: shingling is a fused map, and the k membership probes
      are broadcast hash joins.
    - the exact verify join then runs on bloom-positive shingles only
      (true contamination + ~FPR of the corpus), so the digest set is
      joined against a sliver, not the corpus — the planner can
      shuffle both small sides instead of broadcasting the digests.

    Size ``m_bits`` ~ 32x the expected distinct benchmark digests for
    ~2% FPR at k=4 (FPR only costs verify-join work, never
    correctness). Certified against the same oracle as the exact
    operator: identical output is the contract, pinned by test."""
    bloom, bm_digests = bloom_decon_index(
        benchmark, id_col, text_col, n, m_bits, k_hashes
    )
    # materialize the tiny bloom relation once: the k membership
    # probes each broadcast it, and the per-probe column aliases would
    # otherwise defeat exchange reuse and recompute the benchmark
    # shingle subtree k times
    return decontaminate_with_index(
        train,
        bloom.localCheckpoint(eager=True),
        bm_digests,
        id_col,
        text_col,
        n,
        m_bits,
        k_hashes,
    )


def bloom_decon_index(
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Persistable decontamination index over a benchmark corpus — the
    Bloom-prefilter counterpart of :func:`minhash_index`'s (bands,
    sets): returns ``(bloom, digests)`` where ``bloom`` is the
    (bloom_word, bloom_bits) relation of :func:`bloom_filter_relation`
    over the benchmark's distinct ``n``-gram digests and ``digests``
    is that digest set itself (the exact verifier the probe's
    bloom-positive sliver re-checks against).

    MERGE-COMPOSABLE: ``bit_or`` is commutative and idempotent, so
    ``bloom_decon_index(A union B).bloom`` equals
    ``merge_bloom_relations(bloom(A), bloom(B))`` row-for-row and
    ``digests`` merge by union+distinct (pinned by property test) —
    adding a new eval suite to a persisted index is an append + fold,
    never a rebuild over every benchmark ever ingested. The same
    (n, m_bits, k_hashes) must be used at build and probe time, like
    ``minhash_index``'s signature contract."""
    bm_digests = (
        benchmark.transform(shingle_digest_rows(id_col, text_col, n))
        .select("d")
        .distinct()
    )
    return (
        bloom_filter_relation(bm_digests, "d", m_bits, k_hashes),
        bm_digests,
    )


def merge_bloom_relations(*blooms: DataFrame) -> DataFrame:
    """Fold any number of (bloom_word, bloom_bits) relations built with
    the SAME (m_bits, k_hashes) into the relation of their key union:
    union + ``groupBy(bloom_word).agg(bit_or)``. The fold is
    m_bits/64-rows-per-input cheap and combines map-side."""
    if not blooms:
        raise ValueError("merge_bloom_relations needs at least one input")
    merged = blooms[0]
    for b in blooms[1:]:
        merged = merged.unionByName(b)
    return merged.groupBy("bloom_word").agg(
        F.bit_or("bloom_bits").alias("bloom_bits")
    )


def decontaminate_with_index(
    train: DataFrame,
    bloom: DataFrame,
    digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Decontaminate ``train`` against a PRE-BUILT index from
    :func:`bloom_decon_index` (possibly merged across suites): k
    zero-shuffle broadcast bloom probes route only the bloom-positive
    shingle sliver into the exact digest semi-join, then the
    contaminated ids anti-join away — byte-identical output to
    :func:`decontaminate` on the same benchmark, at the index's
    probe cost. This is the seam the streaming decontamination gate
    reuses per micro-batch (the index is storage-resident state, read
    once per run, never rebuilt per batch)."""
    tr_shingles = train.transform(shingle_digest_rows(id_col, text_col, n))
    candidates = bloom_might_contain(
        tr_shingles, "d", bloom, m_bits, k_hashes
    )
    contaminated = (
        candidates.join(digests.select("d"), "d", "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def edit_distance_pairs(
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 8,
    bucket_chars: int = 16,
) -> Callable[[DataFrame], DataFrame]:
    """Edit-distance (Levenshtein) near-dup pairs — the FUZZY-MATCH
    member of the dedup family: shingle/MinHash methods see token-level
    overlap, this sees character-level edits (typos, OCR noise,
    single-word substitutions), and the certified corpus near-dups sit
    at distance 4 (one substituted word).

    Scale shape: the quadratic verify is confined to candidate blocks.
    Each document probes TWO length buckets (len//B and len//B + 1) so
    a pair straddling a bucket boundary still collides — valid because
    distance ``d`` bounds the length difference by ``d`` <= B; the
    first character joins the key to split heavy buckets (an edit
    there evades this generator by design — it's the cheap blocking
    tier; the MinHash path catches prefix edits).  Pairs deduplicate
    (a boundary pair collides in up to 2 buckets) BEFORE the
    O(len^2)-per-pair Levenshtein verify, which short-circuits at
    ``max_dist`` via the threshold argument.
    """

    def _apply(df: DataFrame) -> DataFrame:
        lb = (F.length(text_col) / bucket_chars).cast("long")
        blocked = df.select(
            F.col(id_col),
            F.col(text_col),
            F.substring(text_col, 1, 1).alias("_c1"),
            F.explode(F.array(lb, lb + 1)).alias("_bk"),
        )
        a, b = blocked.alias("a"), blocked.alias("b")
        cand = (
            a.join(b, on=["_bk", "_c1"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col(f"a.{text_col}").alias("_ta"),
                F.col(f"b.{text_col}").alias("_tb"),
            )
            .distinct()
        )
        dist = F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist)
        return (
            cand.select("id_a", "id_b", dist.alias("edit_dist"))
            .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
        )

    return _apply


def span_dedup_rewrite(
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 8,
) -> Callable[[DataFrame], DataFrame]:
    """Corpus-level span deduplication with REWRITE — the C4/RefinedWeb
    "remove repeated spans, keep the first occurrence" curation step
    (C4 drops any three-sentence span seen before; this corpus has no
    sentence structure, so the unit is a fixed window of ``span_words``
    whitespace tokens). Unlike ``shared_span_pairs`` (detection — which
    PAIRS share spans), this REWRITES the corpus: every span instance
    that is not the globally first occurrence of its content is deleted
    and each document is reassembled from its surviving spans. Returns
    (doc_id, n_spans, kept_spans, new_text); documents with zero words
    produce no row (they have no spans to judge — the degenerate-input
    test pins this).

    First occurrence is by (doc_id, span index) lexicographic order — a
    total, engine-independent order, so the survivor set is
    deterministic and the DuckDB oracle replays it exactly. A document
    whose every span occurred earlier elsewhere keeps an EMPTY
    new_text — real curation drops such rows downstream; keeping them
    here makes the removal auditable (kept_spans = 0).

    Scale shape (the reason this is written span-first, not
    token-explode-first): spans are built per-row with array ops
    (split → filter → slice — one fused codegen map, no token explode,
    no window), so the explode factor is n_words/span_words, not
    n_words. Then exactly three shuffles, each on a natural key: the
    first-occurrence MIN aggregates on md5(span) — a fixed 32-byte
    digest, never the span TEXT, so the shuffle payload is flat no
    matter how long spans get (C4's unit is THREE SENTENCES — hundreds
    of bytes — and content-keyed shuffles must carry digests, the same
    discipline the decontamination path enforces; md5 here is a
    fingerprint, collision-free at any realistic corpus size, the
    split-leakage bow-fingerprint precedent). The join back recomputes
    the digest codegen-side (AQE broadcasts the firsts sliver);
    groupBy(doc_id) reassembles. Nothing quadratic anywhere and no
    driver state — this is the shape that survives 100 TB, where the
    span table is the corpus re-keyed by content hash.
    """
    if span_words < 1:
        raise ValueError("span_words must be >= 1")

    def _apply(df: DataFrame) -> DataFrame:
        words = F.filter(
            F.split(F.col(text_col), " "), lambda w: w != F.lit("")
        )
        n_spans = F.expr(
            f"CAST(ceil(size(_words) / CAST({span_words} AS DOUBLE)) AS INT)"
        )
        spans = F.transform(
            F.sequence(F.lit(0), F.col("_n") - 1),
            lambda i: F.struct(
                i.cast("long").alias("g"),
                F.array_join(
                    F.slice(F.col("_words"), i * span_words + 1, span_words),
                    " ",
                ).alias("span"),
            ),
        )
        inst = (
            df.select(F.col(id_col), words.alias("_words"))
            .withColumn("_n", n_spans)
            .where(F.col("_n") > 0)  # zero-word docs have no spans
            .select(F.col(id_col), F.explode(spans).alias("_s"))
            .select(
                F.col(id_col),
                F.col("_s.g").alias("g"),
                F.col("_s.span").alias("span"),
            )
        )
        firsts = (
            inst.select(F.md5("span").alias("_d"), id_col, "g")
            .groupBy("_d")
            .agg(F.min(F.struct(F.col(id_col), F.col("g"))).alias("_first"))
        )
        kept = (F.col("_first")[id_col] == F.col(id_col)) & (
            F.col("_first")["g"] == F.col("g")
        )
        return (
            inst.withColumn("_d", F.md5("span"))
            .join(firsts, "_d")
            .select(F.col(id_col), "g", "span", kept.alias("_kept"))
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_spans"),
                F.sum(F.col("_kept").cast("long")).alias("kept_spans"),
                F.array_join(
                    F.transform(
                        # collect_list drops the nulls the when() leaves
                        # for removed spans, so only survivors are sorted
                        # back into document order
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_kept"),
                                    F.struct(F.col("g"), F.col("span")),
                                )
                            )
                        ),
                        lambda s: s["span"],
                    ),
                    " ",
                ).alias("new_text"),
            )
        )

    return _apply


# Directory-bucket count for a persisted cluster map (same discipline
# as N_BAND_BUCKETS: the constant is baked into directory names, so
# build and probe must agree; recorded by a map_meta marker dir).
N_CLUSTER_MAP_BUCKETS = 16

CLUSTER_MAP_SCHEMA = "doc_id long, cluster_id long, sz long"


def cluster_map(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The near-dup CLUSTER MAP: (doc_id, cluster_id, sz) for every
    document that belongs to a near-dup cluster (word-``ngram`` Jaccard
    > ``threshold``, the certified ``minhash_near_dup_pairs`` →
    ``connected_components`` chain), where ``cluster_id`` is the
    component's min doc_id and ``sz`` its member count. Docs outside
    any cluster are absent — consumers left-join and treat absence as
    a singleton (sz 1), exactly like the soft-dedup weight fold.

    This is the single most expensive artifact of the dedup workload
    (shingle → minhash → band join → CC fixpoint); every cluster
    report (duplicate clusters, size histogram, soft-dedup weights)
    is a cheap aggregation OVER it. Computing it once and persisting
    it (``write_cluster_map``) converts the workload's dominant
    repeated cost term into one — the r12 verdict's cross-query analog
    of the contamination-report single-digest rewrite.

    The size join is hint-free on purpose (the soft-dedup lesson): on
    a sparse dup graph AQE demotes it to a broadcast at runtime, while
    a template-heavy corpus whose clustered slice is corpus-
    proportional degrades to a shuffle join instead of a driver OOM.
    """
    pairs = docs.transform(
        minhash_near_dup_pairs(
            id_col=id_col, text_col=text_col, ngram=ngram,
            threshold=threshold,
        )
    )
    cc = connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return cc.join(sizes, "cluster_id").select(
        F.col("id").cast("long").alias(id_col),
        F.col("cluster_id").cast("long"),
        F.col("sz").cast("long"),
    )


def write_cluster_map(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    n_buckets: int = N_CLUSTER_MAP_BUCKETS,
) -> None:
    """Materialize the cluster map once under ``path`` (the persisted-
    index pattern of the decon / LSH-band / SemDeDup indexes): rows
    land in ``<path>/map/kb=<bucket>`` hive dirs keyed by
    ``pmod(hash(doc_id), n_buckets)`` so a point-probe ("which cluster
    is THIS doc in?") directory-prunes to one bucket, while the
    cluster reports read the whole map (tiny next to the corpus). An
    empty corpus writes a schema-bearing empty file under ``kb=0`` —
    the same discovery anchor as ``init_dedup_index`` — and the bucket
    count is recorded as a ``map_meta/n_buckets=<N>`` marker dir so a
    build-vs-probe constant drift fails fast instead of silently
    mis-pruning."""
    m = cluster_map(docs, id_col, text_col, ngram, threshold)
    # the CC chain already ran driver-side jobs; checkpoint so the
    # emptiness probe and the write don't re-run the minhash pass
    m = m.localCheckpoint(eager=True)
    spark = docs.sparkSession
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    if m.isEmpty():
        # a kb=0-only overwrite would leave a PREVIOUS build's
        # kb=1..N-1 dirs serving stale clusters (review pass 1) —
        # refresh-to-empty must clear the whole map like the
        # partitioned overwrite in the non-empty branch does
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/map"), True)
        # repartition(1) guarantees one write task → one schema-bearing
        # (footer-only) file, the discovery anchor; a 0-partition empty
        # frame would write nothing and the read would fail
        m.repartition(1).write.mode("overwrite").parquet(f"{path}/map/kb=0")
    else:
        m.withColumn(
            "kb", F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets))
        ).write.partitionBy("kb").mode("overwrite").parquet(f"{path}/map")
    # replace (never accumulate) the bucket-count marker: a rebuild
    # under a new constant must leave exactly one marker, or the
    # guard's "rebuild the map" remedy can never succeed (review)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/map_meta"), True)
    fs.mkdirs(
        jvm.org.apache.hadoop.fs.Path(
            f"{path}/map_meta/n_buckets={n_buckets}"
        )
    )


def _guard_cluster_map_meta(
    spark: SparkSession, path: str, n_buckets: int
) -> None:
    """Fail fast when the ``map_meta`` marker disagrees with this
    build's bucket constant (a point-probe computed under the wrong
    constant would prune to the wrong directory and silently miss)."""
    jvm = spark._jvm
    meta = jvm.org.apache.hadoop.fs.Path(f"{path}/map_meta")
    fs = meta.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(meta):
        vals = [
            st.getPath().getName().split("=", 1)[1]
            for st in fs.listStatus(meta)
            if st.getPath().getName().startswith("n_buckets=")
        ]
        if vals and vals != [str(n_buckets)]:
            raise ValueError(
                f"cluster map at {path} was bucketed with "
                f"n_buckets={vals} but this build uses {n_buckets}; "
                f"point-probes would silently miss — rebuild the map"
            )


def read_cluster_map(
    spark: SparkSession,
    path: str,
    n_buckets: int = N_CLUSTER_MAP_BUCKETS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Read a persisted cluster map back as (doc_id, cluster_id, sz),
    after the ``map_meta`` constant guard."""
    _guard_cluster_map_meta(spark, path, n_buckets)
    return spark.read.parquet(f"{path}/map").select(
        id_col, "cluster_id", "sz"
    )


def probe_cluster_map(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = N_CLUSTER_MAP_BUCKETS,
) -> DataFrame:
    """Directory-pruned point lookup against a persisted cluster map:
    for each probe id, (id, cluster_id, sz) — unclustered ids come
    back as their own singleton (cluster_id = id, sz = 1), so the
    output is total over the probe set (the soft-dedup absence
    convention).

    Scale shape: the probe ids' bucket values are collected (a
    ≤ ``n_buckets``-row distinct — bounded by the CONSTANT, not the
    probe count, so the driver materialization can never grow) and
    pushed as a static ``kb IN (...)`` partition filter, so the map
    scan reads only the hit ``kb=`` directories — the same
    directory-pruning discipline as the streaming LSH gate's band
    probe. A small probe batch touches a fraction of the map's files;
    a probe set hitting every bucket degrades to the full (still
    map-sized, corpus-free) scan."""
    _guard_cluster_map_meta(spark, path, n_buckets)
    m = spark.read.parquet(f"{path}/map")
    # hash the LONG-cast id: the map's kb was computed on the long ids
    # cluster_map emits, and Murmur3 hashes int 7 and long 7 to
    # different values — an un-cast int probe would prune to the wrong
    # directories and fabricate singletons silently (review pass 1)
    kbs = [
        r[0]
        for r in probes.select(
            F.pmod(
                F.hash(F.col(id_col).cast("long")), F.lit(n_buckets)
            ).alias("kb")
        )
        .distinct()
        .collect()
        if r[0] is not None
    ]
    pruned = (
        m.where(F.col("kb").isin(kbs)) if kbs else m.where(F.lit(False))
    )
    return (
        probes.select(id_col)
        .join(pruned.select(id_col, "cluster_id", "sz"), id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce(F.col("sz"), F.lit(1)).cast("long").alias("sz"),
        )
    )

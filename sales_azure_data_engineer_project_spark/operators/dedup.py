"""Deduplication operator family for training-data pipelines.

Three tiers, all shuffle-aware and expressed with built-in functions:

- **exact**        hash-groupBy on content digest — one shuffle on the
                   digest; the cheapest possible dedup (shuffle of
                   16-byte keys, map-side combine).
- **MinHash + LSH**  md5-based minhash signatures, banded; candidate
                   pairs only where a band bucket collides, verified by
                   exact shingle Jaccard.  Signature size is constant
                   per doc and the band join shuffles only (doc,
                   band-sig) pairs.
- **SimHash**      64-bit vote fingerprint from md5 bits, kept as four
                   16-bit blocks; pairs within Hamming 3 agree on at
                   least one block, so candidates come from block
                   equi-joins and are verified by exact Hamming distance.

All hashes are md5-hex so a DuckDB oracle can reproduce results
byte-for-byte; minhash "min" is lexicographic over hex strings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import TOKEN_RE, fingerprint_md5
from ..caching import tracked_persist

__all__ = [
    "exact_dedup_groups",
    "shingle_explode",
    "minhash_bands",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "minhash_verified_pairs",
    "simhash_hamming_pairs",
]


# Word n-gram length of every shingle (the oracles' ``_SHINGLE_SQL``
# uses the same 3).
_SHINGLE_N = 3


def shingles_from_tokens(toks: Column) -> Column:
    """Distinct word ``_SHINGLE_N``-gram shingles from a *bound tokens
    column*; empty array when there are fewer tokens than that.

    Callers must materialize the token array as a real column first:
    referencing ``split(text)`` inline would re-run the regex split for
    every ``element_at`` inside the lambda (Spark does no CSE through
    higher-order functions — measured 4× slowdown).

    (The <n guard matters: Spark's ``sequence(0, -1)`` counts *down*,
    unlike DuckDB's ``generate_series`` which returns empty.)
    """
    n = _SHINGLE_N
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(F.array()))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: one row per distinct content, keeper = min id.

    Output: (text_md5, keeper_id, n_copies)."""
    return (
        df.select(fingerprint_md5(text_col).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).cast("bigint").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_explode(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) pairs, distinct shingles per document.

    Tokens are BOUND in a projection before the gram lambda (round-4:
    the previous version inlined ``split(text)`` into the higher-order
    lambda, re-running the regex per
    ``element_at`` — Spark does no CSE through lambdas; measured 7.3 s
    → 0.7 s for explode+hash at sf0.1)."""
    toks = df.select(F.col(id_col), F.split(F.col(text_col), TOKEN_RE).alias("__toks"))
    return toks.select(
        F.col(id_col), F.explode(shingles_from_tokens(F.col("__toks"))).alias("sh")
    )


def _shingled_with_sig(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
) -> DataFrame:
    """(id, shingles array<long>, h0..h{n-1}) in ONE tokenization pass
    and ONE aggregate — for callers that need both the identity arrays
    (candidate verification) and the md5 minhash signature (banding).
    Docs with zero shingles are absent, exactly as in
    ``minhash_signatures``."""
    sh = shingle_explode(df, id_col, text_col)
    return (
        sh.groupBy(id_col)
        .agg(
            F.collect_list(F.xxhash64("sh")).alias("shingles"),
            *[
                F.min(
                    F.unhex(
                        F.md5(
                            F.concat(F.lit(f"{i}:"), F.col("sh")).cast("binary")
                        )
                    )
                ).alias(f"h{i}")
                for i in range(n_hashes)
            ],
        )
        .transform(tracked_persist)
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    band_size: int = 4,
) -> DataFrame:
    """Banded MinHash signatures: one row per (id, band_idx, band_sig).

    hash_i(doc) = min over shingles of md5(i || ':' || shingle) —
    deterministic, engine-portable (lexicographic min over hex).
    """
    sig = minhash_signatures(df, id_col, text_col, n_hashes=n_hashes)
    return _bands_from_sig(sig, id_col, n_hashes=n_hashes, band_size=band_size)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
) -> DataFrame:
    """Per-doc minhash signature columns (h0..h{n-1}) — the
    constant-size-per-doc sketch the banding, the estimator
    calibration, and candidate generation all share.  Persisted: every
    consumer re-reads the signatures, and without the persist the
    shingle→md5→min pipeline would re-run per consumer.

    The RAW shingle strings stream straight off this text scan into
    the md5 mins and are never materialized or cached: a string-array
    shingle cache is the largest frame the dedup path could build.

    All n_hashes seeds evaluate as SIBLING expressions on each
    exploded shingle row — md5 count is unchanged (n per shingle),
    but the aggregate's input is |shingles| rows instead of the
    n·|shingles| a seed-explode would push through it (the pre-r8
    form).  Values identical: min over the same {md5(i:sh)} set
    either way.

    Round-10 (guide §2.3 narrower types): signatures are 16-byte
    BINARY digests (``unhex(md5(...))``) end-to-end, not 32-char hex
    strings.  Spark's BINARY comparison is unsigned byte-wise
    lexicographic and lowercase hex encoding is order-preserving
    (nibble values 0-15 map to the ascending ASCII run 0-9a-f), so
    ``min(unhex(x)) ≡ unhex(min(x))`` — the argmin shingle, every
    h-column equality class, and every band bucket are IDENTICAL to
    the hex form the DuckDB oracles replay; only the representation
    narrows.  No registered query exposes a signature or band value
    (they are grouped away into ids/counts), so outputs are unchanged.
    What it buys at scale: the corpus-proportional signature cache and
    the banded-join shuffle halve (16 B vs 32 B + string overhead per
    value)."""
    sh = shingle_explode(df, id_col, text_col)
    return sh.groupBy(id_col).agg(
        *[
            F.min(
                F.unhex(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")).cast("binary"))
                )
            ).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    ).transform(tracked_persist)


def _bands_from_sig(
    sig: DataFrame,
    id_col: str,
    *,
    n_hashes: int,
    band_size: int,
) -> DataFrame:
    """Banded signatures from a (persisted) signature frame: one
    constant-width projection per band, unioned.

    ``band_sig`` is a 16-byte BINARY digest over the plain concat of
    the band's fixed-width 16-byte h columns (round-10; h columns are
    binary now).  Fixed-width fields make the separator-less concat
    injective, so two docs share a band_sig iff their h tuples are
    equal — the same bucket partition the hex-and-'|' oracle form
    produces — while the |docs|·n_bands banded-join shuffle carries
    16 B per sig instead of a 32-char string."""
    n_bands = n_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [f"h{b * band_size + j}" for j in range(band_size)]
        bands.append(
            sig.select(
                F.col(id_col),
                F.lit(b).alias("band_idx"),
                F.unhex(F.md5(F.concat(*cols))).alias("band_sig"),
            )
        )
    out = bands[0]
    for b in bands[1:]:
        out = out.unionByName(b)
    return out


def lsh_candidate_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Self-join banded signatures → candidate pairs + shared-band count.

    Every pair of docs that share a band bucket is emitted, so a bucket
    of m docs yields C(m,2) pairs (the exact all-pairs enumeration the
    oracle-checked queries compare against)."""
    r = bands.select(
        F.col(id_col).alias("rid"), F.col("band_idx"), F.col("band_sig")
    )
    raw = (
        bands.join(r, on=["band_idx", "band_sig"])
        .filter(F.col(id_col) < F.col("rid"))
        .select(F.col(id_col).alias("id_a"), F.col("rid").alias("id_b"))
    )
    return (
        raw.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_bands"))
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            F.col("shared_bands").cast("bigint"),
        )
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    band_size: int = 4,
    min_permille: int = 300,
) -> DataFrame:
    """Near-dup pairs via LSH candidates + exact-Jaccard verification.

    An all-pairs shingle join costs Σ bucket² over every shingle bucket
    in the corpus; this generates candidates from constant-size banded
    minhash signatures — the shuffle is |docs|·n_bands rows of
    (id, 16-byte band-sig) regardless of document length — and then
    computes exact Jaccard ONLY for colliding pairs by intersecting the
    two candidates' shingle arrays (array_intersect, no posting-list
    join).  Verification cost is linear in the candidate count, which
    at any scale tracks the true duplicate count, not N².

    Recall < 1 by LSH design: a pair is emitted only if it shares a
    band AND verified Jaccard ≥ ``min_permille``.  Precision is exact —
    verification eliminates every false-positive collision.

    Output: (id_a, id_b, common, jac_permille).

    ``id_col`` must be integral: candidate pairs come back from
    ``lsh_candidate_pairs`` as BIGINT, and joining those back to a
    string/decimal id column would silently coerce (dropping or
    mismatching pairs).  Asserted here rather than discovered as an
    empty result (ADVICE r2).
    """
    id_type = df.schema[id_col].dataType.typeName()
    if id_type not in {"byte", "short", "integer", "long"}:
        raise TypeError(
            f"minhash_verified_pairs requires an integral id column; "
            f"{id_col!r} is {id_type} — hash or index it to BIGINT first"
        )
    shingled = _shingled_with_sig(df, id_col, text_col, n_hashes=n_hashes)
    bands = _bands_from_sig(shingled, id_col, n_hashes=n_hashes, band_size=band_size)
    cand = lsh_candidate_pairs(bands, id_col).select("id_a", "id_b")
    # Verification joins: candidates ≪ corpus, so hand both joins to
    # AQE (the persisted shingled side carries accurate stats); each is
    # a plain equi-join on the doc id — no shuffle of non-candidate
    # documents' arrays survives the join pruning at scale.  The
    # intersect runs on the persisted HASH-long arrays (identity-exact
    # under the documented birthday bound).
    a = shingled.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    b = shingled.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jac_permille",
            F.expr(
                "div(1000 * common, size(sh_a) + size(sh_b) - common)"
            ).cast("bigint"),
        )
        .filter(F.col("jac_permille") >= min_permille)
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            F.col("common").cast("bigint").alias("common"),
            "jac_permille",
        )
    )


_HEX = "0123456789abcdef"


def _simhash64_blocks(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash as FOUR 16-bit integer blocks per document.

    Bit i (0..63) votes with the i-th bit of md5(token), +1 when set,
    −1 when clear, weighted by token multiplicity; the fingerprint bit
    is 1 iff the vote sum is positive.  Bits are packed big-endian into
    blocks b0..b3 (bit p of block b has weight 2^(15−p)), keeping every
    value ≤ 65535 so both engines stay in exact BIGINT arithmetic — no
    64-bit sign hazards.

    One explode + ONE map-side-combined aggregate keyed by the doc id
    computes all 64 vote sums in a single pass (wide agg beats a
    (doc, bit) explode: no 64× row blow-up through the shuffle).
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), TOKEN_RE)).alias("tok")
    )
    # bind the 16 nibble VALUES as a projection before the aggregate:
    # the 64 vote expressions below each need one bit of one nibble, and
    # aggregate input expressions don't get subexpression elimination —
    # inlining the locate(substr(...)) in every vote ran the string
    # decode 64× per token row instead of 16× (measured ~25% of the
    # query at sf0.1)
    hashed = toks.select(id_col, F.md5(F.col("tok").cast("binary")).alias("h"))
    nibs = hashed.select(
        F.col(id_col),
        *[
            F.expr(f"locate(substr(h, {j}, 1), '{_HEX}') - 1").alias(f"n{j}")
            for j in range(1, 17)
        ],
    )

    def vote(b: int, p: int):
        j = 4 * b + p // 4 + 1  # 1-based hex nibble position
        k = p % 4  # bit within nibble, 0 = MSB
        return F.expr(
            f"CASE WHEN (n{j} div {2 ** (3 - k)}) % 2 = 1 THEN 1 ELSE -1 END"
        )

    votes = nibs.groupBy(id_col).agg(
        *[
            F.sum(vote(b, p)).alias(f"s_{b}_{p}")
            for b in range(4)
            for p in range(16)
        ]
    )
    blocks = [
        sum(
            [
                F.when(F.col(f"s_{b}_{p}") > 0, F.lit(2 ** (15 - p))).otherwise(F.lit(0))
                for p in range(16)
            ],
            F.lit(0),
        )
        .cast("bigint")
        .alias(f"b{b}")
        for b in range(4)
    ]
    return votes.select(F.col(id_col), *blocks)


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash Hamming distance ≤ ``max_hamming``
    (≤ 3), found WITHOUT an all-pairs scan — Manku, Jain & Das Sarma's
    pigeonhole scheme (WWW 2007): split the fingerprint into 4 blocks;
    any pair within Hamming 3 must agree EXACTLY on ≥ 1 block, so
    candidates come from four equality self-joins (one per block), then
    exact Hamming verification via bit_count(xor) on the 4 block ints.

    At 100 TB: the candidate join shuffles (block_idx, 16-bit value,
    id) — constant bytes per doc — and each block-bucket is a near-dup
    cluster's size, not corpus size; verification touches candidates
    only.  Output: (id_a, id_b, hamming).
    """
    if max_hamming > 3:
        raise ValueError("4-block pigeonhole guarantees recall only for hamming <= 3")
    sig = _simhash64_blocks(df, id_col, text_col).transform(tracked_persist)
    blk = sig.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("blk_idx"), F.col(f"b{b}").alias("blk_val"))
                for b in range(4)
            ])
        ).alias("e"),
    ).select(id_col, "e.blk_idx", "e.blk_val")
    r = blk.select(
        F.col(id_col).alias("rid"), F.col("blk_idx"), F.col("blk_val")
    )
    cand = (
        blk.join(r, on=["blk_idx", "blk_val"])
        .filter(F.col(id_col) < F.col("rid"))
        .select(F.col(id_col).alias("id_a"), F.col("rid").alias("id_b"))
        .distinct()
    )
    a = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(f"b{b}").alias(f"a{b}") for b in range(4)]
    )
    b_ = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(f"b{b}").alias(f"c{b}") for b in range(4)]
    )
    ham = sum(
        [F.expr(f"bit_count(a{b} ^ c{b})").cast("bigint") for b in range(4)],
        F.lit(0).cast("bigint"),
    )
    return (
        cand.join(a, "id_a")
        .join(b_, "id_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            F.col("hamming"),
        )
    )

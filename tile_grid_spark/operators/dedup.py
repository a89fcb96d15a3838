"""Deduplication suite for web-scale corpora.

Exact, MinHash+LSH, SimHash, n-gram Jaccard and embedding-cosine near-dup
— the shapes a 100 TB training-data pipeline needs. Everything except the
SimHash bit-fold is native Column expressions; candidate generation always
goes through a banded/bucketed equi-join (shuffle on short keys only), and
verification touches candidate PAIRS, never the full cross product.

Scale notes:
- MinHash signatures are k xxhash64 array-mins over shingle arrays: pure
  codegen, no Python. Banding explodes b short (band_id, band_hash) keys
  per doc; the groupBy that follows shuffles only (key, doc_id).
- Pair verification joins doc shingle-sets back by id (sort-merge on a
  bigint), computes exact Jaccard with array_intersect/array_union.
- Self-join dedup of N docs is O(N) + O(candidate pairs), never O(N^2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.text import word_shingles


# ---------------------------------------------------------------------------
# Exact
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Keep the lowest id per exact text; adds is_duplicate to all rows."""
    w_fp = F.md5(F.col(text))
    keyed = df.withColumn("_fp", w_fp)
    keep = keyed.groupBy("_fp").agg(F.min(id_col).alias("_keep_id"))
    return (
        keyed.join(keep, "_fp")
        .withColumn("is_duplicate", F.col(id_col) != F.col("_keep_id"))
        .drop("_fp", "_keep_id")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def md5_hash60(col: F.Column, prefix: str | None = None) -> F.Column:
    """60-bit positive hash from md5 — the DuckDB-expressible twin of
    xxhash64 (oracle: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)).
    15 hex chars < 2^60 so the conv() result always fits a signed BIGINT
    on both engines. `prefix` seeds independent hash families."""
    if prefix is not None:
        col = F.concat_ws(":", F.lit(prefix), col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _md5_half60(digest: F.Column, half: int) -> F.Column:
    """60-bit bigint from one half of an md5 hex digest: chars 1-15 or
    17-31 (two independent hashes per digest — halves the md5 work)."""
    return F.conv(F.substring(digest, 1 + 16 * half, 15), 16, 10).cast("long")


def _lam1(fn, *bound):
    """Bind loop variables into a SINGLE-parameter lambda for Spark HOFs.

    NEVER write `F.transform(col, lambda s, i=i: ...)`: PySpark picks how
    many arguments to pass by the callable's parameter COUNT (defaults
    included), so a two-parameter lambda silently receives the ARRAY
    INDEX as its second argument. That bug shipped here once — the md5
    minhash prefix became str(<index Column>) = "Column<'y_4'>", a string
    embedding a session-global lambda counter: signatures varied with
    session history and LSH recall flaked ~5% per near-pair."""
    return lambda s: fn(s, *bound)


def _minhash_elems(sh, k: int, hash_fn: str) -> list[F.Column]:
    """The k signature mins over a shingle-array column `sh`. md5 family:
    hash_i(s) = 60-bit half (i%2) of md5(f'{i//2}:{s}') — two signature
    rows per digest. `sh` SHOULD be a staged real column: each min is
    its own transform, and Catalyst re-evaluates a composed shingle
    expression per lambda element (the measured-25x HOF trap)."""
    if hash_fn == "xxhash64":
        return [
            F.array_min(
                F.transform(sh, _lam1(lambda s, i: F.xxhash64(F.lit(i), s), i))
            )
            for i in range(k)
        ]
    if hash_fn == "md5":
        return [
            F.array_min(
                F.transform(
                    sh,
                    _lam1(
                        lambda s, i: _md5_half60(
                            F.md5(F.concat_ws(":", F.lit(str(i // 2)), s)), i % 2
                        ),
                        i,
                    ),
                )
            )
            for i in range(k)
        ]
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def minhash_signature(
    text_col, k: int = 32, shingle_n: int = 3, hash_fn: str = "xxhash64"
) -> F.Column:
    """k-element MinHash signature as ONE Column expression — API
    convenience for single-signature use. minhash_lsh_pairs does NOT use
    this form: it stages tokens/shingles/digests as real columns first
    (same hash family, ~5x less work at k=32)."""
    sh = word_shingles(text_col, shingle_n)
    return F.array(*_minhash_elems(sh, k, hash_fn))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs via banded MinHash, verified with exact shingle-set
    Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b and
    jaccard >= threshold.

    Scale shape: full shingle ARRAYS never enter a full-table shuffle —
    candidate ids (tiny by construction: near-dups are rare in a healthy
    corpus) broadcast into a left-semi filter on the shingle side, so
    only candidate docs' arrays are materialized for verification. The
    candidate subtree is localCheckpoint()ed because it feeds both the
    semi filter and the final pair join (one banding pass, not two);
    checkpoint storage — unlike Dataset .persist(), which pins the
    CacheManager entry for the whole session — is released by the
    ContextCleaner once the result is garbage-collected, so repeated
    calls in a long-lived session don't accrete executor storage.
    """
    from ..functions.text import word_shingles_from_tokens

    rows = k // bands
    # STAGED projections (the measured-25x Catalyst HOF rule): tokens,
    # then shingles, then (md5 family) the k/2 digest arrays — each as a
    # real column, so every one is computed once per row instead of once
    # per consuming lambda element. The digest staging is what makes the
    # two-halves-per-md5 trick actually halve the md5 work.
    staged = (
        df.select(F.col(id_col).alias("_id"), F.col(text).alias("_txt"))
        .withColumn("_toks", F.split(F.trim(F.lower(F.col("_txt"))), r"\s+"))
        .withColumn("_shingles", word_shingles_from_tokens(F.col("_toks"), shingle_n))
    )
    if hash_fn == "md5":
        staged = staged.withColumns(
            {
                f"_dg{j}": F.transform(
                    "_shingles",
                    _lam1(lambda s, j: F.md5(F.concat_ws(":", F.lit(str(j)), s)), j),
                )
                for j in range((k + 1) // 2)
            }
        )
        sig_elems = [
            F.array_min(
                F.transform(f"_dg{i // 2}", _lam1(_md5_half60, i % 2))
            )
            for i in range(k)
        ]
    else:
        sig_elems = _minhash_elems(F.col("_shingles"), k, hash_fn)
    sig = staged.withColumn("_sig", F.array(*sig_elems)).select("_id", "_sig")

    def band_hash(b: int) -> F.Column:
        els = [F.element_at("_sig", b * rows + r + 1) for r in range(rows)]
        if hash_fn == "xxhash64":
            return F.xxhash64(*els)
        return md5_hash60(F.concat_ws("|", *[e.cast("string") for e in els]))

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_hash(b).alias("bh"))
            for b in range(bands)
        ]
    )
    banded = sig.select("_id", F.explode(band_structs).alias("_b")).select(
        "_id", F.col("_b.band").alias("band"), F.col("_b.bh").alias("bh")
    )
    # materialize ONCE before the self-join (same rule as
    # hamming_near_pairs): the two aliases would otherwise recompute the
    # whole signature subtree — k minhash folds over the shingle arrays —
    # per side, and both sides must consume the identical banded rows
    banded = banded.localCheckpoint()
    pairs = (
        banded.alias("l")
        .join(banded.alias("r"), on=["band", "bh"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
        .localCheckpoint()
    )
    cand_ids = (
        pairs.select(F.col("id_a").alias("_sid"))
        .unionByName(pairs.select(F.col("id_b").alias("_sid")))
        .distinct()
    )
    shingles = (
        df.select(F.col(id_col).alias("_sid"), F.col(text).alias("_txt"))
        .withColumn("_vtoks", F.split(F.trim(F.lower(F.col("_txt"))), r"\s+"))
        .withColumn(
            "_sh", F.array_distinct(word_shingles_from_tokens(F.col("_vtoks"), shingle_n))
        )
        .select("_sid", "_sh")
        # broadcast semi-join: the shingle scan streams past a hashed id
        # set — zero exchange of the wide array column for non-candidates
        .join(F.broadcast(cand_ids), "_sid", "left_semi")
    )
    verified = (
        pairs.join(shingles.withColumnRenamed("_sid", "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(shingles.withColumnRenamed("_sid", "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sh_a", "_sh_b"))
            / F.size(F.array_union("_sh_a", "_sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for modest candidate sets / verification)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    prefilter_prefix: int = 24,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Exact Jaccard over word n-grams with a cheap prefix-bucket prefilter
    (documents sharing no 24-char prefix bucket are never compared — for a
    corpus where near-dups share openings; use minhash_lsh_pairs for the
    general case).

    The comparison is QUADRATIC within a bucket, so a degenerate corpus
    (everything opens with the same boilerplate) would silently go
    O(N^2). `max_bucket` makes that footgun explicit: any bucket over
    the cap raises AT EXECUTION via an in-plan assertion — the function
    stays a lazy plan-builder (no eager pre-scan job; the guard's
    bucket-count aggregate shares the pair join's shuffle key, so it
    costs one short-key aggregate, not a second pass over the corpus).
    Pass None to disable (e.g. on a pre-vetted corpus)."""
    s = df.select(
        F.col(id_col).alias("_id"),
        F.md5(F.substring(F.col(text), 1, prefilter_prefix)).alias("_bucket"),
        F.array_distinct(word_shingles(F.col(text), shingle_n)).alias("_sh"),
    )
    if max_bucket is not None:
        bc = s.groupBy("_bucket").agg(F.count("*").alias("_bn"))
        guard = F.coalesce(
            F.when(
                F.col("_bn") > F.lit(max_bucket),
                F.raise_error(
                    F.concat(
                        F.lit("ngram_jaccard_pairs: a prefix bucket holds "),
                        F.col("_bn").cast("string"),
                        F.lit(
                            f" docs (> max_bucket={max_bucket}); the "
                            "within-bucket compare would be quadratic — use "
                            "minhash_lsh_pairs for this corpus or raise "
                            "max_bucket explicitly"
                        ),
                    )
                ).cast("boolean"),
            ),
            F.lit(True),
        )
        s = s.join(bc.filter(guard), "_bucket").drop("_bn")
    pairs = (
        s.alias("l")
        .join(s.alias("r"), "_bucket")
        .filter(F.col("l._id") < F.col("r._id"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("l._sh", "r._sh"))
            / F.size(F.array_union("l._sh", "r._sh")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
    return pairs


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_udf():
    """64-bit SimHash over an array<bigint> of token hashes: per-bit
    weighted vote, sign -> bit. numpy unpack/fold per Arrow batch."""

    # Bit unpack via a 256x8 byte LUT gather (one fancy-index per doc, no
    # 64-wide shift broadcast) and the word assembly as one vectorized
    # shift-sum — the only Python left per row is the loop header.
    # Measured on a 10k-doc x ~180-token batch (this host): naive
    # shift-broadcast + per-bit Python assembly 0.78 s/batch -> 0.48
    # s/batch (1.6x). Full-batch folds were tried and LOSE: flattening
    # all tokens makes a ~115M-element bit matrix whose segment-sum is
    # memory-bound (flatten+2D reduceat 95 s, LUT+cumsum 11.6 s,
    # transposed 1D reduceats 2.9 s, padded 3D chunks 3.5 s) while the
    # per-row matrices stay L2-resident.
    lut = np.unpackbits(
        np.arange(256, dtype=np.uint8)[:, None], axis=1, bitorder="little"
    )
    weights = np.arange(64, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def f(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for i, arr in enumerate(hashes):
            n_tok = 0 if arr is None else len(arr)
            if n_tok == 0:
                out[i] = 0
                continue
            h = np.asarray(arr, dtype=np.int64)
            # little-endian: byte j of each word holds bits 8j..8j+7
            sums = lut[h.view(np.uint8)].reshape(-1, 64).sum(axis=0, dtype=np.int64)
            # majority vote per bit: 2*sum > n_tok  <=>  sum*2 - n_tok > 0
            word = ((2 * sums > n_tok).astype(np.uint64) << weights).sum(
                dtype=np.uint64
            )
            # astype, not np.int64(): a set bit 63 makes word >= 2^63 and
            # the scalar constructor raises OverflowError on numpy >= 2
            out[i] = word.astype(np.int64)
        return pd.Series(out)

    return f


def with_simhash(
    df: DataFrame, text: str = "text", out: str = "simhash", hash_fn: str = "xxhash64"
) -> DataFrame:
    """hash_fn 'xxhash64' = production (full 64-bit token hashes);
    'md5' = 60-bit md5-derived token hashes whose per-bit majority vote
    DuckDB can recompute verbatim (bits 60..63 are then always 0 — the
    top band loses 4 bits of selectivity, pigeonhole still holds)."""
    # stage the token array: inside a transform, a composed split()
    # argument is re-evaluated per lambda element (O(len^2) chars)
    staged = df.withColumn(
        "_sh_toks", F.split(F.trim(F.lower(F.col(text))), r"\s+")
    )
    if hash_fn == "xxhash64":
        tok_hashes = F.transform(F.col("_sh_toks"), lambda t: F.xxhash64(t))
    elif hash_fn == "md5":
        tok_hashes = F.transform(F.col("_sh_toks"), lambda t: md5_hash60(t))
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    return staged.withColumn(out, simhash_udf()(tok_hashes)).drop("_sh_toks")


def hamming_near_pairs(
    df: DataFrame,
    id_col: str,
    bits_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    persist: bool = True,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit integer fingerprint column — SimHash
    text signatures, perceptual image hashes (the input-hint's
    ``phash: int64``), audio chromaprints: band the 64 bits into `bands`
    equal keys (pigeonhole: any pair within max_hamming <= bands-1 shares
    at least one exact band), bucket-join on the short (band, band_bits)
    key, verify candidates with native bit_count(xor). Shuffles only
    (id, fingerprint, band key) rows — never the payloads, never O(N^2).

    Scale rule for `bands`: accidental bucket collisions are
    ~N^2 * bands / 2^(64/bands), so the band width must comfortably
    exceed log2(N) — bands=4 (16-bit keys, Hamming<=3 guaranteed) is
    right up to ~1M rows; at 10^8-10^12 rows use bands=2 (32-bit keys,
    Hamming<=1 guaranteed) and, for wider radii at that scale,
    :func:`hamming_near_pairs_multi` (multiple 2-band tables with
    independent bit partitions, recall-gated)."""
    width = 64 // bands
    mask = (1 << width) - 1
    # ONE packed bigint join key per band row: _bk = band * 2^width + bh.
    # Same CLAUDE.md rule as tile_key(): a single-long equi-key hashes/
    # compares in one op and keeps the shuffled row narrow, vs a 2-col
    # (band, bh) key. band < bands and bh < 2^width, so _bk < bands *
    # 2^width <= 2^64 never collides across bands. (bands=2 -> 33 bits.)
    band_keys = F.array(
        *[
            F.shiftrightunsigned(F.col(bits_col), b * width)
            .bitwiseAND(F.lit(mask))
            + F.lit(b * (mask + 1))
            for b in range(bands)
        ]
    )
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.col(bits_col).alias("_sh"),
        F.explode(band_keys).alias("_bk"),
    )
    # localCheckpoint (not .persist()): the self-join's two aliases would
    # otherwise recompute the upstream (e.g. the simhash UDF over the
    # corpus) twice. A Dataset .persist() here pins a CacheManager entry
    # for the whole session with no unpersist path from a lazy return
    # value; checkpoint storage is instead released by the ContextCleaner
    # once the result is GC'd, so pipelines that call this per-stage
    # don't accrete executor storage. Pass persist=False when the
    # fingerprint is cheap to recompute (a native hash column) and the
    # materialization job isn't worth it.
    if persist:
        banded = banded.localCheckpoint()
    # single packed-long join key + hamming filter BEFORE distinct:
    # hamming is a function of the pair, so the result is identical, but
    # radius-failing candidates no longer flow through the distinct's
    # exchange — at accidental-collision-heavy scales that exchange is
    # the band join's tail cost.
    pairs = (
        banded.alias("l")
        .join(banded.alias("r"), "_bk")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.bit_count(F.col("l._sh").bitwiseXOR(F.col("r._sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def hamming_near_pairs_multi(
    df: DataFrame,
    id_col: str,
    bits_col: str,
    max_hamming: int = 3,
    n_tables: int = 8,
    seed: int = 42,
    persist: bool = True,
) -> DataFrame:
    """The bands=2 SCALE path for Hamming radius > 1: at 10^8-10^12 rows
    16-bit band keys (bands=4) drown in accidental collisions
    (~N^2*bands/2^16 candidate pairs), so banding must use 32-bit keys —
    but 2 bands pigeonhole-guarantee only radius 1. This operator unions
    `n_tables` independent 2-band layouts, each a seeded random
    2-PARTITION of the 64 bit positions (NOT rotations: a rotation
    family has a systematic blind spot — two differing bits 32 apart
    never share a 32-bit cyclic window), then verifies candidates with
    native bit_count.

    Guarantees: radius 1 pairs are found by EVERY table (pigeonhole).
    Radius h >= 2 is probabilistic per table with
    p(h) ~ 2*C(32,h)/C(64,h)  (h=2: 0.49, h=3: 0.24), so the miss rate
    decays as (1-p)^n_tables — n_tables=8 gives ~99.7% recall at h=2 and
    ~89% at h=3; raise n_tables for wider radii. The recall gate vs an
    exact all-pairs oracle is pinned in tests/test_images_raster.py.

    Scale shape: per table both 32-bit band keys are OR-folds of that
    table's assigned bit positions (pure codegen Columns, ~64 terms per
    table); the join shuffles only (table, band, key32, id, bits) rows;
    distinct collapses multi-table hits before the pair-volume verify.
    Same storage lifecycle as hamming_near_pairs (localCheckpoint, no
    session cache pins)."""
    import random as _random

    rnd = _random.Random(seed)
    structs = []
    for t in range(n_tables):
        positions = list(range(64))
        rnd.shuffle(positions)
        for band in range(2):
            half = positions[band * 32:(band + 1) * 32]
            key = F.lit(0).cast("long")
            for out_bit, src_bit in enumerate(half):
                key = key + F.shiftleft(
                    F.shiftrightunsigned(F.col(bits_col), src_bit).bitwiseAND(F.lit(1)),
                    out_bit,
                )
            # packed single-long key: (table, band) index in the high
            # bits, 32-bit band key in the low (same rule as
            # hamming_near_pairs; 8 tables -> 36 bits, never collides)
            structs.append(key + F.lit((t * 2 + band) * (1 << 32)))
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.col(bits_col).alias("_sh"),
        F.explode(F.array(*structs)).alias("_bk"),
    )
    if persist:
        banded = banded.localCheckpoint()
    # single packed-long join key + hamming filter BEFORE distinct:
    # hamming is a function of the pair, so the result is identical, but
    # radius-failing candidates no longer flow through the distinct's
    # exchange — at accidental-collision-heavy scales that exchange is
    # the band join's tail cost.
    pairs = (
        banded.alias("l")
        .join(banded.alias("r"), "_bk")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.bit_count(F.col("l._sh").bitwiseXOR(F.col("r._sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    simhash_col: str = "simhash",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash flavor of :func:`hamming_near_pairs` (same banding, same
    verify; kept as the text-dedup entry point)."""
    return hamming_near_pairs(df, id_col, simhash_col, max_hamming, bands)


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 16,
    bucket_bits: int = 8,
    n_probe_flips: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-dup via random-hyperplane LSH buckets + exact verify.

    Points whose sign-pattern agrees on the first `bucket_bits` planes
    land in the same bucket. One side of the self-join additionally
    PROBES the buckets at Hamming distance 1 on the lowest
    `n_probe_flips` bits (same explode as similarity.lsh_topk), so a
    near-dup pair split by a single low-plane sign flip is still
    compared; exact cosine verifies pairs. Recall vs the exact
    all-pairs baseline is pytest-gated (>= 0.9 on the synthetic
    near-dup fixture).
    """
    from .similarity import dot_expr, hyperplane_bucket_udf, norm_expr

    bucket = hyperplane_bucket_udf(n_planes, bucket_bits, seed)
    e = (
        df.select(
            F.col(id_col).alias("_id"),
            F.transform(emb_col, lambda x: x.cast("double")).alias("_emb"),
        )
        .withColumn("_bkt0", bucket("_emb"))
        .withColumn("_n", norm_expr("_emb"))
    )
    probes = F.array(
        F.col("_bkt0"),
        *[
            F.col("_bkt0").bitwiseXOR(F.lit(1 << b)).cast("long")
            for b in range(min(n_probe_flips, bucket_bits))
        ],
    )
    # probing is one-sided: if a and b differ only in flipped bit k, a's
    # probe hits b's base bucket (and vice versa), so the l<r filter
    # still sees the pair exactly once per shared bucket; distinct()
    # collapses multi-bucket hits
    left = e.withColumn("_bkt", F.explode(probes)).drop("_bkt0")
    right = e.withColumnRenamed("_bkt0", "_bkt")
    pairs = (
        left.alias("l")
        .join(right.alias("r"), "_bkt")
        .filter(F.col("l._id") < F.col("r._id"))
        .withColumn(
            "cosine",
            dot_expr("l._emb", "r._emb") / (F.col("l._n") * F.col("r._n")),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# substring containment (asymmetric near-dup: excerpt / quote detection)
# ---------------------------------------------------------------------------

def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    threshold: float = 0.65,
    window: int | None = None,
    max_df: int = 50,
) -> DataFrame:
    """Asymmetric containment detection over rolling-hash character
    windows: doc A is (mostly) CONTAINED in doc B when most of A's
    distinct window fingerprints also occur in B —
    containment(A→B) = |fps(A) ∩ fps(B)| / |fps(A)| over DISTINCT
    fingerprints. Jaccard-style symmetric dedup misses exactly this
    shape (a short quote inside a long page has tiny Jaccard but
    containment ≈ 1), and excerpt/quote collapse is a standard corpus
    pass alongside MinHash (the direction LLM dedup papers call
    "substring-level duplication").

    Scale shape: explode distinct fps -> inverted index (fp, id); drop
    fingerprints with document frequency > `max_df` BEFORE the
    self-join (the standard inverted-index hub cap: a boilerplate
    window shared by 10^6 docs would otherwise contribute 10^12 pairs;
    cost of the cap is recall only on windows that frequent, which are
    boilerplate, not containment evidence). The self-join is an
    equi-join on the 64-bit fingerprint; per ordered pair a count-agg,
    then one broadcast-friendly join back to A's distinct count.
    Everything shuffles short (bigint, bigint) rows — document text
    never enters an exchange.

    Returns (id_a, id_b, n_shared, n_a, containment) for ordered pairs
    with containment >= threshold, id_a != id_b; containment is rounded
    to 6 (exact-integer ratio otherwise).
    """
    from tile_grid_spark.functions.text import ROLLING_WINDOW, with_rolling_fingerprints

    w = window or ROLLING_WINDOW
    fp = with_rolling_fingerprints(
        df.select(F.col(id_col).alias("_cid"), F.col(text).alias("_ctxt")),
        "_ctxt",
        "_fps",
        window=w,
    ).select("_cid", F.array_distinct("_fps").alias("_fps"))
    # Cut the plan HERE: fp fans out three ways (inverted index, the
    # df-cap aggregate's semi-join, |fps(A)|), and Catalyst's projection
    # collapse would re-inline the O(len·window) hash lambda under the
    # explode — re-evaluating it per OUTPUT row, the measured O(len^2)
    # HOF trap (CLAUDE.md). localCheckpoint (never .persist(): session
    # CacheManager pins leak) computes the fingerprint arrays once;
    # the checkpointed frame is (id, array<bigint>) — text stays out.
    fp = fp.localCheckpoint()
    inv = fp.select("_cid", F.explode("_fps").alias("_fp"))
    rare = inv.groupBy("_fp").agg(F.count("*").alias("_df")).filter(
        F.col("_df") <= max_df
    )
    # LEFT SEMI against the rare-fp set keeps the inverted index lean
    # before the pair-generating self-join
    inv = inv.join(rare.select("_fp"), "_fp", "left_semi")
    a = inv.select(F.col("_cid").alias("id_a"), "_fp")
    b = inv.select(F.col("_cid").alias("id_b"), "_fp")
    shared = (
        a.join(b, "_fp")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    na = fp.select(F.col("_cid").alias("id_a"), F.size("_fps").alias("n_a"))
    return (
        shared.join(na, "id_a")
        .withColumn(
            "containment",
            F.round(F.col("n_shared") / F.col("n_a").cast("double"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_shared", "n_a", "containment")
    )

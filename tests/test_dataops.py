"""Dedup / similarity / text operators on synthetic docs with known
duplicate structure."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from augdiff_pipeline_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_signature,
    simhash_pairs,
    _shingle_hashes,
)
from augdiff_pipeline_spark.operators.similarity import brute_force_topk, lsh_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the rain in spain "
    "falls mainly on the plain and every good boy deserves fudge today"
)


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(3)
    rows = []
    for i in range(40):
        words = BASE.split()
        rng.shuffle(words)
        rows.append((100 + i, " ".join(words[:20]) + f" unique{i}"))
    # exact duplicates: 200/201 identical, 202 differs by whitespace only
    rows += [(200, BASE), (201, BASE), (202, "  " + BASE.replace("  ", " ") + " ")]
    # near duplicates: one word changed (distinct prefix keeps them out of
    # the exact-dup group)
    rows += [(300, "prefix " + BASE), (301, "prefix " + BASE.replace("fudge", "cake"))]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(spark, docs):
    groups = {r["canonical_id"]: r["dup_count"] for r in exact_dedup_groups(docs).collect()}
    # whitespace-normalized fingerprint folds 202 into {200, 201}
    assert groups == {200: 3}


def test_minhash_similarity_behavior():
    s1 = minhash_signature(BASE, 64)
    s2 = minhash_signature(BASE.replace("fudge", "cake"), 64)
    s3 = minhash_signature("completely different text about spark engines", 64)
    sim12 = (s1 == s2).mean()
    sim13 = (s1 == s3).mean()
    assert sim12 > 0.6 > sim13
    # signature is deterministic
    assert (minhash_signature(BASE, 64) == s1).all()


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()}
    assert (200, 201) in pairs and pairs[(200, 201)] == 1.0
    assert (300, 301) in pairs and pairs[(300, 301)] > 0.7
    # true jaccard of verified pairs is exact (shingle-set based)
    a = _shingle_hashes("prefix " + BASE)
    b = _shingle_hashes("prefix " + BASE.replace("fudge", "cake"))
    inter = len(np.intersect1d(a, b, assume_unique=True))
    want = inter / (len(a) + len(b) - inter)
    assert pairs[(300, 301)] == want


def _brute_jaccard_pairs(rows, threshold):
    out = {}
    for i, (ida, ta) in enumerate(rows):
        sa = _shingle_hashes(ta)
        for idb, tb in rows[i + 1 :]:
            sb = _shingle_hashes(tb)
            inter = len(np.intersect1d(sa, sb, assume_unique=True))
            j = inter / (len(sa) + len(sb) - inter)
            if j >= threshold:
                out[(min(ida, idb), max(ida, idb))] = j
    return out


def test_minhash_lsh_recall_is_complete(spark, docs):
    """At the default 64x2 band split, LSH recall at threshold 0.5 is
    1 - (1-s^2)^64 >= 1 - 1e-8 per pair — the verified output must equal
    the brute-force pair set on this corpus."""
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _brute_jaccard_pairs(rows, 0.5)
    got = {(r["a"], r["b"]): r["jaccard"] for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()}
    assert got == want


def test_minhash_verify_route_parity(spark, docs, monkeypatch):
    """Every verify route — fused bitset and fused rank-CSR, each with
    its state built on the driver and on the executors, and the
    over-budget join-back — produces the same pair set with
    bit-identical jaccard values."""
    import augdiff_pipeline_spark.operators.dedup as dd

    def run(**kw):
        return sorted(
            (r["a"], r["b"], r["jaccard"])
            for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5, **kw).collect()
        )

    routes = []
    real = dd._fused_verify_route
    max_ranks = dd._MAX_BITSET_RANKS

    def spy(*a, **kw):
        r = real(*a, **kw)
        routes.append(r)
        return r

    monkeypatch.setattr(dd, "_fused_verify_route", spy)
    bitset = run()
    assert routes == ["bitset"], "tiny corpus must take the bitset route"
    monkeypatch.setattr(dd, "_MAX_BITSET_RANKS", 0)
    csr = run()
    assert routes == ["bitset", "csr"], "_MAX_BITSET_RANKS=0 must fall back to the CSR kernel"
    # a negative driver-build bound forces the distributed build
    monkeypatch.setattr(dd, "_DRIVER_BUILD_BYTES", -1)
    dist_csr = run()
    assert routes[-1] == "csr"
    monkeypatch.setattr(dd, "_MAX_BITSET_RANKS", max_ranks)
    dist_bitset = run()
    assert routes[-1] == "bitset"
    join_back = run(max_shingle_broadcast_bytes=0)
    assert routes == ["bitset", "csr", "csr", "bitset"], "join-back builds no verify state"
    assert bitset == csr == dist_csr == dist_bitset == join_back
    assert len(bitset) > 0


def test_minhash_build_failure_releases_job_and_thread(spark, docs, monkeypatch):
    """A raise inside the verify-state build propagates and leaves
    neither the overlapping bucket-cell job nor its driver thread
    running."""
    import threading

    import augdiff_pipeline_spark.operators.dedup as dd

    def boom(*a, **kw):
        raise RuntimeError("injected build failure")

    monkeypatch.setattr(dd, "_fused_verify_route", boom)
    threads = threading.active_count()
    with pytest.raises(RuntimeError, match="injected build failure"):
        minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert threading.active_count() == threads


def test_batch_shingles_match_per_doc():
    from augdiff_pipeline_spark.operators.dedup import _batch_shingle_hashes

    texts = [BASE, "tiny", "", BASE.replace("fox", "ox"), "a b " * 50]
    hv, offs, cnts = _batch_shingle_hashes(texts)
    for i, t in enumerate(texts):
        seg = np.sort(hv[offs[i] : offs[i] + cnts[i]])
        assert (seg == _shingle_hashes(t)).all(), i


def test_simhash_pairs(spark, docs):
    pairs = {(r["a"], r["b"]) for r in simhash_pairs(docs, max_hamming=6).collect()}
    assert (200, 201) in pairs
    assert (300, 301) in pairs


def test_simhash_pairs_equal_brute_force(spark, docs):
    """bands = max_hamming + 1 is pigeonhole-lossless: the banded join
    must reproduce the brute-force pair set exactly, including pairs
    whose differing bits are spread so that every 16-bit quarter differs
    (the round-1 recall bug class)."""
    from augdiff_pipeline_spark.operators.dedup import simhash_column

    sh = {r["doc_id"]: r["simhash"] for r in simhash_column(docs).collect()}
    ids = sorted(sh)
    for mh in (3, 6, 10):
        want = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin((sh[a] ^ sh[b]) & 0xFFFFFFFFFFFFFFFF).count("1") <= mh
        }
        got = {(r["a"], r["b"]) for r in simhash_pairs(docs, max_hamming=mh).collect()}
        assert got == want, mh


def test_hamming_multi_index_exact_and_fewer_candidates(spark):
    """Wide-radius hamming: the multi-index strategy (probe-ball
    enumeration over 16-bit bands) must (a) reproduce the brute-force
    pair set exactly — both strategies are pigeonhole-lossless — and
    (b) propose STRICTLY FEWER candidates than the banded strategy on
    a skewed near-dup cluster, which is its reason to exist: at
    max_hamming 6 the banded path's ~9-bit bands collide ~n²/512."""
    from augdiff_pipeline_spark.operators.dedup import (
        _band_splits, _bucket_pairs, _mih_candidates, hamming_pairs)

    rng = np.random.default_rng(11)
    # skewed fixture: 3 clusters of 60 hashes, each within hamming <=3
    # of its center (flip 0-3 random bits), plus 80 uniform randoms
    rows = []
    hid = 0
    for c in range(3):
        center = int(rng.integers(0, 1 << 63))
        for _ in range(60):
            h = center
            for b in rng.choice(64, size=int(rng.integers(0, 4)), replace=False):
                h ^= 1 << int(b)
            rows.append((hid, h - (1 << 64 if h >= 1 << 63 else 0)))
            hid += 1
    for _ in range(80):
        h = int(rng.integers(0, 1 << 64, dtype=np.uint64))
        rows.append((hid, h - (1 << 64 if h >= 1 << 63 else 0)))
        hid += 1
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["hash_id", "hv"]))

    hs = dict(rows)
    ids = sorted(hs)
    mh = 6
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((hs[a] ^ hs[b]) & 0xFFFFFFFFFFFFFFFF).count("1") <= mh
    }
    assert len(want) > 100  # the fixture is genuinely clustered
    for strat in ("banded", "multi_index"):
        got = {
            (r["a"], r["b"])
            for r in hamming_pairs(df, "hv", "hash_id", max_hamming=mh,
                                   strategy=strat).collect()
        }
        assert got == want, strat

    # candidate-volume comparison on a RANDOM corpus — the regime the
    # multi-index strategy exists for: banded ~9-bit bands collide
    # ~n²/512 per band on unrelated hashes, while 16-bit probe-ball
    # bands collide ~17n²/65536 — ~4x fewer per band at radius 1
    rng2 = np.random.default_rng(13)
    big = [
        (i, int(h) - (1 << 64 if h >= 1 << 63 else 0))
        for i, h in enumerate(rng2.integers(0, 1 << 64, size=4000, dtype=np.uint64))
    ]
    bdf = spark.createDataFrame(pd.DataFrame(big, columns=["hash_id", "hv"]))
    banded_rows = bdf.select(
        F.col("hash_id").alias("_id"), F.col("hv").alias("_hv"),
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("hv"), off)
                .bitwiseAND(F.lit((1 << w) - 1)).alias("key"),
            )
            for i, (off, w) in enumerate(_band_splits(64, mh + 1))
        ])).alias("bk"),
    ).select("_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    n_banded = _bucket_pairs(banded_rows, ["band", "key"], "_id",
                             dedupe=False).count()
    n_mih = _mih_candidates(bdf, "hv", "hash_id", mh, None).count()
    assert n_mih < n_banded / 2, (n_mih, n_banded)
    # both still exact on the random corpus
    got_b = {(r["a"], r["b"]) for r in hamming_pairs(
        bdf, "hv", "hash_id", max_hamming=mh, strategy="banded").collect()}
    got_m = {(r["a"], r["b"]) for r in hamming_pairs(
        bdf, "hv", "hash_id", max_hamming=mh, strategy="multi_index").collect()}
    assert got_b == got_m


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(9)
    base = rng.standard_normal((10, 32))
    rows = []
    vid = 0
    for b in base:
        for _ in range(10):
            rows.append((vid, (b + rng.standard_normal(32) * 0.1).astype("float32").tolist()))
            vid += 1
    return spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))


def test_brute_force_topk_exact(spark, vectors):
    got = brute_force_topk(vectors, [0, 10, 20], k=5).toPandas()
    pdf = vectors.toPandas()
    m = np.array(list(pdf["embedding"]), dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    for q in (0, 10, 20):
        cos = np.round(mn @ mn[q], 6)
        cos[q] = -np.inf
        order = np.lexsort((pdf["vec_id"].to_numpy(), -cos))[:5]
        mine = got[got["query_id"] == q].sort_values("rank")["vec_id"].tolist()
        assert mine == pdf["vec_id"].to_numpy()[order].tolist()
        # cluster mates dominate top-k
        assert sum(1 for v in mine if v // 10 == q // 10) >= 4


def test_lsh_topk_recall(spark, vectors):
    exact = brute_force_topk(vectors, [0, 10, 20], k=5).toPandas()
    approx = lsh_topk(vectors, [0, 10, 20], k=5, n_bits=128, bands=32).toPandas()
    got = set(zip(approx["query_id"], approx["vec_id"]))
    want = set(zip(exact["query_id"], exact["vec_id"]))
    recall = len(got & want) / len(want)
    assert recall >= 0.8, recall


def test_cosine_pairs_exact_and_lsh(spark, vectors):
    """Exact embedding-cosine near-dup pairs vs a numpy brute force;
    the LSH variant's recall bounded against the exact one."""
    from augdiff_pipeline_spark.operators.similarity import cosine_pairs, cosine_pairs_lsh

    pdf = vectors.toPandas()
    m = np.array(list(pdf["embedding"]), dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    sim = np.round(mn @ mn.T, 6)
    thr = 0.8  # cluster mates (same base + small noise) sit well above
    want = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j] and sim[i, j] >= thr
    }
    got = {(r["a"], r["b"]): r["cos_sim"] for r in cosine_pairs(vectors, thr).collect()}
    assert set(got) == want and len(want) > 50
    # values match the numpy block computation bit-for-bit (same matmul)
    idx = {int(v): k for k, v in enumerate(ids)}
    for (a, b), c in list(got.items())[:20]:
        assert c == sim[idx[a], idx[b]]
    approx = {(r["a"], r["b"]) for r in cosine_pairs_lsh(vectors, thr).collect()}
    assert approx <= set(got) or all(p in want for p in approx)  # no false positives
    assert len(approx & want) / len(want) >= 0.8  # recall floor


def test_cosine_pairs_guard(spark, vectors):
    from augdiff_pipeline_spark.operators.similarity import cosine_pairs

    with pytest.raises(ValueError):
        cosine_pairs(vectors, 0.8, max_broadcast_rows=10)
    # byte guard fires even when the ROW count is under budget
    # (2M x 1024-dim x 8B = 16 GB must not pass a row-only check)
    with pytest.raises(ValueError):
        cosine_pairs(vectors, 0.8, max_broadcast_bytes=64)


def test_hot_bucket_caps(spark, vectors):
    """max_bucket drops oversized signature buckets: output stays a
    subset of the uncapped result, and a generous cap changes nothing."""
    from augdiff_pipeline_spark.operators.similarity import cosine_pairs_lsh, lsh_topk

    thr = 0.6
    uncapped = {(r["a"], r["b"]) for r in cosine_pairs_lsh(vectors, thr).collect()}
    generous = {(r["a"], r["b"]) for r in cosine_pairs_lsh(vectors, thr, max_bucket=10**6).collect()}
    assert generous == uncapped
    tight = {(r["a"], r["b"]) for r in cosine_pairs_lsh(vectors, thr, max_bucket=2).collect()}
    assert tight <= uncapped

    un_t = {(r["query_id"], r["vec_id"]) for r in lsh_topk(vectors, [0, 10], k=5).collect()}
    gen_t = {(r["query_id"], r["vec_id"]) for r in lsh_topk(vectors, [0, 10], k=5, max_bucket=10**6).collect()}
    assert gen_t == un_t
    # a tight cap still returns a well-formed (<= k per query) result;
    # membership may differ since surviving candidates re-rank
    tight_t = lsh_topk(vectors, [0, 10], k=5, max_bucket=2).toPandas()
    assert (tight_t.groupby("query_id").size() <= 5).all()


def test_simhash_pairs_ignores_tokenless_docs(spark):
    rows = [(1, "same text here"), (2, "same text here"), (3, "   "), (4, "")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    pairs = {(r["a"], r["b"]) for r in simhash_pairs(df, max_hamming=3).collect()}
    # the two empty-ish docs must NOT pair up at simhash=0 (a brute-force
    # oracle derives no signature for token-less docs)
    assert pairs == {(1, 2)}


def test_ivf_topk_recall(spark, vectors):
    from augdiff_pipeline_spark.operators.similarity import ivf_topk, kmeans_centroids

    exact = brute_force_topk(vectors, [0, 10, 20], k=5).toPandas()
    approx = ivf_topk(vectors, [0, 10, 20], k=5, n_centroids=10, nprobe=3, iters=2).toPandas()
    got = set(zip(approx["query_id"], approx["vec_id"]))
    want = set(zip(exact["query_id"], exact["vec_id"]))
    recall = len(got & want) / len(want)
    assert recall >= 0.8, recall
    # codebook is deterministic and normalized
    c1 = kmeans_centroids(vectors, 10, 2)
    c2 = kmeans_centroids(vectors, 10, 2)
    assert (c1 == c2).all()
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_multi_probe_lsh_topk(spark, vectors):
    """Query-side multi-probe: (a) probe keys extend — never replace —
    the base signature keys, so candidates are a superset and recall is
    monotone in n_probes; (b) the driver-side base-key computation
    agrees bit-for-bit with the distributed signature kernel."""
    import numpy as np

    from augdiff_pipeline_spark.operators.similarity import (
        _collect_queries,
        _hyperplanes,
        _probe_keys,
        hyperplane_signatures,
    )

    qids_list = [0, 10, 20]
    n_bits, bands = 64, 8
    qids, qn = _collect_queries(vectors, qids_list, "vec_id", "embedding")
    planes = _hyperplanes(n_bits, qn.shape[1], 7)
    qi, qb, qk = _probe_keys(qn, planes, bands, n_probes=0)
    base_keys = {(int(qids[i]), int(b), int(k)) for i, b, k in zip(qi, qb, qk)}
    dist_keys = {
        (r["vec_id"], r["band"], r["key"])
        for r in hyperplane_signatures(vectors, n_bits, bands)
        .filter(F.col("vec_id").isin(qids_list))
        .collect()
    }
    assert base_keys == dist_keys  # driver/executor signature parity

    qi4, qb4, qk4 = _probe_keys(qn, planes, bands, n_probes=4)
    probe_keys = {(int(qids[i]), int(b), int(k)) for i, b, k in zip(qi4, qb4, qk4)}
    assert base_keys <= probe_keys
    # exactly n_probes extra keys per (query, band) before dedup
    assert len(qi4) == len(qids) * bands * (1 + 4)

    exact = brute_force_topk(vectors, qids_list, k=5).toPandas()
    want = set(zip(exact["query_id"], exact["vec_id"]))

    def recall(n_probes):
        ap = lsh_topk(vectors, qids_list, k=5, bands=bands, n_probes=n_probes).toPandas()
        return len(set(zip(ap["query_id"], ap["vec_id"])) & want) / len(want)

    r0, r4 = recall(0), recall(4)
    assert r4 >= r0  # probes only add candidates; exact refine re-ranks


@pytest.mark.skipif(
    not os.path.exists("/root/testdata/sf0.1/embeddings.parquet"),
    reason="driver testdata not present",
)
def test_production_config_recall(spark):
    """Recall floors for the PRODUCTION ANN configs on the driver's
    sf0.1 embeddings table (the near-isotropic hard case) — set just
    below the values measured by bench_ann_recall.py (BASELINE.md,
    round 5) so an index regression fails the suite, not just the
    bench."""
    from augdiff_pipeline_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    qids = ids[:: max(1, len(ids) // 64)][:64]
    truth: dict[int, set] = {}
    for r in brute_force_topk(emb, qids, k=10).select("query_id", "vec_id").collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(df):
        got: dict[int, set] = {}
        for r in df.select("query_id", "vec_id").collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        num = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return num / sum(len(t) for t in truth.values())

    # measured r5: 0.1437 / 0.6984 / 0.8781 / 0.2016 / 0.5672 / 1.0
    assert recall(lsh_topk(emb, qids, k=10, bands=8)) >= 0.10
    assert recall(lsh_topk(emb, qids, k=10, bands=8, n_probes=8)) >= 0.60
    assert recall(lsh_topk(emb, qids, k=10, bands=8, n_probes=16)) >= 0.80
    assert recall(ivf_topk(emb, qids, k=10, n_centroids=16, nprobe=1)) >= 0.15
    assert recall(ivf_topk(emb, qids, k=10, n_centroids=16, nprobe=4)) >= 0.45
    assert recall(ivf_topk(emb, qids, k=10, n_centroids=16, nprobe=16)) >= 0.99


def test_hamming_multi_index_wide_radius(spark):
    """max_hamming in (15, 31] auto-routes to 8 x 8-bit bands (probe
    radius <= 3): exact vs brute force on a clustered fixture, banded
    strategy agreement, and a loud raise past 31."""
    from augdiff_pipeline_spark.operators.dedup import hamming_pairs

    rng = np.random.default_rng(23)
    rows = []
    hid = 0
    for c in range(2):
        center = int(rng.integers(0, 1 << 63))
        for _ in range(30):
            h = center
            for b in rng.choice(64, size=int(rng.integers(0, 11)), replace=False):
                h ^= 1 << int(b)
            rows.append((hid, h - (1 << 64 if h >= 1 << 63 else 0)))
            hid += 1
    for _ in range(40):
        h = int(rng.integers(0, 1 << 64, dtype=np.uint64))
        rows.append((hid, h - (1 << 64 if h >= 1 << 63 else 0)))
        hid += 1
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["hash_id", "hv"]))
    hs = dict(rows)
    ids = sorted(hs)
    mh = 20
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((hs[a] ^ hs[b]) & 0xFFFFFFFFFFFFFFFF).count("1") <= mh
    }
    assert len(want) > 400  # intra-cluster pairs all qualify at 20
    got_m = {(r["a"], r["b"]) for r in hamming_pairs(
        df, "hv", "hash_id", max_hamming=mh, strategy="multi_index").collect()}
    assert got_m == want
    got_b = {(r["a"], r["b"]) for r in hamming_pairs(
        df, "hv", "hash_id", max_hamming=mh, strategy="banded").collect()}
    assert got_b == want

    with pytest.raises(ValueError, match="max_hamming <= 31"):
        hamming_pairs(df, "hv", "hash_id", max_hamming=32,
                      strategy="multi_index").collect()


def test_csr_rank_build_matches_np_unique():
    """The allocation-lean rank build (in-place sort + flag-diff
    dictionary + chunked searchsorted inverse; doc-block-chunked
    segment reorder) must be bit-identical to the np.unique
    formulation it replaced."""
    from augdiff_pipeline_spark.operators.dedup import (
        _csr_ranks,
        _reorder_csr,
    )

    rng = np.random.default_rng(31)
    # hashes with plenty of cross-doc repeats (shingle-like)
    hv = rng.integers(0, 5000, size=300_000, dtype=np.uint64)
    inv, n = _csr_ranks(hv)
    uniq_w, inv_w = np.unique(hv, return_inverse=True)
    assert n == len(uniq_w)
    assert inv.dtype == np.int32
    assert (inv == inv_w).all()
    e, ne = _csr_ranks(np.empty(0, dtype=np.uint64))
    assert ne == 0 and len(e) == 0

    # CSR reorder: random doc ids, ragged segment sizes (incl. empty)
    n_docs = 40_000  # > one 16k-doc reorder block
    cnts = rng.integers(0, 15, size=n_docs).astype(np.int64)
    tot = int(cnts.sum())
    hv2 = rng.integers(0, 10_000, size=tot, dtype=np.uint64)
    ids = rng.permutation(n_docs).astype(np.int64)
    ranks_orig, n_ranks = _csr_ranks(hv2)
    ids_s, ranks, offs_o, cnts_o = _reorder_csr(ids, ranks_orig, cnts)
    assert (ids_s == np.sort(ids)).all()
    # reference: per-doc dict of rank segments built from np.unique
    uniq2, inv2 = np.unique(hv2, return_inverse=True)
    assert n_ranks == len(uniq2)
    offs = np.concatenate([[0], np.cumsum(cnts)[:-1]])
    segs = {int(d): inv2[offs[i]: offs[i] + cnts[i]] for i, d in enumerate(ids)}
    for j, d in enumerate(ids_s):
        got = ranks[offs_o[j]: offs_o[j] + cnts_o[j]]
        assert (got == segs[int(d)]).all(), d

"""Product quantization: compression shape, determinism, and ADC recall
against the exact baseline."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.operators import knn
from nbdatatools_spark.operators.similarity import (
    brute_force_topk,
    hard_negatives,
    ivfpq_build,
    ivfpq_topk,
    pq_encode,
    pq_topk,
    pq_train,
)


@pytest.fixture(scope="module")
def clustered(spark):
    """400 vectors in 8 tight 32-dim clusters — PQ-friendly structure."""
    rng = np.random.default_rng(9)
    centers = rng.normal(size=(8, 32)) * 5
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, (centers[c] + rng.normal(scale=0.3, size=32)).tolist()))
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_pq_train_shape_and_determinism(clustered):
    b1 = pq_train(clustered, m=4, n_codes=16, seed=5)
    b2 = pq_train(clustered, m=4, n_codes=16, seed=5)
    b3 = pq_train(clustered, m=4, n_codes=16, seed=6)
    assert b1.shape == (4, 16, 8)
    assert np.array_equal(b1, b2)
    assert not np.array_equal(b1, b3)
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(clustered, m=5)


def test_pq_encode_is_m_bytes_per_vector(clustered):
    books = pq_train(clustered, m=4, n_codes=16, seed=5)
    enc = pq_encode(clustered, books)
    rows = enc.collect()
    assert len(rows) == 400
    assert all(len(r["codes"]) == 4 for r in rows)  # 32 doubles -> 4 bytes


def test_pq_adc_recall_vs_exact(clustered):
    books = pq_train(clustered, m=8, n_codes=64, seed=5)
    enc = pq_encode(clustered, books)
    q = clustered.where(F.col("vec_id") < 20)
    approx = pq_topk(q, enc, books, k=10, metric="euclidean")
    exact = brute_force_topk(q, clustered, k=10, metric="euclidean")
    a = {(r["query_id"], r["base_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["base_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.55, f"ADC recall too low: {recall}"
    # rank-1 self-match must survive quantization on clustered data
    top1 = {r["query_id"]: r["base_id"] for r in approx.collect() if r["rank"] == 1}
    self_hits = sum(1 for qid, bid in top1.items() if qid == bid)
    assert self_hits >= 16  # 20 queries, allow a few cluster-internal swaps


def test_pq_more_codes_no_worse(clustered):
    """Finer codebooks should not hurt recall (monotone-ish)."""
    q = clustered.where(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["base_id"])
        for r in brute_force_topk(q, clustered, k=10, metric="euclidean").collect()
    }
    recalls = []
    for n_codes in (4, 64):
        books = pq_train(clustered, m=4, n_codes=n_codes, seed=5)
        enc = pq_encode(clustered, books)
        a = {
            (r["query_id"], r["base_id"])
            for r in pq_topk(q, enc, books, k=10).collect()
        }
        recalls.append(len(a & exact) / len(exact))
    assert recalls[1] >= recalls[0] - 0.02, f"recall fell with finer codes: {recalls}"


def test_pq_dot_metric(clustered):
    books = pq_train(clustered, m=8, n_codes=64, seed=5)
    enc = pq_encode(clustered, books)
    q = clustered.where(F.col("vec_id") < 5)
    approx = pq_topk(q, enc, books, k=5, metric="dot")
    exact = brute_force_topk(q, clustered, k=5, metric="dot_product")
    a = {(r["query_id"], r["base_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["base_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.4  # raw ADC under dot is noisy by nature
    rer = pq_topk(q, enc, books, k=5, metric="dot", rerank_base=clustered, rerank_factor=6)
    ar = {(r["query_id"], r["base_id"]) for r in rer.collect()}
    assert len(ar & e) / len(e) >= 0.8


def test_pq_rerank_recovers_exact_recall(clustered):
    """ADC shortlist + exact re-rank: the production IVFADC+rerank shape
    should recover near-exact recall."""
    books = pq_train(clustered, m=8, n_codes=64, seed=5)
    enc = pq_encode(clustered, books)
    q = clustered.where(F.col("vec_id") < 20)
    approx = pq_topk(
        q, enc, books, k=10, metric="euclidean",
        rerank_base=clustered, rerank_factor=4,
    )
    exact = brute_force_topk(q, clustered, k=10, metric="euclidean")
    a = {(r["query_id"], r["base_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["base_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.9, f"re-ranked recall too low: {recall}"
    # re-ranked distances are EXACT for recovered pairs
    ad = {(r["query_id"], r["base_id"]): r["distance"] for r in approx.collect()}
    ed = {(r["query_id"], r["base_id"]): r["distance"] for r in exact.collect()}
    for pair in a & e:
        # gemm's (a^2-2ab+b^2) expansion carries ~1e-6 cancellation error;
        # the rerank path's sequential-sum distance is the more exact one
        assert ad[pair] == pytest.approx(ed[pair], abs=1e-5)


def test_ivfpq_recall_and_pruning(clustered, spark):
    enc, index = ivfpq_build(clustered, n_centroids=8, m=4, n_codes=32, seed=3)
    rows = enc.collect()
    assert len(rows) == 400 and all(len(r["codes"]) == 4 for r in rows)
    # cells follow the generating clusters closely: 8 centroids, each ~50
    from collections import Counter

    sizes = Counter(r["centroid_id"] for r in rows)
    assert len(sizes) == 8

    q = clustered.where(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["base_id"])
        for r in brute_force_topk(q, clustered, k=10, metric="euclidean").collect()
    }
    # probing ALL cells + exact rerank ~ exact search
    full = ivfpq_topk(q, enc, index, k=10, nprobe=8, rerank_base=clustered)
    a_full = {(r["query_id"], r["base_id"]) for r in full.collect()}
    assert len(a_full & exact) / len(exact) >= 0.9
    # nprobe=2 on tight clusters: still high recall (neighbors share the cell)
    probed = ivfpq_topk(q, enc, index, k=10, nprobe=2, rerank_base=clustered)
    a2 = {(r["query_id"], r["base_id"]) for r in probed.collect()}
    assert len(a2 & exact) / len(exact) >= 0.8


def test_ivfpq_nprobe_monotone(clustered, spark):
    enc, index = ivfpq_build(clustered, n_centroids=8, m=4, n_codes=32, seed=3)
    q = clustered.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["base_id"])
        for r in brute_force_topk(q, clustered, k=5, metric="euclidean").collect()
    }
    recalls = []
    for nprobe in (1, 4, 8):
        got = {
            (r["query_id"], r["base_id"])
            for r in ivfpq_topk(q, enc, index, k=5, nprobe=nprobe).collect()
        }
        recalls.append(len(got & exact) / len(exact))
    assert recalls[0] <= recalls[1] + 0.05 and recalls[1] <= recalls[2] + 0.05
    assert recalls[2] >= 0.5  # raw ADC, all cells


def _reference_codes(X, books):
    """Per-subspace nearest code of each row of X, as bytes."""
    m, _, dsub = books.shape
    codes = np.empty((len(X), m), dtype=np.uint8)
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        codes[:, s] = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(-1).argmin(1)
    return [c.tobytes() for c in codes]


def test_encoders_match_numpy_reference(clustered):
    """pq_encode (with and without an OPQ rotation) and ivfpq_build emit the
    codes of a numpy encoder over the collected vectors, byte for byte."""
    rows = clustered.orderBy("vec_id").collect()
    ids = [r.vec_id for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    books, R = pq_train(clustered, m=4, n_codes=16, seed=5, opq=True, opq_iters=2)
    for rot in (None, R):
        got = {r.id: r.codes for r in pq_encode(clustered, books, rotation=rot).collect()}
        Y = X if rot is None else X @ rot
        assert got == dict(zip(ids, _reference_codes(Y, books)))
    enc, (C, B) = ivfpq_build(clustered, n_centroids=8, m=4, n_codes=32, seed=3)
    cid = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    want = dict(zip(ids, zip(cid.tolist(), _reference_codes(X - C[cid], B))))
    assert {r.id: (r.centroid_id, r.codes) for r in enc.collect()} == want


DUPS = [5, 13, 40, 77, 101, 150, 222, 301, 333, 390]


@pytest.mark.parametrize("search", ["pq", "ivfpq"])
def test_adc_boundary_ties_follow_lexsort(spark, clustered, search):
    """Copies of a query vector have identical codes, so their ADC distances
    tie and straddle k inside one Arrow batch: the top-k must be the first
    k of a (distance, base_id) lexsort of the search's own ADC distances —
    the lowest ids of the tie."""
    vecs = {r.vec_id: r.embedding for r in clustered.collect()}
    base = spark.createDataFrame(
        [(i, vecs[5] if i in DUPS else vecs[i]) for i in sorted(vecs)], clustered.schema
    ).coalesce(1)
    q = base.where(F.col("vec_id").isin(5, 6))
    if search == "pq":
        books = pq_train(base, m=4, n_codes=16, seed=5)
        enc = pq_encode(base, books)

        def run(k):
            return pq_topk(q, enc, books, k=k).collect()
    else:
        enc, index = ivfpq_build(base, n_centroids=8, m=4, n_codes=32, seed=3)

        def run(k):
            return ivfpq_topk(q, enc, index, k=k, nprobe=2).collect()

    full, top = run(len(vecs)), run(4)
    for qid in (5, 6):
        ids = np.array([r.base_id for r in full if r.query_id == qid])
        dist = np.array([r.distance for r in full if r.query_id == qid])
        got = sorted((r.rank, r.base_id) for r in top if r.query_id == qid)
        assert [b for _, b in got] == ids[np.lexsort((ids, dist))][:4].tolist()
    assert sorted(r.base_id for r in top if r.query_id == 5) == DUPS[:4]


def test_query_blocks_match_one_block(clustered, monkeypatch):
    """A query side over the kernel's row cap runs in pmod blocks and gives
    the rows of a single block."""
    labeled = clustered.withColumn("label", (F.col("vec_id") % 3).cast("string"))
    books = pq_train(clustered, m=4, n_codes=16, seed=5)
    enc = pq_encode(clustered, books)
    q = labeled.where(F.col("vec_id") < 8)
    runs = (
        lambda: pq_topk(q, enc, books, k=5),
        lambda: hard_negatives(q, labeled, k=5),
    )

    def rows():
        return [sorted(tuple(r) for r in run().collect()) for run in runs]

    one = rows()
    monkeypatch.setattr(knn, "MAX_BROADCAST_QUERIES", 3)
    blocked = rows()
    for a, b in zip(one, blocked):
        assert [r[:3] for r in a] == [r[:3] for r in b]
        np.testing.assert_allclose([r[3] for r in a], [r[3] for r in b], rtol=0, atol=1e-12)
    assert len(one[0]) == len(one[1]) == 8 * 5


# --- SQ8 scalar quantization ------------------------------------------------

def test_sq8_roundtrip_error_bound(spark, embeddings):
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.similarity import (
        sq8_decode,
        sq8_encode,
        sq8_train,
    )

    mins, maxes = sq8_train(embeddings)
    enc = sq8_encode(embeddings, mins, maxes)
    # tinyint storage: 1 byte/dim vs 4 (schema-level compression claim)
    assert dict(enc.dtypes)["sq_code"] == "array<tinyint>"
    dec = sq8_decode(enc, mins, maxes)
    rows = dec.select("embedding", "embedding_dq").collect()
    spans = [h - l for l, h in zip(mins, maxes)]
    for r in rows:
        for d, (x, y) in enumerate(zip(r.embedding, r.embedding_dq)):
            assert abs(x - y) <= spans[d] / 510.0 + 1e-9, (d, x, y)


def test_sq8_constant_dim_and_plan(spark):
    from pyspark.sql import functions as F

    from nbdatatools_spark.operators.similarity import sq8_encode, sq8_train

    df = spark.createDataFrame(
        [(0, [1.0, -2.0]), (1, [1.0, 4.0])], "vec_id long, embedding array<double>"
    )
    mins, maxes = sq8_train(df)
    assert mins[0] == maxes[0] == 1.0
    enc = sq8_encode(df, mins, maxes)
    codes = {r.vec_id: list(r.sq_code) for r in enc.collect()}
    assert codes[0][0] == -128 and codes[1][0] == -128  # constant dim -> 0-128
    assert codes[0][1] == -128 and codes[1][1] == 127   # span endpoints
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # encode is a pure projection


def test_compression_report_tiers(spark, embeddings):
    """One-table SQ8/PQ/BQ readout: correct compression ratios and sane
    recall ordering (SQ8 ~ exact; every tier above a floor)."""
    from nbdatatools_spark.operators.similarity import compression_report

    rep = {
        r.method: r for r in compression_report(embeddings, dim=64, k=10).collect()
    }
    assert set(rep) == {"sq8", "pq", "bq_rerank"}
    assert rep["sq8"].bytes_per_vector == 64 and rep["sq8"].compression_x == 4.0
    assert rep["pq"].bytes_per_vector == 8 and rep["pq"].compression_x == 32.0
    assert rep["bq_rerank"].bytes_per_vector == 8 and rep["bq_rerank"].compression_x == 32.0
    # SQ8 is nearly lossless at this scale; all tiers clear a recall floor
    assert rep["sq8"].recall >= 0.95
    assert rep["pq"].recall >= 0.3
    assert rep["bq_rerank"].recall >= 0.5

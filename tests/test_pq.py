"""Product-quantization ANN: codes must compress without destroying
neighbor structure (recall@k vs the exact scan), encoding must be a
map-side projection, and IVF-PQ must only scan probed cells."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.operators.ann import train_kmeans
from azure_databricks_lakehouse_spark.operators.pq import (
    PQCodebook,
    ivfpq_search,
    pq_encode,
    pq_search,
    train_pq,
)

_DIM = 16
_N_CLUSTERS = 6
_PER_CLUSTER = 30


def _vectors():
    """Deterministic clustered corpus: cluster centers on scaled axes,
    members jittered around them."""
    rng = random.Random(7)
    centers = []
    for c in range(_N_CLUSTERS):
        center = [0.0] * _DIM
        center[c % _DIM] = 10.0
        center[(c * 3 + 1) % _DIM] = -6.0 if c % 2 else 6.0
        centers.append(center)
    rows = []
    vid = 0
    for c, center in enumerate(centers):
        for _ in range(_PER_CLUSTER):
            rows.append(
                (vid, c, [x + rng.gauss(0, 0.8) for x in center])
            )
            vid += 1
    return rows


def _exact_topk(rows, queries, k):
    out = {}
    for qid, _c, q in queries:
        ranked = sorted(
            (
                (sum((a - b) ** 2 for a, b in zip(q, v)), vid)
                for vid, _cc, v in rows
                if vid != qid
            ),
        )[:k]
        out[qid] = {vid for _d, vid in ranked}
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    rows = _vectors()
    df = spark.createDataFrame(
        [(i, v) for i, _c, v in rows], "vec_id int, emb array<double>"
    ).cache()
    df.count()
    return rows, df


def test_codes_are_bounded_and_deterministic(spark, corpus):
    rows, df = corpus
    cb = train_pq(df, m=4, ks=8)
    assert isinstance(cb, PQCodebook) and cb.dsub == _DIM // 4
    codes = pq_encode(df, cb)
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert len(got) == len(rows)
    assert all(
        len(cs) == 4 and all(0 <= c < 8 for c in cs) for cs in got.values()
    )
    again = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, cb).collect()}
    assert got == again


def test_pq_recall_beats_chance(spark, corpus):
    rows, df = corpus
    cb = train_pq(df, m=4, ks=16)
    codes = pq_encode(df, cb)
    queries = [rows[i] for i in range(0, len(rows), 37)]
    qdf = spark.createDataFrame(
        [(i, v) for i, _c, v in queries], "query_id int, emb array<double>"
    )
    exact = _exact_topk(rows, queries, 5)

    def _recall(got):
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        rs = [len(by_q.get(q, set()) & exact[q]) / 5 for q, _c, _v in queries]
        return sum(rs) / len(rs)

    adc = _recall(pq_search(codes, qdf, cb, top_k=5).collect())
    chance = 5 / (len(rows) - 1)
    # ADC alone is resolution-bounded (members of one tight cluster
    # share codes) — well above chance is the contract (measured ~0.48)
    assert adc >= 0.35, f"PQ ADC recall@5 {adc:.2f} too low"
    assert adc > 10 * chance
    # exact re-ranking of the approximate top-20 recovers near-exact
    # recall while the scan still touched only codes (measured ~0.92)
    rr = _recall(
        pq_search(codes, qdf, cb, top_k=5, rerank_with=df).collect()
    )
    assert rr >= 0.85, f"reranked PQ recall@5 {rr:.2f} too low"
    assert rr > adc


def test_ivfpq_residual_codes_and_probed_recall(spark, corpus):
    rows, df = corpus
    coarse = train_kmeans(df, k=_N_CLUSTERS, n_iter=6)
    cb = train_pq(df, m=4, ks=16, coarse_centroids=coarse)
    codes = pq_encode(df, cb, coarse_centroids=coarse)
    assert set(codes.columns) == {"vec_id", "cell", "codes"}
    n_cells = codes.select("cell").distinct().count()
    assert 1 < n_cells <= _N_CLUSTERS
    queries = [rows[i] for i in range(0, len(rows), 41)]
    qdf = spark.createDataFrame(
        [(i, v) for i, _c, v in queries], "query_id int, emb array<double>"
    )
    exact = _exact_topk(rows, queries, 5)

    def _recall(got):
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        rs = [len(by_q.get(q, set()) & exact[q]) / 5 for q, _c, _v in queries]
        return sum(rs) / len(rs)

    # residual codes sharpen ADC vs raw-vector PQ (measured ~0.68 vs
    # ~0.48 on this corpus); rerank over probed cells goes near-exact
    adc = _recall(
        ivfpq_search(codes, qdf, coarse, cb, top_k=5, n_probe=2).collect()
    )
    assert adc >= 0.5, f"IVF-PQ ADC recall@5 {adc:.2f} too low"
    rr = _recall(
        ivfpq_search(
            codes, qdf, coarse, cb, top_k=5, n_probe=2, rerank_with=df
        ).collect()
    )
    assert rr >= 0.9, f"reranked IVF-PQ recall@5 {rr:.2f} too low"


def test_encode_plan_is_shuffle_free_projection(spark, corpus):
    _rows, df = corpus
    cb = train_pq(df, m=4, ks=8)
    plan = (
        pq_encode(df, cb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, "PQ encoding must not shuffle"
    assert "BatchEvalPython" not in plan


def test_ivfpq_search_plan_broadcasts_probes(spark, corpus):
    rows, df = corpus
    coarse = train_kmeans(df, k=_N_CLUSTERS, n_iter=3)
    cb = train_pq(df, m=4, ks=8, coarse_centroids=coarse)
    codes = pq_encode(df, cb, coarse_centroids=coarse)
    qdf = spark.createDataFrame(
        [(rows[0][0], rows[0][2])], "query_id int, emb array<double>"
    )
    plan = (
        ivfpq_search(codes, qdf, coarse, cb, top_k=3, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, "candidate join must key on cell"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_compression_ratio_is_real(spark, corpus):
    """The point of PQ: m small ints instead of dim doubles."""
    _rows, df = corpus
    cb = train_pq(df, m=4, ks=16)
    codes = pq_encode(df, cb)
    # 4 codes (≤1 byte of information each at ks=16) vs 16 float64s
    assert len(codes.first()["codes"]) * 4 <= _DIM
    # codebook is driver metadata, not corpus-sized
    n_floats = sum(len(c) for book in cb.centroids for c in book)
    assert n_floats == cb.m * cb.ks * cb.dsub == 4 * 16 * 4


def test_batched_training_matches_per_subspace_kmeans(spark, corpus):
    # round 13: train_pq batches the m per-subspace k-means into one
    # Lloyd job per round (ann.lloyd_multi).  Equivalence pin: the
    # batched codebook must match running ann.train_kmeans per sliced
    # subspace exactly (same seed sample by construction; the only
    # tolerated difference is float summation order inside the per-cell
    # means, so compare with a tight tolerance).
    from azure_databricks_lakehouse_spark.operators.ann import train_kmeans
    from azure_databricks_lakehouse_spark.operators.pq import _subvec

    from pyspark.sql import functions as F

    _rows, df = corpus
    m, ks = 4, 8
    dsub = _DIM // m
    cb = train_pq(df, m=m, ks=ks, n_iter=3)
    for mi in range(m):
        sub = df.select(
            "vec_id", _subvec(F.col("emb"), mi, dsub).alias("emb")
        )
        ref = train_kmeans(sub, k=ks, n_iter=3)
        ref_books = [c for _cell, c in sorted(ref)]
        assert len(cb.centroids[mi]) == len(ref_books)
        for got_c, ref_c in zip(cb.centroids[mi], ref_books):
            assert got_c == pytest.approx(ref_c, rel=1e-9, abs=1e-9)


def test_too_few_distinct_subvectors_raise_without_kmeans_prefix(spark):
    # the seeding error is shared with train_kmeans, so its message must
    # not name a function train_pq's caller never called
    df = spark.createDataFrame(
        [(i, [float(i % 2)] * 4) for i in range(20)],
        "vec_id bigint, emb array<double>",
    )
    with pytest.raises(ValueError, match="distinct") as err:
        train_pq(df, m=2, ks=4, n_iter=1)
    assert "train_kmeans" not in str(err.value)

"""The shared in-task cosine scorer (``_cosine_pairs``) and the rank tail
it feeds.

Every Arrow similarity operator scores inside its task and ships the
scores UNROUNDED; Spark rounds them once, with ``F.round(cos, 6)``. That
order is safe only because the in-task cut keeps every candidate within
``TIE_MARGIN`` of it: these tests pin the margin (each fails for a scorer
that cuts on the exact unrounded score), the rounding rule, and the
bound that keeps exact ties from widening the cut without limit.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
    _cosine_pairs,
    _top_k_by_cos,
    cosine_topk,
    ivf_topk,
    lsh_bucketed_topk,
    random_hyperplanes,
    semdedup,
)
from document_clustering_with_hadoop_mapreduce_spark.operators import similarity


def _at_cos(c: float) -> list[float]:
    """A unit 2-d vector whose cosine to (1, 0) is ``c``."""
    return [c, math.sqrt(1.0 - c * c)]


@pytest.fixture
def tie_frame(spark):
    # against vec 0, vec 1 scores 0.9000001 and vec 2 scores 0.9000004:
    # less than 1e-6 apart, both round to 0.9, and the LOWER id holds the
    # LOWER unrounded score — so the vec_id tie-break must see both
    rows = [(0, [1.0, 0.0]), (1, _at_cos(0.9000001)), (2, _at_cos(0.9000004))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)


def test_cosine_topk_keeps_rounding_ties(tie_frame):
    got = cosine_topk(tie_frame, tie_frame.filter("vec_id = 0"), k=1).collect()
    assert [tuple(r) for r in got] == [(0, 1, 0.9, 1)]


def test_ivf_topk_keeps_rounding_ties(tie_frame):
    got = ivf_topk(
        tie_frame, tie_frame.filter("vec_id = 0"), n_cells=1, nprobe=1, k=1
    ).collect()
    assert [tuple(r) for r in got] == [(0, 1, 0.9, 1)]


def test_semdedup_keeps_pair_that_rounds_to_threshold(spark):
    # unrounded pair cosine 0.8999996 < 0.9, but F.round(_, 6) gives 0.9
    rows = [(1, [1.0, 0.0]), (2, _at_cos(0.8999996))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    docs, pairs = semdedup(emb, [[1.0, 0.0]], threshold=0.9)
    assert [tuple(r) for r in pairs.collect()] == [(0, 1, 2, 0.9)]
    # keep-the-outlier: vec 1 IS the centroid, so it is the one dropped
    assert {r["vec_id"]: r["keep"] for r in docs.collect()} == {1: False, 2: True}


def test_rank_tail_rounds_with_spark_f_round(spark):
    """The rank tail turns a candidate cos of 0.0005045 into 0.000505:
    Spark's ``F.round`` rounds HALF_UP on the double's shortest decimal,
    '0.0005045'. The retired in-task rounding, sign(c) * floor(|c| * 1e6
    + 0.5) / 1e6 over the binary double (whose x * 1e6 is 504.4999...),
    gives 0.000504, and so does DuckDB 1.0's ``round(x, 6)``. That is
    the accepted engine-vs-oracle class: the same ~1-ulp window every
    other ``F.round`` slot of the engine already carries."""
    cands = spark.createDataFrame(
        [(0, 1, 0.0005045)], "query_id long, vec_id long, cos double"
    )
    assert [tuple(r) for r in _top_k_by_cos(cands, 1).collect()] == [(0, 1, 0.000505, 1)]


def test_kernel_nan_score_does_not_evict_candidates():
    # a NaN corpus row scores NaN against every probe; it must neither
    # survive nor take a top-k slot from a real candidate
    left = np.array([[1.0, 0.0], [np.nan, 0.0], [0.0, 1.0]])
    right = np.array([[1.0, 0.0], [0.0, 1.0]])
    norms = np.sqrt((left * left).sum(axis=1))
    i, j, c = _cosine_pairs(
        left, right, norms, np.ones(2), 8, np.arange(3), np.array([10, 11]),
        pair="ne", k=1, per_col=True,
    )
    assert sorted(zip(i.tolist(), j.tolist(), c.tolist())) == [(0, 0, 1.0), (2, 1, 1.0)]


def _identical_rows(n_same: int) -> tuple[np.ndarray, np.ndarray]:
    """``n_same`` identical vectors, two zero vectors and two others; ids
    run DOWN the rows so the lowest ids are not simply the first rows."""
    m = np.vstack([
        np.ones((n_same, 4)), np.zeros((2, 4)), [[1.0, -1.0, 0.0, 2.0], [0.0, 3.0, 1.0, 0.0]],
    ])
    return m, np.arange(len(m))[::-1].copy()


@pytest.mark.parametrize("per_col", [False, True])
def test_kernel_exact_ties_leave_at_most_k_per_group(per_col):
    # identical vectors score one exact cosine against each other and a
    # zero-norm row scores 0.0 against everything: every one of them is a
    # tie of the k-th score, but only the k lowest ids can win the rank
    # tail's id tie-break, so only they may leave the task
    m, ids = _identical_rows(40)
    norms = np.sqrt((m * m).sum(axis=1))
    k = 3
    i, j, c = _cosine_pairs(
        m, m, norms, norms, len(m), ids, ids, pair="ne", k=k, per_col=per_col
    )
    group, cand = (j, i) if per_col else (i, j)
    assert np.bincount(group).max() <= k
    for q in range(len(m)):
        # the exact top-k by (6dp cos desc, id asc) survives the cap
        dots = m @ m[q]
        den = norms * norms[q]
        cos = np.where(den == 0.0, 0.0, dots / np.where(den == 0.0, 1.0, den))
        ranked = sorted((-round(cos[x], 6), ids[x], x) for x in range(len(m)) if x != q)
        assert {x for _, _, x in ranked[:k]} <= set(cand[group == q].tolist())


@pytest.fixture
def captured(monkeypatch):
    """Records the candidate frame an operator hands to its rank tail."""
    seen = {}
    real_tail = similarity._top_k_by_cos

    def spy(candidates, k):
        seen["candidates"] = candidates
        return real_tail(candidates, k)

    monkeypatch.setattr(similarity, "_top_k_by_cos", spy)
    return seen


def test_lsh_hot_bucket_ships_at_most_s_times_k_rows_per_vector(spark, captured):
    # a hot bucket of identical vectors (and zero vectors): with S
    # sub-blocks each vector is a query row in exactly S tasks, so at most
    # S * k of its candidate rows may reach the rank tail
    m, ids = _identical_rows(120)
    emb = spark.createDataFrame(
        [(int(v), row.tolist()) for v, row in zip(ids, m)],
        "vec_id long, embedding array<double>",
    )
    s, k = 2, 3
    got = lsh_bucketed_topk(
        emb, random_hyperplanes(4, 4), k=k, sub_blocks=s, row_chunk=16
    ).collect()
    per_vec = captured["candidates"].groupBy("query_id").count().collect()
    assert max(r["count"] for r in per_vec) <= s * k
    # the hot bucket's winners are its lowest other ids, all at cos 1.0
    same = sorted(int(v) for v in ids[:120])
    top = {r["vec_id"] for r in got if r["query_id"] == same[-1]}
    assert top == set(same[:k])


def test_cosine_topk_identical_corpus_ships_at_most_k_rows_per_query(spark, captured):
    # one partition and one row chunk: k candidate rows per query, however
    # many corpus vectors tie for its k-th score
    m, ids = _identical_rows(200)
    emb = spark.createDataFrame(
        [(int(v), row.tolist()) for v, row in zip(ids, m)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    k = 2
    cosine_topk(emb, emb, k=k).collect()
    per_q = captured["candidates"].groupBy("query_id").count().collect()
    assert len(per_q) == len(m)
    assert max(r["count"] for r in per_q) <= k

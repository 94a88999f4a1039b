"""Embedding quantization: DuckDB oracle parity for the int codes,
reconstruction-error bound, measured recall of the quantized scorer vs
the exact float top-k, and the no-shuffle plan shape.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
    cosine_topk,
    dequantize,
    quantization_params,
    quantize_embeddings,
    quantized_topk,
)
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

from conftest import assert_matches_oracle

BITS = 8


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _codes_oracle(mins: list[float], scales: list[float], bits: int) -> str:
    """Mirror of quantize_embeddings with the SAME literal params: the
    floor(+0.5) form evaluates identically under IEEE doubles in both
    engines (round() tie behavior differs between DuckDB and the JVM)."""
    levels = (1 << bits) - 1
    mn = "[" + ", ".join(repr(v) for v in mins) + "]"
    sc = "[" + ", ".join(repr(v) for v in scales) + "]"
    return f"""
WITH p AS (SELECT {mn}::DOUBLE[] AS mn, {sc}::DOUBLE[] AS sc)
SELECT vec_id,
       list_transform(
         list_zip(embedding, generate_series(1, len(embedding))),
         t -> CASE WHEN p.sc[t[2]] = 0.0 THEN 0
                   ELSE least({levels}, greatest(0,
                        CAST(floor((t[1]::DOUBLE - p.mn[t[2]]) / p.sc[t[2]] + 0.5) AS INT)))
              END
       ) AS qcodes
FROM read_parquet('__SF__/embeddings.parquet'), p"""


def test_quantize_codes_match_oracle(spark, sf_dir, duck):
    emb = _emb(spark, sf_dir)
    mins, scales = quantization_params(emb, BITS)
    df = quantize_embeddings(emb, mins, scales, BITS)
    sql = _codes_oracle(mins, scales, BITS).replace("__SF__", sf_dir)
    assert_matches_oracle(df, duck, sql)


def test_quantization_reconstruction_error_bounded(spark, sf_dir):
    """|x - dequantize(quantize(x))| <= scale/2 + rounding slack, per dim."""
    emb = _emb(spark, sf_dir)
    mins, scales = quantization_params(emb, BITS)
    q = quantize_embeddings(emb, mins, scales, BITS)
    joined = emb.select(F.col("vec_id"), "embedding").join(
        q.select("vec_id", dequantize(F.col("qcodes"), mins, scales).alias("recon")),
        "vec_id",
    )
    max_scale = max(scales)
    err = joined.select(
        F.aggregate(
            F.zip_with("embedding", "recon", lambda a, b: F.abs(a.cast("double") - b)),
            F.lit(0.0),
            lambda acc, e: F.greatest(acc, e),
        ).alias("e")
    ).agg(F.max("e")).collect()[0][0]
    assert err <= max_scale / 2 + 1e-5, (err, max_scale)


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """int8 quantization must preserve the neighbor structure: recall@10
    of the quantized scorer vs the exact float top-k, averaged over 20
    probes, >= 0.8 (measured, not assumed)."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    exact = cosine_topk(emb, probes, k=10)
    quant = quantized_topk(emb, probes, k=10, bits=BITS)
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    qn = {}
    for r in quant.collect():
        qn.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(e[q] & qn.get(q, set())) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.8, sorted(recalls)[:5]


def test_quantize_degenerate_dim_and_validation(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 9.0])], "vec_id long, embedding array<double>"
    )
    mins, scales = quantization_params(emb, bits=2)
    assert mins == [1.0, 5.0] and scales == [0.0, round((9.0 - 5.0) / 3, 6)]
    codes = {r["vec_id"]: r["qcodes"] for r in quantize_embeddings(emb, mins, scales, 2).collect()}
    assert codes[1] == [0, 0] and codes[2] == [0, 3]  # constant dim -> 0
    with pytest.raises(ValueError, match="bits"):
        quantization_params(emb, bits=0)


def test_quantize_plan_is_map_side(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    mins, scales = quantization_params(emb, BITS)
    plan = (
        quantize_embeddings(emb, mins, scales, BITS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


@pytest.mark.slow
def test_quantized_ivf_composition(spark, sf_dir):
    """IVF over int8 codes — the composed 100 TB configuration. Pins:
    (a) full probe == quantized_topk exactly (IVF adds no loss at
    nprobe=n_cells), (b) recall is monotone in nprobe, (c) the composed
    path keeps the quantization-level recall floor at full probe."""
    from pyspark.sql import functions as F

    from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
        cosine_topk,
        quantized_ivf_topk,
        quantized_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.orderBy(F.desc("vec_id")).limit(5)
    corpus = emb.join(q.select("vec_id"), "vec_id", "left_anti")

    def pairs(df):
        return {(r["query_id"], r["vec_id"]) for r in df.collect()}

    exact = pairs(cosine_topk(corpus, q, 10))
    recalls = []
    for nprobe in (1, 4, 8):
        got = pairs(quantized_ivf_topk(corpus, q, n_cells=8, nprobe=nprobe, k=10))
        recalls.append(len(got & exact) / len(exact))
    # monotone coverage: probing more cells never loses recall
    assert recalls == sorted(recalls), recalls
    # at full probe the only loss is quantization — the floor the
    # quantized_topk recall test already pins
    assert recalls[-1] >= 0.8, recalls
    full = pairs(quantized_ivf_topk(corpus, q, n_cells=8, nprobe=8, k=10))
    assert full == pairs(quantized_topk(corpus, q, 10))


@pytest.mark.slow
def test_quantized_wrappers_forward_max_queries(spark):
    """Round-9 review fix: the probe-cap escape hatch must be reachable
    through the quantized wrappers — an oversized query frame raises with
    the documented redirect, and raising max_queries through the wrapper
    lifts the cap."""
    import pytest

    from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
        quantized_ivf_topk,
        quantized_topk,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    q = emb.limit(12)
    with pytest.raises(ValueError, match="max_queries"):
        quantized_topk(emb, q, k=3, max_queries=11)
    with pytest.raises(ValueError, match="max_queries"):
        quantized_ivf_topk(emb, q, n_cells=2, nprobe=1, k=3, max_queries=11)
    assert quantized_topk(emb, q, k=3, max_queries=12).count() > 0
    assert quantized_ivf_topk(emb, q, n_cells=2, nprobe=1, k=3, max_queries=12).count() > 0


@pytest.mark.slow
def test_fused_int8_slice_matches_standalone(spark, sf_dir):
    """The ann_ivf_topk kind='int8' slice (cached params + driver-side
    requantized centroids) must be ROW-IDENTICAL to the standalone
    quantized_ivf_topk, which derives its own params and its own
    reconstructed-space centroids — proving requantize_point is
    bit-identical to reconstructing the cells through the quantize plan."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
        quantized_ivf_topk,
    )
    from document_clustering_with_hadoop_mapreduce_spark.plans.registry import (
        all_queries,
    )
    from document_clustering_with_hadoop_mapreduce_spark.plans.queries_similarity import (
        N_CELLS,
        N_QUERIES,
        NPROBE,
        Q_BITS,
    )

    fused = all_queries()["ann_ivf_topk"].spark(spark, sf_dir)
    got = sorted(
        (r["query_id"], r["vec_id"], r["cos"], r["rank"])
        for r in fused.collect()
        if r["kind"] == "int8"
    )
    emb = _emb(spark, sf_dir)
    expect = sorted(
        (r["query_id"], r["vec_id"], r["cos"], r["rank"])
        for r in quantized_ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < N_QUERIES),
            n_cells=N_CELLS,
            nprobe=NPROBE,
            k=3,
            bits=Q_BITS,
        ).collect()
    )
    assert got and got == expect


def test_requantize_point_bit_identical_incl_wrap_regression(spark):
    """Elementwise pin: the Spark quantize->dequantize plan and the
    driver-side requantize_point must agree BIT-FOR-BIT on adversarial
    inputs, not just fixture data. The wrap case is the round-11
    regression: with a degenerate rounded scale (1e-6), an input
    ~2^31*scale past the min used to overflow the int cast INSIDE the
    clamp (code wraps negative -> clamped to 0, reconstructing min
    instead of max); clamp-in-LONG-then-cast keeps it at `levels`,
    matching Python's arbitrary-precision min/max and the oracle's
    CAST-inside-least/greatest form."""
    import random

    from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
        requantize_point,
    )

    mins = [0.0, -1.0, 0.5, 0.0]
    scales = [1e-6, 0.01, 0.0, 123.456789]
    rng = random.Random(11)
    vecs = [
        # the int32-wrap regression: (x - mn)/sc + 0.5 ~ 2^31 + 1000 on dim 0
        [(2**31 + 1000) * 1e-6, 0.0, 0.5, 0.0],
        # far past even that (floor saturates LONG on neither side; both clamp)
        [1e12, 5e3, -7.0, 1e9],
        # below-min negatives (clamp at 0 from the other side)
        [-5.0, -100.0, 0.5, -1e9],
        # exact boundaries and half-steps
        [0.0, -1.0 + 127.5 * 0.01, 0.5, 255 * 123.456789],
    ] + [
        [rng.uniform(-2.0, 2.0) * 10 ** rng.randint(-6, 6) for _ in range(4)]
        for _ in range(60)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: list(r["recon"])
        for r in quantize_embeddings(df, mins, scales, bits=BITS)
        .select("vec_id", dequantize(F.col("qcodes"), mins, scales).alias("recon"))
        .collect()
    }
    for i, v in enumerate(vecs):
        expect = requantize_point(v, mins, scales, bits=BITS)
        assert got[i] == expect, (i, v, got[i], expect)
    # the wrap row's degenerate dim must land at the TOP code's value
    assert got[0][0] == mins[0] + 255 * scales[0]


def boundary_hits(scores) -> int:
    """Count values within 1e-9 of a 0.5e-6 rounding tie (|x| * 1e6 within
    1e-3 of n + 0.5): the tie-ADJACENT values on which two round() rules
    could differ."""
    y = np.abs(np.asarray(scores, dtype=np.float64)) * 1e6
    return int((np.abs(y - np.floor(y) - 0.5) < 1e-3).sum())


def test_param_rounding_agrees_with_duckdb_on_tie_adjacent_inputs(spark, sf_dir):
    """Continuous measurement for the int8 oracle's round() agreement
    claim: quantization_params rounds raw min/max/scale with Python
    round(x, 6) while the oracle uses DuckDB round() over DOUBLE — the
    two can only disagree when a raw value sits essentially ON a 0.5e-6
    decimal tie (Python ties-to-even on the dyadic cases, DuckDB
    half-away-from-zero). The fused int8 gate verifies agreement on
    TODAY's fixture end-to-end; this tripwire keeps the claim measured
    as fixtures regenerate: find every tie-ADJACENT raw value (conservative 1e-9 band — sf0.01 measures
    one such min today) and assert Python and DuckDB round those to the
    SAME double. The DuckDB side must cast to DOUBLE: a bare Python
    float repr parses as DECIMAL, whose round() returns Decimal — a
    different (and irrelevant) code path from the oracle's parquet
    DOUBLE columns."""
    import duckdb

    levels = (1 << BITS) - 1
    stats = (
        _emb(spark, sf_dir)
        .select(F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    raw = [r["mn"] for r in stats] + [r["mx"] for r in stats]
    # the scale inputs: (rounded mx - rounded mn) / levels, pre-round
    raw += [
        (round(r["mx"], 6) - round(r["mn"], 6)) / levels for r in stats
    ]
    near = [x for x in raw if boundary_hits([x])]
    con = duckdb.connect()
    for x in near:
        dk = con.execute(f"SELECT round(CAST({x!r} AS DOUBLE), 6)").fetchone()[0]
        assert round(x, 6) == dk, (
            f"raw param value {x!r} rounds differently under Python "
            f"round() ({round(x, 6)!r}) vs DuckDB round() ({dk!r}) — the "
            "ann_ivf_topk int8 oracle's param derivation diverges on this "
            "fixture; a hash mismatch there is this class, not an engine "
            "defect"
        )


def test_boundary_hits_counter():
    # 0.1234565 scaled sits within 1e-3 of 123456.5 -> near; plain values no
    assert boundary_hits([0.1234565]) == 1
    assert boundary_hits([0.123456, 0.123457, -0.9999994]) == 0
    assert boundary_hits([-0.1234565, 0.1234565]) == 2
    assert boundary_hits([]) == 0


@pytest.mark.slow
def test_cached_qparams_equal_recompute(spark, sf_dir):
    """The ann_ivf_topk slot caches its affine params in _IVF_INDEX_CACHE
    and its int8 slice scores with the cached copy. That is sound ONLY
    while cached == recomputed over an immutable fixture — pin the
    equivalence, so a future divergence of the slot's param rule from
    quantization_params fails HERE, not as a silent slice drift."""
    from document_clustering_with_hadoop_mapreduce_spark.caches import sf_key
    from document_clustering_with_hadoop_mapreduce_spark.plans.queries_similarity import (
        _IVF_INDEX_CACHE,
        Q_BITS,
    )
    from document_clustering_with_hadoop_mapreduce_spark.plans.registry import (
        all_queries,
    )

    all_queries()["ann_ivf_topk"].spark(spark, sf_dir)  # populates the cache
    key = (spark.sparkContext.applicationId, sf_key(sf_dir))
    assert key in _IVF_INDEX_CACHE, "slot construction no longer caches"
    cached = _IVF_INDEX_CACHE[key][2]
    assert cached == quantization_params(_emb(spark, sf_dir), Q_BITS)

"""Similarity search over embedding columns (north-star extension).

Brute-force cosine top-k is the exact baseline; random-hyperplane LSH
bucketing is the scale path (bucket join replaces the O(n*q) scan). All
math is JVM-side higher-order functions over ``array<double>``; hyperplanes
are seeded shared constants so the DuckDB oracle reproduces buckets exactly.

Scale design:
- brute-force: queries broadcast (q << n), one pass over n, per-query top-k
  via window — shuffle is n*q scored pairs only when q is small; for large
  q use the LSH path.
- LSH: bucket = packed sign bits of hyperplane dot products (map-side), then
  a per-bucket self-join — candidate volume is sum over buckets of |b|^2,
  controlled by the number of planes.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity
from .topk import top_k_per_group


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


# per-matmul score-buffer budget for the closure-probe scorers, in doubles
# (~32 MB): one task never materializes more than this many scores at once,
# however many probes ride the closure. Module-level so tests can shrink it
# to force the chunked path on small fixtures.
SCORE_BUFFER_DOUBLES = 4_194_304

# soft ceiling on the per-bucket auto-sized sub_blocks in
# lsh_bucketed_topk: replication cost is |bucket| x S rows and task count
# S(S+1)/2 per bucket, so an unbounded S on a degenerate everything-in-
# one-bucket corpus would trade the pair-work win back for shuffle volume.
# 64 spreads a bucket to ~2,080 tasks and caps replication at 64x up to
# buckets of 64 x target rows; past that the EXACT need is used up to a
# hard cap of 64^2 = 4,096 (_spread_for), keeping per-side width ~target
# for buckets up to LSH_MAX_SUB_BLOCKS^2 * target_bucket_rows (~8.4M rows
# at defaults).
LSH_MAX_SUB_BLOCKS = 64


def _spread_for(occ: float, target_bucket_rows: int) -> int:
    """Task-spread factor S for a bucket of (estimated) ``occ`` rows:
    ``ceil(occ / target)``, hard-capped at LSH_MAX_SUB_BLOCKS^2. S enters
    the plan only as the modulus of pmod(hash(id), S) plus the explode
    range, so ANY integer partitions uniformly — the round-11 form
    (rounding S up to the next multiple of LSH_MAX_SUB_BLOCKS past the
    cap, a literal two-level S1*S2 re-hash) paid up to 2x extra
    replication and ~4x extra tasks right past the boundary for no
    better width (A/B at need=75 on the 100x hot-bucket fixture: S 75 vs
    128, identical rows, see round-12 COVERAGE). Replication is occ x S
    rows — inherent to block-pair covering (the quadratic-by-contract
    class) — which is why S is still capped: a bucket past the square
    cap degrades gracefully (wider sides; ``row_chunk`` still bounds
    every score buffer)."""
    need = max(1, -(-int(occ) // target_bucket_rows))
    return min(need, LSH_MAX_SUB_BLOCKS * LSH_MAX_SUB_BLOCKS)

# seeded sampling fraction for the auto-sizing occupancy pre-pass in
# lsh_bucketed_topk: the pre-pass only needs bucket counts accurate enough
# to pick a task-spread factor, and hashing 10% of the corpus keeps its
# cost ~1/10 of the main path's own hash stage.
OCCUPANCY_SAMPLE = 0.1

# enforced cap on the hot-bucket rows the auto-sizing pre-pass collects:
# the literal bucket->S map stays a few thousand plan constants at most;
# a corpus with more hot buckets than this is uniformly hot, where one
# global S (the hot-occupancy median) is the same decision without an
# unbounded driver collect.
LSH_MAX_HOT_BUCKETS = 4096

# auto-sizing results keyed by (input plan semantic hash, planes, target):
# the sizing is a STATISTIC — it shapes tasks, never output — so reusing
# it across calls on the same input is safe the way a cached ANALYZE is;
# repeat invocations (a session re-running the registered slot, min-of-N
# benches) pay the sampled pre-pass once. Worst staleness (files
# rewritten in place under an identical plan) mis-sizes S, a
# performance-only effect. FIFO-bounded.
_LSH_SIZING_CACHE: dict = {}
_LSH_SIZING_CACHE_MAX = 32


# In-task candidates this close to the cut survive it: to the k-th best
# unrounded cosine in top-k mode, to the threshold in threshold mode.
# Wider than one 6-dp rounding step, so a candidate that ties the cut
# once Spark rounds it (F.round(cos, 6)) is never dropped before that.
TIE_MARGIN = 2e-6


def _cosine_pairs(
    left, right, lnorm, rnorm, row_chunk, lid, rid,
    pair=None, k=None, per_col=False, threshold=None,
):
    """The one in-task scorer of the Arrow similarity operators: score the
    rows of ``left`` against the rows of ``right`` and return the
    surviving ``(i, j, cos)`` arrays — row indices into each side and the
    UNROUNDED score ``left[i] . right[j] / (lnorm[i] * rnorm[j])``, 0.0
    where the norm product is 0, or the plain dot product when the norms
    are None (rows the caller already made unit). Rounding is left to
    Spark, once, after the candidates leave the task.

    ``left`` is scored ``row_chunk`` rows at a time, so one matmul holds
    at most row_chunk x len(right) scores. ``pair`` filters by the id
    arrays ``lid``/``rid``: "ne" drops a row scored against itself, "lt"
    keeps lid < rid (each unordered pair once).

    Top-k mode (``k``): per left row — per right column with ``per_col``
    — every candidate within TIE_MARGIN of the chunk's k-th best score,
    so the kept set is a superset of the local top-k after rounding.
    Candidates with the SAME unrounded score round alike, so the rank
    tail's id tie-break (the other side's id) orders them: of each such
    run only the k lowest ids are kept. So however many identical
    vectors or zero-norm rows tie, a row (column) leaves at most k
    candidates per distinct score per chunk.
    Threshold mode (``threshold``): every candidate with
    cos >= threshold - TIE_MARGIN. NaN scores never survive.
    """
    import numpy as np

    def cap_exact_ties(c, keep, tid):
        # rows of ``c`` are the groups, ``tid`` the tie-break ids of its
        # columns: of each run of EQUAL scores in a row keep the k lowest
        # ids. Only a row holding more than k candidates can lose any.
        hot = np.nonzero(keep.sum(axis=1) > k)[0]
        if not len(hot):
            return
        order = np.argsort(tid, kind="stable")
        sub = np.where(keep[np.ix_(hot, order)], c[np.ix_(hot, order)], -np.inf)
        s = np.argsort(sub, axis=1, kind="stable")  # equal scores stay in id order
        sv = np.take_along_axis(sub, s, axis=1)
        # in sorted order a score is among the first k of its run exactly
        # when the entry k places back differs from it
        first_k = np.ones(sv.shape, dtype=bool)
        first_k[:, k:] = sv[:, k:] != sv[:, :-k]
        r, p = np.nonzero(first_k & (sv > -np.inf))
        keep[hot] = False
        keep[hot[r], order[s[r, p]]] = True

    out = []
    for r0 in range(0, len(left), row_chunk):
        sl = slice(r0, r0 + row_chunk)
        c = left[sl] @ right.T
        if lnorm is not None:
            den = lnorm[sl][:, None] * rnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                c = np.where(den == 0.0, 0.0, c / den)
        keep = ~np.isnan(c)
        if pair == "ne":
            keep &= lid[sl][:, None] != rid[None, :]
        elif pair == "lt":
            keep &= lid[sl][:, None] < rid[None, :]
        if threshold is not None:
            keep &= c >= threshold - TIE_MARGIN
        else:
            axis = 0 if per_col else 1
            n = c.shape[axis]
            if n > k:
                kth = np.take(
                    np.partition(np.where(keep, c, -np.inf), n - k, axis=axis),
                    [n - k],
                    axis=axis,
                )
                keep &= c >= kth - TIE_MARGIN
                if per_col:
                    cap_exact_ties(c.T, keep.T, lid[sl])
                else:
                    cap_exact_ties(c, keep, rid)
        i, j = np.nonzero(keep)
        out.append((i + r0, j, c[i, j]))
    if not out:
        none = np.empty(0, dtype=np.intp)
        return none, none, np.empty(0)
    return tuple(np.concatenate(x) for x in zip(*out))


def _top_k_by_cos(candidates: DataFrame, k: int) -> DataFrame:
    """The similarity rank tail: round each candidate's ``cos`` once, with
    Spark's ``F.round(cos, 6)`` (the rule of every other rounded slot),
    then keep each query's ``k`` best by (cos desc, vec_id asc)."""
    return top_k_per_group(
        candidates.withColumn("cos", F.round("cos", 6)),
        ["query_id"],
        [F.col("cos").desc(), F.col("vec_id").asc()],
        k,
    ).select("query_id", "vec_id", "cos", "rank")


def _id_pd_dtype(id_type) -> str:
    """pandas dtype for an id Series emitted from an Arrow task: a concrete
    NumPy dtype where one exists (the fast Arrow path for the common
    integer ids), ``object`` otherwise (string/decimal ids convert
    elementwise — such streams are threshold-filtered and small).

    Keyed on ``DataType.simpleString()`` values: LongType prints
    ``bigint`` (not ``long``), ShortType ``smallint``, ByteType
    ``tinyint`` — tests pin that a bigint id actually maps to int64
    (round 9 shipped ``long``/``short``/``byte`` keys that never matched,
    silently sending every long id down the object path)."""
    return {
        "bigint": "int64", "int": "int32", "smallint": "int16",
        "tinyint": "int8", "float": "float32", "double": "float64",
    }.get(id_type.simpleString(), "object")


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 8192,
) -> DataFrame:
    """Exact top-k neighbors per query vector (self excluded).

    (query_id, vec_id, cos, rank) — cos rounded before ranking so the k-set
    is engine-stable; vec_id ascending tie-break.

    Round 8 shape: the probe set is BOUNDED BY CONTRACT (it rides the
    task closure, the same driver-known-small discipline as centroid
    literals; unbounded query sets belong on the LSH/IVF paths), so each
    corpus partition scores itself against the probe matrix with ONE
    NumPy matmul and emits only its LOCAL top-k per query. The final
    exact rank then orders parts x q x k candidate rows — the previous
    shape window-sorted the full n x q scored stream hash-partitioned on
    q keys, i.e. q sort tasks of corpus-sized input at scale, with every
    cosine an interpreted per-row HOF (~60 us) — both the round-7-class
    defects the quadratic-family bench measures for. Per-partition local
    top-k by (cos desc, id asc) is a superset of the global top-k, so
    the result is identical. The kernel (``_cosine_pairs``) also keeps
    every candidate within TIE_MARGIN of a query's k-th score, so a
    candidate that only ties after rounding still reaches the rank tail,
    which rounds once with Spark's ``F.round(cos, 6)`` (float summation
    order differs from the JVM fold at ~1e-16, the accepted class).

    Round 9: the contract is ENFORCED, not just documented — the collect
    is capped at ``max_queries`` rows (the cap+1'th row raises with a
    redirect to the LSH/IVF paths), so an unbounded query frame fails
    fast instead of silently materializing on the driver."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    qrows = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    ).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk probe set exceeds max_queries={max_queries}: the "
            "exact scorer ships queries in the task closure (driver-bounded "
            "by contract); route large query sets through lsh_bucketed_topk "
            "or ivf_topk, or raise max_queries explicitly."
        )
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("evec")
    )
    out_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("vec_id", embeddings.schema[id_col].dataType),
            StructField("cos", DoubleType()),
        ]
    )
    qids = [r["query_id"] for r in qrows]
    qmat = [list(r["qvec"]) for r in qrows]

    def local_topk(batches):
        import numpy as np
        import pandas as pd

        if not qids:
            return
        rid = np.asarray(qids)
        Q = np.asarray(qmat, dtype=np.float64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        # score-buffer bound (round 9): chunk the corpus rows so one matmul
        # never materializes more than ~4M doubles (32 MB) no matter how
        # large q grows within its cap — per-(chunk, query) local top-k is
        # still a superset of the global top-k, so output is identical
        row_chunk = max(1, SCORE_BUFFER_DOUBLES // len(qids))
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            m = np.asarray(pdf["evec"].tolist(), dtype=np.float64)
            en = np.sqrt((m * m).sum(axis=1))
            i, j, c = _cosine_pairs(
                m, Q, en, qn, row_chunk, ids, rid, pair="ne", k=k, per_col=True
            )
            yield pd.DataFrame({"query_id": rid[j], "vec_id": ids[i], "cos": c})

    return _top_k_by_cos(e.mapInPandas(local_topk, out_schema), k)


def random_hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Seeded hyperplane normals, rounded to 6dp so the literal constants
    embedded in Spark plans and oracle SQL are identical text."""
    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Packed sign-bit bucket id: bit p = 1 iff dot(vec, plane_p) > 0.

    Planes ship as one nested-array literal; per-plane dot products are
    zip_with + aggregate with the same left-to-right fold order as an
    unrolled sum (bit-identical buckets, ~100x cheaper driver-side plan
    construction — see operators.kmeans.assign_nearest).
    """
    planes_lit = F.lit([[float(v) for v in p] for p in planes])
    weights_lit = F.lit([1 << p for p in range(len(planes))])
    bits = F.zip_with(
        planes_lit,
        weights_lit,
        lambda pl, w: F.when(
            F.aggregate(
                F.zip_with(vec, pl, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            w,
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def lsh_buckets(
    embeddings: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        lsh_bucket(_as_double(F.col(vec_col)), planes).alias("bucket"),
    )


def _auto_sizing(
    embeddings: DataFrame,
    planes: list[list[float]],
    vec_col: str,
    target_bucket_rows: int,
) -> tuple:
    """Sampled-occupancy sizing for ``lsh_bucketed_topk``: returns
    ``('global', S)`` or ``('map', {bucket: S})`` (hot entries only).

    Cached per (input plan semantic hash, planes, target): the sizing is
    a statistic — it shapes tasks, never output — so reuse across calls
    on the same input is safe the way a cached ANALYZE is, and repeat
    invocations pay the pre-pass once. The collect is driver-bounded BY
    ENFORCEMENT (the module's cap discipline): at most
    LSH_MAX_HOT_BUCKETS hot rows come back; past the cap the corpus is
    uniformly hot and per-bucket granularity buys nothing — fall back to
    ONE global S at the hot-occupancy median (one extra 1-row agg),
    never an unbounded driver frame."""
    try:
        plan_key = (
            embeddings._jdf.queryExecution().analyzed().semanticHash()
        )
    except Exception:  # plan hashing unavailable -> recompute, still correct
        plan_key = None
    # vec_col is part of the key: the same frame can carry two embedding
    # columns with different bucket distributions, and a sizing computed
    # from the wrong column would hand a hot bucket S=1
    key = (
        plan_key,
        vec_col,
        tuple(tuple(p) for p in planes),
        target_bucket_rows,
        OCCUPANCY_SAMPLE,
    )
    if plan_key is not None and key in _LSH_SIZING_CACHE:
        return _LSH_SIZING_CACHE[key]

    def s_of(occ_scaled: float) -> int:
        return _spread_for(occ_scaled, target_bucket_rows)

    hot = (
        embeddings.sample(fraction=OCCUPANCY_SAMPLE, seed=7)
        .select(lsh_bucket(_as_double(F.col(vec_col)), planes).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .filter(F.col("__occ") > float(target_bucket_rows) * OCCUPANCY_SAMPLE)
    )
    hot_rows = hot.limit(LSH_MAX_HOT_BUCKETS + 1).collect()
    if len(hot_rows) > LSH_MAX_HOT_BUCKETS:
        med = hot.agg(F.expr("approx_percentile(__occ, 0.5)").alias("m")).collect()[
            0
        ]["m"]
        sizing = ("global", s_of(med / OCCUPANCY_SAMPLE))
    else:
        smap = {r["bucket"]: s_of(r["__occ"] / OCCUPANCY_SAMPLE) for r in hot_rows}
        sizing = ("map", {kk: vv for kk, vv in smap.items() if vv > 1})
    if plan_key is not None:
        if len(_LSH_SIZING_CACHE) >= _LSH_SIZING_CACHE_MAX:
            _LSH_SIZING_CACHE.pop(next(iter(_LSH_SIZING_CACHE)))
        _LSH_SIZING_CACHE[key] = sizing
    return sizing


def lsh_bucketed_topk(
    embeddings: DataFrame,
    planes: list[list[float]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_blocks: int | None = None,
    row_chunk: int = 4096,
    target_bucket_rows: int = 2048,
) -> DataFrame:
    """ANN: per-vector top-k among same-bucket vectors.

    Round-8 shape (the semdedup sub-block pattern): the within-bucket
    pair space is partitioned into (bucket, ti, tj) sub-block tasks —
    vectors replicate only to their own bucket's S(S+1)/2 sub-pairs, so a
    HOT bucket (boilerplate embeddings all hashing identically) spreads
    across tasks instead of serializing — and each task scores its pairs
    with ONE NumPy matmul and emits only per-vector LOCAL top-k (both
    directions of a cross task). The previous shape was a bucket-keyed
    self-join with an interpreted ~60 us HOF cosine per candidate row and
    a window over the full candidate stream; the final exact rank here
    orders S * k candidate rows per vector, plus the near-ties within
    TIE_MARGIN of a task's k-th score (at most k per distinct score:
    ``_cosine_pairs`` caps exact ties — a bucket of identical vectors, a
    zero-norm vector — by the id tie-break). Per-vector
    local top-k, widened by TIE_MARGIN (see ``cosine_topk``), is a
    superset of the global one; Spark rounds and ranks once, with the
    vec_id tie-break, so output is identical.

    Round 10 (closing the VERDICT-r9 headroom item): ``sub_blocks=None``
    (the default) sizes S PER BUCKET from sampled occupancy —
    ``S_b = _spread_for(|b|, target_bucket_rows)``: ceil(|b|/target)
    capped at LSH_MAX_SUB_BLOCKS, with a SECOND capped factor past the
    cap (round 11 — the residual re-split as a composite modulus), so
    per-side width stays ~target for buckets up to
    LSH_MAX_SUB_BLOCKS^2 * target rows.
    A slim seeded-sample pre-pass counts buckets, only the HOT entries
    (estimated |b| > target) come back to the driver — a collect bounded
    by LSH_MAX_HOT_BUCKETS BY ENFORCEMENT, falling back to one global S
    (the hot-occupancy median) on a degenerate uniformly-hot corpus —
    and S rides into the main plan as a literal bucket->S map lookup, so
    the replicate path's shape is IDENTICAL to the static one (no join,
    no window, no checkpoint; those alternatives measured +0.9 s, +2.9 s
    and +1.0 s respectively on the 20k hot-bucket fixture). Cold buckets
    get S=1 (zero replication — the round-9 static default replicated
    EVERY vector 4x however small its bucket), hot buckets spread to
    ~target_bucket_rows-per-side tasks without the caller knowing their
    skew. Auto mode makes construction EAGER (the pre-pass runs at call
    time — same driver-known-small discipline as ``ivf_topk``'s
    centroids) and the sizing is CACHED per (input plan, planes, target)
    — a statistic, like ANALYZE output, so repeat invocations on the
    same input skip the pre-pass entirely (performance-only staleness by
    construction). A static ``sub_blocks`` overrides (the round-9 behavior,
    kept for explicit sizing) and stays fully lazy; each task still
    chunks its matmul at ``row_chunk`` query rows so the score buffer is
    bounded at row_chunk x (|bucket|/S) doubles. None of the knobs
    changes output (pinned in tests).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    if sub_blocks is not None and sub_blocks < 1:
        raise ValueError(f"sub_blocks must be >= 1, got {sub_blocks}")
    if row_chunk < 1:
        raise ValueError(f"row_chunk must be >= 1, got {row_chunk}")
    if target_bucket_rows < 1:
        raise ValueError(f"target_bucket_rows must be >= 1, got {target_bucket_rows}")
    b = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("vec"),
        lsh_bucket(_as_double(F.col(vec_col)), planes).alias("bucket"),
    )
    if sub_blocks is None:
        # Occupancy pre-pass, chosen by measurement on the 20k hot-bucket
        # fixture. NOT a count window over bucket (buffers and shuffles the
        # full VECTOR payload per partition: +2.9 s), NOT a checkpoint of
        # the bucketed frame (breaks the scan->LSH->replicate stage fusion
        # and serializes an extra materialize+agg ahead of it: +1.0 s),
        # and NOT a broadcast occ join either (+0.9 s of plan nodes on the
        # hot path): a SLIM SAMPLED recompute — hash a seeded 10% sample of
        # the vector column, count per bucket, keep only the HOT entries —
        # whose result enters the main plan as a LITERAL bucket->S map, so
        # the replicate path's plan is byte-identical in shape to the
        # static-S one. Sizing tolerates sampling noise by construction:
        # hot buckets (the ones S must spread) are exactly the well-sampled
        # ones, a small or unseen bucket defaulting to S=1 is the
        # assignment it wants anyway, and S never changes OUTPUT — only
        # task shape (the invariance tests pin this).
        sizing = _auto_sizing(embeddings, planes, vec_col, target_bucket_rows)
        kind, val = sizing
        if kind == "global":
            s_col = F.lit(val)
        elif val:  # per-bucket map of hot buckets (S > 1 entries only)
            kv = [x for kk in sorted(val) for x in (F.lit(kk), F.lit(val[kk]))]
            s_col = F.coalesce(
                F.element_at(F.create_map(*kv), F.col("bucket")), F.lit(1)
            )
        else:
            s_col = F.lit(1)
    else:
        s_col = F.lit(sub_blocks)
    rep = b.withColumn("__S", s_col).withColumn(
        "__sub", F.pmod(F.hash(F.col("vec_id")), F.col("__S")).cast("int")
    ).select(
        "*", F.explode(F.sequence(F.lit(0), F.col("__S") - 1)).alias("__p")
    ).select(
        "vec_id", "vec", "bucket", "__sub",
        F.least("__sub", "__p").alias("__ti"),
        F.greatest("__sub", "__p").alias("__tj"),
    )
    id_type = embeddings.schema[id_col].dataType
    out_schema = StructType([
        StructField("query_id", id_type),
        StructField("vec_id", id_type),
        StructField("cos", DoubleType()),
    ])

    def score(pdf):
        import numpy as np
        import pandas as pd

        ti, tj = int(pdf["__ti"].iloc[0]), int(pdf["__tj"].iloc[0])
        ids = pdf["vec_id"].to_numpy()
        m = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        out = []

        # score-buffer bound: row_chunk x |ri| doubles per matmul
        def emit_topk(li, ri, pair):
            i, j, c = _cosine_pairs(
                m[li], m[ri], norms[li], norms[ri], row_chunk, ids[li], ids[ri],
                pair=pair, k=k,
            )
            out.append(pd.DataFrame(
                {"query_id": ids[li][i], "vec_id": ids[ri][j], "cos": c}
            ))

        subs = pdf["__sub"].to_numpy()
        if ti == tj:
            emit_topk(slice(None), slice(None), "ne")  # self excluded
        else:  # cross task: both directions, one matmul's worth each
            li = np.nonzero(subs == ti)[0]
            ri = np.nonzero(subs == tj)[0]
            emit_topk(li, ri, None)
            emit_topk(ri, li, None)
        return pd.concat(out, ignore_index=True)

    par = embeddings.sparkSession.sparkContext.defaultParallelism
    candidates = (
        rep.repartition(max(4 * par, 128), F.col("bucket"), F.col("__ti"), F.col("__tj"))
        .groupBy("bucket", "__ti", "__tj")
        .applyInPandas(score, out_schema)
    )
    return _top_k_by_cos(candidates, k)


def top_similar_pairs(embeddings: DataFrame, k: int = 20,
                      id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup: globally most-similar pairs (a < b).

    O(n^2) nested-loop baseline — pytest oracle ONLY (tests pin
    ``block_topk_pairs`` to it); the registered query runs the
    block-partitioned form below.
    """
    e = embeddings.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("vec"))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine_similarity(F.col("a.vec"), F.col("b.vec")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_a").asc(), F.col("vec_b").asc())
        .limit(k)
    )


def block_topk_pairs(
    embeddings: DataFrame,
    k: int = 20,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT global top-k cosine pairs, block-pair partitioned — the
    scale-safe shape for exact all-pairs work.

    Why not LSH + re-rank: exact global top-k admits no sub-quadratic
    candidate set on this data. The synthetic embeddings are near-isotropic
    (measured: the 20th-best pair is cos ~0.44-0.49 at sf0.01/0.1, vs a ~0
    background), so random-hyperplane collision probs are ~0.65 for target
    pairs vs 0.5 for noise — any (planes x tables) reaching recall~1 on the
    top-20 admits O(n^2) candidates anyway, with a residual gate-breaking
    miss probability. LSH/IVF remain the APPROXIMATE scale paths
    (``lsh_bucketed_topk``, ``ivf_topk``); when exact is demanded, the
    right design makes the unavoidable n^2/2 pair stream partition-parallel
    and shuffle-bounded instead of pretending to prune it:

    - each vector lands in block ``vec_id mod B`` and is replicated to the
      B block-pair tasks it participates in (shuffle = n x B rows, tunable;
      B ~ sqrt(parallelism) at cluster scale);
    - pairs materialize ONLY inside an equi-join on the task key — a
      shuffle hash/sort-merge join, never a BroadcastNestedLoopJoin of the
      corpus against itself (no executor holds more than two blocks);
    - each pair is produced exactly once (same-block tasks take id<id,
      cross-block tasks take one vector from each side);
    - the global top-k is a TakeOrderedAndProject: per-partition partial
      top-k, k rows per task to the driver — nothing re-shuffles.

    Bit-identical to ``top_similar_pairs`` (same cosine, same 6dp round,
    same ordering).
    """
    from ..functions.vector import dot, norm

    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("vec"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"),
    ).withColumn("nrm", norm(F.col("vec")))  # n norms once, not n^2 in-pair
    rep = e.select(
        "vec_id", "vec", "nrm", "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("p"),
    ).select(
        "vec_id", "vec", "nrm", "blk",
        F.least("blk", "p").alias("ti"),
        F.greatest("blk", "p").alias("tj"),
    )
    # spread the pair-stream side across the cluster: on a real deployment
    # the task-key shuffle exists anyway (sort-merge join); on a local
    # single-row-group file it is what buys the parallelism. Explicit
    # partition count (one per block-pair task) so AQE can't coalesce the
    # pair stream back onto a few cores (tiny shuffle bytes, huge compute).
    n_tasks = n_blocks * (n_blocks + 1) // 2
    l = rep.repartition(n_tasks, F.col("ti"), F.col("tj")).alias("l")
    r = rep.alias("r")
    same_task = (F.col("l.ti") == F.col("r.ti")) & (F.col("l.tj") == F.col("r.tj"))
    diag = F.col("l.ti") == F.col("l.tj")
    pair_once = (diag & (F.col("l.vec_id") < F.col("r.vec_id"))) | (
        ~diag & (F.col("l.blk") == F.col("l.ti")) & (F.col("r.blk") == F.col("l.tj"))
    )
    # same per-pair expression shape as cosine_similarity: dot/(na*nb) with
    # identical fold order (incl. the zero-norm -> 0.0 guard), norms merely
    # precomputed -> bit-identical
    nprod = F.col("l.nrm") * F.col("r.nrm")
    cos = F.round(
        F.when(nprod == 0.0, F.lit(0.0)).otherwise(
            dot(F.col("l.vec"), F.col("r.vec")) / nprod
        ),
        6,
    )
    return (
        l.join(r, same_task & pair_once)
        .select(
            # cross-block sides aren't id-ordered; the contract is vec_a < vec_b
            F.least(F.col("l.vec_id"), F.col("r.vec_id")).alias("vec_a"),
            F.greatest(F.col("l.vec_id"), F.col("r.vec_id")).alias("vec_b"),
            cos.alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_a").asc(), F.col("vec_b").asc())
        .limit(k)
    )


def _probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, qvec, cell): each query replicated onto its ``nprobe``
    nearest coarse-quantizer cells (re-rank all k dists — k is tiny).
    Centroids ship as one nested-array literal; zip_with+aggregate keeps
    the same fold order as an unrolled sum (see operators.kmeans)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    cents_lit = F.lit([[float(v) for v in c] for c in centroids])
    probe_structs = F.transform(
        cents_lit,
        lambda c, i: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(F.col("qvec"), c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("d"),
            i.alias("cell"),
        ),
    )
    return (
        q.select(
            "query_id",
            "qvec",
            F.slice(F.array_sort(probe_structs), 1, nprobe).alias("pr"),
        )
        .select("query_id", "qvec", F.explode("pr").alias("p"))
        .select("query_id", "qvec", F.col("p.cell").alias("cell"))
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The deterministic seeded coarse quantizer shared by EVERY IVF
    surface (``ivf_topk``, ``build_ivf_index`` callers, the fused slot):
    the ``n_cells`` lowest-id vectors, cell id = position. One definition
    so the direct and indexed paths can never drift; production swaps a
    k-means fit in here without touching the probes."""
    cents_rows = embeddings.orderBy(id_col).limit(n_cells).collect()
    return [[float(x) for x in r[vec_col]] for r in cents_rows]


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 8192,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize into cells, probe few.

    The second ANN scale path next to LSH: a coarse quantizer (here the
    deterministic seeded centroids = the ``n_cells`` lowest-id vectors;
    production would use a k-means fit) partitions the corpus into cells;
    each query scores only vectors in its ``nprobe`` nearest cells.

    Scale: cell assignment is one broadcast argmin pass (centroids are a
    k x d literal); the probe is an equi-join on ``cell`` — candidate
    volume = sum of probed cell sizes, never O(n*q). Writing the corpus
    bucketed BY cell makes the probe join shuffle-free on the corpus side.
    """
    from .kmeans import assign_nearest

    # n_cells LOWEST ids (no contiguous-id assumption); cell id = position.
    # Callers that also build an index pass the SAME centroids in so the
    # two paths share one derivation (and one collect).
    if centroids is None:
        centroids = ivf_centroids(embeddings, n_cells, id_col, vec_col)
    elif len(centroids) > n_cells:
        # over-supplying cells would silently probe a LARGER cell space
        # than the caller's n_cells contract defines; FEWER is legitimate
        # (the derivation rule itself yields < n_cells on a corpus with
        # fewer rows — limit(n) on a short table), so only excess is loud
        raise ValueError(
            f"centroids has {len(centroids)} cells but n_cells={n_cells}; "
            "pass at most n_cells centroids (or omit them to derive)"
        )

    e = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("vec")
    )
    cells = assign_nearest(e, centroids, "vec").select(
        "vec_id", "vec", F.col("cluster").alias("cell")
    )

    # Round-8 shape: the probe table is broadcast-bounded by contract, so
    # it rides the task closure instead of a join — each corpus partition
    # scores its rows against the probes of their cells with vectorized
    # NumPy (grouped per cell present in the batch) and emits per-query
    # LOCAL top-k; the final exact window ranks parts x q x k candidates.
    # The previous shape paid an interpreted ~60 us HOF cosine per
    # (cell-member x probe) row and window-sorted the full candidate
    # stream on q keys.
    from pyspark.sql.types import DoubleType, StructField, StructType

    # Round 9: the broadcast-bounded-probes contract is enforced — the
    # collect is capped at max_queries * nprobe rows; past the cap this
    # raises instead of silently materializing an unbounded probe table
    # on the driver. (For truly large query sets, write the corpus
    # bucketed BY cell with build_ivf_index and run the probe as the
    # shuffle-free equi-join ivf_probe_indexed provides.)
    probe_cap = max_queries * nprobe
    probe_rows = (
        _probe_cells(queries, centroids, nprobe, id_col, vec_col)
        .limit(probe_cap + 1)
        .collect()
    )
    if len(probe_rows) > probe_cap:
        raise ValueError(
            f"ivf_topk probe set exceeds max_queries={max_queries} "
            f"(x nprobe={nprobe}): probes ride the task closure "
            "(driver-bounded by contract); route large query sets through "
            "build_ivf_index + ivf_probe_indexed, or raise max_queries "
            "explicitly."
        )
    by_cell: dict[int, list] = {}
    for r in probe_rows:
        by_cell.setdefault(int(r["cell"]), []).append(
            (r["query_id"], [float(x) for x in r["qvec"]])
        )
    out_schema = StructType([
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("vec_id", embeddings.schema[id_col].dataType),
        StructField("cos", DoubleType()),
    ])

    def local_topk(batches):
        import numpy as np
        import pandas as pd

        probes = {}  # cell -> (probe ids, probe matrix, probe norms)
        for cell, plist in by_cell.items():
            Q = np.asarray([p[1] for p in plist], dtype=np.float64)
            rid = np.asarray([p[0] for p in plist])
            probes[cell] = (rid, Q, np.sqrt((Q * Q).sum(axis=1)))
        for pdf in batches:
            if not len(pdf) or not probes:
                continue
            out = []
            cells_np = pdf["cell"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            m = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
            en = np.sqrt((m * m).sum(axis=1))
            for cell in np.unique(cells_np):
                if int(cell) not in probes:
                    continue
                rid, Q, qn = probes[int(cell)]
                sel = np.nonzero(cells_np == cell)[0]
                # score-buffer bound (round 9): chunk the cell's rows so one
                # matmul never holds more than ~4M doubles regardless of how
                # many probes target the cell; per-chunk local top-k remains
                # a superset of the global one (the rank tail re-ranks)
                row_chunk = max(1, SCORE_BUFFER_DOUBLES // len(rid))
                i, j, c = _cosine_pairs(
                    m[sel], Q, en[sel], qn, row_chunk, ids[sel], rid,
                    pair="ne", k=k, per_col=True,
                )
                out.append(pd.DataFrame(
                    {"query_id": rid[j], "vec_id": ids[sel][i], "cos": c}
                ))
            if out:
                yield pd.concat(out, ignore_index=True)

    return _top_k_by_cos(cells.mapInPandas(local_topk, out_schema), k)


def quantization_params(
    embeddings: DataFrame, bits: int = 8, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension affine quantization parameters (mins, scales) for
    ``quantize_embeddings``: scale_d = (max_d - min_d) / (2^bits - 1),
    both rounded to 6 decimals so the DuckDB oracle reproduces every code.

    One posexplode + (dim)-key aggregate; the result is dim-sized (the
    same driver-footprint class as k-means centroids) and enters the
    quantize plan as literal arrays. A degenerate dimension
    (max == min) gets scale 0 and quantizes to code 0.
    """
    if bits < 1 or bits > 16:
        raise ValueError(f"bits must be in [1, 16], got {bits}")
    levels = (1 << bits) - 1
    stats = (
        embeddings.select(F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("dim")
        .collect()
    )
    mins = [round(r["mn"], 6) for r in stats]
    maxs = [round(r["mx"], 6) for r in stats]
    scales = [round((hi - lo) / levels, 6) for lo, hi in zip(mins, maxs)]
    return mins, scales


def quantize_embeddings(
    embeddings: DataFrame,
    mins: list[float],
    scales: list[float],
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Affine int quantization of an embedding column: code_d =
    floor((x_d - min_d) / scale_d + 0.5), clamped to [0, 2^bits - 1].

    The storage/bandwidth lever for 100 TB embedding tables: float32 ->
    int8 is a 4x cut in scan bytes and shuffle volume, with recall
    measured (not assumed) by the tests against the exact float top-k.
    floor(+0.5) instead of round() because both engines evaluate it with
    identical IEEE semantics — DuckDB and the JVM disagree on round()'s
    tie behavior. Map-side only: two literal dim-sized arrays, one
    transform, no shuffle, no Python.
    """
    levels = (1 << bits) - 1
    mn, sc = F.lit(mins), F.lit(scales)
    # clamp in LONG, cast to int AFTER: floor() returns LONG, and an
    # int-cast inside the clamp wraps for out-of-range inputs (a
    # near-constant dim whose rounded scale is ~1e-6 plus a query value
    # ~2^31*scale past the corpus min overflows int32 BEFORE greatest/
    # least sees it — code 0 instead of `levels`, reconstructing min
    # instead of max). Clamp-then-cast is the order the DuckDB oracle
    # (CAST AS BIGINT inside least/greatest) and requantize_point
    # (Python arbitrary-precision min/max) both already use.
    code = F.transform(
        _as_double(F.col(vec_col)),
        lambda x, i: F.least(
            F.lit(levels),
            F.greatest(
                F.lit(0),
                F.when(F.element_at(sc, i + 1) == 0.0, F.lit(0)).otherwise(
                    F.floor((x - F.element_at(mn, i + 1)) / F.element_at(sc, i + 1) + 0.5)
                ),
            ),
        ).cast("int"),
    )
    return embeddings.select(F.col(id_col).alias("vec_id"), code.alias("qcodes"))


def dequantize(qcodes: Column, mins: list[float], scales: list[float]) -> Column:
    """x̂_d = min_d + code_d * scale_d — the reconstruction the quantized
    scorer works over (error <= scale/2 per dimension)."""
    mn, sc = F.lit(mins), F.lit(scales)
    return F.transform(
        qcodes, lambda q, i: F.element_at(mn, i + 1) + q * F.element_at(sc, i + 1)
    )


def requantize_point(
    vec, mins: list[float], scales: list[float], bits: int = 8
) -> list[float]:
    """Driver-side quantize->dequantize of ONE vector — bit-identical to
    ``quantize_embeddings`` + ``dequantize`` (same IEEE-double ops:
    floor(+0.5), int clamp, mn + code*sc). Lets a caller with cached
    float-space centroids derive their reconstructed-space twins without
    a Spark job (the fused int8 slot's case)."""
    import math

    levels = (1 << bits) - 1
    out: list[float] = []
    for x, mn, sc in zip(vec, mins, scales):
        code = (
            0
            if sc == 0.0
            else min(levels, max(0, math.floor((float(x) - mn) / sc + 0.5)))
        )
        out.append(mn + code * sc)
    return out


def quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 8192,
    params: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """``cosine_topk`` over the QUANTIZED corpus: corpus and queries share
    one parameter set, scoring runs on dequantized codes (same broadcast-
    probe plan as the exact scorer — only the vector bytes shrink).
    Recall vs the exact float top-k is pinned by the tests. Pass
    ``params=(mins, scales)`` to reuse a cached parameter set (skips the
    dim-sized stats collect)."""
    mins, scales = (
        params if params is not None else quantization_params(embeddings, bits, vec_col)
    )
    corpus = quantize_embeddings(embeddings, mins, scales, bits, id_col, vec_col).select(
        "vec_id", dequantize(F.col("qcodes"), mins, scales).alias(vec_col)
    )
    probes = quantize_embeddings(queries, mins, scales, bits, id_col, vec_col).select(
        "vec_id", dequantize(F.col("qcodes"), mins, scales).alias(vec_col)
    )
    return cosine_topk(
        corpus, probes, k, id_col="vec_id", vec_col=vec_col, max_queries=max_queries
    )


def quantized_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    k: int = 3,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 8192,
    params: tuple[list[float], list[float]] | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF over the int-quantized corpus — the configuration a 100 TB
    vector store actually runs: the coarse index bounds WHICH vectors are
    scored (sum of probed cell sizes, never O(n*q)) while quantization
    bounds the BYTES each candidate costs to scan and shuffle (4x at
    int8). Corpus and queries share one parameter set so the geometry is
    consistent; cells are assigned over the reconstructed codes, exactly
    what a code-only store can do. With nprobe == n_cells this equals
    ``quantized_topk`` (exhaustive over reconstructions, pinned in
    tests); recall vs the exact float top-k is measured, not assumed.

    ``params=(mins, scales)`` reuses a cached parameter set (skips the
    stats collect). ``centroids`` must already live in RECONSTRUCTED
    space (``requantize_point`` of float-space cells) — the coarse
    quantizer a code-only store owns is itself built from codes.
    """
    mins, scales = (
        params if params is not None else quantization_params(embeddings, bits, vec_col)
    )

    def recon(df: DataFrame) -> DataFrame:
        return quantize_embeddings(df, mins, scales, bits, id_col, vec_col).select(
            "vec_id", dequantize(F.col("qcodes"), mins, scales).alias(vec_col)
        )

    return ivf_topk(
        recon(embeddings), recon(queries), n_cells, nprobe, k, "vec_id", vec_col,
        max_queries=max_queries, centroids=centroids,
    )


# HOF assignment is O(k*d) INTERPRETED work per row (~1 us/element); fine
# for the handful-of-centroids queries, a scale-killer once k grows with
# the corpus the way SemDeDup prescribes (10k-100k clusters at web scale).
# Above kmeans.ARROW_ASSIGN_MIN_K, semdedup switches to the shared Arrow
# batch assignment (kmeans.assign_nearest_arrow — also used by the
# k-means|| distance passes, whose candidate set grows ~l per round).


def semdedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    materialize: bool = True,
    sub_blocks: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embedding space, then find near-duplicate pairs ONLY
    within each cluster and keep, per above-threshold pair, the member with
    the LOWER cosine similarity to its cluster centroid (the paper's
    keep-the-outlier policy — the low-centroid-sim member is the less
    redundant representative).

    Returns ``(docs, pairs)``:

    - ``docs``:  (vec_id, cluster, centroid_cos, keep) — one row per input
      vector; ``keep`` is False iff some same-cluster neighbor with cosine
      >= threshold has a strictly lower (centroid_cos, vec_id) key, so of
      every near-dup pair exactly one member is dropped and the decision is
      engine-deterministic (6dp-rounded sims, vec_id tie-break).
    - ``pairs``: (cluster, vec_a, vec_b, cos) with vec_a < vec_b — the
      above-threshold within-cluster near-dup edges, for auditing.

    Scale design (the whole point of the method): pair candidates
    materialize only inside an equi-join keyed by cluster, so the
    candidate volume is sum_c |c|^2 — controlled by k, which SemDeDup
    scales with the corpus (n/k vectors per cluster; the paper uses
    ~10k-100k clusters at web scale). Assignment is one map-side pass
    against a k x d literal (``assign_nearest``); no global pair
    enumeration, no broadcast of any per-document frame. The drop rule is
    a projection over the pair frame plus one distinct + one hash join
    back on vec_id.

    SKEW guard (measured, round 7): a plain equi-join on ``cluster``
    serializes each cluster's |c|^2/2 cosine evaluations onto ONE task —
    with the fixture's hot cluster (1,973 of 2,000 vectors) that single
    task ran 1.9M HOF cosines for ~43 s while 31 cores idled. Each
    cluster is therefore sub-blocked (``sub_blocks``, the
    ``block_topk_pairs`` pattern keyed by (cluster, ti, tj)): vectors
    replicate to the S(S+1)/2 sub-block-pair tasks of their own cluster
    only, each unordered pair is produced exactly once, and a hot
    cluster's pair work spreads across S(S+1)/2 tasks, with an explicit
    task-count repartition so AQE's small-bytes coalescing cannot undo
    the spread (measured 43.9 s -> 4.0 s warm at sf0.1 with S=8;
    identical output, pinned in tests).

    Reference parity note: the reference engine has no semantic dedup; this
    is a north-star extension composing its clustering surface
    (sources/2.2/source/KMeans.java assignment semantics, re-expressed in
    ``assign_nearest``) with the dedup family in ``operators/dedup.py``.
    """
    from .kmeans import ARROW_ASSIGN_MIN_K, assign_nearest, assign_nearest_arrow

    cents = F.lit([[float(v) for v in c] for c in centroids])
    if len(centroids) > ARROW_ASSIGN_MIN_K:
        # k grows with the corpus per the paper; the interpreted HOF
        # assignment is O(k*d)/row and dominated the whole pipeline at
        # k=80 (measured ~16 s for 20k x 80 x 64 — see the quadratic
        # family bench). Same semantics, BLAS batch (Arrow pass-through,
        # so select just the two columns semdedup needs).
        assigned = assign_nearest_arrow(
            embeddings.select(id_col, vec_col), centroids, features_col=vec_col
        )
    else:
        assigned = assign_nearest(embeddings, centroids, features_col=vec_col)
    base = assigned.select(
        F.col(id_col).alias("vec_id"),
        F.col("cluster"),
        F.round(
            cosine_similarity(
                _as_double(F.col(vec_col)), F.element_at(cents, F.col("cluster") + 1)
            ),
            6,
        ).alias("centroid_cos"),
        _as_double(F.col(vec_col)).alias("_v"),
    )
    if materialize:
        # three consumers (pair-join left/right + the keep fan-back):
        # Catalyst never unifies the assignment subtrees, so without this
        # the scan + k-centroid distance math runs three times (the
        # single-materialization pattern, see operators/dedup.py:160)
        base = base.localCheckpoint(eager=False)
    if sub_blocks < 1:
        raise ValueError(f"sub_blocks must be >= 1, got {sub_blocks}")
    # sub-block the within-cluster pair space so a hot cluster's pairs
    # spread across S(S+1)/2 tasks instead of serializing on one (see
    # docstring); sub assignment only affects scheduling, never the output
    rep = base.withColumn(
        "__sub", F.pmod(F.hash(F.col("vec_id")), F.lit(sub_blocks)).cast("int")
    ).select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(sub_blocks - 1))).alias("__p")
    ).select(
        "vec_id", "cluster", "centroid_cos", "_v", "__sub",
        F.least("__sub", "__p").alias("__ti"),
        F.greatest("__sub", "__p").alias("__tj"),
    )
    # explicit partition count so AQE can't coalesce the tiny-bytes/
    # huge-compute pair stream back onto a few cores — same counter-measure
    # as block_topk_pairs. CAPPED (round 8): one-partition-per-group is
    # k * S(S+1)/2 — at k=200 that was 7,200 near-empty tasks whose launch
    # overhead dominated the pass (46.6 -> ~18 s measured at 20k vectors),
    # and SemDeDup's contract scales k with the corpus (3.6M partitions at
    # web-scale k). The count only has to be >> parallelism so hot groups
    # hash apart; applyInPandas still scores each (cluster, ti, tj) group
    # independently within a partition.
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    n_tasks = min(
        len(centroids) * sub_blocks * (sub_blocks + 1) // 2,
        max(16 * par, 512),
    )
    thr = float(threshold)
    # pair schema derives the id columns from the INPUT id type (round 9:
    # the generic id_col contract — string/int ids flow through unchanged,
    # like cosine_topk/lsh_bucketed_topk already do)
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    id_type = embeddings.schema[id_col].dataType
    pair_schema = StructType([
        StructField("cluster", IntegerType()),
        StructField("vec_a", id_type),
        StructField("vec_b", id_type),
        StructField("cos", DoubleType()),
        StructField("cos_a", DoubleType()),
        StructField("cos_b", DoubleType()),
    ])
    id_pd_dtype = _id_pd_dtype(id_type)

    def _score(pdf):
        # One (cluster, ti, tj) sub-block-pair task: build the task-local
        # dense matrix ONCE and score every pair with a NumPy matmul.
        # Round 8 replacement for a per-pair JVM zip_with/aggregate cosine
        # (higher-order functions are interpreted, measured ~60 us/pair —
        # on a 12.8k-vector hot cluster that was 5,400 core-seconds; the
        # matmul form is the same ~82M dots in ~10 Gflop of BLAS).
        # Same dot/(||a||*||b||) with the zero-norm->0.0 guard as
        # functions.vector.cosine_similarity; the scores leave the task
        # unrounded (within TIE_MARGIN of the threshold) and Spark rounds
        # them before the threshold filter below. Per-task memory:
        # 2*(|c|/S)*d for the matrix plus the chunked (row_chunk x cols)
        # score buffer.
        import numpy as np
        import pandas as pd

        cluster = int(pdf["cluster"].iloc[0])
        ti, tj = int(pdf["__ti"].iloc[0]), int(pdf["__tj"].iloc[0])
        ids = pdf["vec_id"].to_numpy()
        ccos = pdf["centroid_cos"].to_numpy(dtype=np.float64)
        m = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        subs = pdf["__sub"].to_numpy()
        if ti == tj:  # each unordered pair once: id < id
            li = ri = slice(None)
        else:  # cross task: one side from each sub-block
            li, ri = np.nonzero(subs == ti)[0], np.nonzero(subs == tj)[0]
        i, j, c = _cosine_pairs(
            m[li], m[ri], norms[li], norms[ri], 4096, ids[li], ids[ri],
            pair="lt" if ti == tj else None, threshold=thr,
        )
        a, b = ids[li][i], ids[ri][j]
        ca, cb = ccos[li][i], ccos[ri][j]
        swap = a > b
        return pd.DataFrame({
            "cluster": pd.Series(np.full(len(c), cluster), dtype="int32"),
            "vec_a": pd.Series(np.where(swap, b, a), dtype=id_pd_dtype),
            "vec_b": pd.Series(np.where(swap, a, b), dtype=id_pd_dtype),
            "cos": c,
            "cos_a": np.where(swap, cb, ca),
            "cos_b": np.where(swap, ca, cb),
        })

    pairs = (
        rep.repartition(n_tasks, F.col("cluster"), F.col("__ti"), F.col("__tj"))
        .groupBy("cluster", "__ti", "__tj")
        .applyInPandas(_score, pair_schema)
        .withColumn("cos", F.round("cos", 6))
        .filter(F.col("cos") >= thr)
    )
    if materialize:
        # the pair frame has two consumers (the returned edges + the
        # dropped-set projection feeding docs) and its producer is the
        # expensive sub-blocked cosine pass — materialize the (small,
        # threshold-filtered) edge set once
        pairs = pairs.localCheckpoint(eager=False)
    # of each pair drop the HIGHER-centroid-sim member; centroid_cos tie
    # (incl. exact duplicates) drops the larger vec_id, so exactly one
    # member of every edge is marked and the mark-set is deterministic.
    dropped = pairs.select(
        F.when(F.col("cos_b") >= F.col("cos_a"), F.col("vec_b"))
        .otherwise(F.col("vec_a"))
        .alias("vec_id")
    ).distinct()
    docs = (
        base.drop("_v")
        .join(dropped.withColumn("_drop", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "centroid_cos",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )
    return docs, pairs.select("cluster", "vec_a", "vec_b", "cos")


def build_ivf_index(
    embeddings: DataFrame,
    centroids: list[list[float]],
    table: str,
    path: str,
    n_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index AS A STORAGE LAYOUT: assign every vector
    its coarse cell and write the corpus bucketed by ``cell``
    (``sources.bucketing.write_bucketed``).

    At 100 TB the index IS the layout — a probe query then sort-merge-joins
    against catalog bucketing metadata and the corpus side needs NO
    exchange at read time (the shuffle was paid once, at build time), which
    is what turns IVF from "a smaller scan" into "a co-located join".
    Rebuilds are per-partition appends in production; here the whole build
    is one assignment pass + one bucketed write.
    """
    from ..sources.bucketing import write_bucketed
    from .kmeans import assign_nearest

    e = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("vec")
    )
    cells = assign_nearest(e, centroids, "vec").select(
        "vec_id", "vec", F.col("cluster").alias("cell")
    )
    write_bucketed(cells, table, path, ["cell"], n_buckets=n_buckets)


def ivf_probe_indexed(
    spark,
    table: str,
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_probes: bool = True,
) -> DataFrame:
    """ANN top-k against a ``build_ivf_index`` table.

    Same semantics as ``ivf_topk`` (identical probe derivation, scoring,
    rounding and tie-breaks — the tests pin equality row for row), but the
    corpus comes from the bucketed catalog table:

    - small probe sets broadcast (``broadcast_probes=True``) — corpus never
      shuffles, same as the in-memory path;
    - LARGE probe sets (the 100 TB regime where the query stream itself is
      a table) use ``broadcast_probes=False``: the join plans sort-merge on
      ``cell`` and ONLY the probe side exchanges — the corpus side reads
      its buckets in place (plan-asserted in tests/test_ivf_index.py).
    """
    corpus = spark.table(table)
    probes = _probe_cells(queries, centroids, nprobe, id_col, vec_col)
    probe_side = F.broadcast(probes) if broadcast_probes else probes
    scored = (
        corpus.join(probe_side, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_similarity(F.col("qvec"), F.col("vec")).alias("cos"),
        )
    )
    return _top_k_by_cos(scored, k)


def mmr_select(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    score_col: str = "score",
    vec_col: str = "vec",
    id_col: str = "vec_id",
) -> list:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein, SIGIR
    1998): greedily pick ``k`` items maximizing

        mmr = lam * relevance - (1 - lam) * max cosine to already-selected

    — the diversity-aware re-rank (retrieval) / diverse-subset pick
    (data selection) primitive: pure top-k returns near-duplicates; MMR
    trades relevance against redundancy with one knob.

    Input is a CANDIDATE POOL (e.g. the top-N of ``cosine_topk`` or a
    quality-scored sample), not the corpus: greedy MMR is inherently
    sequential in k, so each of the k steps is one distributed job over
    the pool — max-by-struct aggregation, no sort, no shuffle of the pool
    (it is cached once); the selected set (<= k vectors) rides into step
    expressions as literals, the same small-side pattern as Lloyd's
    centroids. Returns the selected [(id, score, mmr)] in pick order —
    k driver-sized rows, the natural shape for a re-ranked result page.

    Ties break on (mmr DESC, id ASC) deterministically.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    pool = candidates.select(
        F.col(id_col).alias("__id"),
        F.col(score_col).cast("double").alias("__score"),
        _as_double(F.col(vec_col)).alias("__vec"),
    ).localCheckpoint(eager=False)
    picked: list = []
    picked_ids: set = set()
    picked_vecs: list[list[float]] = []
    for _ in range(k):
        remaining = pool.where(~F.col("__id").isin(*picked_ids)) if picked_ids else pool
        if picked_vecs:
            sims = [
                cosine_similarity(F.col("__vec"), F.lit(v).cast("array<double>"))
                for v in picked_vecs
            ]
            penalty = F.greatest(*sims) if len(sims) > 1 else sims[0]
        else:
            penalty = F.lit(0.0)
        mmr = F.round(F.lit(lam) * F.col("__score") - F.lit(1.0 - lam) * penalty, 9)
        # two-phase deterministic argmax (generic over id type): the max
        # mmr value, then the smallest id attaining it
        top = remaining.agg(F.max(mmr).alias("m")).collect()[0]["m"]
        if top is None:
            break
        row = (
            remaining.where(mmr == top)
            .orderBy(F.asc("__id"))
            .select("__id", "__score", mmr.alias("__mmr"), "__vec")
            .limit(1)
            .collect()[0]
        )
        picked.append((row["__id"], row["__score"], float(row["__mmr"])))
        picked_ids.add(row["__id"])
        picked_vecs.append([float(x) for x in row["__vec"]])
    return picked


def mine_hard_negatives(
    positives: DataFrame,
    embeddings: DataFrame,
    n_neg: int = 5,
    search_k: int = 20,
    anchor_col: str = "anchor_id",
    pos_col: str = "positive_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 8192,
    anchor_vectors: DataFrame | None = None,
    validate_anchors: bool = True,
) -> DataFrame:
    """(anchor_id, negative_id, cos, neg_rank): the ``n_neg`` most-similar
    corpus items to each anchor that are NOT among its positives — hard
    negative mining for contrastive/embedding training (the in-batch-
    random-negatives upgrade every dual-encoder recipe reaches for;
    e.g. Karpukhin et al. 2020, DPR §3.2).

    ``anchor_vectors`` (an (id_col, vec_col) frame covering exactly the
    positives' anchors) skips the anchor-derivation join AND its count
    validation: deriving anchors FROM ``positives`` executes the
    positives frame's lineage once per count and once more in the probe
    collect — for a caller whose positives are themselves a corpus-scan
    plan (the fused slot: top-1 cosine as declared positive), that is
    ~4 corpus scans at PLAN CONSTRUCTION, the VERDICT-r10-#1 cost class.
    A caller holding the anchor frame already (it built positives from
    it) passes it here; a caller with only a positives table (the
    operator's standalone shape — pair files on disk, cheap lineage)
    omits it and keeps the loud missing-anchor validation.

    ``validate_anchors`` (ADVICE r11): with ``anchor_vectors`` given, an
    anchor in ``positives`` that has no row in ``anchor_vectors`` would
    SILENTLY vanish from the output — the exact failure mode the derived
    path's count check makes loud — so by default the fast path keeps
    the contract with a pair-sized anti join (positives' distinct
    anchors LEFT ANTI anchor_vectors; both sides anchor-sized, never
    corpus-sized) and raises naming the missing count. The check's one
    action executes the ``positives`` lineage once AT CONSTRUCTION, so
    a caller whose positives ARE a corpus-scan plan has two outs:
    ``validate_anchors="deferred"`` keeps the loud contract but moves
    the check into the returned plan (a 0-row guard branch; fires on
    the FIRST ACTION over the result — even an empty one — as a Spark
    runtime error instead of a construction-time ValueError);
    ``validate_anchors=False`` drops the check entirely — a coverage
    violation then yields silent anchor disappearance, so only disable
    it when coverage is guaranteed by construction (the fused slot:
    anchors and positives derive from the same frame).

    Composition, not new machinery: anchors' vectors probe the corpus via
    ``cosine_topk`` (broadcast probes, self excluded), the positive pairs
    are removed with a LEFT ANTI join, and the survivors re-rank densely
    so every anchor keeps its ``n_neg`` hardest. ``search_k`` is the
    over-fetch: an anchor with p positives inside its top-``search_k``
    still yields ``search_k - p`` candidates, so size it >= n_neg + the
    typical positives-per-anchor (anchors with more positives than that
    in the neighborhood yield fewer than n_neg rows — count, don't pad).

    Scale shape: inherits ``cosine_topk``'s broadcast-probe scan (swap in
    ``ivf_topk`` upstream for the indexed regime); the anti join keys on
    (anchor, candidate) against the positives frame — pair-sized, not
    corpus-sized.
    """
    if n_neg < 1 or search_k < n_neg:
        raise ValueError(
            f"need 1 <= n_neg <= search_k, got n_neg={n_neg}, search_k={search_k}"
        )
    if validate_anchors not in (True, False, "deferred"):
        raise ValueError(
            f"validate_anchors must be True, False, or 'deferred', "
            f"got {validate_anchors!r}"
        )
    deferred_miss = None
    if anchor_vectors is not None:
        probes = anchor_vectors.select(F.col(id_col), F.col(vec_col))
        if validate_anchors is True:
            # same contract as the derived path below, made cheap: both
            # join sides are anchor-sized (positives' distinct anchors vs
            # the caller's anchor frame), one count action — no corpus
            # lineage beyond whatever produced `positives` itself
            missing = (
                positives.select(F.col(anchor_col).alias(id_col))
                .distinct()
                .join(anchor_vectors.select(id_col), id_col, "left_anti")
                .count()
            )
            if missing:
                raise ValueError(
                    f"{missing} anchors in positives.{anchor_col} have no "
                    f"row in anchor_vectors.{id_col}; cover every anchor "
                    "or pass validate_anchors=False only when coverage is "
                    "guaranteed by construction"
                )
        elif validate_anchors == "deferred":
            # ADVICE r12: the eager check is one construction-time job
            # (it executes the positives lineage once) — this mode rides
            # the SAME anchor-sized anti join as a 1-row scalar whose
            # assertion lives in a FILTER condition on a 0-row guard
            # branch unioned into the output (not the probes, which
            # cosine_topk collects at construction), so the contract
            # stays loud but fires at FIRST EXECUTION of the result
            # (error type: Spark runtime error, not ValueError). The
            # filter placement matters: an asserted column that is then
            # dropped gets PRUNED by Catalyst (check elided), and a
            # guard keyed off the output's own rows never fires when
            # the output is empty — the unioned 1-row-input filter
            # evaluates on every action regardless.
            deferred_miss = (
                positives.select(F.col(anchor_col).alias(id_col))
                .distinct()
                .join(anchor_vectors.select(id_col), id_col, "left_anti")
                .agg(F.count(F.lit(1)).alias("__missing"))
            )
    else:
        anchors = positives.select(F.col(anchor_col).alias("__aid")).distinct()
        probes = anchors.join(
            embeddings, anchors["__aid"] == embeddings[id_col]
        ).select(F.col(id_col), F.col(vec_col))
        # an anchor with no embedding row would otherwise VANISH from the
        # output, indistinguishable from "no negatives survived" — refuse
        # loudly (stale pair files / id-type drift are exactly the bugs a
        # silent drop hides); both frames here are pair-sized
        n_anchors, n_probes = anchors.count(), probes.count()
        if n_probes != n_anchors:
            raise ValueError(
                f"{n_anchors - n_probes} of {n_anchors} anchors have no row in "
                f"embeddings.{id_col}; re-embed or fix the positives frame"
            )
    # max_queries forwards to the underlying scorer (anchors ARE the probe
    # set here, so the cap an over-large anchor frame trips must be
    # raisable through THIS signature — same contract as the quantized
    # wrappers; the error's LSH/IVF redirect applies unchanged)
    topk = cosine_topk(
        embeddings, probes, k=search_k, id_col=id_col, vec_col=vec_col,
        max_queries=max_queries,
    )
    pos_pairs = positives.select(
        F.col(anchor_col).alias("query_id"), F.col(pos_col).alias("vec_id")
    )
    negs = topk.join(pos_pairs, ["query_id", "vec_id"], "left_anti")
    out = (
        top_k_per_group(
            negs, ["query_id"], [F.desc("cos"), F.asc("vec_id")], n_neg,
            rank_col="neg_rank",
        )
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("vec_id").alias("negative_id"),
            "cos",
            "neg_rank",
        )
    )
    if deferred_miss is not None:
        # assert inside the filter CONDITION (returns null -> isNotNull
        # is false -> 0 rows on success; raises naming the count before
        # the filter can answer otherwise)
        guard = deferred_miss.filter(
            F.assert_true(
                F.col("__missing") == 0,
                F.concat(
                    F.col("__missing").cast("string"),
                    F.lit(
                        f" anchors in positives.{anchor_col} have no"
                        f" row in anchor_vectors.{id_col}; cover every"
                        " anchor or pass validate_anchors=False only"
                        " when coverage is guaranteed by construction"
                    ),
                ),
            ).isNotNull()
        ).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in out.schema]
        )
        out = out.unionByName(guard)
    return out


def embedding_outliers(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster, dist, z): per-cluster z-scored distance to the
    nearest centroid — the embedding-space OUTLIER signal a curation pass
    thresholds to drop mislabeled/noise/off-distribution items (the
    inverse of SemDeDup's keep-the-outlier rule: there the outlier is the
    most informative duplicate, here a far-tail z flags vectors that fit
    NO cluster). z = (dist - mean_c) / std_c within the assigned cluster;
    clusters with fewer than 2 members (std undefined or 0) emit z = 0 —
    a singleton is its own distribution, not an outlier.

    Scale shape: assignment is the literal-centroid map pass shared with
    Lloyd (``kmeans.assign_nearest``); the per-cluster moments are ONE
    k-row aggregate that broadcast-joins back; the z-score is a
    projection. One exchange total beyond the scan.
    """
    from .kmeans import assign_nearest

    # two lineage consumers (moments agg + the z-score join) would re-run
    # the k x d distance fold and the source scan twice — checkpoint once,
    # same discipline as the other two-consumer frames in this module
    assigned = assign_nearest(embeddings, centroids, features_col=vec_col).select(
        F.col(id_col).alias("vec_id"),
        "cluster",
        F.round(F.sqrt(F.col("dist_sq")), 6).alias("dist"),
    ).localCheckpoint(eager=False)
    moments = assigned.groupBy("cluster").agg(
        F.avg("dist").alias("__mu"),
        F.stddev_samp("dist").alias("__sd"),
    )
    return assigned.join(F.broadcast(moments), "cluster").select(
        "vec_id",
        "cluster",
        "dist",
        F.round(
            F.when(
                F.col("__sd").isNull() | (F.col("__sd") == 0.0), F.lit(0.0)
            ).otherwise((F.col("dist") - F.col("__mu")) / F.col("__sd")),
            6,
        ).alias("z"),
    )

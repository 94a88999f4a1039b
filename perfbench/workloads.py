"""Workload definitions: which engine calls a pass makes, and how each
step's output is checked.

A step has up to three phases. ``build`` constructs the step's plan (for a
registry slot: ``Query.spark(spark, dir)``, which may itself run Spark jobs);
``run`` materializes the full output through the ``noop`` sink, or writes
files through the engine's own file sinks; ``check`` compares the output's
digest outside the timed region. A slot's digest is computed inside the
timed ``noop`` job, by an ``Observation``, so the plan runs once; the
traced run measures what that costs (worker.diagnostics). A unit is a
list of steps that must run in order (a file chain); the seed shuffles
units, never the steps inside one.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_clustering_with_hadoop_mapreduce_spark import pipelines
from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries


@dataclass
class Ctx:
    spark: Any
    data: str  # generated input tables
    out: str  # file-sink outputs of this run


@dataclass(frozen=True)
class Step:
    name: str
    build: Callable[[Ctx], Any] | None  # None: the whole step is its run phase
    run: Callable[[Ctx, Any], Any]  # gets the build result
    check: Callable[[Ctx, Any], dict]  # gets the run result
    writes: bool = False  # run phase is a file write (sources layer)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _canon(col, dtype):
    """Value-level canonical form: floats rounded to 6 dp (with -0.0 folded
    into 0.0), recursing into arrays and structs."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col.cast("double"), 6) + F.lit(0.0)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    return col


def observed_noop(df: DataFrame) -> Observation:
    """The noop-sink write, carrying an Observation that computes the
    output digest in the same job: row count plus an order-independent
    hash (sum of per-row xxhash64 over every column). Hashing every column
    also keeps Catalyst from pruning any."""
    obs = Observation("digest")
    cols = [_canon(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    noop(df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("s"),
    ))
    return obs


def observed_digest(obs: Observation) -> dict:
    got = obs.get
    return {"rows": int(got["n"]), "hash": str(got["s"] or 0)}


def file_digest(path: str) -> dict:
    """Line count plus an order-independent hash of the lines of a text file."""
    n, acc = 0, 0
    with open(path, "rb") as fh:
        for line in fh:
            n += 1
            acc += int.from_bytes(hashlib.blake2b(line.rstrip(b"\n"), digest_size=8).digest(), "big")
    return {"lines": n, "hash": str(acc % (1 << 64))}


def slot(name: str) -> Step:
    query = all_queries()[name]
    return Step(
        name,
        build=lambda ctx: query.spark(ctx.spark, ctx.data),
        run=lambda ctx, df: observed_noop(df),
        check=lambda ctx, obs: observed_digest(obs),
    )


# --- text_cluster file chain: corpus -> count matrix -> tf-idf, each leg
# an engine pipeline that writes a MatrixMarket file, the second reading
# the first leg's file like the reference's chained `hadoop jar` tasks
# 1.1 -> 1.4 (its 1.2 filter leg is left out: on these inputs every term
# passes it, and the run budget has no room for it).

def _path(ctx: Ctx, name: str) -> str:
    return os.path.join(ctx.out, name)


def _count_matrix(ctx: Ctx, _) -> None:
    # the header dimensions come from the term and document dictionaries,
    # as in the reference
    pipelines.task_1_1_term_doc_matrix(
        ctx.spark,
        os.path.join(ctx.data, "corpus"),
        os.path.join(ctx.data, "terms.txt"),
        os.path.join(ctx.data, "docs.txt"),
        os.path.join(ctx.data, "stopwords.txt"),
        out_mtx=_path(ctx, "count.mtx"),
    )


def file_chain() -> list[Step]:
    return [
        Step(
            "task_1_1_term_doc_matrix",
            build=None,
            run=_count_matrix,
            check=lambda ctx, _: file_digest(_path(ctx, "count.mtx")),
            writes=True,
        ),
        Step(
            "task_1_4_tfidf",
            build=None,
            run=lambda ctx, _: pipelines.task_1_4_tfidf(ctx.spark, _path(ctx, "count.mtx"), _path(ctx, "tfidf.mtx")),
            check=lambda ctx, _: file_digest(_path(ctx, "tfidf.mtx")),
            writes=True,
        ),
    ]


# name -> the workload's units; every unit is a list of steps run in order
WORKLOADS: dict[str, Callable[[], list[list[Step]]]] = {
    "text_cluster": lambda: [[slot("kmeans_lloyd_trace")], file_chain()],
    "dedup_search": lambda: [[slot("dedup_components")], [slot("knn_bruteforce")]],
}

"""One fresh benchmark process.

Times its own set-up (imports, JVM start through ``session.get_spark``,
first parquet footer read), then runs passes of one workload: a cold
pass, then warm passes until ``--seconds`` have gone by and at least two
of them ran on a quiet host. In a traced run the cold pass and half of
the warm passes are traced, and diagnostics follow the passes. Writes one
JSON record to ``--out``; the orchestrator (run.py) turns records into
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import statistics
import sys
import threading
import time
from contextlib import contextmanager

import workloads
from document_clustering_with_hadoop_mapreduce_spark.session import get_spark
from spans import (
    MIN_WARM, STEAL_LIMIT, SparkCounters, Tracer, cpu_ticks, self_times, session_cpu_s, steal_share,
)

STEP_TIMEOUT_S = 60.0  # a step slower than this is cancelled and counts as failed
NOISE_EXTRA_PASSES = 1  # warm passes allowed beyond MIN_WARM to replace noisy ones
# an extra pass runs only if the worker, counted from its spawn, expects to
# end within this: under sustained steal every pass is noisy, a replacement
# would be noisy too, and the extra time would only strain the run budget
EXTRA_PASS_BUDGET_S = 65.0
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def cache_entries() -> int:
    """Entries in the engine's four process caches (see caches.py)."""
    from document_clustering_with_hadoop_mapreduce_spark.operators import similarity
    from document_clustering_with_hadoop_mapreduce_spark.plans import (
        queries_events,
        queries_similarity,
        registry,
    )

    return sum(len(c) for c in (
        registry._N_DOCS_CACHE, queries_events._BPE_MERGE_CACHE,
        queries_similarity._IVF_INDEX_CACHE, similarity._LSH_SIZING_CACHE,
    ))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


@contextmanager
def watchdog(sc, groups: list[str], fired: list):
    """Cancel the Spark jobs of ``groups`` once the block has run for
    STEP_TIMEOUT_S, and keep cancelling the jobs it starts after that, so a
    step stuck in Spark ends with an error instead of hanging the run."""
    done = threading.Event()

    def watch():
        if done.wait(STEP_TIMEOUT_S):
            return
        fired.append(True)
        while not done.is_set():
            for g in groups:
                sc.cancelJobGroup(g)
            done.wait(0.5)

    t = threading.Thread(target=watch, daemon=True)
    t.start()
    try:
        yield
    finally:
        done.set()
        t.join()


class Runner:
    def __init__(self, ctx, units, seed, tracer, counters, expected):
        self.ctx, self.units, self.tracer, self.counters = ctx, units, tracer, counters
        self.sc = ctx.spark.sparkContext
        self.rng = random.Random(seed)
        self.expected = expected
        self.conf_changes: dict[str, dict] = {}

    def conf(self) -> dict:
        return dict(self.ctx.spark.conf.getAll)

    def step(self, step, index: int, traced: bool) -> dict:
        rec = {"build_s": 0.0, "exec_s": 0.0, "ok": True}
        group, fired = f"p{index}:{step.name}", []
        with self.tracer.span(step.name):
            try:
                with watchdog(self.sc, [f"{group}:build", f"{group}:exec"], fired):
                    result = self._timed(step, group, traced, rec)
                with self.tracer.span("check"):
                    t = time.monotonic()
                    rec["digest"] = step.check(self.ctx, result)
                    rec["check_s"] = time.monotonic() - t
                if self.expected is not None and rec["digest"] != self.expected.get(step.name):
                    rec.update(ok=False, error=f"digest {rec['digest']} != committed {self.expected.get(step.name)}")
            except Exception as exc:  # a failing step is counted, the pass goes on
                rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:800])
        if fired or rec["build_s"] + rec["exec_s"] > STEP_TIMEOUT_S:
            rec.update(ok=False, error=f"timeout after {STEP_TIMEOUT_S:.0f} s: {rec.get('error', 'cancelled')}")
        return rec

    def _timed(self, step, group: str, traced: bool, rec: dict):
        """The step's build and run phases, each timed under its own Spark
        job group; in a traced pass also its Spark jobs, SQL metrics and
        session conf changes. Returns the run phase's result for the check."""
        sc = self.sc
        if traced:
            before = self.conf()
            self.counters.mark()
        built = None
        if step.build is not None:
            with self.tracer.span("build"):
                sc.setJobGroup(f"{group}:build", step.name)
                t = time.monotonic()
                try:
                    built = step.build(self.ctx)
                finally:
                    rec["build_s"] = time.monotonic() - t
        with self.tracer.span("write" if step.writes else "exec"):
            sc.setJobGroup(f"{group}:exec", step.name)
            t = time.monotonic()
            try:
                result = step.run(self.ctx, built)
            finally:
                rec["exec_s"] = time.monotonic() - t
        if traced:
            rec["build_jobs"] = self.counters.jobs(f"{group}:build")
            rec["exec_jobs"] = self.counters.jobs(f"{group}:exec")
            rec["sql"] = self.counters.sql()
            changed = {k: [before.get(k), v] for k, v in self.conf().items() if before.get(k) != v}
            if changed:
                self.conf_changes.setdefault(step.name, changed)
        return result

    def run_pass(self, index: int, traced: bool) -> dict:
        order = list(self.units)
        self.rng.shuffle(order)
        steps = [s for unit in order for s in unit]
        c0, n0, ticks, s0 = cpu_s(), cache_entries(), cpu_ticks(), session_cpu_s()
        out = {"index": index, "traced": traced, "order": [s.name for s in steps], "steps": {}}
        with self.tracer.span("pass", index=index, traced=traced):
            for step in steps:
                out["steps"][step.name] = self.step(step, index, traced)
        out["pass_s"] = sum(r["build_s"] + r["exec_s"] for r in out["steps"].values())
        out["cpu_s"] = cpu_s() - c0
        out["session_cpu_s"] = session_cpu_s() - s0
        out["cache_new"] = cache_entries() - n0
        out["steal"] = steal_share(ticks, cpu_ticks())
        out["noisy"] = out["steal"] > STEAL_LIMIT
        out["bytes_written"] = dir_bytes(self.ctx.out)
        return out


def timed_noop(df, repeats: int = 2) -> float:
    """Seconds of the last of ``repeats`` noop materializations."""
    for _ in range(repeats):
        t = time.monotonic()
        workloads.noop(df)
        dt = time.monotonic() - t
    return dt


def diagnostics(ctx, units, tracer, workload: str) -> dict:
    """Traced-run extras, none of them end-to-end metrics."""
    from pyspark.sql import functions as F

    from document_clustering_with_hadoop_mapreduce_spark.functions.text import explode_tokens
    from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table
    from gen import N_DOCS

    spark = ctx.spark
    out: dict = {"sink_actions": {}}
    with tracer.span("diagnostics"):
        # per slot, the fastest of two rounds of three actions on one built
        # plan: the plain noop sink; the noop sink with the digest
        # Observation, as the passes time it; and .count(), which the legacy
        # bench.py series times and which lets Catalyst prune columns
        actions = {
            "noop_s": workloads.noop,
            "observed_noop_s": lambda df: workloads.observed_digest(workloads.observed_noop(df)),
            "count_s": lambda df: df.count(),
        }
        for step in (s for unit in units for s in unit if not s.writes):
            df = step.build(ctx)
            best = {k: float("inf") for k in actions}
            for _ in range(2):
                for k, act in actions.items():
                    t = time.monotonic()
                    act(df)
                    best[k] = min(best[k], time.monotonic() - t)
            out["sink_actions"][step.name] = best
        docs = load_table(spark, ctx.data, "documents")
        with tracer.span("tokenize"):
            out["tokenize_s"] = timed_noop(docs.select("doc_id", explode_tokens(F.col("text")).alias("term")))
        with tracer.span("load_table_noop"):
            out["load_table_noop_s"] = sum(
                timed_noop(load_table(spark, ctx.data, name)) for name in ("documents", "embeddings")
            )
        out["lloyd"] = lloyd_iterations(spark, ctx, tracer, N_DOCS) if workload == "text_cluster" else []
    return out


def lloyd_iterations(spark, ctx, tracer, n_docs: int) -> list[dict]:
    """Per-iteration wall time and job count of a direct ``sparse_lloyd``
    run on the tf-idf matrix, via its ``on_iteration`` hook."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import sparse_lloyd
    from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import term_doc_counts
    from document_clustering_with_hadoop_mapreduce_spark.operators.tfidf import tfidf
    from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

    sc = spark.sparkContext
    st = sc.statusTracker()
    # hash-partitioned and checkpointed like the registry's doc-cluster slots,
    # so the loop's plans stay short
    matrix = (
        tfidf(term_doc_counts(load_table(spark, ctx.data, "documents")), n_docs=n_docs)
        .repartition(sc.defaultParallelism, "doc_id")
        .localCheckpoint()
    )
    iters: list[dict] = []
    state = {"t": 0.0, "jobs": 0}

    def on_iteration(it, assigned, new_cents, wcss):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        now, jobs = time.monotonic(), len(st.getJobIdsForGroup("lloyd"))
        iters.append({"iteration": it, "s": now - state["t"], "jobs": jobs - state["jobs"], "wcss": wcss})
        tracer.record(f"lloyd_iter_{it}", state["t"], now)
        state.update(t=now, jobs=jobs)

    sc.setJobGroup("lloyd", "sparse_lloyd")
    with tracer.span("sparse_lloyd"):
        state["t"] = time.monotonic()
        sparse_lloyd(matrix, k=5, max_iter=2, on_iteration=on_iteration, cache_matrix=False)
    return iters


def layer_metrics(rec: dict, diag: dict) -> dict:
    """Per-layer metrics from the traced passes of one run."""
    passes = rec["passes"]
    cold = passes[0]
    warm_traced = [p for p in passes[1:] if p["traced"]]
    warm_plain = [p for p in passes[1:] if not p["traced"]]
    last = warm_traced[-1]
    steps = last["steps"].values()
    run_steps = [r for r in steps if "sql" in r]

    def total(key, sub):
        return sum(r[key][sub] for r in run_steps)

    m = {
        "session.import_s": rec["setup"]["import_s"],
        "session.start_s": rec["setup"]["start_s"],
        "session.first_read_s": rec["setup"]["first_read_s"],
        "plans.build_s": sum(r["build_s"] for r in steps),
        "plans.build_jobs": total("build_jobs", "jobs"),
        "plans.build_s.cold": sum(r["build_s"] for r in cold["steps"].values()),
        "operators.exec_s": sum(r["exec_s"] for n, r in last["steps"].items() if n not in rec["writes"]),
        "operators.exec_s.cold": sum(r["exec_s"] for n, r in cold["steps"].items() if n not in rec["writes"]),
        "operators.jobs": total("exec_jobs", "jobs"),
        "operators.stages": total("exec_jobs", "stages"),
        "operators.tasks": total("exec_jobs", "tasks"),
        "operators.shuffle_write_bytes": total("sql", "shuffle_write_bytes"),
        "operators.spill_bytes": total("sql", "spill_bytes"),
        "operators.peak_mem_bytes": max(r["sql"]["peak_mem_bytes"] for r in run_steps),
        "operators.max_rows_out": max(r["sql"]["max_rows_out"] for r in run_steps),
        # Spark's init-time counter on a reused Python worker keeps running
        # between tasks, so worker init is read on the cold pass only
        "python.boot_s": total("sql", "python_boot_s"),
        "python.total_s": total("sql", "python_total_s"),
        "python.bytes_sent": total("sql", "python_bytes_sent"),
        "python.bytes_received": total("sql", "python_bytes_received"),
        "python.boot_s.cold": sum(r["sql"]["python_boot_s"] for r in cold["steps"].values() if "sql" in r),
        "python.init_s.cold": sum(r["sql"]["python_init_s"] for r in cold["steps"].values() if "sql" in r),
        "sources.scan_s": total("sql", "scan_s"),
        "sources.scan_rows": total("sql", "scan_rows"),
        "sources.scan_bytes": total("sql", "scan_bytes"),
        "sources.load_table_noop_s": diag["load_table_noop_s"],
        "sources.write_s": sum(r["exec_s"] for n, r in last["steps"].items() if n in rec["writes"]),
        "sources.bytes_written": last["bytes_written"],
        "sources.bytes_written_per_input_byte": last["bytes_written"] / rec["input_bytes"],
        "caches.new_entries.cold": cold["cache_new"],
        "caches.new_entries.warm": last["cache_new"],
        "driver.cpu_s": statistics.median(p["cpu_s"] for p in warm_plain),
        "functions.tokenize_s": diag["tokenize_s"],
        "trace.pass_s": statistics.median(p["pass_s"] for p in warm_traced),
        "trace.overhead_s": statistics.fmean(p["pass_s"] for p in warm_traced)
        - statistics.fmean(p["pass_s"] for p in warm_plain),
    }
    m["trace.unaccounted_share"] = unaccounted(rec["spans"])
    lloyd = diag["lloyd"]
    m["doc_cluster.lloyd_iter_s"] = statistics.median(i["s"] for i in lloyd) if lloyd else 0.0
    m["doc_cluster.lloyd_jobs_per_iter"] = statistics.median(i["jobs"] for i in lloyd) if lloyd else 0.0
    for name, r in last["steps"].items():
        if name in rec["writes"]:
            m[f"sources.write_s.{name}"] = r["exec_s"]
        else:
            m[f"operators.exec_s.{name}"] = r["exec_s"]
        if name in rec["builds"]:
            m[f"plans.build_s.{name}"] = r["build_s"]
    return m


def unaccounted(spans: list[dict]) -> float:
    """Share of traced pass wall time not covered by step spans."""
    share = []
    for p in (s for s in spans if s["name"] == "pass" and s["traced"]):
        kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == p["id"])
        share.append(1.0 - kids / (p["end"] - p["start"]))
    return statistics.median(share)


def main() -> int:
    t_import, ticks = time.monotonic(), cpu_ticks()  # module imports ran between spawn and here
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    spark = get_spark("perfbench", master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    spark.sparkContext.setLogLevel("OFF")
    t_session = time.monotonic()
    spark.read.parquet(os.path.join(a.data, "documents.parquet")).schema  # first footer read
    t_ready = time.monotonic()
    rec: dict = {"setup": {
        "setup_s": t_ready - a.spawned_at, "import_s": t_import - a.spawned_at,
        "start_s": t_session - t_import, "first_read_s": t_ready - t_session,
        "steal": steal_share(ticks, cpu_ticks()),
    }}
    rec.update(run_workload(spark, a))
    if a.trace:
        rec["layers"] = layer_metrics(rec, rec["diagnostics"])
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        rec["jvm_hwm_mb"] = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM")) / 1024
    rec["versions"] = {
        "java": spark._jvm.System.getProperty("java.version"),
        "pyspark": spark.version, "python": sys.version.split()[0],
    }
    with open(a.out, "w") as fh:
        json.dump(rec, fh)
    # no spark.stop(): the orchestrator kills this process's session, JVM
    # included, and a clean stop would only lengthen the run
    os._exit(0)


def run_workload(spark, a) -> dict:
    tracer = Tracer(bool(a.trace))
    units = workloads.WORKLOADS[a.workload]()
    out_dir = os.path.join(a.work, "out")
    os.makedirs(out_dir, exist_ok=True)
    ctx = workloads.Ctx(spark, a.data, out_dir)
    with open(DIGESTS) as fh:
        expected = None if a.record_digests else json.load(fh).get(a.workload, {})
    counters = SparkCounters(spark) if a.trace else None
    runner = Runner(ctx, units, a.seed, tracer, counters, expected)
    passes = [runner.run_pass(0, traced=bool(a.trace))]
    if a.record_digests:
        with open(DIGESTS) as fh:
            committed = json.load(fh)
        committed[a.workload] = {n: r["digest"] for n, r in passes[0]["steps"].items()}
        with open(DIGESTS, "w") as fh:
            json.dump(committed, fh, indent=1, sort_keys=True)
            fh.write("\n")
    t0 = time.monotonic()

    def more() -> bool:
        warm, elapsed = passes[1:], time.monotonic() - t0
        if a.trace:
            # whole blocks of four in the order plain, traced, traced,
            # plain, so the settling of the first warm passes and any drift
            # cancel out of the tracing overhead
            return len(warm) < 4 or len(warm) % 4 or elapsed < a.seconds
        quiet = sum(not p["noisy"] for p in warm)
        if len(warm) < MIN_WARM or elapsed < a.seconds:
            return True
        projected = time.monotonic() - a.spawned_at + statistics.median(p["pass_s"] for p in warm)
        return (quiet < MIN_WARM and len(warm) < MIN_WARM + NOISE_EXTRA_PASSES
                and projected <= EXTRA_PASS_BUDGET_S)

    while more():
        traced = bool(a.trace) and (len(passes) - 1) % 4 in (1, 2)
        passes.append(runner.run_pass(len(passes), traced=traced))
    steps = [s for unit in units for s in unit]
    rec = {
        "passes": passes,
        "writes": [s.name for s in steps if s.writes],
        "builds": [s.name for s in steps if s.build is not None],
        "input_bytes": dir_bytes(a.data),
        "conf_changes": runner.conf_changes,
    }
    if a.trace:
        diag = diagnostics(ctx, units, tracer, a.workload)
        rec["diagnostics"] = diag
        rec["spans"] = tracer.spans
        rec["self_times"] = self_times(tracer.spans)
    return rec


if __name__ == "__main__":
    sys.exit(main())

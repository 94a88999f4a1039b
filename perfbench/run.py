"""Engine benchmark: one named workload, end-to-end or per-layer metrics.

    python3 perfbench/run.py --workload text_cluster --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The benchmark generates its inputs
from ``--seed`` (gen.py), starts one fresh worker process (worker.py) that
times its own set-up and runs the workload closed-loop with one client, checks
every step's output against digests.json, and prints one JSON object as the
last line of standard output. ``--trace 1`` reports the per-layer metrics
and writes spans to ``.bench_build/perfbench/traces/``. All scratch files
live under ``.bench_build/perfbench/`` and are removed on exit. See
README.md in this directory for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import shlex
import signal
import statistics
import subprocess
import sys
import time

from spans import MIN_WARM, STEAL_LIMIT, cpu_ticks, session_stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "document_clustering_with_hadoop_mapreduce_spark"
WORKLOADS = ("text_cluster", "dedup_search")
DEADLINE_S = 170.0  # the whole run, set-up included
DRIVER_MEM = "2g"
PR_SET_CHILD_SUBREAPER = 36


def worker_env(work: str) -> dict:
    """Pinned, isolated environment: local[nproc], a bounded driver heap,
    and every Spark / JVM / Python scratch dir inside this run's dir."""
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell",
    })
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    return env


def spawn(args: list[str], env: dict, log: str, deadline: float) -> None:
    """Run a worker as the leader of a session of its own; on return,
    nothing it started (JVM, Python daemon and workers) is left running."""
    with open(log, "a") as fh:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args,
             "--spawned-at", repr(time.monotonic())],
            env=env, cwd=ROOT, stdout=fh, stderr=fh, start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            kill_session(proc)
    if proc.returncode != 0:
        raise RuntimeError(f"worker exited with {proc.returncode}")


def kill_session(proc: subprocess.Popen) -> None:
    """SIGKILL every process of the worker's session, reap the worker and
    the orphans, and repeat until no member is left, zombies included. The
    session, not the process group: PySpark's Python daemon moves itself
    and the Python workers it forks into a process group of their own, but
    stays in the session. Zombies count: a JVM's main thread shows as a
    zombie while its other threads are still exiting."""
    t = time.monotonic()
    while True:
        members = session_stats(proc.pid)
        for pid, fields in members.items():
            if fields[0] != "Z":
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if proc.returncode is None:
            proc.wait()
        reap_orphans()
        if not members:
            return
        if time.monotonic() - t > 30:
            raise RuntimeError(f"processes {sorted(members)} of the worker's session outlived SIGKILL")
        time.sleep(0.05)


def become_subreaper() -> None:
    """Have orphaned descendants reparented to this process rather than to
    init, so reap_orphans() can collect them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_orphans() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def quiet_warm(rec: dict) -> list[dict]:
    return [p for p in rec["passes"][1:] if not p["noisy"]]


def warm_passes(rec: dict) -> list[dict]:
    """The warm passes warm_s is taken from: the quiet ones when there are
    at least MIN_WARM, else all of them (the stamp then flags the run)."""
    quiet = quiet_warm(rec)
    return quiet if len(quiet) >= MIN_WARM else rec["passes"][1:]


def end_to_end(rec: dict, input_rows: int) -> dict:
    passes = rec["passes"]
    warm = statistics.median(p["pass_s"] for p in warm_passes(rec))
    return {
        "setup_s": rec["setup"]["setup_s"],
        "cold_s": passes[0]["pass_s"],
        "warm_s": warm,
        "rows_per_s": input_rows / warm,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store this run's cold-pass output digests in digests.json")
    a = ap.parse_args()
    # a TERM (a caller's timeout) unwinds like an error: the worker's
    # session is killed and the run directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    started, ticks = time.monotonic(), cpu_ticks()
    deadline = started + DEADLINE_S
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"run.py: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    import gen

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"run-{os.getpid()}-{a.workload}")
    log = os.path.join(work, "worker.log")
    try:
        os.makedirs(work, exist_ok=True)
        data = os.path.join(work, "data")
        gen.generate(data, a.seed)
        input_rows = gen.INPUT_ROWS[a.workload]
        env = worker_env(work)
        out = os.path.join(work, "result.json")
        spawn(["--data", data, "--work", work, "--out", out, "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace)]
              + (["--record-digests"] if a.record_digests else []), env, log, deadline)
        with open(out) as fh:
            rec = json.load(fh)
    except (RuntimeError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as exc:
        print(f"run.py: {a.workload} failed: {exc!r}", file=sys.stderr)
        if os.path.exists(log):
            with open(log, errors="replace") as fh:
                text = fh.read()
            # the worker's Python traceback, without the JVM stack under it
            tb = text[text.rfind("Traceback (most recent call last)"):] if "Traceback" in text else text[-4000:]
            sys.stderr.write("\n".join(ln for ln in tb.splitlines() if not ln.startswith("\tat "))[:6000] + "\n")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    delta = [b - a for a, b in zip(ticks, cpu_ticks())]
    passes = rec["passes"]
    noisy = len(quiet_warm(rec)) < MIN_WARM or passes[0]["noisy"] or rec["setup"]["steal"] > STEAL_LIMIT
    steps = [r for p in rec["passes"] for r in p["steps"].values()]
    failed = [r for r in steps if not r["ok"]]
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": int(env["SPARK_GRAFT_CPUS"]), "commit": git_commit(), **rec["versions"],
        "setup_s": rec["setup"]["setup_s"], "pass_s": [p["pass_s"] for p in rec["passes"]],
        "pass_cpu_s": [p["session_cpu_s"] for p in rec["passes"]],
        "check_s": sum(r.get("check_s", 0.0) for r in steps), "wall_s": time.monotonic() - started,
        "host_busy_share": 1 - (delta[3] + delta[4]) / sum(delta), "host_steal_share": delta[7] / sum(delta),
        "pass_steal": [p["steal"] for p in passes], "setup_steal": rec["setup"]["steal"],
        "warm_passes_used": [p["index"] for p in warm_passes(rec)],
        "steal_limit": STEAL_LIMIT, "noisy_run": noisy,
        "conf_changes": rec["conf_changes"],
    }
    if a.trace:
        metrics_spec, values = spec["per_layer"], {
            **rec["layers"], "jvm.peak_rss_mb": rec["jvm_hwm_mb"], "host.steal_share": stamp["host_steal_share"],
        }
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        path = os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as fh:
            json.dump({"stamp": stamp, **rec}, fh, indent=1)
        print(f"# trace written to {os.path.relpath(path, ROOT)}")
    else:
        metrics_spec, values = spec["end_to_end"], end_to_end(rec, input_rows)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in metrics_spec}

    print("# stamp " + json.dumps(stamp, sort_keys=True))
    for name, cold in rec["passes"][0]["steps"].items():
        warm = [p["steps"][name] for p in rec["passes"][1:]]
        print(f"# step {name:28s} cold build {cold['build_s']:6.2f} exec {cold['exec_s']:6.2f}   warm build "
              f"{statistics.median(r['build_s'] for r in warm):6.2f} exec {statistics.median(r['exec_s'] for r in warm):6.2f} s")
    if a.trace:
        for name, d in rec["diagnostics"]["sink_actions"].items():
            print(f"# sink {name:28s} noop {d['noop_s']:6.3f}   noop+digest {d['observed_noop_s']:6.3f}   "
                  f".count() {d['count_s']:6.3f} s")
    for r in failed[:5]:
        print(f"# failed step: {r.get('error')}")
    for name, m in metrics.items():
        print(f"# {name:40s} {m['value']:.6g} {m['unit']}")
    if not a.trace:
        # printed, not gated: the driver JVM's peak RSS moves with G1's heap
        # sizing from run to run by more than any bound allows (see README.md)
        print(f"# {'jvm_peak_rss_mb':40s} {rec['jvm_hwm_mb']:.6g} MB")
    print(f"# {'error_rate':40s} {len(failed) / len(steps):.6g} failed/attempted")
    print(f"# {'host_steal_share':40s} {stamp['host_steal_share']:.4g}"
          + (f"   NOISY: fewer than {MIN_WARM} quiet warm passes, or a noisy cold pass or set-up" if noisy else ""))
    print(json.dumps({"correct": not failed, "attempted": len(steps), "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""N -> 4N scaling efficiency of the flagship job (BASELINE.json north_rule).

The flagship job (``flagship_tiles``: spatial join -> per (region, cell)
weighted bins) runs on the same machine at two levels, on one of two
masters:

* default: ``local[N]`` vs ``local[4N]``; each level's whole process tree
  is pinned to the first N (or 4N) cores, so the small level cannot borrow
  idle cores for GC/JIT/Arrow-worker threads;
* ``--executors``: a ``spark://`` standalone master on localhost with 1 vs
  4 worker JVMs of N cores each.  Worker i is pinned to its own disjoint
  core slice [i*N, (i+1)*N), so adding an executor adds cores the small
  cluster never touches, and the driver is pinned to the cores past 4N
  when the host has any.  Shuffle blocks and broadcasts cross JVMs.

Each batch runs, back to back, the ALU ceiling (N vs 4N independent
register-only processes: the best scaling any software gets on this host),
the small level and the big level, so one noisy host phase spoils one
batch, not one level.  A level is a fresh driver process (and, with
``--executors``, fresh worker JVMs): two identical-plan warm-ups on a small
replica, full-size runs until JIT-converged, then the min of ``--runs``
fresh-plan runs and a digest of the sorted result rows.

* strong (default): same input at both levels;
  raw = (T_small / T_big) / 4, and the two levels' digests must match;
* weak (``--weak``): the small level gets a quarter of the input;
  raw = T_small / T_big.

engine = raw / ALU ceiling.  The summary holds every batch, the
min/median/max band of raw, ALU and engine efficiency, and the
best-sustained raw efficiency (min over all small runs / min over all big
runs).

Per-phase results are cached under ``.bench_cache/scaling/`` (a rerun with
the same arguments resumes); the summary goes to
``.bench_cache/scaling/summary_<key>.json`` and to stdout as one JSON line.
The recorded results live in ``BENCH/`` (see ``BENCH/BASELINE.md``).

Usage:
  python scripts/scaling.py [--batches B] [--n N] [--repl R] [--runs K]
                            [--weak] [--executors]
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import multiprocessing as mp
import os
import socket
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(REPO, ".bench_cache", "scaling")
RATIO = 4  # big level / small level, in cores
WARM_REPL = 480  # identical-plan warm-up input, capped at the level's REPL


def _pin(cores) -> None:
    """Confine this process (and its children) to ``cores``, indices into
    the CPUs it may run on; a no-op when none of them exist."""
    avail = sorted(os.sched_getaffinity(0))
    cpus = {avail[i] for i in cores if i < len(avail)}
    if cpus:
        os.sched_setaffinity(0, cpus)


# ---------------------------------------------------------------------------
# ALU ceiling: independent register-only processes, zero coordination.
# ---------------------------------------------------------------------------

def _burn_alu(q, procs: int) -> None:
    _pin(range(procs))
    x = 0
    for i in range(60_000_000):
        x += i * i
    q.put(None)


def _calibrate(procs: int) -> float:
    """Wall seconds for ``procs`` processes each doing the same fixed work."""
    q = mp.Queue()
    ps = [mp.Process(target=_burn_alu, args=(q, procs)) for _ in range(procs)]
    t0 = time.time()
    for p in ps:
        p.start()
    for _ in ps:
        q.get()
    for p in ps:
        p.join()
    return time.time() - t0


def hw_ceiling(n: int) -> dict:
    """Throughput efficiency of N vs 4N busy processes (best of 2 each)."""
    w_small = min(_calibrate(n), _calibrate(n))
    w_big = min(_calibrate(RATIO * n), _calibrate(RATIO * n))
    return {
        "wall_small": round(w_small, 3),
        "wall_big": round(w_big, 3),
        "throughput_eff": round(w_small / w_big, 3),
    }


# ---------------------------------------------------------------------------
# Level runner: one fresh driver process per level.
# ---------------------------------------------------------------------------

def _executor_mem(n: int) -> str:
    return f"{1536 * n}m"


def level_main(spec: dict) -> None:
    """Run the flagship on ``n_exec`` units of ``n`` cores (executors, or
    ``local[n * n_exec]``); print one JSON line."""
    n, n_exec, repl = spec["n"], spec["n_exec"], spec["repl"]
    cluster = spec["master"].startswith("spark://")
    # a cluster driver stays off the worker slices; a local level owns its cores
    _pin(range(RATIO * n, os.cpu_count()) if cluster else range(n * n_exec))

    sys.path.insert(0, REPO)
    import bench  # SPARK_GRAFT_CPUS = n * n_exec: shuffle partitions
    from fast_carpenter_spark import synth
    from fast_carpenter_spark.queries import flagship_tiles

    conf = {
        "spark.executor.cores": str(n),
        "spark.executor.memory": _executor_mem(n),
        "spark.cores.max": str(n * n_exec),
    } if cluster else {}
    spark = bench.build_session(spec["master"], conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracker = spark.sparkContext._jsc.sc().statusTracker()
        deadline = time.time() + 120
        # executors register asynchronously; the driver is one of the infos
        while cluster and len(tracker.getExecutorInfos()) - 1 < n_exec:
            if time.time() > deadline:
                raise RuntimeError(f"fewer than {n_exec} executors registered")
            time.sleep(0.5)

        polys = synth.polygons()

        def flagship(r):  # fresh plan: no shuffle-output reuse across runs
            bench.replicated_documents(spark, r).createOrReplaceTempView("documents")
            return flagship_tiles(spark.sql(synth.flat_spans_sql("spark")), polys)

        for _ in range(2):
            bench.sink(flagship(min(WARM_REPL, repl)))
        # C2 keeps recompiling the hot generated methods for several runs;
        # converged when a run is within 15% of the previous one
        prev = None
        for _ in range(5):
            t0 = time.time()
            bench.sink(flagship(repl))
            dt = time.time() - t0
            if prev is not None and dt < prev * 1.15:
                break
            prev = dt

        times = []
        for _ in range(spec["runs"]):
            df = flagship(repl)
            t0 = time.time()
            bench.sink(df)
            times.append(round(time.time() - t0, 3))

        rows = flagship(repl).orderBy("region", "cell").collect()
        # sha256, not hash(): levels run in separate processes
        digest = hashlib.sha256(repr(
            [(r["region"], r["cell"], r["n"], round(r["pw_sumw"], 6)) for r in rows]
        ).encode()).hexdigest()[:16]
        n_docs = bench.replicated_documents(spark, repl).count()
        print(json.dumps({
            "cores": n * n_exec,
            "repl": repl,
            "n_docs": n_docs,
            "times": times,
            "min_sec": min(times),
            "median_sec": round(statistics.median(times), 3),
            "docs_per_sec": round(n_docs / min(times), 1),
            "n_rows": len(rows),
            "digest": digest,
        }))
    finally:
        spark.stop()


def _spark_class() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-class")


def _spawn(args: list, cores=()) -> subprocess.Popen:
    return subprocess.Popen(
        [_spark_class(), *args],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        preexec_fn=lambda: _pin(cores),
    )


def _stop(procs: list) -> None:
    for p in procs:
        p.terminate()
    for p in procs:
        try:
            p.wait(timeout=15)
        except subprocess.TimeoutExpired:
            p.kill()


def run_level(master: str, n: int, n_exec: int, repl: int, runs: int) -> dict:
    """One level in a fresh driver process; with a ``spark://`` master,
    against ``n_exec`` fresh worker JVMs of ``n`` cores each."""
    workers = []
    if master.startswith("spark://"):
        work_dir = os.path.join(CACHE, "work")
        workers = [
            _spawn(["org.apache.spark.deploy.worker.Worker", master,
                    "--cores", str(n), "--memory", _executor_mem(n),
                    "--webui-port", "0", "--work-dir", work_dir],
                   cores=range(i * n, (i + 1) * n))
            for i in range(n_exec)
        ]
    spec = {"master": master, "n": n, "n_exec": n_exec, "repl": repl, "runs": runs}
    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "level", json.dumps(spec)],
            env=dict(os.environ, SPARK_GRAFT_CPUS=str(n * n_exec)),
            capture_output=True, text=True, timeout=3600,
        )
    finally:
        _stop(workers)
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"level {spec} failed:\n{out.stdout}\n{out.stderr[-4000:]}")


@contextlib.contextmanager
def standalone_master():
    """A ``spark://`` master on a free localhost port for the duration."""
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    master = _spawn(["org.apache.spark.deploy.master.Master", "--host", "127.0.0.1",
                     "--port", str(port), "--webui-port", "0"])
    try:
        for _ in range(120):
            with contextlib.suppress(OSError), socket.create_connection(
                    ("127.0.0.1", port), timeout=1):
                break
            time.sleep(0.5)
        else:
            raise RuntimeError(f"standalone master never opened port {port}")
        yield f"spark://127.0.0.1:{port}"
    finally:
        _stop([master])


# ---------------------------------------------------------------------------
# Batch summary (a plain function: tests/test_scaling.py drives it).
# ---------------------------------------------------------------------------

def summarize(batches: list, weak: bool) -> dict:
    """``batches``: (alu, small, big) level dicts per batch -> summary.

    Raises ``ValueError`` when a strong batch's levels disagree on the
    result digest (same input, so the rows must be identical)."""
    per_core = 1 if weak else RATIO  # weak: the input already grew with the cores
    rows = []
    for b, (alu, small, big) in enumerate(batches):
        if not weak and small["digest"] != big["digest"]:
            raise ValueError(
                f"batch {b}: result digests differ across levels "
                f"({small['digest']} vs {big['digest']})"
            )
        raw = small["min_sec"] / big["min_sec"] / per_core
        rows.append({
            "batch": b,
            "alu_eff": alu["throughput_eff"],
            "runs_small": small["times"],
            "runs_big": big["times"],
            "min_small_sec": small["min_sec"],
            "min_big_sec": big["min_sec"],
            "raw_eff": round(raw, 3),
            "engine_eff": round(raw / alu["throughput_eff"], 3),
            "docs_per_sec_small": small["docs_per_sec"],
            "docs_per_sec_big": big["docs_per_sec"],
            "n_docs_small": small["n_docs"],
            "n_docs_big": big["n_docs"],
            "digests": [small["digest"], big["digest"]],
        })

    def band(key):
        vals = sorted(r[key] for r in rows)
        return {"min": vals[0], "median": round(statistics.median(vals), 3), "max": vals[-1]}

    best_small = min(t for r in rows for t in r["runs_small"])
    best_big = min(t for r in rows for t in r["runs_big"])
    best_raw = round(best_small / best_big / per_core, 3)
    best_alu = max(r["alu_eff"] for r in rows)
    return {
        "batches": rows,
        "band_raw_eff": band("raw_eff"),
        "band_alu_eff": band("alu_eff"),
        "band_engine_eff": band("engine_eff"),
        "best_sustained_raw_eff": best_raw,
        "best_alu_eff": best_alu,
        "best_engine_eff": round(best_raw / best_alu, 3),
        "results_identical_across_levels": None if weak else True,
    }


def _cached(name: str, fn):
    path = os.path.join(CACHE, f"{name}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = fn()
    with open(path, "w") as f:
        json.dump(out, f)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--batches", type=int, default=3)
    ap.add_argument("--n", type=int, default=4, help="cores of the small level (big: 4N)")
    ap.add_argument("--repl", type=int, default=5760,
                    help="input = sf0.1 documents x REPL (big level)")
    ap.add_argument("--runs", type=int, default=3, help="timed runs per level")
    ap.add_argument("--weak", action="store_true", help="small level gets REPL/4")
    ap.add_argument("--executors", action="store_true",
                    help="1 vs 4 executors on a standalone cluster")
    args = ap.parse_args()
    if args.weak and args.repl % RATIO:
        ap.error(f"--weak needs --repl divisible by {RATIO}")

    n = args.n
    where = "executors" if args.executors else "local"
    mode = "weak" if args.weak else "strong"
    key = f"{where}_{mode}_n{n}_repl{args.repl}_runs{args.runs}"
    small_repl = args.repl // RATIO if args.weak else args.repl
    os.makedirs(CACHE, exist_ok=True)

    batches = []
    with standalone_master() if args.executors else contextlib.nullcontext() as url:
        def level(n_exec, repl):
            master = url or f"local[{n * n_exec}]"
            return lambda: run_level(master, n, n_exec, repl, args.runs)

        for b in range(args.batches):
            alu = _cached(f"{key}_b{b}_alu", lambda: hw_ceiling(n))
            small = _cached(f"{key}_b{b}_small", level(1, small_repl))
            big = _cached(f"{key}_b{b}_big", level(RATIO, args.repl))
            batches.append((alu, small, big))
            summary = summarize(batches, args.weak)  # digest check every batch
            print(f"[scaling] {key} batch {b}: {summary['batches'][-1]}",
                  file=sys.stderr, flush=True)

    levels = (f"standalone cluster, 1 vs {RATIO} executors x {n} cores" if args.executors
              else f"local[{n}] vs local[{RATIO * n}]")
    result = {
        "protocol": (
            f"{args.batches} alternated batches of (ALU ceiling, small, big); {levels}, "
            f"pinned; {mode} scaling; fresh plan per run, JIT-converged warm-up, "
            f"min of {args.runs} runs"
        ),
        "n_small": n,
        "n_big": RATIO * n,
        "repl": args.repl,
        **summary,
    }
    with open(os.path.join(CACHE, f"summary_{key}.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    if sys.argv[1:2] == ["level"]:
        level_main(json.loads(sys.argv[2]))
    else:
        main()

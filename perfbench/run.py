"""The repository benchmark: four workloads, end to end and per layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads (see ``WORKLOADS``):

* ``flagship_join_bin``  documents -> synth spans -> SpatialJoinStage
  (broadcast) -> grid cell -> BinnedDataframeStage, to a ``noop`` sink;
* ``knn_geo_halo``       knn_geo_local over the span_idx = 0 points,
  including the 1% point mass (salted hot-block path);
* ``cli_two_datasets``   ``python -m fast_carpenter_spark`` as a
  subprocess over an mc half and a data half;
* ``checkpoint_units``   CheckpointedRun over a snapshot: half the units,
  resume in a new run, finalize.

One client runs one operation at a time (a closed loop) for ``--seconds``,
and at least ``MIN_OPS`` operations, after an untimed set-up, at
``local[<cores>]``.  Every operation's output is checked (see
reference.py); a failed check counts as a failed operation.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
measured loop for half the time, then restarts the SparkContext in the same
JVM with the event log on, forces each lazy layer prefix to a ``noop`` sink
``PREFIX_ROUNDS`` times, runs as many traced operations as untraced ones,
and prints the per-layer metrics read from the event log (eventlog.py) plus
the benchmark's own timings around public calls.  Metric names and units
come from BENCHMARK.json.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Lines before it name every metric with its unit and sample count.
Inputs and scratch output go to ``.perfbench/`` under the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "4g"
RADIUS_KM, K = 5.0, 3
# Each layer prefix is forced this many times, interleaved, in a traced run.
PREFIX_ROUNDS = 3
# The measured loop runs at least this many operations, so that the median
# of its times is not that of one or two.  A traced run, which measures
# for half its time untraced and then as many operations traced, runs at
# least TRACE_OPS of each, so that it ends within three minutes.
MIN_OPS, TRACE_OPS = 3, 2

# The session every run uses, in process and (through PYSPARK_SUBMIT_ARGS)
# in the CLI subprocess.  The host has 4 cores and 15 GiB; a 4g heap holds
# the benchmark inputs with room for the Python workers.  The heap is
# committed at its full size and its generations are not resized, so that
# peak RSS and GC work do not depend on when the collector chose to grow.
ENV = {
    "MALLOC_MMAP_THRESHOLD_": "536870912",
    "MALLOC_TRIM_THRESHOLD_": "536870912",
}


def session_conf(work: str, event_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -Xms{DRIVER_MEMORY} -XX:-UseAdaptiveSizePolicy",
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.default.parallelism": str(CORES),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        **{f"spark.executorEnv.{k}": v for k, v in ENV.items()},
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        })
    return conf


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- helpers shared by the in-process workloads ------------------------------


class Session:
    """The benchmark's SparkSession; ``restart`` keeps the JVM (and its
    JIT-compiled code) and starts a fresh SparkContext with new conf."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, event_dir: str | None = None) -> float:
        from fast_carpenter_spark.session import build_session

        t0 = time.perf_counter()
        conf = session_conf(self.work, event_dir)
        conf["spark.driver.memory"] = DRIVER_MEMORY
        self.spark = build_session(
            master=f"local[{CORES}]", app_name="perfbench",
            shuffle_partitions=CORES, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def label(self, text: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.job.description", text)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed_noop(df, exprs) -> dict:
    """Run ``df`` to a noop sink and return its digest, computed in the
    same action with ``DataFrame.observe``."""
    from pyspark.sql import Observation

    import reference

    obs = Observation("perfbench_digest")
    noop(df.observe(obs, *exprs))
    return reference.normalize(obs.get)


def docs_view(spark, files: list[str], view: str = "documents"):
    docs = spark.read.parquet(*files)
    docs.createOrReplaceTempView(view)
    return docs


# -- workloads ---------------------------------------------------------------


class Workload:
    """An in-process workload.  ``prepare`` writes inputs and computes the
    references (untimed); ``anchor`` and ``op`` return (digest, expected)."""

    name = ""
    repl = 1  # replicas of the 5000-doc base
    n_files = 8
    warmups = 1  # untimed full-size operations after the anchor

    def __init__(self, ctx: "Context"):
        self.ctx = ctx
        self.layers: dict[str, float] = {}
        self.unresolved: set[str] = set()

    def input_dir(self, tag: str = "docs") -> str:
        return self.ctx.input_dir(self.name, tag)

    def prepare(self) -> None:
        import inputs

        self.meta = inputs.write_documents(
            self.input_dir(), self.ctx.seed, self.ctx.repl(self.repl), self.n_files,
            base=self.ctx.base,
        )
        self.files = inputs.parquet_files(self.input_dir())

    def prepare_spark(self, spark) -> None:
        pass

    def increment(self, name: str, prefix_s: dict, later: str, earlier: str) -> dict:
        """Median over rounds of ``later``'s prefix time minus ``earlier``'s.
        An increment no larger than half the range of its per-round values
        is noise, and is marked unresolved; so is a negative one, where the
        earlier prefix sends more rows to the sink than the later one."""
        d = [a - b for a, b in zip(prefix_s[later], prefix_s[earlier])]
        med = statistics.median(d)
        if med <= (max(d) - min(d)) / 2:
            self.unresolved.add(name)
        return {name: med}


class FlagshipJoinBin(Workload):
    name = "flagship_join_bin"
    repl = 80

    def prepare(self) -> None:
        import reference

        super().prepare()
        self.ref = reference.flagship_reference(self.ctx.read_docs(self.files))
        self.anchor_files = self.ctx.anchor_files()
        self.anchor_ref = reference.oracle_pip_tile_agg(self.anchor_files)
        port = reference.flagship_reference(self.ctx.read_docs(self.anchor_files))
        if port != self.anchor_ref:
            raise RuntimeError(f"numpy PIP reference {port} != O_PIP_TILE_AGG {self.anchor_ref}")

    def lineage(self, spark, files, timed: bool = False) -> list:
        """The op's layer prefixes: docs, spans, joined, celled, binned."""
        from pyspark.sql import functions as F

        from fast_carpenter_spark import grid, synth
        from fast_carpenter_spark.operators.binned import BinnedDataframeStage
        from fast_carpenter_spark.queries import REGION_RES
        from fast_carpenter_spark.spatial.join import SpatialJoinStage, polygon_covers_local

        polys = synth.polygons()
        docs = docs_view(spark, files)
        spans = spark.sql(synth.flat_spans_sql("spark"))
        t0 = time.perf_counter()
        joined = SpatialJoinStage(name="sj", polygons=polys).apply(spans)
        t1 = time.perf_counter()
        if timed:
            polygon_covers_local(polys)
            self.layers["spatial.join.plan_s"] = t1 - t0
            self.layers["spatial.join.covers_s"] = time.perf_counter() - t1
        celled = joined.withColumn(
            "cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark"))
        ).withColumn("pw", F.col("w") * F.col("weight"))
        binned = BinnedDataframeStage(
            name="tiles", binning=[{"in": "region"}, {"in": "cell"}], weights={"pw": "pw"}
        ).apply(celled)
        return [("docs", docs), ("spans", spans), ("joined", joined),
                ("celled", celled), ("binned", binned)]

    def run(self, spark, files) -> dict:
        import reference

        binned = self.lineage(spark, files)[-1][1]
        return observed_noop(binned, reference.binned_digest_exprs(["region", "cell"], "pw"))

    def anchor(self, spark):
        return self.run(spark, self.anchor_files), self.anchor_ref

    def op(self, spark):
        return self.run(spark, self.files), self.ref

    def prefixes(self, spark):
        return self.lineage(spark, self.files, timed=True)

    def trace_layers(self, log, prefix_s: dict, ops: list, wall_s: list) -> dict:
        import eventlog

        n = len(wall_s)
        out = {
            **self.increment("synth.spans_s", prefix_s, "spans", "docs"),
            **self.increment("spatial.join.exec_s", prefix_s, "joined", "spans"),
            **self.increment("grid.encode_s", prefix_s, "celled", "joined"),
            **self.increment("operators.binned.exec_s", prefix_s, "binned", "celled"),
        }
        out.update(spans_rows(log))
        cand = matched = join_bytes = agg_bytes = agg_build = out_rows = 0.0
        for ex in ops:
            joins = ex.plan.find("BroadcastHashJoin")
            refine = next((j for j in joins if eventlog.first_below(j, "BroadcastHashJoin")), None)
            if refine is None:  # not the op's main action
                continue
            cover = eventlog.first_below(refine, "BroadcastHashJoin")
            cand += log.value(cover, "number of output rows")
            matched += log.value(refine, "number of output rows")
            below = {id(x) for x in refine.walk()}
            for x in ex.plan.walk():
                if x.name in ("Exchange", "BroadcastExchange"):
                    if id(x) in below:
                        join_bytes += log.value(x, "data size")
                    else:
                        agg_bytes += log.value(x, "data size")
            aggs = ex.plan.find("HashAggregate")
            agg_build += sum(log.value(a, "time in aggregation build") for a in aggs)
            out_rows += log.value(aggs[0], "number of output rows") if aggs else 0
        out.update({
            "spatial.join.candidates": cand / n,
            "spatial.join.matched": matched / n,
            "spatial.join.refine_keep_ratio": matched / cand if cand else 0.0,
            "spatial.join.shuffle_bytes": join_bytes / n,
            "operators.binned.agg_build_s": agg_build / 1e3 / n,
            "operators.binned.shuffle_bytes": agg_bytes / n,
            "operators.binned.out_rows": out_rows / n,
        })
        return out


class KnnGeoHalo(Workload):
    name = "knn_geo_halo"
    repl = 40
    # The point mass is 1% of the docs in one 5-milli-degree block: at
    # 200k docs that is ~2000 points, above this threshold, so the salted
    # hot-block path runs (the anchor lowers it to keep that path).
    hot_threshold = 1000
    # After the anchor, the first full-size operation still runs ~2x and
    # the second ~1.2x slower than the ones after them.
    warmups = 2

    def prepare(self) -> None:
        import reference

        super().prepare()
        self.hot_docs = self.meta["hot_docs"]
        self.anchor_files = self.ctx.anchor_files()
        self.anchor_ref = reference.oracle_knn(self.anchor_files, radius_km=RADIUS_KM, k=K)
        ids = self.ctx.read_docs(self.anchor_files)["doc_id"].to_numpy()
        self.anchor_hot = int((ids % 100 == 0).sum())
        self.expected = None

    def points(self, spark, files):
        from fast_carpenter_spark import synth

        docs_view(spark, files)
        spans = spark.sql(synth.flat_spans_sql("spark"))
        return spans, spans.filter("span_idx = 0").select("doc_id", "lon", "lat")

    def knn(self, spark, files, n_points: int, hot_threshold: int):
        from fast_carpenter_spark.spatial.knn import knn_geo_local

        _, pts = self.points(spark, files)
        t0 = time.perf_counter()
        df = knn_geo_local(
            pts, radius_km=RADIUS_KM, k=K, n_points=n_points, hot_threshold=hot_threshold
        )
        self.layers["spatial.knn.plan_s"] = time.perf_counter() - t0
        return df

    def run(self, spark, files, n_points, hot_threshold, hot_docs) -> dict:
        import reference

        got = observed_noop(self.knn(spark, files, n_points, hot_threshold),
                            reference.knn_digest_exprs(K))
        # structural checks: valid ranks, no self pairs, and every point of
        # the mass (> K points within a few metres) has exactly K neighbours
        bad, hot_rows = got.pop("bad"), got.pop("hot_rows")
        ok = bad == 0 and (hot_docs <= K or hot_rows == K * hot_docs)
        return got if ok else {**got, "structure": "broken"}

    def anchor(self, spark):
        n = len(self.ctx.read_docs(self.anchor_files))
        return self.run(spark, self.anchor_files, n, 20, self.anchor_hot), self.anchor_ref

    def op(self, spark):
        got = self.run(spark, self.files, self.meta["docs"], self.hot_threshold, self.hot_docs)
        # no DuckDB oracle finishes at this size (the point mass alone is
        # ~4M pairs): every op must agree with the first, which passed the
        # structural checks, and the anchor ties the kernel to the oracle
        if self.expected is None and "structure" not in got:
            self.expected = got
        return got, self.expected

    def prefixes(self, spark):
        spans, _ = self.points(spark, self.files)
        return [("docs", docs_view(spark, self.files)), ("spans", spans)]

    def trace_layers(self, log, prefix_s: dict, ops: list, wall_s: list) -> dict:
        import eventlog

        n = len(wall_s)
        out = self.increment("synth.spans_s", prefix_s, "spans", "docs")
        out.update(spans_rows(log))
        py_s = b_in = b_out = kin = 0.0
        skews = []
        for ex in ops:
            for node in ex.plan.find("FlatMapGroupsInPandas"):
                py_s += log.value(node, "time to run Python workers")
                b_in += log.value(node, "data sent to Python workers")
                b_out += log.value(node, "data returned from Python workers")
                exch = eventlog.first_below(node, "Exchange")
                if exch is not None:
                    kin += log.value(exch, "shuffle records written")
                skews.append(log.stage_skew(node, "time to run Python workers"))
        out.update({
            "spatial.knn.python_s": py_s / 1e3 / n,
            "spatial.knn.python_bytes_in": b_in / n,
            "spatial.knn.python_bytes_out": b_out / n,
            "spatial.knn.halo_factor": kin / n / self.meta["docs"],
            "spatial.knn.task_skew": statistics.median(skews) if skews else 0.0,
        })
        return out


def spans_rows(log) -> dict:
    """Rows out of the span explode in one run of the ``spans`` prefix."""
    ex = log.select(lambda d: d == "prefix:spans")
    rows = sum(log.value(g, "number of output rows") for e in ex for g in e.plan.find("Generate"))
    return {"synth.spans_rows": rows / len(ex)}


class CheckpointUnits(Workload):
    name = "checkpoint_units"
    repl = 40
    # One work unit per snapshot data file.  Each unit costs three scans and
    # a job's planning (~1.4 s on 4 cores), which bounds the unit count a
    # run can afford.
    n_files = 4
    warmups = 0  # its anchor is a full operation

    def prepare(self) -> None:
        import reference

        super().prepare()
        docs = self.ctx.read_docs(self.files)
        self.ref = reference.flagship_reference(docs)
        self.ref_docs = len(docs)
        self.ref_cutflow = {
            f"{r['cut']}|{r['count_type']}|{r['weight_name']}": r["value"]
            for r in reference.oracle_cutflow_rows(self.files, {"w": "w"})
        }
        self.snap_dir = self.input_dir("snapshot")
        self.runs = self.ctx.scratch(self.name)

    def prepare_spark(self, spark) -> None:
        from fast_carpenter_spark.sources.snapshot import list_snapshots, write_snapshot

        if not (os.path.isdir(self.snap_dir) and list_snapshots(self.snap_dir)):
            shutil.rmtree(self.snap_dir, ignore_errors=True)
            write_snapshot(
                spark.read.parquet(*self.files).repartition(self.n_files, "doc_id"),
                self.snap_dir, snapshot_id="snap-perfbench", bounds_cols=["doc_id"],
            )

    def run(self, spark, max_first: int | None = None) -> tuple[dict, dict]:
        import inputs
        import reference

        from fast_carpenter_spark.checkpoint import CheckpointedRun
        from fast_carpenter_spark.queries import flagship_unit_job
        from fast_carpenter_spark.sources.snapshot import SnapshotReader

        run_dir = os.path.join(self.runs, f"run-{time.time_ns()}")
        job = flagship_unit_job(spark)
        reader = SnapshotReader(self.snap_dir)
        first = CheckpointedRun.from_snapshot(run_dir, reader, job, files_per_unit=1)
        half = len(first.units) // 2 if max_first is None else max_first
        first.execute(spark, max_units=half)
        t0 = time.perf_counter()
        resumed = CheckpointedRun.from_snapshot(run_dir, reader, job, files_per_unit=1)
        resumed.execute(spark)
        t1 = time.perf_counter()
        final, metrics = resumed.finalize(spark)
        digest = observed_noop(final, reference.binned_digest_exprs(["region", "cell"], "pw"))
        t2 = time.perf_counter()
        ledger = resumed.ledger_path
        with open(ledger) as f:
            walls = [json.loads(line)["wall_s"] for line in f if line.strip()]
        self.layers.update({
            "checkpoint.resume_s": t1 - t0,
            "checkpoint.finalize_s": t2 - t1,
            "checkpoint.unit_s_p50": statistics.median(walls),
            "checkpoint.ledger_bytes": os.path.getsize(ledger),
            "checkpoint.partial_bytes": inputs.dir_bytes(os.path.join(run_dir, "partials")),
            "units": len(resumed.units),
        })
        self.written = inputs.dir_bytes(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
        got = {**digest, "docs": metrics["docs"], "cutflow": metrics["cutflow"]}
        return got, {**self.ref, "docs": self.ref_docs, "cutflow": self.ref_cutflow}

    def anchor(self, spark):
        # warm-up: the same op shape, stopped after one unit, then resumed
        return self.run(spark, max_first=1)

    def op(self, spark):
        return self.run(spark)

    def input_bytes(self) -> int:
        from fast_carpenter_spark.sources.snapshot import SnapshotReader

        return sum(os.path.getsize(p) for p in SnapshotReader(self.snap_dir).snapshot.file_paths)

    def prefixes(self, spark):
        return []

    def trace_layers(self, log, prefix_s: dict, ops: list, wall_s: list) -> dict:
        n = len(wall_s)
        units = self.layers["units"] * n
        counters = [e for e in ops if e.description.startswith("collect at")]
        return {
            "checkpoint.jobs_per_unit": sum(len(e.jobs) for e in ops) / units,
            "operators.selection.counters_s": log.job_seconds(counters) / n,
            "operators.selection.counter_jobs": sum(len(e.jobs) for e in counters) / n,
        }


# -- the CLI workload (a subprocess per operation) ----------------------------


class CliTwoDatasets(Workload):
    name = "cli_two_datasets"
    repl = 20

    def prepare(self) -> None:
        import inputs
        import reference

        from fast_carpenter_spark import synth

        half = self.ctx.repl(self.repl) // 2 or 1
        self.halves = {}
        self.meta = {"docs": 0, "spans": 0, "bytes": 0}
        for i, (name, etype) in enumerate((("mc_half", "mc"), ("data_half", "data"))):
            path = self.input_dir(name)
            m = inputs.write_documents(path, self.ctx.seed, half, self.n_files // 2,
                                       rep0=i * half, base=self.ctx.base)
            for k in self.meta:
                self.meta[k] += m[k]
            self.halves[name] = (etype, inputs.parquet_files(path))
        self.ref = reference.cli_reference(
            {n: (e, self.ctx.read_docs(f)) for n, (e, f) in self.halves.items()}
        )
        self.ref_cutflow = {}
        for name, (etype, files) in self.halves.items():
            weights = {"w": "w" if etype == "mc" else "1.0"}
            for r in reference.oracle_cutflow_rows(files, weights):
                self.ref_cutflow[(name, r["cut_id"], r["count_type"], r["weight_name"])] = r["value"]
        cfg_dir = self.ctx.scratch(self.name)
        self.datasets_yml = os.path.join(cfg_dir, "datasets.yml")
        self.processing_yml = os.path.join(cfg_dir, "processing.yml")
        with open(self.datasets_yml, "w") as f:
            json.dump({"datasets": [
                {"name": n, "eventtype": e, "files": fs} for n, (e, fs) in self.halves.items()
            ]}, f)
        from fast_carpenter_spark.queries import CUTFLOW_SELECTION

        with open(self.processing_yml, "w") as f:
            json.dump({
                "stages": [
                    {"define": {"variables": [{"wt": "w * 2"}]}},
                    {"cutflow": {"selection": CUTFLOW_SELECTION, "weights": {"w": "w"}}},
                    {"spatial_join": {"polygons": synth.polygons()}},
                    {"binned_dataframe": {"binning": [{"in": "region"}, {"in": "kind"}],
                                          "weights": {"wt": "wt"}, "dataset_col": "dataset"}},
                ],
                "output_formats": ["csv"],
            }, f)

    def env(self, event_dir: str | None) -> dict:
        conf = session_conf(self.ctx.work, event_dir)
        submit = ["--driver-memory", DRIVER_MEMORY]
        for k, v in conf.items():
            submit += ["--conf", f"{k}={v}"]
        return {
            **os.environ, **ENV,
            "SPARK_LOCAL_DIRS": self.ctx.local_dirs,
            "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        }

    def invoke(self, event_dir: str | None = None) -> dict:
        """One CLI invocation: wall, manifest wall_s, peak RSS, checked output."""
        import inputs
        import pandas as pd

        import procmon
        import reference

        out = os.path.join(self.ctx.scratch(self.name), f"out-{time.time_ns()}")
        cmd = [sys.executable, "-m", "fast_carpenter_spark", self.datasets_yml,
               self.processing_yml, "--outdir", out, "--master", f"local[{CORES}]"]
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=self.env(event_dir),
                                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        with procmon.PeakRss(proc.pid, include_root=True) as rss:
            _, stderr = proc.communicate(timeout=170)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            raise RuntimeError(f"CLI exited {proc.returncode}: {stderr[-2000:]}")
        with open(os.path.join(out, "manifest.json")) as f:
            manifest = json.load(f)
        res = pd.read_csv(os.path.join(out, "result.csv"))
        got = reference.binned_digest(res, ["dataset", "region", "kind"], "wt")
        cf = pd.read_csv(os.path.join(out, "cutflow.csv"))
        got_cf = {(r.dataset, r.cut_id, r.count_type, r.weight_name): float(r.value)
                  for r in cf.itertuples(index=False)}
        written = inputs.dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return {
            "wall": wall, "engine_s": manifest["wall_s"], "rss_mb": rss.peak_mb,
            "written": written, "ok": got == self.ref and got_cf == self.ref_cutflow,
        }


# -- measurement ---------------------------------------------------------------


class Context:
    def __init__(self, args):
        import inputs

        self.seed = args.seed
        self.tiny = args.tiny
        self.work = os.path.abspath(".perfbench")
        self.local_dirs = os.path.join(self.work, "spark-local")
        os.makedirs(self.local_dirs, exist_ok=True)
        self.base = inputs.base_documents(50 if args.tiny else inputs.BASE_DOCS)
        self._docs_cache: dict = {}

    def repl(self, n: int) -> int:
        return 1 if self.tiny else n

    def input_dir(self, workload: str, tag: str) -> str:
        """Inputs of this seed; other seeds' inputs of the workload go."""
        size = "tiny" if self.tiny else "full"
        root = os.path.join(self.work, "inputs", workload)
        keep = f"s{self.seed}-{size}"
        if os.path.isdir(root):
            for d in os.listdir(root):
                if d != keep:
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        return os.path.join(root, keep, tag)

    def scratch(self, workload: str) -> str:
        path = os.path.join(self.work, "scratch", workload)
        os.makedirs(path, exist_ok=True)
        return path

    def anchor_files(self) -> list[str]:
        """The unreplicated base under this seed (the oracles' input)."""
        import inputs

        path = self.input_dir("anchor", "docs")
        inputs.write_documents(path, self.seed, 1, 1, base=self.base)
        return inputs.parquet_files(path)

    def read_docs(self, files: list[str]):
        import pandas as pd
        import pyarrow.parquet as pq

        key = tuple(files)
        if key not in self._docs_cache:
            self._docs_cache[key] = pd.concat(
                [pq.read_table(f, columns=["doc_id", "n_chars"]).to_pandas() for f in files],
                ignore_index=True,
            )
        return self._docs_cache[key]


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn):
        """Run one operation; an exception or a failed check is a failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            got, want = fn()
        except Exception as exc:  # the loop must go on and count it
            self.failed += 1
            log(f"{what}: raised {type(exc).__name__}: {exc}")
            return time.perf_counter() - t0, False
        dt = time.perf_counter() - t0
        if got != want:
            self.failed += 1
            log(f"{what}: output check failed: got {got} want {want}")
            return dt, False
        return dt, True


def closed_loop(tally: Tally, what: str, fn, *, seconds: float = 0.0, count: int = 1) -> list:
    """Times of ``fn`` run one call at a time, at least ``count`` times and
    for at least ``seconds``."""
    times = []
    start = time.perf_counter()
    while len(times) < count or time.perf_counter() - start < seconds:
        dt, _ = tally.run(f"{what} {len(times)}", fn)
        times.append(dt)
    return times


def measure_inprocess(wl: Workload, args, tally: Tally) -> tuple[dict, dict]:
    import procmon

    sess = Session(wl.ctx.work)
    e2e: dict = {}
    layers: dict = {}
    try:
        session_s = sess.start()
        wl.prepare_spark(sess.spark)
        t0 = time.perf_counter()
        # Warm-ups: the anchor op (the same plan shape on the base input)
        # takes the cold start (codegen, class loading, Python workers);
        # full-size ops follow, as the first at full size runs ~2x slower.
        warm = [tally.run("anchor", lambda: wl.anchor(sess.spark))[0]]
        warm += closed_loop(tally, "warm-up", lambda: wl.op(sess.spark), count=wl.warmups)
        setup_s = session_s + time.perf_counter() - t0
        seconds, count = (args.seconds / 2, TRACE_OPS) if args.trace else (args.seconds, MIN_OPS)
        with procmon.PeakRss() as rss:
            times = closed_loop(tally, "op", lambda: wl.op(sess.spark),
                                seconds=seconds, count=1 if wl.ctx.tiny else count)
        log(f"session {session_s:.2f}s, anchor and warm-ups {[round(t, 2) for t in warm]}, "
            f"op times {[round(t, 2) for t in times]}")
        e2e = {
            "docs_per_s": (wl.meta["docs"] / statistics.median(times), len(times)),
            "setup_s": (setup_s, 1),
            "peak_rss_mb": (rss.peak_mb, 1),
        }
        if isinstance(wl, CheckpointUnits):
            e2e["bytes_written_per_input_byte"] = (wl.written / wl.input_bytes(), 1)
        if args.trace:
            layers = trace_inprocess(wl, sess, tally, times)
            layers["session.start_s"] = session_s
    finally:
        sess.close()
    return e2e, layers


def trace_inprocess(wl, sess, tally, untraced_s: list) -> dict:
    """Restart the context with the event log on, force each layer prefix
    ``PREFIX_ROUNDS`` times, then run as many traced operations as the
    untraced loop ran."""
    import eventlog

    event_dir = os.path.join(wl.ctx.scratch(wl.name), f"events-{time.time_ns()}")
    os.makedirs(event_dir)
    sess.stop()
    sess.start(event_dir)
    if isinstance(wl, KnnGeoHalo):  # the new context starts cold Python workers
        sess.label("warm-up")
        tally.run("traced warm-up", lambda: wl.op(sess.spark))
    prefix_s: dict[str, list] = {}
    for _ in range(PREFIX_ROUNDS):
        sess.label("lineage")  # the temp views the lineage creates
        for name, df in wl.prefixes(sess.spark):  # fresh DataFrames each round
            sess.label(f"prefix:{name}")
            t0 = time.perf_counter()
            noop(df)
            prefix_s.setdefault(name, []).append(time.perf_counter() - t0)
    # checkpoint actions keep their call-site descriptions, which name the
    # job step (count, collect, parquet); its log holds only ops
    sess.label(None if isinstance(wl, CheckpointUnits) else "op")
    times = closed_loop(tally, "traced op", lambda: wl.op(sess.spark), count=len(untraced_s))
    ckpt = None
    if isinstance(wl, FlagshipJoinBin):
        # checkpoint_units is not in BENCHMARK.json (its runs do not fit the
        # run budget, see README), so this run carries its layers: one
        # CheckpointedRun of the same flagship job, on a fifth of its input
        # so that the traced run ends within three minutes
        ckpt = CheckpointUnits(wl.ctx)
        ckpt.name, ckpt.repl = "checkpoint_carrier", CheckpointUnits.repl // 5
        ckpt.prepare()
        sess.label("snapshot")
        ckpt.prepare_spark(sess.spark)
        sess.label(None)
        ckpt_s, _ = tally.run("traced checkpoint op", lambda: ckpt.op(sess.spark))
    sess.stop()
    log_ = eventlog.EventLog.from_dir(event_dir)
    shutil.rmtree(event_dir, ignore_errors=True)
    if isinstance(wl, CheckpointUnits):
        ops = log_.select(lambda d: True)
    else:
        ops = log_.select(lambda d: d == "op")
    layers = {k: v for k, v in wl.layers.items() if k != "units"}
    if ckpt is not None:
        labelled = ("op", "lineage", "prefix", "warm-up", "snapshot")
        layers.update(ckpt.trace_layers(
            log_, {}, log_.select(lambda d: not d.startswith(labelled)), [ckpt_s]))
        layers.update({k: v for k, v in ckpt.layers.items() if k != "units"})
    layers.update(wl.trace_layers(log_, prefix_s, ops, times))
    layers.update(source_layers(log_, ops, wl, len(times)))
    layers.update(log_.task_totals(ops, times, CORES))
    docs = wl.meta["docs"]
    layers["trace.docs_per_s_overhead"] = (
        docs / statistics.median(times) - docs / statistics.median(untraced_s)
    )
    return layers


def source_layers(log, ops, wl, n_ops: int) -> dict:
    """Input scans per op (scans of the workload's input files), bytes and
    scan time, from the ``Scan parquet`` nodes of the ops' executions."""
    where = os.path.dirname(wl.input_dir()) if not isinstance(wl, CheckpointUnits) else wl.snap_dir
    scans = [n for ex in ops for n in ex.plan.walk()
             if n.name.startswith("Scan parquet") and where in n.location]
    return {
        "sources.input_scans": len(scans) / n_ops,
        "sources.bytes_read": sum(log.value(n, "size of files read") for n in scans) / n_ops,
        "sources.scan_s": sum(log.value(n, "scan time") for n in scans) / 1e3 / n_ops,
    }


def measure_cli(wl: CliTwoDatasets, args, tally: Tally) -> tuple[dict, dict]:
    """Each op is one CLI invocation, JVM start included; set-up is the
    invocation's wall time outside the manifest's ``wall_s``.  A traced run
    makes one traced invocation only: a second cold invocation to compare it
    with would double the run, so the CLI reports no tracing overhead."""
    if args.trace:
        layers = trace_cli(wl, tally)
        sess = Session(wl.ctx.work)
        try:
            sess.start()
            layers["plans.pipeline.build_s"] = pipeline_build_s(wl, sess.spark)
        finally:
            sess.close()
        return {}, layers
    runs = []

    def once(event_dir=None):
        r = wl.invoke(event_dir)
        runs.append(r)
        return r["ok"], True

    start = time.perf_counter()
    while not runs or time.perf_counter() - start < args.seconds:
        n = len(runs)
        tally.run(f"cli {n}", once)
        if len(runs) == n:  # it raised: nothing more to measure
            break
    if not runs:
        return {}, {}
    wall = statistics.median(r["wall"] for r in runs)
    n = len(runs)
    e2e = {
        "docs_per_s": (wl.meta["docs"] / wall, n),
        "setup_s": (statistics.median(r["wall"] - r["engine_s"] for r in runs), n),
        "peak_rss_mb": (max(r["rss_mb"] for r in runs), n),
        "bytes_written_per_input_byte": (
            statistics.median(r["written"] for r in runs) / wl.meta["bytes"], n),
    }
    return e2e, {}


def trace_cli(wl: CliTwoDatasets, tally: Tally) -> dict:
    import eventlog

    event_dir = os.path.join(wl.ctx.scratch(wl.name), f"events-{time.time_ns()}")
    os.makedirs(event_dir)
    r = {}

    def traced():
        r.update(wl.invoke(event_dir))
        return r["ok"], True

    tally.run("traced cli", traced)
    if not r:  # it raised; the failure is counted
        return {}
    log_ = eventlog.EventLog.from_dir(event_dir)
    shutil.rmtree(event_dir, ignore_errors=True)
    execs = log_.select(lambda d: True)
    writes = [e for e in execs if e.description.startswith("parquet at")]
    collects = [e for e in execs if e.description.startswith("toPandas at")]
    counters = collects[1:]  # the result is collected first, then the counters
    layers = {
        "cli.jobs": len(log_.job_span),
        "cli.write_s": log_.job_seconds(writes),
        "cli.collect_s": log_.job_seconds(collects[:1]),
        "cli.counters_s": log_.job_seconds(counters),
        "cli.driver_s": r["engine_s"] - log_.job_seconds(execs),
        "operators.selection.counters_s": log_.job_seconds(counters),
        "operators.selection.counter_jobs": sum(len(e.jobs) for e in counters),
    }
    where = os.path.dirname(wl.input_dir("mc_half"))
    scans = [n for ex in execs for n in ex.plan.walk()
             if n.name.startswith("Scan parquet") and where in n.location]
    layers.update({
        "cli.input_scans": len(scans) / len(wl.halves),
        "sources.input_scans": len(scans) / len(wl.halves),
        "sources.bytes_read": sum(log_.value(n, "size of files read") for n in scans),
        "sources.scan_s": sum(log_.value(n, "scan time") for n in scans) / 1e3,
    })
    layers.update(log_.task_totals(execs, [r["engine_s"]], CORES))
    return layers


def pipeline_build_s(wl: CliTwoDatasets, spark) -> float:
    """``Pipeline.from_config`` + ``apply`` over both halves, as the CLI
    plans them (lazy: no Spark job runs)."""
    from fast_carpenter_spark.__main__ import load_dataset, specialize
    from fast_carpenter_spark.plans.pipeline import Pipeline

    with open(wl.processing_yml) as f:
        processing = json.load(f)
    with open(wl.datasets_yml) as f:
        datasets = json.load(f)["datasets"]
    t0 = time.perf_counter()
    pipeline = Pipeline.from_config(processing)
    for i, ds in enumerate(datasets):
        specialize(pipeline, ds["eventtype"] == "mc").apply(load_dataset(spark, ds, "spans", i))
    return time.perf_counter() - t0


WORKLOADS = {
    w.name: w for w in (FlagshipJoinBin, KnnGeoHalo, CliTwoDatasets, CheckpointUnits)
}

# Printed with the end-to-end metrics but not listed in BENCHMARK.json.
EXTRA_UNITS = {"failed_ops_frac": "ratio", "bytes_written_per_input_byte": "ratio"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test size: 50 base docs, one replica")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fast_carpenter_spark", "__init__.py")):
        log(f"no fast_carpenter_spark package next to {HERE}: run from a repository checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update(EXTRA_UNITS)
    sys.path[:0] = [HERE, ROOT]
    os.environ.update(ENV)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ctx = Context(args)
    os.environ["SPARK_LOCAL_DIRS"] = ctx.local_dirs

    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    wl.prepare()
    log(f"{wl.name}: {wl.meta} inputs and references in {time.perf_counter() - t0:.1f}s")
    tally = Tally()
    measure = measure_cli if isinstance(wl, CliTwoDatasets) else measure_inprocess
    e2e, layers = measure(wl, args, tally)

    frac = tally.failed / tally.attempted
    print(f"workload {wl.name}: docs {wl.meta['docs']}, spans {wl.meta['spans']}, "
          f"input bytes {wl.meta['bytes']}, local[{CORES}], closed loop, 1 client")
    print(f"failed_ops_frac {frac:.4f} ratio (n={tally.attempted})")
    for name, (value, n) in e2e.items():
        print(f"{name} {value:.6g} {units[name]} (n={n})")
    listed = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": units[k]} for k in listed}
        for k in listed:
            note = (" (layer not run)" if k not in layers
                    else " (unresolved: within its run-to-run spread)" if k in wl.unresolved
                    else "")
            print(f"{k} {metrics[k]['value']:.6g} {units[k]}{note}")
    else:
        metrics = {k: {"value": e2e[k][0], "unit": units[k]} for k in listed if k in e2e}
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

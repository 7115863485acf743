#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, end to end and by layer.

    python3 perfbench/run.py --workload recsys-pairs --seed 1 --seconds 9 --trace 0

Run from the repository root.  One client: the driver process issues each
call after the previous one returned, on ``local[N]`` with N = the CPUs
this process may use.  A run

1. sets up four times (session start, package ship, ``registry.load_all``
   on freshly imported modules, input preparation: a fresh input dir, and
   for ``ingest`` the tables it lands) and keeps the last session;
2. runs untimed warm-up passes, then timed passes of the workload until
   ``--seconds`` have passed (at least one), each pass reading its inputs
   through a fresh directory of symlinks so no memo keyed by the input
   dir carries over;
3. checks every output against the committed oracle digests;
4. prints, as the last stdout line, ``{"correct", "attempted", "failed",
   "metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1`` (the traced run also writes its spans to
   ``.bench_build/perfbench/spans-<workload>-<seed>.json``).

Reported values are medians: over the four set-ups for ``setup_s`` and
over the timed passes of the run for the rest.  Everything the run writes lives
under ``.bench_build/perfbench/`` and is removed at exit, apart from the
spans file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PKG = "recsys_mapreduce_mrjob_spark"
BUILD = os.path.join(REPO, ".bench_build", "perfbench")

SETUPS = 4
# Initial heap = maximum heap, touched at start-up, so the JVM's resident
# size does not depend on how much of the heap the collector happened to
# use: without the pre-touch a run's peak RSS swings by 600 MB between runs
# (4-vCPU, 15 GB VM).
DRIVER_MEMORY = "2g"

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("query_gmean_s", "s"),
    ("peak_rss_mb", "MB"),
)

# Per-layer metrics: (name, unit, how a run reduces the per-pass values).
#   setup  - median over the set-ups
#   sum    - per-pass sum, median over passes
#   list   - per-pass median of the individual values, median over passes
SETUP_LAYERS = (
    ("session.start_s", "s"),
    ("session.ship_s", "s"),
    ("registry.load_s", "s"),
    ("sources.readers.materialize_s", "s"),
)
PASS_LAYERS = (
    ("operators.build_s", "s", "sum"),
    ("operators.eager_jobs", "count", "sum"),
    ("plan.exchanges", "count", "sum"),
    ("plan.chars", "chars", "sum"),
    ("fetch.rows", "rows", "sum"),
    ("spark.jobs", "count", "sum"),
    ("spark.stages", "count", "sum"),
    ("spark.tasks", "count", "sum"),
    ("spark.run_ms", "ms", "sum"),
    ("spark.cpu_ms", "ms", "sum"),
    ("spark.gc_ms", "ms", "sum"),
    ("spark.shuffle_write_bytes", "bytes", "sum"),
    ("spark.shuffle_read_bytes", "bytes", "sum"),
    ("spark.spill_bytes", "bytes", "sum"),
    ("spark.wait_ms", "ms", "sum"),
    ("arrow.python_ms", "ms", "sum"),
    ("arrow.boot_ms", "ms", "sum"),
    ("caching.carryover_at_start", "count", "sum"),
    ("caching.persisted_rdds", "count", "sum"),
    ("caching.cached_bytes", "bytes", "sum"),
    ("streaming.twins.doc_dedup_batch_s", "s", "list"),
    ("streaming.twins.neardup_batch_s", "s", "list"),
    ("streaming.twins.ivf_batch_s", "s", "list"),
    ("streaming.twins.files_written", "count", "sum"),
    ("streaming.twins.bytes_written", "bytes", "sum"),
    ("streaming.twins.read_state_s", "s", "sum"),
    ("operators.embeddings.probe_s", "s", "list"),
    ("operators.embeddings.files_read", "count", "list"),
    ("operators.embeddings.pruning_ratio", "ratio", "list"),
    ("ingest.freshness_p50_s", "s", "list"),
    ("ingest.docs_per_s", "1/s", "sum"),
    ("ingest.state_bytes_per_input_byte", "ratio", "sum"),
)


def query_layers() -> list[str]:
    """One wall per query of every batch workload."""
    from workloads import BATCH

    return [f"{q}_s" for names in BATCH.values() for q in names]


def per_layer_units() -> dict[str, str]:
    units = {name: unit for name, unit in SETUP_LAYERS}
    units.update({name: unit for name, unit, _ in PASS_LAYERS})
    units["trace.overhead_ratio"] = "ratio"
    units.update(dict.fromkeys(query_layers(), "s"))
    return units


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One benchmark process: its session, its scratch dirs, its spans."""

    def __init__(self, args, run_dir: str, cpus: int) -> None:
        from digests import load_digests
        from layers import Spans

        self.args = args
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.cpus = cpus
        self.digests = load_digests()
        self.ingest_src = None
        self.spans = Spans()
        self.spark = None
        self.modules: dict = {}
        self._dirs = 0

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        path = os.path.join(self.run_dir, f"{tag}-{self._dirs}")
        os.makedirs(path)
        return path

    def fresh_input_dir(self, data: str) -> str:
        """A new directory of symlinks to the input tables of ``data``."""
        path = self.fresh_dir("in")
        src = os.path.join(HERE, "data", data)
        for name in sorted(os.listdir(src)):
            os.symlink(os.path.join(src, name), os.path.join(path, name))
        return path

    def read_ingest_src(self) -> None:
        """(documents, embeddings) as Arrow tables: the rows the ingest
        workload lands chunk by chunk."""
        import pyarrow.parquet as pq

        src = os.path.join(HERE, "data", self.args.data)
        self.ingest_src = (
            pq.read_table(os.path.join(src, "documents.parquet"), columns=["doc_id", "text", "lang", "source"]),
            pq.read_table(os.path.join(src, "embeddings.parquet")),
        )

    def setup(self) -> dict[str, float]:
        """Start a session, ship the package, import and load the registry
        from scratch, prepare the inputs.  A traced run then also times the
        text-copy derivation of that input dir; no pass reads those copies
        (each pass derives its own from its fresh dir inside the query that
        reads them), so ``setup_s`` leaves it out."""
        import importlib

        if self.spark is not None:
            self.spark.stop()
            for name in [m for m in sys.modules if m in ("__spark_entry__", PKG) or m.startswith(PKG + ".")]:
                del sys.modules[name]
            # The stopped context deleted the package zip its addPyFile put
            # on sys.path; a cached importer for it would fail every lookup.
            sys.path[:] = [p for p in sys.path if not p or os.path.exists(p)]
            sys.path_importer_cache.clear()
        t0 = time.perf_counter()
        session = importlib.import_module(f"{PKG}.session")
        spark = (
            session.session_builder(master=f"local[{self.cpus}]", shuffle_partitions=self.cpus)
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.warehouse.dir", os.path.join(self.run_dir, "warehouse"))
            .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        entry = importlib.import_module("__spark_entry__")
        entry._ensure_conf(spark)
        t2 = time.perf_counter()
        registry = importlib.import_module(f"{PKG}.registry")
        registry.load_all()
        t3 = time.perf_counter()
        sf_dir = self.fresh_input_dir(self.args.data)
        if self.args.workload == "ingest":
            self.read_ingest_src()
        t4 = time.perf_counter()
        self.spans.add("setup", t0, t4, None, None)
        materialize_s = 0.0
        if self.trace:
            readers = importlib.import_module(f"{PKG}.sources.readers")
            readers.materialize_ratings_text(spark, sf_dir, "pipe")
            readers.materialize_documents_jsonl(spark, sf_dir)
            materialize_s = time.perf_counter() - t4
        self.spark = spark
        self.modules = {
            "registry": registry,
            "caching": importlib.import_module(f"{PKG}.caching"),
            "streaming.twins": importlib.import_module(f"{PKG}.streaming.twins"),
            "operators.embeddings": importlib.import_module(f"{PKG}.operators.embeddings"),
            "F": importlib.import_module("pyspark.sql.functions"),
        }
        return {
            "setup_s": t4 - t0,
            "session.start_s": t1 - t0,
            "session.ship_s": t2 - t1,
            "registry.load_s": t3 - t2,
            "sources.readers.materialize_s": materialize_s,
        }

    def run(self) -> dict:
        import workloads as W
        from layers import RssSampler

        rss = RssSampler()
        rss.start()
        try:
            setups = [self.setup() for _ in range(SETUPS)]
            n_warm = W.WARMUP_PASSES[self.args.workload]
            warmups = [self.run_pass(W.Pass(i, self.args.data)) for i in range(n_warm)]
            passes = []
            t_measure = time.perf_counter()
            while not passes or time.perf_counter() - t_measure < self.args.seconds:
                passes.append(self.run_pass(W.Pass(n_warm + len(passes), self.args.data)))
        finally:
            rss.stop()
        return self.result(setups, warmups, passes, rss.peak)

    def run_pass(self, p):
        """One pass.  Warm-up passes are checked but not timed."""
        import workloads as W

        if self.args.workload == "ingest":
            W.run_ingest_pass(self, self.args.seed, p)
        else:
            W.run_batch_pass(self, self.args.workload, p)
        self.spark.catalog.clearCache()
        return p

    def result(self, setups: list[dict], warmups: list, passes: list, peak_rss: int) -> dict:
        every = warmups + passes
        attempted = sum(p.attempted for p in every)
        failed = sum(p.failed for p in every)
        for p in every:
            for err in p.errors:
                print(f"pass {p.pass_id}: {err}", file=sys.stderr)
        if self.trace:
            units = per_layer_units()
            values = {k: _median(s[k] for s in setups) for k, _ in SETUP_LAYERS}
            for name, _unit, how in PASS_LAYERS:
                if how == "list":
                    values[name] = _median(_median(p.lists.get(name, [])) for p in passes)
                else:
                    values[name] = _median(p.layer.get(name, 0.0) for p in passes)
            values["trace.overhead_ratio"] = _median((p.wall + p.trace_s) / p.wall for p in passes)
            for name in query_layers():
                values[name] = _median(p.layer.get(name, 0.0) for p in passes)
        else:
            units = dict(END_TO_END)
            values = {
                "setup_s": _median(s["setup_s"] for s in setups),
                "pass_s": _median(p.wall for p in passes),
                "query_gmean_s": _median(statistics.geometric_mean(p.call_walls) for p in passes if p.call_walls),
                "peak_rss_mb": peak_rss / 2**20,
            }
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
            "passes": len(passes),
        }

    def close(self) -> None:
        """Stop the session and the JVM, and wait until every process this
        run started has ended."""
        from layers import descendants

        if self.spark is not None:
            self.spark.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _pin_environment(run_dir: str, cpus: int) -> dict:
    """Fix every setting the measurement depends on, and return them."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    settings = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cpus),
        "ENGINE_SHUFFLE_PARTITIONS": str(cpus),
        "ENGINE_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Every JVM, the launcher's too, keeps its temp files in the run dir.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(settings)
    for name in ("SPARK_GRAFT_MEMO_STORAGE", "OMP_NUM_THREADS", "SPARK_CONF_DIR"):
        os.environ.pop(name, None)
    tempfile.tempdir = None
    return settings


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="input tables under perfbench/data/ (default: the workload's)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, PKG)) or not os.path.isfile(
        os.path.join(REPO, "__spark_entry__.py")
    ):
        print(f"engine package {PKG} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [REPO, HERE]
    from workloads import DATA, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    args.data = args.data or DATA[args.workload]
    if not os.path.isdir(os.path.join(HERE, "data", args.data)):
        print(f"no input tables for {args.data!r}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    bench = None
    try:
        settings = _pin_environment(run_dir, cpus)
        settings.update(
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            driver_memory=DRIVER_MEMORY,
            seed=args.seed,
            data=args.data,
            workload=args.workload,
            trace=args.trace,
        )
        bench = Bench(args, run_dir, cpus)
        result = bench.run()
        settings["passes"] = result.pop("passes")
        if args.trace:
            spans_path = os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.json")
            with open(spans_path, "w") as f:
                json.dump({"settings": settings, "spans": bench.spans.rows}, f)
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print("settings " + json.dumps(settings, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

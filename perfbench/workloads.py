"""The benchmark's workloads: what one pass runs and how it is checked.

Batch workloads run a fixed list of registered queries.  Each call is the
query callable plus a full fetch of its result (Arrow collect, then
``to_pandas``); the fetched table is checked against the committed oracle
digest after the wall clock stops.

``ingest`` lands seeded chunks of ``documents`` and ``embeddings`` round
by round.  Each round runs the three streaming folds over the new chunk
(exact dedup, near-dup, IVF index), then reads the state back: a 32-probe
batch ANN query on the growing index and a read of the dedup state.  The
first round of a pass is not timed: it creates the state the later rounds
fold into.  The end state of a pass is checked against the
order-invariant oracles.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from digests import table_digest
from layers import dir_stats, group_metrics, plan_metrics

# Each query is named with the module that registers it; the pair names
# its per-query wall metric, e.g. ``operators.recsys.q_topk_similar_items_s``.
BATCH = {
    # The reference item-similarity pipeline: pairwise stats, similarity,
    # per-item top-K over the co-rated pairs.
    "recsys-pairs": [
        "operators.recsys.q_pairwise_stats",
        "operators.recsys.q_item_similarity",
        "operators.recsys.q_topk_similar_items",
    ],
    # Near-duplicate components with eager driver-side fixpoint jobs and
    # memos (no GEMM), then sub-second queries over every other operator
    # module and the SQL path: the fixed per-query cost regime.
    "curation-short": [
        "operators.dedup.q_dedup_components_twostar",
        "operators.aggregates.q_agg_pricing_summary",
        "sql.q_join_agg_q3",
        "operators.relational.q_join_broadcast",
        "operators.windows.q_window_topk_per_group",
        "operators.events.q_window_tumbling",
        "operators.relational.q_scan_csv_ratings",
        "operators.text.q_text_wordcount",
        "operators.embeddings.q_knn_cosine",
        "operators.sampling.q_sample_temperature",
    ],
}

# Rounds per ingest pass: the corpus lands as this many chunks.  Round 0
# is the pass's warm-up (the first batch of each fold in a process costs
# about twice a later one); the rounds after it are timed.
INGEST_CHUNKS = 2
INGEST_PROBES = 32

# The oracle each ingest end state is graded by.
INGEST_CHECKS = (
    "q_stream_dedup_docs_exec",
    "q_stream_neardup_docs_exec",
    "q_stream_ann_index_exec",
    "q_knn_batch_ivf",
)

WORKLOADS = (*BATCH, "ingest")

# Input tables each workload reads (a directory under perfbench/data/).
# curation-short runs on the small tables so that per-query fixed cost,
# not data volume, sets its walls.
DATA = {"recsys-pairs": "sf0.01", "curation-short": "sf0.001", "ingest": "sf0.01"}

# Untimed warm-up passes before the timed ones.  A pass keeps getting
# faster over the first passes of a process (JIT and code generation;
# recsys-pairs on a 4-vCPU VM: about 14, 7, 5.8, 5.2, then 5 s).  Warming up on smaller
# tables does not carry over: adaptive execution picks other plans there.
# recsys-pairs times its passes from the third on, past the steep part
# of that curve.
# curation-short times its first: each query's first run in a process,
# the per-query fixed cost at its largest, as a fresh driver process pays
# it (one warm-up would add 17 s to a run, more than the run budget
# allows).  Ingest warms up inside each pass, with its untimed first round.
WARMUP_PASSES = {"recsys-pairs": 2, "curation-short": 0, "ingest": 0}


def query_name(qualified: str) -> str:
    return qualified.rsplit(".", 1)[1]


class Pass:
    """Everything one pass measured: call walls, per-layer sums, checks."""

    def __init__(self, pass_id: int, data: str) -> None:
        self.pass_id = pass_id
        self.data = data
        self.wall = 0.0
        self.call_walls: list[float] = []
        self.layer: dict[str, float] = {}
        self.lists: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.trace_s = 0.0
        self.last_plan: dict[str, float] = {}

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def note(self, key: str, value: float) -> None:
        self.lists.setdefault(key, []).append(value)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {detail or 'digest mismatch'}")


def _fetch(df) -> pa.Table:
    """Full result fetch: the Arrow collect ``toPandas()`` runs, plus the
    pandas conversion itself.  Returns the Arrow table for the check."""
    table = df.toArrow()
    table.to_pandas()
    return table


def _traced_call(b, p: Pass, name: str, metric: str, make, parent: str):
    """Run ``make() -> DataFrame`` and fetch it, timing build and fetch
    separately.  Returns the fetched table, or None after an exception
    (counted as a failure).  With tracing on, the call's jobs carry the
    group ``p<pass>:<name>`` and its layer metrics are added to ``p``."""
    sc = b.spark.sparkContext
    group = f"p{p.pass_id}:{name}"
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        df = make()
        t1 = time.perf_counter()
        build_end_ms = time.time() * 1000
        table = _fetch(df)
        t2 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001 - any failure is a failed operation
        p.check(name, False, f"{type(exc).__name__}: {str(exc)[:300]}")
        return None
    wall = t2 - t0
    p.call_walls.append(wall)
    if metric:
        p.add(metric, wall)
    b.spans.add(name, t0, t2, parent, p.pass_id)
    b.spans.add(f"{name}.build", t0, t1, name, p.pass_id)
    b.spans.add(f"{name}.fetch", t1, t2, name, p.pass_id)
    if b.trace:
        tt = time.perf_counter()
        p.add("operators.build_s", t1 - t0)
        p.add("fetch.rows", table.num_rows)
        for k, v in group_metrics(b.spark, group, build_end_ms).items():
            p.add(k, v)
        p.last_plan = plan_metrics(df)
        for k, v in p.last_plan.items():
            p.add(k, v)
        p.trace_s += time.perf_counter() - tt
    return table


def _caching_state(b, sf_dir: str, p: Pass, at_start: bool) -> None:
    """Memo handles already keyed to this pass's input dir (must be 0:
    every pass reads a fresh dir), and what Spark holds cached."""
    if not b.trace:
        return
    if at_start:
        # Every memo table in the caching module is a dict keyed by tuples
        # that include the input dir.
        memos = [v for v in vars(b.modules["caching"]).values() if isinstance(v, dict)]
        carry = sum(isinstance(k, tuple) and sf_dir in k for memo in memos for k in memo)
        p.add("caching.carryover_at_start", carry)
        return
    jsc = b.spark.sparkContext._jsc
    p.add("caching.persisted_rdds", jsc.getPersistentRDDs().size())
    cached = 0
    for info in jsc.sc().getRDDStorageInfo():
        cached += info.memSize() + info.diskSize()
    p.add("caching.cached_bytes", cached)


def run_batch_pass(b, workload: str, p: Pass) -> None:
    registry = b.modules["registry"]
    sf_dir = b.fresh_input_dir(p.data)
    _caching_state(b, sf_dir, p, at_start=True)
    t0 = time.perf_counter()
    tables = {}
    for qualified in BATCH[workload]:
        name = query_name(qualified)
        fn = registry.QUERIES[name]
        tables[name] = _traced_call(
            b, p, name, f"{qualified}_s", lambda fn=fn: fn(b.spark, sf_dir), workload
        )
    p.wall = time.perf_counter() - t0 - p.trace_s
    b.spans.add(f"pass.{workload}", t0, time.perf_counter(), None, p.pass_id)
    _caching_state(b, sf_dir, p, at_start=False)
    for name, table in tables.items():
        if table is not None:
            p.check(name, table_digest(table) == b.digests[p.data][name])


# ------------------------------------------------------------- ingest ----


def _chunks(n_rows: int, seed: int, pass_id: int, n_chunks: int) -> list[np.ndarray]:
    """Seeded chunk membership and arrival order: a permutation of the
    row indices split into ``n_chunks`` contiguous runs."""
    rng = np.random.default_rng([seed, pass_id])
    return np.array_split(rng.permutation(n_rows), n_chunks)


def _land(table: pa.Table, rows: np.ndarray, src_dir: str, k: int) -> int:
    """Write one chunk file with an mtime after every earlier chunk's, so
    the file stream source reads chunks in landing order."""
    path = os.path.join(src_dir, f"part-{k:05d}.parquet")
    pq.write_table(table.take(pa.array(rows)), path)
    t = 1_700_000_000 + k
    os.utime(path, (t, t))
    return os.path.getsize(path)


def run_ingest_pass(b, seed: int, p: Pass) -> None:
    twins = b.modules["streaming.twins"]
    emb_ops = b.modules["operators.embeddings"]
    spark = b.spark
    sf_dir = b.fresh_input_dir(p.data)
    base = b.fresh_dir("ingest")
    docs_src, vec_src = f"{base}/docs_src", f"{base}/vec_src"
    dd_state, nd_state, ivf_state = f"{base}/doc_dedup", f"{base}/neardup", f"{base}/ivf"
    for d in (docs_src, vec_src):
        os.makedirs(d)
    docs, emb = b.ingest_src
    doc_chunks = _chunks(docs.num_rows, seed, p.pass_id, INGEST_CHUNKS)
    emb_chunks = _chunks(emb.num_rows, seed, p.pass_id, INGEST_CHUNKS)
    _caching_state(b, sf_dir, p, at_start=True)

    cents = emb_ops.centroid_rows(spark, sf_dir)
    input_bytes = 0
    index_path = None
    last_probe = None
    state_files = state_bytes = 0
    # Round 0 records into a throwaway Pass; only its checks are kept.
    warm = Pass(p.pass_id, p.data)
    for k in range(INGEST_CHUNKS):
        r = warm if k == 0 else p
        t_land = time.perf_counter()
        if k == 1:
            t_pass = t_land
        input_bytes += _land(docs, doc_chunks[k], docs_src, k)
        input_bytes += _land(emb, emb_chunks[k], vec_src, k)
        folds = (
            ("doc_dedup", lambda: twins.incremental_doc_dedup(spark, docs_src, dd_state)),
            ("neardup", lambda: twins.incremental_neardup(spark, docs_src, nd_state)),
            ("ivf", lambda: twins.incremental_ivf_index(spark, vec_src, ivf_state, cents)),
        )
        for fold, call in folds:
            spark.sparkContext.setJobGroup(f"p{p.pass_id}:{fold}{k}", fold)
            t0 = time.perf_counter()
            try:
                out = call()
            except Exception as exc:  # noqa: BLE001 - counted, the pass goes on
                r.check(f"fold {fold}", False, f"{type(exc).__name__}: {str(exc)[:300]}")
                continue
            t1 = time.perf_counter()
            if fold == "ivf":
                index_path = out
            r.call_walls.append(t1 - t0)
            r.note(f"streaming.twins.{fold}_batch_s", t1 - t0)
            b.spans.add(f"streaming.twins.{fold}", t0, t1, "ingest", r.pass_id)
        r.note("ingest.freshness_p50_s", time.perf_counter() - t_land)
        if b.trace:
            tt = time.perf_counter()
            files = size = 0
            for d in (dd_state, nd_state, ivf_state):
                f, s = dir_stats(d)
                files, size = files + f, size + s
            r.add("streaming.twins.files_written", files - state_files)
            r.add("streaming.twins.bytes_written", size - state_bytes)
            state_files, state_bytes = files, size
            r.trace_s += time.perf_counter() - tt
        if index_path is not None:
            last_probe = _traced_call(
                b, r, f"probe{k}", None,
                lambda: emb_ops.batch_probe_ivf(
                    spark, sf_dir, spark.read.parquet(index_path), INGEST_PROBES
                ),
                "ingest",
            )
            if last_probe is not None:
                r.note("operators.embeddings.probe_s", r.call_walls[-1])
                r.check(f"probe{k}", last_probe.num_rows == INGEST_PROBES * 10,
                        f"{last_probe.num_rows} rows")
                if b.trace:
                    index_files = sum(
                        n.endswith(".parquet")
                        for _r, _d, names in os.walk(index_path) for n in names
                    )
                    read = r.last_plan.get("fetch.files_read", 0.0)
                    r.note("operators.embeddings.files_read", read)
                    r.note("operators.embeddings.pruning_ratio", read / index_files)
        _traced_call(
            b, r, f"read_state{k}", "streaming.twins.read_state_s",
            lambda: twins.read_bucketed_state(spark, dd_state), "ingest",
        )
    p.wall = time.perf_counter() - t_pass - p.trace_s
    b.spans.add("pass.ingest", t_pass, time.perf_counter(), None, p.pass_id)
    _caching_state(b, sf_dir, p, at_start=False)
    p.attempted += warm.attempted
    p.failed += warm.failed
    p.errors += warm.errors

    # End state, graded by the order-invariant oracles (untimed).
    F = b.modules["F"]
    end_bytes = sum(dir_stats(d)[1] for d in (dd_state, nd_state, ivf_state))
    p.add("ingest.docs_per_s", sum(len(c) for c in doc_chunks[1:]) / p.wall)
    p.add("ingest.state_bytes_per_input_byte", end_bytes / input_bytes)
    try:
        ends = {
            "q_stream_dedup_docs_exec": twins.read_bucketed_state(spark, dd_state).select(
                "content_hash", F.col("doc_id").alias("keeper_doc_id"), "lang", "source"
            ),
            "q_stream_neardup_docs_exec": twins.read_bucketed_state(spark, f"{nd_state}/docs")
            .where(~F.col("dropped"))
            .select("doc_id", "lang", "source"),
            "q_stream_ann_index_exec": emb_ops.probe_ivf(
                spark, sf_dir, spark.read.parquet(index_path)
            ),
        }
        for name, df in ends.items():
            p.check(name, table_digest(df.toArrow()) == b.digests[p.data][name])
    except Exception as exc:  # noqa: BLE001
        p.check("ingest end state", False, f"{type(exc).__name__}: {str(exc)[:300]}")
    if last_probe is not None:
        p.check("q_knn_batch_ivf", table_digest(last_probe) == b.digests[p.data]["q_knn_batch_ivf"])

"""Per-layer observation for the traced run: spans, Spark's status store,
final-plan SQL metrics, process-tree RSS and on-disk state sizes.

Nothing here changes what the engine executes.  The status store and the
plans are read after each call has returned; the RSS sampler is a thread
that only reads ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Spans:
    """In-memory spans: name, start, end, parent, pass id (seconds since
    the run started).  Written out once, when the run ends."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: str | None, pass_id: int | None) -> None:
        self.rows.append(
            {
                "name": name,
                "start": round(start - self.t0, 6),
                "end": round(end - self.t0, 6),
                "parent": parent,
                "pass": pass_id,
            }
        )


# --------------------------------------------------------------- memory ----


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from the parent ids in ``/proc``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def descendants() -> list[int]:
    return [p for p in _tree_pids(os.getpid()) if p != os.getpid()]


class RssSampler(threading.Thread):
    """Peak resident bytes of this process and all its descendants (the
    driver Python, the JVM and the Python workers), sampled every
    ``period`` seconds.  A process counts once it has lived through two
    samples: a helper the JVM forks and execs within milliseconds would
    otherwise count the JVM's copy-on-write pages a second time."""

    def __init__(self, period: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        root, seen = os.getpid(), set()
        while not self._halt.is_set():
            pids = _tree_pids(root)
            total = sum(_rss_bytes(p) for p in pids if p == root or p in seen)
            self.peak = max(self.peak, total)
            seen = set(pids)
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join()


# ---------------------------------------------------------- Spark jobs ----

SPARK_KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.run_ms",
    "spark.cpu_ms",
    "spark.gc_ms",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.wait_ms",
)


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def group_metrics(spark, group: str, build_end_ms: float) -> dict[str, float]:
    """Executor work of every job tagged ``group``, summed over the
    completed stages: the ``spark.*`` keys plus ``operators.eager_jobs``
    (jobs submitted before the callable returned, i.e. run while the
    query was being built rather than by its action)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    slots = sc.defaultParallelism
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    out["operators.eager_jobs"] = 0.0
    stage_ids: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["spark.jobs"] += 1
        job = store.job(jid)
        sub = _opt_ms(job.submissionTime())
        if sub is not None and sub <= build_end_ms:
            out["operators.eager_jobs"] += 1
        it = job.stageIds().iterator()
        while it.hasNext():
            stage_ids.add(int(it.next()))
    empty_list = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, empty_list, False, no_quantiles)
        it = attempts.iterator()
        while it.hasNext():
            st = it.next()
            if st.status().toString() != "COMPLETE":
                continue
            run_ms = st.executorRunTime()
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.run_ms"] += run_ms
            out["spark.cpu_ms"] += st.executorCpuTime() / 1e6
            out["spark.gc_ms"] += st.jvmGcTime()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if a is not None and b is not None:
                out["spark.wait_ms"] += max(0.0, (b - a) * slots - run_ms)
    return out


# ---------------------------------------------------------- final plan ----


def _children(node) -> list:
    """Children of a physical plan node, descending into AQE's final plan
    and its query stages, and into subqueries."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    out = [node.plan()] if cls.endswith("QueryStageExec") else []
    for seq in (node.children(), node.subqueries()):
        it = seq.iterator()
        while it.hasNext():
            out.append(it.next())
    return out


def _plan_nodes(plan) -> list:
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append(node)
        todo.extend(_children(node))
    return out


def _metric(node, name: str) -> int:
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_metrics(df) -> dict[str, float]:
    """Size and SQL metrics of ``df``'s executed (final AQE) plan:
    ``plan.chars``, ``plan.exchanges``, ``arrow.python_ms``,
    ``arrow.boot_ms`` and ``fetch.files_read``."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    out = {
        "plan.chars": float(len(plan.toString())),
        "plan.exchanges": 0.0,
        "arrow.python_ms": 0.0,
        "arrow.boot_ms": 0.0,
        "fetch.files_read": 0.0,
    }
    for node in _plan_nodes(plan):
        cls = node.getClass().getSimpleName()
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            out["plan.exchanges"] += 1
        out["arrow.python_ms"] += _metric(node, "pythonTotalTime")
        out["arrow.boot_ms"] += _metric(node, "pythonBootTime")
        if cls == "FileSourceScanExec":
            out["fetch.files_read"] += _metric(node, "numFiles")
    return out


# ------------------------------------------------------------- on disk ----


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return files, size

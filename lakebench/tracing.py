"""Traced runs: spans around the package's public layer functions,
Spark jobs attributed by job group and op window, Catalyst phase times,
and the per-layer metrics computed from them.

Nothing in the package changes.  :class:`Tracer` replaces module and
class attributes with thin wrappers (``workloads.targets()``) that
record only during a traced op, and restores them at the end.
Every span is ``(name, start, end, parent, op_id)`` kept in memory and
written to the run record at the end.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from statistics import median


class Tracer:
    """Spans of the wrapped layer calls, with a Spark job group per span
    (``lb:<span index>``) so jobs can be attributed to the span that
    submitted them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.active = False
        #: time spent in the wrappers' own bookkeeping
        self.wrapper_s = 0.0
        self._main_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._orig: list[tuple[object, str, object]] = []

    # ------------------------------------------------------- wrapping
    def install(self, targets) -> None:
        """``targets``: iterable of ``(owner, attr, span_name, after)``
        where ``after(result, args, kwargs) -> dict`` (or None) adds
        attributes to the span from the call's result."""
        for owner, attr, name, after in targets:
            orig = getattr(owner, attr)
            self._orig.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, after))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._orig):
            setattr(owner, attr, orig)
        self._orig.clear()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, fn, name, after):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            return tracer._call(name, fn, after, args, kwargs)

        return wrapper

    def _open(self, name: str, parent: int | None) -> int:
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                {"name": name, "start": None, "end": None, "parent": parent,
                 "op": self.op_id}
            )
        self.sc.setJobGroup(f"lb:{idx}", name)
        return idx

    def _call(self, name, fn, after, args, kwargs):
        c0 = time.perf_counter()
        stack = self._stack()
        # a span opened on a worker thread hangs off the span the main
        # thread is in (the call that started the worker)
        parent = (stack or self._main_stack or [None])[-1]
        idx = self._open(name, parent)
        stack.append(idx)
        span = self.spans[idx]
        self._add_wrapper_time(time.perf_counter() - c0)
        span["start"] = time.time()
        try:
            result = fn(*args, **kwargs)
        finally:
            span["end"] = time.time()
            c1 = time.perf_counter()
            stack.pop()
            back = stack[-1] if stack else None
            if back is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(f"lb:{back}", self.spans[back]["name"])
            self._add_wrapper_time(time.perf_counter() - c1)
        if after is not None:
            extra = after(result, args, kwargs)
            if extra:
                span.update(extra)
        return result

    def _add_wrapper_time(self, dt: float) -> None:
        with self._lock:  # wrappers also run on the package's worker threads
            self.wrapper_s += dt

    # ----------------------------------------------------- op bracket
    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        self.active = True
        root = self._open("op", None)
        self._main_stack.append(root)
        self.spans[root]["start"] = time.time()

    def end_op(self) -> None:
        self.spans[self._main_stack.pop()]["end"] = time.time()
        self.sc._jsc.clearJobGroup()
        self.active = False


class PhaseListener:
    """Catalyst phase times (analysis / optimization / planning) of
    every query execution, read from ``QueryExecution.tracker()`` by a
    py4j-implemented ``QueryExecutionListener``, and the execution time
    Spark reports for each (``execute``)."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.totals = defaultdict(float)
        self.enabled = False
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        if not self.enabled:
            return
        phases = qe.tracker().phases()
        for p in self.PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.totals[p] += opt.get().durationMs() / 1000.0
        self.totals["execute"] += duration_ns / 1e9

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    def drain(self) -> None:
        """Wait until every posted listener event was delivered."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def close(self) -> None:
        self.drain()
        self.spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (all collectors)."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# ------------------------------------------------------- event log


def read_event_log(event_dir: str) -> dict:
    """Jobs, stages and task metrics from a finished Spark event log."""
    files = sorted(glob.glob(os.path.join(event_dir, "*")))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, got {files}")
    jobs: dict[int, dict] = {}
    stage_done: set[int] = set()
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": ev["Stage IDs"],
                }
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stage_done.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks[ev["Stage ID"]].append(
                    {
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    }
                )
    return {"jobs": jobs, "stage_done": stage_done, "stage_job": stage_job,
            "tasks": tasks}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


#: per-layer span names (wrapper names given in workloads.TARGETS)
CATALOG_SPANS = ("catalog.last_ext_time", "catalog.record_run",
                 "catalog.set_stage_status", "catalog.insert")


def layer_metrics(
    spans: list[dict],
    ops: list[dict],
    log: dict,
    phases: dict[str, float],
) -> dict[str, float]:
    """Per-layer metrics over the traced ops.  ``ops`` rows carry
    ``id, start, end, gc_s, cached_mb`` and optional
    ``rewrite_ratio``."""
    n = len(ops)
    if n == 0:
        raise ValueError("no traced ops")
    jobs = log["jobs"]

    def job_op(j: dict) -> int | None:
        for o in ops:
            if o["start"] <= j["start"] <= o["end"]:
                return o["id"]
        return None

    op_jobs: dict[int, list[int]] = defaultdict(list)
    for jid, j in jobs.items():
        oid = job_op(j)
        if oid is not None:
            op_jobs[oid].append(jid)
    n_jobs = n_stages = n_tasks = 0
    busy = shuffle = spill = 0.0
    for o in ops:
        jids = op_jobs.get(o["id"], [])
        n_jobs += len(jids)
        ivs = []
        for jid in jids:
            j = jobs[jid]
            ivs.append((j["start"], j["end"] if j["end"] is not None else o["end"]))
            for s in j["stages"]:
                if s in log["stage_done"] and log["stage_job"].get(s) == jid:
                    n_stages += 1
                    ts = log["tasks"].get(s, [])
                    n_tasks += len(ts)
                    shuffle += sum(t["shuffle_write"] for t in ts)
                    spill += sum(t["spill"] for t in ts)
        busy += _union_len(ivs)
    wall = sum(o["end"] - o["start"] for o in ops)

    by_idx = dict(enumerate(spans))
    group_span = {f"lb:{i}": s for i, s in by_idx.items()}

    def dur(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def top_catalog(i: int) -> bool:
        p = by_idx[i]["parent"]
        return p is None or by_idx[p]["name"] not in CATALOG_SPANS

    cat_top = [i for i, s in by_idx.items() if s["name"] in CATALOG_SPANS and top_catalog(i)]
    cat_jobs = sum(
        1 for j in jobs.values()
        if j["group"] in group_span and group_span[j["group"]]["name"] in CATALOG_SPANS
    )
    # curation self time: the batch span minus the union of its children
    cur_self = 0.0
    for i, s in by_idx.items():
        if s["name"] == "curation.run_curation_incremental":
            kids = [(c["start"], c["end"]) for c in spans if c["parent"] == i]
            cur_self += (s["end"] - s["start"]) - _union_len(kids)
    ver = [s for s in spans if s["name"] == "versioned.write_version"]
    ratios = [o["rewrite_ratio"] for o in ops if o.get("rewrite_ratio")]
    return {
        "spark.jobs_per_op": n_jobs / n,
        "spark.stages_per_op": n_stages / n,
        "spark.tasks_per_op": n_tasks / n,
        "spark.job_busy_s_per_op": busy / n,
        "spark.driver_gap_s_per_op": (wall - busy) / n,
        "spark.shuffle_write_mb_per_op": shuffle / 1e6 / n,
        "spark.spill_mb_per_op": spill / 1e6 / n,
        "spark.gc_s_per_op": sum(o["gc_s"] for o in ops) / n,
        "spark.cached_mb_after_op": median([o["cached_mb"] for o in ops]),
        "planner.probe_max_s": dur("planner.probe_max") / n,
        "planner.run_extraction_s": dur("planner.run_extraction") / n,
        "catalog.calls_per_op": len(cat_top) / n,
        "catalog.jobs_per_op": cat_jobs / n,
        "catalog.s_per_op": sum(by_idx[i]["end"] - by_idx[i]["start"] for i in cat_top) / n,
        "pipeline.quality_check_s": dur("pipeline.quality_check") / n,
        "pipeline.publish_s": dur("pipeline.publish") / n,
        "upsert.upsert_batch_s": dur("upsert.upsert_batch") / n,
        "upsert.rewrite_bytes_per_delta_byte": median(ratios) if ratios else 0.0,
        "tables.load_s": dur("tables.load") / n,
        "plans.analysis_s": phases.get("analysis", 0.0) / n,
        "plans.optimization_s": phases.get("optimization", 0.0) / n,
        "plans.planning_s": phases.get("planning", 0.0) / n,
        "plans.execute_s": phases.get("execute", 0.0) / n,
        "versioned.write_version_s": dur("versioned.write_version") / n,
        "versioned.files_per_op": sum(s.get("files", 0) for s in ver) / n,
        "curation.batch_self_s": cur_self / n,
    }

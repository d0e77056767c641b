"""Span recording for the traced run.

Every span is measured from outside the engine: around calls into its
public entry points, around pyspark `DataFrame` methods the engine calls,
and from what Spark reports (the status store for jobs and stages, a
`StreamingQueryListener` for streaming drains).  Spans stay in memory and
are written once, into the run artifact.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections.abc import Callable
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans with start, end and parent, opened and closed in call order on
    the benchmark's one thread (a closed loop runs one query at a time)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.enabled = True

    def open(self, kind: str, name: str, **attrs) -> dict:
        span = {"id": len(self.spans), "parent": self._stack[-1]["id"] if self._stack else None,
                "kind": kind, "name": name, "start": time.time(), "end": None,
                "attrs": dict(attrs)}
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: dict, **attrs) -> dict:
        span["end"] = time.time()
        span["attrs"].update(attrs)
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span['name']} closed out of order")
        return span

    def add(self, kind: str, name: str, parent: int, start: float, end: float, **attrs) -> dict:
        """Record a finished span that happened elsewhere (a job, a stage,
        a drain), under `parent`."""
        span = {"id": len(self.spans), "parent": parent, "kind": kind, "name": name,
                "start": start, "end": end, "attrs": dict(attrs)}
        self.spans.append(span)
        return span

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None


# --- status store ----------------------------------------------------------

STAGE_FIELDS = {
    # name in the artifact: (StageData method, scale to seconds / MiB)
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 2**-20),
    "shuffle_write_mb": ("shuffleWriteBytes", 2**-20),
    "fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "memory_spill_mb": ("memoryBytesSpilled", 2**-20),
    "disk_spill_mb": ("diskBytesSpilled", 2**-20),
    "input_mb": ("inputBytes", 2**-20),
}


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt_ms(jopt) -> float | None:
    return jopt.get().getTime() / 1000.0 if jopt.isDefined() else None


#: job and stage states the status store keeps once they have ended
JOB_DONE = {"SUCCEEDED", "FAILED"}
STAGE_DONE = {"COMPLETE", "FAILED", "SKIPPED"}


class StatusStore:
    """Jobs and their stages from Spark's status store.

    Job ids are handed out at submission, so the ids taken between two
    marks are exactly the jobs submitted in that window, whichever thread
    submitted them (streaming runs its batches on its own thread).

    The store is filled by a listener on Spark's asynchronous listener bus:
    when an action returns, its job-end, stage-completed and task-end events
    have been posted but not necessarily processed.  `jobs` therefore drains
    the bus first and then waits, up to a timeout, until every job of the
    window has ended and every stage of it is complete; whatever is still
    unfinished after that is flagged, not silently summed."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._store = self._sc.statusStore()

    def mark(self) -> int:
        """The id the next submitted job will get."""
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self, timeout_s: float) -> bool:
        """Wait until the listener bus has delivered every event posted so
        far; False if it did not empty within `timeout_s`."""
        try:
            self._sc.listenerBus().waitUntilEmpty(int(timeout_s * 1000))
        except Exception:  # noqa: BLE001 - py4j wraps the JVM's TimeoutException
            return False
        return True

    def jobs(self, lo: int, hi: int, timeout_s: float = 10.0) -> list[dict]:
        """Jobs [lo, hi) with their non-skipped stages.  A job or stage
        that had not ended by the deadline carries `"unfinished": True`."""
        deadline = time.monotonic() + timeout_s
        while True:
            self.drain(max(deadline - time.monotonic(), 0.1))
            out = self._read(lo, hi)
            if not any(_unfinished(j) for j in out) or time.monotonic() >= deadline:
                return out
            time.sleep(0.05)

    def _read(self, lo: int, hi: int) -> list[dict]:
        out = []
        for job_id in range(lo, hi):
            try:
                jd = self._store.job(job_id)
            except Exception:  # noqa: BLE001 - evicted past spark.ui.retainedJobs
                out.append({"id": job_id, "missing": True, "unfinished": True, "stages": []})
                continue
            stages = []
            for sid in _seq(jd.stageIds()):
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted past retainedStages
                    continue
                status = sd.status().toString()
                if status == "SKIPPED":
                    continue
                st = {"id": sid, "status": status, "unfinished": status not in STAGE_DONE,
                      "tasks": sd.numTasks(),
                      "start": _opt_ms(sd.submissionTime()),
                      "end": _opt_ms(sd.completionTime())}
                for key, (meth, scale) in STAGE_FIELDS.items():
                    st[key] = getattr(sd, meth)() * scale
                stages.append(st)
            status = jd.status().toString()
            out.append({"id": job_id, "missing": False, "status": status,
                        "unfinished": status not in JOB_DONE,
                        "start": _opt_ms(jd.submissionTime()),
                        "end": _opt_ms(jd.completionTime()), "stages": stages})
        return out


def _unfinished(job: dict) -> bool:
    return job["missing"] or job["unfinished"] or any(st["unfinished"] for st in job["stages"])


# --- streaming ----------------------------------------------------------------

def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamRecorder(StreamingQueryListener):
    """Keeps every streaming progress record with its trigger start time.
    Events arrive on the listener bus asynchronously; `settle` waits until
    every started query has reported its termination."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self._started: set[str] = set()
        self._ended: set[str] = set()

    def onQueryStarted(self, event) -> None:  # noqa: N802 - pyspark API
        with self._lock:
            self._started.add(str(event.runId))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        p["_start"] = _iso_epoch(p["timestamp"])
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self._ended.add(str(event.runId))

    def settle(self, timeout_s: float = 10.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self._started <= self._ended:
                    return
            time.sleep(0.05)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out


def drain_summary(progress: list[dict]) -> dict[str, dict]:
    """Per streaming run (runId): batches, input rows, durations and the
    state the last batch left behind."""
    runs: dict[str, dict] = {}
    for p in sorted(progress, key=lambda p: (p["runId"], p["batchId"], p["_start"])):
        d = runs.setdefault(p["runId"], {
            "name": p.get("name"), "start": p["_start"], "end": p["_start"], "batches": 0,
            "input_rows": 0, "trigger_s": 0.0, "add_batch_s": 0.0, "wal_commit_s": 0.0,
            "state_commit_s": 0.0, "state_rows": 0, "state_mem_mb": 0.0, "state_shards": 0})
        dur = p.get("durationMs", {})
        d["batches"] += 1
        d["input_rows"] += int(p.get("numInputRows", 0))
        d["trigger_s"] += dur.get("triggerExecution", 0) / 1000
        d["add_batch_s"] += dur.get("addBatch", 0) / 1000
        d["wal_commit_s"] += dur.get("walCommit", 0) / 1000
        d["end"] = max(d["end"], p["_start"] + dur.get("triggerExecution", 0) / 1000)
        ops = p.get("stateOperators", [])
        d["state_commit_s"] += sum(op.get("commitTimeMs", 0) for op in ops) / 1000
        if ops:
            d["state_rows"] = sum(int(op.get("numRowsTotal", 0)) for op in ops)
            d["state_mem_mb"] = sum(op.get("memoryUsedBytes", 0) for op in ops) / 2**20
            d["state_shards"] = sum(int(op.get("numShufflePartitions", 0)) for op in ops)
    return runs


# --- wrapped functions --------------------------------------------------------

#: engine functions timed as `call` spans: (module, attribute, layer)
WRAPPED = (
    ("etl_scripts_spark.operators.dedup", "connected_components", "dedup.cc"),
    ("etl_scripts_spark.operators.dedup", "connected_components_star", "dedup.cc"),
    ("etl_scripts_spark.operators.dedup", "incremental_components", "dedup.cc"),
    ("etl_scripts_spark.operators.graph", "pagerank", "graph"),
    ("etl_scripts_spark.operators.graph", "k_core", "graph"),
    ("etl_scripts_spark.ckpt", "free_local_checkpoint", "ckpt.free"),
    ("etl_scripts_spark.ckpt", "free_session_litter", "ckpt.free"),
)


def _wrapper(fn: Callable, name: str, layer: str, tracer: Tracer) -> Callable:
    @functools.wraps(fn)
    def timed(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        span = tracer.open("call", name, layer=layer)
        try:
            result = fn(*args, **kwargs)
        finally:
            tracer.close(span)
        if isinstance(result, int) and not isinstance(result, bool):
            span["attrs"]["returned"] = result
        return result
    return timed


def install_wrappers(tracer: Tracer) -> None:
    """Time every function in `WRAPPED` and `DataFrame.localCheckpoint`.

    A function is replaced in every engine module that holds it, so calls
    through `from .dedup import connected_components` are timed too.
    A call made from inside a wrapped call of the same layer gets its own
    span; layer totals count only the outermost."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    for mod_name, attr, layer in WRAPPED:
        original = getattr(importlib.import_module(mod_name), attr)
        wrapped = _wrapper(original, attr, layer, tracer)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname.startswith("etl_scripts_spark") or mname == "__spark_entry__"):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, key, wrapped)
    ClassicDataFrame.localCheckpoint = _wrapper(
        ClassicDataFrame.localCheckpoint, "localCheckpoint", "ckpt.local_checkpoint", tracer)

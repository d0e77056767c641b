"""Benchmark of the spark-graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 8 --trace 0

Run from the repository root.  The run generates its inputs from the seed,
starts one Spark session the way the engine does (`get_spark`), runs one
cold pass over the workload's queries and checks every result against its
DuckDB oracle, then `WARM_PASSES` untimed passes, then timed passes while
`--seconds` have not passed (at least the workload's `timed_passes`).
Load model: one process, one client, a closed loop; each query starts
after the previous one has finished.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` -- the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`.  The full record of the run (passes, per-query
times, host noise and, when traced, the span tree) goes to
`.perfbench/artifacts/<workload>-seed<seed>-trace<t>.json`.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import procfs
import stats
from workloads import LAYER_MAP, SF, WARM_PASSES, WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

E2E_UNITS = {
    "pass_s": "s", "query_p50_s": "s", "first_pass_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MiB", "setup_s": "s", "fail_rate": "ratio",
    "query_tail_s": "s",
}
#: end-to-end metrics on the result line.  Three stay in the artifact only:
#: fail_rate is 0 on a healthy run (the line carries `failed`/`attempted`);
#: query_tail_s needs more samples than a run has: with 12 to 20 per-query
#: times, the highest percentile that leaves 10 above it (see `stats.tail`)
#: is at or below the median, no tail; peak_rss_mb follows when the JVM
#: collector grows its heap and spreads about 30% between identical runs.
E2E_REPORTED = [m for m in E2E_UNITS if m not in ("fail_rate", "query_tail_s", "peak_rss_mb")]

LAYER_UNITS = {
    "session.start_s": "s",
    "construct.s": "s", "construct.jobs": "count", "construct.stages": "count",
    "plan.s": "s", "plan.exchanges": "count", "plan.python_nodes": "count",
    "execute.s": "s", "execute.jobs": "count", "execute.stages": "count",
    "stage.tasks": "count", "stage.run_s": "s", "stage.cpu_s": "s", "stage.cpu_ratio": "ratio",
    "stage.gc_s": "s", "stage.shuffle_read_mb": "MiB", "stage.shuffle_write_mb": "MiB",
    "stage.fetch_wait_s": "s", "stage.spill_mb": "MiB", "stage.input_mb": "MiB",
    "ckpt.local_checkpoints": "count", "ckpt.local_checkpoint_s": "s",
    "ckpt.freed_rdds": "count", "ckpt.free_s": "s",
    "dedup.cc_calls": "count", "dedup.cc_s": "s", "graph.calls": "count", "graph.s": "s",
    "stream.drains": "count", "stream.batches": "count", "stream.input_rows": "count",
    "stream.trigger_s": "s", "stream.add_batch_s": "s", "stream.wal_commit_s": "s",
    "stream.state_rows": "count", "stream.state_mem_mb": "MiB",
    "stream.state_commit_s": "s", "stream.state_shards": "count",
    "python.worker_cpu_s": "s", "python.workers": "count", "python.driver_cpu_s": "s",
    "jvm.cpu_s": "s",
    "sinks.bytes_written_mb": "MiB", "sinks.files_written": "count",
    "trace.pass_s": "s", "trace.coverage_min": "ratio",
}
#: per-layer metrics on the traced result line: every layer above except the
#: times that read zero on some workload (dedup/graph/stream/checkpoint
#: times; task GC and fetch wait at this input size); their counts are on
#: the line and their times are in the artifact
LAYER_REPORTED = [m for m in LAYER_UNITS if m not in {
    "ckpt.local_checkpoint_s", "dedup.cc_s", "graph.s", "stream.trigger_s",
    "stream.add_batch_s", "stream.wal_commit_s", "stream.state_commit_s",
    "stream.state_mem_mb", "stage.fetch_wait_s", "stage.gc_s",
}]

_PY_NODE_MARKERS = ("Python", "InPandas", "InArrow", "ArrowEval")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def plan_counts(plan: str) -> tuple[int, int]:
    """Exchange and Python-evaluation nodes in an executed plan's tree
    string (the final plan when adaptive execution re-planned)."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    exchanges = py_nodes = 0
    for line in plan.splitlines():
        node = line.lstrip(" :+-").lstrip("*(0123456789) ").split(" ", 1)[0]
        if node.endswith("Exchange"):
            exchanges += 1
        if any(m in node for m in _PY_NODE_MARKERS):
            py_nodes += 1
    return exchanges, py_nodes


def scratch_tag(sf_dir: Path) -> str:
    """The engine's `.scratch/<kind>/<tag>` tag for an input directory
    (`__spark_entry__._scratch_dir`)."""
    norm = os.path.normpath(os.path.abspath(sf_dir))
    return f"{os.path.basename(norm)}-{hashlib.sha256(norm.encode()).hexdigest()[:8]}"


def wipe_scratch(sf_dir: Path) -> None:
    root = ROOT / ".scratch"
    if root.is_dir():
        tag = scratch_tag(sf_dir)
        for kind in root.iterdir():
            shutil.rmtree(kind / tag, ignore_errors=True)


def file_state(root: Path) -> dict[str, tuple[int, int]]:
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                continue
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[float, int]:
    """MiB and files that are new or changed between two `file_state`s."""
    new = [k for k, v in after.items() if before.get(k) != v]
    return sum(after[k][0] for k in new) / 2**20, len(new)


class Runner:
    """One benchmark run: session, passes and the record they leave."""

    def __init__(self, args: argparse.Namespace, inputs: Path) -> None:
        self.args = args
        self.inputs = inputs
        self.queries = WORKLOADS[args.workload]["queries"]
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.tracer = None
        self.store = None
        self.streams = None

    # -- session ------------------------------------------------------------
    def start_session(self) -> None:
        import __spark_entry__ as entry
        from etl_scripts_spark import ckpt
        from etl_scripts_spark.session import get_spark
        from tests import parity

        self.setup_marks = {"engine_imported": time.time()}
        self.entry_queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.parity = parity
        self.ckpt = ckpt
        t0 = time.time()
        self.spark = get_spark("perfbench")
        self.session_start_s = time.time() - t0
        self.setup_marks["session_started"] = time.time()
        self.gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
        # one-time infra start-up, so no query pays it: JVM code paths,
        # parquet footer reads and the Python worker pool
        spark = self.spark
        spark.range(1000).selectExpr("sum(id)").collect()
        spark.read.parquet(str(self.inputs / "region.parquet")).count()

        def _noop(it):
            yield from it

        spark.range(64).repartition(int(os.environ["SPARK_GRAFT_CPUS"])).mapInPandas(_noop, "id long").count()
        self.setup_marks["warmed_up"] = time.time()
        if self.args.trace:
            import tracing

            self.tracing = tracing
            self.tracer = tracing.Tracer()
            self.store = tracing.StatusStore(spark)
            self.streams = tracing.StreamRecorder()
            spark.streams.addListener(self.streams)
            tracing.install_wrappers(self.tracer)

    def stop_session(self) -> None:
        pids = [p for ps in procfs.tree().values() for p in ps if p != os.getpid()]
        self.spark.stop()
        gateway = self.spark.sparkContext._gateway  # noqa: SLF001
        if gateway is not None:
            gateway.shutdown()
        proc = self.gateway_proc
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 30
        alive = pids
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if procfs.alive(p)]
            if alive:
                time.sleep(0.1)
        for pid in alive:
            try:
                os.kill(pid, 9)
            except OSError:
                pass

    # -- one query ----------------------------------------------------------
    def run_query(self, name: str) -> int:
        """Build one query and count it: `df.groupBy().count()` is planned
        first, so the action runs the executed plan without planning again
        (the traced run times the two apart)."""
        df = self.entry_queries[name](self.spark, str(self.inputs))
        agg = df.groupBy().count()
        agg._jdf.queryExecution().executedPlan()  # noqa: SLF001
        return agg.collect()[0][0]

    def run_query_checked(self, name: str) -> tuple[float, list[str]]:
        """Build and collect one query as a user of the engine would, then,
        outside the timed part, compare the result with its DuckDB oracle."""
        t0 = time.perf_counter()
        pdf = self.entry_queries[name](self.spark, str(self.inputs)).toPandas()
        wall = time.perf_counter() - t0
        oracle = self.duck.execute(self.oracles[name]).fetchdf()
        self.expected_rows[name] = len(oracle)
        return wall, self.parity.compare(pdf, oracle)

    def run_query_traced(self, name: str) -> tuple[int, float]:
        tr, store = self.tracer, self.store
        scratch = ROOT / ".scratch"
        files0 = file_state(scratch)
        cpu0 = procfs.cpu_by_role()
        qspan = tr.open("query", name)
        marks = [store.mark()]
        t0 = time.perf_counter()
        sp = tr.open("construct", name)
        try:
            df = self.entry_queries[name](self.spark, str(self.inputs))
        finally:
            tr.close(sp)
            marks.append(store.mark())
        sp = tr.open("plan", name)
        try:
            agg = df.groupBy().count()
            qe = agg._jdf.queryExecution()  # noqa: SLF001
            qe.executedPlan()
        finally:
            tr.close(sp)
            marks.append(store.mark())
        sp = tr.open("execute", name)
        try:
            rows = agg.collect()[0][0]
        finally:
            tr.close(sp)
            marks.append(store.mark())
        wall = time.perf_counter() - t0
        tr.close(qspan)
        cpu1 = procfs.cpu_by_role()
        mb, nfiles = written(files0, file_state(scratch))
        exchanges, py_nodes = plan_counts(qe.executedPlan().toString())
        phase_spans = [s for s in tr.spans[qspan["id"] + 1:]
                       if s["parent"] == qspan["id"]]
        for phase, lo, hi in zip(phase_spans, marks, marks[1:]):
            phase["attrs"].update(self._jobs_under(phase, lo, hi))
        plan_span = phase_spans[1]
        plan_span["attrs"].update(exchanges=exchanges, python_nodes=py_nodes)
        qspan["attrs"].update(
            rows=rows, sinks_mb=mb, sinks_files=nfiles,
            cpu={k: cpu1[k] - cpu0[k] for k in ("driver", "jvm", "workers")},
            workers=max(cpu0["n_workers"], cpu1["n_workers"]))
        return rows, wall

    def _jobs_under(self, phase: dict, lo: int, hi: int) -> dict:
        """Add job and stage spans for job ids [lo, hi) under `phase` and
        return the phase's stage totals."""
        totals = {"jobs": 0, "stages": 0, "tasks": 0,
                  "missing_jobs": 0, "unfinished_jobs": 0, "unfinished_stages": 0}
        for key in self.tracing.STAGE_FIELDS:
            totals[key] = 0.0
        for job in self.store.jobs(lo, hi):
            totals["jobs"] += 1
            if job["missing"]:
                totals["missing_jobs"] += 1
                continue
            totals["unfinished_jobs"] += job["unfinished"]
            start = job["start"] or phase["start"]
            jspan = self.tracer.add("job", f"job {job['id']}", phase["id"], start,
                                    job["end"] or phase["end"], status=job["status"],
                                    unfinished=job["unfinished"])
            for st in job["stages"]:
                totals["stages"] += 1
                totals["unfinished_stages"] += st["unfinished"]
                totals["tasks"] += st["tasks"]
                for key in self.tracing.STAGE_FIELDS:
                    totals[key] += st[key]
                attrs = {k: v for k, v in st.items() if k not in ("start", "end")}
                self.tracer.add("stage", f"stage {st['id']}", jspan["id"],
                                st["start"] or start, st["end"] or jspan["end"], **attrs)
        return totals

    # -- passes -------------------------------------------------------------
    def run_pass(self, pass_no: int, kind: str) -> dict:
        """One pass over the workload.

        `cold` (pass 0): each query is collected and checked against its
        oracle; the check is left out of the pass time.  `warm` and `timed`
        (passes 1..): each query is built and counted, and its row count must
        equal the oracle's.  Only timed passes are timed and traced."""
        timed = kind == "timed"
        order = stats.pass_order(self.queries, self.args.seed, pass_no)
        host0, cpu0 = procfs.host_counters(), procfs.cpu_by_role()
        tracer = self.tracer if timed else None
        pass_span = tracer.open("pass", f"pass {pass_no}") if tracer else None
        t0 = time.perf_counter()
        check_s = 0.0
        for name in order:
            # free the previous query's checkpoint litter first, as the
            # engine's own bench does: nothing cached carries over
            gc.collect()
            self.ckpt.free_session_litter(self.spark)
            rec = {"pass": pass_no, "kind": kind, "timed": timed, "query": name}
            try:
                if kind == "cold":
                    c0 = time.perf_counter()
                    rec["wall_s"], rec["problems"] = self.run_query_checked(name)
                    check_s += time.perf_counter() - c0 - rec["wall_s"]
                    continue
                if tracer:
                    rows, rec["wall_s"] = self.run_query_traced(name)
                else:
                    q0 = time.perf_counter()
                    rows = self.run_query(name)
                    rec["wall_s"] = time.perf_counter() - q0
                if rows != self.expected_rows.get(name):
                    rec["problems"] = [f"rows {rows} != oracle {self.expected_rows.get(name)}"]
            except Exception as exc:  # noqa: BLE001 - one failed query must not end the run
                rec["problems"] = [f"{type(exc).__name__}: {str(exc)[:300]}"]
                while tracer and tracer.current() is not pass_span:
                    tracer.close(tracer.current())
            finally:
                rec["ok"] = not rec.get("problems")
                self.records.append(rec)
        wall = time.perf_counter() - t0 - check_s
        if pass_span is not None:
            tracer.close(pass_span, timed=timed)
        cpu1 = procfs.cpu_by_role()
        p = {"pass": pass_no, "kind": kind, "timed": timed, "wall_s": wall, "check_s": check_s,
             "order": order, "host": procfs.host_delta(host0, procfs.host_counters()),
             "cpu": {k: cpu1[k] - cpu0[k] for k in ("driver", "jvm", "workers")},
             "workers": max(cpu0["n_workers"], cpu1["n_workers"])}
        self.passes.append(p)
        return p

    def run(self, sampler: procfs.RssSampler) -> None:
        self.expected_rows: dict[str, int] = {}
        self.duck = self.parity.duckdb_con(str(self.inputs))
        try:
            if self.tracer:
                self.tracer.enabled = False
            self.run_pass(0, "cold")
        finally:
            self.duck.close()
        for n in range(1, WARM_PASSES + 1):
            self.run_pass(n, "warm")
        if self.tracer:
            self.tracer.enabled = True
            run_span = self.tracer.open("run", self.args.workload)
        deadline = time.perf_counter() + self.args.seconds
        sampler.sampling(True)
        n = WARM_PASSES
        while n - WARM_PASSES < WORKLOADS[self.args.workload]["timed_passes"] \
                or time.perf_counter() < deadline:
            n += 1
            self.run_pass(n, "timed")
        sampler.sampling(False)
        if self.tracer:
            self.tracer.close(run_span)
            self.streams.settle()
            self._attach_drains()

    def _attach_drains(self) -> None:
        """Hang each streaming drain under the construct span it ran in."""
        constructs = [s for s in self.tracer.spans if s["kind"] == "construct"]
        for run_id, d in self.tracing.drain_summary(self.streams.take()).items():
            owner = next((s for s in constructs if s["start"] <= d["start"] <= s["end"]), None)
            if owner is None:
                continue
            attrs = {k: v for k, v in d.items() if k not in ("name", "start", "end")}
            self.tracer.add("drain", d["name"] or run_id, owner["id"],
                            d["start"], min(d["end"], owner["end"]), run_id=run_id, **attrs)


# -- metrics ------------------------------------------------------------------

def e2e_metrics(runner: Runner, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    timed = [p for p in runner.passes if p["timed"]]
    first = next(p for p in runner.passes if p["kind"] == "cold")
    samples = [r["wall_s"] for r in runner.records if r["timed"] and r["ok"]]
    attempted = len(runner.records)
    failed = sum(1 for r in runner.records if not r["ok"])
    values = {
        "pass_s": statistics.median(p["wall_s"] for p in timed),
        "query_p50_s": statistics.median(samples) if samples else None,
        "first_pass_s": first["wall_s"],
        "cpu_s": sum(sum(p["cpu"].values()) for p in timed) / len(timed),
        "peak_rss_mb": peak_rss_mb,
        "setup_s": setup_s,
        "fail_rate": failed / attempted,
    }
    tail_info = {"percentile": None, "n": len(samples)}
    try:
        values["query_tail_s"], tail_info["percentile"], _ = stats.tail(samples)
    except ValueError:
        values["query_tail_s"] = None
    return values, tail_info


def _outermost_calls(spans: list[dict], by_id: dict[int, dict]) -> set[int]:
    """Ids of `call` spans with no ancestor call of the same layer, so a
    layer's time counts nested calls once."""
    out = set()
    for s in spans:
        if s["kind"] != "call":
            continue
        layer = s["attrs"]["layer"]
        p = by_id.get(s["parent"])
        while p is not None and not (p["kind"] == "call" and p["attrs"]["layer"] == layer):
            p = by_id.get(p["parent"])
        if p is None:
            out.add(s["id"])
    return out


def layer_totals(spans: list[dict], group: str) -> dict[int, dict[str, float]]:
    """Per-layer totals of every `group` span ("pass" or "query") of the
    timed passes, keyed by its span id.  `trace.pass_s` is the group span's
    own wall time."""
    by_id = {s["id"]: s for s in spans}

    def group_of(s: dict) -> dict | None:
        while s is not None and s["kind"] != group:
            s = by_id.get(s["parent"])
        return s

    per_group: dict[int, dict[str, float]] = {}
    for gs in spans:
        if gs["kind"] == group and (group != "pass" or gs["attrs"].get("timed")):
            per_group[gs["id"]] = {m: 0.0 for m in LAYER_UNITS}
            per_group[gs["id"]]["trace.pass_s"] = gs["end"] - gs["start"]
            per_group[gs["id"]]["trace.coverage_min"] = 1.0
    outermost = _outermost_calls(spans, by_id)
    for s in spans:
        gs = group_of(s)
        if gs is None or gs["id"] not in per_group:
            continue
        m = per_group[gs["id"]]
        dur = s["end"] - s["start"]
        a = s["attrs"]
        if s["kind"] in ("construct", "plan", "execute"):
            m[f"{s['kind']}.s"] += dur
            if s["kind"] != "plan":
                m[f"{s['kind']}.jobs"] += a.get("jobs", 0)
                m[f"{s['kind']}.stages"] += a.get("stages", 0)
            else:
                m["plan.exchanges"] += a.get("exchanges", 0)
                m["plan.python_nodes"] += a.get("python_nodes", 0)
            m["stage.tasks"] += a.get("tasks", 0)
            for key in ("run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                        "fetch_wait_s", "input_mb"):
                m[f"stage.{key}"] += a.get(key, 0.0)
            m["stage.spill_mb"] += a.get("disk_spill_mb", 0.0)
        elif s["kind"] == "query":
            kids = [c for c in spans if c["parent"] == s["id"] and c["kind"] != "call"]
            covered = sum(c["end"] - c["start"] for c in kids)
            m["trace.coverage_min"] = min(m["trace.coverage_min"], covered / max(dur, 1e-9))
            cpu = a.get("cpu", {})
            m["python.driver_cpu_s"] += cpu.get("driver", 0.0)
            m["jvm.cpu_s"] += cpu.get("jvm", 0.0)
            m["python.worker_cpu_s"] += cpu.get("workers", 0.0)
            m["python.workers"] = max(m["python.workers"], a.get("workers", 0))
            m["sinks.bytes_written_mb"] += a.get("sinks_mb", 0.0)
            m["sinks.files_written"] += a.get("sinks_files", 0)
        elif s["kind"] == "drain":
            m["stream.drains"] += 1
            for key in ("batches", "input_rows", "trigger_s", "add_batch_s", "wal_commit_s",
                        "state_rows", "state_mem_mb", "state_commit_s", "state_shards"):
                m[f"stream.{key}"] += a.get(key, 0)
        elif s["kind"] == "call":
            layer = a.get("layer")
            outer = s["id"] in outermost
            if layer == "dedup.cc":
                m["dedup.cc_calls"] += 1
                m["dedup.cc_s"] += dur if outer else 0.0
            elif layer == "graph":
                m["graph.calls"] += 1
                m["graph.s"] += dur if outer else 0.0
            elif layer == "ckpt.local_checkpoint":
                m["ckpt.local_checkpoints"] += 1
                m["ckpt.local_checkpoint_s"] += dur if outer else 0.0
            elif layer == "ckpt.free":
                m["ckpt.free_s"] += dur if outer else 0.0
                m["ckpt.freed_rdds"] += a.get("returned", 1 if s["name"] == "free_local_checkpoint" else 0)
    for m in per_group.values():
        m["stage.cpu_ratio"] = m["stage.cpu_s"] / m["stage.run_s"] if m["stage.run_s"] else 0.0
    return per_group


def layer_metrics(runner: Runner) -> dict[str, float]:
    """Per-layer totals of each timed pass, then their median over passes."""
    per_pass = layer_totals(runner.tracer.spans, "pass").values()
    out = {k: statistics.median(m[k] for m in per_pass) for k in LAYER_UNITS}
    out["session.start_s"] = runner.session_start_s
    return out


def status_store_check(spans: list[dict]) -> dict[str, int]:
    """Jobs and stages the status store had not finished (or had lost) when
    a phase's stage figures were read; all 0 when every figure is final."""
    phases = [s for s in spans if s["kind"] in ("construct", "plan", "execute")]
    return {k: sum(s["attrs"].get(k, 0) for s in phases)
            for k in ("missing_jobs", "unfinished_jobs", "unfinished_stages")}


def prepare_work_dir(work: Path) -> tuple[int, Path]:
    """Empty the run's work dir and export what the session and its Python
    workers need.  Returns the CPU count and the inputs dir."""
    shutil.rmtree(work, ignore_errors=True)
    inputs, tmp = work / "inputs", work / "tmp"
    for d in (inputs, tmp, work / "local"):
        d.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}",
                    "-XX:-UsePerfData") if p)
    sys.path.insert(0, str(ROOT))
    return cpus, inputs


def engine_present() -> bool:
    if (ROOT / "__spark_entry__.py").is_file() and (ROOT / "tests" / "parity.py").is_file():
        return True
    print(f"perfbench: no engine next to {Path(__file__).parent.name}/ "
          "(expected __spark_entry__.py and tests/parity.py); run from a full checkout",
          file=sys.stderr)
    return False


def main(argv: list[str] | None = None) -> int:
    proc_start = procfs.process_start_epoch()
    args = parse_args(argv)
    if not engine_present():
        return 2
    work = WORK / "work"
    cpus, inputs = prepare_work_dir(work)

    import datagen

    g0 = time.time()
    table_rows = datagen.write_inputs(inputs, args.seed, SF)
    gen_s = time.time() - g0
    wipe_scratch(inputs)

    runner = Runner(args, inputs)
    sampler = procfs.RssSampler()
    try:
        runner.start_session()
        setup_s = time.time() - proc_start - gen_s
        sampler.start()
        runner.run(sampler)
    finally:
        sampler.close()
        if hasattr(runner, "spark"):
            runner.stop_session()
        wipe_scratch(inputs)
        shutil.rmtree(work, ignore_errors=True)

    values, tail_info = e2e_metrics(runner, setup_s, sampler.peak_mb)
    layers = layer_metrics(runner) if args.trace else {}
    failed = sum(1 for r in runner.records if not r["ok"])
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": LAYER_UNITS[k]} for k in LAYER_REPORTED}
    else:
        metrics = {k: {"value": values[k], "unit": E2E_UNITS[k]} for k in E2E_REPORTED}
    spans, store_check = [], {}
    if runner.tracer:
        selfs = stats.self_times(runner.tracer.spans)
        spans = [dict(s, self_s=selfs[s["id"]]) for s in runner.tracer.spans]
        store_check = status_store_check(runner.tracer.spans)
    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": SF,
        "queries": runner.queries, "table_rows": table_rows, "cpus": cpus,
        "passes": runner.passes, "records": runner.records,
        "metrics": metrics,
        "end_to_end": {k: {"value": values[k], "unit": E2E_UNITS[k]} for k in E2E_UNITS},
        "tail": tail_info,
        "layers": {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()},
        "layer_map": LAYER_MAP,
        "status_store": store_check,
        "spans": spans,
        "setup": {"process_start": proc_start, "inputs_written": g0 + gen_s,
                  **runner.setup_marks},
        "host": {"gen_s": gen_s, "session_start_s": runner.session_start_s,
                 "load1_end": procfs.host_counters()["load1"]},
    }
    problems = stats.check_artifact(artifact)
    if problems:
        print(f"perfbench: malformed artifact: {problems[:5]}", file=sys.stderr)
        return 1
    out_dir = WORK / "artifacts"
    out_dir.mkdir(parents=True, exist_ok=True)
    out = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(artifact, indent=1, default=str))

    shown = [(k, layers[k], LAYER_UNITS[k]) for k in LAYER_UNITS] if args.trace else \
        [(k, values[k], E2E_UNITS[k]) for k in E2E_UNITS]
    for k, v, unit in shown:
        print(f"# {k:<26} {v:14.4f} {unit}" if v is not None else f"# {k:<26} {'n/a':>14} {unit}")
    if failed:
        for r in runner.records:
            if not r["ok"]:
                print(f"# FAILED pass {r['pass']} {r['query']}: {r['problems'][0]}")
    if store_check:
        print("# status store read " + " ".join(f"{k}={v}" for k, v in store_check.items()))
    print(f"# artifact {out.relative_to(ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": len(runner.records),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

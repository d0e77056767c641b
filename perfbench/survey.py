"""One traced pass over every query of the traffic classes the workloads
are drawn from, to show how each workload's subset compares with its class.

    python3 perfbench/survey.py --seed 1

Run from the repository root.  One session, the same environment and
inputs as `run.py`; per class, a cold pass checked against the DuckDB
oracles, then one traced pass.  Prints, per query, its traced wall time,
the construct / plan / execute shares of it, Spark jobs, local checkpoints,
connected-components calls, streaming state rows, Python-worker CPU and
files written under `.scratch`; then, per class and per workload subset,
the same figures pooled.  The full record goes to
`.perfbench/artifacts/survey-seed<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time

import run
from workloads import SF, TRAFFIC_CLASSES, WORKLOADS

#: per-query columns: (label, layer metric or derived key, format)
COLUMNS = (
    ("wall_s", "trace.pass_s", "{:7.2f}"),
    ("constr", "construct_share", "{:6.0%}"),
    ("plan", "plan_share", "{:6.0%}"),
    ("exec", "execute_share", "{:6.0%}"),
    ("jobs", "jobs", "{:5.0f}"),
    ("ckpts", "ckpt.local_checkpoints", "{:5.0f}"),
    ("cc", "dedup.cc_calls", "{:4.0f}"),
    ("st_rows", "stream.state_rows", "{:7.0f}"),
    ("pyw_cpu", "python.worker_cpu_s", "{:7.2f}"),
    ("files", "sinks.files_written", "{:5.0f}"),
)


def per_query(spans: list[dict]) -> dict[str, dict[str, float]]:
    by_id = {s["id"]: s for s in spans}
    out = {}
    for qid, m in run.layer_totals(spans, "query").items():
        wall = m["trace.pass_s"]
        m = dict(m)
        for phase in ("construct", "plan", "execute"):
            m[f"{phase}_share"] = m[f"{phase}.s"] / wall
        m["jobs"] = m["construct.jobs"] + m["execute.jobs"]
        out[by_id[qid]["name"]] = m
    return out


def pooled(rows: list[dict[str, float]]) -> dict[str, float]:
    """Sums over queries, shares of the summed wall time, and the median
    per-query wall time."""
    wall = sum(r["trace.pass_s"] for r in rows)
    out = {k: sum(r[k] for r in rows) for _, k, _ in COLUMNS if not k.endswith("_share")}
    for phase in ("construct", "plan", "execute"):
        out[f"{phase}_share"] = sum(r[f"{phase}.s"] for r in rows) / wall
    out["query_p50_s"] = statistics.median(r["trace.pass_s"] for r in rows)
    out["queries"] = len(rows)
    return out


def line(label: str, m: dict[str, float]) -> str:
    return f"{label:<28}" + " ".join(fmt.format(m[k]) for _, k, fmt in COLUMNS)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--classes", nargs="*", default=list(TRAFFIC_CLASSES))
    args = ap.parse_args(argv)
    if not run.engine_present():
        return 2
    work = run.WORK / "work"
    _cpus, inputs = run.prepare_work_dir(work)

    import datagen

    datagen.write_inputs(inputs, args.seed, SF)
    run.wipe_scratch(inputs)
    runner = run.Runner(argparse.Namespace(workload=next(iter(WORKLOADS)), seed=args.seed,
                                           seconds=0, trace=1), inputs)
    result: dict[str, dict] = {"seed": args.seed, "sf": SF, "classes": {}}
    try:
        runner.start_session()
        runner.expected_rows = {}
        for cls in args.classes:
            runner.queries = TRAFFIC_CLASSES[cls]
            runner.duck = runner.parity.duckdb_con(str(inputs))
            runner.tracer.enabled = False
            t0 = time.perf_counter()
            try:
                runner.run_pass(0, "cold")
            finally:
                runner.duck.close()
            cold_s = time.perf_counter() - t0
            runner.tracer.enabled = True
            runner.run_pass(1, "timed")
            runner.streams.settle()
            runner._attach_drains()  # noqa: SLF001
            rows = per_query(runner.tracer.spans)
            rows = {q: rows[q] for q in runner.queries if q in rows}
            result["classes"][cls] = {"cold_s": cold_s, "queries": rows,
                                      "pooled": pooled(list(rows.values())),
                                      "status_store": run.status_store_check(runner.tracer.spans)}
            runner.tracer.spans.clear()
    finally:
        if hasattr(runner, "spark"):
            runner.stop_session()
        run.wipe_scratch(inputs)
        shutil.rmtree(work, ignore_errors=True)
    failed = [r for r in runner.records if not r["ok"]]

    header = f"{'':<28}" + " ".join(f"{lab:>{len(fmt.format(0))}}" for lab, _, fmt in COLUMNS)
    for cls, c in result["classes"].items():
        print(f"== {cls} (cold pass {c['cold_s']:.1f} s; status store read "
              + " ".join(f"{k}={v}" for k, v in c["status_store"].items()) + ")")
        print(header)
        for q, m in c["queries"].items():
            print(line(q, m))
        print(line(f"class ({len(c['queries'])} queries)", c["pooled"])
              + f"  p50 {c['pooled']['query_p50_s']:.2f}")
    for wl, spec in WORKLOADS.items():
        rows = [c["queries"][q] for c in result["classes"].values()
                for q in spec["queries"] if q in c["queries"]]
        if len(rows) == len(spec["queries"]):
            p = pooled(rows)
            result.setdefault("workloads", {})[wl] = p
            print(line(f"workload {wl}", p) + f"  p50 {p['query_p50_s']:.2f}")
    for r in failed:
        print(f"FAILED {r['query']} (pass {r['pass']}): {r['problems'][0]}")
    result["failed"] = failed
    out = run.WORK / "artifacts" / f"survey-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(result, indent=1, default=str))
    print(f"artifact {out.relative_to(run.ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

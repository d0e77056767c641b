"""Pure helpers of the benchmark: order, percentiles, span self time and the
artifact schema.  Nothing here touches Spark, the clock or the disk, so the
tests in `perfbench/tests` cover it directly."""

from __future__ import annotations

import random

#: a tail percentile must leave at least this many samples above it
TAIL_MIN_ABOVE = 10


def pass_order(queries: list[str], seed: int, pass_no: int) -> list[str]:
    """The order of one pass: a permutation of `queries` fixed by
    (`seed`, `pass_no`)."""
    order = list(queries)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile of `samples` that still has at least
    `TAIL_MIN_ABOVE` samples above it.

    Returns (value, percentile, n).  The value is the sample at ascending
    rank n - TAIL_MIN_ABOVE (1-based); the percentile is that rank as a
    share of n, times 100.  Raises ValueError when n leaves no such sample.
    """
    n = len(samples)
    rank = n - TAIL_MIN_ABOVE
    if rank < 1:
        raise ValueError(f"{n} samples leave none with {TAIL_MIN_ABOVE} above it")
    return sorted(samples)[rank - 1], 100.0 * rank / n, n


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (overlapping children are merged, not double-counted)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[int, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


SPAN_KINDS = ("run", "pass", "query", "construct", "plan", "execute",
              "job", "stage", "drain", "call")
ARTIFACT_KEYS = ("workload", "seed", "trace", "sf", "queries", "passes",
                 "metrics", "layers", "spans", "host")


def check_artifact(artifact: dict) -> list[str]:
    """Schema problems of a run artifact (empty list = well formed)."""
    problems = [f"missing key {k!r}" for k in ARTIFACT_KEYS if k not in artifact]
    if problems:
        return problems
    ids = {s.get("id") for s in artifact["spans"]}
    for s in artifact["spans"]:
        for k in ("id", "parent", "kind", "name", "start", "end", "self_s", "attrs"):
            if k not in s:
                problems.append(f"span {s.get('id')}: missing {k!r}")
        if s.get("kind") not in SPAN_KINDS:
            problems.append(f"span {s.get('id')}: unknown kind {s.get('kind')!r}")
        if s.get("parent") is not None and s["parent"] not in ids:
            problems.append(f"span {s.get('id')}: dangling parent {s['parent']}")
        if s.get("end", 0) < s.get("start", 0):
            problems.append(f"span {s.get('id')}: ends before it starts")
    for p in artifact["passes"]:
        for k in ("pass", "timed", "wall_s", "order", "host"):
            if k not in p:
                problems.append(f"pass {p.get('pass')}: missing {k!r}")
    for name, m in artifact["metrics"].items():
        if set(m) != {"value", "unit"}:
            problems.append(f"metric {name}: keys {sorted(m)}")
    return problems

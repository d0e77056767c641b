"""Incremental materialized-rollup maintenance from a change feed.

The reference recomputes derived state by replaying whole dropboxes
(`register-all.py` re-walks every dataset to rebuild per-project
statistics).  The lakehouse-native form: keep the rollup (a grouped
count/sum table) MATERIALIZED and refresh it from the row-level change
feed (`sinks/cdc.snapshot_changes`) instead of re-aggregating the base
table — work O(|groups| + |changes|), never O(|base table|).

The refresh law is exact and is the oracle:

    refresh(rollup(old), changes(old, new)) == rollup(new)

Mechanics: every feed row carries a sign (+1 for insert /
update_postimage, -1 for delete / update_preimage); signed deltas
aggregate per group FIRST (one shuffle of |changes| rows, map-side
combine applies), then ONE full-outer join folds them into the current
rollup (|groups| rows — kilobytes-to-megabytes at any base-table size).
Groups whose count reaches zero drop out; a count that would go
NEGATIVE raises loudly (the feed does not belong to this rollup — e.g.
it was already applied, or the rollup was built from a different
version; silently clamping would leave a wrong table that looks fine).

Exactness constraints, enforced loudly rather than documented away:

* measure columns must be integer (or scale-0 decimal) — float sums
  are non-associative, so an incrementally-maintained float rollup
  drifts from the recompute and the refresh law above stops being
  testable; materialized sums are BIGINT, computed through a decimal
  accumulator with a loud overflow raise on every config (a plain
  bigint sum would WRAP silently under non-ANSI);
* measure values must be non-NULL — SQL `sum` skips NULLs, so
  reproducing NULL-sum semantics incrementally needs a per-column
  non-null count; callers with nullable measures should materialize
  that count as its own measure (`F.when(x.isNotNull(), 1)`) instead
  of silently diverging;
* min/max are NOT maintainable under deletes without the full group —
  this module deliberately offers count/sum only (avg = sum/count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..exactness import require_integral_columns

#: feed rows that add their payload vs remove it
_SIGN = {"insert": 1, "update_postimage": 1, "delete": -1, "update_preimage": -1}


def rollup_table(
    base: DataFrame, group_keys: list[str], sum_cols: list[str], count_col: str = "n"
) -> DataFrame:
    """The batch form: grouped count + sums — what `refresh_rollup`
    maintains incrementally.  Build the initial materialization with
    this; rebuild with it only to audit the incremental path."""
    _check_measures(base, sum_cols, count_col)
    aggs = [F.count(F.lit(1)).alias(count_col)] + [
        exact_long_sum(_guarded(c)).alias(f"sum_{c}") for c in sum_cols
    ]
    return base.groupBy(*group_keys).agg(*aggs)


_LONG_MAX = 2**63 - 1


def exact_long_sum(values, who: str = "rollup: measure"):
    """Overflow-loud BIGINT sum on every config (shared with the
    streaming user totals, streaming/stateful.py).

    A plain `sum(bigint)` WRAPS silently under non-ANSI; summing as
    DECIMAL(38,0) turns overflow into NULL instead — and since inputs
    here are non-null by construction (guarded) and every group has a
    row, NULL out of the sum IS the overflow.  The guarded downcast then
    keeps the materialized column BIGINT (a rollup whose sums silently
    change type per batch would break its own readers)."""
    s = F.sum(values.cast("decimal(38,0)"))
    loud = F.when(
        s.isNull() | (F.abs(s) > _LONG_MAX),
        F.raise_error(F.lit(f"{who} sum overflowed bigint")),
    ).otherwise(s)
    return loud.cast("long")


def _check_measures(df: DataFrame, sum_cols: list[str], count_col: str) -> None:
    require_integral_columns(df, sum_cols, "rollup")
    if count_col in sum_cols:
        raise ValueError(f"count column `{count_col}` collides with a measure")
    internals = {"_sign", "_dn"} | {f"_d_{c}" for c in sum_cols}
    clash = internals & set(df.columns)
    if clash:
        raise ValueError(
            f"rollup: column names collide with internals: {sorted(clash)}"
        )


def _guarded(c: str):
    """NULL measures raise (see module doc) instead of silently skewing
    the sum-vs-count relationship the incremental form relies on."""
    return (
        F.when(
            F.col(c).isNull(),
            F.raise_error(F.lit(f"rollup: NULL measure in `{c}` — materialize a "
                                "non-null count companion instead")),
        )
        .otherwise(F.col(c))
    )


def refresh_rollup(
    current: DataFrame,
    changes: DataFrame,
    group_keys: list[str],
    sum_cols: list[str],
    count_col: str = "n",
) -> DataFrame:
    """Fold a change feed into a materialized rollup; returns the new
    rollup, equal to recomputing over the post-change base table.

    `current` has columns group_keys + count_col + sum_<c>;
    `changes` is a `snapshot_changes` feed carrying group_keys +
    measure columns + `_change_type`.
    """
    _check_measures(changes, sum_cols, count_col)
    # try_element_at: ANSI element_at on a map THROWS its own opaque
    # MAP_KEY_DOES_NOT_EXIST for an unknown key — we want the named raise
    sign = F.try_element_at(
        F.create_map(*[x for k, v in _SIGN.items() for x in (F.lit(k), F.lit(v))]),
        F.col("_change_type"),
    )
    bad_type = F.when(
        sign.isNull(),
        F.raise_error(
            F.format_string(
                "refresh_rollup: unknown _change_type %s",
                F.coalesce(F.col("_change_type"), F.lit("NULL")),
            )
        ),
    ).otherwise(sign)
    deltas = (
        changes.select(*group_keys, bad_type.alias("_sign"), *sum_cols)
        .groupBy(*group_keys)
        .agg(
            F.sum("_sign").alias("_dn"),
            # same overflow-loud law as rollup_table's sums — a silently
            # wrapped or NULLed delta would commit a corrupt rollup
            *[
                exact_long_sum(F.col("_sign") * _guarded(c)).alias(f"_d_{c}")
                for c in sum_cols
            ],
        )
    )
    # eqNullSafe keys: groupBy puts NULL group keys in ONE group, so the
    # join must match them too — null-unsafe `on=` would split a NULL
    # group into an unmatched rollup row + an unmatched delta row (breaking
    # the refresh law and spuriously tripping the negative-count raise)
    deltas = deltas.select(
        *[F.col(k).alias(f"_dk_{k}") for k in group_keys],
        "_dn",
        *[f"_d_{c}" for c in sum_cols],
    )
    cond = None
    for k in group_keys:
        eq = current[k].eqNullSafe(deltas[f"_dk_{k}"])
        cond = eq if cond is None else (cond & eq)
    j = current.join(deltas, cond, "full_outer")
    new_n = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))
    guarded_n = F.when(
        new_n < 0,
        F.raise_error(
            F.lit(
                "refresh_rollup: count would go negative — this feed does not "
                "follow from the snapshot this rollup was built on"
            )
        ),
    ).otherwise(new_n)

    def merged(c: str):
        # a NULL current sum WITH a non-null current count means the
        # committed rollup itself is corrupt (e.g. written by an engine
        # that let a sum overflow) — refuse to compound it
        cur = F.when(
            F.col(f"sum_{c}").isNull() & F.col(count_col).isNotNull(),
            F.raise_error(
                F.lit(f"refresh_rollup: committed rollup has NULL sum_{c}")
            ),
        ).otherwise(F.col(f"sum_{c}"))
        d = F.col(f"_d_{c}")
        return (F.coalesce(cur, F.lit(0)) + F.coalesce(d, F.lit(0))).alias(f"sum_{c}")

    out = j.select(
        *[F.coalesce(current[k], deltas[f"_dk_{k}"]).alias(k) for k in group_keys],
        guarded_n.alias(count_col),
        *[merged(c) for c in sum_cols],
    )
    return out.where(F.col(count_col) > 0)

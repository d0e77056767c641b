"""The algebraic streaming-state operators as native aggregates: the
user-totals cents sum stays loud on overflow whatever the ANSI setting
(a plain BIGINT sum wraps silently with ANSI off)."""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_scripts_spark.streaming.stateful import stateful_user_totals_available_now


def _events(path, values):
    n = len(values)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [dt.datetime(2024, 1, 1, 0, 0, i) for i in range(n)], pa.timestamp("us")
                ),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["click"] * n),
                "value": pa.array(values, pa.float64()),
                "props": pa.array([""] * n),
            }
        ),
        path,
    )


@pytest.mark.parametrize("ansi", ["true", "false"])
@pytest.mark.parametrize(
    "values, error",
    [
        # 5e18 cents each: every row fits BIGINT, the sum (1e19) does not
        ([5e16, 5e16], "sum overflowed bigint"),
        # 1e20 cents: floor() would saturate it to BIGINT max
        ([1e18], "cents outside bigint"),
    ],
)
def test_user_totals_past_bigint_raise(spark, tmp_path, ansi, values, error):
    path = str(tmp_path / "events.parquet")
    _events(path, values)
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        with pytest.raises(Exception, match=error):
            stateful_user_totals_available_now(spark, path).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_user_totals_sum_near_bigint_is_exact(spark, tmp_path):
    # ~4.6e18 cents per row: the sum sits just under 2^63, past where a
    # double sum is exact, and must come back to the cent
    path = str(tmp_path / "events.parquet")
    value = 4.6e16 + 0.37
    _events(path, [value, value, -1.01])
    cents = [math.floor(v * 100 + 0.5) for v in (value, value, -1.01)]
    assert sum(cents) < 2**63
    (row,) = stateful_user_totals_available_now(spark, path).collect()
    assert (row.n_events, row.sum_cents) == (3, sum(cents))

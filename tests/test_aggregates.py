"""Plan-shape contracts of the aggregate operators."""

from __future__ import annotations

import re
from collections import Counter


def test_heavy_hitters_long_values_recount_by_broadcast_semi_join(spark):
    """The InSet recount is bounded by the candidates' summed value text
    (100 · HH_ISIN_MAX), not only by their count: a few hundred heavy
    values of ~8 KB each must plan the broadcast semi-join instead of
    serializing a multi-MB IN-list into every task — and stay exact."""
    from data_lakehouse_hygiene_spark.operators.aggregates import (
        HH_ISIN_MAX,
        heavy_hitters,
    )

    heavy = [f"{i:04d}" + "x" * 8188 for i in range(300)]
    vals = [v for v in heavy for _ in range(2)] + [f"r{i}" for i in range(500)]
    assert sum(map(len, heavy)) > 100 * HH_ISIN_MAX
    assert len(heavy) <= HH_ISIN_MAX  # the count gate alone would InSet
    df = spark.createDataFrame([(v,) for v in vals], "value string")
    phi = 0.001
    out = heavy_hitters(df, "value", phi=phi)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"\bINSET\b", plan, re.IGNORECASE)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    n = len(vals)
    want = sorted(
        ((v, c) for v, c in Counter(vals).items() if c > phi * n),
        key=lambda t: (-t[1], t[0]),
    )
    assert [tuple(r) for r in out.collect()] == want and len(want) == 300

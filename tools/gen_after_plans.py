"""Dump `.explain("formatted")` for the named declared queries to
<plan_dir>/<query>_<suffix>.txt — the checkable evidence for a plan
claim: run it with ``before`` on the parent checkout and with ``after``
on the change, then diff the pairs.

Usage: python tools/gen_after_plans.py <plan_dir> <before|after> q1 q2 ...
(input tables: $SPARK_GRAFT_SF_DIR, default the sf0.1 test data)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from data_lakehouse_hygiene_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    plan_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_spark(app_name="gen_after_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    os.makedirs(plan_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print("wrote", name, suffix)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Whole-registry physical-plan audit: mechanically enforce the scale
rules every operator is designed to (and tests/test_plans.py locks for a
sample of). For EVERY registry query, and for the star joins behind the
``sales`` and ``sales_txn`` views (a cache-sized view is read as one
materialized relation, so its joins show in no query's plan), build the
plan at sf0.001 and flag:

- ``CartesianProduct``  — a non-broadcast cross product anywhere.
  (``BroadcastNestedLoopJoin Cross`` against 1-row bounds/stats frames is
  the engine's documented pattern and is NOT flagged.)
- ``BatchEvalPython``   — a row-at-a-time Python UDF in the plan.  All
  Python must be Arrow-batched (``ArrowEvalPython`` / ``MapInPandas`` /
  ``FlatMapGroupsInPandas`` are fine).
- plan build errors     — a query that cannot even plan.

Prints one JSON line {"checked": N, "violations": {...}} and exits 1 on
any violation — CI-shaped, the per-round audit the plan tests sample.

Planning only: nothing is executed beyond the handful of model-boundary
collects some builders run (kmeans seeds, BPE argmax), which is why the
audit runs at the smallest fixture.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intellect_bi_spark.catalog import (  # noqa: E402
    SALES_SELECT_SQL,
    TXN_SALES_SELECT_SQL,
    load_tables,
)
from intellect_bi_spark.registry import QUERIES  # noqa: E402
from intellect_bi_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF_DIR", "/root/testdata/sf0.001")
FORBIDDEN = ("CartesianProduct", "BatchEvalPython")


def main() -> None:
    spark = get_spark("plan_audit")
    violations: dict[str, list[str]] = {}
    checked = 0
    load_tables(spark, SF_DIR)
    views = {
        "view:sales": lambda s, _: s.sql(SALES_SELECT_SQL),
        "view:sales_txn": lambda s, _: s.sql(TXN_SALES_SELECT_SQL),
    }
    for name, fn in {**views, **QUERIES}.items():
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as ex:  # a query that cannot plan is a violation
            violations[name] = [f"plan-error: {str(ex)[:120]}"]
            continue
        checked += 1
        hits = [pat for pat in FORBIDDEN if pat in plan]
        if hits:
            violations[name] = hits
    print(
        json.dumps(
            {
                "checked": checked,
                "n_violations": len(violations),
                "violations": violations,
                "sf_dir": SF_DIR,
            }
        )
    )
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()

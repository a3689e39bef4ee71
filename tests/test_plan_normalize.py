"""tools/plan_audit.normalize_plan: the id counters a plan prints change
from run to run; operators do not. Spark-free."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from plan_audit import normalize_plan  # noqa: E402

PLAN = """\
(3) BroadcastNestedLoopJoin [codegen id : 2]
Join condition: NOT (vec_id#{a}L = query_id#{b}L)
(5) Project
Output [2]: [vec_id#{a}L, transform(embedding#{c}, lambdafunction(cast(\
lambda x_{d}#{e} as double), lambda x_{d}#{e}, false)) AS demb#{f}]
+- BroadcastQueryStage {g}
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id={h}]
Arguments: [cent_id#{c}], MapPartitionsRDD[{i}] at applySchemaToPythonRDD"""


def _plan(op: str = "BroadcastNestedLoopJoin", **ids: int) -> str:
    base = dict(a=12, b=40, c=7, d=3, e=91, f=93, g=2, h=118, i=37)
    return PLAN.replace("BroadcastNestedLoopJoin", op).format(
        **{**base, **ids})


def test_plans_that_differ_only_in_ids_normalise_equal():
    a = _plan()
    b = _plan(a=512, b=513, c=600, d=17, e=1044, f=1046, g=5, h=2001,
              i=158)
    assert a != b
    assert normalize_plan(a) == normalize_plan(b)


def test_plans_that_differ_in_an_operator_stay_different():
    assert (normalize_plan(_plan())
            != normalize_plan(_plan("BroadcastHashJoin")))

"""TPC-H completion (contract_ext5): plan-shape guarantees for the round-3
q2/q3/.../q20 analogues. Value correctness is covered by the
test_contract.py oracle parametrization; these tests pin the SCALE
properties — the lineitem fact side must never sort-merge (every dimension
join broadcasts) and top-k queries must plan TakeOrderedAndProject, not a
global sort."""

import pytest

from offpath_queries.contract_ext5 import (
    q_tpch_q3ish,
    q_tpch_q6ish,
    q_tpch_q9ish,
    q_tpch_q10ish,
    q_tpch_q20ish,
)

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


@pytest.mark.parametrize(
    "qfn", [q_tpch_q3ish, q_tpch_q9ish, q_tpch_q10ish, q_tpch_q20ish]
)
def test_fact_side_never_sort_merges(spark, qfn):
    plan = _plan(qfn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("qfn", [q_tpch_q3ish, q_tpch_q10ish])
def test_topk_is_take_ordered(spark, qfn):
    plan = _plan(qfn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_q6_filters_reach_scan(spark):
    plan = _plan(q_tpch_q6ish(spark, SF_DIR))
    # date + discount + quantity predicates all push to the parquet scan
    assert "PushedFilters: [" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in plan.split("PushedFilters")[1][:400], col

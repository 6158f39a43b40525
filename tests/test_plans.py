"""Physical-plan regression gate: the headline queries must keep their
scale-shaped plans (pushdown at the scan, broadcast joins, TakeOrdered
top-k, no cartesian products, map-only stages exchange-free).

The rule table lives in ``scripts/plan_audit.py`` (which also renders the
judge-readable ``PLANS.md``); this test asserts every rule so a plan
regression fails the suite even when results stay correct.
"""

from __future__ import annotations

import pytest

from scripts.plan_audit import AUDIT, SF_DIR, audit_one


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry

    return entry.queries()


@pytest.mark.parametrize("name,must,must_not", AUDIT, ids=[a[0] for a in AUDIT])
def test_plan_shape(spark, queries, name, must, must_not):
    _, problems = audit_one(queries, spark, name, must, must_not)
    assert not problems, f"{name}: {problems}"

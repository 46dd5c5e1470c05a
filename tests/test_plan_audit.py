"""Repo-wide physical-plan audit over EVERY gate query.

Two invariants the 100-TB design depends on, enforced mechanically so a
future edit can't regress them silently:

- no CartesianProduct anywhere (broadcast nested-loop joins of tiny
  query/centroid sides are fine; an unbroadcast cartesian is never fine);
- no row-at-a-time Python UDF (BatchEvalPython) in any plan — Python only
  enters via Arrow (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas).

A third keeps Python cost honest: no Python UDF is evaluated more than once
in one plan. Catalyst treats a UDF as a cheap deterministic expression and
copies it into any filter it pushes through an alias, each copy its own
``ArrowEvalPython`` node.

Plans are built, not executed — except d1d/d1e, whose one-time state setup
(memoized per session) runs a few small jobs before returning a pure,
auditable plan. Every gate query is audited, zero skips.
"""

import re
from collections import Counter

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

# name -> executed plan string, built once per test session for both audits
_PLANS: dict[str, str] = {}


def _plan(spark, name: str) -> str:
    if name not in _PLANS:
        df = entry.queries()[name](spark, SF)
        _PLANS[name] = df._jdf.queryExecution().executedPlan().toString()
    return _PLANS[name]


def _python_udf_calls(plan: str) -> Counter:
    """UDF name -> number of times an ``ArrowEvalPython`` node evaluates it.

    A node reads ``ArrowEvalPython [f(a#1)#9, g(cast(b#2 as int))#10], [...]``;
    each evaluated call ends in its result id, ``)#n``."""
    calls: Counter = Counter()
    for udfs in re.findall(r"ArrowEvalPython \[(.*?)\], \[", plan):
        calls.update(re.findall(r"(?:^|\)#\d+, )(\w+)\(", udfs))
    return calls


@pytest.mark.parametrize("name", [q for q in entry.queries()])
def test_no_cartesian_no_rowwise_python(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"


@pytest.mark.parametrize("name", [q for q in entry.queries()])
def test_no_python_udf_evaluated_twice(spark, name):
    repeated = {f: n for f, n in _python_udf_calls(_plan(spark, name)).items() if n > 1}
    assert not repeated, f"{name} evaluates Python UDFs more than once: {repeated}"

"""Registry-wide physical-plan lint: anti-patterns are test failures.

test_plan_audit.py pins hand-verified plan shapes for specific queries; this
file is the coarse safety net UNDER all of them: no registered query, current
or future, may plan a CartesianProduct or row-at-a-time Python evaluation
(BatchEvalPython). Both are the classic silent scale-killers -- value-correct
at fixture size, catastrophic at 100 TB -- and both are visible in the plan
tree without executing anything, so the whole registry can be linted in one
parametrized pass.

Arrow-batched Python (ArrowEvalPython / FlatMapGroupsInPandas /
MapInPandas...) is allowed: those are the sanctioned vectorized escape
hatches (multimodal decode, the quality-model UDF slot, custom stateful
ops).
"""

from __future__ import annotations

import pytest

from cassandra_sstable_tools_spark.plans.audit import (
    formatted_plan,
    tree_node_count,
)
from cassandra_sstable_tools_spark.queries import registry

_QUERIES = dict(registry.queries())
# any currently-staged queries are linted to the same bar before going live
from test_staged_queries import _QUERIES as _STAGED  # noqa: E402

_QUERIES.update(_STAGED)


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_no_cartesian_no_rowwise_python(name, spark, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    assert tree_node_count(df, "CartesianProduct") == 0, (
        f"{name}: plan contains CartesianProduct"
    )
    assert tree_node_count(df, "BatchEvalPython") == 0, (
        f"{name}: plan contains row-at-a-time Python (BatchEvalPython)"
    )


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_no_binary_file_scan(name, spark, sf_dir):
    """Every sstable is listed and opened through the one inventory
    filesystem: no plan reads files through the binaryFile source."""
    plan = formatted_plan(_QUERIES[name](spark, sf_dir))
    assert "Scan binaryFile" not in plan, f"{name}: plan scans binaryFile"

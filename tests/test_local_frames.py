"""Driver-built frames stay on the JVM side of the Python boundary.

``spark.createDataFrame(<python list>)`` plans a Python RDD: every job
touching it starts Python-worker tasks (~0.3 s wall and ~0.3 CPU-s
each on a 4-core host) — more than a warm serving call costs without
them.  :func:`docinsight_spark.session.local_frame` builds the same
frame as an Arrow ``LocalRelation`` instead; the AST guard keeps the
index package and the evaluation module on it."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from docinsight_spark.plans.checks import plan_text
from docinsight_spark.session import local_frame

PKG = Path(__file__).resolve().parent.parent / "docinsight_spark"
GUARDED = sorted((PKG / "index").glob("*.py")) + [PKG / "evaluation.py"]


@pytest.mark.parametrize("path", GUARDED, ids=lambda p: p.name)
def test_no_direct_create_dataframe(path):
    """No module on the serving/maintenance path calls
    ``createDataFrame`` except through :func:`local_frame`."""
    calls = [
        node.lineno
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert not calls, (
        f"{path.name}:{calls} calls createDataFrame directly — build "
        "driver-side frames with session.local_frame (Arrow LocalRelation, "
        "no Python-worker tasks)"
    )


@pytest.mark.parametrize(
    "rows",
    [[(1, "a", 0.5, [1, 2]), (2, None, None, [])], []],
    ids=["rows", "empty"],
)
def test_local_frame_is_a_local_relation(spark, rows):
    schema = "query_id long, term string, score double, pos array<int>"
    df = local_frame(spark, rows, schema)
    assert df.schema.simpleString() == (
        "struct<query_id:bigint,term:string,score:double,pos:array<int>>"
    )
    assert all(f.nullable for f in df.schema.fields)
    p = plan_text(df)
    assert "LocalTableScan" in p and "ExistingRDD" not in p, p
    assert [tuple(r) for r in df.collect()] == rows

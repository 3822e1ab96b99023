"""session.local_frame: every small driver-side relation the library
builds is a JVM LocalTableScan with exactly the rows and schema
``createDataFrame(<list>, schema)`` gives (a Python RDD, whose every
scan starts Python workers), and no new list site can slip back in."""

from __future__ import annotations

import ast
import glob
import os

import pytest

from prosearch_spark.session import local_frame

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SLOTS = ("grp int not null, query_id int not null, "
         "clause_id int not null, slot int not null, term string not null")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _cases(spark):
    collected = spark.createDataFrame(
        [(1, 7, 2.5), (2, 3, 1.25)],
        "rank int, doc_id long, score double").collect()
    return {
        "not_null_slots": ([(0, 1, 2, 0, "join"), (0, 1, 2, 1, "hash")],
                           SLOTS),
        "empty": ([], "query_id int, rank int, doc_id long, score double"),
        "collected_rows": (collected, "rank int, doc_id long, score double"),
        "long_above_2_31": ([(2 ** 31 + 5, -(2 ** 40)), (1, 2 ** 62)],
                            "rf long, rl long"),
        "nullable_none": ([(1, None, None), (None, "x", 0.5)],
                          "a long, b string, c double"),
        "array_double": ([(3, [0.5, -1.0, 2.0]), (4, [])],
                         "query_id long, qunit array<double>"),
    }


@pytest.mark.parametrize("case", ["not_null_slots", "empty",
                                  "collected_rows", "long_above_2_31",
                                  "nullable_none", "array_double"])
def test_local_frame_matches_list_create(spark, case):
    rows, schema = _cases(spark)[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema  # nullability included
    assert got.collect() == want.collect()
    assert "LocalTableScan" in _plan(got), _plan(got)
    assert "ExistingRDD" not in _plan(got)


def test_local_frame_takes_a_struct_schema(spark):
    """Callers re-create a collected frame under its own schema."""
    src = spark.range(3).selectExpr("cast(id as int) as rank",
                                    "id * 10 as doc_id")
    got = local_frame(spark, src.collect(), src.schema)
    assert got.schema == src.schema
    assert got.collect() == src.collect()


def test_create_dataframe_only_in_sanctioned_sites():
    """A list ``createDataFrame`` is a Python RDD: library code goes
    through ``session.local_frame``. The only other calls are the
    frozen oracle module and the RDD-built dense ids."""
    allowed = {
        ("prosearch_spark/session.py", "local_frame"),
        ("prosearch_spark/query/oracle_sql.py", None),
        ("prosearch_spark/index/ids.py", None),
    }
    bad = []
    paths = sorted(glob.glob(os.path.join(ROOT, "prosearch_spark", "**",
                                          "*.py"), recursive=True))
    assert len(paths) > 20
    for path in paths:
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        funcs = [n for n in ast.walk(tree)
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Attribute)
                    and node.attr == "createDataFrame"):
                continue
            owner = next((fn.name for fn in funcs
                          if fn.lineno <= node.lineno <= fn.end_lineno),
                         None)
            if (rel, None) not in allowed and (rel, owner) not in allowed:
                bad.append(f"{rel}:{node.lineno} ({owner})")
    assert not bad, "\n".join(bad)

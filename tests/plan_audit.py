"""Physical-plan assertions: the plan-quality contract, testable.

"The first plan that passes" is not the goal — these helpers let tests
pin the plan properties that matter at 100 TB:

- filters reach the parquet scan (``PushedFilters``),
- scans read only the projected columns (``ReadSchema``),
- small dimensions broadcast instead of shuffling,
- Python appears only where a pandas stage is intentional
  (``ArrowEvalPython``/``MapInPandas`` counts).

Used by tests/test_plans.py, test_temporal.py and test_graphalgo.py;
also handy interactively: ``print(explain_str(df))``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True when every fragment appears inside a PushedFilters list."""
    s = explain_str(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", s))
    return all(f in pushed for f in fragments)


def pruned_scan_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of each parquet scan's ReadSchema (pruning check)."""
    s = explain_str(df)
    out = []
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", s):
        cols = [c.split(":")[0].strip() for c in m.split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def python_eval_count(df: DataFrame) -> int:
    """Number of Python-eval operators in the plan (ArrowEval / pandas
    map stages). Zero for pure-JVM queries; exactly the intended count
    for pipelines with vectorized UDF stages."""
    s = explain_str(df, "simple")
    return (
        s.count("ArrowEvalPython")
        + s.count("MapInPandas")
        + s.count("BatchEvalPython")
        + s.count("FlatMapGroupsInPandas")
    )

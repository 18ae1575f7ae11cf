"""Plan inspection helpers — the test suite's window into Catalyst.

Correctness says WHAT came out; these say HOW. Tests use them to pin the
physical properties that matter at 100 TB: dimension joins must be
BroadcastHashJoin, filters must reach the parquet scan (PushedFilters),
projections must prune the read schema, and hot paths must stay inside
WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The text of df.explain(mode) without printing."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists that appear in the formatted plan."""
    out = []
    for line in explain_str(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out.append(line[len("PushedFilters:"):].strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema entries — what the parquet scan will actually decode."""
    out = []
    for line in explain_str(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            out.append(line[len("ReadSchema:"):].strip())
    return out


def codegen_stage_count(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen stages in the physical plan
    (formatted mode tags operators with `[codegen id : N]`)."""
    import re

    ids = re.findall(r"\[codegen id : (\d+)\]", explain_str(df))
    return len(set(ids))

"""Executed-plan introspection: the counts that matter at 100 TB.

Used by the engine facade (``KomodoEngine.explain_query``, also behind
``python -m komodo_data_spark explain <query>``). All stats come from the
FINAL adaptive plan — the one AQE actually ran, with its runtime
re-optimizations — not the pre-execution estimate.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def plan_stats(simple: str) -> dict[str, object]:
    """Shuffle/join/codegen/python/pushdown counts from an executed plan's
    final section (``executedPlan().toString()`` after an action)."""
    final = simple.split("== Initial Plan ==")[0]
    return {
        # a shuffle in the final AQE plan is either a live Exchange or an
        # already-materialized (possibly reused) ShuffleQueryStage
        "exchanges": len(re.findall(r"\bExchange\b", final))
        + len(set(re.findall(r"ShuffleQueryStage (\d+)", final))),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", final)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", final)),
        # codegen span ids appear as "*(n)" markers
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", final))),
        "python_stages": len(
            re.findall(
                r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
                final,
            )
        ),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", final)),
    }


def executed_plan_string(df: DataFrame) -> str:
    """Execute THIS frame (collect — count() would plan a separate query)
    and return the final adaptive plan string."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()

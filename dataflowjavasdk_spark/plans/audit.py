"""Physical-plan audit: assert the plan you'd want at 100 TB, in tests.

The reference model cannot reason about plans (user logic is opaque Java —
SURVEY.md §4.1); this engine's contract is the opposite: every operator is
declarative, so the physical plan is inspectable and CI can pin the
properties that matter at scale:

- predicate pushdown reached the scan (PushedFilters)
- column pruning reached the scan (ReadSchema)
- small sides broadcast (BroadcastHashJoin), no accidental sort-merge
- shuffle count (Exchange) didn't silently regress
- Python stays out of hot paths (no BatchEvalPython rows)
- no stage chains two Python evaluators: each would hold its own Python
  worker in every task and move every row across the Arrow boundary
  again (`python_chains`)
"""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


# Operators that run Python: each one holds a Python worker per task.
PYTHON_EVALS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    # Arrow-native and grouped Python stages (review-caught
    # blind spot: the mapInArrow/applyInArrow CoGBK rewrite
    # made its Python invisible to this counter)
    "MapInArrow",
    "FlatMapGroupsInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
)

# Operators whose child runs in another stage (or, for a cached
# relation, another job).
_STAGE_BOUNDARIES = {
    "Exchange", "BroadcastExchange", "ReusedExchange", "ShuffleQueryStage",
    "BroadcastQueryStage", "TableCacheQueryStage", "InMemoryRelation",
}


def _tree(text: str) -> list[tuple[int, str]]:
    """The operator tree at the head of a formatted explain, as
    (depth, "Name (id)") in pre-order. A child line is indented three
    characters per level and starts with ``+-`` or ``:-``."""
    body = text.split("== Physical Plan ==", 1)[-1].strip("\n").split("\n\n", 1)[0]
    nodes = []
    for line in body.splitlines():
        m = re.match(r"^([ :]*)[+:]- (.*)$", line)
        depth, node = (len(m.group(1)) // 3 + 1, m.group(2)) if m else (0, line)
        nodes.append((depth, node.strip()))
    return nodes


def python_chains(text: str) -> list[str]:
    """Python evaluators that feed another one inside the same stage, as
    "Upper (id) <- Lower (id)": the formatted plan tree is walked down
    from each evaluator until an exchange or a cached relation."""
    nodes = _tree(text)
    chains = []
    for i, (depth, node) in enumerate(nodes):
        if node.split(" ", 1)[0] not in PYTHON_EVALS:
            continue
        cut = None  # depth of a stage boundary whose subtree is skipped
        for d, below in nodes[i + 1:]:
            if d <= depth:
                break
            if cut is not None and d > cut:
                continue
            cut = None
            name = below.split(" ", 1)[0]
            if name in _STAGE_BOUNDARIES:
                cut = d
            elif name in PYTHON_EVALS:
                chains.append(f"{node} <- {below}")
                cut = d  # report each chain link once
    return chains


@dataclass
class PlanAudit:
    text: str
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    broadcast_joins: int = 0
    sort_merge_joins: int = 0
    shuffled_hash_joins: int = 0
    exchanges: int = 0
    wholestage_codegen: int = 0
    python_evals: int = 0
    python_chains: list[str] = field(default_factory=list)

    def pushes(self, fragment: str) -> bool:
        """True if some scan's PushedFilters mentions `fragment`."""
        return any(fragment in p for p in self.pushed_filters)

    def reads_only(self, table_fragment: str, columns: set[str]) -> bool:
        """True if the scan whose schema contains `table_fragment` reads
        exactly `columns` (column pruning assertion)."""
        for schema in self.read_schemas:
            if table_fragment in schema:
                body = schema.split("struct<", 1)[-1]
                cols = set(re.findall(r"[<,](\w+):", "<" + body))
                return cols == columns
        return False


def audit(df: DataFrame) -> PlanAudit:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # The formatted output repeats operators in AQE initial/final sections —
    # count only the numbered operator list (lines like "(7) Exchange").
    ops = re.findall(r"^\((\d+)\) ([A-Za-z]+)", text, flags=re.M)
    names = [name for _, name in ops]
    return PlanAudit(
        text=text,
        pushed_filters=[l.strip() for l in text.splitlines() if "PushedFilters" in l],
        read_schemas=[l.strip() for l in text.splitlines() if "ReadSchema" in l],
        broadcast_joins=names.count("BroadcastHashJoin"),
        sort_merge_joins=names.count("SortMergeJoin"),
        shuffled_hash_joins=names.count("ShuffledHashJoin"),
        exchanges=names.count("Exchange"),
        # formatted explain tags operators "[codegen id : N]"; simple mode
        # prints WholeStageCodegen nodes — count whichever is present.
        wholestage_codegen=(
            len(set(re.findall(r"codegen id : (\d+)", text)))
            or text.count("WholeStageCodegen")
        ),
        python_evals=sum(names.count(n) for n in PYTHON_EVALS),
        python_chains=python_chains(text),
    )

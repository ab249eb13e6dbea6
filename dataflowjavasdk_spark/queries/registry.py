"""Registry binding each named query to its Spark implementation and its
DuckDB-runnable oracle SQL twin (SURVEY.md §5.2 — sqllogictest-in-spirit
differential testing; the DataflowAssert/PAssert analog at scale).

Conventions (driver contract, __spark_entry__.py):
- Spark fn signature: (spark, sf_dir) -> DataFrame.
- Column names must match the oracle exactly (driver sorts columns by name
  before value-hashing).
- Double aggregates are computed over exact DECIMAL casts and emitted as
  DOUBLE in BOTH engines, so results are bit-identical regardless of
  summation order (floating-point sums are otherwise order-dependent and a
  PCollection is an unordered bag — SURVEY.md §1.1).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → driver does rows-only
    doc: str = ""


_REGISTRY: dict[str, RegisteredQuery] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query with an optional oracle SQL twin."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = RegisteredQuery(name, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


# Emission order for the driver contract. The driver's correctness run
# checks a bounded prefix of ``queries()`` (50 entries per round), so the
# dict is ordered per the standing rotation policy (VERDICT round-2
# "Next round" #3): the sample prefers (1) queries new this round (no
# driver row exists in any committed CORRECTNESS_r*.json), (2) queries
# whose code/oracle materially changed (_CHANGED_THIS_ROUND — their
# green rows describe the OLD code), then (3) queries by OLDEST driver
# evidence. Since round 9 the order is GENERATED from the committed
# CORRECTNESS_r*.json union (VERDICT r8 #3 + stretch #9): rotation is
# automatic when a new round's file lands; the only hand-maintained
# input is _CHANGED_THIS_ROUND, pruned at each rotation.
# _PRIORITY_ROUND is the driver round whose 50-slot sample the CURRENT
# _CHANGED_THIS_ROUND set describes; test_entry_contract uses it to know
# whether the no-wasted-slot invariant is still checkable or the changed
# set is due for its per-round pruning.
_PRIORITY_ROUND = 10

# Queries whose code or oracle materially changed in _PRIORITY_ROUND's
# round: they re-enter the 50-slot sample even though their previous
# driver row is green (that row describes the OLD code/oracle).
# test_entry_contract exempts exactly these from the no-wasted-slot
# invariant; prune the set at each rotation.
_CHANGED_THIS_ROUND: frozenset[str] = frozenset(
    {
        # round-10 MinHash hash-family change (one md5 base hash per
        # gram + Carter-Wegman affine per slot, VERDICT r9 #1): values
        # of every signature-bearing output changed in BOTH engines, and
        # the LSH candidate join carries ids only now
        "minhash_signatures",
        "minhash_lsh_near_dups",
        "containment_sketch_calibration",
        "minhash_jaccard_calibration",
        "lsh_plan_candidate_cost",
        # nested-let rewrite of the trim pipeline (same rows, plan
        # changed from re-inlined withColumns to inline(struct))
        "intra_doc_repetition_trim",
        # explicit decimal(38,0) accumulators (same values on current
        # fixtures; operand width changed in the Spark plan)
        "source_unigram_divergence",
    }
)

def _driver_evidence_rounds() -> dict[str, int]:
    """Latest driver round holding a row for each query, from the
    committed CORRECTNESS_r*.json union at the repo root. A row of ANY
    verdict counts as evidence of being SAMPLED (the no-wasted-slot
    test separately requires fully-green rows); a query absent from
    every file has never been driver-sampled and leads the order."""
    import glob
    import json
    import os
    import re as _re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"_r(\d+)", os.path.basename(path))
        if not m:
            continue
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        rnd = int(m.group(1))
        for name in rows:
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


_EVIDENCE_CACHE: dict[str, int] | None = None


def _ordered() -> list[RegisteredQuery]:
    """Registry in driver-emission order, GENERATED from the evidence
    union (VERDICT r8 #3 + stretch #9; cached per process): (1)
    never-sampled queries in registration order, (2) _CHANGED_THIS_ROUND
    re-entries, (3) everything else by ascending latest-evidence round
    then registration order — the 50-slot prefix always spends every
    slot on new, changed, or stalest-evidence queries, with no
    hand-shuffled name list to rot."""
    global _EVIDENCE_CACHE
    _load_all()
    if _EVIDENCE_CACHE is None:
        _EVIDENCE_CACHE = _driver_evidence_rounds()
    latest = _EVIDENCE_CACHE
    reg_pos = {n: i for i, n in enumerate(_REGISTRY)}

    def sort_key(name: str) -> tuple[int, int, int]:
        if name not in latest:
            group = 0  # new this round: no driver row exists
        elif name in _CHANGED_THIS_ROUND:
            group = 1  # green row describes pre-change code/oracle
        else:
            group = 2
        return (group, latest.get(name, 0), reg_pos[name])

    return [_REGISTRY[n] for n in sorted(_REGISTRY, key=sort_key)]


def all_queries() -> dict[str, QueryFn]:
    return {rq.name: rq.fn for rq in _ordered()}


def all_oracles() -> dict[str, str]:
    return {rq.name: rq.oracle for rq in _ordered() if rq.oracle}


def get(name: str) -> RegisteredQuery:
    _load_all()
    return _REGISTRY[name]


_LOADED = False


def _load_all() -> None:
    """Import every query module exactly once (import = registration)."""
    global _LOADED
    if _LOADED:
        return
    import importlib

    for mod in (
        "relational",
        "relational2",
        "relational3",
        "relational4",
        "examples",
        "windowing",
        "text",
        "similarity",
        "dedup",
        "sketches",
        "curation",
        "curation2",
        "curation3",
        "curation4",
        "curation5",
        "curation6",
        "curation7",
        "retrieval",
        "analytics",
    ):
        importlib.import_module(f"dataflowjavasdk_spark.queries.{mod}")
    _LOADED = True

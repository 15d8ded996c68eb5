"""Successor transitive closure + change classification (J3, A2).

The reference resolves NHS trust succession chains (old_code -> ... ->
final_code, with splits fanning one-to-many) by an iterative in-memory
loop (scripts/org-changes/build_trust_lookup.R:59-84,
build_all_org_changes.R:55-106). The engine runs the same loop on the
driver: the distinct ``(old, new)`` pairs are collected in one Spark
job, each iteration advances every frontier code by one hop in Python,
and the result goes back to Spark as one Arrow-backed local relation
(a ``LocalTableScan`` leaf that Catalyst folds projections and filters
into). Splits fan one row out to N; NULL codes never match a hop, the
way a NULL join key never matches.

Memory bound: the edge list and its closure are held on the driver.
That is the bound the earlier loop of broadcast self-joins already
imposed — it shipped the whole edge list to every executor on every
iteration. Succession graphs are lookup-sized (the NHS trust lookup has
hundreds of rows, chains of at most ~4 hops); a graph that does not fit
on the driver needs a distributed pointer-doubling closure instead.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _distinct_pairs(
    edges: DataFrame, old: str, new: str
) -> tuple[list[tuple], list[T.StructField]]:
    """The distinct ``(old, new)`` pairs, collected in one Spark job and
    deduplicated here rather than by a ``distinct()`` shuffle, plus the
    two edge fields (their types are the output's)."""
    e = edges.select(old, new)
    return list(dict.fromkeys(tuple(r) for r in e.collect())), e.schema.fields


def _local_frame(edges: DataFrame, fields: list[T.StructField], rows: list[tuple]) -> DataFrame:
    """Rows -> Arrow-backed local relation with an explicit schema.

    Object-dtype columns keep Python values exact (no int -> float
    promotion on NULLs); a ``createDataFrame(list)`` would plan as a
    ``Scan ExistingRDD`` that Catalyst cannot fold."""
    pdf = pd.DataFrame(rows, columns=[f.name for f in fields], dtype=object)
    return edges.sparkSession.createDataFrame(pdf, schema=T.StructType(fields))


def successor_closure(
    edges: DataFrame,
    old: str = "old_code",
    new: str = "new_code",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve every ``old`` code to its terminal successor(s).

    ``edges`` is the one-hop succession list. Returns ``(old, final_code,
    n_hops)`` — one row per (origin, terminal, hop count); splits yield
    multiple rows per origin. ``old`` and ``final_code`` keep the edge
    columns' types; ``n_hops`` is an int. Each step advances every row
    whose ``final_code`` has successors; the loop stops when a step
    moves nothing, or after ``max_iter`` steps, which is what cuts
    cycles.

    Parity: build_trust_lookup.R:59-84 (the ``while (length(repl) > 0)``
    loop); build_all_org_changes.R:55-106 (bounded per-hop variant).
    """
    pairs, (old_f, new_f) = _distinct_pairs(edges, old, new)
    hops: dict = defaultdict(list)
    for o, n in pairs:
        if o is not None:
            hops[o].append(n)
    rows = {(o, n, 1) for o, n in pairs}
    for _ in range(max_iter):
        moved = False
        nxt = set()
        for o, f, h in rows:
            # no successor, or a NULL one: the row stays where it is
            for n in hops.get(f, (None,)):
                if n is None:
                    nxt.add((o, f, h))
                else:
                    nxt.add((o, n, h + 1))
                    moved = True
        rows = nxt
        if not moved:
            break
    return _local_frame(
        edges,
        [
            T.StructField(old, old_f.dataType),
            T.StructField("final_code", new_f.dataType),
            T.StructField("n_hops", T.IntegerType()),
        ],
        sorted(rows, key=repr),
    )


def classify_changes(edges: DataFrame, old: str = "old_code", new: str = "new_code") -> DataFrame:
    """Classify each one-hop change as merger / name_change / split.

    A successor reached by more than one distinct predecessor is a
    merger; an origin with more than one distinct successor is a split
    (takes precedence, matching the reference's split handling); every
    other change is a name change. NULL codes count as no code: they
    are never a predecessor or successor of anything. Parity:
    build_all_org_changes.R:136-198.

    Returns ``(old, new, change_type)``, one row per distinct pair.
    """
    pairs, (old_f, new_f) = _distinct_pairs(edges, old, new)
    preds: dict = defaultdict(set)
    succs: dict = defaultdict(set)
    for o, n in pairs:
        if o is not None and n is not None:
            preds[n].add(o)
            succs[o].add(n)

    def change_type(o, n) -> str:
        if len(succs.get(o, ())) > 1:
            return "split"
        if len(preds.get(n, ())) > 1:
            return "merger"
        return "name_change"

    return _local_frame(
        edges,
        [
            T.StructField(old, old_f.dataType),
            T.StructField(new, new_f.dataType),
            T.StructField("change_type", T.StringType()),
        ],
        [(o, n, change_type(o, n)) for o, n in pairs],
    )

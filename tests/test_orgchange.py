"""Org-change subsystem tests: closure, classification, adjustment."""

from __future__ import annotations

from pyspark.sql import functions as F

from nhs_data_pipeline_spark.orgchange import (
    adjust_org_changes,
    classify_changes,
    successor_closure,
)
from nhs_data_pipeline_spark.orgchange.adjust import split_affected
import pytest
from conftest import local_frame


def _edges(spark, rows):
    return spark.createDataFrame(rows, ["old_code", "new_code"])


def test_closure_multi_hop_chain(spark):
    out = successor_closure(_edges(spark, [("A", "B"), ("B", "C"), ("C", "D")]))
    got = {(r.old_code, r.final_code, r.n_hops) for r in out.collect()}
    assert got == {("A", "D", 3), ("B", "D", 2), ("C", "D", 1)}


def test_closure_split_fans_out(spark):
    out = successor_closure(_edges(spark, [("A", "B"), ("A", "C"), ("C", "D")]))
    got = {(r.old_code, r.final_code) for r in out.collect()}
    assert got == {("A", "B"), ("A", "D"), ("C", "D")}


def test_closure_merge_then_split(spark):
    out = successor_closure(_edges(spark, [("A", "M"), ("B", "M"), ("M", "X"), ("M", "Y")]))
    got = {(r.old_code, r.final_code) for r in out.collect()}
    assert got == {("A", "X"), ("A", "Y"), ("B", "X"), ("B", "Y"), ("M", "X"), ("M", "Y")}


@pytest.mark.slow
def test_closure_cycle_terminates(spark):
    out = successor_closure(_edges(spark, [("A", "B"), ("B", "A")]), max_iter=5)
    assert out.count() > 0  # bounded, no hang


@pytest.mark.slow
def test_classify_changes(spark):
    e = _edges(spark, [("A", "M"), ("B", "M"), ("S", "X"), ("S", "Y"), ("N1", "N2")])
    got = {(r.old_code, r.new_code): r.change_type for r in classify_changes(e).collect()}
    assert got[("A", "M")] == "merger"
    assert got[("B", "M")] == "merger"
    assert got[("S", "X")] == "split"
    assert got[("S", "Y")] == "split"
    assert got[("N1", "N2")] == "name_change"


# Pinned (old_code, final_code, n_hops) rows per edge list. Cycles are
# cut after max_iter steps, so their rows pin the hop count reached.
CLOSURE_CASES = {
    "chain": ([("A", "B"), ("B", "C"), ("C", "D")], {},
              {("A", "D", 3), ("B", "D", 2), ("C", "D", 1)}),
    "split": ([("A", "B"), ("A", "C"), ("C", "D")], {},
              {("A", "B", 1), ("A", "D", 2), ("C", "D", 1)}),
    "merge_then_split": ([("A", "M"), ("B", "M"), ("M", "X"), ("M", "Y")], {},
                         {("A", "X", 2), ("A", "Y", 2), ("B", "X", 2), ("B", "Y", 2),
                          ("M", "X", 1), ("M", "Y", 1)}),
    "diamond": ([("A", "B"), ("B", "D"), ("A", "D")], {},
                {("A", "D", 1), ("A", "D", 2), ("B", "D", 1)}),
    "duplicate_edges": ([("A", "B"), ("A", "B"), ("B", "C")], {},
                        {("A", "C", 2), ("B", "C", 1)}),
    "cycle2_max_iter_5": ([("A", "B"), ("B", "A")], {"max_iter": 5},
                          {("A", "A", 6), ("B", "B", 6)}),
    "cycle2_default": ([("A", "B"), ("B", "A")], {},
                       {("A", "B", 21), ("B", "A", 21)}),
    "cycle3_max_iter_4": ([("A", "B"), ("B", "C"), ("C", "A")], {"max_iter": 4},
                          {("A", "C", 5), ("B", "A", 5), ("C", "B", 5)}),
    "cycle3_with_tail": ([("Z", "A"), ("A", "B"), ("B", "C"), ("C", "A")], {"max_iter": 7},
                         {("A", "C", 8), ("B", "A", 8), ("C", "B", 8), ("Z", "B", 8)}),
    "self_loop": ([("A", "A"), ("B", "A")], {"max_iter": 3},
                  {("A", "A", 4), ("B", "A", 4)}),
    "max_iter_0": ([("A", "B"), ("B", "C")], {"max_iter": 0},
                   {("A", "B", 1), ("B", "C", 1)}),
    # a NULL old never matches a hop; a NULL new matches but does not
    # advance, so Q keeps its one-hop row next to the advanced one
    "null_codes": ([(None, "A"), ("A", "B"), ("Q", "C"), ("C", None), ("C", "D"),
                    ("E", None), (None, None)], {},
                   {("A", "B", 1), ("C", "D", 1), ("C", None, 1), ("E", None, 1),
                    ("Q", "C", 1), ("Q", "D", 2), (None, "B", 2), (None, None, 1)}),
}

CLASSIFY_CASES = {
    "chain": ([("A", "B"), ("B", "C")],
              {("A", "B", "name_change"), ("B", "C", "name_change")}),
    "merger_split": ([("A", "M"), ("B", "M"), ("S", "X"), ("S", "Y"), ("N1", "N2")],
                     {("A", "M", "merger"), ("B", "M", "merger"), ("S", "X", "split"),
                      ("S", "Y", "split"), ("N1", "N2", "name_change")}),
    # split takes precedence over merger on the same edge
    "diamond": ([("A", "B"), ("B", "D"), ("A", "D")],
                {("A", "B", "split"), ("A", "D", "split"), ("B", "D", "merger")}),
    "self_loop": ([("A", "A"), ("B", "A")],
                  {("A", "A", "merger"), ("B", "A", "merger")}),
    # NULL codes are never a predecessor or successor
    "null_codes": ([(None, "A"), ("A", "B"), ("Q", "C"), ("C", None), ("C", "D"),
                    ("E", None), (None, None), ("F", None), ("F", "X"), ("F", "Y")],
                   {(None, "A", "name_change"), ("A", "B", "name_change"),
                    ("Q", "C", "name_change"), ("C", None, "name_change"),
                    ("C", "D", "name_change"), ("E", None, "name_change"),
                    (None, None, "name_change"), ("F", None, "split"),
                    ("F", "X", "split"), ("F", "Y", "split")}),
}


@pytest.mark.parametrize("case", sorted(CLOSURE_CASES))
def test_closure_pinned_rows(spark, case):
    rows, kwargs, want = CLOSURE_CASES[case]
    out = successor_closure(spark.createDataFrame(rows, "old_code string, new_code string"), **kwargs)
    assert out.schema.simpleString() == "struct<old_code:string,final_code:string,n_hops:int>"
    got = [tuple(r) for r in out.collect()]
    assert len(got) == len(set(got))
    assert set(got) == want


@pytest.mark.parametrize("case", sorted(CLASSIFY_CASES))
def test_classify_pinned_rows(spark, case):
    rows, want = CLASSIFY_CASES[case]
    out = classify_changes(spark.createDataFrame(rows, "old_code string, new_code string"))
    assert out.schema.simpleString() == (
        "struct<old_code:string,new_code:string,change_type:string>"
    )
    got = [tuple(r) for r in out.collect()]
    assert len(got) == len(set(got))
    assert set(got) == want


@pytest.mark.parametrize("typ,spark_type", [("bigint", "bigint"), ("int", "int")])
def test_closure_integer_codes_keep_edge_types(spark, typ, spark_type):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 3), (3, 5), (6, None)], f"old_code {typ}, new_code {typ}"
    )
    out = successor_closure(e)
    assert out.schema.simpleString() == (
        f"struct<old_code:{spark_type},final_code:{spark_type},n_hops:int>"
    )
    assert {tuple(r) for r in out.collect()} == {
        (1, 5, 3), (2, 5, 2), (3, 5, 1), (4, 5, 2), (6, None, 1)
    }
    kinds = classify_changes(e)
    assert kinds.schema.simpleString() == (
        f"struct<old_code:{spark_type},new_code:{spark_type},change_type:string>"
    )
    assert {tuple(r) for r in kinds.collect()} == {
        (1, 2, "name_change"), (2, 3, "merger"), (4, 3, "merger"),
        (3, 5, "name_change"), (6, None, "name_change"),
    }


def test_closure_and_classify_empty_edges(spark):
    e = spark.createDataFrame([], "old_code string, new_code string")
    out = successor_closure(e)
    assert out.schema.simpleString() == "struct<old_code:string,final_code:string,n_hops:int>"
    assert out.collect() == []
    kinds = classify_changes(e)
    assert kinds.schema.simpleString() == (
        "struct<old_code:string,new_code:string,change_type:string>"
    )
    assert kinds.collect() == []


def test_closure_custom_column_names(spark):
    e = spark.createDataFrame([("A", "B"), ("B", "C")], "src string, dst string")
    out = successor_closure(e, old="src", new="dst")
    assert out.columns == ["src", "final_code", "n_hops"]
    assert {tuple(r) for r in out.collect()} == {("A", "C", 2), ("B", "C", 1)}


def _panel(spark):
    rows = [
        # org, period, name, val
        ("OLD1", 2001, "Old One", 10.0),
        ("OLD1", 2002, "Old One", 20.0),
        ("OLD2", 2001, "Old Two", 5.0),
        ("NEW", 2001, "New Trust", 100.0),
        ("NEW", 2002, "New Trust", 200.0),
        ("PROB", 2001, "Problem Trust", 7.0),
        ("FREE", 2001, "Untouched", 1.0),
        ("NA1", 2001, "All Null", None),
    ]
    return spark.createDataFrame(rows, ["org_code", "period", "org_name", "val"])


def _lookup(spark):
    return spark.createDataFrame(
        [("OLD1", "NEW", 0, 0), ("OLD2", "NEW", 0, 0), ("PROB", "X", 0, 1)],
        ["old_code", "final_code", "experiences_split", "problematic"],
    )


@pytest.mark.slow
def test_adjust_merges_and_conserves_sums(spark):
    out = adjust_org_changes(
        _panel(spark), _lookup(spark), keys=["org_code", "period"],
        sum_cols=["val"], org_col="org_code", period_col="period",
    )
    rows = {(r.org_code, r.period): r for r in out.collect()}
    # merged trust: OLD1+OLD2+NEW in 2001 = 10+5+100
    assert rows[("NEW", 2001)].val == 115.0
    assert rows[("NEW", 2002)].val == 220.0
    # conservation: total value is preserved by adjustment
    total_before = 10 + 20 + 5 + 100 + 200 + 7 + 1
    total_after = sum(r.val for r in rows.values() if r.val is not None)
    assert total_after == total_before
    # problematic trust: flagged, not adjusted
    assert rows[("PROB", 2001)].exp_problematic_org_change == 1
    assert rows[("PROB", 2001)].val == 7.0
    # untouched trust: no flags
    assert rows[("FREE", 2001)].exp_unproblematic_org_change == 0
    # all-null measure stays NULL (NA-preserving sum)
    assert rows[("NA1", 2001)].val is None
    # adjusted group flags
    assert rows[("NEW", 2001)].unproblematic_org_change == 1
    assert rows[("NEW", 2002)].exp_unproblematic_org_change == 1
    # names re-attached from the snapshot
    assert rows[("NEW", 2001)].org_name == "New Trust"


@pytest.mark.slow
def test_adjust_idempotent(spark):
    """Adjusting an already-adjusted panel changes nothing (all old
    codes are gone after the first pass)."""
    out1 = adjust_org_changes(
        _panel(spark), _lookup(spark), keys=["org_code", "period"],
        sum_cols=["val"], org_col="org_code", period_col="period",
    ).select("org_code", "period", "val", "org_name")
    out2 = adjust_org_changes(
        out1, _lookup(spark), keys=["org_code", "period"],
        sum_cols=["val"], org_col="org_code", period_col="period",
    ).select("org_code", "period", "val", "org_name")
    a = {(r.org_code, r.period): r.val for r in out1.collect()}
    b = {(r.org_code, r.period): r.val for r in out2.collect()}
    assert a == b


@pytest.mark.slow
def test_split_affected_partitions(spark):
    aff, unaff = split_affected(_panel(spark), _lookup(spark))
    aff_codes = {r.org_code for r in aff.collect()}
    unaff_codes = {r.org_code for r in unaff.collect()}
    assert aff_codes == {"OLD1", "OLD2", "NEW", "PROB"}  # PROB via old_code, NEW via final
    assert unaff_codes == {"FREE", "NA1"}


ADJUST_COLUMNS = [
    "org_code", "period", "val", "exp_problematic_org_change",
    "unproblematic_org_change", "org_name", "change_period",
    "exp_unproblematic_org_change",
]


def _adjust_expectation(panel, lookup):
    """Pure-Python adjust_org_changes over keys (org_code, period) with
    one summed column: {(org, period): rest of the output row}."""
    lk = {o: (f, p) for o, f, p in lookup}
    groups, change = {}, {}
    for org, period, _name, val in panel:
        final, prob = lk.get(org, (None, None))
        adj = final is not None and (prob or 0) == 0
        g = groups.setdefault((final if adj else org, period), [[], 0, 0])
        g[0].append(val)
        g[1] = max(g[1], int(prob == 1))
        g[2] = max(g[2], int(adj))
        if adj:  # last period the adjusted old codes report, per final code
            change[final] = max(change.get(final, period), period)
    names = {}  # first name per original code by (period, name), NULLs first
    for org, _period, name, _val in sorted(panel, key=lambda r: (r[1], r[2] is not None, r[2] or "")):
        names.setdefault(org, name)
    any_adj = {}
    for (org, _period), g in groups.items():
        any_adj[org] = max(any_adj.get(org, 0), g[2])
    out = {}
    for (org, period), (vals, prob, adj) in groups.items():
        present = [v for v in vals if v is not None]
        out[(org, period)] = (
            sum(present) if present else None, prob, adj,
            names.get(org), change.get(org), any_adj[org],
        )
    return out


def _random_adjust_case(i):
    """One random panel + lookup. Codes carry the case prefix, so many
    cases share one Spark run without their lookups meeting. Lookups
    include self-maps, maps to codes outside the panel, problematic and
    NULL-problematic rows, and (every other case) a swap cycle."""
    import random

    rng = random.Random(i)
    codes = [f"{i}:C{j}" for j in range(6)]
    panel = [
        (rng.choice(codes), rng.randint(2001, 2004),
         rng.choice([None, "MA", "MB", "MC"]),
         rng.choice([None, float(rng.randint(0, 9))]))
        for _ in range(rng.randint(6, 14))
    ]
    olds = rng.sample(codes, rng.randint(0, 3))
    lookup = [(o, rng.choice(codes + [f"{i}:N"]), rng.choice([0, 0, 1, None])) for o in olds]
    free = [c for c in codes if c not in olds]
    if i % 2 == 0:
        a, b = rng.sample(free, 2)
        lookup += [(a, b, 0), (b, a, 0)]
    return panel, lookup


def _adjust(spark, panel, lookup, local=False, local_lookup=None):
    return adjust_org_changes(
        local_frame(
            spark, panel, "org_code string, period int, org_name string, val double", local
        ),
        local_frame(
            spark, [(o, f, 0, p) for o, f, p in lookup],
            "old_code string, final_code string, experiences_split int, problematic int",
            local if local_lookup is None else local_lookup,
        ),
        keys=["org_code", "period"], sum_cols=["val"],
        org_col="org_code", period_col="period", name_col="org_name",
    )


def _adjust_rows(out):
    assert out.columns == ADJUST_COLUMNS
    rows = [tuple(r) for r in out.collect()]
    got = {r[:2]: r[2:] for r in rows}
    assert len(got) == len(rows), "duplicate (org_code, period) in the adjusted panel"
    return got


def test_adjust_random_panels_match_python(spark):
    """30 random cases in one run, adjusted twice: from driver-resident
    inputs (the DAG runs inside the call and the result is a local
    relation) and from non-local inputs (the lazy DAG). Both paths give
    the Python expectation, with the same rows and schema."""
    panel, lookup = [], []
    for i in range(30):
        p, lk = _random_adjust_case(i)
        panel += p
        lookup += lk
    want = _adjust_expectation(panel, lookup)
    results = {}
    for local in (True, False):
        out = _adjust(spark, panel, lookup, local)
        assert out.isLocal() is local
        got = _adjust_rows(out)
        assert got.keys() == want.keys()
        bad = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
        assert not bad, dict(list(bad.items())[:5])
        results[local] = (out.schema, got)
    assert results[True] == results[False]
    # the cases do exercise the change columns
    assert any(v[4] is not None for v in want.values())
    assert any(v[5] == 1 and v[2] == 0 for v in want.values())


def test_adjust_mixed_inputs_stay_lazy(spark):
    """One non-local input is enough to keep the adjustment lazy."""
    panel, lookup = _random_adjust_case(0)
    out = _adjust(spark, panel, lookup, local=True, local_lookup=False)
    assert not out.isLocal()
    assert _adjust_rows(out) == _adjust_expectation(panel, lookup)


def test_adjust_swap_cycle_keeps_original_code_names(spark):
    """C2 -> C4 and C4 -> C2 swap the codes' data. The name snapshot is
    taken per ORIGINAL code before the re-key, so C2 (now holding C4's
    data, whose name is NULL) keeps the name MC2; a name picked inside
    the re-aggregation would give NULL."""
    panel = [("C2", 2001, "MC2", 1.0), ("C4", 2001, None, 2.0), ("C4", 2002, None, 3.0)]
    lookup = [("C2", "C4", 0), ("C4", "C2", 0)]
    got = _adjust_rows(_adjust(spark, panel, lookup))
    assert got == {
        ("C2", 2001): (2.0, 0, 1, "MC2", 2002, 1),
        ("C2", 2002): (3.0, 0, 1, "MC2", 2002, 1),
        ("C4", 2001): (1.0, 0, 1, None, 2001, 1),
    }
    assert got == _adjust_expectation(panel, lookup)

"""The org-change adjustment composite transformer (SURVEY §2.10).

``adjust_org_changes`` re-keys a long panel ``(org_code, period, ...)``
onto post-merger successor codes and re-aggregates, reproducing the
reference's crown-jewel macro-operator
(scripts/wait-times/build_datasets_wait_times.R:433-549 and its inlined
clones in the beds / critical-care / supporting-facilities builders).

Semantics, in the reference's order:

1.  Snapshot ``org_code -> org_name`` (first name seen per code).
2.  Flag rows of *problematic* trusts (lookup ``problematic=1``) —
    these are marked but never adjusted.
3.  Split the panel into affected / unaffected by lookup membership.
4.  Left-join the (broadcast) lookup ``old_code -> final_code``.
5.  Change indicator: the LAST period the adjusted old codes report
    (``max(period)`` per final_code — the oracle and golden replay pin
    exactly this; the supporting-facilities pipeline separately rolls
    its quarterly dates forward, see pipelines/supporting_facilities).
    Computed after step 7 in the per-org window of step 10.
6.  Recode ``org_code := coalesce(final_code, org_code)``.
7.  Re-aggregate the synthetic merged trust: group-by panel keys with
    NA-preserving sums (Spark ``sum`` is already NULL-on-all-NULL).
8.  Recompute ratio columns that don't sum (e.g. percent occupied =
    occupied / available, NULL on zero denominator).
9.  Union adjusted + untouched partitions.
10. Re-attach names; derive ``unproblematic_org_change`` /
    ``exp_unproblematic_org_change`` flags.

The transformer is one DAG: the only shuffles are the re-aggregation
group-by, the name snapshot and the one per-org window that yields both
``change_period`` and ``exp_unproblematic_org_change``; lookup joins
are broadcast. When both inputs are driver-resident (every leaf of
their analyzed plans is a ``LocalRelation``), the DAG runs once, inside
the call, and comes back as one Arrow-backed local relation: the output
is panel-sized, and the panel is already on the driver, so every later
sink reads that relation instead of re-running the DAG. Any other
input (e.g. parquet-backed) gets the lazy DAG.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.functions import safe_div
from nhs_data_pipeline_spark.ops.core import (
    first_per_group,
    grouped_any_flag,
    natural_join,
    union_by_name,
)


def adjust_org_changes(
    df: DataFrame,
    lookup: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    ratio_specs: Mapping[str, tuple[str, str]] | None = None,
    org_col: str = "org_code",
    period_col: str = "period",
    name_col: str | None = "org_name",
) -> DataFrame:
    """Apply org-change adjustment to a long panel.

    Parameters
    ----------
    df : panel with ``org_col``, ``period_col``, measure columns.
    lookup : ``(old_code, final_code, experiences_split, problematic)`` —
        lookup-sized; always broadcast.
    keys : full re-aggregation key set (must include ``org_col`` and
        ``period_col``).
    sum_cols : measure columns re-aggregated by NA-preserving sum.
    ratio_specs : ``{out_col: (numerator_col, denominator_col)}`` ratios
        recomputed *after* summation (ratios don't sum).
    """
    ratio_specs = dict(ratio_specs or {})
    # Only the columns the adjustment reads: carrying extras (e.g.
    # experiences_split) risks AMBIGUOUS_REFERENCE when the panel
    # already has a same-named column.
    lkp = F.broadcast(
        lookup.select(
            F.col("old_code"),
            F.col("final_code"),
            F.col("problematic"),
        )
    )

    # 1. name snapshot (P14): first name per code, deterministic by period.
    names = None
    if name_col is not None and name_col in df.columns:
        # Tiebreak on the name itself: two names in the same earliest
        # period would otherwise pick per-run-arbitrarily (row_number
        # over a non-unique order), flipping the adjusted output's
        # org_name between runs.
        names = first_per_group(
            df.select(org_col, period_col, name_col),
            [org_col],
            [period_col, name_col],
        ).select(org_col, name_col)

    # 2-3. membership flags. A single broadcast left join replaces the
    # reference's physical semi/anti split (J4) — the "partition" is a
    # column predicate, so Catalyst keeps one scan of the fact table.
    joined = df.join(lkp, df[org_col] == lkp["old_code"], "left")
    problematic_flag = F.when(F.col("problematic") == 1, 1).otherwise(0)
    adjustable = F.col("final_code").isNotNull() & (
        F.coalesce(F.col("problematic"), F.lit(0)) == 0
    )
    flagged = joined.withColumn("exp_problematic_org_change", problematic_flag)

    # 6. recode + mark.
    recoded = flagged.withColumn(
        "unproblematic_org_change", F.when(adjustable, 1).otherwise(0)
    ).withColumn(org_col, F.when(adjustable, F.col("final_code")).otherwise(F.col(org_col)))

    # 7. re-aggregate NA-preserving sums over the full key set; the
    # change flags ride along via max() so merged groups stay flagged.
    aggregated = recoded.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.max("exp_problematic_org_change").alias("exp_problematic_org_change"),
        F.max("unproblematic_org_change").alias("unproblematic_org_change"),
    )

    # 8. recompute ratios post-sum (build_datasets_overnight_day_beds.R:528-539).
    out = aggregated
    for out_col, (num, den) in ratio_specs.items():
        out = out.withColumn(out_col, safe_div(F.col(num), F.col(den)))

    # 10. re-attach names and change metadata.
    if names is not None:
        out = natural_join(out, names, how="left", broadcast_right=True)
    # 5. change indicator: the last period the adjusted old codes report.
    # Adjusted rows carry org := final_code and period is a key, so this
    # is the max period of each org's adjusted groups — computed in the
    # same org window as the group flag, with no aggregate + join.
    adjusted_group = F.col("unproblematic_org_change") == 1
    out = out.withColumn(
        "change_period",
        F.max(F.when(adjusted_group, F.col(period_col))).over(Window.partitionBy(org_col)),
    )
    out = grouped_any_flag(out, [org_col], adjusted_group, "exp_unproblematic_org_change")
    if _driver_resident(df) and _driver_resident(lookup):
        return out.sparkSession.createDataFrame(out.toArrow(), schema=out.schema)
    return out


def _driver_resident(df: DataFrame) -> bool:
    """True when every leaf of ``df``'s analyzed plan is a ``LocalRelation``."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return all(
        leaves.apply(i).getClass().getSimpleName() == "LocalRelation"
        for i in range(leaves.size())
    )


def split_affected(
    df: DataFrame, lookup: DataFrame, org_col: str = "org_code"
) -> tuple[DataFrame, DataFrame]:
    """J4 — physical semi/anti split by lookup membership, for callers
    that need the two partitions separately
    (build_datasets_wait_times.R:474-478)."""
    keys = F.broadcast(
        union_by_name(
            [lookup.select(F.col("old_code").alias(org_col)),
             lookup.select(F.col("final_code").alias(org_col))]
        ).distinct()
    )
    affected = df.join(keys, org_col, "left_semi")
    unaffected = df.join(keys, org_col, "left_anti")
    return affected, unaffected

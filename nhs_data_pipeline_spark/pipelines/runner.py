"""Generic declarative series-pipeline runner.

The reference builds each data series (supporting facilities, beds,
critical care, RTT) with an imperative, partly *interactive* script —
file pickers, rename prompts (scripts/build_datasets_general.py).
Here every series is a ``SeriesConfig``: file globs + per-era schema
treatment + rename/coalesce/filter rules + adjustment spec, executed by
one generic runner as a single lazy DAG. SURVEY §7 step 6.

The minimum end-to-end slice (supporting-facilities shape) exercises:
messy ingest (S5-S8), header detection (P10/R3), clean_names (R4),
rename maps (R5), column coalescing (J2), junk-row filters (P6/P7),
union-by-name (U1), numeric coercion (F12/F11), sort + CSV sink (O1/S9),
and the org-change adjustment composite (§2.10).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.functions import to_numeric
from nhs_data_pipeline_spark.io.readers import (
    FILENAME_METADATA,
    pandas_to_spark,
    read_messy_csv_pandas,
    with_filename_metadata,
)
from nhs_data_pipeline_spark.ops.core import coalesce_columns
from nhs_data_pipeline_spark.orgchange.adjust import adjust_org_changes


@dataclass
class SeriesConfig:
    """Everything the reference asked interactively, as data."""

    name: str
    files: Sequence[str]                                  # raw file paths (S4 discovery output)
    marker: str | None = None                             # header-in-data marker (P10)
    skip: int = 0                                         # fixed preamble rows (S5)
    skip_markers: Sequence[str] = ()                      # drop whole file if seen (P12)
    rename: dict[str, str] = field(default_factory=dict)  # era-variant renames (R5)
    coalesce: dict[str, Sequence[str]] = field(default_factory=dict)  # J2
    numeric_cols: Sequence[str] = ()                      # coerce to double (F12)
    drop_name_values: Sequence[str] = ()                  # junk org rows (P7)
    require_cols: Sequence[str] = ()                      # not-null filter (P6)
    keys: Sequence[str] = ("org_code", "period")  # CONTRACT: (org, period, ...rest)
    sum_cols: Sequence[str] = ()
    org_lookup: DataFrame | None = None                   # org-change lookup (§2.10)
    name_col: str | None = "org_name"


def run_series(spark: SparkSession, cfg: SeriesConfig) -> DataFrame:
    """Execute a series pipeline: per-file messy ingest -> harmonize ->
    union -> clean -> (optional) org-change adjust. Returns the final
    panel as one lazy DataFrame (sinks are the caller's choice).

    Per-file work is pandas on the driver (small raw files, SURVEY §4):
    messy ingest and the ``cfg.rename`` of each file, then one
    ``pd.concat`` whose NULL fill and column order are
    ``union_by_name``'s, and one ``createDataFrame``. The panel plan
    has one local leaf, not a union of one per file, and Catalyst folds
    the projections and filters below into it. The filename metadata
    columns are derived after the rename, so ``cfg.rename`` does not
    apply to them.
    """
    frames, columns = [], {}
    for path in cfg.files:
        pdf = read_messy_csv_pandas(
            path, skip=cfg.skip, marker=cfg.marker, skip_markers=cfg.skip_markers
        )
        if pdf is None:  # P12: whole-file exclusion predicate matched
            continue
        names = [cfg.rename.get(c, c) for c in pdf.columns]
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            raise ValueError(
                f"series {cfg.name}: renaming the columns of {path} gives"
                f" duplicate names {dupes}"
            )
        pdf.columns = names
        frames.append(pdf)
        # union_by_name order: first appearance, metadata after each file's own columns
        columns.update(dict.fromkeys(names + list(FILENAME_METADATA)))
    if not frames:
        raise ValueError(f"series {cfg.name}: every input file was skipped")
    panel = pandas_to_spark(spark, pd.concat(frames, ignore_index=True, sort=False))
    panel = with_filename_metadata(panel).select(*columns)
    panel = coalesce_columns(panel, cfg.coalesce)
    for c in cfg.require_cols:
        panel = panel.filter(F.col(c).isNotNull())
    if cfg.drop_name_values and cfg.name_col in panel.columns:
        # NULL-name rows are KEPT: R's !(x %in% drop) keeps NA, while a
        # bare ~isin() is NULL for NULL input and filter() would
        # silently drop every row whose name cell was a sentinel.
        nc = F.col(cfg.name_col)
        panel = panel.filter(
            nc.isNull() | ~nc.isin(list(cfg.drop_name_values))
        )
    for c in cfg.numeric_cols:
        if c in panel.columns:
            panel = panel.withColumn(c, to_numeric(c))
    if cfg.org_lookup is not None:
        # CONTRACT: keys[0] is the org column, keys[1] the period
        # column (documented on SeriesConfig) — a differently-ordered
        # key tuple would silently no-op the adjustment (the lookup
        # join would never match), so fail loudly on an obvious breach.
        keys = list(cfg.keys)
        if len(keys) < 2:
            raise ValueError(
                f"series {cfg.name}: org-change adjustment needs keys ="
                f" (org_col, period_col, ...); got {keys!r}"
            )
        panel = adjust_org_changes(
            panel,
            cfg.org_lookup,
            keys=keys,
            sum_cols=list(cfg.sum_cols),
            org_col=keys[0],
            period_col=keys[1],
            name_col=cfg.name_col,
        )
    return panel

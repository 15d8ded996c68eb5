"""Command-line entry points.

``python -m nhs_data_pipeline_spark.cli build-supporting-facilities``
replaces the reference's two-script chain (build_datasets_main.py
cleaning block + clean_org_changes_supporting_facilities.R) with one
command: raw appended CSV -> clean panel -> org-change-adjusted panel,
written as single CSVs (reference-format parity) or parquet.
"""

from __future__ import annotations

import argparse
import csv
import glob
import os
import sys

from pyspark.sql import functions as F


def build_supporting_facilities(args: argparse.Namespace) -> None:
    from nhs_data_pipeline_spark.functions import clean_sentinels
    from nhs_data_pipeline_spark.io.readers import read_messy_csv
    from nhs_data_pipeline_spark.io.writers import write_parquet, write_single_csv
    from nhs_data_pipeline_spark.ops.core import coalesce_columns, rename_columns
    from nhs_data_pipeline_spark.pipelines.supporting_facilities import (
        adjust_supporting_facilities,
    )
    from nhs_data_pipeline_spark.session import get_spark

    spark = get_spark("build-supporting-facilities")

    raw = spark.read.option("header", True).option("nullValue", "").csv(args.raw)
    for c in raw.columns:
        raw = raw.withColumn(c, clean_sentinels(F.col(c), ["", "NA"]))
    clean = coalesce_columns(
        raw,
        {
            "SHA_2": ["SHA", "SHA Code"],
            "organisation_code": ["OrgID", "Organisation Code"],
            "organisation_name": ["Name", "Organisation Name"],
            "area_team_code": ["Area Team Code"],
            "area_team_name": ["Area Team Name"],
            "region_code": ["Region Code"],
            "region_name": ["Region Name"],
        },
    ).drop("NA")
    clean = rename_columns(
        clean,
        {
            "SHA_2": "SHA",
            "Number of operating theatres": "nr_operating_theatres",
            "Of which, number of dedicated day case theatres": "nr_day_case_theatres",
        },
    )
    clean = (
        clean.filter(F.col("organisation_code").isNotNull())
        .filter(
            F.col("nr_day_case_theatres").isNotNull()
            & (
                F.col("nr_day_case_theatres")
                != "Of which, number of dedicated day case theatres"
            )
        )
        .filter(
            ~F.col("organisation_name").isin(
                "England (Including Independent Sector)",
                "England (Excluding Independent Sector)",
            )
        )
    )

    # the adjuster needs the ingest row index for its name-pick order;
    # round-trip the clean panel through the messy-CSV reader
    clean_csv = f"{args.out}/supporting-facilities_clean.csv"
    write_single_csv(clean, clean_csv, order_by=["year_var", "quarter_var"])
    clean_indexed = read_messy_csv(spark, clean_csv, header=0, na_tokens=["NA", ""])

    lookup = spark.read.csv(args.lookup, header=True, inferSchema=True)
    adjusted = adjust_supporting_facilities(clean_indexed, lookup)

    if args.format == "csv":
        out = write_single_csv(
            adjusted,
            f"{args.out}/supporting-facilities_clean_org_change_adj.csv",
            order_by=["org_code", "year", "quarter"],
            null_value="NA",  # R write.csv NA rendering
        )
    else:
        out = write_parquet(
            adjusted,
            f"{args.out}/supporting-facilities_adjusted.parquet",
            partition_by=["year"],
        )
    # count what was written: adjusted.count() would re-run the adjust DAG
    print(f"clean rows: {clean_indexed.count()}  adjusted rows: {_written_rows(out)}")


def _written_rows(path: str) -> int:
    """Data rows of a writer's output: a single headered CSV file, or a
    parquet directory (summed footer row counts, no Spark job)."""
    if os.path.isdir(path):
        import pyarrow.parquet as pq

        parts = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        return sum(pq.read_metadata(p).num_rows for p in parts)
    with open(path, newline="") as fh:
        return sum(1 for _ in csv.reader(fh)) - 1


def curate(args: argparse.Namespace) -> None:
    """Corpus in (parquet or JSONL) -> audit panel -> keep-filtered
    documents out as deterministic JSONL shards, panel written
    alongside as parquet for the evidence trail."""
    from nhs_data_pipeline_spark.io.formats import read_jsonl
    from nhs_data_pipeline_spark.io.writers import write_jsonl_shards, write_parquet
    from nhs_data_pipeline_spark.llm.curate import audit_panel
    from nhs_data_pipeline_spark.session import get_spark

    spark = get_spark("curate")
    fmt = args.format
    if fmt == "auto":
        if args.input.endswith((".jsonl", ".json", ".jsonl.gz", ".json.gz")):
            fmt = "jsonl"
        elif os.path.isdir(args.input) and glob.glob(
            os.path.join(args.input, "**", "*.json*"), recursive=True
        ):
            fmt = "jsonl"  # e.g. a previous run's kept/ shard directory
        else:
            fmt = "parquet"
    docs = (
        read_jsonl(spark, args.input).drop("_corrupt_record")
        if fmt == "jsonl"
        else spark.read.parquet(args.input)
    )

    # The panel is the most expensive lineage in the repo (six signal
    # subplans); eager-persist it once instead of recomputing it for
    # the panel write, the kept join, and the count.
    thresholds = {
        k: v
        for k, v in {
            "quality_min": args.quality_min,
            "dup3_max": args.dup3_max,
            "span_dup_max": args.span_dup_max,
            "oov_max": args.oov_max,
            "lm_ce_max": args.lm_ce_max,
        }.items()
        if v is not None
    }
    panel = audit_panel(
        docs,
        lm_reference=F.expr(args.lm_reference),
        dsir_target=F.expr(args.dsir_target),
        text_col=args.text_col,
        id_col=args.id_col,
        thresholds=thresholds or None,
        vocab_k=args.vocab_k,
    ).persist()
    n_in = panel.count()
    try:
        write_parquet(panel, f"{args.out}/panel")
        kept = docs.join(
            panel.filter(F.col("keep")).select(
                F.col("doc_id").alias(args.id_col)
            ),
            args.id_col,
        )
        write_jsonl_shards(kept, f"{args.out}/kept", args.shards, args.id_col)
        n_kept = panel.filter(F.col("keep")).count()
    finally:
        panel.unpersist()
    print(f"curate: {n_in} docs in, {n_kept} kept -> {args.out}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="nhs_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser(
        "build-supporting-facilities",
        help="raw appended CSV -> clean -> org-change-adjusted panel",
    )
    b.add_argument("--raw", required=True, help="appended raw CSV path")
    b.add_argument("--lookup", required=True, help="trust lookup CSV path")
    b.add_argument("--out", required=True, help="output directory")
    b.add_argument("--format", choices=["csv", "parquet"], default="csv")
    b.set_defaults(fn=build_supporting_facilities)

    c = sub.add_parser(
        "curate",
        help="corpus (parquet/JSONL) -> audit panel -> kept JSONL shards",
    )
    c.add_argument("--input", required=True, help="corpus path")
    c.add_argument("--out", required=True, help="output directory")
    c.add_argument("--shards", type=int, default=8)
    c.add_argument("--text-col", default="text")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument(
        "--format",
        choices=["auto", "parquet", "jsonl"],
        default="auto",
        help="input format; auto sniffs suffix, then *.json* files in a directory",
    )
    # Keep thresholds (defaults live in llm/curate.py and were
    # calibrated on the synthetic gate corpus — tune for real text).
    c.add_argument("--quality-min", type=float, default=None)
    c.add_argument("--dup3-max", type=float, default=None)
    c.add_argument("--span-dup-max", type=float, default=None)
    c.add_argument("--oov-max", type=float, default=None)
    c.add_argument("--lm-ce-max", type=float, default=None)
    c.add_argument(
        "--vocab-k",
        type=int,
        default=25,
        help="top-K corpus vocabulary for the OOV signal (raise for natural text)",
    )
    c.add_argument(
        "--lm-reference",
        default="true",
        help="SQL predicate selecting the perplexity-LM training slice",
    )
    c.add_argument(
        "--dsir-target",
        default="true",
        help="SQL predicate selecting the DSIR target domain",
    )
    c.set_defaults(fn=curate)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])

"""build-supporting-facilities CLI: raw CSV + lookup -> adjusted panel,
with the printed row count read from the written output."""

from __future__ import annotations

import csv
import re

import pytest

from nhs_data_pipeline_spark.cli import main

RAW_HEADER = [
    "SHA", "OrgID", "Name", "Number of operating theatres",
    "Of which, number of dedicated day case theatres", "year_var", "quarter_var",
]
RAW_ROWS = [
    ["Q30", "OLD1", "Old Trust One", "4", "1", "2012", "Q1"],
    ["Q30", "NEW", "New Trust", "10", "2", "2012", "Q1"],
    ["Q30", "RX9", "Free Trust", "NA", "0", "2012", "Q1"],
    ["Q30", "", "England (Including Independent Sector)", "300", "30", "2012", "Q1"],
    ["Q30", "NEW", "New Trust", "11", "3", "2012", "Q2"],
    ["Q30", "RX9", "Free Trust", "5", "0", "2012", "Q2"],
]


def _write(path, rows):
    with open(path, "w", newline="") as fh:
        csv.writer(fh).writerows(rows)
    return str(path)


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_build_supporting_facilities_reports_written_rows(spark, tmp_path, capsys, fmt):
    raw = _write(tmp_path / "raw.csv", [RAW_HEADER] + RAW_ROWS)
    lookup = _write(
        tmp_path / "lookup.csv",
        [["old_code", "final_code", "experiences_split", "problematic"], ["OLD1", "NEW", 0, 0]],
    )
    out = tmp_path / "out"
    out.mkdir()
    # the command builds its session through get_spark, which resets the
    # shared test session's shuffle partitions; put them back after
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        main(["build-supporting-facilities", "--raw", raw, "--lookup", lookup,
              "--out", str(out), "--format", fmt])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    printed = re.search(r"clean rows: (\d+)  adjusted rows: (\d+)", capsys.readouterr().out)
    assert printed, "row counts not printed"
    if fmt == "csv":
        written = spark.read.csv(
            str(out / "supporting-facilities_clean_org_change_adj.csv"), header=True
        )
    else:
        written = spark.read.parquet(str(out / "supporting-facilities_adjusted.parquet"))
    # OLD1 merged into NEW; the England row is filtered out
    assert int(printed.group(1)) == 5
    assert int(printed.group(2)) == written.count() == 4
    assert "OLD1" not in {r.org_code for r in written.select("org_code").collect()}

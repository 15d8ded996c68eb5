"""The benchmark workloads, built only from the package's public calls.

Each workload exposes:

- ``prime()``: untimed work before the timed loop, returning
  ``(operations attempted, failure messages, cold latencies)``;
- ``op()``: one timed operation (a build, or a round of the query mix),
  returning the number of failed operations and the per-query
  latencies of a round;
- ``final_check()``: output checks after the loop, one message per
  failed operation.

Package functions are always called through their module attribute, so
the traced run's wrappers see every call.
"""

from __future__ import annotations

import glob
import math
import os
import random
import time
from datetime import date, datetime
from decimal import Decimal

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nhs_data_pipeline_spark import queries
from nhs_data_pipeline_spark.io import writers
from nhs_data_pipeline_spark.orgchange import adjust, closure
from nhs_data_pipeline_spark.pipelines import runner

from perfbench import gen

MEASURES = ["beds_available", "beds_occupied"]
PANEL_KEYS = ["org_code", "period", "year"]


class PanelBuild:
    """Raw releases -> harmonised panel -> org-change adjusted -> written.
    The first timed build is the cold one, as the one-shot ETL job pays."""

    name = "panel_build"
    ops_per_round = 1
    max_ops = 1  # a process builds cold only once

    def __init__(self, spark, inp: str, out: str, tracer, seed: int):
        self.spark, self.inp, self.out, self.tracer = spark, inp, out, tracer
        self.files = sorted(glob.glob(os.path.join(inp, "releases", "*.csv")))

    def lookup(self):
        edges = self.spark.read.csv(os.path.join(self.inp, "succession.csv"), header=True)
        finals = closure.successor_closure(edges)
        changes = closure.classify_changes(edges)
        split = (changes.filter(F.col("change_type") == "split")
                 .select("old_code").distinct().withColumn("is_split", F.lit(1)))
        # one row per old code: a split origin keeps one (any) final code
        # and is flagged problematic, so the adjustment leaves it alone
        flag = ((F.col("n_final") > 1) | F.col("is_split").isNotNull()).cast("int")
        return (finals.groupBy("old_code")
                .agg(F.min("final_code").alias("final_code"),
                     F.countDistinct("final_code").alias("n_final"))
                .join(split, "old_code", "left")
                .select("old_code", "final_code",
                        flag.alias("experiences_split"), flag.alias("problematic")))

    def op(self) -> tuple[int, list]:
        lookup = self.lookup()
        cfg = runner.SeriesConfig(
            name="beds",
            files=self.files,
            marker=gen.MARKER,
            rename={"total_beds_available": "beds_available"},
            coalesce={"org_code": ["org_code", "organisation_code"],
                      "org_name": ["org_name", "organisation_name"]},
            numeric_cols=MEASURES,
            drop_name_values=gen.JUNK_NAMES,
            require_cols=["org_code"],
            keys=PANEL_KEYS,
            sum_cols=MEASURES,
        )
        panel = runner.run_series(self.spark, cfg)
        adjusted = adjust.adjust_org_changes(
            panel, lookup, keys=PANEL_KEYS, sum_cols=MEASURES,
            org_col="org_code", period_col="period", name_col="org_name",
        )
        writers.write_parquet(adjusted, os.path.join(self.out, "panel.parquet"),
                              partition_by=["year"])
        writers.write_single_csv(adjusted, os.path.join(self.out, "panel.csv"),
                                 order_by=["org_code", "period"])
        return 0, []

    def prime(self) -> tuple[int, list[str], list[float]]:
        return 0, [], []

    def input_props(self) -> dict:
        return {}

    def final_check(self) -> list[str]:
        fails = self.check()
        return ["; ".join(fails)] if fails else []

    def check(self) -> list[str]:
        got = pq.read_table(os.path.join(self.out, "panel.parquet")).to_pylist()
        fails = []
        keys = [(r["org_code"], r["period"]) for r in got]
        if len(set(keys)) != len(keys):
            fails.append(f"panel_build: {len(keys) - len(set(keys))} duplicate (org_code, period)")
        survivors = {k[0] for k in keys} & gen.retired_codes(self.inp)
        if survivors:
            fails.append(f"panel_build: retired codes survive: {sorted(survivors)[:5]}")
        want = gen.expected_panel(self.inp)
        have = {(r["org_code"], r["period"]): tuple(r[m] for m in MEASURES) for r in got}
        if have != want:
            bad = sorted(k for k in set(have) | set(want) if have.get(k) != want.get(k))
            fails.append(f"panel_build: {len(bad)} panel cells differ from expectation, "
                         f"e.g. {[(k, have.get(k), want.get(k)) for k in bad[:3]]}")
        with open(os.path.join(self.out, "panel.csv")) as fh:
            n_csv = sum(1 for _ in fh) - 1
        if n_csv != len(got):
            fails.append(f"panel_build: csv has {n_csv} rows, parquet {len(got)}")
        return fails


# The mix: TPC-H scan/join/agg, the panel ops, and the llm dedup
# operators (MinHash-LSH candidates, exact-Jaccard verification). Short
# queries whose cost is plan build, Catalyst planning, codegen and
# shuffle execution; no raw-file ingest and no writer.
MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q18_large_orders", "j3_transitive_closure", "j5_asof_join", "j6_range_join",
    "w1_cumulative_sum", "w56_binned_stats", "r1_unpivot", "orgchange_adjust_panel",
    "minhash_lsh_pairs", "dedup_jaccard_pairs",
]


def _row_hash(df):
    return F.hash(*[F.col(c) for c in df.columns]).cast("long")


def _hash_sum(df):
    """The bench.py action: hash-sum every output column, so no branch of
    the plan can be pruned and the whole result is computed."""
    return df.agg(F.sum(_row_hash(df)))


def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, (str, datetime, date)):
        return v
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    return repr(tuple(f"{x:.6g}" if isinstance(x, float) else x for x in row))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=_sort_key)


class QueryMix:
    """One closed-loop client running seed-shuffled rounds of MIX."""

    name = "query_mix"

    ops_per_round = len(MIX)
    max_ops = None

    def __init__(self, spark, inp: str, out: str, tracer, seed: int):
        self.spark, self.inp, self.tracer = spark, inp, tracer
        self.rng = random.Random(seed)
        self.reference: dict[str, object] = {}
        self.first_latency: dict[str, float] = {}

    def prime(self) -> tuple[int, list[str], list[float]]:
        return len(MIX), self.check(), list(self.first_latency.values())

    def final_check(self) -> list[str]:
        return []  # every timed query was compared with its checked first run

    def input_props(self) -> dict:
        # the working set for the 512-entry whole-stage-codegen cache
        return {"distinct_queries": len(MIX)}

    def check(self) -> list[str]:
        """Each distinct query once against its DuckDB oracle. This first
        run of each query in the process is timed as its cold latency, and
        its hash-sum is recorded for the timed rounds to match."""
        import duckdb

        con = duckdb.connect()
        for p in sorted(glob.glob(os.path.join(self.inp, "*.parquet"))):
            name = os.path.basename(p)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        fails = []
        try:
            for name in MIX:
                t0 = time.perf_counter()
                df = queries.QUERIES[name](self.spark, self.inp)
                rows = df.withColumn("__row_hash", _row_hash(df)).collect()
                self.first_latency[name] = time.perf_counter() - t0
                got = _rows(df.columns, [tuple(r)[:-1] for r in rows])
                # what the timed rounds' hash-sum action must reproduce
                self.reference[name] = sum(r[-1] for r in rows) if rows else None
                res = con.execute(queries.ORACLES[name])
                cols = [d[0] for d in res.description]
                want = _rows(cols, res.fetchall())
                if sorted(cols) != sorted(df.columns):
                    fails.append(f"query_mix: {name} columns {sorted(df.columns)} vs {sorted(cols)}")
                elif len(got) != len(want) or not all(_same(a, b) for a, b in zip(got, want)):
                    fails.append(f"query_mix: {name} differs from its oracle "
                                 f"({len(got)} vs {len(want)} rows)")
        finally:
            con.close()
        return fails

    def op(self) -> tuple[int, list]:
        """One round: every MIX query once, in a seed-shuffled order. A
        query whose hash-sum differs from its checked first run fails."""
        order = list(MIX)
        self.rng.shuffle(order)
        lat, failed = [], 0
        for name in order:
            t0 = time.perf_counter()
            with self.tracer.span("queries.build"):
                df = queries.QUERIES[name](self.spark, self.inp)
            forced = _hash_sum(df)
            with self.tracer.span("queries.plan"):
                forced._jdf.queryExecution().executedPlan()
            with self.tracer.span("queries.exec") as rec:
                value = forced.collect()[0][0]
            lat.append(time.perf_counter() - t0)
            if rec is not None:
                rec["query"] = name
            failed += value != self.reference[name]
        return failed, lat


WORKLOADS = {w.name: w for w in (PanelBuild, QueryMix)}

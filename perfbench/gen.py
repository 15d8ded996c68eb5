"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files, and ``cached`` builds each input set once
per checkout (outside any timed region) under ``.perfbench/cache``.
Each generator returns a JSON-able ``props`` dict describing the input
(file/row counts, org-change coverage, chain length, near-duplicate share)
which every benchmark result records.
"""

from __future__ import annotations

import csv
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # trusts x quarterly releases for panel_build
    "panel_build": {"tiny": (24, 4), "bench": (150, 16)},
    # lineitem rows for query_mix (other tables scale with it)
    "query_mix": {"tiny": 2_000, "bench": 20_000},
}

# ---------------------------------------------------------------------------
# panel_build: messy quarterly NHS releases + a succession edge list
# ---------------------------------------------------------------------------

ERA1 = ["Org Code", "Org Name", "Year", "Period", "Beds Available", "Beds Occupied"]
ERA2 = ["Organisation Code", "Organisation Name", "Year", "Period",
        "Total Beds Available", "Beds Occupied"]
PREAMBLE = [
    "Bed Availability and Occupancy Data - Overnight",
    "Published by NHS England",
    "Source: KH03 quarterly return",
    "",
    "Figures are provisional",
]
SENTINELS = ["-", "NA", ""]
JUNK_NAMES = ["England", "England (Including Independent Sector)"]
# header-in-data marker: present in both eras' code/name headers and in
# no preamble line
MARKER = "org"


def _quarters(n: int) -> list[tuple[int, int]]:
    return [(2018 + i // 4, 1 + i % 4) for i in range(n)]


def _succession(rng: random.Random, codes: list[str], n_q: int):
    """Org changes over the trust list. Returns ``(edges, reports)``:
    one-hop ``(old, new)`` edges, and each code's reporting window
    ``code -> (first_q, end_q)``; an old code stops reporting at the
    quarter its change takes effect and its successors start there."""
    pool = list(codes)
    rng.shuffle(pool)
    reports = {c: (0, n_q) for c in codes}
    edges: list[tuple[str, str]] = []
    fresh = iter(f"N{i:03d}" for i in range(1000))
    n = max(1, len(codes) // 25)

    def change_q() -> int:
        return rng.randint(1, n_q - 1)

    for _ in range(n):  # name changes: old -> fresh code
        old, new, q = pool.pop(), next(fresh), change_q()
        edges.append((old, new))
        reports[old], reports[new] = (0, q), (q, n_q)
    for _ in range(n):  # mergers: 2-3 olds -> a surviving trust
        survivor, q = pool.pop(), change_q()
        for _ in range(rng.randint(2, 3)):
            old = pool.pop()
            edges.append((old, survivor))
            reports[old] = (0, q)
    for _ in range(n):  # chains of 3-4 hops through fresh codes
        hops = rng.randint(3, 4)
        if n_q <= hops:
            continue
        qs = sorted(rng.sample(range(1, n_q), hops))
        prev, start = pool.pop(), 0
        for q in qs:
            nxt = next(fresh)
            edges.append((prev, nxt))
            reports[prev] = (start, q)
            prev, start = nxt, q
        reports[prev] = (start, n_q)
    for _ in range(n):  # splits: one old -> two fresh codes
        old, q = pool.pop(), change_q()
        for _ in range(2):
            new = next(fresh)
            edges.append((old, new))
            reports[new] = (q, n_q)
        reports[old] = (0, q)
    return edges, reports


def closure_py(edges: list[tuple[str, str]]) -> dict[str, set[str]]:
    """Pure-Python successor closure: each old code -> its terminal codes."""
    succ: dict[str, set[str]] = {}
    for o, n in edges:
        succ.setdefault(o, set()).add(n)

    def walk(c: str, depth: int = 0) -> set[str]:
        if c not in succ or depth > 50:
            return {c}
        return set().union(*(walk(n, depth + 1) for n in succ[c]))

    return {o: walk(o) for o in succ}


def make_panel_build(out: str, seed: int, size: str) -> dict:
    n_trusts, n_q = SIZES["panel_build"][size]
    rng = random.Random(seed)
    codes = [f"R{i:03d}" for i in range(n_trusts)]
    edges, reports = _succession(rng, codes, n_q)
    names = {c: f"Trust {c} NHS Foundation Trust" for c in reports}
    quarters = _quarters(n_q)
    era_switch = n_q // 2
    os.makedirs(os.path.join(out, "releases"))
    n_rows = 0
    for qi, (year, q) in enumerate(quarters):
        header = ERA1 if qi < era_switch else ERA2
        width = len(header)
        rows = [[line] + [""] * (width - 1)
                for line in PREAMBLE[: rng.randint(2, 5)]]
        rows.append(header)
        rows.append(["", JUNK_NAMES[0], str(year), f"{year}-Q{q}", "", ""])
        rows.append(["ENG", JUNK_NAMES[1], str(year), f"{year}-Q{q}",
                     f"{rng.randint(90_000, 110_000):,}",
                     f"{rng.randint(80_000, 100_000):,}"])
        for code in sorted(reports):
            lo, hi = reports[code]
            if not lo <= qi < hi:
                continue
            vals = []
            for base in (rng.randint(100, 2_500), rng.randint(50, 2_000)):
                r = rng.random()
                vals.append(SENTINELS[int(r * 60)] if r < 0.05
                            else f"{base:,}" if r > 0.9 else str(base))
            rows.append([code, names[code], str(year), f"{year}-Q{q}", *vals])
            n_rows += 1
        path = os.path.join(out, "releases", f"beds-{year}-Q{q}.csv")
        with open(path, "w", newline="") as fh:
            csv.writer(fh, lineterminator="\n").writerows(rows)
    with open(os.path.join(out, "succession.csv"), "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(["old_code", "new_code"])
        w.writerows(edges)
    clo = closure_py(edges)
    touched = {c for c in codes if c in clo or any(c in f for f in clo.values())}
    longest = max(_chain_len(edges, o) for o in clo)
    return {
        "files": n_q + 1,
        "releases": n_q,
        "rows": n_rows,
        "trusts": n_trusts,
        "edges": len(edges),
        "org_change_share": round(len(touched) / n_trusts, 4),
        "longest_chain": longest,
    }


def _chain_len(edges: list[tuple[str, str]], start: str) -> int:
    succ: dict[str, list[str]] = {}
    for o, n in edges:
        succ.setdefault(o, []).append(n)
    return 0 if start not in succ else 1 + max(
        _chain_len(edges, n) for n in succ[start]
    )


def _num(v: str) -> float | None:
    return None if v.strip() in SENTINELS else float(v.replace(",", ""))


def expected_panel(inp: str) -> dict[tuple[str, str], tuple]:
    """The adjusted panel the generator's own files imply, computed in
    pure Python: junk rows dropped, sentinels NULL, every old code of a
    non-split change re-keyed to its terminal successor, measures summed
    NULL-preservingly per ``(org_code, period)``."""
    with open(os.path.join(inp, "succession.csv")) as fh:
        edges = [tuple(r) for r in list(csv.reader(fh))[1:]]
    remap = {o: next(iter(f)) for o, f in closure_py(edges).items() if len(f) == 1}
    acc: dict[tuple[str, str], list] = {}
    rel = os.path.join(inp, "releases")
    for name in sorted(os.listdir(rel)):
        with open(os.path.join(rel, name)) as fh:
            rows = list(csv.reader(fh))
        start = next(i for i, r in enumerate(rows)
                     if any(MARKER in c.lower() for c in r)) + 1
        for code, org_name, _year, period, avail, occ in rows[start:]:
            if code.strip() in SENTINELS or org_name in JUNK_NAMES:
                continue
            key = (remap.get(code, code), period)
            cur = acc.setdefault(key, [None, None])
            for i, v in enumerate((_num(avail), _num(occ))):
                if v is not None:
                    cur[i] = v if cur[i] is None else cur[i] + v
    return {k: tuple(v) for k, v in acc.items()}


def retired_codes(inp: str) -> set[str]:
    """Old codes of non-split changes: none may survive adjustment."""
    with open(os.path.join(inp, "succession.csv")) as fh:
        edges = [tuple(r) for r in list(csv.reader(fh))[1:]]
    return {o for o, f in closure_py(edges).items() if len(f) == 1}


# ---------------------------------------------------------------------------
# query_mix: TPC-H-style + events + documents parquet tables
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "MACHINERY", "HOUSEHOLD", "FURNITURE", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "STANDARD", "ECONOMY", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["large", "hot", "blue", "small", "dark", "cold", "light", "red"]
PNOUN = ["ring", "bolt", "disk", "cable", "panel", "lens", "gear", "valve"]
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
DAY_US = 86_400_000_000


def _ts(base: str, us: np.ndarray) -> pa.Array:
    origin = np.datetime64(base, "us")
    return pa.array(origin + us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n_doc: int, dup_every: int):
    """Documents over a small vocabulary plus one near-duplicate (one
    word appended) per ``dup_every`` base documents. Returns the table
    columns and the injected ``(source_id, duplicate_id)`` pairs."""
    vocab = np.array(DOC_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(30, 90)))])
             for _ in range(n_doc)]
    pairs = []
    for src in range(0, n_doc, dup_every):
        pairs.append((src, len(texts)))
        texts.append(texts[src] + " " + str(vocab[rng.integers(len(vocab))]))
    n = len(texts)
    cols = {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    return cols, pairs


def make_query_mix(out: str, seed: int, size: str) -> dict:
    n_li = SIZES["query_mix"][size]
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    rows = {}

    def write(name: str, cols: dict) -> None:
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = table.num_rows

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part, n_ord = n_li // 40, max(10, n_li // 600), n_li // 30, n_li // 4
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    span = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    oday = rng.integers(0, span + 1, n_ord).astype(np.int64)
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", oday * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    li_order = rng.integers(0, n_ord, n_li).astype(np.int64)
    ship = np.clip(oday[li_order] + rng.integers(-2400, 2500, n_li), 1, span + 95)
    write("lineitem", {
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        # 1..7, NOT unique per order: windows must carry a total order
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", ship * DAY_US),
    })
    n_ev, n_users = n_li // 4, max(20, n_li // 160)
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", rng.integers(0, 30 * DAY_US, n_ev, dtype=np.int64)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.25), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    docs, pairs = _documents(rng, max(100, n_li // 40), 16)
    write("documents", docs)
    return {"files": len(rows), "rows": sum(rows.values()), "table_rows": rows,
            "near_dup_share": round(len(pairs) / rows["documents"], 4)}


MAKERS = {
    "panel_build": make_panel_build,
    "query_mix": make_query_mix,
}


def cached(root: str, workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Input directory for ``(workload, seed, size)``, generated on first
    use (written to a temporary name, then renamed into place)."""
    path = os.path.join(root, f"{workload}-{size}-s{seed}")
    meta = os.path.join(path, "props.json")
    if not os.path.exists(meta):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        props = MAKERS[workload](os.path.join(tmp, "data"), seed, size)
        with open(os.path.join(tmp, "props.json"), "w") as fh:
            json.dump(props, fh, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(meta) as fh:
        return os.path.join(path, "data"), json.load(fh)

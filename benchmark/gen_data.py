"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the query registry reads (the TPC-H-like
star schema plus `events`, `documents` and `embeddings`) with the
schemas, key ranges and value distributions of the project's test data
(uniform draws, as profiled from it), at a chosen scale factor. The data depends only on (scale, DATA_SEED):
the benchmark's `--seed` never reaches it, so golden fingerprints stay
valid for every seed.

It also writes `lineitem_ref.csv`, the lineitem rows in the reference
engine's pipe-delimited 16-column line-item schema, which the `serve`
workload reads through the CSV source.

Usage: python3 benchmark/gen_data.py <out_dir> <scale>
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast the row agg key query a scan batch").split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
P_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click view purchase signup error".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SHIP_INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
SHIP_MODES = "AIR FOB MAIL RAIL REG SHIP TRUCK".split()


def _days(rng, n, lo, hi):
    """n timestamps[us] drawn uniformly on whole days in [lo, hi]."""
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int)
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _write_ref_csv(out, rng, line):
    """Headerless `|`-separated file in the reference's line-item schema:
    4 ints, 4 floats, 8 strings (dates as YYYY-MM-DD)."""
    n = len(line["l_orderkey"])
    ship = line["l_shipdate"].astype("datetime64[D]")
    commit = ship - rng.integers(1, 60, n)
    receipt = ship + rng.integers(1, 30, n)
    instr = np.array(SHIP_INSTRUCT)[rng.integers(0, 4, n)]
    mode = np.array(SHIP_MODES)[rng.integers(0, 7, n)]
    words = np.array(WORDS)
    comment = [" ".join(words[rng.integers(0, len(WORDS), 3)]) for _ in range(n)]
    with open(os.path.join(out, "lineitem_ref.csv"), "w") as f:
        for i in range(n):
            f.write(f"{line['l_orderkey'][i]}|{line['l_partkey'][i]}|{line['l_suppkey'][i]}|"
                    f"{line['l_linenumber'][i]}|{line['l_quantity'][i]}|"
                    f"{line['l_extendedprice'][i]}|{line['l_discount'][i]}|{line['l_tax'][i]}|"
                    f"{line['l_returnflag'][i]}|{line['l_linestatus'][i]}|{ship[i]}|"
                    f"{commit[i]}|{receipt[i]}|{instr[i]}|{mode[i]}|{comment[i]}\n")


def generate(out, scale):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = int(10_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(20_000 * scale)
    os.makedirs(out, exist_ok=True)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    line = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}
    _write(out, "lineitem", line)

    # events: a time-ordered stream over 30 days, exponential gaps
    gaps_us = rng.exponential(30 * 86400e6 / n_evt, n_evt).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us)
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * scale)), n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_evt).astype(str)), "}")})

    # documents: random 10-100 word texts; 5% are near-duplicates of an
    # earlier document (one word replaced, " dup" appended)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n_doc)]
    for i in sorted(rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False)):
        toks = texts[int(rng.integers(0, i))].split()
        toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(WORDS))])
        texts[i] = " ".join(toks) + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit-norm 64-d gaussian vectors, 10 labels
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})

    _write_ref_csv(out, rng, line)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))

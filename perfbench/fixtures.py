"""Synthetic star-schema tables for the benchmark.

The tables carry the schemas and value shapes of the repository's test
data (TESTDATA.md / FIXTURES.md): a TPC-H-like star schema plus the
`events`, `documents` and `embeddings` tables. Documents, embeddings and
events come from `scripts/gen_scale_data.py`; the star-schema tables are
generated here with the same column types and value ranges.

Generation is deterministic in `(scale, seed)`. The benchmark generates
each table set once per checkout and caches it (see run.py).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import gen_scale_data  # noqa: E402  (repository's corpus generator)

# Rows per table at scale 1.0 of this generator (the test data's sf0.1).
BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000,
    "embeddings": 2000, "users": 1500,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86400 * 10 ** 6


def _ts(days_from, n_days, rng, n):
    base = np.datetime64(days_from, "us").astype("int64")
    return pa.array(base + rng.integers(0, n_days, n) * DAY_US,
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(rng, scale):
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, nc)])})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": pa.array(np.array(names)[rng.integers(0, 64, npart)]),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1))})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts("1995-01-01", 2404, rng, no),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, no)])})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, nl)]),
        "l_shipdate": _ts("1995-01-02", 2499, rng, nl)})
    out["documents"] = gen_scale_data.gen_documents(rng, n["documents"])
    out["embeddings"] = gen_scale_data.gen_embeddings(rng, n["embeddings"])
    ev = gen_scale_data.gen_events(rng, n["events"], n["users"])
    # The test data stores events.ts as microseconds (see TESTDATA.md).
    out["events"] = ev.set_column(
        ev.schema.get_field_index("ts"), "ts",
        ev.column("ts").cast(pa.timestamp("us"), safe=False))
    return out


def generate(out_dir, scale, seed):
    """Write every table as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema(np.random.default_rng(seed), scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

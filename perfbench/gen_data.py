"""Deterministic TPC-H-style star schema for the benchmark.

Writes region, nation, customer, supplier, part, orders and lineitem as
one parquet file each (one row group, snappy), with the column names and
types the engine's query modules read. Values are uniform random from a
fixed data seed, so every run of the benchmark sees the same tables; the
run's --seed drives only the call stream (query order, keys, merge
ranges).

It reconstructs the engine's synthetic test tables, which are not part
of the source tree, and was compared with them at sf0.1 (see
perfbench/README.md): schema, row counts, row groups, value ranges and
the key distributions match, the values themselves do not.

    python3 perfbench/gen_data.py <out_dir> <scale_factor>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
EPOCH = np.datetime64("1970-01-01", "D")


def _days(lo, hi, n, rng):
    a = (np.datetime64(lo, "D") - EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - EPOCH).astype(np.int64)
    d = rng.integers(a, b + 1, n)
    return pa.array(d * 86_400_000_000, type=pa.timestamp("us"))


def _money(lo, hi, n, rng):
    return pa.array(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0)


def _pick(values, n, rng):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = max(1, int(150_000 * sf)), max(1, int(10_000 * sf))
    n_part, n_ord = max(1, int(200_000 * sf)), max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": _pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                               "HOUSEHOLD", "MACHINERY"], n_cust, rng)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    colors = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{colors[a]} {nouns[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], n_part, rng),
        "p_type": _pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                         "STANDARD"], n_part, rng),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
        "o_totalprice": _money(1000.0, 500000.0, n_ord, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                  "4-NOT SPECIFIED", "5-LOW"], n_ord, rng)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": _money(900.0, 105000.0, n_li, rng),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(["A", "N", "R"], n_li, rng),
        "l_linestatus": _pick(["F", "O"], n_li, rng),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng)})


def generate(out_dir, sf):
    """Write every table under out_dir; returns {table: row count}."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(sf):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, compression="snappy", row_group_size=t.num_rows)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


if __name__ == "__main__":
    print(generate(sys.argv[1], float(sys.argv[2])))

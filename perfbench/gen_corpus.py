"""Seeded generator for the benchmark's source corpus.

Writes the ten fixture tables graft's loaders expect (`Tables.all`), one
single-row-group parquet file per table, with the same column names,
types and value shapes as the TPC-H-ish test fixtures: dims keyed
0..n-1, facts referencing them uniformly (except 3% of `o_custkey` and
`l_partkey` values, which name no customer or part), events on a 30-day clock with
a JSON `props` string, documents drawn from a 30-word vocabulary with
5% planted near-duplicates (an earlier document plus the token "dup"),
and unit-norm 64-dimensional embeddings around ten label centroids.

The same (seed, sf) always yields byte-identical table contents.

    python3 perfbench/gen_corpus.py --seed 7 --sf 0.01 --out DIR
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "small red blue large green steel copper brass".split()
NOUN = "ring widget bolt gear panel valve spring hinge".split()
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
# share of orders whose customer and of line items whose part is missing:
# work for the migration's orphan and join rules
DANGLING = 0.03


def sizes(sf):
    """Row counts per table at scale factor `sf` (the fixture's law)."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(10, int(6_000_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
        "users": max(10, int(15_000 * sf)),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n):
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def fk(rng, n_parent, n, dangling=0.0):
    """`n` foreign keys drawn uniformly from the parent's keys 0..n_parent-1,
    a `dangling` share of them instead from n_parent..2*n_parent-1, keys
    the parent does not hold."""
    keys = rng.integers(0, n_parent, n)
    miss = rng.random(n) < dangling
    keys[miss] += n_parent
    return keys.astype(np.int64)


def generate(seed, sf):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    np_ = n["part"]
    keys = np.arange(np_, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(fk(rng, nc, no, DANGLING)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2400, no)
                                .astype("timedelta64[D]")),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(fk(rng, np_, nl, DANGLING)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(EPOCH_1995 + (1 + rng.integers(0, 2500, nl))
                               .astype("timedelta64[D]"))})
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne).astype(np.int64)),
        "event_type": pick(rng, ["click", "error", "purchase", "signup",
                                 "view"], ne),
        "value": np.round(np.maximum(0.01, rng.exponential(40.0, ne)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    nv = n["embeddings"]
    centroids = rng.normal(0.0, 0.07 / 8.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centroids[labels] + rng.normal(0.0, 0.125, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


def write(tables, out):
    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(generate(a.seed, a.sf), a.out)


if __name__ == "__main__":
    main()

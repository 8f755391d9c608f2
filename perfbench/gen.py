#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

The engine reads ten parquet tables (TPC-H-style star schema plus
`events`, `documents` and `embeddings`), one file and one row group per
table. This module writes them in two steps:

1. A *base* corpus drawn from a fixed RNG, so its structure (graph shape,
   near-duplicate documents, embedding clusters) is the same for every
   benchmark seed. Scale 1.0 has the row counts of the sf0.1 corpus the
   engine's bench runs on (150,000 orders, 600,000 line items, 5,000
   documents, ...).
2. A *seeded, structure-preserving relabelling* of that base:
   - customer keys are permuted; order keys are remapped so that
     `o_orderkey % ncust` follows the same permutation, which makes the
     citation graph (o_custkey -> o_orderkey % ncust) an isomorphic copy
     with the same degrees, components, cores and round counts;
     line items follow their orders;
   - event user ids and document ids are permuted;
   - embeddings get a seeded coordinate permutation and sign flips, which
     keep every dot product and norm.
   Dimension tables (region, nation, supplier, part) are left as they
   are, so the hop-plot graph and the densification series n(t)/e(t) do
   not depend on the seed.

Usage: python3 perfbench/gen.py <out_dir> <scale> <seed>
"""
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20050821  # fixed: the base structure never depends on --seed

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3,
                 4, 2, 3, 3, 1]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
PART_ADJ = ["large", "hot", "small", "cold", "shiny", "dark", "light", "green"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]

US_PER_DAY = 86_400_000_000


def _days_us(year, month, day):
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us")
               .astype(np.int64))


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def counts(scale):
    def n(base, floor):
        return max(floor, int(round(base * scale)))
    return dict(customer=n(15000, 50), supplier=n(1000, 10), part=n(20000, 50),
                orders=n(150000, 500), lineitem=n(600000, 2000),
                events=n(100000, 500), users=n(1500, 20),
                documents=n(5000, 40), embeddings=n(2000, 40))


def base_tables(scale):
    """The seed-independent base corpus at `scale` (1.0 = sf0.1 sizes)."""
    rng = np.random.default_rng(BASE_SEED)
    c = counts(scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array(np.array(NATION_REGION, dtype=np.int32))})
    nc = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    ns = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = c["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), npart)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), npart)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 2000) * 0.1, 2))})

    no = c["orders"]
    d0, d1 = _days_us(1995, 1, 1) // US_PER_DAY, _days_us(2001, 8, 1) // US_PER_DAY
    odays = rng.integers(d0, d1 + 1, no)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no, p=[0.49, 0.49, 0.02]),
        "o_totalprice": pa.array(_money(rng, 900.0, 500000.0, no)),
        "o_orderdate": _ts(odays * US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    nl = c["lineitem"]
    lok = rng.integers(0, no, nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(odays[lok] * US_PER_DAY
                          + rng.integers(1, 122, nl) * US_PER_DAY)})

    ne = c["events"]
    e0 = _days_us(2024, 1, 1)
    ets = np.sort(rng.integers(e0, e0 + 30 * US_PER_DAY, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, c["users"], ne, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(_money(rng, 0.0, 200.0, ne)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})

    nd = c["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(nd):
        # about one document in ten is a near-duplicate of an earlier one:
        # same prefix, a few tokens substituted, sometimes a short tail
        if i > 10 and rng.random() < 0.1:
            toks = texts[rng.integers(0, i)].split(" ")
            for pos in rng.integers(0, len(toks), rng.integers(1, 4)):
                toks[pos] = vocab[rng.integers(0, len(vocab))]
            if rng.random() < 0.5:
                toks += list(vocab[rng.integers(0, len(vocab), rng.integers(1, 4))])
        else:
            toks = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        texts.append(" ".join(toks))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd, p=[0.41, 0.14, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})

    nv = c["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(scale=1.2, size=(nv, 64))
    # planted near-duplicate vectors (a later row copies an earlier one
    # with a little noise), the way the corpus carries near-dup documents
    dup = np.nonzero(rng.random(nv) < 0.05)[0]
    dup = dup[dup > 0]
    src = rng.integers(0, dup, len(dup)) if len(dup) else dup
    vecs[dup] = vecs[src] + rng.normal(scale=0.02, size=(len(dup), 64))
    labels[dup] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


def _replace(table, name, values):
    i = table.schema.get_field_index(name)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))


def relabel(t, seed):
    """Seeded relabelling that keeps every structure the queries measure."""
    rng = np.random.default_rng([BASE_SEED, seed])
    nc = t["customer"].num_rows
    perm = rng.permutation(nc).astype(np.int64)
    t["customer"] = _replace(t["customer"], "c_custkey",
                             perm[t["customer"]["c_custkey"].to_numpy()])
    okey = t["orders"]["o_orderkey"].to_numpy()
    remap = lambda k: perm[k % nc] + nc * (k // nc)  # noqa: E731 - unique, keeps k % nc -> perm
    t["orders"] = _replace(t["orders"], "o_orderkey", remap(okey))
    t["orders"] = _replace(t["orders"], "o_custkey",
                           perm[t["orders"]["o_custkey"].to_numpy()])
    t["lineitem"] = _replace(t["lineitem"], "l_orderkey",
                             remap(t["lineitem"]["l_orderkey"].to_numpy()))
    users = int(t["events"]["user_id"].to_numpy().max()) + 1
    uperm = rng.permutation(users).astype(np.int64)
    t["events"] = _replace(t["events"], "user_id", uperm[t["events"]["user_id"].to_numpy()])
    nd = t["documents"].num_rows
    t["documents"] = _replace(t["documents"], "doc_id", rng.permutation(nd).astype(np.int64))
    emb = t["embeddings"]
    m = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    cperm = rng.permutation(m.shape[1])
    signs = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), m.shape[1])
    m = (m[:, cperm] * signs).astype(np.float32)
    t["embeddings"] = _replace(t["embeddings"], "embedding", list(m))
    return t


def generate(out_dir, scale, seed):
    """Write the seeded corpus to out_dir; returns its total row count."""
    t = relabel(base_tables(scale), seed)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    os.replace(tmp, out_dir)
    return sum(table.num_rows for table in t.values())


if __name__ == "__main__":
    out, scale, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    t0 = time.time()
    rows = generate(out, scale, seed)
    print(f"generated {rows} rows at scale {scale} seed {seed} in {time.time() - t0:.2f}s")

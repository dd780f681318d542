"""Seeded input generator for the benchmark.

Writes the star schema the program reads (region nation customer
supplier part orders lineitem events documents embeddings, one
single-row-group parquet file each, same columns and value ranges as
the project's test data) plus the change batches the warehouse_load
workload feeds to the SCD steps. The same seed and scale give the same
files.

Usage: python3 gen.py <out_dir> <seed> <scale>
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("row the query stream key agg scan slow table part a merge window "
         "order column join vector value hash batch sort data big filter "
         "fast spark line small customer group").split()
NEW_KEY_BASE = 10_000_000


def sizes(scale):
    """Row counts; scale 1.0 is TPC-H sf1 (6 M lineitem)."""
    n = lambda base: max(1, int(round(base * scale)))
    return dict(customer=n(150_000), supplier=n(10_000), part=n(200_000),
                orders=n(1_500_000), lineitem=n(6_000_000),
                events=n(1_000_000), users=n(15_000),
                documents=max(500, n(50_000)), embeddings=max(500, n(20_000)))


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, f"{out}/{name}.parquet", row_group_size=max(1, table.num_rows))


def days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def main(out, seed, scale):
    rng = np.random.default_rng(seed)
    s = sizes(scale)

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = s["customer"]
    cust_bal = money(rng, -999.99, 9999.99, nc)
    cust_seg = pick(rng, SEGMENTS, nc)
    write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": cust_bal, "c_mktsegment": cust_seg.tolist()})

    ns = s["supplier"]
    write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})

    npart = s["part"]
    keys = np.arange(npart, dtype=np.int64)
    names = [f"{a} {b}" for a, b in zip(pick(rng, PART_ADJ, npart), pick(rng, PART_NOUN, npart))]
    write(out, "part", {
        "p_partkey": keys, "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": pick(rng, PART_TYPES, npart).tolist(),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2)})

    no = s["orders"]
    write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no).tolist(),
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": days(rng, "1995-01-01", 2404, no),
        "o_orderpriority": pick(rng, PRIORITIES, no).tolist()})

    nl = s["lineitem"]
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], nl).tolist(),
        "l_linestatus": pick(rng, ["F", "O"], nl).tolist(),
        "l_shipdate": days(rng, "1995-01-02", 2498, nl)})

    ne = s["events"]
    start = np.datetime64("2024-01-01", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, s["users"], ne).astype(np.int64),
        "event_type": pick(rng, EVENT_TYPES, ne).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = s["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, for the dedup queries
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(pick(rng, WORDS, int(rng.integers(10, 100)))))
    write(out, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
        "lang": pick(rng, LANGS, nd, LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = s["embeddings"]
    vecs = rng.normal(size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})

    scd_inputs(out, rng, cust_bal, cust_seg)


def scd_inputs(out, rng, bal, seg):
    """Change batches over the customer dimension (customer_id,
    segment, acctbal): three dated snapshot batches for scd2Rebuild,
    an incoming batch for scd1Upsert, and an I/U/D op log for applyCdc.
    """
    nc = len(bal)
    bal, seg = bal.copy(), seg.copy()
    rows = {"customer_id": [], "segment": [], "acctbal": [], "snap": []}
    for snap in ["2020-06-01", "2021-01-01", "2021-06-01"]:
        ids = np.sort(rng.choice(nc, max(1, nc // 5), replace=False))
        for i in ids:
            # 40 % of a batch re-sends the current row unchanged
            r = rng.random()
            if r < 0.3:
                bal[i] = round(bal[i] + int(rng.integers(1, 500)), 2)
            elif r < 0.6:
                seg[i] = SEGMENTS[(SEGMENTS.index(seg[i]) + 1) % len(SEGMENTS)]
            rows["customer_id"].append(int(i))
            rows["segment"].append(seg[i])
            rows["acctbal"].append(float(bal[i]))
            rows["snap"].append(snap)
    write(out, "scd_batches", {"customer_id": pa.array(rows["customer_id"], pa.int64()),
                               "segment": rows["segment"], "acctbal": rows["acctbal"],
                               "snap": rows["snap"]})

    n_new = max(1, nc // 100)
    upd = np.sort(rng.choice(nc, max(1, nc // 10), replace=False))
    ids = np.concatenate([upd, NEW_KEY_BASE + np.arange(n_new)]).astype(np.int64)
    write(out, "scd1_incoming", {
        "customer_id": ids,
        "segment": pick(rng, SEGMENTS, len(ids)).tolist(),
        "acctbal": money(rng, -999.99, 9999.99, len(ids))})

    ops = {"customer_id": [], "segment": [], "acctbal": [], "op": [], "op_seq": []}
    def emit(keys, op, seq):
        for k in keys:
            ops["customer_id"].append(int(k))
            ops["segment"].append(None if op == "D" else SEGMENTS[int(rng.integers(0, 5))])
            ops["acctbal"].append(None if op == "D" else float(money(rng, -999.99, 9999.99, 1)[0]))
            ops["op"].append(op)
            ops["op_seq"].append(seq)
    emit(rng.choice(nc, max(1, nc // 5), replace=False), "U", 1)
    emit(rng.choice(nc, max(1, nc // 10), replace=False), "D", 2)
    emit(NEW_KEY_BASE + np.arange(n_new), "I", 3)
    emit(rng.choice(nc, max(1, nc // 10), replace=False), "U", 4)
    write(out, "cdc_ops", {"customer_id": pa.array(ops["customer_id"], pa.int64()),
                           "segment": pa.array(ops["segment"], pa.string()),
                           "acctbal": pa.array(ops["acctbal"], pa.float64()),
                           "op": ops["op"], "op_seq": pa.array(ops["op_seq"], pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) != 4:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))

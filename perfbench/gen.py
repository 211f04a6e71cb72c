"""Seeded input generator for the benchmark.

Writes the ten engine tables (TPC-H-like star schema plus `events`,
`documents` and `embeddings`) as one parquet file each, in the shapes
the engine's loaders read, and a charges CSV in `ChargesEtl.rawSchema`
with each quarantine class injected at a fixed rate. The same seed and
scale give byte-identical inputs.

Usage: python3 gen.py <out_dir> <seed> <sf>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
P_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
P_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# Quarantine classes of the charges ETL, each injected into this many
# rows per thousand (one class per row, so the reason breakdown is exact).
CHARGE_FAULTS = ["missing_id", "missing_company_id", "invalid_amount",
                 "missing_created_at", "missing_status"]
CHARGE_FAULT_PER_MILLE = 10
CHARGE_ROWS = 4000


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(out, rng, sf):
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(int(20_000 * sf), 500)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US)})
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, max(int(15_000 * sf), 15), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": money(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    centers = rng.normal(0.0, 0.05, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def charges(out, rng):
    """Charges CSV plus the ledger of the faults it holds."""
    n = CHARGE_ROWS
    faults = np.full(n, -1)
    per_class = n * CHARGE_FAULT_PER_MILLE // 1000
    picked = rng.permutation(n)[:per_class * len(CHARGE_FAULTS)]
    for k in range(len(CHARGE_FAULTS)):
        faults[picked[k * per_class:(k + 1) * per_class]] = k
    companies = [("MiPasajefy", "cbf1c8b09cd5b549416d49d220a40cbd317f952e"),
                 ("Muebles chidos", "8f642dc67fccf861548dfe1c761ce22f795e91f0")]
    statuses = ["paid", "voided", "pending_payment", "refunded"]
    lines = ["id,name,company_id,amount,status,created_at,paid_at"]
    for i in range(n):
        name, cid = companies[int(rng.random() < 0.05)]
        row = {"id": f"{rng.integers(0, 2**63):016x}{i:08x}",
               "name": name, "company_id": cid,
               "amount": f"{rng.uniform(1, 5000):.2f}",
               "status": statuses[int(rng.integers(0, 4))],
               "created_at": str(np.datetime64("2019-01-01")
                                 + int(rng.integers(0, 140))),
               "paid_at": ""}
        fault = CHARGE_FAULTS[faults[i]] if faults[i] >= 0 else None
        if fault == "missing_id":
            row["id"] = ""
        elif fault == "missing_company_id":
            row["company_id"] = ""
        elif fault == "invalid_amount":
            row["amount"] = "not-a-number"
        elif fault == "missing_created_at":
            row["created_at"] = "20190516"
        elif fault == "missing_status":
            row["status"] = ""
        lines.append(",".join(row[c] for c in
                              ["id", "name", "company_id", "amount", "status",
                               "created_at", "paid_at"]))
    with open(os.path.join(out, "charges.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(out, "charges_faults.json"), "w") as f:
        json.dump({"rows": n, "faults": {c: per_class for c in CHARGE_FAULTS}}, f)


def main():
    out, seed, sf = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables(out, rng, sf)
    charges(out, rng)


if __name__ == "__main__":
    main()

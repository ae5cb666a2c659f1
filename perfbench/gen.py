"""Seeded input generator for the benchmark.

Two input sets, both a pure function of the seed:

* the engine's star schema plus its event and LLM-pipeline tables, with
  the schemas of the shipped fixtures (region, nation, customer,
  supplier, part, orders, lineitem, events, documents, embeddings), one
  parquet file each, at a given scale factor;
* the incremental-ETL inputs: an initial surrogate-key dimension with
  key gaps, and per batch an NDJSON fact file plus one HTTP page, with
  Zipf-skewed reuse of known values and a share of novel ones.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
ADJ = "cold small large old new hot red big".split()
NOUN = "widget bolt anvil ring plate gear rod nut".split()
DAY_US = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days_ts(days):
    return pa.array(days.astype(np.int64) * DAY_US, type=pa.timestamp("us"))


def gen_tables(out, sf, seed):
    """Writes the ten tables at scale factor `sf` into `out`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM", "SMALL"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days_ts(EPOCH_1995 + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3300, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days_ts(EPOCH_1995 + rng.integers(0, 2500, n_line))})
    gaps = rng.exponential(2_592_000_000_000 / n_ev, n_ev).astype(np.int64) + 1
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(EPOCH_2024_US + np.cumsum(gaps), type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, n_ev // 67), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(2.0, 50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:
            # planted near-duplicate of an earlier document
            w = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            if rng.random() < 0.3:
                w.append("dup")
        else:
            w = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(w))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "fr", "es", "zh", "de"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    label = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] * 0.02 + rng.normal(0, 1 / 8, (n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def gen_etl(out, seed, dim_n, batches, rows, http_rows, novel, retry_share):
    """Writes the incremental-ETL inputs into `out`.

    dim.tsv holds the initial dimension (key, value) with ~10% key gaps;
    batch_NNNN.json the NDJSON facts of each batch and page_NNNN.json its
    HTTP page; plan.json the batches whose first HTTP request is refused
    with 429 (every round(1/retry_share)-th batch). Every batch brings
    `novel` values never seen before; the other fact rows reuse known
    values with a Zipf skew.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    universe = rng.choice(10 ** 8, dim_n + batches * novel, replace=False)
    names = [f"sku-{u:08d}" for u in universe]
    keys = np.sort(rng.choice(int(dim_n / 0.9), dim_n, replace=False))
    with open(os.path.join(out, "dim.tsv"), "w") as f:
        for k, v in zip(keys, names[:dim_n]):
            f.write(f"{k}\t{v}\n")
    known = list(names[:dim_n])
    fact_id = 0
    for b in range(batches):
        fresh = names[dim_n + b * novel: dim_n + (b + 1) * novel]
        n = rows + http_rows
        ranks = (rng.zipf(1.3, n - 2 * novel) - 1) % len(known)
        perm = rng.permutation(len(known))
        vals = [known[perm[r]] for r in ranks] + fresh + fresh
        rng.shuffle(vals)
        qty = rng.integers(1, 11, n).tolist()
        amt = np.round(rng.uniform(1, 500, n), 2).tolist()
        lines = [f'{{"fact_id": {fact_id + i}, "sku": "{vals[i]}", "qty": {qty[i]}, '
                 f'"amount": {amt[i]!r}}}' for i in range(n)]
        fact_id += n
        with open(os.path.join(out, f"batch_{b:04d}.json"), "w") as f:
            f.write("\n".join(lines[:rows]) + "\n")
        with open(os.path.join(out, f"page_{b:04d}.json"), "w") as f:
            f.write("\n".join(lines[rows:]) + "\n")
        known.extend(fresh)
    # every k-th batch from a seeded offset: the same share of refusals in
    # any window of batches, so the retry cost does not vary with the seed
    every = round(1 / retry_share)
    offset = int(rng.integers(0, every))
    refuse = [b for b in range(batches) if (b + offset) % every == 0]
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump({"batches": batches, "rows": rows, "http_rows": http_rows,
                   "novel": novel, "refuse_first": refuse}, f)

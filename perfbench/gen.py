"""Seeded input generator for the perfbench workloads.

Same tables, schemas and value distributions as the repo's scale-data
generator (`tools/gen_scale_data.py`), but every random stream is keyed
by (seed, table, chunk), so `--seed` picks the dataset and the same seed
always yields the same bytes. `factor` scales row counts relative to the
sf0.1 corpus (factor 1 = 600k lineitem / 5k documents / 2k embeddings).

The `ingest` workload also gets a sequence of document batches in which
every batch after the first carries planted exact copies (fresh ids,
same text) of documents from earlier batches; `batches.json` lists them
so the harness can check that the dedup indexes reject every copy.

Usage: python3 perfbench/gen.py OUT_DIR --factor F --seed N [--batches B]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
MKTSEG = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "hot", "small", "cold", "new", "old", "red", "large"]
P_NOUN = ["ring", "rod", "bolt", "anvil", "widget", "gizmo", "plate", "gear"]
OSTATUS = ["O", "P", "F"]
OPRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RFLAG = ["A", "N", "R"]
LSTATUS = ["O", "F"]
ETYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
BATCH_DOCS = 200  # fresh documents per ingest batch
PLANTED = 5       # copies of earlier documents planted in each later batch

EPOCH_1995 = np.datetime64("1995-01-01")
ODATE_DAYS = 2405
SHIP_DAYS = 2498
EV_T0_US = np.int64(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
EV_SPAN_US = np.int64(30 * 86400) * 1_000_000

TS = pa.timestamp("us")
SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", TS), ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", TS)]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64()),
                         ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}
TABLE_IDS = {name: i for i, name in enumerate(SCHEMAS)}
# bumped whenever the generated bytes change, so cached inputs of an
# older generator are never reused
VERSION = 1


def rng(seed, table, off):
    return np.random.default_rng((seed, TABLE_IDS[table], off))


def write(out, name, cols):
    path = f"{out}/{name}.parquet"
    pq.write_table(pa.table(cols).cast(SCHEMAS[name]), path, compression="snappy")
    return pq.read_metadata(path).num_rows


def documents(r, ids, vocab):
    m = len(ids)
    lens = r.integers(10, 101, m)
    toks = vocab[r.integers(0, len(vocab), lens.sum())]
    texts = [" ".join(d) for d in np.split(toks, np.cumsum(lens)[:-1])]
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), m, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def gen_tables(out, factor, seed):
    def n(base, floor=1):
        return max(floor, int(round(base * factor)))

    n_cust, n_supp, n_part = n(15_000), n(1_000), n(20_000)
    n_ord, n_ev, n_user = n(150_000), n(100_000), n(1_500)
    n_doc, n_vec = n(5_000, 500), n(2_000, 500)
    rows = {}

    rows["region"] = write(out, "region", {
        "r_regionkey": np.arange(5), "r_name": REGIONS})
    k = np.arange(25)
    rows["nation"] = write(out, "nation", {
        "n_nationkey": k, "n_name": [f"NATION_{i}" for i in k], "n_regionkey": k % 5})

    r = rng(seed, "customer", 0)
    k = np.arange(n_cust, dtype=np.int64)
    rows["customer"] = write(out, "customer", {
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": r.integers(0, 25, n_cust),
        "c_acctbal": np.round(r.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(MKTSEG)[r.integers(0, 5, n_cust)],
    })

    r = rng(seed, "supplier", 0)
    k = np.arange(n_supp, dtype=np.int64)
    rows["supplier"] = write(out, "supplier", {
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": r.integers(0, 25, n_supp),
        "s_acctbal": np.round(r.uniform(0, 10000, n_supp), 2),
    })

    r = rng(seed, "part", 0)
    k = np.arange(n_part, dtype=np.int64)
    adj = np.array(P_ADJ)[r.integers(0, len(P_ADJ), n_part)]
    noun = np.array(P_NOUN)[r.integers(0, len(P_NOUN), n_part)]
    rows["part"] = write(out, "part", {
        "p_partkey": k,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.array([f"Brand#{b}" for b in range(25)])[r.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[r.integers(0, len(PTYPES), n_part)],
        "p_size": r.integers(1, 51, n_part),
        "p_retailprice": 900.0 + (k % 1000) / 10.0,
    })

    r = rng(seed, "orders", 0)
    k = np.arange(n_ord, dtype=np.int64)
    rows["orders"] = write(out, "orders", {
        "o_orderkey": k,
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(OSTATUS)[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": (EPOCH_1995 + r.integers(0, ODATE_DAYS + 1, n_ord)).astype("datetime64[us]"),
        "o_orderpriority": np.array(OPRIO)[r.integers(0, 5, n_ord)],
    })

    # ~4 lines per order, dense orderkeys, per-order line numbers
    r = rng(seed, "lineitem", 0)
    per = np.clip(r.poisson(4.0, n_ord), 1, 17)
    t = int(per.sum())
    qty = r.integers(1, 51, t).astype(np.float64)
    rows["lineitem"] = write(out, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), per),
        "l_partkey": r.integers(0, n_part, t),
        "l_suppkey": r.integers(0, n_supp, t),
        "l_linenumber": np.arange(t) - np.repeat(np.cumsum(per) - per, per) + 1,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, t), 2),
        "l_discount": np.round(r.integers(0, 11, t) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, t) / 100.0, 2),
        "l_returnflag": np.array(RFLAG)[r.integers(0, 3, t)],
        "l_linestatus": np.array(LSTATUS)[r.integers(0, 2, t)],
        "l_shipdate": (EPOCH_1995 + np.int64(1) + r.integers(0, SHIP_DAYS, t)).astype("datetime64[us]"),
    })

    # globally time-ordered over January 2024, like the corpus
    r = rng(seed, "events", 0)
    rows["events"] = write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (EV_T0_US + np.sort(r.integers(0, EV_SPAN_US, n_ev))).astype("datetime64[us]"),
        "user_id": r.integers(0, n_user, n_ev),
        "event_type": np.array(ETYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {v}}}' for v in r.integers(0, 100, n_ev)]),
    })

    rows["documents"] = write(out, "documents", documents(
        rng(seed, "documents", 0), np.arange(n_doc, dtype=np.int64), np.array(VOCAB)))

    r = rng(seed, "embeddings", 0)
    v = r.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows["embeddings"] = write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(v),
        "label": r.integers(0, 10, n_vec),
    })
    return rows


def gen_batches(out, seed, batches, batch_docs=BATCH_DOCS, planted=PLANTED):
    """`batches` document batches of `batch_docs` fresh docs each; every
    batch after the first adds `planted` copies of earlier fresh docs."""
    os.makedirs(f"{out}/batches", exist_ok=True)
    vocab = np.array(VOCAB)
    fresh_text, plants, next_id = [], [], 0
    for b in range(batches):
        r = np.random.default_rng((seed, 100, b))
        ids = np.arange(next_id, next_id + batch_docs, dtype=np.int64)
        cols = documents(r, ids, vocab)
        next_id += batch_docs
        if b > 0:
            src = r.choice(len(fresh_text), planted, replace=False)
            cids = np.arange(next_id, next_id + planted, dtype=np.int64)
            next_id += planted
            texts = [fresh_text[i][1] for i in src]
            cols["doc_id"] = np.concatenate([cols["doc_id"], cids])
            cols["text"] = cols["text"] + texts
            cols["lang"] = np.concatenate([cols["lang"], [fresh_text[i][2] for i in src]])
            cols["source"] = np.concatenate([cols["source"], [f"src{i % 20}" for i in cids]])
            cols["n_chars"] = np.concatenate([cols["n_chars"],
                                              np.array([len(t) for t in texts], dtype=np.int64)])
            plants += [{"copy": int(c), "of": int(fresh_text[i][0]), "batch": b}
                       for c, i in zip(cids, src)]
        fresh_text += list(zip(ids.tolist(), cols["text"][:batch_docs],
                               cols["lang"][:batch_docs].tolist()))
        pq.write_table(pa.table(cols).cast(SCHEMAS["documents"]),
                       f"{out}/batches/batch_{b:04d}.parquet", compression="snappy")
    with open(f"{out}/batches.json", "w") as f:
        json.dump({"batches": batches, "batch_docs": batch_docs, "planted": plants}, f)


def generate(out, factor, seed, batches=0):
    """Write the tables (and `batches` ingest batches) plus manifest.json."""
    os.makedirs(out, exist_ok=True)
    rows = gen_tables(out, factor, seed)
    if batches:
        gen_batches(out, seed, batches)
    size = sum(e.stat().st_size for e in os.scandir(out) if e.is_file())
    with open(f"{out}/manifest.json", "w") as f:
        json.dump({"version": VERSION, "factor": factor, "seed": seed,
                   "rows": rows, "parquet_bytes": size}, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--factor", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--batches", type=int, default=0)
    a = ap.parse_args()
    generate(a.out, a.factor, a.seed, a.batches)


if __name__ == "__main__":
    main()

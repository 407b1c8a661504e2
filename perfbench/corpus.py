"""Deterministic corpus for the benchmark.

Writes the ten parquet tables the engine reads (a TPC-H-ish star schema
plus `events`, `documents` and `embeddings`) at scale factor 0.1:
600,000 lineitems, which `TripleStore.fromStarSchema` turns into about
2.44M triples. The output is, value for value and type for type, the
seed-42 sf0.1 corpus the engine's tests, oracle queries and
`graft.Bench` use; it is generated rather than read so that a run
touches no file outside its checkout. `--compare` checks that claim
against a copy of that corpus.

The corpus depends only on `CORPUS_SEED` and `SF`, never on the
benchmark's `--seed`: the seed varies the requests, not the data.

Usage: python3 perfbench/corpus.py <out_dir>
       python3 perfbench/corpus.py --compare <reference_dir>
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
SF = 0.1
# bump when the generated content changes, so cached corpora rebuild
VERSION = 2

# The list orders and draw order below are those of the generator that
# wrote the reference corpus: `python3 perfbench/corpus.py --compare <dir>`
# checks the output against a copy of it, table by table.
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
# drawn uniformly: English three times as often as each other language
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf=SF, seed=CORPUS_SEED):
    """The corpus as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_cust, n_sup, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_sup)})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    day_us = 86400 * 10**6
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_ord) * day_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    # each lineitem picks its order, part and supplier independently, and
    # its ship date independently of the order date
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": _money(rng, 0.0, 0.1, n_li),
        "l_tax": _money(rng, 0.0, 0.08, n_li),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_li) * day_us)})
    # event times: sorted uniform seconds over 30 days, truncated to µs
    # through nanoseconds
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", (secs * 1e9).astype(np.int64) // 1000),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_doc):
        n = int(rng.integers(10, 100))
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    # one document in twenty becomes a marked copy of another, in turn
    for d, s in zip(rng.choice(n_doc, n_doc // 20, replace=False),
                    rng.integers(0, n_doc, n_doc // 20)):
        texts[d] = texts[s] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def compare(ref_dir):
    """Print, table by table, whether the generated corpus equals the
    parquet files under `ref_dir` (schema and every value). True when
    all do."""
    same = True
    for name, t in tables().items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        eq = ref.schema.equals(t.schema) and ref.equals(t)
        diff = [c for c in ref.column_names
                if c not in t.column_names or not ref.column(c).equals(t.column(c))]
        print(f"{name:<11} rows {t.num_rows:>7} / {ref.num_rows:>7}  "
              f"{'identical' if eq else 'differs in ' + ', '.join(diff)}")
        same &= eq
    return same


def ensure(out_dir):
    """Generate the corpus into `out_dir` unless a complete copy of this
    version is already there. Returns `out_dir`."""
    marker = os.path.join(out_dir, "_CORPUS")
    stamp = f"v{VERSION} seed={CORPUS_SEED} sf={SF}"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return out_dir
    # whatever was derived from an older corpus goes with it
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--compare":
        sys.exit(0 if compare(sys.argv[2]) else 1)
    ensure(sys.argv[1])

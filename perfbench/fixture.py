"""Analytics fixture: the two tables the benchmark's queries read
(documents, lineitem), with the schemas, sizes and value ranges of the
engine's TPC-H-style test data at scale factor 0.01.

The documents are generated the way that data's documents are laid out,
because q17's cost (LSH candidate pairs, the bytes its pair join
shuffles) is set by how much the character 5-gram shingles of documents
overlap: each text is 10-99 words drawn uniformly from the same 30-word
vocabulary, and 5% of the documents are near duplicates, an earlier
document with the marker word "dup" appended once or twice. No document
is an exact copy of another. perfbench/README.md lists the shingle and
Jaccard statistics of both, measured with the same scheme as q17.

The tables are fixed (seed 42), not drawn from the run's --seed: the
analytics workload's seed permutes the query order, and each query's
DuckDB oracle answer is cached per checkout.

Usage: python3 perfbench/fixture.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS = 500
LINEITEMS = 60000
ORDERS = 15000
PARTS = 2000
SUPPLIERS = 100

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
NEAR_DUP_SHARE = 0.05


def documents(rng):
    texts = []
    for i in range(DOCUMENTS):
        if texts and rng.random() < NEAR_DUP_SHARE:
            # near duplicate: an earlier document with "dup" appended; the
            # set keeps two near duplicates of one document distinct
            text = texts[rng.integers(len(texts))] + " dup" * int(rng.integers(1, 3))
            if text not in texts:
                texts.append(text)
                continue
        n = int(rng.integers(10, 100))
        texts.append(" ".join(VOCAB[k] for k in rng.integers(len(VOCAB), size=n)))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.choice(len(LANGS), size=DOCUMENTS, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def lineitem(rng):
    n = LINEITEMS
    start = np.datetime64("1995-01-02")
    days = (np.datetime64("2001-11-04") - start).astype(int)
    ship = start + rng.integers(0, days + 1, size=n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, ORDERS, size=n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, PARTS, size=n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, size=n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(3, size=n)]),
        "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(2, size=n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), type=pa.timestamp("us")),
    })


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(42)
    for name, make in (("documents", documents), ("lineitem", lineitem)):
        pq.write_table(make(rng), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1])

"""Seeded input generator for the graft benchmark.

Every table is a pure function of (seed, size): the same seed gives the
same rows, byte for byte in content. Inputs are written only under the
directory the caller passes; nothing is read from outside it.

Sizes are set in ``SIZES``: ``full`` is the measured size, ``smoke`` a
small one for the self-tests.
"""
import csv
import hashlib
import json
import os

from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "full": dict(orders=30_000, customers=3_000, lineitems=10_000,
                 d_orders=2_000, d_customers=200, d_lineitems=600,
                 batches=14, hub_orders=60_000, docs=1_000, vecs=500,
                 copies=1),
    "smoke": dict(orders=4_000, customers=500, lineitems=2_000,
                  d_orders=200, d_customers=40, d_lineitems=100,
                  batches=6, hub_orders=4_000, docs=400, vecs=200,
                  copies=2),
}

STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
FLAGS = ["A", "N", "R"]
VOCAB = ("a the data spark table query join group sort hash scan filter "
         "window row column batch stream merge key value order line part "
         "customer vector agg big small fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
EPOCH_2020_US = 1_577_836_800_000_000
DIM = 64


def rng_for(seed, name):
    """An independent stream per table, so adding a table never shifts
    another table's rows."""
    h = int.from_bytes(hashlib.sha256(f"{seed}/{name}".encode()).digest()[:8],
                       "little")
    return np.random.default_rng(h)


# ---------------------------------------------------------------- ingest


def orders_rows(r, keys):
    n = len(keys)
    return {
        "o_orderkey": np.asarray(keys, dtype=np.int64),
        "o_custkey": r.integers(1, 15_001, n, dtype=np.int64),
        "o_orderstatus": np.array(STATUS)[r.integers(0, 3, n)],
        "o_totalprice": np.round(r.uniform(900, 500_000, n), 2),
        "o_orderdate": EPOCH_2020_US + r.integers(0, 2_400, n) * 86_400_000_000,
        "o_orderpriority": np.array(PRIORITY)[r.integers(0, 5, n)],
    }


def orders_table(cols):
    return pa.table({
        "o_orderkey": pa.array(cols["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(cols["o_custkey"], pa.int64()),
        "o_orderstatus": pa.array(cols["o_orderstatus"], pa.string()),
        "o_totalprice": pa.array(cols["o_totalprice"], pa.float64()),
        "o_orderdate": pa.array(cols["o_orderdate"], pa.timestamp("us", tz="UTC")),
        "o_orderpriority": pa.array(cols["o_orderpriority"], pa.string()),
    })


def customer_rows(r, keys):
    n = len(keys)
    return [
        (int(k), f"Customer#{int(k):09d}", int(nk), f"{ab:.2f}", SEGMENTS[s])
        for k, nk, ab, s in zip(keys, r.integers(0, 25, n),
                                r.uniform(-999.99, 9999.99, n),
                                r.integers(0, 5, n))
    ]


CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"]


def lineitem_rows(r, keys):
    n = len(keys)
    qty = r.integers(1, 51, n)
    price = np.round(r.uniform(900, 100_000, n), 2)
    disc = r.integers(0, 11, n) / 100.0
    ship = r.integers(0, 2_400, n)
    return [
        {"l_orderkey": int(ok), "l_linenumber": int(ln),
         "l_partkey": int(pk), "l_quantity": int(q),
         "l_extendedprice": float(p), "l_discount": float(d),
         "l_returnflag": FLAGS[f],
         "l_shipdate": (date(2020, 1, 1) + timedelta(days=int(s))).isoformat()}
        for (ok, ln), pk, q, p, d, f, s in zip(
            keys, r.integers(1, 20_001, n), qty, price, disc,
            r.integers(0, 3, n), ship)
    ]


def split_delta(r, live, next_key, n):
    """Half updates of keys already loaded, half brand-new keys."""
    n_upd = n // 2
    upd = r.choice(live, size=n_upd, replace=False)
    new = np.arange(next_key, next_key + (n - n_upd), dtype=np.int64)
    return np.concatenate([upd, new]), next_key + (n - n_upd)


def write_customers(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CUSTOMER_COLS)
        w.writerows(rows)


def write_lineitems(path, rows):
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row, separators=(",", ":")))
            f.write("\n")


def gen_ingest(out, seed, size="full"):
    """Batch 0 is the initial load; batches 1.. are the incremental deltas.

    Layout: ``<out>/batches/<b>/{orders,customers,lineitems}/part-0.*``,
    indexed by ``<out>/batches.tsv`` (batch, rows per source, source bytes).
    Each batch has unique keys per source, so last-writer-wins over the
    batch order is well defined.
    """
    index = []
    s = SIZES[size]
    r = rng_for(seed, "ingest")
    o_live = np.arange(1, s["orders"] + 1, dtype=np.int64)
    c_live = np.arange(1, s["customers"] + 1, dtype=np.int64)
    l_base = np.arange(1, s["lineitems"] + 1, dtype=np.int64)
    o_next, c_next, l_next = s["orders"] + 1, s["customers"] + 1, len(l_base) + 1
    for b in range(s["batches"] + 1):
        if b == 0:
            ok, ck, lk = o_live, c_live, l_base
        else:
            ok, o_next = split_delta(r, o_live, o_next, s["d_orders"])
            ck, c_next = split_delta(r, c_live, c_next, s["d_customers"])
            lk, l_next = split_delta(r, l_live_orders, l_next, s["d_lineitems"])
        # lineitem keys are (order, line): line 1..4 derived from the id
        lkeys = [(int(x) // 4 + 1, int(x) % 4 + 1) for x in lk]
        d = os.path.join(out, "batches", str(b))
        for sub in ("orders", "customers", "lineitems"):
            os.makedirs(os.path.join(d, sub), exist_ok=True)
        pq.write_table(orders_table(orders_rows(r, ok)),
                       os.path.join(d, "orders", "part-0.parquet"))
        write_customers(os.path.join(d, "customers", "part-0.csv"),
                        customer_rows(r, ck))
        write_lineitems(os.path.join(d, "lineitems", "part-0.json"),
                        lineitem_rows(r, lkeys))
        nbytes = sum(os.path.getsize(os.path.join(d, sub, f))
                     for sub in ("orders", "customers", "lineitems")
                     for f in os.listdir(os.path.join(d, sub)))
        index.append(f"{b}\t{len(ok)}\t{len(ck)}\t{len(lk)}\t{nbytes}\n")
        o_live = np.union1d(o_live, ok)
        c_live = np.union1d(c_live, ck)
        l_live_orders = np.arange(1, l_next, dtype=np.int64)
    with open(os.path.join(out, "batches.tsv"), "w") as f:
        f.writelines(index)


# ---------------------------------------------------------------- hub SQL


def gen_hub_orders(out, seed, size="full"):
    """The starting table of the SQL workload: one parquet file of orders."""
    s = SIZES[size]
    r = rng_for(seed, "hub_orders")
    os.makedirs(os.path.join(out, "hub_orders"), exist_ok=True)
    keys = np.arange(1, s["hub_orders"] + 1, dtype=np.int64)
    pq.write_table(orders_table(orders_rows(r, keys)),
                   os.path.join(out, "hub_orders", "part-0.parquet"))


# ---------------------------------------------------------------- corpus


def base_corpus(r, n_docs, n_vecs):
    texts = []
    for i in range(n_docs):
        roll = r.random()
        if i > 10 and roll < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and roll < 0.12:  # near duplicate: a few tokens swapped
            toks = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            n = int(r.integers(8, 90))
            texts.append(" ".join(VOCAB[t] for t in r.integers(0, len(VOCAB), n)))
    langs = np.array(LANGS)[r.choice(len(LANGS), n_docs, p=LANG_P)]
    sources = [f"src{int(x)}" for x in r.integers(0, 20, n_docs)]
    labels = r.integers(0, 10, n_vecs).astype(np.int32)
    centers = r.normal(0, 1, (10, DIM))
    vecs = centers[labels] + r.normal(0, 0.6, (n_vecs, DIM))
    for i in range(1, n_vecs):
        if r.random() < 0.08:  # near-duplicate vector
            vecs[i] = vecs[int(r.integers(0, i))] + r.normal(0, 0.01, DIM)
    return texts, langs, sources, vecs.astype(np.float32), labels


def gen_corpus(out, seed, size="full"):
    """``documents`` and ``embeddings`` at ``copies`` times the base size.

    Copies are built so the duplicate density stays fixed: copy i suffixes
    every token with ``x<i>`` (disjoint vocabulary per copy) and rotates the
    vector coordinates by i (breaks cross-copy cosine alignment).
    """
    s = SIZES[size]
    r = rng_for(seed, "corpus")
    texts, langs, sources, vecs, labels = base_corpus(r, s["docs"], s["vecs"])
    doc_ids, all_texts, all_langs, all_srcs = [], [], [], []
    vec_ids, all_vecs, all_labels = [], [], []
    for c in range(s["copies"]):
        for i, t in enumerate(texts):
            doc_ids.append(c * s["docs"] + i)
            all_texts.append(t if c == 0 else
                             " ".join(f"{w}x{c}" for w in t.split()))
        all_langs.extend(langs)
        all_srcs.extend(sources)
        rot = c % DIM
        vec_ids.extend(range(c * s["vecs"], (c + 1) * s["vecs"]))
        all_vecs.extend(np.roll(vecs, -rot, axis=1))
        all_labels.extend(labels)
    docs = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(all_texts, pa.string()),
        "lang": pa.array(list(all_langs), pa.string()),
        "source": pa.array(all_srcs, pa.string()),
        "n_chars": pa.array([len(t) for t in all_texts], pa.int64()),
    })
    emb = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array([v.tolist() for v in all_vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(all_labels, pa.int32()),
    })
    for name, t in (("documents", docs), ("embeddings", emb)):
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, "part-0.parquet"))


GENERATORS = {
    "ingest_incremental": gen_ingest,
    "hub_sql_ops": gen_hub_orders,
    "curation_corpus": gen_corpus,
}


def tree_digest(root):
    """Order-insensitive digest of every generated row under ``root``:
    parquet rows through pyarrow, text files line by line."""
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            if f.endswith(".parquet"):
                t = pq.read_table(p)
                rows = sorted(json.dumps(row, sort_keys=True, default=str)
                              for row in t.to_pylist())
            else:
                with open(p) as fh:
                    rows = sorted(fh.read().splitlines())
            h.update(os.path.relpath(p, root).encode())
            for row in rows:
                h.update(row.encode())
                h.update(b"\n")
    return h.hexdigest()

#!/usr/bin/env python3
"""Fixture tables for the `entries` workload.

Schema-compatible with the registry's fixture tables (events, documents,
embeddings, orders, customer) and shaped like them: a 30-day event
stream over 150 users, a multilingual document corpus with planted
near-duplicates, and unit-norm embeddings clustered around 10 labels.
Sized like the sf0.01 fixtures; the registry entries named by the
workload are dominated by fixed per-job and per-micro-batch costs at
that size, not by data volume.

The content is fixed (generator seed 7): the workload's seed only
shuffles the order the entries run in, and the recorded answers in
entries_expected.json belong to exactly these tables.

Usage: gen_fixtures.py OUTDIR
"""
import os
import sys

import numpy as np
import pandas as pd

SEED = 7
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "group big stream index shard log event record topic search filter "
         "match score rank token text word page").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]


def main(out):
    rng = np.random.default_rng(SEED)
    os.makedirs(out, exist_ok=True)

    n_ev, n_users = 10_000, 150
    base = pd.Timestamp("2024-01-01").value
    span = pd.Timestamp("2024-01-31").value - base
    pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.to_datetime(base + np.sort(rng.integers(0, span, n_ev)), unit="ns")
            .astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(20.0, n_ev), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)],
    }).to_parquet(f"{out}/events.parquet", index=False)

    n_docs = 500
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words changed
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).to_parquet(f"{out}/documents.parquet", index=False)

    n_emb, dim, k = 500, 64, 10
    centers = rng.normal(size=(k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k, n_emb)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n_emb, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in vecs],
        "label": labels.astype(np.int32),
    }).to_parquet(f"{out}/embeddings.parquet", index=False)

    n_cust, n_ord = 1_500, 15_000
    day0 = pd.Timestamp("1992-01-01").value
    day_span = pd.Timestamp("1999-12-31").value - day0
    pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": pd.to_datetime(day0 + rng.integers(0, day_span, n_ord), unit="ns")
            .normalize().astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }).to_parquet(f"{out}/orders.parquet", index=False)
    pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }).to_parquet(f"{out}/customer.parquet", index=False)


if __name__ == "__main__":
    main(sys.argv[1])

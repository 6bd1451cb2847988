"""Seeded input generator for the benchmark.

A seed goes in; pyarrow tables and parquet files come out. Nothing here
imports Spark, so inputs are written (and timed as set-up) before any
measured call, and the same seed always yields the same rows.

Shapes follow the repository's TPC-H-ish test tables (see TESTDATA.md):
``lineitem`` carries repeated ``(l_orderkey, l_linenumber)`` keys with
different versions so latest-per-key dedup has work to do, and about 5% of
``documents`` are near-duplicates of an earlier document (the text plus a
``dup`` token) so the MinHash/LSH family finds pairs.

The changelog is a side-tagged update log in the
``streaming.upsert_join.UPDATE_SCHEMA`` shape (seq, side, key, fk,
payload): one initial-load batch (every order and every left key), then
micro-batches that mix left re-upserts with right updates. Versions
(``seq``) rise with arrival order, a NULL payload is a tombstone, and a
left key never changes its FK because the key
``"<l_orderkey>-<l_linenumber>"`` contains it.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH = dt.datetime(1995, 1, 1)
N_DAYS = 2500
ZIPF_A = 1.3  # skew of the orders a changelog batch re-publishes

UPDATE_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("side", pa.string()),
        ("key", pa.string()),
        ("fk", pa.string()),
        ("payload", pa.string()),
    ]
)


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    us = rng.integers(0, N_DAYS, n).astype("int64") * 86_400_000_000
    base = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(us + base, pa.timestamp("us"))


def tpch_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """``orders`` (n_orders rows), ``lineitem`` (4 rows per order, keys drawn
    with replacement so about a quarter of them repeat) and ``customer``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(1, n_orders // 10)
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_orders)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
            "o_orderdate": _days(rng, n_orders),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
        }
    )
    n_li = 4 * n_orders
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1000, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li)),
            "l_shipdate": _days(rng, n_li),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def documents(seed: int, n_docs: int) -> pa.Table:
    """Bag-of-words documents; every 20th is an earlier document plus the
    token ``dup`` (a near-duplicate)."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def changelog(
    seed: int,
    n_orders: int,
    n_batches: int,
    left_batch: int,
    right_batch: int,
) -> list[pa.Table]:
    """The update log as a list of micro-batches.

    Batch 0 is the initial load: every order (the right snapshot) and one
    version of every left key, so the left-key index is full before the
    first later batch. Every later batch then does the same kind of work
    over an index of the same size: ``left_batch`` left updates of keys
    drawn uniformly from all keys -- newer-version re-upserts, about 1% of
    them tombstones -- interleaved with ``right_batch`` re-published orders
    drawn from a Zipf law (a hot order is drawn many times), 5% of them
    as tombstones. Left updates mostly write state; right updates fan out to
    every left of their order. Hot orders are spread over the key space by
    a seeded permutation."""
    rng = np.random.default_rng([seed, 3])
    batches: list[pa.Table] = []
    seq = 0

    def emit(side, keys, fks, payloads) -> None:
        nonlocal seq
        n = len(side)
        perm = rng.permutation(n)
        batches.append(
            pa.table(
                {
                    "seq": pa.array(np.arange(seq + 1, seq + n + 1), pa.int64()),
                    "side": pa.array(np.asarray(side)[perm]),
                    "key": pa.array(np.asarray(keys)[perm], pa.string()),
                    "fk": pa.array(np.asarray(fks)[perm], pa.string()),
                    "payload": pa.array([payloads[j] for j in perm], pa.string()),
                },
                schema=UPDATE_SCHEMA,
            )
        )
        seq += n

    def right_payloads(n: int, tomb) -> list:
        status = rng.choice(np.array(["F", "O", "P"]), n)
        price = np.round(rng.uniform(1000, 500000, n), 2)
        return [
            None if t else f'{{"o_orderstatus":"{s}","o_totalprice":{p}}}'
            for s, p, t in zip(status, price, tomb)
        ]

    def left_payloads(n: int) -> list:
        qty = rng.integers(1, 51, n)
        price = np.round(rng.uniform(900, 105000, n), 2)
        return [f'{{"l_quantity":{q},"l_extendedprice":{p}}}' for q, p in zip(qty, price)]

    # every (order, line) pair is a distinct left key
    lines = rng.integers(1, 8, n_orders)
    fk_of = np.repeat(np.arange(n_orders), lines)
    keys_all = np.array(
        [f"{f}-{ln}" for f, ln in zip(fk_of, np.concatenate([np.arange(1, k + 1) for k in lines]))]
    )
    fks_all = fk_of.astype(str)
    orderkeys = np.arange(n_orders).astype(str)
    n_left = len(keys_all)
    emit(
        ["right"] * n_orders + ["left"] * n_left,
        list(orderkeys) + list(keys_all),
        list(orderkeys) + list(fks_all),
        right_payloads(n_orders, np.zeros(n_orders, bool)) + left_payloads(n_left),
    )

    hot = rng.permutation(n_orders)
    n_tomb = max(1, left_batch // 100)
    for _ in range(n_batches):
        idx = rng.integers(0, n_left, left_batch)
        lpay = left_payloads(left_batch)
        lpay[left_batch - n_tomb:] = [None] * n_tomb
        ranks = np.minimum(rng.zipf(ZIPF_A, right_batch), n_orders) - 1
        rfks = hot[ranks].astype(str)
        rpay = right_payloads(right_batch, rng.random(right_batch) < 0.05)
        emit(
            ["left"] * left_batch + ["right"] * right_batch,
            list(keys_all[idx]) + list(rfks),
            list(fks_all[idx]) + list(rfks),
            lpay + rpay,
        )
    return batches


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def write_batches(batches: list[pa.Table], out_dir: str) -> None:
    """One parquet file per micro-batch, named so lexical order is replay
    order."""
    os.makedirs(out_dir, exist_ok=True)
    for i, tbl in enumerate(batches):
        pq.write_table(tbl, os.path.join(out_dir, f"batch-{i:05d}.parquet"))

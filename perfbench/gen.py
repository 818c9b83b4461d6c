"""Seeded input generators for the benchmark workloads and the
native-expression microbenchmark.

Every generator takes the workload seed and returns the same bytes for
the same seed. Each writes one parquet file and returns the input
properties the run prints: row count, key count, byte size and the
duplicate and out-of-order shares.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00 in epoch microseconds.
BASE_US = 1_704_067_200_000_000
HOUR_US = 3_600_000_000

# The word list of the shipped documents table.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
QUALIFIERS = ["q0", "q1", "q2", "q3", "q4", "q5"]


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _skewed(rng, n, keys, exponent):
    """`n` draws over `keys` ids with Zipf-like weights 1/rank^exponent;
    the ranks are shuffled so the hot ids are not the low ids."""
    w = 1.0 / np.arange(1, keys + 1) ** exponent
    rank = rng.choice(keys, size=n, p=w / w.sum())
    return rng.permutation(keys)[rank]


def _out_of_order_share(ts):
    """Share of rows whose time is below the largest time before them."""
    prior_max = np.maximum.accumulate(ts)[:-1]
    return float(np.mean(ts[1:] < prior_max)) if len(ts) > 1 else 0.0


def _write(table, path):
    pq.write_table(table, path)
    return os.path.getsize(path)


def mutation_log(seed, path, n=20_000, keys=5_000, dup_share=0.05,
                 span_hours=6, jitter_s=600):
    """A CDC mutation log in the WAL schema (seq, ts, table, rowkey, cells).

    Mix: 80% puts of 1-3 cells, 13% qualifier deletes, 7% row
    tombstones. Keys are Zipf-skewed (exponent 0.9) over two tables; the
    benchmark subscribes to `users` only. Per rowkey, `ts` rises with
    `seq` (SEP per-row order); across keys it carries up to `jitter_s`
    of disorder. The log spans `span_hours` of event time, several times
    the 1-hour dedupe watermark, so dedupe state is evicted while the
    log drains. `dup_share` of the rows are redeliveries: exact copies
    of an earlier mutation with the same `seq`.
    """
    rng = _rng(seed, 1)
    key = _skewed(rng, n, keys, 0.9)
    seq = np.arange(n, dtype=np.int64)
    raw = (BASE_US + seq * (span_hours * HOUR_US // n)
           + rng.integers(0, jitter_s * 1_000_000, n))
    # Per key, raise ts to be strictly increasing in seq:
    # y_i = i + cummax(x_j - j) over the key's mutations in seq order.
    df = pd.DataFrame({"key": key, "seq": seq, "ts": raw})
    idx = df.groupby("key").cumcount().to_numpy()
    df["ts"] = df.assign(x=df["ts"] - idx).groupby("key")["x"].cummax() + idx
    ts = df["ts"].to_numpy()

    kind = rng.choice(3, size=n, p=[0.80, 0.13, 0.07])
    ncell = np.where(kind == 0, rng.integers(1, 4, n), 1)
    offsets = np.concatenate([[0], np.cumsum(ncell)]).astype(np.int32)
    total = int(offsets[-1])
    owner = np.repeat(np.arange(n), ncell)
    pos = np.arange(total) - offsets[owner]
    # distinct qualifiers within one mutation: a random start plus pos
    qual = (rng.integers(0, len(QUALIFIERS), n)[owner] + pos) % len(QUALIFIERS)
    cell_kind = np.array(["put", "delete", "delete_row"])[kind[owner]]
    values = np.char.add("v", rng.integers(0, 1_000_000, total).astype(str))
    cells = pa.StructArray.from_arrays(
        [pa.array(np.full(total, "d")),
         pa.array(np.array(QUALIFIERS)[qual]),
         pa.array(np.where(cell_kind == "put", values, None)),
         pa.array(ts[owner]),
         pa.array(cell_kind)],
        names=["family", "qualifier", "value", "ts", "kind"])
    table_name = np.where(key % 5 == 0, "audit", "users")
    rowkey = np.char.add("row-", key.astype(str))

    dups = np.sort(rng.choice(n, size=int(round(dup_share * n)), replace=False))
    order = np.sort(np.concatenate([seq, dups]), kind="stable")
    log = pa.table({
        "seq": pa.array(seq), "ts": pa.array(ts),
        "table": pa.array(table_name), "rowkey": pa.array(rowkey),
        "cells": pa.ListArray.from_arrays(pa.array(offsets), cells),
    }).take(pa.array(order))
    nbytes = _write(log, path)
    subscribed = table_name[order] == "users"
    return {
        "rows": len(order),
        "keys": int(len(np.unique(key))),
        "bytes": nbytes,
        "dup_share": len(dups) / len(order),
        "out_of_order_share": _out_of_order_share(ts),
        "subscribed_rows": int(subscribed.sum()),
        "subscribed_dups": int((table_name[dups] == "users").sum()),
        "kind_mix": {"put": 0.80, "delete": 0.13, "delete_row": 0.07},
    }


def events(seed, path, n=50_000, users=1_000, span_days=30,
           out_of_order_share=0.1):
    """An events table with the schema of `events.parquet`
    (event_id, ts timestamp[us], user_id, event_type, value, props).

    `ts` values are unique; about `out_of_order_share` of the rows are
    swapped with their neighbour so event time disagrees with event_id
    order. Users are Zipf-skewed (exponent 0.7).
    """
    rng = _rng(seed, 2)
    gap = span_days * 24 * HOUR_US // n
    ts = BASE_US + np.cumsum(rng.integers(1, 2 * gap, n))
    swap = rng.choice(n // 2, size=int(n * out_of_order_share / 2), replace=False) * 2
    ts[swap], ts[swap + 1] = ts[swap + 1], ts[swap].copy()
    user = _skewed(rng, n, users, 0.7)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.5, 50.0, n), 2)),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")),
    })
    nbytes = _write(table, path)
    return {
        "rows": n,
        "keys": int(len(np.unique(user))),
        "bytes": nbytes,
        "dup_share": 0.0,
        "out_of_order_share": _out_of_order_share(ts),
    }


def documents(seed, path, n=3_000, near_dup_share=0.2, sources=20):
    """A documents table with the schema of `documents.parquet`
    (doc_id, text, lang, source, n_chars).

    Texts are 10-100 words over the shipped 31-word vocabulary.
    `near_dup_share` of the documents copy an earlier document and
    replace 0-2 of its words (a quarter of them are exact copies).
    """
    rng = _rng(seed, 3)
    length = rng.integers(10, 101, n)
    offsets = np.concatenate([[0], np.cumsum(length)])
    words = rng.integers(0, len(VOCAB), int(offsets[-1]))
    docs = [words[offsets[i]:offsets[i + 1]] for i in range(n)]
    planted = np.sort(rng.choice(np.arange(1, n), size=int(near_dup_share * n),
                                 replace=False))
    for i in planted:
        src = docs[rng.integers(0, i)].copy()
        for _ in range(rng.integers(0, 3)):
            src[rng.integers(0, len(src))] = rng.integers(0, len(VOCAB))
        docs[i] = src
    vocab = np.array(VOCAB)
    text = [" ".join(vocab[d]) for d in docs]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=[.4, .15, .15, .15, .15])]),
        "source": pa.array(np.char.add("src", rng.integers(0, sources, n).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    nbytes = _write(table, path)
    distinct = len(set(text))
    return {
        "rows": n,
        "keys": distinct,
        "bytes": nbytes,
        "dup_share": len(planted) / n,
        "exact_dup_share": 1.0 - distinct / n,
        "out_of_order_share": 0.0,
    }

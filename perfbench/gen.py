"""Seeded input generator for the benchmark workloads.

Every table is built with numpy from one ``seed`` and written with
pyarrow, so the same seed gives byte-identical parquet files.  The
schemas are those of the engine's fixture tables (``orders``,
``documents``, ``embeddings``); the engine only ever sees the written
files.

Two input sets:

* :class:`ChangeFeed` — the incremental-sync change feed
  against a generated ``orders`` snapshot: updates of existing keys,
  intra-batch duplicate keys, unchanged re-deliveries of the previous
  batch (the MERGE no-op path), brand-new keys, and stale rows that the
  cursor filter must drop.
* :func:`write_corpus` — ``documents`` with planted exact and near
  duplicates, and clustered ``embeddings``.

The traffic mix is chosen, not measured.  The reference pipeline's
documented behaviour (SURVEY.md: K2 MERGE, ST3 re-delivered rows are
MERGE no-ops, A1/A7 duplicate keys deduplicated before the MERGE) says
which kinds of rows a change feed holds, but no source gives their
shares.  The shares below (``UPDATE_SHARE`` ... ``STALE_SHARE``) and the
corpus planting rates in :func:`write_corpus` are unverified values that
decide how a MERGE splits between its update, insert and no-op branches
and how many candidate pairs LSH emits; a change tuned to this mix is
tuned to these assumptions.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400 * 1_000_000
ORDERS_START = dt.datetime(1995, 1, 1)
ORDERS_DAYS = 2404  # 1995-01-01 .. 2001-08-01, as in the sf0.1 fixture

STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = np.array(
    "a the and of batch part spark line column order small sort fast value "
    "scan hash slow group agg filter query big key window row table stream "
    "merge data customer join vector lake cursor shard index plan cache "
    "node task stage commit snapshot delta schema record field event".split()
)

# incremental_sync batch mix, as shares of the batch size (chosen, unverified)
UPDATE_SHARE = 0.70
DUP_SHARE = 0.08
REDELIVER_SHARE = 0.10
NEW_SHARE = 0.10
STALE_SHARE = 0.02
BATCH_WINDOW_US = DAY_US  # each batch's cursors fall in one day
LOOKBACK = dt.timedelta(days=1)  # cursor filter: cursor_col > max_cursor - LOOKBACK


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> int:
    # one row group per file, like the fixture files
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return table.num_rows


def _us(t: dt.datetime) -> int:
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def from_us(us: int) -> dt.datetime:
    return EPOCH + dt.timedelta(microseconds=int(us))


def orders_table(rng: np.random.Generator, n: int = 150_000, n_cust: int = 15_000) -> pa.Table:
    days = rng.integers(0, ORDERS_DAYS + 1, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
            "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
            "o_orderdate": _ts(_us(ORDERS_START) + days * DAY_US),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)]),
        }
    )


def batch_name(b: int) -> str:
    return f"batch_{b:05d}"


class ChangeFeed:
    """The incremental-sync change feed, written one batch at a time.

    ``orders.parquet`` (the snapshot seed) is written on construction;
    :meth:`next_batch` writes ``batch_NNNNN.parquet`` and records what
    the checks need.  Batches come from one generator stream, so batch
    ``b`` of a seed is the same file however many batches are drawn."""

    def __init__(self, out_dir: str, seed: int, batch_frac: float = 0.05):
        os.makedirs(out_dir, exist_ok=True)
        self.dir = out_dir
        self.rng = np.random.default_rng([seed, 2])
        base = orders_table(self.rng)
        _write(base, os.path.join(out_dir, "orders.parquet"))
        self.names = base.column_names
        self.next_key = base.num_rows
        self.size = int(base.num_rows * batch_frac)
        self.max_cursor = int(base.column("o_orderdate").to_numpy().astype(np.int64).max())
        self.initial_cursor = from_us(self.max_cursor)
        self.prev: pa.Table | None = None
        self.batch_paths: list[str] = []
        self.batch_rows: list[int] = []
        self.batch_bytes: list[int] = []
        self.batch_max_cursor: list[dt.datetime] = []

    def next_batch(self) -> int:
        rng, size = self.rng, self.size
        lo = self.max_cursor + BATCH_WINDOW_US
        n_upd = int(size * UPDATE_SHARE)
        n_dup = int(size * DUP_SHARE)
        n_new = int(size * NEW_SHARE)
        n_stale = int(size * STALE_SHARE)
        keys = rng.choice(self.next_key, n_upd + n_stale, replace=False).astype(np.int64)
        upd_keys, stale_keys = keys[:n_upd], keys[n_upd:]
        new_keys = np.arange(self.next_key, self.next_key + n_new, dtype=np.int64)
        self.next_key += n_new
        # cursors: distinct microsecond offsets inside this batch's window
        # so every (key, cursor) ordering is total
        fresh = np.concatenate([upd_keys, new_keys])
        offs = rng.choice(BATCH_WINDOW_US - 1, len(fresh) + n_dup, replace=False) + 1
        dup_keys = fresh[rng.choice(len(fresh), n_dup, replace=False)]
        stale_cur = lo - rng.integers(3 * DAY_US, 30 * DAY_US, n_stale)
        all_keys = np.concatenate([fresh, dup_keys, stale_keys])
        all_cur = np.concatenate([lo + offs, stale_cur])
        m = len(all_keys)
        parts = [
            pa.table(
                {
                    "o_orderkey": pa.array(all_keys),
                    "o_custkey": pa.array(rng.integers(0, 15_000, m, dtype=np.int64)),
                    "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, m)]),
                    "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, m), 2)),
                    "o_orderdate": _ts(all_cur),
                    "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, m)]),
                }
            )
        ]
        if self.prev is not None:
            # unchanged re-deliveries of the previous batch's winning rows:
            # same cursor as the snapshot holds, so MERGE leaves them alone
            n_re = min(int(size * REDELIVER_SHARE), self.prev.num_rows)
            take = np.sort(rng.choice(self.prev.num_rows, n_re, replace=False))
            parts.append(self.prev.take(pa.array(take)).select(self.names))
        batch = pa.concat_tables(parts)
        batch = batch.take(pa.array(rng.permutation(batch.num_rows)))
        b = len(self.batch_paths)
        path = os.path.join(self.dir, batch_name(b) + ".parquet")
        _write(batch, path)
        self.batch_paths.append(path)
        self.batch_rows.append(batch.num_rows)
        self.batch_bytes.append(os.path.getsize(path))
        self.max_cursor = int(all_cur.max())
        self.batch_max_cursor.append(from_us(self.max_cursor))
        self.prev = _winners(batch, self.names)
        return b


def _winners(batch: pa.Table, names: list[str]) -> pa.Table:
    """Latest-cursor row per key (what the MERGE applied from ``batch``),
    restricted to rows with a cursor in the batch's own window."""
    keys = batch.column("o_orderkey").to_numpy()
    cur = batch.column("o_orderdate").to_numpy().astype(np.int64)
    window_lo = cur.max() - BATCH_WINDOW_US
    order = np.lexsort((-cur, keys))
    first = np.ones(len(order), dtype=bool)
    first[1:] = keys[order][1:] != keys[order][:-1]
    idx = order[first]
    idx = idx[cur[idx] > window_lo]
    return batch.take(pa.array(np.sort(idx))).select(names)


@dataclass
class Corpus:
    n_docs: int
    n_vectors: int
    planted_pairs: set[tuple[int, int]]


def write_corpus(out_dir: str, seed: int, n_docs: int = 2500, n_vectors: int = 1000) -> Corpus:
    """``documents`` with planted duplicates and clustered ``embeddings``.

    Of every 100 docs, 4 are exact copies and 6 are near copies (3 words
    substituted) of an earlier doc, rates chosen without a measured
    source; the planted (original, copy) id pairs are returned for the
    LSH recall ratio."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    lengths = rng.integers(8, 90, n_docs)
    texts: list[str] = []
    planted: set[tuple[int, int]] = set()
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if i >= 100 and kind[i] < 0.10:
            src = int(rng.integers(0, i))
            words = texts[src].split(" ")
            if kind[i] >= 0.04:
                for j in rng.choice(len(words), min(3, len(words)), replace=False):
                    words[j] = str(WORDS[rng.integers(0, len(WORDS))])
            texts.append(" ".join(words))
            planted.add((src, i))
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), lengths[i])]))
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(LANGS[rng.choice(5, n_docs, p=LANG_P)]),
                "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    dim, n_labels = 64, 10
    centers = rng.normal(0, 1, (n_labels, dim))
    labels = rng.integers(0, n_labels, n_vectors)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vectors, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32)),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return Corpus(n_docs, n_vectors, planted)

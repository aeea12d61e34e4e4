"""The generator is a pure function of the seed."""

import hashlib
import os

from perfbench import gen


def _digests(d):
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def _feed(d, seed, n=3):
    feed = gen.ChangeFeed(str(d), seed)
    for _ in range(n):
        feed.next_batch()
    return feed


def test_corpus_same_seed_same_bytes(tmp_path):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_corpus(str(tmp_path / d), seed)
    a, b, c = (_digests(tmp_path / d) for d in "abc")
    assert a == b
    assert a != c


def test_change_feed_same_seed_same_bytes(tmp_path):
    a = _feed(tmp_path / "a", 3)
    b = _feed(tmp_path / "b", 3)
    _feed(tmp_path / "c", 4)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    assert a.batch_max_cursor == b.batch_max_cursor


def test_change_feed_mix(tmp_path):
    import pyarrow.parquet as pq

    feed = _feed(tmp_path, 5, n=2)
    batch = pq.read_table(feed.batch_paths[1]).to_pydict()
    keys, cur = batch["o_orderkey"], batch["o_orderdate"]
    # intra-batch duplicate keys, each with distinct cursors
    assert len(set(keys)) < len(keys)
    pairs = set(zip(keys, cur))
    assert len(pairs) == len(keys)
    # new keys beyond the seed table, and stale rows the cursor filter drops
    assert max(keys) >= 150_000
    threshold = feed.batch_max_cursor[0] - gen.LOOKBACK
    assert any(c <= threshold for c in cur)
    # re-deliveries: rows repeated verbatim from the previous batch
    prev = pq.read_table(feed.batch_paths[0]).to_pylist()
    now = pq.read_table(feed.batch_paths[1]).to_pylist()
    prev_rows = {tuple(r.values()) for r in prev}
    assert sum(tuple(r.values()) in prev_rows for r in now) == int(
        feed.size * gen.REDELIVER_SHARE
    )


def test_corpus_plants_duplicates(tmp_path):
    import pyarrow.parquet as pq

    corpus = gen.write_corpus(str(tmp_path), 1, n_docs=2000, n_vectors=100)
    texts = pq.read_table(str(tmp_path / "documents.parquet")).column("text").to_pylist()
    assert corpus.planted_pairs
    assert all(a < b for a, b in corpus.planted_pairs)
    exact = sum(texts[a] == texts[b] for a, b in corpus.planted_pairs)
    assert 0 < exact < len(corpus.planted_pairs)

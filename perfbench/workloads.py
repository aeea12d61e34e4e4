"""The two workloads: generated inputs, untimed preparation, the ops a
round runs, and the output checks.

An op is one callable; the driver loop in ``run.py`` times it and then,
untimed, hands its output to :meth:`after_op`.  A round is a whole pass
(every registry key once, in a seeded order) or one sync batch, so every
measured run holds the same mix of keys.  :meth:`check` returns one
verdict per measured op, in the order the ops ran, plus named extra
checks (warm-up outputs) that do not count as ops.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import Callable

import pyarrow.feather as feather

from perfbench import check, gen

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    key: str
    run: Callable[[], object]  # returns the op's output, or None
    rows: int


def _generate(kind: str, out_dir: str, seed: int) -> dict:
    """Run the generator in a child process so its memory never counts
    toward the driver's peak RSS."""
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen_main.py"), kind, out_dir, str(seed)],
        check=True,
        capture_output=True,
        text=True,
    )
    return json.loads(res.stdout.strip().splitlines()[-1])


class RegistryWorkload:
    """Closed-loop passes over registry keys on a generated directory.

    An op is ``fn(spark, dir)`` followed by one action, ``toArrow()``,
    which runs the whole plan and brings the result to the driver.  Every
    op's result is written to disk untimed and checked against the key's
    oracle when the run ends, so ``error_rate`` counts each measured op
    on its own output."""

    KEYS: dict[str, tuple[str, ...]] = {}  # key -> tables it reads
    GEN_KIND = ""
    ROUND_S = 0.0  # seconds one pass takes on the reference 4-CPU host
    WARMUP_PASSES = 2

    @property
    def OPS_PER_ROUND(self) -> int:
        return len(self.KEYS)

    # nothing is written under a store
    bytes_written = files_written = input_bytes = 0

    def __init__(self, work: str, seed: int, threads: int, recorder):
        self.dir = os.path.join(work, "data")
        self.out = os.path.join(work, "results")
        self.seed, self.threads, self.recorder = seed, threads, recorder
        self.passes = 0
        self.extra: dict = {}
        self.warm: dict[str, str | None] = {}  # key -> first output's file
        self.measured: list[tuple[str, str | None]] = []  # (key, output file)

    def generate(self) -> None:
        info = _generate(self.GEN_KIND, self.dir, self.seed)
        self.rows = info["rows"]
        self.extra.update(info)
        os.makedirs(self.out, exist_ok=True)

    def prepare(self, spark) -> None:
        from data_pipeline_bigquery_spark.queries import registry

        self.spark = spark
        reg = registry()
        self.specs = {k: reg[k] for k in self.KEYS}

    def _save(self, name: str, result) -> str | None:
        if result is None:
            return None
        path = os.path.join(self.out, f"{name}.arrow")
        feather.write_feather(result, path, compression="uncompressed")
        return path

    def warmup(self) -> None:
        """``WARMUP_PASSES`` untimed passes of the measured op.  The first
        call of each key is cold (JIT, codegen); its output is kept as an
        extra check.  Seconds per pass go to ``warmup_s``."""
        curve = []
        for p in range(self.WARMUP_PASSES):
            t = time.perf_counter()
            for op in self.round():
                result = op.run()
                if p == 0:
                    self.warm[op.key] = self._save(f"warm-{op.key}", result)
            curve.append(round(time.perf_counter() - t, 3))
        self.extra["warmup_s"] = curve

    def _op(self, key: str) -> Op:
        fn = self.specs[key].fn
        rec = self.recorder

        def run():
            with rec.span("queries.build"):
                df = fn(self.spark, self.dir)
            with rec.span("queries.exec"):
                return df.toArrow()

        return Op(key, run, sum(self.rows[t] for t in self.KEYS[key]))

    def round_keys(self) -> list[str]:
        keys = sorted(self.KEYS)
        random.Random(f"{self.seed}-{self.passes}").shuffle(keys)
        self.passes += 1
        return keys

    def round(self) -> list[Op]:
        return [self._op(k) for k in self.round_keys()]

    def after_op(self, op: Op, result) -> None:
        n = len(self.measured)
        self.measured.append((op.key, self._save(f"op-{n}", result)))

    def finish(self) -> None:
        pass

    def check(self, corrupt: bool) -> tuple[list[bool], dict[str, bool]]:
        """Does each output hash-match its key's oracle?  Returns one
        verdict per measured op and one extra check per warm-up key."""
        from data_pipeline_bigquery_spark.catalog import FIXTURE_TABLES

        oracles = {}
        for key in sorted(self.KEYS):
            oracles[key] = check.Oracle(
                self.specs[key].oracle, self.dir, FIXTURE_TABLES, self.threads
            )
            if corrupt:
                cols, rows, h = oracles[key].digest
                oracles[key].digest = (cols, rows, h + 1)

        def verdict(key: str, path: str | None, what: str) -> bool:
            if path is None:
                return False
            arrow = feather.read_table(path)
            got = oracles[key].engine_digest(arrow)
            if got != oracles[key].digest:
                print(
                    f"check FAILED {what} {key}: engine={got} oracle={oracles[key].digest}",
                    file=sys.stderr,
                )
                return False
            return True

        extra = {f"warmup:{k}": verdict(k, p, "warm-up") for k, p in sorted(self.warm.items())}
        per_op = [verdict(k, p, f"op {i}") for i, (k, p) in enumerate(self.measured)]
        for key, path in self.warm.items():
            if path is not None:
                self.inspect(key, feather.read_table(path))
        for o in oracles.values():
            o.close()
        return per_op, extra

    def inspect(self, key: str, arrow) -> None:
        pass


class CorpusDedup(RegistryWorkload):
    GEN_KIND = "corpus"
    ROUND_S = 3.5
    KEYS = {
        "dedup_exact": ("documents",),
        "dedup_minhash_lsh": ("documents",),
        "text_quality_score": ("documents",),
        "ann_cosine_topk": ("embeddings",),
        "pipeline_corpus_curation": ("documents",),
    }

    def inspect(self, key: str, arrow) -> None:
        if key != "dedup_minhash_lsh":
            return
        from data_pipeline_bigquery_spark.queries.extensions import AUG_ID_SHIFT

        planted = {tuple(p) for p in self.extra["planted_pairs"]}
        pairs = list(zip(arrow.column("doc_a").to_pylist(), arrow.column("doc_b").to_pylist()))
        hits = sum(
            1 for a, b in pairs if (a, b) in planted or b - a == AUG_ID_SHIFT
        )
        n_docs = self.rows["documents"]
        self.extra["lsh_pairs_per_doc"] = len(pairs) / n_docs
        self.extra["lsh_planted_pair_ratio"] = hits / max(len(pairs), 1)


class IncrementalSync:
    """Cursor-driven sync of change batches into a versioned snapshot."""

    OBJECT = "orders"
    ROUND_S = 2.0  # seconds one batch takes on the reference 4-CPU host
    OPS_PER_ROUND = 1
    WARMUP_BATCHES = 5
    EXPIRE_EVERY = 5
    KEEP_LAST = 2
    EMITTED_AT = dt.datetime(2026, 1, 1)

    def __init__(self, work: str, seed: int, threads: int, recorder):
        self.work, self.seed, self.threads, self.recorder = work, seed, threads, recorder
        self.changes = os.path.join(work, "changes")
        self.store = os.path.join(work, "store", "orders")
        self.cursors = os.path.join(work, "store", "_cursor")
        self.extra: dict = {}
        self.applied: list[int] = []
        self.measured: list[str] = []
        self.bytes_written = 0
        self.files_written = 0
        self.input_bytes = 0
        self._seen: set[str] = set()

    def generate(self) -> None:
        self.feed = gen.ChangeFeed(self.changes, self.seed)

    def prepare(self, spark) -> None:
        from data_pipeline_bigquery_spark import catalog
        from data_pipeline_bigquery_spark.sources.snapshots import write_snapshot
        from data_pipeline_bigquery_spark.state.cursor import CursorStore

        self.spark = spark
        write_snapshot(catalog.load(spark, self.changes, "orders"), self.store)
        CursorStore(spark, self.cursors).append(
            self.OBJECT, self.feed.initial_cursor, self.EMITTED_AT, "seed"
        )
        self._scan_writes()

    def warmup(self) -> None:
        """``WARMUP_BATCHES`` untimed batches: the first ones still pay
        for JIT and codegen.  Seconds per batch go to ``warmup_s``."""
        curve = []
        for _ in range(self.WARMUP_BATCHES):
            for op in self.round():
                t = time.perf_counter()
                op.run()
                curve.append(round(time.perf_counter() - t, 3))
        self._scan_writes()
        self.extra["warmup_s"] = curve

    def round(self) -> list[Op]:
        from data_pipeline_bigquery_spark import catalog
        from data_pipeline_bigquery_spark.plans import entity_sync_plan
        from data_pipeline_bigquery_spark.sources import snapshots
        from data_pipeline_bigquery_spark.state.cursor import CursorStore

        b = self.feed.next_batch()
        rows, max_cursor = self.feed.batch_rows[b], self.feed.batch_max_cursor[b]
        spark, rec = self.spark, self.recorder
        emitted_at = self.EMITTED_AT + dt.timedelta(seconds=b + 1)
        emitted_id = f"batch-{b}"

        def run() -> None:
            cursors = CursorStore(spark, self.cursors)
            cursor = cursors.max_cursor(self.OBJECT)
            batch = catalog.load(spark, self.changes, gen.batch_name(b))
            source = entity_sync_plan(
                batch,
                pk="o_orderkey",
                cursor_col="o_orderdate",
                cursor=cursor - gen.LOOKBACK,
                emitted_at=emitted_at,
                emitted_id=emitted_id,
            )
            snapshots.merge_into_snapshot(
                spark, self.store, source, pk="o_orderkey", cursor_col="o_orderdate"
            )
            cursors.append(self.OBJECT, max_cursor, emitted_at, emitted_id)
            if (b + 1) % self.EXPIRE_EVERY == 0:
                snapshots.expire_snapshots(spark, self.store, self.KEEP_LAST)

        self.applied.append(b)
        self.input_bytes += self.feed.batch_bytes[b]
        return [Op("sync_batch", run, rows)]

    def _scan_writes(self) -> tuple[int, int]:
        """Bytes and files that appeared under the store since last scan."""
        nbytes = nfiles = 0
        for root, _dirs, files in os.walk(os.path.join(self.work, "store")):
            for f in files:
                p = os.path.join(root, f)
                if p in self._seen:
                    continue
                self._seen.add(p)
                try:
                    nbytes += os.path.getsize(p)
                except OSError:
                    continue  # expired between listing and stat
                nfiles += 1
        return nbytes, nfiles

    def after_op(self, op: Op, result) -> None:
        nbytes, nfiles = self._scan_writes()
        self.bytes_written += nbytes
        self.files_written += nfiles
        self.measured.append(op.key)

    def finish(self) -> None:
        from data_pipeline_bigquery_spark.sources.snapshots import list_versions

        self.latest = list_versions(self.spark, self.store)[-1]

    def check(self, corrupt: bool) -> tuple[list[bool], dict[str, bool]]:
        """The final snapshot, which every measured batch went into, must
        match the replay, and the cursor table the last batch's cursor.
        The verdict holds for every measured batch."""
        eng = check.snapshot_digest(os.path.join(self.store, f"v={self.latest}"), self.threads)
        want = check.replay_digest(
            os.path.join(self.changes, "orders.parquet"),
            [self.feed.batch_paths[b] for b in self.applied],
            self.feed.initial_cursor,
            [self.feed.batch_max_cursor[b] for b in self.applied],
            gen.LOOKBACK,
            self.threads,
        )
        if corrupt:
            want = (want[0], want[1] + 1)
        final_cursor = max([self.feed.initial_cursor] + self.feed.batch_max_cursor)
        got_cursor = check.cursor_max(self.cursors, self.OBJECT, self.threads)
        ok = eng == want and got_cursor == final_cursor
        if not ok:
            print(
                f"check FAILED sync: snapshot={eng} replay={want} "
                f"cursor={got_cursor} want={final_cursor}",
                file=sys.stderr,
            )
        return [ok] * len(self.measured), {}


WORKLOADS = {
    "incremental_sync": IncrementalSync,
    "corpus_dedup": CorpusDedup,
}

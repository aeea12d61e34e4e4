"""Versioned snapshot store — plain-parquet time travel.

The reference's warehouse keeps exactly one mutable table per entity
(MERGE in place, `bigquery.py:206-271`): yesterday's state is gone the
moment today's load lands.  This module keeps EVERY load as an
immutable snapshot version under one prefix —

    base/v=1/...parquet   base/v=2/...parquet   ...

with a per-version ``_COMMITTED`` marker as the read protocol: readers
only ever look at marked versions, so they can never observe a
half-written snapshot.  The WRITE protocol (round 6) stages data AND
marker in a hidden ``.tmp-*`` dir and commits with ONE directory
rename into ``v=N`` — rename-onto-existing fails, so two racing
writers can't clobber each other (the loser just retries at N+1), a
crash leaves only an invisible hidden temp, and a marker can never
land on another writer's data.  That is the same reader-visibility
idea a real table format (Iceberg/Delta) gets from its metadata log,
reduced to what plain parquet + an atomic filesystem rename can
guarantee (atomic on HDFS/local; object stores without atomic dir
rename need the single-writer caveat below).

Auxiliary base-level files (all ``_``-prefixed, invisible to parquet
readers; values travel in the FILENAME — py4j content reads are the
trap documented on ``commit_epoch_snapshot``):
- ``_LATEST_<v>`` — latest-version pointer, created BEFORE the commit
  rename so max-pointer >= latest committed always holds; hot
  latest-reads verify the pointed-at marker and skip the per-version
  marker probes, falling back to the full listing only when the
  pointer dangles (crashed writer).
- ``_EPOCH_HWM_<id>`` — streaming epoch high-water mark, advanced
  after each epoch commit; replays of epochs at or below it
  short-circuit even after retention expired their version dirs
  (one base dir per stream lineage/checkpoint).

On top of the versions:
- ``read_snapshot(..., version=None)`` → any historical state, or the
  latest committed one (time travel);
- ``snapshot_cdc(old, new)`` → the ROW-LEVEL insert/delete/update feed
  between any two versions (one co-partitioned full-outer join on the
  pk — the change feed `snapshot_diff_cdc` derives for one fixed pair,
  generalized to arbitrary version pairs and returned at row grain).

Scale: a snapshot is an ordinary parquet dir (partition/bucket options
pass through); version listing is O(versions); the CDC join shuffles
on the pk with AQE sizing.  Retention is the `compact_lake` staged
pattern: drop old version dirs, markers last.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.sources.lake import (
    advance_tag as _advance_tag,
    fs_and_path as _fs_and_path,
    tagged_values as _tagged_values,
)

_MARKER = "_COMMITTED"


def list_versions(spark: SparkSession, base: str) -> list[int]:
    """Committed versions, ascending.  Uncommitted (crashed) version
    dirs are invisible by construction."""
    fs, jpath = _fs_and_path(spark, base)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        m = re.fullmatch(r"v=(\d+)", name)
        if not m:
            continue
        marker = spark._jvm.org.apache.hadoop.fs.Path(
            st.getPath(), _MARKER
        )
        if fs.exists(marker):
            out.append(int(m.group(1)))
    return sorted(out)


def _jpath(spark: SparkSession, parent, name: str):
    return spark._jvm.org.apache.hadoop.fs.Path(parent, name)


_LATEST_TAG = "_LATEST_"
_HWM_TAG = "_EPOCH_HWM_"
# a commit retry means another writer just committed; 100 consecutive
# losses is not contention, it's a stuck filesystem — fail loudly.
# Retries back off (bounded) so pathological contention degrades into
# a slow loud failure, not a directory-listing storm.
_MAX_COMMIT_RETRIES = 100
_RETRY_BACKOFF_CAP_S = 0.5


def _commit_next_version(
    df: DataFrame,
    base: str,
    epoch_id: int | None = None,
    partition_by: list[str] | None = None,
    audit=None,
) -> int:
    """The single-rename commit: stage data (+markers) in a hidden temp
    dir, advance the ``_LATEST_`` pointer, then rename the whole dir
    into ``v=N``.  No live dir is ever deleted and the marker travels
    WITH its own data.  Losing a race is detected by OWNERSHIP, not by
    the rename's return value: Hadoop filesystems rename src INTO an
    existing destination directory (and still return true), so after
    every rename the writer checks that its unique ``_WRITER_<uid>``
    token sits directly under ``v=N`` — if not, it was swallowed as a
    hidden subdir of the winner's commit, pulls its staging dir back
    out, and retries at the next version."""
    import uuid

    spark = df.sparkSession
    jvm = spark._jvm
    uid = uuid.uuid4().hex
    tmp_name = f".tmp-{uid}"
    tmp = f"{base}/{tmp_name}"
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    fs, jbase = _fs_and_path(spark, base)
    if epoch_id is not None:
        fs.create(jvm.org.apache.hadoop.fs.Path(f"{tmp}/_EPOCH_{epoch_id}")).close()
    fs.create(jvm.org.apache.hadoop.fs.Path(f"{tmp}/_WRITER_{uid}")).close()
    fs.create(jvm.org.apache.hadoop.fs.Path(f"{tmp}/{_MARKER}")).close()
    _, jtmp = _fs_and_path(spark, tmp)
    if audit is not None:
        # write-audit-publish: the audit reads the STAGED files (the
        # exact bytes a commit would publish — no recompute of df's
        # plan, no extra copy); a failure deletes the staging dir and
        # propagates, so no version is ever committed and no .tmp-*
        # orphan is left for vacuum
        try:
            audit(spark.read.parquet(tmp))
        except BaseException:
            fs.delete(jtmp, True)
            raise
    import time

    for _attempt in range(_MAX_COMMIT_RETRIES):
        if _attempt:
            # bounded exponential backoff between lost races: each retry
            # costs directory listings, so contention must not turn into
            # a listing storm before the loud failure below
            time.sleep(min(0.01 * (2 ** min(_attempt, 6)), _RETRY_BACKOFF_CAP_S))
        # the staging dir must still exist: a concurrent
        # vacuum_snapshots (maintenance-window violation) or an
        # object-store fault that removed it would otherwise spin this
        # loop forever re-listing versions
        if not fs.exists(jtmp):
            raise RuntimeError(
                f"staging dir {tmp} disappeared before commit — was "
                f"vacuum_snapshots run while this writer was active?"
            )
        versions = list_versions(spark, base)
        # the _LATEST_ pointer is advanced BEFORE every commit rename
        # and only ever ratchets up, so its max is a version high-water
        # mark that OUTLIVES expire_snapshots: a writer stalled across
        # an expiry can never re-target a freed low version number,
        # which would break time-travel monotonicity (version order ==
        # commit order).
        hwm = _tagged_values(spark, base, _LATEST_TAG)
        v = max(
            versions[-1] if versions else 0, hwm[-1] if hwm else 0
        ) + 1
        # marker-less dirs we don't own (legacy orphan or a racing
        # writer mid-rename): never delete them — skip past
        while fs.exists(_jpath(spark, jbase, f"v={v}")):
            v += 1
        vdir = _jpath(spark, jbase, f"v={v}")
        _advance_tag(spark, base, _LATEST_TAG, v)  # before the commit rename
        # ORDER VALIDATION, checked BEFORE the version becomes visible: a
        # writer stalled between computing v and landing the rename must
        # not commit BELOW a version another writer (or an
        # expire_snapshots + later commits) already made visible — that
        # would break commit-order == version-order, which time travel,
        # CDC, and the change feed's high-water offset all rely on.
        # Re-listing HERE (after _advance_tag, immediately before the
        # rename) means a stale writer retargets WITHOUT ever publishing:
        # the old post-rename retract could yank a version readers had
        # already seen — and mis-fire on a version that committed just
        # AFTER our rename (benign ordering), breaking the stream
        # reader's replay contract (ADVICE r07).  A commit landing in
        # the one-RPC window between this listing and our rename is the
        # documented transient of best-effort multi-writer mode; the
        # _LATEST_ ratchet keeps even that commit's NUMBER above ours.
        pre = list_versions(spark, base)
        if pre and pre[-1] >= v:
            continue  # stale — recompute above the new maximum
        try:
            renamed = fs.rename(jtmp, vdir)
        except Exception:
            # some filesystems RAISE on a missing src instead of
            # returning false (local FS does); the jtmp existence check
            # at the top of the next iteration produces the descriptive
            # vacuum-race error
            renamed = False
        if renamed and fs.exists(_jpath(spark, vdir, f"_WRITER_{uid}")):
            # once the ownership token confirms the rename, v is final:
            # nothing committed at or above v before the pre-rename
            # listing, and anything after it is ordered above us
            return v
        # lost the race for v=N.  If the rename "succeeded" by moving
        # our staging dir INSIDE the winner's v=N, pull it back out;
        # then recompute and retry at N+1.
        swallowed = _jpath(spark, vdir, tmp_name)
        if fs.exists(swallowed):
            if not fs.rename(swallowed, jtmp):
                raise RuntimeError(
                    f"could not recover staging dir {tmp} after losing "
                    f"the commit race for v={v}"
                )
    raise RuntimeError(
        f"gave up committing {tmp} after {_MAX_COMMIT_RETRIES} lost "
        f"version races under {base} — writer contention is pathological"
    )


def write_snapshot(
    df: DataFrame, base: str, partition_by: list[str] | None = None
) -> int:
    """Write the next snapshot version; returns its number.  The commit
    point is one atomic directory rename (see module docstring); a
    crash leaves only a hidden ``.tmp-*`` dir (swept by
    :func:`vacuum_snapshots`), never a reader-visible state.

    ``partition_by`` lays the version out hive-partitioned INSIDE its
    ``v=N`` dir — at 100 TB this is what makes time-travel reads
    partition-prunable (a filtered read of one version touches only its
    matching subdirs) while the rename commit stays a single directory
    move regardless of partition count."""
    return _commit_next_version(df, base, partition_by=partition_by)


class SnapshotAuditError(RuntimeError):
    """A blocking expectation failed during write-audit-publish; the
    staged data was deleted and NO version was committed.  ``failures``
    holds the failing ``(rule, n_checked, n_violations)`` rows."""

    def __init__(self, failures):
        self.failures = failures
        detail = "; ".join(
            f"{r.rule}={r.n_violations}/{r.n_checked}" for r in failures
        )
        super().__init__(f"snapshot audit failed: {detail}")


def write_snapshot_audited(
    df: DataFrame,
    base: str,
    rules,
    partition_by: list[str] | None = None,
) -> int:
    """Write-audit-publish (the Iceberg WAP pattern on this store):
    stage the data, evaluate the declarative expectations against the
    STAGED files (the exact bytes a commit would publish — no plan
    recompute, no extra copy), then publish with the usual single
    rename, or abort.

    ``rules`` is a sequence of
    :class:`~data_pipeline_bigquery_spark.streaming.expectations_stream.Expectation`;
    a blocking rule with any violation raises :class:`SnapshotAuditError`,
    deletes the staging dir, and leaves the store EXACTLY as it was —
    readers and the change feed never see audited-out data.  Warn
    rules never block (inspect them via ``evaluate_expectations``
    before writing if you want a report)."""
    from data_pipeline_bigquery_spark.streaming.expectations_stream import (
        evaluate_expectations,
    )

    def audit(staged: DataFrame) -> None:
        ledger = evaluate_expectations(staged, rules)
        failures = ledger.filter(
            (ledger.blocking == 1) & (ledger.n_violations > 0)
        ).collect()
        if failures:
            raise SnapshotAuditError(failures)

    return _commit_next_version(df, base, partition_by=partition_by, audit=audit)


def read_snapshot(
    spark: SparkSession, base: str, version: int | None = None
) -> DataFrame:
    """Time travel: the given committed version, or the latest.

    Latest-reads go through the ``_LATEST_`` pointer: one base listing
    plus one marker probe instead of a marker probe per version — the
    last O(versions)-RPC walk left in a hot read path.  The pointer is
    created before the commit rename, so it can only ever point AT or
    ABOVE the true latest; when it dangles (writer crashed pre-commit)
    the full marker-verified listing is the fallback — the marker
    still decides, the pointer only accelerates."""
    if version is None:
        fs, _ = _fs_and_path(spark, base)
        for v in reversed(_tagged_values(spark, base, _LATEST_TAG)):
            marker = _fs_and_path(spark, f"{base}/v={v}/{_MARKER}")[1]
            if fs.exists(marker):
                return spark.read.parquet(f"{base}/v={v}")
        versions = list_versions(spark, base)
        if not versions:
            raise FileNotFoundError(f"no committed snapshots under {base}")
        return spark.read.parquet(f"{base}/v={versions[-1]}")
    if version not in list_versions(spark, base):
        raise FileNotFoundError(f"version {version} not committed in {base}")
    return spark.read.parquet(f"{base}/v={version}")


def expire_snapshots(
    spark: SparkSession, base: str, keep_last: int
) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` committed
    versions.  Per version the MARKER goes first, then the data dir —
    so a crash mid-expiry leaves an invisible orphan (reclaimable),
    never a readable-but-half-deleted version.  Returns the expired
    version numbers.

    Safe to run alongside live writers: freed version numbers are never
    reused because ``_commit_next_version`` consults the ratcheting
    ``_LATEST_`` pointer (a version high-water mark that survives
    expiry), so a writer stalled across an expiry still commits ABOVE
    every version that ever existed — time-travel monotonicity holds.
    Only :func:`vacuum_snapshots` needs a no-active-writer window."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = list_versions(spark, base)
    doomed = versions[:-keep_last] if len(versions) > keep_last else []
    jvm = spark._jvm
    for v in doomed:
        fs, vdir = _fs_and_path(spark, f"{base}/v={v}")
        fs.delete(jvm.org.apache.hadoop.fs.Path(vdir, _MARKER), False)
        fs.delete(vdir, True)
    # marker-less orphans strictly below the oldest retained version
    # can't belong to a live writer (writers only target versions above
    # the latest committed one) — reclaim them here, where readers
    # already tolerate churn.  The base-level _EPOCH_HWM_ tag survives
    # retention by construction, so replays of expired epochs stay
    # no-ops (see commit_epoch_snapshot).
    kept = versions[-keep_last:] if versions else []
    if kept:
        fs, jbase = _fs_and_path(spark, base)
        for st in fs.listStatus(jbase):
            name = st.getPath().getName()
            m = re.fullmatch(r"v=(\d+)", name)
            if m and int(m.group(1)) < kept[0] and int(m.group(1)) not in kept:
                if not fs.exists(_jpath(spark, st.getPath(), _MARKER)):
                    fs.delete(st.getPath(), True)
    return doomed


def vacuum_snapshots(spark: SparkSession, base: str) -> int:
    """Maintenance sweep: drop hidden ``.tmp-*`` staging dirs left by
    crashed writers.  MUST run only when no writer is active (a live
    writer's staged-but-not-yet-renamed temp looks identical to a
    crashed one) — same maintenance-window contract as
    ``delete_by_keys_rewrite``.  Returns the number of dirs removed."""
    fs, jbase = _fs_and_path(spark, base)
    if not fs.exists(jbase):
        return 0
    n = 0
    for st in fs.listStatus(jbase):
        name = st.getPath().getName()
        if name.startswith(".tmp-"):
            fs.delete(st.getPath(), True)
            n += 1
        elif re.fullmatch(r"v=\d+", name):
            # a writer that crashed while swallowed into a winner's
            # commit leaves its (hidden, reader-invisible) staging dir
            # nested one level down
            for sub in fs.listStatus(st.getPath()):
                if sub.getPath().getName().startswith(".tmp-"):
                    fs.delete(sub.getPath(), True)
                    n += 1
    return n


def snapshot_cdc(
    old: DataFrame,
    new: DataFrame,
    pk_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Row-level change feed between two snapshots: one full-outer join
    on the pk; rows classified insert / delete / update (unchanged rows
    are dropped — the feed carries only changes).  Output: pk columns,
    ``change_type``, and old_/new_ pairs of the compared columns.
    Null-safe comparison: NULL→value and value→NULL count as updates."""
    o = old.select(pk_cols + compare_cols).alias("o")
    n = new.select(pk_cols + compare_cols).alias("n")
    cond = None
    for k in pk_cols:
        c = F.col(f"o.{k}") == F.col(f"n.{k}")
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")
    o_pk, n_pk = F.col(f"o.{pk_cols[0]}"), F.col(f"n.{pk_cols[0]}")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change = (
        F.when(o_pk.isNull(), "insert")
        .when(n_pk.isNull(), "delete")
        .when(changed, "update")
    )
    out_cols = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in pk_cols
    ]
    out_cols.append(change.alias("change_type"))
    for c in compare_cols:
        out_cols.append(F.col(f"o.{c}").alias(f"old_{c}"))
        out_cols.append(F.col(f"n.{c}").alias(f"new_{c}"))
    return joined.select(*out_cols).filter(F.col("change_type").isNotNull())


def commit_epoch_snapshot(batch_df: DataFrame, base: str, epoch_id: int) -> int | None:
    """foreachBatch body: commit this micro-batch as the next snapshot
    version, IDEMPOTENTLY — an at-least-once replay of an epoch whose
    version is already committed is a no-op (the same guard pattern as
    `streaming/freq_stream.py`).  The epoch travels as a marker
    FILENAME (``_EPOCH_<id>``) so the guard is pure existence checks —
    two traps measured and rejected here: reading file contents
    through py4j copies the buffer and the mutation never comes back,
    and a ``name=value`` marker filename makes Spark's file index
    treat it as partition metadata and the parquet reader chokes on
    the empty file.  Returns the version written, or None when the
    epoch was already committed."""
    spark = batch_df.sparkSession
    jvm = spark._jvm
    fs, jbase = _fs_and_path(spark, base)
    # fast guard that SURVIVES RETENTION: the base-level high-water mark
    # outlives expired version dirs, so a stream restarted from an old
    # checkpoint after expire_snapshots still no-ops replayed epochs
    hwm = _tagged_values(spark, base, _HWM_TAG)
    if hwm and epoch_id <= hwm[-1]:
        return None
    if fs.exists(jbase):
        for st in fs.listStatus(jbase):
            if not st.getPath().getName().startswith("v="):
                continue
            epoch_marker = jvm.org.apache.hadoop.fs.Path(
                st.getPath(), f"_EPOCH_{epoch_id}"
            )
            committed = jvm.org.apache.hadoop.fs.Path(st.getPath(), _MARKER)
            if fs.exists(epoch_marker) and fs.exists(committed):
                return None  # replayed epoch — already committed
    v = _commit_next_version(batch_df, base, epoch_id=epoch_id)
    # advance AFTER the commit rename: a crash in between replays the
    # epoch, and the per-version _EPOCH_ marker scan above catches it
    _advance_tag(spark, base, _HWM_TAG, epoch_id)
    return v


def streaming_snapshot_sink(stream_df: DataFrame, base: str, checkpoint: str):
    """Every micro-batch becomes one committed snapshot version —
    a streaming source materialized as a TIME-TRAVELABLE history
    instead of a single mutable table; `snapshot_cdc` then serves the
    change feed between any two epochs.  Exactly-once at the version
    level: the engine's checkpoint dedupes epochs and the marker's
    epoch id makes replays no-ops."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda batch, epoch: commit_epoch_snapshot(batch, base, epoch)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- write-path verbs: every mutation is a NEW committed version -----------
#
# The table-format verbs (MERGE / DELETE / COMPACT) compose the existing
# operators with the rename-CAS commit: nothing is ever mutated in
# place, so each verb inherits the store's crash-safety, time travel,
# CDC, and the streaming change feed for free — a failed verb leaves an
# invisible staging dir, never a torn table; the pre-verb state stays
# readable AND diffable at its own version number.


def merge_into_snapshot(
    spark: SparkSession,
    base: str,
    source: DataFrame,
    pk: str,
    cursor_col: str,
    rules=None,
    **merge_kwargs,
) -> int:
    """MERGE ``source`` into the latest snapshot (reference K2 semantics
    via `operators/merge.py`: insert new pks, update only when the
    cursor differs) and commit the merged state as the next version.
    One pk-keyed full-outer exchange plus the commit write — the same
    cost Delta's MERGE pays, with the history kept.

    ``rules`` (a sequence of ``Expectation``) makes the MERGE
    write-audit-publish: the MERGED state is staged, audited, and only
    published if every blocking rule passes — a bad source batch can
    never poison the table (:class:`SnapshotAuditError`, store
    untouched)."""
    from data_pipeline_bigquery_spark.operators.merge import merge_upsert

    target = read_snapshot(spark, base)
    merged = merge_upsert(target, source, pk, cursor_col, **merge_kwargs)
    if rules is not None:
        return write_snapshot_audited(merged, base, rules)
    return write_snapshot(merged, base)


def delete_keys_snapshot(
    spark: SparkSession, base: str, keys: DataFrame, pk: str
) -> int:
    """GDPR-style targeted delete: commit a new version WITHOUT the
    given keys (one anti-join).  History retains the rows until
    `expire_snapshots` ages those versions out — the two-phase
    erasure real lakehouse deletes perform (logical now, physical at
    retention)."""
    target = read_snapshot(spark, base)
    remaining = target.join(keys.select(pk).distinct(), pk, "left_anti")
    return write_snapshot(remaining, base)


def rollback_snapshot(spark: SparkSession, base: str, to_version: int) -> int:
    """Roll the table back by COMMITTING the old version's rows as the
    next version — never by deleting history (an Iceberg-style
    rollback).  The bad intermediate versions stay readable for
    forensics until retention ages them out, the change feed sees the
    rollback as one more version, and concurrent readers never observe
    a gap."""
    return write_snapshot(read_snapshot(spark, base, to_version), base)


def compact_snapshot(spark: SparkSession, base: str, n_files: int = 1) -> int:
    """Rewrite the latest version's rows into ``n_files`` files as a new
    version — the small-files maintenance verb.  Readers never see an
    in-between state: they keep resolving the old version until the new
    marker lands, then switch atomically."""
    target = read_snapshot(spark, base)
    return write_snapshot(target.repartition(n_files), base)

"""Parquet lake source/sink (SURVEY §2.1 S14, §2.2 K3).

Reference: the GCS handler lists blobs and concatenates per-file pandas
frames (``/root/reference/config/gcs/gcs.py:49-75``), enumerates year
directories ``base/{2020..now}/`` (``:143-187``), and uploads one parquet
at a time with a retry loop (``:204-229``).

Spark replaces all of it: ``spark.read.parquet(prefix)`` does listing,
schema merge, partition discovery, predicate pushdown, and parallel IO;
``partitionBy`` on write produces the partition layout that makes
pruning work at 100 TB.
"""

from __future__ import annotations

import functools
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ``spark._jvm.a.b.C`` walks the package with one py4j reflection round
# trip per dot (~1.9 ms for a Hadoop ``Path``, against ~0.16 ms for a
# call through a held class handle).  Handles are cached per gateway
# ``JVMView``, not module-globally: a session stopped and restarted on a
# new gateway must never call through a handle of the old one.
_JCLASSES: "WeakKeyDictionary[object, dict[str, object]]" = WeakKeyDictionary()


def jclass(spark: SparkSession, name: str):
    """py4j handle of the JVM class, or static member of a class,
    ``name`` (fully qualified), walked once per gateway."""
    per_view = _JCLASSES.setdefault(spark._jvm, {})
    cls = per_view.get(name)
    if cls is None:
        cls = per_view[name] = functools.reduce(getattr, name.split("."), spark._jvm)
    return cls


def hadoop_path(spark: SparkSession, *args):
    """``new org.apache.hadoop.fs.Path(*args)`` through the handle cache."""
    return jclass(spark, "org.apache.hadoop.fs.Path")(*args)


def fs_and_path(spark: SparkSession, p: str):
    """Hadoop FileSystem + Path for ``p`` — the ONE portable handle the
    maintenance ops share (local disk / HDFS / object stores)."""
    jpath = hadoop_path(spark, p)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _hidden(name: str) -> bool:
    """Spark's file-index rule (``InMemoryFileIndex.shouldFilterOutPathName``)
    for names readers skip: ``.``-prefixed, ``_``-prefixed unless a
    ``k=v`` partition dir, and in-flight ``._COPYING_`` uploads."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _first_data_file(fs, jdir, nested: bool = False):
    """``(FileStatus, Path, nested)`` of the first file a parquet read
    of ``jdir`` would scan, or None; ``nested`` is true when it sits in
    a partition dir.  Hidden entries are skipped at every level below
    the root, so a staging dir swallowed into a version is never
    picked."""
    subdirs = []
    for st in fs.listStatus(jdir):
        jpath = st.getPath()
        if _hidden(jpath.getName()):
            continue
        if not st.isDirectory():
            return st, jpath, nested
        subdirs.append(jpath)
    for d in subdirs:
        found = _first_data_file(fs, d, True)
        if found is not None:
            return found
    return None


def parquet_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, without the
    inference job: one data file's footer is read on the driver and
    converted by Spark's own converter under the session's conf, so
    the result is exactly what inference returns (nullable, as the
    file source reports it).  Partitioned layouts get Spark's
    discovered partition columns appended by a job-free reader
    resolution.  None when there is no data file to read (or schema
    merging is on), so the caller's plain read surfaces Spark's own
    error or merge."""
    fs, root = fs_and_path(spark, path)
    if not fs.exists(root):
        return None
    sql_conf = spark._jsparkSession.sessionState().conf()
    if sql_conf.isParquetSchemaMergingEnabled():
        return None
    found = _first_data_file(fs, root)
    if found is None:
        return None
    st, jpath, nested = found
    pq = "org.apache.spark.sql.execution.datasources.parquet."
    meta = jclass(spark, pq + "ParquetFooterReader.readFooter")(
        jclass(spark, "org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus")(
            st, fs.getConf()
        ),
        jclass(
            spark,
            "org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS",
        ),
    )
    jschema = jclass(spark, pq + "ParquetFileFormat.readSchemaFromFooter")(
        jclass(spark, "org.apache.parquet.hadoop.Footer")(jpath, meta),
        jclass(spark, pq + "ParquetToSparkSchemaConverter")(sql_conf),
    )
    schema = T._parse_datatype_json_string(jschema.asNullable().json())
    if nested:
        return spark.read.schema(schema).parquet(path).schema
    return schema


# Filename-tagged pointers: a ``<prefix><digits>`` empty file under a
# dir carries one non-negative integer in its NAME (py4j content reads
# copy the buffer; see ``snapshots.commit_epoch_snapshot``).  Prefixes
# start with ``_`` so parquet readers skip the tags, and must hold no
# glob metacharacters.


def tagged_values(spark: SparkSession, base: str, prefix: str) -> list[int]:
    """Values of the ``<prefix><int>`` tags under ``base``, ascending.
    The name filter runs in the JVM, so the py4j cost is O(tags), not
    O(files in ``base``)."""
    fs, jbase = fs_and_path(spark, base)
    if not fs.exists(jbase):
        return []
    out = []
    name_filter = jclass(spark, "org.apache.hadoop.fs.GlobFilter")(f"{prefix}*")
    for st in fs.listStatus(jbase, name_filter):
        rest = st.getPath().getName()[len(prefix) :]
        if rest.isdigit():
            out.append(int(rest))
    return sorted(out)


def advance_tag(spark: SparkSession, base: str, prefix: str, value: int) -> None:
    """Ratchet the ``<prefix>`` tag up to ``value``: create
    ``<prefix><value>``, then drop smaller tags; a no-op when a tag at
    or above ``value`` already exists.  A crash between create and drop
    leaves extra tags; readers take the max, so the stragglers are
    harmless and the next advance sweeps them."""
    held = tagged_values(spark, base, prefix)
    if held and held[-1] >= value:
        return
    fs, jbase = fs_and_path(spark, base)
    fs.create(hadoop_path(spark, jbase, f"{prefix}{value}")).close()
    for old in held:
        fs.delete(hadoop_path(spark, jbase, f"{prefix}{old}"), False)


def read_lake_prefix(spark: SparkSession, prefix: str, schema=None) -> DataFrame:
    """S14 parquet_lake_scan: one call, partition discovery included."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(prefix)


def read_year_partitions(
    spark: SparkSession, prefix: str, year_from: int, year_to: int, year_col: str = "year"
) -> DataFrame:
    """Year-partitioned variant: with a ``year=YYYY/`` hive layout the
    range predicate prunes directories before any file IO — the
    declarative form of the reference's ``range(2020, now)`` loop."""
    return read_lake_prefix(spark, prefix).filter(
        F.col(year_col).between(year_from, year_to)
    )


def write_lake(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
    sink: "SinkSpec | None" = None,
) -> None:
    """K3 parquet_write.  Retries are Spark task retries; atomicity is
    the file committer's job — no hand-rolled retry loop.

    ``sink`` routes the write through the pluggable format seam
    (:mod:`.sink`): pass ``SinkSpec(format="orc")`` (tested) or a
    connector binding like ``bigquery`` — the lake default stays
    parquet."""
    from data_pipeline_bigquery_spark.sources.sink import SinkSpec, write_sink

    write_sink(
        df,
        sink if sink is not None else SinkSpec(),
        path=path,
        mode=mode,
        partition_by=partition_by,
    )


def merge_partitioned(
    spark,
    source: DataFrame,
    target_path: str,
    pk: str,
    partition_col: str,
    order_col: str,
) -> None:
    """Partition-pruned MERGE into a hive-partitioned lake table: the
    other half of :func:`operators.merge.affected_partitions`.

    1. the (broadcast) distinct partition list from the batch prunes
       the target scan (``PartitionFilters``: untouched partitions are
       never read);
    2. the merge (latest-wins on ``order_col``) runs over that pruned
       slice only;
    3. the merge output is materialized to a sibling staging dir FIRST,
       then each touched ``col=value`` directory is swapped into the
       target — untouched partition directories keep their files
       byte-identical, a mid-write failure leaves the live path intact
       (the merged content is not reconstructible from the batch alone,
       so overwriting the path being read would be unrecoverable), and
       no session-global conf is mutated under concurrent writers.

    At 100 TB this bounds a MERGE's IO to O(touched partitions), not
    O(table) — the same contract Delta/Iceberg MERGE gives, expressed
    with the plain parquet committer.  Assumes ``partition_col`` is
    stable per ``pk`` (true for date-partitioned facts); a pk that
    changes partition needs a delete in the old partition, which is a
    two-partition rewrite — include both in ``source`` to get it.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    parts = [r[0] for r in source.select(partition_col).distinct().collect()]
    target = spark.read.parquet(target_path).filter(
        F.col(partition_col).isin(parts)
    )
    merged = target.unionByName(source)
    w = Window.partitionBy(pk).orderBy(F.col(order_col).desc())
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # stage the merge result fully before touching the target: the target
    # is an input of `latest`, so an in-place overwrite would destroy the
    # rows it is still reading
    staging = target_path.rstrip("/") + "_merge_staging"
    latest.write.mode("overwrite").partitionBy(partition_col).parquet(staging)

    fs, staging_root = fs_and_path(spark, staging)
    _, target_root = fs_and_path(spark, target_path)
    # swap each staged `col=value` dir into the target; staging dir names
    # are Spark's own partition encoding, so no value-escaping here
    for st in fs.listStatus(staging_root):
        name = st.getPath().getName()
        if not st.isDirectory() or "=" not in name:
            continue
        dest = hadoop_path(spark, target_root, name)
        if fs.exists(dest):
            fs.delete(dest, True)
        fs.rename(st.getPath(), dest)
    fs.delete(staging_root, True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 256,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: both sides of a recurring fact-to-fact
    join written with the same ``(bucket_col, n_buckets)`` join WITHOUT
    any exchange (plan-asserted in tests/test_bucketing.py) — the 100 TB
    strategy where neither side broadcasts and re-shuffling 100 TB per
    join is the bottleneck.  Buckets also pre-sort, so the sort-merge
    join's sort is free."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def compact_lake(
    spark: SparkSession,
    path: str,
    target_file_mb: float = 512,
    sort_col: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Small-file compaction — the lake-maintenance pass every
    incremental pipeline needs: each micro-batch append (K1/K2 cadence)
    leaves files far below parquet's efficient range, and at 100 TB the
    resulting listing + open overhead dominates scan time long before
    bytes do.

    Sizes the output from the ACTUAL on-disk byte count (not row count):
    ``n_files = ceil(bytes / target_file_mb)``.  With ``sort_col`` the
    rewrite uses ``repartitionByRange`` + in-partition sort, so every
    output file covers a tight min/max range on that key and row-group
    stats prune like an index; without it a plain ``repartition``
    balances bytes.  Writes to a sibling ``_compact`` dir then swaps, so
    a failed rewrite never corrupts the live path.  All file ops go
    through the Hadoop FileSystem API, so the same code runs on local
    disk, HDFS, or object stores.  Returns the number of files written.
    """
    import math

    df = spark.read.parquet(path)

    def _parquet_files(p: str):
        fs, jpath = fs_and_path(spark, p)
        it = fs.listFiles(jpath, True)
        out = []
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                out.append(st)
        return fs, jpath, out

    _, _, files = _parquet_files(path)
    total_bytes = sum(st.getLen() for st in files)
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    shaped = (
        df.repartitionByRange(n_files, F.col(sort_col)).sortWithinPartitions(sort_col)
        if sort_col
        else df.repartition(n_files)
    )
    tmp = path.rstrip("/") + "_compact"
    write_lake(shaped, tmp, mode="overwrite", partition_by=partition_by)
    fs, live = fs_and_path(spark, path)
    fs.delete(live, True)
    tmp_fs, tmp_path = fs_and_path(spark, tmp)
    tmp_fs.rename(tmp_path, live)
    return len(_parquet_files(path)[2])


def _sweep_stale_swap_files(spark: SparkSession, path: str) -> None:
    """Reconcile ``.<file>.new`` / ``.<file>.old`` leftovers from a
    crashed :func:`delete_by_keys_rewrite` swap before touching the
    table again.  A backup whose live file is MISSING is the only copy
    of its rows (crash landed between the backup rename and the swap
    rename) and is restored; a backup whose live file exists is stale
    (crash after the swap, before cleanup) and is dropped; staged
    ``.new`` files are always dropped — the rerun recomputes them."""
    fs, root = fs_and_path(spark, path)
    if not fs.exists(root):
        return
    news, olds = [], []
    it = fs.listFiles(root, True)
    while it.hasNext():
        p = it.next().getPath()
        name = p.getName()
        if name.startswith("."):
            if name.endswith(".new"):
                news.append(p)
            elif name.endswith(".old"):
                olds.append(p)
    for p in olds:  # restore before dropping stages: live copies first
        live = hadoop_path(spark, p.getParent(), p.getName()[1 : -len(".old")])
        if fs.exists(live):
            fs.delete(p, False)
        elif not fs.rename(p, live):
            raise RuntimeError(f"could not restore crashed swap backup {p}")
    for p in news:
        fs.delete(p, False)


def delete_by_keys_rewrite(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys_df: DataFrame,
) -> dict:
    """Targeted hard delete (the GDPR / right-to-be-forgotten path):
    remove every row whose ``key_col`` appears in ``keys_df``,
    rewriting ONLY the parquet files that actually contain a matching
    row — untouched files are left byte-identical on disk.

    Parquet is immutable, so deletion is a rewrite; the scale lever is
    FILE PRUNING: matching rows are located with ``input_file_name()``
    plus a broadcast semi-join against the key set, so the rewrite IO
    is O(affected files), not O(table).  For a handful of subjects in
    a 100 TB lake that is the difference between rewriting gigabytes
    and rewriting everything.  The affected-file list comes from ONE
    scan (a per-file hit-count aggregate — the same collect also
    yields rows_deleted), bounded by file count like
    ``merge_partitioned``'s partition enumeration.

    Crash-safe swap per file: the rewritten file renames in next to
    the live one, the live file renames to a backup, the new one
    renames into place, and only then does the backup go — every
    rename's boolean result is CHECKED (a false return, e.g. a
    transient object-store failure, raises with the backup still on
    disk) and the staging dir is only removed after every swap
    completed.  At no point is any row's only copy in a directory
    that later gets unconditionally deleted.

    Both swap-staging names are DOT-PREFIXED (``.<file>.new`` /
    ``.<file>.old``) so Spark/Hive parquet readers — which hide
    ``.``/``_``-prefixed files — never see a half-swapped duplicate,
    and a crash between renames cannot resurrect deleted keys for a
    subsequent reader.  On entry the function first reconciles any
    stale swap files a previous crash left behind (restore a backup
    whose live file is missing, then drop stale backups/stages), so a
    rerun converges instead of double-reading.  Writer concurrency is
    NOT handled: like any in-place parquet rewrite this assumes a
    single maintenance-window writer (no second concurrent
    delete/compact on the same directory).

    Hive-partitioned lakes work too: the per-file re-read passes
    ``basePath`` so partition columns are reconstructed even when
    ``key_col`` IS a partition column.

    Returns ``{"files_rewritten": int, "rows_deleted": int}``.
    """
    _sweep_stale_swap_files(spark, path)
    df = spark.read.parquet(path).withColumn("__file", F.input_file_name())
    hits = df.join(
        F.broadcast(keys_df.select(F.col(key_col))), key_col, "left_semi"
    )
    per_file = hits.groupBy("__file").agg(F.count(F.lit(1)).alias("n")).collect()
    if not per_file:
        return {"files_rewritten": 0, "rows_deleted": 0}
    affected = [r["__file"] for r in per_file]
    n_deleted = sum(r["n"] for r in per_file)

    def _must(ok: bool, what: str):
        if not ok:
            raise RuntimeError(f"filesystem {what} failed during delete swap")

    tmp = path.rstrip("/") + "_delete"
    for i, f in enumerate(affected):
        kept = (
            spark.read.option("basePath", path)
            .parquet(f)
            .join(F.broadcast(keys_df.select(F.col(key_col))), key_col, "left_anti")
        )
        # partition columns were reconstructed via basePath for the
        # join; they must not be written into the leaf file itself
        leaf_cols = spark.read.parquet(f).columns
        kept.select(*leaf_cols).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/{i}"
        )
    for i, f in enumerate(affected):
        fs, live = fs_and_path(spark, f)
        new = hadoop_path(spark, live.getParent(), "." + live.getName() + ".new")
        old = hadoop_path(spark, live.getParent(), "." + live.getName() + ".old")
        part_fs, part_dir = fs_and_path(spark, f"{tmp}/{i}")
        it = part_fs.listFiles(part_dir, False)
        moved = False
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                _must(part_fs.rename(st.getPath(), new), "stage rename")
                moved = True
        _must(moved, "staged part lookup")
        _must(fs.rename(live, old), "backup rename")
        if not fs.rename(new, live):
            fs.rename(old, live)  # restore before failing
            raise RuntimeError("swap rename failed; live file restored")
        _must(fs.delete(old, False), "backup cleanup")
    tmp_fs, tmp_dir = fs_and_path(spark, tmp)
    tmp_fs.delete(tmp_dir, True)
    return {"files_rewritten": len(affected), "rows_deleted": n_deleted}

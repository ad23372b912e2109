"""Table-maintenance operators: the housekeeping a long-lived lake
needs around the query engine (small-file compaction here; clustered
writes live on the Parquet connector's ``partition_by/sort_by``, layout
keys in ``functions.portable.zorder_key2``).

All filesystem operations go through the Hadoop ``FileSystem`` API, so
the same code works on ``file://``, ``hdfs://``, ``s3a://`` and any
other registered scheme — sizing, the staging swap, and cleanup are
never local-``os``-module calls.

Reference parity: maintenance is "new capability" (SURVEY §2.5) —
the reference's single-file connectors never fragment.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``'s scheme via the session's Hadoop
    configuration — the scheme's registered implementation resolves
    ``file://``, ``hdfs://``, ``s3a://`` etc. uniformly."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total data bytes under ``path`` (recursive), skipping metadata
    files (``_SUCCESS``, ``.crc`` …) — works on any Hadoop scheme."""
    fs, hpath = _fs_and_path(spark, path)
    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.startswith(("_", ".")):
            total += st.getLen()
    return total


def build_file_index(spark: SparkSession, path: str, cols: list[str]):
    """Manifest-level data-skipping index: one row per data file with
    per-column (min, max) read from the parquet FOOTERS — the
    Iceberg/Delta manifest idea without a table format.  Combined with
    clustered writes (``sort_by`` / z-order), a range predicate prunes
    the FILE LIST itself (:func:`pruned_read`) before Spark ever plans
    the scan — at 100 TB that is the difference between listing+opening
    a million files and a few hundred.

    Footer reads are distributed: the file list fans out over the
    cluster and each task reads only metadata (no row groups).
    Output: (file, n_rows, <col>_min, <col>_max ...), small enough to
    collect or broadcast.
    """
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    fs, hpath = _fs_and_path(spark, path)
    files = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            files.append(st.getPath().toString())
    if not files:
        raise FileNotFoundError(f"no parquet data files under {path}")

    fields = [
        StructField("file", StringType()),
        StructField("n_rows", LongType()),
    ]
    sample = spark.read.parquet(files[0]).schema
    for c in cols:
        t = sample[c].dataType
        fields += [StructField(f"{c}_min", t), StructField(f"{c}_max", t)]
    schema = StructType(fields)

    def stats(paths):
        import pyarrow.parquet as pq

        def _footer(p):
            # scheme-dispatched open so footer reads work on s3a/hdfs
            # etc., not just file: URIs (pyarrow maps s3a -> s3)
            if p.startswith("file:"):
                return pq.ParquetFile(p[len("file:"):]).metadata
            if "://" in p:
                from pyarrow import fs as pafs

                uri = p.replace("s3a://", "s3://", 1)
                fsys, rel = pafs.FileSystem.from_uri(uri)
                with fsys.open_input_file(rel) as f:
                    return pq.ParquetFile(f).metadata
            return pq.ParquetFile(p).metadata

        for p in paths:
            md = _footer(p)
            row = [p, md.num_rows]
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for c in cols:
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    s = md.row_group(rg).column(idx[c]).statistics
                    if s is not None and s.has_min_max:
                        mins.append(s.min)
                        maxs.append(s.max)
                row += [min(mins) if mins else None,
                        max(maxs) if maxs else None]
            yield row

    rdd = spark.sparkContext.parallelize(files, max(1, min(64, len(files))))
    return spark.createDataFrame(rdd.mapPartitions(stats), schema)


def pruned_read(
    spark: SparkSession,
    path: str,
    index,
    col: str,
    lo,
    hi,
):
    """Read only the data files whose [min, max] envelope intersects
    [lo, hi] (per ``index`` from :func:`build_file_index`), then apply
    the exact predicate — manifest pruning, with the residual filter
    still pushed to the surviving footers.  Files with missing stats
    are conservatively KEPT (the one-column case of
    :func:`layout.files_for_box`)."""
    from pyspark.sql import functions as F

    from .layout import files_for_box

    files = files_for_box(index, {col: (lo, hi)})
    if not files:
        return (
            spark.read.parquet(path)
            .where(F.lit(False))  # empty, schema-preserving
        )
    return spark.read.parquet(*files).where(
        (F.col(col) >= lo) & (F.col(col) <= hi)
    )


def _read_pointer(fs, hpointer) -> int | None:
    """Best-effort read of a ``_LATEST`` pointer file; None if absent
    or momentarily unreadable (a concurrent commit is in flight)."""
    try:
        if not fs.exists(hpointer):
            return None
        stream = fs.open(hpointer)
        try:
            return int(bytes(stream.readAllBytes()).decode().strip())
        finally:
            stream.close()
    except Exception:
        return None


def _version_of(name: str) -> int | None:
    """Parse ``v=N`` directory-entry names."""
    if not name.startswith("v="):
        return None
    body = name[2:]
    return int(body) if body.isdigit() else None


def _rename_overwrite(spark: SparkSession, fs, hsrc, hdst) -> None:
    """Atomic rename-onto: ``FileContext.rename(OVERWRITE)`` replaces
    the destination in one metadata operation (HDFS, local), so a
    reader resolving the destination never observes it missing.  Stores
    without FileContext support fall back to delete+rename — a
    non-atomic window that :func:`read_published`'s listing fallback
    papers over."""
    jvm = spark._jvm
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            fs.getUri(), spark._jsc.hadoopConfiguration()
        )
        Rename = jvm.org.apache.hadoop.fs.Options.Rename
        opts = spark.sparkContext._gateway.new_array(Rename, 1)
        opts[0] = Rename.OVERWRITE
        fc.rename(hsrc, hdst, opts)
    except Exception:
        if fs.exists(hdst):
            fs.delete(hdst, False)
        if not fs.rename(hsrc, hdst):
            raise RuntimeError(f"pointer commit failed for {hdst}")


def versioned_publish(
    spark: SparkSession,
    table_dir: str,
    df,
    *,
    keep_versions: int = 2,
) -> int:
    """Atomically publish ``df`` as the next version of a table:
    ``<table_dir>/v=<N>/`` plus a one-line ``_LATEST`` pointer file.

    The rename-swap (:func:`replace_dir`) mutates the directory a
    reader may be mid-scan of, and directory rename is copy+delete on
    object stores.  Versioned publish never touches live data: the new
    version writes beside the old, then the pointer moves.  Readers
    resolve ``_LATEST`` first (:func:`read_published`) and keep a
    consistent snapshot for their whole scan even while new versions
    land.  ``keep_versions`` old versions are retained for in-flight
    readers, older ones pruned AFTER the pointer moves.

    **Concurrent publishers are safe.**  Each publisher CLAIMS its
    version number by create-no-overwrite of ``_claims/<N>`` — a real
    compare-and-swap on HDFS/local (and on object stores with
    conditional-create support); the loser advances to ``N+1``, so two
    racing publishes land in DISTINCT directories and neither is
    clobbered mid-write.  The pointer commit is an atomic overwrite
    rename (:func:`_rename_overwrite`) guarded to be monotone: a
    slower publisher whose version was already superseded leaves the
    pointer alone (its snapshot is still published and time-travelable).
    A crash after the claim but before the pointer move leaves a
    dangling ``v=N`` dir that pruning eventually removes — readers
    never resolve to it.  Returns the published version number.
    """
    fs, hdir = _fs_and_path(spark, table_dir)
    base = table_dir.rstrip("/")
    pointer = base + "/_LATEST"
    _, hpointer = _fs_and_path(spark, pointer)
    claims = base + "/_claims"  # underscore dir: invisible to scans
    _, hclaims = _fs_and_path(spark, claims)
    fs.mkdirs(hclaims)
    current = _read_pointer(fs, hpointer)
    start = -1 if current is None else current
    for st in fs.listStatus(hdir):  # skip versions claimed by racers
        v = _version_of(st.getPath().getName())
        if v is not None:
            start = max(start, v)
    for st in fs.listStatus(hclaims):
        name = st.getPath().getName()
        if name.isdigit():
            start = max(start, int(name))

    version = start + 1
    for _ in range(1000):  # CAS claim loop: first create-if-absent wins
        _, hclaim = _fs_and_path(spark, f"{claims}/{version}")
        try:
            out = fs.create(hclaim, False)
            try:
                out.write(f"{version}\n".encode())
            finally:
                out.close()
            break
        except Exception:  # claimed by a concurrent publisher
            version += 1
    else:
        raise RuntimeError(
            f"versioned_publish: could not claim a version under {base}"
        )
    vdir = f"{base}/v={version}"
    df.write.mode("overwrite").parquet(vdir)

    # pointer commit: write beside, then atomically rename ONTO _LATEST
    # — monotone: never move the pointer backward over a racer's newer
    # commit (re-check is best-effort; the rename itself is atomic)
    tmp_pointer = pointer + f"._tmp{version}"
    _, htmp = _fs_and_path(spark, tmp_pointer)
    out = fs.create(htmp, True)
    try:
        out.write(f"{version}\n".encode())
    finally:
        out.close()
    latest = _read_pointer(fs, hpointer)
    if latest is not None and latest > version:
        fs.delete(htmp, False)  # superseded while writing: keep newer
    else:
        _rename_overwrite(spark, fs, htmp, hpointer)

    # prune AFTER the commit: in-flight readers of recent versions finish
    floor_v = version - keep_versions
    for st in fs.listStatus(hdir):
        v = _version_of(st.getPath().getName())
        if v is not None and v < floor_v:
            fs.delete(st.getPath(), True)
    for st in fs.listStatus(hclaims):
        name = st.getPath().getName()
        if name.isdigit() and int(name) < floor_v:
            fs.delete(st.getPath(), False)
    return version


def read_published(spark: SparkSession, table_dir: str, *, version: int | None = None):
    """Read a :func:`versioned_publish` table — resolve ``_LATEST``
    once, then scan that immutable ``v=N`` directory (a consistent
    snapshot for the whole job).  Pass ``version`` for time travel to a
    still-retained older snapshot (within ``keep_versions`` of the
    current pointer).

    If the pointer is momentarily absent/unreadable (a publisher on a
    store without atomic rename is mid-commit), falls back to the
    highest COMPLETE version directory (one containing ``_SUCCESS``) —
    readers never fail on a pointer race."""
    fs, hdir = _fs_and_path(spark, table_dir)
    if version is None:
        pointer = table_dir.rstrip("/") + "/_LATEST"
        _, hpointer = _fs_and_path(spark, pointer)
        version = _read_pointer(fs, hpointer)
        if version is None:  # pointer race / missing: highest complete
            best = None
            if fs.exists(hdir):
                for st in fs.listStatus(hdir):
                    if not st.isDirectory():
                        continue
                    v = _version_of(st.getPath().getName())
                    if v is None:
                        continue
                    _, hs = _fs_and_path(
                        spark,
                        f"{table_dir.rstrip('/')}/v={v}/_SUCCESS",
                    )
                    if fs.exists(hs):
                        best = v if best is None else max(best, v)
            if best is None:
                raise FileNotFoundError(
                    f"no published version at {table_dir}"
                )
            version = best
    vdir = f"{table_dir.rstrip('/')}/v={version}"
    _, hv = _fs_and_path(spark, vdir)
    if not fs.exists(hv):
        raise FileNotFoundError(
            f"version {version} of {table_dir} does not exist (pruned or "
            "never published)"
        )
    return spark.read.parquet(vdir)


def replace_dir(spark: SparkSession, path: str, staging: str) -> None:
    """Swap ``staging`` into ``path`` with a backup window: (path →
    ._swap_old), (staging → path), delete backup.  Crash between the
    renames leaves the data at ``<path>._swap_old`` and the rewrite at
    ``staging`` — restore by renaming either back.  First install (no
    existing ``path``) is a single rename."""
    fs, hpath = _fs_and_path(spark, path)
    _, hstaging = _fs_and_path(spark, staging)
    backup = path.rstrip("/") + "._swap_old"
    _, hbackup = _fs_and_path(spark, backup)
    if not fs.exists(hpath):
        if not fs.rename(hstaging, hpath):
            raise RuntimeError(f"replace_dir: could not install {path}")
        return
    if fs.exists(hbackup):  # stale backup from an interrupted prior run
        fs.delete(hbackup, True)
    if not fs.rename(hpath, hbackup):
        fs.delete(hstaging, True)
        raise RuntimeError(f"replace_dir: could not move {path} aside")
    if not fs.rename(hstaging, hpath):
        fs.rename(hbackup, hpath)  # put the original back; nothing lost
        raise RuntimeError(
            f"replace_dir: could not move staging into place for {path}; "
            "original restored"
        )
    fs.delete(hbackup, True)


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_file_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Small-file compaction: rewrite a fragmented parquet directory
    into ``ceil(bytes / target)`` files, optionally range-sorted so the
    rewrite also restores clustering (pair with a z-order key for
    multi-dimensional locality).

    Returns the compacted DataFrame reading the REWRITTEN location; the
    rewrite goes through a sibling staging directory then the
    :func:`replace_dir` rename swap (never read-overwrite the same path
    in one job — Spark deletes the target before the read plan
    executes).  The swap is guarded: the staged rewrite is READ BACK
    and its row count compared against the original's before anything
    is moved, and the original survives as ``<path>._swap_old`` until
    the swap has fully succeeded (crash-recovery contract documented on
    :func:`replace_dir`; on object stores without atomic directory
    rename the window is just longer).

    Scale notes: file count from actual on-disk bytes (Hadoop FS
    listing — scheme-agnostic), not row counts; ``repartitionByRange``
    on the sort key gives non-overlapping file envelopes (data-skipping
    survives compaction); plain ``repartition`` (round-robin) otherwise.
    """
    n_files = max(
        1, math.ceil(dir_bytes(spark, path) / (target_file_mb * 1024 * 1024))
    )
    df = spark.read.parquet(path)
    pre_count = df.count()
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_files)

    fs, _ = _fs_and_path(spark, path)
    staging = path.rstrip("/") + "._compact_staging"
    _, hstaging = _fs_and_path(spark, staging)

    out.write.mode("overwrite").parquet(staging)
    # verify BEFORE touching the original: a silently short staging
    # write must never replace good data
    post_count = spark.read.parquet(staging).count()
    if post_count != pre_count:
        fs.delete(hstaging, True)
        raise RuntimeError(
            f"compact_parquet: staged rewrite of {path} has {post_count} "
            f"rows, expected {pre_count}; original left untouched"
        )
    replace_dir(spark, path, staging)
    return spark.read.parquet(path)

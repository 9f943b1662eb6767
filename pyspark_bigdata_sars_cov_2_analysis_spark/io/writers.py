"""Sinks (SURVEY.md §2.1 S4, S6).

The reference persists every result as single-file JSON-lines via
``df.coalesce(1).write.json(dir, mode='overwrite')`` (identical helpers at
``spark/jobs/cases_time_analysis.py:309-314`` et al.). We keep that contract
but make the single-file squeeze explicit and optional: at 100 TB a
``coalesce(1)`` is a serial bottleneck, so the default writes partitioned
output and ``single_file=True`` is the opt-in small-result path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.functions.localrel import (
    local_frame,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.io import fs as _fs


def write_json_single_file(
    df: DataFrame,
    path: str,
    single_file: bool = True,
    audit_metrics: dict[str, Column] | None = None,
) -> dict | None:
    """JSON-lines sink, optionally collecting audit metrics IN the write.

    With ``audit_metrics`` (name → aggregate Column, e.g. ``{"n":
    F.count(F.lit(1)), "qty": F.sum("l_quantity")}``), an ``Observation``
    is attached to the plan so the metrics are accumulated DURING the
    write job and returned as a dict — at 100 TB this replaces the usual
    "write, then re-scan to validate" second pass with a free piggyback
    on the one pass the write already makes.

    .. warning:: **Session footgun (Spark 4.x):** the first ``observe()``
       on a session lazily initializes its non-serializable
       ``ObservationManager``; afterwards, shipping any MLlib model whose
       ``trainingSummary`` still references that session into a task
       closure (e.g. ``model.transform`` inside an evaluator) dies with
       ``java.io.NotSerializableException: ...ObservationManager``. If the
       same session later trains MLlib models, run audit-metric writes on
       ``spark.newSession()`` (same SparkContext, separate session state)
       or drop ``trainingSummary`` before models enter closures. Pinned by
       ``tests/test_io_and_ops.py::test_write_json_audit_metrics``, which
       runs in an isolated interpreter for exactly this reason.
    """
    _refuse_snapshot_table(path, "write_json_single_file")
    if audit_metrics:
        from pyspark.sql import Observation

        obs = Observation("write_audit")
        df = df.observe(
            obs, *[c.alias(n) for n, c in audit_metrics.items()]
        )
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)
    return obs.get if audit_metrics else None


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    _refuse_snapshot_table(path, "write_parquet")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving every other partition untouched — the idempotent
    incremental-backfill write. With static overwrite (the default), an
    'overwrite' of one late-arriving day would DELETE the other N thousand
    date partitions of a 100 TB table; the per-write option scopes the
    overwrite to the partitions being written, so re-running a failed
    backfill converges instead of compounding."""
    _refuse_snapshot_table(path, "overwrite_partitions")
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table — the
    at-rest layout for repeated co-located joins: two tables bucketed on
    the same key with the same bucket count join with NO shuffle on either
    side (and no sort, if sorted). At 100 TB this converts every
    fact⋈fact join on the bucket key from a full-network shuffle into a
    local zip of pre-matched buckets; the one-time bucketing shuffle is
    paid at write."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist parquet globally range-clustered on ``sort_col``:
    repartitionByRange gives each output file a disjoint value range and
    sortWithinPartitions orders rows inside it, so every file's and
    row-group's min/max footer stats become TIGHT. Parquet readers
    (Spark's vectorized scan included) skip whole row groups whose
    [min,max] misses a pushed predicate — on a 100 TB fact table a
    point/range filter on the cluster column then reads the few files
    that can match instead of every footer's worth of data. The
    clustering shuffle is paid once at write (range exchange samples the
    key distribution, so skew self-balances). Verified by a test that
    reads the written footers and asserts the per-file ranges are
    pairwise disjoint."""
    _refuse_snapshot_table(path, "write_range_sorted")
    parts = df.repartitionByRange(n_partitions, F.col(sort_col)) if (
        n_partitions
    ) else df.repartitionByRange(F.col(sort_col))
    parts.sortWithinPartitions(sort_col).write.mode(mode).parquet(path)


_ZORDER_NUMERIC = {
    "tinyint", "smallint", "int", "bigint", "float", "double"
}


def _zorder_column(df: DataFrame, cols: list[str], bits: int = 12):
    """Min/max-scaled Morton code Column for ``df`` over ``cols`` (one
    1-row stats aggregate), or None when the frame is empty — shared by
    :func:`write_zorder` and the snapshot compaction's zorder strategy.
    Per-column NULL guards (ADVICE r7): an all-NULL dimension is a
    constant span (coordinate 0 for every row) instead of a TypeError at
    ``hi - lo``; row-level NULLs in a live dimension coalesce to the grid
    minimum so they cluster together at the cell origin rather than
    landing on arbitrary files."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.sorts import (
        zorder_value,
    )

    stats = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.min(c).cast("double").alias(f"min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"max_{c}") for c in cols],
    ).first()
    if stats["__n"] == 0:
        return None
    grid = float((1 << bits) - 1)
    scaled = []
    for c in cols:
        lo, hi = stats[f"min_{c}"], stats[f"max_{c}"]
        if lo is None:
            scaled.append(F.lit(0).cast("bigint"))
            continue
        span = (hi - lo) or 1.0
        coord = F.coalesce(F.col(c).cast("double"), F.lit(lo))
        scaled.append(
            F.least(
                F.floor((coord - F.lit(lo)) / F.lit(span) * grid)
                .cast("bigint"),
                F.lit((1 << bits) - 1),
            )
        )
    return zorder_value(scaled, bits=bits)


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    n_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist parquet Z-order-clustered on ``cols`` — the multi-dimensional
    sibling of :func:`write_range_sorted`. A 1-D range sort gives tight
    footer stats only on its leading column (every file spans the FULL
    range of the second column); interleaving the columns' bits into a
    Morton code and range-clustering on THAT gives every file a compact
    cell in all ``len(cols)`` dimensions, so a pushed predicate on ANY of
    them skips most row groups. This is how a 100 TB fact table serves
    both ``WHERE user_id = ?`` and ``WHERE day = ?`` from one layout
    without a second copy. Cost: one stats pass (a 1-row min/max
    aggregate) plus the same single clustering shuffle the 1-D writer
    pays; verified by a footer-stats test that z-ordered files bound BOTH
    dimensions while an x-sorted control leaves the second unbounded.
    """
    _refuse_snapshot_table(path, "write_zorder")
    if "__z" in df.columns:
        raise ValueError(
            "input has a column named __z, which the zorder writer uses "
            "as scratch (withColumn would replace it and drop would "
            "delete it) — rename it first"
        )

    zcol = _zorder_column(df, cols, bits=bits)
    if zcol is None:
        # empty input: nothing to cluster; write the empty frame as-is
        df.write.mode(mode).parquet(path)
        return
    z = df.withColumn("__z", zcol)
    parts = (
        z.repartitionByRange(n_partitions, F.col("__z"))
        if n_partitions
        else z.repartitionByRange(F.col("__z"))
    )
    (
        parts.sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def audit_parquet_layout(path: str, small_file_mb: int = 16) -> dict:
    """The detector that tells you WHEN to run :func:`compact_parquet`:
    file count, byte totals, size quartiles, and the small-file fraction
    of a parquet directory — pure footer-free filesystem metadata, no
    Spark job, so auditing a 100 TB table's layout costs a listing, not
    a scan. A pipeline healthcheck alerts on ``small_file_fraction``
    (many files under ``small_file_mb``) before the metadata storm
    degrades every reader."""
    import glob as _glob
    import os as _os

    path = _local_path(path)
    sizes = sorted(
        _os.path.getsize(f)
        for f in _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if not sizes:
        return {"n_files": 0, "total_mb": 0.0, "small_file_fraction": 0.0}
    n = len(sizes)
    q = lambda f: sizes[min(n - 1, int(f * n))] / (1024 * 1024)
    small = sum(1 for s in sizes if s < small_file_mb * 1024 * 1024)
    return {
        "n_files": n,
        "total_mb": round(sum(sizes) / (1024 * 1024), 2),
        "p25_mb": round(q(0.25), 3),
        "p50_mb": round(q(0.50), 3),
        "p75_mb": round(q(0.75), 3),
        "max_mb": round(sizes[-1] / (1024 * 1024), 3),
        "small_file_fraction": round(small / n, 3),
    }


def _swap_in(path: str, tmp: str, backup_suffix: str) -> None:
    """The driver-side directory swap :func:`compact_parquet` and
    :func:`merge_upsert_parquet` share, with the crash window between
    the two renames made RECOVERABLE (ADVICE r7): a sidecar marker
    (``<path>.swap-in-progress``) records the three directories before
    the first rename and is removed after the table is back in place —
    so a crash mid-swap leaves a machine-readable recovery plan instead
    of a silently missing table. Run :func:`recover_staged_swap` at
    startup (or by hand) to roll forward/back. The swap itself remains
    non-atomic for CONCURRENT readers — the documented gap a
    transactional format's metadata pointer closes."""
    import json as _json
    import os as _os
    import shutil

    backup = path.rstrip("/") + backup_suffix
    marker = path.rstrip("/") + ".swap-in-progress"
    shutil.rmtree(backup, ignore_errors=True)
    with open(marker, "w") as f:
        _json.dump({"path": path, "staged": tmp, "backup": backup}, f)
    shutil.move(path, backup)
    shutil.move(tmp, path)
    _os.remove(marker)
    shutil.rmtree(backup)


def recover_staged_swap(path: str) -> dict:
    """Recovery for a crash inside :func:`_swap_in`'s rename window.
    Reads ``<path>.swap-in-progress`` and rolls FORWARD if the staged
    (verified) output exists — finishing the interrupted swap — else
    rolls BACK to the backup; idempotent and a no-op when no marker is
    present or the table is already in place. Returns what it did."""
    import json as _json
    import os as _os
    import shutil

    path = _local_path(path)
    marker = path.rstrip("/") + ".swap-in-progress"
    if not _os.path.exists(marker):
        return {"action": "none", "reason": "no marker"}
    with open(marker) as f:
        plan = _json.load(f)
    staged, backup = plan["staged"], plan["backup"]
    if _os.path.exists(path):
        # crash fell after the second rename: just finish the cleanup
        action = "cleanup"
    elif _os.path.exists(staged):
        # staged output was count-verified before the swap began — the
        # crash fell between the renames; complete it (roll forward)
        shutil.move(staged, path)
        action = "rolled_forward"
    elif _os.path.exists(backup):
        shutil.move(backup, path)
        action = "rolled_back"
    else:
        raise RuntimeError(
            f"unrecoverable swap state for {path}: marker present but "
            f"neither table, staged ({staged}) nor backup ({backup}) exists"
        )
    _os.remove(marker)
    shutil.rmtree(backup, ignore_errors=True)
    return {"action": action}


def _maybe_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    """Broadcast-hint a frame only when its KNOWN row count is provably
    small (r13 scale review): a typical upsert's updates side is tiny and
    the hint spares the target a shuffle, but at 100 TB an upsert can be
    a giant backfill — forcing the broadcast there OOMs the driver and
    every executor. Beyond the threshold the join is left to Catalyst/
    AQE, which will still broadcast if the runtime size allows and
    shuffle-join otherwise. 1M rows is conservative for the sub-10MB
    broadcast sweet spot at typical key widths."""
    return F.broadcast(df) if n_rows <= 1_000_000 else df


def _refuse_snapshot_table(path: str, op: str) -> None:
    """Staged-swap maintenance must never touch a snapshot-versioned
    table's directory (VERDICT r10 residual #3): the swap rewrites/
    renames data dirs that published manifests reference by exact file
    path, silently breaking every version's read isolation and time
    travel. Snapshot tables have their own manifest-aware ops
    (:func:`compact_parquet_snapshot`, :func:`vacuum_parquet_snapshots`).
    r12 extends the guard to every generic overwrite-capable sink in
    this module: ``df.write.mode('overwrite')`` pointed at a snapshot
    table's ROOT would delete the ``_snapshots/`` manifests and every
    data dir wholesale — the one mistake the manifest protocol cannot
    survive. ADVICE r12 closes the SUBPATH hole: a sink pointed INSIDE
    a snapshot table (``tbl/data``, ``tbl/data/v00000001-xxxx``) wipes
    data dirs that published manifests reference while the manifests
    survive — every version's read breaks. Everything under a snapshot
    root belongs to the manifest protocol, so the check walks every
    ancestor directory (a handful of isdir stats, bounded by path
    depth). Use :func:`write_parquet_snapshot` on these tables."""
    import os as _os

    probe = _os.path.abspath(_local_path(path))
    while True:
        if _os.path.isdir(_os.path.join(probe, _SNAP_DIR)):
            raise ValueError(
                f"{op} refused: {path} is (inside) a snapshot-versioned "
                f"table at {probe} (has {_SNAP_DIR}/ manifests); use "
                "compact_parquet_snapshot/vacuum_parquet_snapshots "
                "instead"
            )
        parent = _os.path.dirname(probe)
        if parent == probe:
            return
        probe = parent


def merge_upsert_parquet(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    tmp_suffix: str = "_merging",
) -> dict:
    """MERGE INTO for a path-based parquet table: rows in ``updates``
    REPLACE target rows with the same key, new keys INSERT — the upsert
    every incremental pipeline eventually needs (late-arriving
    corrections, dimension refreshes) and plain parquet has no answer
    for. Semantics: ``target LEFT ANTI updates ∪ updates`` (one anti
    join on the keys — a provably-small updates side is broadcast-hinted
    so the target never shuffles; a giant backfill is left to AQE
    instead of force-broadcast, r13 scale review), staged to a sibling dir,
    count-verified (rows_out == rows_target − matched_rows +
    rows_updates), then swapped in via the marker-protected
    :func:`_swap_in` shared with :func:`compact_parquet` (crash mid-swap
    → :func:`recover_staged_swap` rolls forward/back) — still non-atomic
    for concurrent readers, which is precisely the gap transactional
    table formats (Delta/Iceberg/Hudi) close with a metadata pointer
    swap; this function IS that pointer swap, minus the lock service.
    ``updates`` must be key-unique (enforced — duplicate update keys
    would make the result order-dependent). Like :func:`compact_parquet`,
    a Hive-partitioned target is flattened by the rewrite — merge into
    partition directories individually to keep the layout. Returns
    KEY counts: ``updated`` + ``inserted`` == rows_updates even when the
    target holds duplicate keys (a matched key replaces ALL its target
    rows), plus the verified output row count."""
    import shutil

    _refuse_snapshot_table(path, "merge_upsert_parquet")
    path = _local_path(path)
    # self-heal a previous crashed swap before reading the target: the
    # marker protocol makes roll-forward/back safe and idempotent, so a
    # maintenance job restarted after a mid-swap crash just works
    recover_staged_swap(path)
    dup = (
        updates.groupBy(*key_cols).count().where(F.col("count") > 1).count()
    )
    if dup:
        raise ValueError(
            f"updates contain {dup} duplicate key(s) on {key_cols}; "
            "resolve (e.g. keep-latest) before merging"
        )
    target = spark.read.parquet(path)
    n_target = target.count()
    n_updates = updates.count()
    # matched ROWS size the row-count verification (they are what the
    # anti join removes); matched KEYS are the stats — on a target with
    # duplicate keys the two differ, and key-counting keeps
    # updated+inserted == n_updates with inserted never negative
    # (ADVICE r7)
    hit_stats = (
        target.join(
            _maybe_broadcast(updates.select(*key_cols), n_updates),
            key_cols,
            "left_semi",
        )
        .agg(
            F.count(F.lit(1)).alias("r"),
            F.countDistinct(*key_cols).alias("k"),
        )
        .first()
    )
    matched_rows, matched_keys = hit_stats.r, hit_stats.k
    merged = target.join(
        _maybe_broadcast(updates.select(*key_cols), n_updates),
        key_cols,
        "left_anti",
    ).unionByName(updates)
    tmp = path.rstrip("/") + tmp_suffix
    shutil.rmtree(tmp, ignore_errors=True)
    merged.write.mode("overwrite").parquet(tmp)
    got = spark.read.parquet(tmp).count()
    want = n_target - matched_rows + n_updates
    if got != want:
        raise RuntimeError(
            f"merge row-count mismatch ({got} != {want}); staged output "
            f"left at {tmp}, original untouched"
        )
    _swap_in(path, tmp, "_premerge")
    return {
        "updated": matched_keys,
        "inserted": n_updates - matched_keys,
        "rows": got,
    }


def write_parquet_sized(
    df: DataFrame,
    path: str,
    target_file_mb: int = 128,
    sample_rows: int = 10_000,
    mode: str = "overwrite",
) -> int:
    """Parquet sink with BOUNDED file sizes when the row width is
    unknown a priori — the complement of :func:`compact_parquet`
    (that one fixes fragmentation after the fact; this prevents the
    opposite failure, multi-GB files a downstream reader can't split
    row-groups out of efficiently). Technique: write a ``sample_rows``
    probe file, measure encoded bytes/row (real parquet encoding —
    including compression — not an in-memory guess), derive
    ``maxRecordsPerFile``, then write the full frame; Spark splits any
    oversized task output at that record count. The probe rows are drawn
    from the HEAD OF EVERY PARTITION, not a global ``limit`` prefix
    (ADVICE r7: a prefix probe under-measures data whose row width grows
    with position, e.g. sorted by payload size, producing oversized
    files) — cross-partition sampling captures the width spread whenever
    it varies across the dataset; only a width gradient hiding entirely
    WITHIN every partition can still bias it. Small-file overhead
    (dictionary/stats amortize better in big files) additionally biases
    the estimate toward smaller files — the safe side. The per-partition
    head is an ``islice`` over ``mapPartitions`` — one of the few
    justified RDD uses in this codebase, because a SQL filter on the
    within-partition row number evaluates over EVERY row (a full extra
    scan), while the iterator stops pulling after its quota, so each
    task reads only its leading row group(s) and the probe stays
    ~sample_rows of IO regardless of frame size. Returns the
    records-per-file cap used; no extra shuffle."""
    _refuse_snapshot_table(path, "write_parquet_sized")
    import glob as _glob
    import os as _os
    import shutil
    from itertools import islice

    path = _local_path(path)
    probe = path.rstrip("/") + "_sizing"
    n_parts = max(1, df.rdd.getNumPartitions())
    per_part = max(1, sample_rows // n_parts)
    sample = df.sparkSession.createDataFrame(
        df.rdd.mapPartitions(lambda it: islice(it, per_part)), df.schema
    )
    sample.coalesce(1).write.mode("overwrite").parquet(probe)
    files = _glob.glob(f"{probe}/*.parquet")
    nbytes = sum(_os.path.getsize(f) for f in files)
    nrows = max(1, df.sparkSession.read.parquet(probe).count())
    bytes_per_row = max(1.0, nbytes / nrows)
    max_records = max(1, int(target_file_mb * 1024 * 1024 / bytes_per_row))
    shutil.rmtree(probe, ignore_errors=True)
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", max_records)
        .parquet(path)
    )
    return max_records


def compact_parquet(
    spark,
    path: str,
    n_files: int,
    tmp_suffix: str = "_compacting",
) -> int:
    """Rewrite a parquet directory into ``n_files`` larger files — the
    maintenance pass for the small-files problem every incremental
    pipeline accumulates (each micro-batch/backfill append leaves its
    own part files; thousands of tiny files turn a 100 TB scan into a
    metadata storm and starve the scheduler). Shape: one ``coalesce``
    (NO shuffle — compaction is IO-bound, so we merge read-partitions
    instead of paying a full exchange), staged into a sibling temp dir,
    row-count-verified, then swapped in. The swap is driver-side
    directory renames and therefore NOT atomic for concurrent readers —
    the documented gap a transactional table format closes; for
    path-based tables, run compaction in the same maintenance window as
    the pipeline's other exclusive operations. A Hive-partitioned layout
    is FLATTENED by this rewrite (partition values become plain
    columns) — compact each partition directory individually to keep
    the layout. Returns the row count.
    """
    import shutil

    _refuse_snapshot_table(path, "compact_parquet")
    path = _local_path(path)
    # self-heal a previous crashed swap (see merge_upsert_parquet)
    recover_staged_swap(path)
    df = spark.read.parquet(path)
    expected = df.count()
    tmp = path.rstrip("/") + tmp_suffix
    shutil.rmtree(tmp, ignore_errors=True)
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    got = spark.read.parquet(tmp).count()
    if got != expected:
        raise RuntimeError(
            f"compaction row-count mismatch ({got} != {expected}); "
            f"staged output left at {tmp}, original untouched"
        )
    _swap_in(path, tmp, "_precompact")
    return expected


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    partition_by: list[str] | None = None,
) -> None:
    """CSV sink — the write side of S1 (the reference only ever READS
    CSV). Header on by default to match read_csv's contract; keep CSV
    for interchange edges only — at 100 TB it has no column pruning, no
    predicate pushdown, and no footer stats, so anything queried again
    belongs in parquet."""
    _refuse_snapshot_table(path, "write_csv")
    writer = df.write.mode(mode).option("header", str(header).lower())
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    _refuse_snapshot_table(path, "write_orc")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


# ---------------------------------------------------------------------------
# Snapshot-versioned parquet tables (r10): MVCC manifests over plain parquet.
# compact_parquet/merge_upsert document the same gap every time — the staged
# SWAP is not atomic for CONCURRENT readers (a reader listing the directory
# mid-rename sees a missing table). These functions close that gap the way
# transactional table formats do, minus the lock service: data files are
# immutable and write-once under data/v<N>-<uuid>/, a tiny JSON manifest
# names the exact file set of each version, and publishing is one O_EXCL
# create — readers resolve a manifest FIRST and then read only the files it
# names, so they can never observe a half-published version, and old
# versions stay readable (time travel) until vacuumed.
#
# Publish paths: new bytes are staged by _stage_files and count-verified by
# _footer_row_count. write_parquet_snapshot runs its own unbounded loop (an
# append re-bases on the new latest); compaction, merge/delete/update and
# restore run _publish_loop (build the next payload from the latest, stamp
# the stream high-water, link, bounded retry), compaction and DML building
# theirs with _rewrite_payload; clone links its v1 once. Read, restore and
# clone resolve version/as-of pins through _resolve_manifest.
# ---------------------------------------------------------------------------

_SNAP_DIR = "_snapshots"


def _local_path(p: str) -> str:
    """Canonical address of ``p`` (``file:``-URI in any slash count →
    plain local path, normalized so string comparison works — Spark's
    ``inputFiles()`` emits ``file:///`` while callers pass plain
    paths). Delegates to the filesystem seam (``io/fs.py``, VERDICT r14
    #2): an object-store path resolves to its normalized URI instead,
    and an UNREGISTERED scheme fails loudly here — the entry point of
    every snapshot op — rather than os.* silently treating
    ``s3://bucket/x`` as a relative local path."""
    return _fs.for_path(p).resolve(p)


def _snap_path(path: str) -> str:
    fs = _fs.for_path(path)
    return fs.join(fs.resolve(path), _SNAP_DIR)


# exactly the names write_parquet_snapshot publishes (``v%08d.json``;
# ``%08d`` grows past 8 digits rather than truncating, so accept 8+ —
# a table at version 100,000,000 must not have its newest manifests
# silently become invisible, which would serve stale reads and livelock
# the publish loop on permanent link collisions).
# ADVICE r12: the old startswith/endswith filter fed ANY stray v*.json in
# _snapshots/ (a hand-dropped "version.json" note, an editor backup) into
# int()/json.load, bricking every publish/read/compact on the table.
_MANIFEST_RE = re.compile(r"v(\d{8,})\.json")


def _manifest_names(path: str, reverse: bool = False) -> list[str]:
    """Published manifest file names in NUMERIC version order — one
    readdir, non-manifest strays ignored. Sorted by the parsed number,
    not lexically: zero-padding makes the two agree up to v99,999,999,
    but a 9-digit name sorts lexically BEFORE the 8-digit ones."""
    names = _fs.for_path(path).list_names(_snap_path(path))
    return sorted(
        (n for n in names if _MANIFEST_RE.fullmatch(n)),
        key=lambda n: int(n[1:-5]),
        reverse=reverse,
    )


def list_parquet_snapshots(path: str) -> list[dict]:
    """All published snapshot manifests, oldest first. Listing cost is
    one readdir + one tiny JSON read per version — the full-history API
    (vacuum, audits, this module's tests). Single-version consumers
    (publish, read, compact) use :func:`_latest_manifest` /
    :func:`_load_manifest` instead, which read ONE manifest regardless
    of history length, so a long-lived table's per-batch cost never
    grows with its version count."""
    import json as _json

    fs = _fs.for_path(path)
    d = _snap_path(path)
    return [
        _json.loads(fs.read_text(fs.join(d, n)))
        for n in _manifest_names(path)
    ]


def _manifest_versions(path: str) -> list[int]:
    """Published version numbers, ascending — one readdir, no JSON
    reads (the zero-padded ``v%08d.json`` names sort numerically)."""
    return [int(n[1:-5]) for n in _manifest_names(path)]


def _load_manifest(path: str, version: int) -> dict | None:
    """One published manifest by version — O(1) tiny JSON read."""
    import json as _json

    fs = _fs.for_path(path)
    try:
        return _json.loads(
            fs.read_text(fs.join(_snap_path(path), f"v{version:08d}.json"))
        )
    except FileNotFoundError:
        return None


def _latest_manifest(path: str) -> dict | None:
    """The newest published manifest, or None on an empty table — one
    readdir + ONE JSON read, never O(versions). A publish racing the
    lookup can only ADD a newer manifest; the O_EXCL link in the writers
    turns a stale answer into a lost-race retry, so this is safe
    anywhere the full history isn't needed."""
    versions = _manifest_versions(path)
    if not versions:
        return None
    return _load_manifest(path, versions[-1])


def _schema_ddl(schema: list) -> str:
    """Manifest schema pairs → a Spark DDL string (shared by the empty-
    pruned-read frame, the change feed and the streaming source — one
    place to fix quoting, review r13)."""
    return ", ".join(f"`{c}` {t}" for c, t in schema)


def _pad_to_schema(df: DataFrame, schema: list) -> DataFrame:
    """Project ``df`` to the schema's columns in order, padding columns
    the frame lacks with typed nulls — the evolution null-padding rule,
    shared by the evolved merge-read and the change feed (review r13)."""
    have = set(df.columns)
    return df.select(
        *[
            (F.col(c) if c in have else F.lit(None).cast(t)).alias(c)
            for c, t in schema
        ]
    )


def _stats_scalar(v):
    """Parquet footer stat (or a prune-predicate bound) → a
    JSON-storable scalar whose PYTHON ordering matches the column's SQL
    ordering, or None when the type can't be ordered portably (the file
    then simply records no stats for the column — pruning stays
    conservative). Dates and NAIVE datetimes serialize as ISO-8601,
    which orders lexicographically. TZ-AWARE datetimes return None —
    Spark's default parquet timestamps are UTC-adjusted (tz-aware
    footer stats) while the read-side filter resolves a naive literal
    in the SESSION timezone, so comparing the two could prune a file
    whose rows the real predicate matches (review r13: the one way
    stats could have become load-bearing); TIMESTAMP_NTZ columns (naive
    stats vs naive bounds) still prune. Booleans are excluded — a
    two-value domain never prunes anything."""
    import datetime as _dt

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            return None  # session-tz vs UTC ambiguity — never prune
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _footer_row_count(files: list[str]) -> int:
    """Total row count of freshly-written parquet files from their
    FOOTERS — driver-side, O(files) tiny metadata reads, no Spark job
    (optimization r15, guide §1.2 "don't compute things you throw
    away": the former read-back ``count()`` was a full second scan of
    every written byte per publish — at 100 TB, a duplicate pass of the
    entire commit). The footer's ``num_rows`` is written by the parquet
    writer at close and is exactly what any reader will see; an absent
    or unparseable footer (torn write) raises here, which is the same
    loud refusal the count-verify job gave, minus the data scan."""
    import pyarrow.parquet as _pq

    total = 0
    for f in files:
        try:
            total += _pq.ParquetFile(_local_path(f)).metadata.num_rows
        except Exception as exc:  # torn/corrupt footer → refuse loudly
            raise RuntimeError(
                f"unreadable parquet footer for freshly-written {f}: {exc}"
            ) from exc
    return total


def _collect_file_stats(
    files: list[str], columns: list[str]
) -> dict[str, dict]:
    """Per-file ``{column: [min, max]}`` from the parquet FOOTERS of
    freshly-written files — driver-side, O(files) tiny footer reads, no
    Spark job (the same moment and mechanism transactional formats use
    to collect data-skipping stats at commit time). A column with any
    row group lacking usable min/max in a file (unless the group is
    all-null, which constrains nothing) gets NO entry for that file —
    :func:`read_parquet_snapshot` treats a missing entry as
    "may contain anything" and keeps the file, so stats can only ever
    prune correctly, never wrongly."""
    import pyarrow.parquet as _pq

    wanted = set(columns)
    out: dict[str, dict] = {}
    for f in files:
        try:
            md = _pq.ParquetFile(_local_path(f)).metadata
        except Exception:
            continue  # unreadable footer → no stats, conservative
        bounds: dict[str, list] = {}
        usable: dict[str, bool] = {}
        for rg in range(md.num_row_groups):
            grp = md.row_group(rg)
            for ci in range(grp.num_columns):
                col = grp.column(ci)
                name = col.path_in_schema
                if name not in wanted or usable.get(name) is False:
                    continue
                s = col.statistics
                if s is None:
                    usable[name] = False
                    continue
                if not s.has_min_max:
                    # an all-null row group constrains nothing; any
                    # other missing-bounds case poisons the column
                    if s.null_count is not None and (
                        s.null_count == col.num_values
                    ):
                        usable.setdefault(name, True)
                    else:
                        usable[name] = False
                    continue
                mn, mx = _stats_scalar(s.min), _stats_scalar(s.max)
                if mn is None or mx is None:
                    usable[name] = False
                    continue
                usable[name] = True
                cur = bounds.get(name)
                bounds[name] = (
                    [mn, mx]
                    if cur is None
                    else [min(cur[0], mn), max(cur[1], mx)]
                )
        entry = {
            c: bounds[c] for c in columns if usable.get(c) and c in bounds
        }
        if entry:
            out[f] = entry
    return out


def _prune_files(files: list, stats: dict, bounds: dict) -> list:
    """The one pruning rule (review r13 — it was written twice): keep a
    file iff every bound's recorded range can match (missing stats keep
    it)."""
    return [
        f
        for f in files
        if all(
            _file_may_match(stats.get(f), c, slo, shi)
            for c, (slo, shi, _lo, _hi) in bounds.items()
        )
    ]


_ISO_DATE = None  # compiled lazily; module imports stay top-light


def _temporal_shape(s):
    """'date' / 'datetime' for ISO-8601-shaped strings, else None."""
    import re

    global _ISO_DATE
    if _ISO_DATE is None:
        _ISO_DATE = (
            re.compile(r"\d{4}-\d{2}-\d{2}$"),
            re.compile(r"\d{4}-\d{2}-\d{2}[T ]"),
        )
    if _ISO_DATE[0].match(s):
        return "date"
    if _ISO_DATE[1].match(s):
        return "datetime"
    return None


def _file_may_match(stats_entry: dict | None, col: str, lo, hi) -> bool:
    """Can a file whose manifest stats are ``stats_entry`` contain a row
    with ``lo <= col <= hi`` (None = unbounded side)? Missing stats or
    an un-orderable comparison answer YES — pruning is only ever an
    optimization, never the correctness mechanism (the read applies the
    real filter regardless).

    Date-vs-datetime refusal (review r14): both serialize as ISO-8601,
    but the two SHAPES order inconsistently as raw strings —
    ``'2020-01-02T00:00:00' > '2020-01-02'`` lexicographically even
    though the SQL comparison promotes the date to midnight and says
    EQUAL, so a ``date`` bound on a timestamp-stats column (or the
    mirror) could prune a file whose rows the real predicate matches.
    Any comparison that would cross the two shapes answers YES instead.
    A genuine STRING column whose values merely look like dates loses a
    prune opportunity, never a row."""
    rng = (stats_entry or {}).get(col)
    if rng is None:
        return True
    mn, mx = rng

    def _cross_shaped(a, b):
        if not (isinstance(a, str) and isinstance(b, str)):
            return False
        sa, sb = _temporal_shape(a), _temporal_shape(b)
        return sa is not None and sb is not None and sa != sb

    try:
        if lo is not None and not _cross_shaped(mx, lo) and mx < lo:
            return False
        if hi is not None and not _cross_shaped(mn, hi) and mn > hi:
            return False
    except TypeError:
        return True
    return True


def _prune_bounds(where: dict) -> dict[str, tuple]:
    """Normalize a ``where`` mapping (col → scalar for equality, col →
    ``(lo, hi)`` for an INCLUSIVE range, either side None for open) into
    stats-comparable bounds."""
    out = {}
    for col, spec in where.items():
        if isinstance(spec, (tuple, list)):
            if len(spec) != 2:
                raise ValueError(
                    f"where[{col!r}] range must be (lo, hi), got {spec!r}"
                )
            lo, hi = spec
            if lo is None and hi is None:
                raise ValueError(f"where[{col!r}] is unbounded on both sides")
        else:
            if spec is None:
                raise ValueError(
                    f"where[{col!r}] is None — NULL never equals anything; "
                    "filter nulls with a real predicate on the result"
                )
            lo = hi = spec
        out[col] = (
            _stats_scalar(lo) if lo is not None else None,
            _stats_scalar(hi) if hi is not None else None,
            lo,
            hi,
        )
    return out


def _where_condition(bounds: dict[str, tuple]):
    """The EXACT filter for the normalized ``where`` bounds — applied to
    every pruned read so stats are never load-bearing for correctness."""
    cond = F.lit(True)
    for col, (_slo, _shi, lo, hi) in bounds.items():
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
    return cond


def _validate_cluster_args(
    cluster_by: list[str] | None, cluster_strategy: str
) -> None:
    """Pure value validation shared by ``compact_parquet_snapshot`` and
    ``streaming_snapshot_sink`` (review r14: the identical block lived
    in both and the rule/messages could drift)."""
    if cluster_strategy not in ("range", "zorder"):
        raise ValueError(
            f"cluster_strategy must be range|zorder, got {cluster_strategy!r}"
        )
    if cluster_strategy == "zorder" and (
        not cluster_by or len(cluster_by) < 2
    ):
        raise ValueError(
            "cluster_strategy='zorder' needs at least two cluster_by "
            "columns (one dimension is just a range sort)"
        )


def _stage_files(spark, path: str, version: int, df: DataFrame):
    """Step one of every publish that brings new bytes: write ``df`` to a
    fresh immutable ``data/v<N>-<uuid>/`` dir of the table (the uuid
    keeps a lost race's files distinct from the winner's). Returns
    ``(data_dir, files, schema)`` — the sorted file list and the schema
    the files actually carry, from ONE schema-inferring read; row counts
    come from the footers (:func:`_footer_row_count`), never a re-scan."""
    import uuid as _uuid

    data_dir = _fs.for_path(path).join(
        _local_path(path), "data", f"v{version:08d}-{_uuid.uuid4().hex[:8]}"
    )
    df.write.mode("error").parquet(data_dir)
    written = spark.read.parquet(data_dir)
    return data_dir, sorted(written.inputFiles()), [
        list(p) for p in written.dtypes
    ]


def write_parquet_snapshot(
    df: DataFrame, path: str, mode: str = "overwrite",
    src_batch: int | None = None, allow_schema_evolution: bool = False,
    stats_columns: list[str] | None = None,
) -> int:
    """Publish ``df`` as a new VERSION of the snapshot table at ``path``;
    returns the version number. ``mode='overwrite'`` makes the new
    version exactly ``df``; ``mode='append'`` makes it the previous
    version's file set PLUS ``df``'s new files — an append never
    rewrites a byte of existing data, it only publishes a longer file
    list (the manifest-level append a transactional format calls a new
    snapshot).

    Protocol (crash-safe at every step): (1) write the data files to an
    immutable uniquely-named dir ``data/v<N>-<uuid>/`` — a crash here
    leaves an orphan dir no manifest references, invisible to every
    reader, reclaimed by :func:`vacuum_parquet_snapshots`; (2)
    count-verify the written files from their parquet footers (the
    footer is written at file close, so a torn write fails the read
    loudly; r15 — previously a full Spark re-scan of the written data,
    a duplicate pass of the whole commit at scale); (3) publish
    ``_snapshots/v<N>.json`` with O_EXCL — if a concurrent writer
    claimed N first, re-publish as N+1 (the uuid in the data dir name
    keeps the loser's files distinct; for ``append`` the retry re-reads
    the NEW latest manifest so the lost race cannot drop the winner's
    rows). Readers (:func:`read_parquet_snapshot`) never list the data
    directory — they read exactly the manifest's file list, so a
    half-written version is unobservable by construction. This is the
    concurrent-reader-safe upgrade of the staged swap used by
    compact_parquet/merge_upsert (which remain for path-layout tables
    a plain ``spark.read.parquet(path)`` must keep working on).

    ``src_batch`` stamps the manifest with the PUBLISHING micro-batch's
    id — :func:`streaming_snapshot_sink` uses it to make a replayed
    foreachBatch invocation a no-op (the manifest IS the commit record,
    so at-least-once delivery publishes exactly once).

    ``stats_columns`` (r13 — manifest-level DATA SKIPPING, the mechanism
    transactional formats use to avoid scanning 100 TB for a one-day
    query): per-file min/max for the named columns are read from the
    freshly-written parquet FOOTERS (driver-side, no extra Spark job)
    and recorded in the manifest; :func:`read_parquet_snapshot`'s
    ``where=`` then drops files whose recorded range cannot match BEFORE
    the scan is planned. Appends INHERIT the table's recorded stats
    columns when the argument is omitted, so a long-lived streaming sink
    keeps its skipping stats maintained without re-declaring them; files
    published before stats were enabled simply have no entry and are
    always kept (conservative). Stats are never load-bearing — every
    pruned read re-applies the real predicate.

    ``allow_schema_evolution=True`` (VERDICT r11 #7 — the u12 unionByName
    discipline applied to the MVCC layer) lets an append ADD or OMIT
    columns instead of refusing: the new manifest records the WIDENED
    schema (table columns in their order, then the append's new columns)
    and is flagged ``evolved``, and :func:`read_parquet_snapshot` reads
    such versions with parquet schema-merge, padding nulls for files
    that predate a column — zero bytes rewritten, old versions still
    read with their OWN recorded schema. Same-name columns must keep
    their dtype; a type conflict always refuses. Drift-refusal stays the
    default so accidental producer drift cannot silently widen a table."""
    import time as _time

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if stats_columns is not None and mode != "append":
        # appends may legitimately name table columns the batch lacks
        # (evolution); a fresh table's stats columns must exist
        unknown = set(stats_columns) - set(df.columns)
        if unknown:
            raise ValueError(
                f"stats_columns {sorted(unknown)} not in the written "
                f"schema {df.columns}"
            )
    spark = df.sparkSession
    _fs.for_path(path).make_dirs(_snap_path(path))
    last = _latest_manifest(path)
    _data_dir, new_files, new_schema = _stage_files(
        spark, path, (last["version"] + 1) if last else 1, df
    )
    n_new = _footer_row_count(new_files)
    # legacy-schema derivation cache (ADVICE r11): pre-manifest-schema
    # tables derive prev_schema from the previous version's footers —
    # once per PREVIOUS VERSION, not once per publish-race retry
    # iteration (the retry loop may spin while the table advances, and
    # each spin was re-reading every footer).
    legacy_schema: tuple[int, list] | None = None
    # footer stats for the NEW files, memoized per effective column set —
    # the files are fixed before the retry loop, but the effective set
    # can change with the observed latest manifest across retries
    stats_cache: dict[tuple, dict] = {}
    while True:
        # only the LATEST manifest matters for a publish — one JSON read
        # per attempt, never O(versions) (a long-lived sink's per-batch
        # cost must not grow with the table's history)
        prev = _latest_manifest(path)
        version = (prev["version"] + 1) if prev else 1
        if mode == "append" and prev:
            # schema-drift guard (ADVICE r10): an append whose columns
            # don't match the table would otherwise publish a manifest
            # whose multi-footer read silently takes one footer's schema
            # and drops/misses columns. The compare is deliberately
            # ORDER-SENSITIVE: the manifest records one column order and
            # a multi-footer scan's output order follows the sampled
            # footer, so a reordered append would make the table's read
            # schema nondeterministic even though per-name values are
            # fine. The table's schema is recorded in every manifest;
            # pre-manifest-schema tables derive it from the previous
            # version's files once per base version.
            prev_schema = prev.get("schema")
            if prev_schema is None:
                if legacy_schema is None or legacy_schema[0] != prev["version"]:
                    legacy_schema = (
                        prev["version"],
                        [
                            list(p)
                            for p in spark.read.parquet(
                                *prev["files"]
                            ).dtypes
                        ],
                    )
                prev_schema = legacy_schema[1]
            # once a version mixes file schemas it stays merge-read until
            # a compaction re-materializes uniform files
            evolved = bool(prev.get("evolved"))
            manifest_schema = prev_schema
            if new_schema != prev_schema:
                # compare names per spark.sql.caseSensitive (ADVICE r12:
                # Spark resolves columns case-insensitively by default,
                # so a case-sensitive compare let 'V' evolve alongside
                # 'v' — the widened manifest carried both and the
                # evolved merge-read's select() died ambiguous on every
                # subsequent read; publish succeeded, reads broken)
                case_sensitive = (
                    str(
                        spark.conf.get("spark.sql.caseSensitive", "false")
                    ).lower()
                    == "true"
                )
                _norm = (lambda c: c) if case_sensitive else str.lower
                prev_types = {_norm(c): t for c, t in prev_schema}
                new_types = {_norm(c): t for c, t in new_schema}
                conflicts = sorted(
                    c
                    for c in prev_types.keys() & new_types.keys()
                    if prev_types[c] != new_types[c]
                )
                if conflicts:
                    # a type conflict always refuses, evolution or not
                    raise ValueError(
                        f"append schema drift at {path}: columns "
                        f"{conflicts} change dtype (table has "
                        f"{prev_schema}, append brings {new_schema}); "
                        "a type conflict cannot be merge-read — "
                        "overwrite (or align the DataFrame) instead"
                    )
                prev_names = {_norm(c): c for c, _t in prev_schema}
                case_collisions = sorted(
                    f"{prev_names[_norm(c)]!r} vs {c!r}"
                    for c, _t in new_schema
                    if _norm(c) in prev_names and prev_names[_norm(c)] != c
                )
                if case_collisions:
                    raise ValueError(
                        f"append schema drift at {path}: columns "
                        f"{case_collisions} differ only by case and the "
                        "session resolves names case-insensitively "
                        "(spark.sql.caseSensitive=false) — spell the "
                        "append's columns exactly as the manifest "
                        "records them"
                    )
                same_set = sorted(map(tuple, new_schema)) == sorted(
                    map(tuple, prev_schema)
                )
                if same_set:
                    # a pure reorder widens nothing — refuse it even
                    # under allow_schema_evolution (ADVICE r12: letting
                    # it through published an evolved manifest that
                    # forced merge-reads forever for zero new columns)
                    raise ValueError(
                        f"append schema drift at {path}: table has "
                        f"{prev_schema}, append brings {new_schema}; "
                        "columns match but ORDER differs — appends "
                        "must keep the table's column order (select "
                        "the columns in manifest order)"
                    )
                if allow_schema_evolution:
                    manifest_schema = prev_schema + [
                        p for p in new_schema if _norm(p[0]) not in prev_types
                    ]
                    evolved = True
                else:
                    raise ValueError(
                        f"append schema drift at {path}: table has "
                        f"{prev_schema}, append brings {new_schema}; "
                        "overwrite, align the DataFrame, or pass "
                        "allow_schema_evolution=True to widen the table"
                    )
            files = sorted(set(prev["files"]) | set(new_files))
            rows = prev["rows"] + n_new
        else:
            evolved = False
            manifest_schema = new_schema
            files, rows = new_files, n_new
        # data-skipping stats: explicit column set wins; appends inherit
        # the table's recorded set so sinks keep stats maintained
        if stats_columns is not None:
            eff_stats_cols = list(stats_columns)
        elif mode == "append" and prev:
            eff_stats_cols = prev.get("stats_columns")
        else:
            eff_stats_cols = None
        payload = {"version": version, "files": files, "rows": rows,
                   "mode": mode, "schema": manifest_schema,
                   "published_utc": _time.time()}
        if eff_stats_cols:
            if stats_columns is not None and mode == "append":
                # validate EXPLICIT append stats columns against the
                # post-merge table schema (review r13: skipping this let
                # a typo'd name commit as the table's inherited stats
                # set, silently disabling skipping forever); a table
                # column the batch lacks remains legal (evolution)
                unknown = set(stats_columns) - {
                    c for c, _t in manifest_schema
                }
                if unknown:
                    raise ValueError(
                        f"stats_columns {sorted(unknown)} not in the "
                        f"table schema {[c for c, _t in manifest_schema]}"
                    )
            key = tuple(eff_stats_cols)
            if key not in stats_cache:
                stats_cache[key] = _collect_file_stats(
                    new_files, eff_stats_cols
                )
            if mode == "append" and prev:
                file_set = set(files)  # hoisted: O(F), not O(F^2)
                carried = {
                    f: s
                    for f, s in (prev.get("stats") or {}).items()
                    if f in file_set
                }
            else:
                carried = {}
            payload["stats_columns"] = list(eff_stats_cols)
            payload["stats"] = {**carried, **stats_cache[key]}
        if evolved:
            payload["evolved"] = True
        if src_batch is not None:
            payload["src_batch"] = int(src_batch)
        elif mode == "append" and prev and prev.get("src_batch") is not None:
            # carry the stream high-water forward through UNSTAMPED
            # appends (ADVICE r11): without this, a manual append on a
            # stream-fed table makes the latest manifest untagged, and a
            # vacuum that keeps only tagless versions would erase the
            # replay guard's high-water — a restarted stream would then
            # re-publish its last batch as duplicate rows. Inductively,
            # every post-fix append chain keeps the effective high-water
            # in its LATEST manifest, so the guard stays O(1).
            #
            # An unstamped OVERWRITE deliberately does NOT inherit it
            # (VERDICT r12 advisory — decided, pinned in
            # tests/test_snapshot_model.py and
            # test_unstamped_append_carries_high_water_forward): an
            # overwrite is a table RESET, after which a fresh stream
            # (new checkpoint, ids restarting at 0) may be attached —
            # a surviving stale high-water would silently swallow every
            # one of its first batches (data loss). The alternative
            # only protects a replay racing a concurrent manual
            # overwrite, which the one-logical-stream-per-table
            # contract already excludes.
            payload["src_batch"] = int(prev["src_batch"])
        if not _link_manifest(path, version, payload):
            continue  # lost the race: recompute against the new latest
        return version


def _as_of_epoch(as_of) -> float:
    """Normalize an as-of operand: epoch seconds pass through, ISO-8601
    strings parse with :func:`datetime.fromisoformat` (a naive string is
    taken as UTC — the timestamp every manifest records)."""
    from datetime import datetime, timezone

    if isinstance(as_of, (int, float)):
        return float(as_of)
    dt = datetime.fromisoformat(as_of)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _version_as_of(path: str, as_of_epoch: float) -> int | None:
    """Newest published version whose ``published_utc`` is ≤ the target —
    binary search over the version listing, O(log versions) tiny JSON
    reads, never a full-history scan (the same no-O(n) discipline as
    :func:`_latest_manifest`). Valid because versions publish in
    strictly increasing order through one serialized O_EXCL link per
    table, so their wall-clock stamps are non-decreasing (module
    contract: a coordinator clock stepped BACKWARD between publishes
    could misorder stamps — as-of then resolves to a nearby version, and
    version-pinned reads stay exact). Manifests published before the
    r13 ``published_utc`` field — or vacuumed away mid-search — are
    treated as infinitely old, which biases toward older versions,
    never a version newer than asked for."""
    versions = _manifest_versions(path)
    lo, hi, found = 0, len(versions) - 1, None
    while lo <= hi:
        mid = (lo + hi) // 2
        m = _load_manifest(path, versions[mid])
        if m is None:
            # vacuumed mid-search: vacuum only drops the OLDEST
            # versions, so steer right like a very old timestamp — but
            # never RECORD the vanished version as the answer, or the
            # read would fail on a request a surviving version serves
            lo = mid + 1
            continue
        if float(m.get("published_utc", 0.0)) <= as_of_epoch:
            found = versions[mid]
            lo = mid + 1
        else:
            hi = mid - 1
    return found


def read_parquet_snapshot(
    spark, path: str, version: int | None = None, as_of_utc=None,
    where: dict | None = None,
):
    """Read a snapshot table AS OF ``version`` (default: latest). The
    read plans over exactly the manifest's immutable file list — a
    concurrent writer publishing version N+1 cannot perturb a running
    version-N scan, and pinning ``version`` is time travel. Versions
    flagged ``evolved`` (schema-evolution appends) are read with parquet
    schema-merge and projected to the manifest's recorded column order —
    files that predate a column pad it with nulls; every version reads
    with its OWN recorded schema.

    ``as_of_utc`` (VERDICT r12 next-round list) is TIMESTAMP time
    travel: epoch seconds or an ISO-8601 string (naive = UTC) resolves
    to the newest version published at-or-before that instant — "what
    did this table say at 14:00" without knowing version numbers, the
    ``TIMESTAMP AS OF`` of transactional table formats. Mutually
    exclusive with ``version``. Reading before the first publish (or
    past the vacuum horizon) raises: silently returning a NEWER version
    than asked for would un-time-travel the read.

    ``where`` (r13 — the read side of ``stats_columns``) maps column →
    scalar (equality) or ``(lo, hi)`` (INCLUSIVE range, either side None
    for open): files whose manifest-recorded min/max cannot intersect
    the predicate are dropped BEFORE the scan is planned — at 100 TB
    this is the difference between scanning the table and scanning one
    day's worth — and the real predicate is then applied to the
    surviving files, so the result is exact whether or not any stats
    exist (files without stats are always kept). Unknown columns raise;
    richer predicates belong in a normal ``.where()`` on the result."""
    return _read_snapshot_files(
        spark, _resolve_manifest(path, version, as_of_utc), where=where
    )


def _resolve_manifest(path: str, version=None, as_of_utc=None) -> dict:
    """The manifest a version/as-of pin names (default: latest) — the one
    resolution rule of read, restore and clone. O(1) manifest reads
    regardless of history length: latest via one readdir + one JSON
    read, pinned versions via a direct name lookup (the versions listing
    for the error message is readdir-only), as-of via an O(log versions)
    binary search. An empty table raises ``FileNotFoundError``; a pin
    nothing satisfies raises ``ValueError``."""
    if version is not None and as_of_utc is not None:
        raise ValueError("pass version OR as_of_utc, not both")
    if as_of_utc is not None:
        version = _version_as_of(path, _as_of_epoch(as_of_utc))
        if version is None:
            have = _manifest_versions(path)
            if not have:
                raise FileNotFoundError(f"no snapshots published at {path}")
            raise ValueError(
                f"no snapshot at {path} published at or before "
                f"{as_of_utc!r} (earliest surviving version is v{have[0]})"
            )
    if version is None:
        snap = _latest_manifest(path)
    else:
        snap = _load_manifest(path, version)
    if snap is None:
        have = _manifest_versions(path)
        if version is None or not have:
            raise FileNotFoundError(f"no snapshots published at {path}")
        raise ValueError(
            f"snapshot v{version} not found at {path}; have {have}"
        )
    return snap


def _read_snapshot_files(
    spark, snap: dict, where: dict | None = None
) -> DataFrame:
    """Plan a scan over one manifest's immutable file list, honoring the
    ``evolved`` flag (merge-read + manifest-order projection). With
    ``where``, the list is first PRUNED by the manifest's per-file
    min/max stats (missing stats keep the file) and the real predicate
    is applied on top — stats only ever skip work, never decide rows."""
    files = snap["files"]
    cond = None
    if where:
        schema = snap.get("schema")
        if schema is not None:
            unknown = set(where) - {c for c, _t in schema}
            if unknown:
                raise ValueError(
                    f"where columns {sorted(unknown)} not in the "
                    f"snapshot schema {[c for c, _t in schema]}"
                )
        bounds = _prune_bounds(where)
        files = _prune_files(files, snap.get("stats") or {}, bounds)
        cond = _where_condition(bounds)
        if not files:
            if schema is not None:
                # every file pruned: an empty frame IS the exact answer
                # (stats are true bounds), with the manifest's schema.
                # local_frame keeps it a JVM LocalRelation — a
                # createDataFrame empty frame is a Python-RDD scan that
                # costs a Python worker round-trip in every downstream
                # job (r15, functions/localrel.py)
                return local_frame(spark, [], _schema_ddl(schema))
            files = snap["files"]  # legacy manifest: no schema ⇒ no
            # stats either, so this is unreachable — kept as a safe
            # full-scan fallback
    if snap.get("evolved"):
        # a PRUNED subset may retain no file carrying some evolved
        # column — the padding helper fills it with typed nulls exactly
        # like the files that predate it would have
        df = _pad_to_schema(
            spark.read.option("mergeSchema", "true").parquet(*files),
            snap["schema"],
        )
    else:
        df = spark.read.parquet(*files)
    return df.where(cond) if cond is not None else df


def vacuum_parquet_snapshots(
    path: str, keep: int = 1, orphan_grace_sec: int = 86_400
) -> dict:
    """Delete data files referenced ONLY by snapshots older than the
    newest ``keep`` (and drop those manifests) plus any orphan data dir
    no manifest ever referenced (a crashed writer's leftovers). Readers
    of the kept versions are unaffected — their files are shared
    forward by construction of the append protocol. Returns what was
    removed. Run it in the same maintenance cadence as compaction;
    until then, time travel across the whole history stays available.

    ``orphan_grace_sec`` (review r10): an unreferenced data dir is
    indistinguishable from an IN-FLIGHT writer between its data write
    and its manifest publish — deleting it would make that writer
    publish a manifest naming vanished files. Dirs younger than the
    grace window are therefore left alone (default 24h, far beyond any
    write-to-publish gap); pass 0 only when no writer can be active
    (tests, exclusive maintenance windows).

    Ownership rule (r13, the shallow-clone guard): vacuum only ever
    deletes files under THIS table's own ``data/`` root. A shallow
    clone's manifests reference the SOURCE table's files — dropping a
    cloned version must drop the manifest but never reach into another
    table's data (the clone doesn't own those bytes; the source's own
    vacuum governs them). The compare is abspath-normalized, so any
    SPELLING of the same path works; a RELATIVE path resolves against
    the calling process's cwd (which may differ from where the JVM
    resolved the writes) — when in doubt the guard fails SAFE, skipping
    deletion rather than reaching into foreign bytes. Prefer absolute
    paths."""
    import time as _time

    if keep < 1:
        raise ValueError("keep must be >= 1")
    fs = _fs.for_path(path)
    snaps = list_parquet_snapshots(path)
    kept, dropped = snaps[-keep:], snaps[:-keep]
    keep_files = {_local_path(f) for s in kept for f in s["files"]}
    base = _local_path(path)
    # absolute-form BOTH sides of the ownership compare (review r13):
    # the manifests record absolute file: paths from inputFiles(), so a
    # vacuum invoked with a RELATIVE table path would otherwise match
    # nothing and silently reclaim zero data files
    own_root = fs.absolute(fs.join(base, "data")) + "/"
    # manifests FIRST, then data (ADVICE r10): deleting a dropped
    # version's files before its manifest leaves, across a crash, a
    # LISTED manifest referencing vanished files — list/read of that
    # version errors until vacuum re-runs. Dropping every doomed
    # manifest first keeps the invariant that every listed manifest is
    # readable at all times; a crash between the two phases merely
    # leaves unreferenced files for the next vacuum's orphan sweep.
    for s in dropped:
        fs.remove(
            fs.join(_snap_path(path), f"v{s['version']:08d}.json")
        )
    removed_files = []
    for s in dropped:
        for f in s["files"]:
            local = _local_path(f)
            if not fs.absolute(local).startswith(own_root):
                continue  # another table's bytes (shallow clone): the
                # manifest drops, the source's own vacuum governs them
            if local not in keep_files and fs.exists(local):
                fs.remove(local)
                removed_files.append(f)
    # orphan data dirs: referenced by NO manifest (crashed pre-publish
    # writers); also prune now-empty version dirs. abspath BOTH sides
    # of the membership test exactly like the ownership compare above
    # (review r14): manifests record absolute file: paths, so a vacuum
    # invoked with a RELATIVE table path would otherwise see every LIVE
    # data dir — the kept latest's included — as "referenced by no
    # manifest" and rmtree the whole table once past the grace window
    data_root = fs.join(base, "data")
    referenced_dirs = {
        fs.absolute(_local_path(f).rsplit("/", 1)[0])
        for s in snaps
        for f in s["files"]
    }
    removed_orphans = []
    now = _time.time()
    if fs.is_dir(data_root):
        for d in sorted(fs.list_names(data_root)):
            full = fs.absolute(fs.join(data_root, d))
            if full not in referenced_dirs:
                if now - fs.mtime(full) < orphan_grace_sec:
                    continue  # possibly an in-flight writer's data
                fs.remove_tree(full)
                removed_orphans.append(d)
            elif not any(
                n.endswith(".parquet") for n in fs.list_names(full)
            ):
                fs.remove_tree(full)
                removed_orphans.append(d)
    return {
        "dropped_versions": [s["version"] for s in dropped],
        "removed_files": len(removed_files),
        "removed_orphan_dirs": removed_orphans,
    }


def _latest_src_batch(path: str) -> int | None:
    """The replay guard's effective stream high-water: reading manifests
    NEWEST-first, the first stamped manifest's batch id — or None at the
    first UNSTAMPED OVERWRITE, which is a lineage BARRIER (VERDICT r12
    advisory, decided + pinned in tests/test_snapshot_model.py): an
    overwrite is a table reset after which a fresh stream (new
    checkpoint, ids restarting at 0) may be attached, and scanning past
    it to an older stamp would silently swallow every one of that
    stream's first batches. The scan is O(1 + untagged suffix) tiny
    JSON reads instead of O(versions) (ADVICE r10: the old full-set
    rebuild made a long-lived sink quadratic over the stream's
    lifetime) — and on post-carry-forward chains the LATEST manifest
    answers directly, since unstamped appends inherit the stamp. Valid
    because batch ids are published in monotonically increasing order
    within a sink's append chain."""
    import json as _json

    fs = _fs.for_path(path)
    d = _snap_path(path)
    for n in _manifest_names(path, reverse=True):
        m = _json.loads(fs.read_text(fs.join(d, n)))
        if m.get("src_batch") is not None:
            return int(m["src_batch"])
        if m.get("mode") == "overwrite":
            return None  # lineage barrier: the table was reset here
    return None


def _effective_hwm(path: str, base: dict, cache: dict) -> int | None:
    """Effective stream high-water for a publish derived from ``base``
    (the observed latest/source manifest): the base's own stamp when
    present — one dict lookup, the common case on every
    post-carry-forward chain — else one barrier-aware newest-first scan
    per DISTINCT base version, memoized in ``cache`` across the retries
    of :func:`_publish_loop` (the ADVICE r12 discipline: never
    O(versions) per attempt)."""
    hwm = base.get("src_batch")
    if hwm is not None:
        return int(hwm)
    v = base["version"]
    if v not in cache:
        cache[v] = _latest_src_batch(path)
    return cache[v]


def _link_manifest(path: str, version: int, payload: dict) -> bool:
    """Atomically claim one manifest version via the filesystem seam's
    first-writer-wins ``put_if_absent`` (``io/fs.py`` — stage-then-link
    on LocalFS, a conditional PUT on object stores; review r10: readers
    can only ever open a complete manifest, never a torn one). Returns
    True when this writer claimed the version, False on a lost race —
    the caller recomputes against the new latest."""
    import json as _json

    fs = _fs.for_path(path)
    return fs.put_if_absent(
        fs.join(_snap_path(path), f"v{version:08d}.json"),
        _json.dumps(payload),
    )


def _publish_loop(path: str, build, verb: str, max_retries: int):
    """The optimistic publish loop of every snapshot op that derives a
    new version from the table's current one — compaction, the DML
    verbs and restore (the commit-service loop of transactional formats,
    on a plain filesystem):

    1. read the LATEST manifest (the optimistic "read version");
    2. ``build(latest)`` returns the next manifest's payload, or None
       when there is nothing to publish;
    3. stamp the payload with the table's effective stream high-water
       (:func:`_effective_hwm`, keyed by the observed latest): these ops
       are maintenance ON the stream's lineage, not a reset — a vacuum
       can leave their version as the ONLY manifest, and a crashed
       stream's replay after them must still be a publish no-op;
    4. claim the payload's version with one O_EXCL link. Losing the race
       means the table ADVANCED since step 1 — publishing a stale
       rewrite would silently drop the winner's rows (the lost-update
       anomaly) — so the attempt is abandoned whole (a staged data dir
       becomes an invisible orphan for vacuum) and rebuilt against the
       new latest, up to ``max_retries`` times.

    Returns ``(latest, payload, retries)``; ``payload`` is None for a
    no-op."""
    retries = 0
    hwm_cache: dict = {}  # per observed latest version, across retries
    while True:
        latest = _latest_manifest(path)  # one JSON read per attempt
        if latest is None:
            raise FileNotFoundError(f"no snapshots published at {path}")
        payload = build(latest)
        if payload is None:
            return latest, None, retries
        hwm = _effective_hwm(path, latest, hwm_cache)
        if hwm is not None:
            payload["src_batch"] = hwm
        if _link_manifest(path, payload["version"], payload):
            return latest, payload, retries
        retries += 1
        if retries > max_retries:
            raise RuntimeError(
                f"snapshot {verb} at {path} lost the publish race "
                f"{retries} times; table is advancing faster than the "
                "rewrite"
            )


def _rewrite_payload(
    spark, path: str, src: dict, df: DataFrame, expected_rows: int,
    mode: str, from_key: str, stats_columns: list[str] | None,
) -> dict:
    """Stage ``df`` as the full replacement of base manifest ``src`` and
    return the next version's payload — the rewrite step compaction and
    the DML verbs share. The staged files are count-verified from their
    footers against ``expected_rows`` (a mismatch removes the staged dir
    and raises; nothing is published). The payload names only the new
    files, records the base under ``from_key`` (``compacted_from`` or
    ``replaced_from``) and recomputes skipping stats for
    ``stats_columns`` from the new footers — a rewrite invalidates every
    old per-file range. The new files are uniform, so an evolved base
    sheds its merge-read flag."""
    import time as _time

    version = src["version"] + 1
    data_dir, files, schema = _stage_files(spark, path, version, df)
    rows = _footer_row_count(files)
    if rows != expected_rows:
        _fs.for_path(path).remove_tree(data_dir)
        raise RuntimeError(
            f"{mode} count-verify failed at {path}: expected "
            f"{expected_rows} rows from base v{src['version']}, rewrite "
            f"read back {rows}"
        )
    payload = {
        "version": version, "files": files, "rows": rows, "mode": mode,
        "schema": schema, from_key: src["version"],
        "published_utc": _time.time(),
    }
    if stats_columns:
        payload["stats_columns"] = list(stats_columns)
        payload["stats"] = _collect_file_stats(files, stats_columns)
    return payload


def _carry_over(src: dict, payload: dict) -> dict:
    """Add to ``payload`` what a manifest naming ``src``'s file list
    VERBATIM inherits from it (restore, clone): the recorded schema, the
    ``evolved`` flag (the files still mix schemas) and the skipping
    stats (same files, same stats)."""
    if src.get("schema") is not None:
        payload["schema"] = src["schema"]
    if src.get("evolved"):
        payload["evolved"] = True
    if src.get("stats_columns"):
        payload["stats_columns"] = list(src["stats_columns"])
        payload["stats"] = src.get("stats") or {}
    return payload


def snapshot_publish_batch(
    batch_df: DataFrame, batch_id: int, path: str,
    allow_schema_evolution: bool = False,
    stats_columns: list[str] | None = None,
) -> bool:
    """One micro-batch of :func:`streaming_snapshot_sink`, REPLAY-SAFE:
    publish the batch as a manifest-level append stamped with its batch
    id — unless a newer-or-equal id is already published, in which case
    the invocation is a replay of a published batch and a NO-OP
    (returns False). The manifest is the commit record: a crash after
    the data write but before the publish leaves an orphan dir
    (invisible, vacuumed later) and the replay publishes fresh files
    once; a crash after the publish but before the stream checkpoint
    commit makes the replay hit the id guard. At-least-once delivery,
    exactly-once publish.

    The guard is a monotone HIGH-WATER compare, not set membership:
    Structured Streaming only ever replays the last uncommitted batch,
    and ids within one logical stream are strictly increasing, so
    ``batch_id <= latest published id`` ⇔ replay. (One logical stream
    per table — the same contract the old set-based guard assumed, now
    at O(1) manifest reads per batch instead of O(versions).)

    An unstamped manual OVERWRITE resets the stream contract (r13,
    VERDICT r12 advisory — decided): it is a lineage barrier in the
    high-water scan, so after an overwrite a FRESH stream (new
    checkpoint, ids restarting at 0) may feed the table and none of its
    batches are swallowed by the pre-reset stamp. The OLD stream's
    checkpoint must be cleared together with the overwrite — restarting
    it against the reset table would replay with the old id sequence,
    which the reset guard by design no longer excludes.

    ``allow_schema_evolution`` passes through to the append: within one
    streaming query the schema is fixed, so this matters across
    RESTARTS — a stream restarted after an upstream schema upgrade can
    widen its old table instead of refusing (r12)."""
    hwm = _latest_src_batch(path)
    if hwm is not None and int(batch_id) <= hwm:
        return False
    write_parquet_snapshot(
        batch_df, path, mode="append", src_batch=int(batch_id),
        allow_schema_evolution=allow_schema_evolution,
        stats_columns=stats_columns,
    )
    return True


def _published_since_last_compact(path: str) -> int:
    """Number of manifests of ANY mode published AFTER the newest
    ``compact`` version (all of them if the table was never compacted) —
    the DURABLE compaction-cadence counter for
    :func:`streaming_snapshot_sink`. Counting every mode is deliberate
    (VERDICT r12 naming advisory — the old name said "appends"): a
    manual overwrite between stream batches contributes a small file
    set exactly like an append does, so it advances the cadence too.
    Reads manifests newest-first and stops at the first compact one, so
    the cost is O(publishes since last compact) tiny JSON reads —
    bounded by the sink's ``compact_every`` between compactions, never
    O(versions) over the stream's lifetime."""
    import json as _json

    fs = _fs.for_path(path)
    d = _snap_path(path)
    since = 0
    for n in _manifest_names(path, reverse=True):
        if _json.loads(fs.read_text(fs.join(d, n))).get("mode") == "compact":
            break
        since += 1
    return since


def streaming_snapshot_sink(
    stream_df: DataFrame, path: str, stream_checkpoint: str,
    compact_every: int | None = None, target_files: int = 1,
    allow_schema_evolution: bool = False,
    stats_columns: list[str] | None = None,
    cluster_by: list[str] | None = None,
    cluster_strategy: str = "range",
):
    """Structured-Streaming sink onto a snapshot-versioned parquet table:
    every micro-batch publishes ONE new table version (manifest-level
    append — zero bytes rewritten), so downstream consumers get MVCC
    reads, time travel across batch boundaries, and full isolation from
    in-flight publishes, on a plain filesystem. Composes the r10 MVCC
    table with the ingest-loop replay discipline: the streaming
    checkpoint makes restarts re-process nothing, and
    :func:`snapshot_publish_batch`'s manifest id guard makes a
    mid-batch crash replay publish exactly once. Returns a
    ``DataStreamWriter``; callers ``.start()`` it.

    ``compact_every=N`` folds :func:`compact_parquet_snapshot` into the
    drain (r11 — d22's ``compact_every`` discipline ported to the MVCC
    layer): after every Nth PUBLISHED batch the latest version's file
    set is rewritten as ``target_files`` files and published as a new
    ``compact`` version, so a long-lived stream appending one tiny file
    set per micro-batch never degrades readers — without this, file
    count grows linearly with batches exactly like the pre-d22
    checkpoint buckets. Semantics untouched: compaction versions are
    additive, every pre-compact version stays time-travelable until
    vacuumed, and a replayed batch (publish no-op) never triggers a
    compaction. Compaction runs between batches of the ONE serialized
    foreachBatch writer, so the lost-publish-race retry inside
    compact_parquet_snapshot is a safety net, not an expected path.

    The cadence is DURABLE (ADVICE r11 / VERDICT r11 #5): it counts
    published manifests since the table's last ``compact`` version, not
    a per-process counter, so a stream stopped and restarted mid-cadence
    still compacts on the Nth GLOBAL publish — a sink restarted every
    N−1 batches compacts exactly as often as one that never restarts.

    ``allow_schema_evolution`` lets a sink RESTARTED after an upstream
    schema upgrade widen its table (merge-read with nulls padded for
    pre-upgrade versions) instead of refusing every batch; within one
    query the schema is fixed, so the default stays strict.

    ``stats_columns`` declares data-skipping columns on the FIRST batch
    (later appends inherit the table's recorded set, so passing it every
    batch is idempotent); ``cluster_by`` makes the folded compaction
    range-cluster its rewrite, so the table's files stay range-DISJOINT
    on the skip columns as the stream grows — the combination is what
    keeps a ``where=`` read of a months-old streaming table from
    scanning every micro-batch's files."""

    # pure value validation runs at SINK CONSTRUCTION (review r13):
    # deferring it to the Nth micro-batch's folded compaction would kill
    # a live stream mid-run over a typo the constructor could refuse
    _validate_cluster_args(cluster_by, cluster_strategy)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not snapshot_publish_batch(
            batch_df, batch_id, path,
            allow_schema_evolution=allow_schema_evolution,
            stats_columns=stats_columns,
        ):
            return
        if compact_every and _published_since_last_compact(path) >= compact_every:
            compact_parquet_snapshot(
                batch_df.sparkSession, path, target_files=target_files,
                cluster_by=cluster_by, cluster_strategy=cluster_strategy,
            )

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
    )


def compact_parquet_snapshot(
    spark, path: str, target_files: int = 1, max_retries: int = 5,
    cluster_by: list[str] | None = None, cluster_strategy: str = "range",
    force: bool = False,
) -> dict:
    """Rewrite the LATEST snapshot version's file set as ``target_files``
    files and publish the result as a NEW version — the small-files
    maintenance op for MVCC tables (VERDICT r10 #3: ``compact_parquet``
    is staged-swap and would break snapshot isolation if pointed at a
    snapshot table's data dir; a streaming sink appending one tiny file
    set per micro-batch accumulates exactly like the checkpoint buckets
    d22 closed). Zero semantic change: the new manifest names the
    compacted files, every OLD version keeps its own manifest and files
    untouched (still time-travelable until vacuumed), and readers are
    isolated throughout because the manifest IS the atomicity — no
    staged swap, no window where the table is missing.

    Race protocol (:func:`_publish_loop`, shared with the DML verbs and
    restore): the compacted data is staged in a fresh immutable dir,
    footer-count-verified against the base manifest's row count
    (:func:`_rewrite_payload`, the DML rewrite step), then published
    with one O_EXCL manifest link. Losing the link race means the table
    ADVANCED during the rewrite — publishing the stale compaction anyway
    would silently drop the winner's rows — so the attempt is abandoned
    (its data dir becomes an invisible orphan for vacuum) and the
    compaction re-reads the new latest and retries, up to
    ``max_retries``. Already-compact tables (``<= target_files`` files)
    are a no-op — unless ``cluster_by`` asks for a layout change, or
    ``force=True`` demands the rewrite anyway (r13: how a SHALLOW CLONE
    materializes — a small clone would otherwise no-op and silently keep
    referencing the source's bytes past the source's vacuum horizon).

    ``cluster_by`` (r13 — the OPTIMIZE/CLUSTER BY of transactional
    formats): the rewrite range-partitions and sorts on the named
    columns instead of round-robin repartitioning, so the compacted
    files carry DISJOINT value ranges — exactly what makes the
    manifest's data-skipping stats (``stats_columns``) prune: a
    round-robin compaction of a streaming sink's files makes every file
    span the full key range and a ``where=`` read keeps all of them; a
    clustered compaction of the same table prunes to the one file whose
    range matches. The new manifest's stats are recomputed from the
    compacted footers for the table's recorded stats columns (or for
    ``cluster_by`` itself on a table that never declared any).

    ``cluster_strategy="zorder"`` (needs ≥2 ``cluster_by`` columns)
    interleaves the columns' bits into a Morton code and range-clusters
    on THAT (the OPTIMIZE ZORDER BY analog, reusing
    :func:`~..operators.sorts.zorder_value`): a lexicographic range sort
    bounds only its LEADING column per file — the second column spans
    its full range in every file and never prunes — while z-cells bound
    every interleaved dimension at once, so ``where=`` reads prune on
    ANY of them from one layout. Costs one extra 1-row min/max
    aggregate over the base version (the quantization grid).

    Returns ``{"compacted", "version", "from_version", "files_before",
    "files_after", "rows", "retries"}``."""
    if target_files < 1:
        raise ValueError("target_files must be >= 1")
    _validate_cluster_args(cluster_by, cluster_strategy)

    def build(src):
        if cluster_by:
            # legacy pre-schema manifests record no schema — resolve it
            # from the file footers (plan-only dtypes probe, the same
            # fallback snapshot_changes uses) so the eager unknown-column
            # / non-numeric-dimension / __z-collision refusals below
            # still fire instead of degrading to a constant span or a
            # mid-job cast error (ADVICE r13)
            tbl_schema = src.get("schema") or [
                list(p) for p in _read_snapshot_files(spark, src).dtypes
            ]
            unknown = set(cluster_by) - {c for c, _t in tbl_schema}
            if unknown:
                raise ValueError(
                    f"cluster_by columns {sorted(unknown)} not in the "
                    f"snapshot schema {[c for c, _t in tbl_schema]}"
                )
            if cluster_strategy == "zorder":
                # Morton quantization casts coordinates to double — a
                # string/date dimension would silently degrade to a
                # constant span (no pruning on the promised column) or
                # throw a mid-job ANSI cast error (review r13); refuse
                # eagerly instead
                types = dict(tbl_schema)
                if "__z" in types:
                    # withColumn would REPLACE the data column with the
                    # Morton code and drop() would delete it — silent
                    # column loss behind a passing count-verify
                    raise ValueError(
                        "table has a column named __z, which the "
                        "zorder rewrite uses as scratch — rename it or "
                        "use cluster_strategy='range'"
                    )
                bad = sorted(
                    c
                    for c in cluster_by
                    if types[c] not in _ZORDER_NUMERIC
                    and not types[c].startswith("decimal")
                )
                if bad:
                    raise ValueError(
                        f"cluster_strategy='zorder' needs numeric "
                        f"dimensions; {bad} are "
                        f"{[(c, types[c]) for c in bad]} — derive a "
                        "numeric surrogate (day number, dictionary "
                        "code) or use cluster_strategy='range'"
                    )
        if len(src["files"]) <= target_files and not (cluster_by or force):
            return None  # already compact
        # evolved-aware read: compacting a schema-evolved version
        # materializes the widened schema into uniform files (nulls
        # filled), so the compact version no longer needs merge-reads
        reader = _read_snapshot_files(spark, src)
        if cluster_by and cluster_strategy == "zorder":
            zcol = _zorder_column(reader, cluster_by)
            if zcol is None:  # empty table: nothing to cluster
                rewritten = reader.repartition(target_files)
            else:
                # z-cells bound EVERY interleaved dimension per file
                rewritten = (
                    reader.withColumn("__z", zcol)
                    .repartitionByRange(target_files, F.col("__z"))
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
        elif cluster_by:
            # disjoint per-file ranges: range-partition THEN sort within,
            # so footer min/max per file are tight and non-overlapping
            rewritten = reader.repartitionByRange(
                target_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            rewritten = reader.repartition(target_files)
        # a clustered compaction on a stats-less table starts tracking
        # cluster_by
        return _rewrite_payload(
            spark, path, src, rewritten, src["rows"], "compact",
            "compacted_from", src.get("stats_columns") or cluster_by,
        )

    src, payload, retries = _publish_loop(
        path, build, "compaction", max_retries
    )
    out = payload or src
    return {
        "compacted": payload is not None, "version": out["version"],
        "from_version": src["version"],
        "files_before": len(src["files"]),
        "files_after": len(out["files"]),
        "rows": out["rows"], "retries": retries,
    }


def _rmw_publish_snapshot(
    spark, path: str, compute, mode: str, max_retries: int = 5
) -> dict:
    """Optimistic read-modify-write publish of the snapshot DML verbs
    (:func:`merge_upsert_snapshot`, :func:`delete_from_snapshot`,
    :func:`update_snapshot`) through :func:`_publish_loop`: per attempt,
    ``compute(src_manifest, base_df)`` builds the replacement frame and
    returns ``(result_df, expected_rows, info)`` — expected_rows is the
    semantic count-verify, info the op's stats — and the frame is staged,
    verified and published as a ``mode`` version replacing ``src``
    (:func:`_rewrite_payload`). A lost race re-reads and re-computes."""
    info: dict = {}

    def build(src):
        result_df, expected_rows, op_info = compute(
            src, _read_snapshot_files(spark, src)
        )
        info.update(op_info)
        return _rewrite_payload(
            spark, path, src, result_df, expected_rows, mode,
            "replaced_from", src.get("stats_columns"),
        )

    src, payload, retries = _publish_loop(path, build, mode, max_retries)
    return {
        "version": payload["version"], "from_version": src["version"],
        "rows": payload["rows"], "retries": retries, **info,
    }


def merge_upsert_snapshot(
    spark, path: str, updates: DataFrame, key_cols: list[str],
    max_retries: int = 5,
) -> dict:
    """MERGE INTO for a snapshot-versioned table: rows in ``updates``
    REPLACE every target row sharing their key, new keys INSERT, and
    the result publishes as ONE new version — so concurrent readers
    keep full snapshot isolation (they're pinned to their manifest's
    file list), every pre-merge state stays time-travelable, and a
    conflicting concurrent publish is DETECTED rather than lost (the
    optimistic O_EXCL protocol of :func:`_rmw_publish_snapshot`). This
    is the DML half the staged-swap :func:`merge_upsert_parquet`
    deliberately refuses on snapshot tables.

    ``updates`` must be key-unique (refused otherwise — duplicate keys
    would make the result order-dependent) and must carry exactly the
    table's manifest columns with their manifest dtypes, in ANY order
    (the rewrite selects manifest order; unlike appends, no file ever
    mixes schemas here, so column order is free). On an evolved base
    the rewrite materializes uniform files and the new version sheds
    the merge-read flag, exactly like compaction. Returns key-true
    stats: ``updated`` + ``inserted`` == update row count even when the
    target holds duplicate keys (a matched key replaces ALL its target
    rows)."""
    # one scan for both preflights (r13 review): total row count and
    # the max per-key multiplicity come out of a single grouped
    # aggregate instead of two full passes over updates. NULL keys
    # group together and are refused like any duplicate — a multi-row
    # NULL-key upsert is almost always a data bug, and refusing keeps
    # parity with merge_upsert_parquet.
    pre = (
        updates.groupBy(*key_cols)
        .count()
        .agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("n"),
            F.coalesce(F.max("count"), F.lit(0)).alias("mx"),
        )
        .collect()[0]
    )
    if pre["mx"] > 1:
        raise ValueError(
            f"updates contain duplicate key(s) on {key_cols}; "
            "resolve (e.g. keep-latest) before merging"
        )
    n_updates = pre["n"]
    upd_types = {c: t for c, t in updates.dtypes}

    def compute(src, target):
        # legacy pre-manifest-schema tables (r13 review): derive the
        # schema from the pinned read frame's dtypes — the same
        # footer-derived answer the append path computes for them —
        # instead of KeyError'ing on the missing field
        tbl_schema = src.get("schema") or [list(p) for p in target.dtypes]
        cols = [c for c, _t in tbl_schema]
        tbl_types = {c: t for c, t in tbl_schema}
        if upd_types != tbl_types:
            raise ValueError(
                f"merge schema mismatch at {path}: table has "
                f"{tbl_schema}, updates bring "
                f"{sorted(upd_types.items())}; updates must carry "
                "exactly the table's columns and dtypes"
            )
        aligned = updates.select(*cols)
        # one aggregate job: how many target ROWS and distinct KEYS the
        # updates match (broadcast-hinted only while provably small —
        # a giant backfill upsert must not force-broadcast)
        matched = (
            target.join(
                _maybe_broadcast(aligned.select(*key_cols), n_updates),
                key_cols,
            )
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct(*key_cols).alias("keys"),
            )
            .collect()[0]
        )
        merged = target.join(
            _maybe_broadcast(aligned.select(*key_cols), n_updates),
            key_cols,
            "left_anti",
        ).unionByName(aligned).select(*cols)
        expected = src["rows"] - matched["rows"] + n_updates
        return merged, expected, {
            "updated": matched["keys"],
            "inserted": n_updates - matched["keys"],
        }

    return _rmw_publish_snapshot(
        spark, path, compute, "merge", max_retries=max_retries
    )


def delete_from_snapshot(
    spark, path: str, predicate, max_retries: int = 5
) -> dict:
    """DELETE FROM a snapshot-versioned table: rows where ``predicate``
    (a Column or SQL string) evaluates TRUE are removed in ONE new
    published version — SQL three-valued semantics, so NULL-predicate
    rows are KEPT, matching ``DELETE FROM t WHERE p``. Same isolation,
    time-travel, high-water and conflict-detection guarantees as
    :func:`merge_upsert_snapshot`. Returns ``deleted`` alongside the
    publish stats."""
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate

    def compute(src, target):
        n_del = target.where(cond).count()
        kept = target.where(~F.coalesce(cond, F.lit(False)))
        tbl_schema = src.get("schema") or [list(p) for p in target.dtypes]
        cols = [c for c, _t in tbl_schema]
        return kept.select(*cols), src["rows"] - n_del, {"deleted": n_del}

    return _rmw_publish_snapshot(
        spark, path, compute, "delete", max_retries=max_retries
    )


def update_snapshot(
    spark, path: str, set: dict, predicate=None, max_retries: int = 5,
) -> dict:
    """UPDATE on a snapshot-versioned table — the third DML verb beside
    :func:`merge_upsert_snapshot` and :func:`delete_from_snapshot`:
    rows where ``predicate`` (Column or SQL string; None = every row)
    evaluates TRUE get each ``set`` column replaced by its expression
    (Column or SQL string, evaluated against the PRE-update row, so
    ``{"v": "v + 1"}`` and swaps behave like SQL UPDATE); all other
    rows pass through untouched, and the result publishes as ONE new
    version under the same optimistic-concurrency, count-verify,
    high-water-stamp and time-travel guarantees as the other DML ops
    (:func:`_rmw_publish_snapshot`). SQL three-valued semantics: a
    NULL predicate row is NOT updated. ``set`` may only name existing
    columns with type-compatible expressions — new columns are schema
    evolution's job, dtype changes always refuse (the feed and
    merge-read contracts depend on stable dtypes). Returns ``updated``
    alongside the publish stats."""
    if not set:
        raise ValueError("set must name at least one column")
    cond = (
        F.lit(True)
        if predicate is None
        else (F.expr(predicate) if isinstance(predicate, str) else predicate)
    )
    # strings are SQL expressions, Columns pass through, and any other
    # Python value is a LITERAL (review r13: update(..., {'v': 0}) is a
    # natural spelling that used to die with a bare AttributeError)
    exprs = {
        c: (
            F.expr(e)
            if isinstance(e, str)
            else (e if isinstance(e, Column) else F.lit(e))
        )
        for c, e in set.items()
    }

    def compute(src, target):
        tbl_schema = src.get("schema") or [list(p) for p in target.dtypes]
        cols = [c for c, _t in tbl_schema]
        types = dict(tbl_schema)
        # {*...} literals: the SQL-shaped parameter name `set` shadows
        # the builtin inside this function
        unknown = sorted({*exprs} - {*cols})
        if unknown:
            raise ValueError(
                f"update set columns {unknown} not in the table schema "
                f"{cols}; add columns via allow_schema_evolution appends"
            )
        # probe each SET expression's OWN dtype (plan-only, no job):
        # checking the merged when()'s type instead would let ANSI
        # coercion hide a conflict until a runtime cast exception
        # mid-write ('text' into a bigint column resolves the when to
        # bigint with a runtime string->int cast)
        probe_types = dict(
            target.select(*[e.alias(c) for c, e in exprs.items()]).dtypes
        )
        # exact match or a SAFE numeric widening (an int literal into a
        # bigint column merges losslessly — refusing it would make
        # {'v': 0} unusable); string→bigint is NOT safe (ANSI runtime
        # cast), double→bigint is NOT safe (truncation)
        _INTS = ["tinyint", "smallint", "int", "bigint"]

        def _ok(have: str, want: str) -> bool:
            if have == want:
                return True
            if have in _INTS and want in _INTS:
                return _INTS.index(have) <= _INTS.index(want)
            return have == "float" and want == "double"

        conflicts = sorted(
            c for c in exprs if not _ok(probe_types[c], types[c])
        )
        if conflicts:
            raise ValueError(
                f"update changes dtype of {conflicts} (table has "
                f"{[(c, types[c]) for c in conflicts]}, expressions give "
                f"{[(c, probe_types[c]) for c in conflicts]}); cast the "
                "expression to the column's type"
            )
        hit = F.coalesce(cond, F.lit(False))  # NULL predicate: keep
        # every set expression evaluates against the PRE-update row (one
        # select, SQL UPDATE semantics — swaps work); the explicit cast
        # pins a safely-widening expression to the column's exact dtype
        updated = target.select(
            *[
                F.when(hit, exprs[c].cast(types[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in exprs
                else F.col(c)
                for c in cols
            ]
        )
        n_hit = target.where(hit).count()
        return updated, src["rows"], {"updated": n_hit}

    return _rmw_publish_snapshot(
        spark, path, compute, "update", max_retries=max_retries
    )


def restore_snapshot(
    spark, path: str, version: int, max_retries: int = 5
) -> dict:
    """RESTORE the table to a past version by publishing that version's
    FILE LIST as a new latest — zero bytes copied, pure manifest op
    (r13; the instant rollback of a bad merge/delete/append that
    transactional formats call RESTORE TABLE ... VERSION AS OF). The
    restored-to version's files are shared forward, so vacuum keeps
    them for as long as the restore manifest lives; the rolled-back
    versions stay time-travelable until vacuumed like any other. An
    ``evolved`` source version keeps its flag (its files still mix
    schemas — a later compaction sheds it); the new manifest is stamped
    with the table's effective stream high-water (rollback of CONTENT,
    not of the replay guard — a restored table must not re-publish
    already-published batches). A lost publish race simply re-links at
    the next number: restore is an explicit rollback intent, not a
    read-modify-write, so there is no lost-update anomaly to detect —
    the restore wins by design, and the racing publish stays
    time-travelable."""
    import time as _time

    src = _resolve_manifest(path, version)
    # read-back verification (r13 review): restore is the one publish
    # that names files it did not just write — a vacuum concurrently
    # dropping the source version could have deleted them, and linking
    # an unreadable latest would break the module's every-listed-
    # manifest-readable invariant. One count job against the pinned
    # list (evolved-aware) refuses cleanly instead. A narrow
    # verify-to-link window remains — restore versions inside the
    # vacuum keep horizon, or serialize restore with vacuum, to close
    # it; vacuum cannot touch the files once the restore manifest is
    # linked (shared forward).
    readback = _read_snapshot_files(spark, src).count()
    if readback != src["rows"]:
        raise RuntimeError(
            f"restore verification failed at {path}: v{version}'s "
            f"manifest records {src['rows']} rows but its files read "
            f"back {readback} — the version was likely vacuumed "
            "mid-restore"
        )

    def build(latest):
        return _carry_over(src, {
            "version": latest["version"] + 1, "files": src["files"],
            "rows": src["rows"], "mode": "restore",
            "restored_from": version, "published_utc": _time.time(),
        })

    _latest, payload, retries = _publish_loop(
        path, build, "restore", max_retries
    )
    return {
        "version": payload["version"], "restored_from": version,
        "rows": src["rows"], "retries": retries,
    }


def clone_snapshot(
    spark, src_path: str, dst_path: str,
    version: int | None = None, as_of_utc=None,
) -> dict:
    """SHALLOW CLONE: create a NEW snapshot table at ``dst_path`` whose
    v1 manifest references the source version's files verbatim — zero
    bytes copied and no data scan (one tiny footer read per referenced
    file, the vacuum-race verification), the transactional-format
    pattern for forking a 100 TB table into a dev/test/experiment
    branch at metadata cost. The clone is a
    fully independent table from then on: appends/DML/compaction write
    into ITS data root, the source's history and replay guard are
    untouched (a clone starts a fresh lineage — no ``src_batch`` is
    carried), and data-skipping stats/evolved flags come along with the
    file list. ``version``/``as_of_utc`` pin the source state exactly
    like :func:`read_parquet_snapshot`.

    Ownership contract (enforced in :func:`vacuum_parquet_snapshots`):
    the clone does not OWN the source's bytes — its vacuum drops cloned
    manifests but never deletes files outside its own ``data/`` root,
    and conversely a SOURCE vacuum that drops the cloned-from version
    deletes files the clone still references (exactly the documented
    shallow-clone hazard of transactional formats). Either keep the
    source's vacuum horizon behind every live clone, or MATERIALIZE the
    clone (``compact_parquet_snapshot(dst, force=True)`` rewrites
    everything into its own data root — ``force`` because an
    already-small clone would otherwise no-op and keep the dependency)
    before the source vacuums. Refuses a ``dst_path`` that already has
    snapshots (clone creates tables, it doesn't overwrite them).

    ``spark`` is accepted for signature symmetry with the other
    snapshot ops but unused — the whole clone is driver-side manifest
    and footer work (``spark=None`` is fine and the test proves it)."""
    import time as _time

    src = _resolve_manifest(src_path, version, as_of_utc)
    if _manifest_versions(dst_path):
        raise ValueError(
            f"{dst_path} is already a snapshot table — clone creates "
            "new tables; restore/DML mutate existing ones"
        )
    # the clone names files it did not write (restore's discipline): a
    # source vacuum racing the clone could have deleted them — verify
    # before publishing an unreadable table. Driver-side FOOTER reads,
    # O(files) and no Spark job (ADVICE r13: a full count() scan made
    # "zero bytes copied in O(1)" cost one table scan at 100 TB); a
    # vacuumed file surfaces as an unreadable footer, a truncated /
    # swapped one as a row-count mismatch — the same races the scan
    # caught, at metadata cost.
    head = f"clone verification failed: {src_path} v{src['version']}"
    try:
        readback = _footer_row_count(src["files"])
    except RuntimeError as exc:
        raise RuntimeError(
            f"{head}: {exc} — the version was likely vacuumed mid-clone"
        ) from exc
    if readback != src["rows"]:
        raise RuntimeError(
            f"{head} records {src['rows']} rows but its file footers "
            f"total {readback} — the version was likely vacuumed mid-clone"
        )
    _fs.for_path(dst_path).make_dirs(_snap_path(dst_path))
    cloned_from = {"path": _local_path(src_path), "version": src["version"]}
    payload = _carry_over(src, {
        "version": 1, "files": src["files"], "rows": src["rows"],
        "mode": "clone", "cloned_from": cloned_from,
        "published_utc": _time.time(),
    })
    if not _link_manifest(dst_path, 1, payload):
        raise ValueError(
            f"{dst_path} was concurrently created — clone refuses to "
            "race another table's first publish"
        )
    return {
        "version": 1, "cloned_from": cloned_from, "rows": src["rows"],
        "files": len(src["files"]),
    }


def snapshot_changes(
    spark, path: str, from_version: int, to_version: int | None = None,
    where: dict | None = None,
) -> DataFrame:
    """Row-level CHANGE DATA FEED between two versions of a snapshot
    table (r13 — the ``table_changes`` of transactional formats):
    everything that happened strictly AFTER ``from_version`` up to and
    including ``to_version`` (default latest), as one DataFrame of the
    table's columns plus ``_change_type`` (``insert`` | ``delete``; an
    update is a delete+insert pair at the same version, multiset-true)
    and ``_commit_version``. A downstream consumer that processed the
    table as of ``from_version`` applies exactly these rows to catch up
    — without re-reading the table.

    Cost is shaped by each version's MODE, read straight off its
    manifest:

    - ``append`` versions (including every streaming-sink batch) are
      O(new data): the inserts are exactly the files the manifest added,
      so the feed reads ONLY those files — at 100 TB a day's catch-up
      over an append lineage scans the day's batches, nothing else.
    - ``compact`` versions are content-identical by protocol
      (count-verified at publish) and contribute NOTHING — zero reads.
    - rewrite versions (``overwrite``/``merge``/``delete``/``restore``)
      need a multiset diff of two ADJACENT versions (``exceptAll`` both
      ways — null-safe, duplicate-true): two full scans each, the
      honest price of a feed across an arbitrary rewrite.

    Requires every manifest in ``from_version-1 .. to_version``'s diff
    chain to survive vacuum (the feed raises naming the missing version
    otherwise), and refuses a range across which a column changed DTYPE
    (one frame can't carry both). Schema changes by WIDENING are fine —
    pre-evolution rows pad nulls exactly like the table reads they came
    from. ``from_version=0`` is "from the table's beginning": the first
    version's full content arrives as ``insert`` rows at
    ``_commit_version`` 1 (whatever mode published it — an
    overwrite-created table or a streaming sink whose first batch is an
    append), so a consumer starting from nothing gets the whole history
    in one feed.

    ``where`` (the ``read_parquet_snapshot`` prune mapping: col →
    scalar or inclusive ``(lo, hi)``) restricts the feed to MATCHING
    rows and prunes with the manifests' data-skipping stats — "give me
    yesterday's changes for this key range" reads only the files whose
    recorded range can match, on both the append fast path and both
    sides of every rewrite diff. Sound because a per-row predicate
    commutes with the multiset diff (filter-then-diff ==
    diff-then-filter), and versions predating a ``where`` column
    contribute nothing (their value is NULL, which no range matches)."""
    latest = _latest_manifest(path)
    if latest is None:
        raise FileNotFoundError(f"no snapshots published at {path}")
    if to_version is None:
        to_version = latest["version"]
    elif to_version > latest["version"]:
        raise ValueError(
            f"to_version {to_version} is beyond the latest published "
            f"version {latest['version']} at {path}"
        )
    if from_version < 0:
        raise ValueError(f"from_version must be >= 0, got {from_version}")
    if to_version < 1:
        raise ValueError(
            f"to_version must be >= 1 (v{to_version} precedes every "
            "publish)"
        )
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} > to_version {to_version}"
        )
    first_needed = max(from_version, 1)  # v0 never exists: 0 = beginning
    manifests: dict[int, dict] = {}
    for v in range(first_needed, to_version + 1):
        m = _load_manifest(path, v)
        if m is None:
            raise ValueError(
                f"snapshot v{v} not found at {path} (vacuumed or never "
                "published) — the change feed needs every version in "
                f"[{first_needed}, {to_version}]"
            )
        manifests[v] = m

    # one output schema for the whole range: first-seen column order,
    # dtype conflicts refused (a feed can't carry two types in one col)
    out_cols: list[tuple[str, str]] = []
    seen: dict[str, str] = {}
    for v in range(first_needed, to_version + 1):
        schema = manifests[v].get("schema")
        if schema is None:  # legacy pre-schema manifest: footers answer
            schema = [
                list(p)
                for p in _read_snapshot_files(spark, manifests[v]).dtypes
            ]
            manifests[v]["schema"] = schema
        for c, t in schema:
            if c in ("_change_type", "_commit_version"):
                raise ValueError(
                    f"table column {c!r} collides with a change-feed "
                    "metadata column"
                )
            if c not in seen:
                seen[c] = t
                out_cols.append((c, t))
            elif seen[c] != t:
                raise ValueError(
                    f"column {c!r} changes dtype across the range "
                    f"({seen[c]} → {t}); split the feed at the "
                    "type-changing version"
                )

    def _tagged(df: DataFrame, change: str, v: int) -> DataFrame:
        return df.withColumn(
            "_change_type", F.lit(change)
        ).withColumn("_commit_version", F.lit(v).cast("bigint"))

    if where:
        unknown = set(where) - {c for c, _t in out_cols}
        if unknown:
            raise ValueError(
                f"where columns {sorted(unknown)} not in the feed schema "
                f"{[c for c, _t in out_cols]}"
            )
    bounds = _prune_bounds(where) if where else None
    cond = _where_condition(bounds) if bounds else None

    def _new_rows(m: dict, files: list) -> DataFrame | None:
        """An append's added files → padded, where-filtered insert rows;
        stats-pruned to the files whose recorded range can match
        (missing stats keep the file), None when nothing can. Only for
        files ONE write job produced (uniform schema) — v1 goes through
        :func:`_side` instead, because a shallow CLONE's v1 inherits the
        source's possibly-evolved mixed-schema file list."""
        if bounds:
            files = _prune_files(files, m.get("stats") or {}, bounds)
            if not files:
                return None
        df = _pad_to_schema(spark.read.parquet(*files), out_cols)
        return df.where(cond) if cond is not None else df

    def _side(m: dict) -> DataFrame:
        """One side of a rewrite diff: the version's (stats-pruned,
        where-filtered) content padded to the feed schema. The version-
        local where keeps only columns the version's schema has; the
        full predicate re-applies post-pad, so a version predating a
        where column contributes nothing (NULL matches no range)."""
        sub = (
            {c: s for c, s in where.items() if c in {n for n, _t in m["schema"]}}
            if where
            else None
        )
        df = _pad_to_schema(
            _read_snapshot_files(spark, m, where=sub or None), out_cols
        )
        return df.where(cond) if cond is not None else df

    # alignment pads from each frame's OWN columns (an evolution append
    # may OMIT table columns, so its new files carry fewer columns than
    # the manifest) — the shared evolution null-padding helper
    parts: list[DataFrame] = []
    for v in range(from_version + 1, to_version + 1):
        m = manifests[v]
        if v == 1:
            # from_version=0: the table's first version IS the initial
            # content, whatever mode published it (overwrite-created
            # table, a sink's first append batch, or a shallow CLONE —
            # there is no v0). Read through _side, not a plain parquet
            # read: a clone's v1 inherits the source's possibly-EVOLVED
            # mixed-schema file list, where a one-footer-sampled plain
            # read would silently null out evolved columns (review r13)
            parts.append(_tagged(_side(m), "insert", v))
            continue
        prev = manifests[v - 1]
        if m.get("mode") == "compact":
            continue  # content-identical reorganization by protocol
        if m.get("mode") == "append":
            new_files = sorted(set(m["files"]) - set(prev["files"]))
            if not new_files:
                continue
            ins = _new_rows(m, new_files)
            if ins is not None:
                parts.append(_tagged(ins, "insert", v))
            continue
        cur_df, prev_df = _side(m), _side(prev)
        parts.append(_tagged(cur_df.exceptAll(prev_df), "insert", v))
        parts.append(_tagged(prev_df.exceptAll(cur_df), "delete", v))

    if not parts:
        ddl = (
            _schema_ddl(out_cols)
            + ", `_change_type` string, `_commit_version` bigint"
        )
        return local_frame(spark, [], ddl)  # JVM-local, see localrel.py
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

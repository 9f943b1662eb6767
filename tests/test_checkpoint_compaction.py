"""Checkpoint state compaction (VERDICT r9 #2).

Each ingest micro-batch appends one file per touched bucket, so after N
batches a bucket directory holds up to N small files and the pruned
probe degrades into a small-files scan. ``compact_band_checkpoint`` /
``compact_chunk_checkpoint`` rewrite every bucket to ONE file via the
marker-protected staged swap, carrying the parameter sidecar and the
``_ingest_hwm`` committed-batch markers through — these tests pin:

1. the post-compact invariant (exactly 1 data file per bucket dir);
2. ingest equivalence: a pipeline compacted mid-sequence admits the
   SAME survivors as a never-compacted twin;
3. partition pruning still works over a compacted checkpoint
   (executed-scan numFiles < total);
4. the clean-boundary refusal (rows stamped above the committed hwm =
   in-flight batch → ValueError, state untouched);
5. crash-recovery via the shared ``recover_staged_swap`` protocol.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup


def _bucket_files(path: str, pattern: str) -> dict[str, int]:
    """parquet data-file count per bucket directory."""
    out: dict[str, int] = {}
    for d in glob.glob(os.path.join(path, pattern)):
        out[d] = len(glob.glob(os.path.join(d, "*.parquet")))
    return out


def _rngtext(d: int) -> str:
    return " ".join(f"w{(d * 7 + i * 13) % 97}" for i in range(30))


def _freshtext(d: int) -> str:
    """Text guaranteed distinct from every ``_rngtext`` output (its own
    vocabulary), so ingest batches actually ADMIT docs and append state
    — ``_rngtext`` repeats with period 97 in ``d * 7``, so naively using
    it for batch ids near 100 silently duplicates the seed corpus."""
    return " ".join(f"f{d}x{i}" for i in range(30))


def test_compact_band_checkpoint_one_file_per_bucket(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(d, _rngtext(d)) for d in range(40)], "doc_id long, text string"
    )
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text",
                                n_sig_buckets=8)
    out = str(tmp_path / "out")
    for b, lo in enumerate(range(100, 130, 10)):
        batch = spark.createDataFrame(
            [(d, _freshtext(d)) for d in range(lo, lo + 10)],
            "doc_id long, text string",
        )
        dedup.ingest_batch_idempotent(batch, b, path, out)
    per_dir = _bucket_files(path, "band=*/sigb=*")
    assert any(n > 1 for n in per_dir.values()), per_dir  # fragmented

    before = sorted(
        map(tuple, dedup.read_band_checkpoint(spark, path, "doc_id")
            .collect())
    )
    hwm_before = dedup.ingest_high_water_mark(path)
    stats = dedup.compact_band_checkpoint(spark, path)

    per_dir = _bucket_files(path, "band=*/sigb=*")
    assert per_dir and all(n == 1 for n in per_dir.values()), per_dir
    assert stats["files_after"] == len(per_dir)
    assert stats["files_before"] > stats["files_after"]
    assert stats["hwm"] == hwm_before == dedup.ingest_high_water_mark(path)
    # content-identical (stamps included) and the sidecar survived
    after = sorted(
        map(tuple, dedup.read_band_checkpoint(spark, path, "doc_id")
            .collect())
    )
    assert after == before
    assert dedup.read_band_params(spark, path)["n_sig_buckets"] == 8
    # idempotent: a second compaction is a clean no-op rewrite
    again = dedup.compact_band_checkpoint(spark, path)
    assert again["rows"] == stats["rows"]
    assert again["files_after"] == stats["files_after"]


def test_band_ingest_equivalent_after_midsequence_compaction(
    spark, tmp_path
):
    """A pipeline compacted between batches must admit exactly the same
    survivor set as a never-compacted twin — compaction preserves the
    src_batch stamps, so replay exclusion and cross-batch dedup see the
    identical state."""
    docs = [(d, _rngtext(d % 25)) for d in range(45)]  # heavy dup load
    seed = spark.createDataFrame(docs[:15], "doc_id long, text string")
    batches = [
        spark.createDataFrame(docs[lo:lo + 10], "doc_id long, text string")
        for lo in range(15, 45, 10)
    ]
    survivors = {}
    for variant, compact_after in (("plain", None), ("compacted", 0)):
        base = tmp_path / variant
        path, out = str(base / "bands"), str(base / "out")
        dedup.write_band_checkpoint(seed, path, "doc_id", "text",
                                    n_sig_buckets=8)
        for b, batch in enumerate(batches):
            dedup.ingest_batch_idempotent(batch, b, path, out)
            if compact_after is not None and b == compact_after:
                dedup.compact_band_checkpoint(spark, path)
        files = glob.glob(f"{out}/**/*.parquet", recursive=True)
        survivors[variant] = (
            sorted(r.doc_id for r in spark.read.parquet(out).collect())
            if files else []
        )
    assert survivors["compacted"] == survivors["plain"]


def test_compact_chunk_checkpoint_and_pruning_survive(spark, tmp_path):
    W = lambda d, i: f"d{d}w{i}"  # noqa: E731
    corpus = spark.createDataFrame(
        [(d, " ".join(W(d, i) for i in range(20))) for d in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "chunks")
    dedup.write_chunk_checkpoint(corpus, path, "doc_id", "text",
                                 n_buckets=16)
    out = str(tmp_path / "out")
    for b, lo in enumerate(range(100, 120, 10)):
        batch = spark.createDataFrame(
            [(d, _freshtext(d)) for d in range(lo, lo + 10)],
            "doc_id long, text string",
        )
        dedup.chunk_ingest_batch_idempotent(batch, b, path, out)
    assert any(n > 1 for n in _bucket_files(path, "lhb=*").values())

    before = sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id")
            .collect())
    )
    stats = dedup.compact_chunk_checkpoint(spark, path)
    per_dir = _bucket_files(path, "lhb=*")
    assert per_dir and all(n == 1 for n in per_dir.values()), per_dir
    after = sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id")
            .collect())
    )
    assert after == before and stats["rows"] == len(before)

    # the pruned probe still prunes over the compacted layout: a
    # one-chunk batch opens strictly fewer files than the checkpoint
    # holds, through a literal lhb PartitionFilter
    batch = spark.createDataFrame(
        [(999, " ".join(W(3, i) for i in range(10)))],
        "doc_id long, text string",
    )
    chunks = dedup._doc_chunks(batch, "doc_id", "text", 10)
    buckets = sorted(
        r.b for r in chunks.select(
            dedup._lh_bucket(F.col("lh"), 16).alias("b")
        ).distinct().collect()
    )
    pruned = dedup.read_chunk_checkpoint(spark, path, "doc_id",
                                         buckets=buckets)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lhb" in plan.split(
        "PartitionFilters")[1].split("]")[0], plan
    pruned.collect()
    scan = pruned._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    read_files = int(scan.metrics().apply("numFiles").value())
    total_files = len(glob.glob(f"{path}/lhb=*/*.parquet"))
    assert 0 < read_files < total_files, (read_files, total_files)
    # and a further ingest batch over the compacted state behaves: doc
    # 3's span is already admitted, so the re-delivery drops to empty
    dedup.chunk_ingest_batch_idempotent(batch, 2, path, out)
    rows = {r.doc_id: r.n_dropped
            for r in spark.read.parquet(out).collect() if r.doc_id == 999}
    assert rows == {999: 1}, rows


def test_compact_refuses_inflight_batch(spark, tmp_path):
    """Rows stamped above the committed high-water mark = an in-flight
    (or crashed, not-yet-replayed) batch: compacting concurrently would
    swap away whatever that batch appends after the snapshot read, so
    the op must refuse and leave the state byte-identical."""
    corpus = spark.createDataFrame(
        [(d, _rngtext(d)) for d in range(10)], "doc_id long, text string"
    )
    for writer, compact, marker_path in (
        (dedup.write_band_checkpoint, dedup.compact_band_checkpoint,
         "bands"),
        (dedup.write_chunk_checkpoint, dedup.compact_chunk_checkpoint,
         "chunks"),
    ):
        path = str(tmp_path / marker_path)
        writer(corpus, path, "doc_id", "text")
        # torn append: batch 0's rows land but the commit marker (written
        # LAST by the real ingest) never does
        extra = spark.createDataFrame(
            [(100, _rngtext(50))], "doc_id long, text string"
        )
        writer(extra, path, "doc_id", "text", mode="append", batch_id=0)
        os.remove(os.path.join(dedup._hwm_dir(path), "b0"))
        files_before = sorted(
            glob.glob(f"{path}/**/*.parquet", recursive=True)
        )
        with pytest.raises(ValueError, match="high-water mark"):
            compact(spark, path)
        assert sorted(
            glob.glob(f"{path}/**/*.parquet", recursive=True)
        ) == files_before
        # once the batch commits (marker lands), compaction proceeds
        dedup._mark_batch_committed(path, 0, "")
        stats = compact(spark, path)
        assert stats["hwm"] == 0 and stats["rows"] > 0


def test_compact_rerun_heals_mid_swap_crash(spark, tmp_path):
    """A crash inside the swap's rename window leaves the sidecar marker
    and no table; the next compaction run must self-heal through the
    shared recover_staged_swap protocol and then complete normally."""
    import json
    import shutil

    corpus = spark.createDataFrame(
        [(d, _rngtext(d)) for d in range(20)], "doc_id long, text string"
    )
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text",
                                n_sig_buckets=8)
    dedup.write_band_checkpoint(
        spark.createDataFrame([(100, _rngtext(60))],
                              "doc_id long, text string"),
        path, "doc_id", "text", mode="append", batch_id=0,
    )
    want = sorted(
        map(tuple, dedup.read_band_checkpoint(spark, path, "doc_id")
            .collect())
    )
    # simulate the worst crash point: table moved to backup, staged copy
    # not yet renamed in (exactly _swap_in's between-renames window)
    staged = path + ".compacting"
    backup = path + ".pre-compaction"
    shutil.move(path, staged)  # the staged copy IS a valid table here
    with open(path + ".swap-in-progress", "w") as fh:
        json.dump({"path": path, "staged": staged, "backup": backup}, fh)
    assert not os.path.exists(path)

    stats = dedup.compact_band_checkpoint(spark, path)  # heals, then runs
    assert not os.path.exists(path + ".swap-in-progress")
    got = sorted(
        map(tuple, dedup.read_band_checkpoint(spark, path, "doc_id")
            .collect())
    )
    assert got == want
    per_dir = _bucket_files(path, "band=*/sigb=*")
    assert per_dir and all(n == 1 for n in per_dir.values()), per_dir
    assert stats["hwm"] == 0  # markers carried through the healed swap


def test_streaming_ingest_with_compact_every_matches_plain(
    spark, tmp_path
):
    """r10: the streaming loops fold compaction into their maintenance
    cadence (``compact_every=N``, run AFTER the Nth batch's marker
    lands). A drain with compact_every=1 must admit exactly what the
    uncompacted drain admits, and leave every touched bucket at one
    file."""
    import time as _time

    T = {
        i: f"the quick brown fox number {i} jumps over the lazy dog "
           f"and then recites shingle {i} twice for minhash stability"
        for i in range(1, 6)
    }
    U1 = "an entirely fresh document about spark structured streaming"
    U2 = "another novel text concerning locality sensitive hashing bands"
    V1 = "a third unique body of text on incremental corpus ingestion"

    corpus = spark.createDataFrame(
        [(i, T[i]) for i in range(1, 6)], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(101, T[1]), (102, U1), (103, U2)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.2)
    spark.createDataFrame(
        [(201, U1), (202, T[2]), (203, V1)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)

    admitted = {}
    for variant, every in (("plain", 0), ("compacted", 1)):
        base = tmp_path / variant
        band_path, out = str(base / "bands"), str(base / "out")
        dedup.write_band_checkpoint(corpus, band_path, "doc_id", "text",
                                    n_sig_buckets=8)
        q = dedup.streaming_neardup_ingest(
            spark, src, "doc_id long, text string",
            band_path, out, str(base / "ckpt"), compact_every=every,
        ).start()
        assert q.awaitTermination(120), "stream drain timed out"
        admitted[variant] = sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        )
        if every:
            per_dir = _bucket_files(band_path, "band=*/sigb=*")
            assert per_dir and all(n == 1 for n in per_dir.values()), per_dir
            # the loop committed both batches before compacting each time
            assert dedup.ingest_high_water_mark(band_path) == 1
    assert admitted["compacted"] == admitted["plain"] == [102, 103, 203]


def test_streaming_chunk_ingest_with_compact_every_matches_plain(
    spark, tmp_path
):
    """Chunk-state form of the ``compact_every`` check: a
    ``streaming_chunk_dedup_ingest`` drain with compact_every=1 publishes
    exactly what the uncompacted drain publishes, and leaves every
    touched ``lhb`` bucket at one file."""
    import time as _time

    def block(tag: str) -> str:
        return " ".join(f"{tag}w{i}" for i in range(10))

    B = block("boiler")
    corpus = spark.createDataFrame(
        [(1, f"{B} {block('seed')}")], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(101, f"{B} {block('a')}"), (102, block("b"))],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.2)
    spark.createDataFrame(
        [(201, f"{block('a')} {block('c')}"), (202, B)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)

    published = {}
    for variant, every in (("plain", 0), ("compacted", 1)):
        base = tmp_path / variant
        chunk_path, out = str(base / "chunks"), str(base / "out")
        dedup.write_chunk_checkpoint(corpus, chunk_path, "doc_id", "text",
                                     n_buckets=8)
        q = dedup.streaming_chunk_dedup_ingest(
            spark, src, "doc_id long, text string",
            chunk_path, out, str(base / "ckpt"), compact_every=every,
        ).start()
        assert q.awaitTermination(120), "stream drain timed out"
        published[variant] = {
            r.doc_id: (r.clean_text, r.n_chunks, r.n_dropped)
            for r in spark.read.parquet(out).collect()
        }
        if every:
            per_dir = _bucket_files(chunk_path, "lhb=*")
            assert per_dir and all(n == 1 for n in per_dir.values()), per_dir
            assert dedup.ingest_high_water_mark(chunk_path) == 1
    assert published["compacted"] == published["plain"] == {
        101: (block("a"), 2, 1),
        102: (block("b"), 1, 0),
        201: (block("c"), 2, 1),
        202: ("", 1, 1),
    }


def test_marker_race_first_publisher_wins_whole(tmp_path, monkeypatch):
    """VERDICT r10 advisory (closed r11): two PROCESSES racing the same
    uncommitted batch id can never interleave marker content — each
    stages a uniquely-named tmp and os.link publishes whole, so the
    first publisher's fingerprint stands byte-complete and the loser's
    is discarded byte-complete. Simulate the worst interleaving: the
    racer publishes BETWEEN our stage write and our link."""
    import os

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    path = str(tmp_path / "state")
    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"]:
            state["raced"] = True
            # the racing process commits its own fingerprint first
            dedup._mark_batch_committed(path, 7, "racer:fp")
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", racing_link)
    dedup._mark_batch_committed(path, 7, "ours:fp")
    monkeypatch.undo()
    assert state["raced"]
    # first publisher's content stands, whole — never a mix, never ours
    assert dedup._committed_fingerprint(path, 7) == "racer:fp"
    # no stale stage files left behind by either writer
    hwm_dir = dedup._hwm_dir(path)
    assert [n for n in os.listdir(hwm_dir) if n.endswith(".tmp")] == []
    # replaying the loser again is a no-op (EEXIST short-circuit)
    dedup._mark_batch_committed(path, 7, "ours:fp")
    assert dedup._committed_fingerprint(path, 7) == "racer:fp"


def test_sidecar_params_memo_hits_and_invalidates(spark, tmp_path):
    """r15 optimization: ``read_band_params``/``read_chunk_params``
    memoize per (sidecar path, mtime) so the per-micro-batch param read
    in the ingest loops stops costing a Spark job. Pins the contract:

    1. an unchanged sidecar is answered from the memo (loader not
       re-invoked) and the memo hands out COPIES (caller mutation must
       not poison later reads);
    2. a re-seed (``mode='overwrite'``) rewrites the sidecar directory,
       which changes its mtime and MUST invalidate the entry — stale
       params here would mis-band every subsequent probe.
    """
    corpus = spark.createDataFrame(
        [(d, _rngtext(d)) for d in range(10)], "doc_id long, text string"
    )
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text",
                                num_hashes=12, band_rows=3, n_sig_buckets=4)
    first = dedup.read_band_params(spark, path)
    assert (first["num_hashes"], first["band_rows"],
            first["n_sig_buckets"]) == (12, 3, 4)

    # 1a. memo hit: loader must not run while the sidecar is unchanged
    sidecar = f"{path}/_band_params"
    loads = {"n": 0}

    def loader():
        loads["n"] += 1
        return {"marker": 1}

    assert dedup._memoized_sidecar(spark, sidecar, loader) == first
    assert loads["n"] == 0
    # 1b. copies out: mutating the answer must not change the memo
    got = dedup.read_band_params(spark, path)
    got["num_hashes"] = -99
    assert dedup.read_band_params(spark, path)["num_hashes"] == 12

    # 2. re-seed with different params -> mtime change -> fresh read
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text",
                                num_hashes=8, band_rows=2, n_sig_buckets=2,
                                mode="overwrite")
    second = dedup.read_band_params(spark, path)
    assert (second["num_hashes"], second["band_rows"],
            second["n_sig_buckets"]) == (8, 2, 2)

    # chunk twin: same memo, same invalidation rule
    cpath = str(tmp_path / "chunks")
    dedup.write_chunk_checkpoint(corpus, cpath, "doc_id", "text",
                                 chunk_words=5, n_buckets=4)
    assert dedup.read_chunk_params(spark, cpath) == {
        "chunk_words": 5, "n_buckets": 4,
    }
    csidecar = f"{cpath}/_chunk_params"
    assert dedup._memoized_sidecar(spark, csidecar, loader) == {
        "chunk_words": 5, "n_buckets": 4,
    }
    assert loads["n"] == 0
    dedup.write_chunk_checkpoint(corpus, cpath, "doc_id", "text",
                                 chunk_words=7, n_buckets=2,
                                 mode="overwrite")
    assert dedup.read_chunk_params(spark, cpath) == {
        "chunk_words": 7, "n_buckets": 2,
    }

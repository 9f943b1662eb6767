"""The filesystem seam under the snapshot/marker layer (io/fs.py,
VERDICT r14 #2).

Three pin groups: (1) LocalFS primitive semantics — especially
``put_if_absent``'s first-writer-wins/no-torn-read contract, which the
whole MVCC protocol rests on; (2) scheme dispatch — ``file:`` URIs in
any slash spelling resolve to the local impl, unregistered object-store
schemes fail LOUDLY at the seam instead of os.* silently creating a
literal ``s3:`` directory; (3) ``file:``-URI end-to-end — a snapshot
table and a dedup ingest checkpoint driven entirely through URI paths
(publish/read/time-travel/compact/DML/vacuum/change-feed and marker
write/read), proving the layer works when callers consistently pass
URIs rather than pre-stripped local paths.
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from pyspark_bigdata_sars_cov_2_analysis_spark.io import fs as FS
from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W


# ---------------------------------------------------------------------------
# LocalFS primitives
# ---------------------------------------------------------------------------


def test_put_if_absent_first_writer_wins(tmp_path):
    p = str(tmp_path / "d" / "v00000001.json")  # parent doesn't exist yet
    assert FS.LOCAL.put_if_absent(p, "first") is True
    assert FS.LOCAL.put_if_absent(p, "second") is False
    # the loser's content is discarded WHOLE — never merged, never
    # overwritten (the takeover hazard the marker protocol closes)
    assert FS.LOCAL.read_text(p) == "first"
    # no stale staging files survive either outcome
    assert FS.LOCAL.list_names(str(tmp_path / "d")) == ["v00000001.json"]


def test_put_if_absent_race_exactly_one_winner(tmp_path):
    p = str(tmp_path / "claim")
    results = {}
    barrier = threading.Barrier(8)

    def claim(i):
        barrier.wait()
        results[i] = FS.LOCAL.put_if_absent(p, f"writer-{i}")

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [i for i, won in results.items() if won]
    assert len(winners) == 1
    # the published content is exactly the winner's, complete
    assert FS.LOCAL.read_text(p) == f"writer-{winners[0]}"
    assert FS.LOCAL.list_names(str(tmp_path)) == ["claim"]


def test_localfs_read_list_remove_semantics(tmp_path):
    missing = str(tmp_path / "nope")
    # list of an absent prefix is EMPTY, not an error (empty-table read
    # path; object-store prefixes don't "exist")
    assert FS.LOCAL.list_names(missing) == []
    with pytest.raises(FileNotFoundError):
        FS.LOCAL.read_text(missing)
    # removes are idempotent-enough: already-gone is fine
    FS.LOCAL.remove(missing)
    FS.LOCAL.remove_tree(missing)
    FS.LOCAL.make_dirs(str(tmp_path / "a" / "b"))
    FS.LOCAL.make_dirs(str(tmp_path / "a" / "b"))  # exist_ok
    assert FS.LOCAL.is_dir(str(tmp_path / "a" / "b"))


def test_resolve_normalizes_file_uri_spellings(tmp_path):
    plain = str(tmp_path / "t")
    for spelling in (plain, f"file:{plain}", f"file://{plain}", f"file:///{plain.lstrip('/')}"):
        assert FS.LOCAL.resolve(spelling) == plain
    # RFC 3986 schemes are case-insensitive: dispatch lowercases, so
    # resolve must strip case-insensitively too or File:///x would
    # silently become the RELATIVE path 'File:/x' (review r15)
    assert FS.LOCAL.resolve(f"FILE:{plain}") == plain
    assert FS.LOCAL.resolve(f"File://{plain}") == plain
    # an authority component is honored for the local host only; any
    # other host is a REMOTE file system — refused, never misread as
    # the local path /host/...
    assert FS.LOCAL.resolve(f"file://localhost{plain}") == plain
    with pytest.raises(ValueError, match="non-local authority"):
        FS.LOCAL.resolve("file://nas01/exports/tbl")


def test_snapshotfs_interface_is_abstract():
    """A backend must implement every primitive: subclassing SnapshotFS
    and forgetting one is a loud TypeError at construction, never an
    inherited os.* call half-working against a URI string."""

    class Partial(FS.SnapshotFS):
        def resolve(self, path):
            return path

    with pytest.raises(TypeError):
        Partial()
    with pytest.raises(TypeError):
        FS.SnapshotFS()


# ---------------------------------------------------------------------------
# scheme dispatch
# ---------------------------------------------------------------------------


def test_for_path_dispatch():
    assert FS.for_path("/x/y") is FS.LOCAL
    assert FS.for_path("file:///x/y") is FS.LOCAL
    assert FS.for_path("relative/path") is FS.LOCAL
    # a lone drive-letter-ish prefix is not a URI scheme
    assert FS.for_path("c:whatever") is FS.LOCAL


def test_unregistered_scheme_fails_loudly_at_the_seam():
    with pytest.raises(NotImplementedError, match="put_if_absent"):
        FS.for_path("s3://bucket/table")
    # and therefore every snapshot entry point refuses an s3: path
    # instead of os.* quietly treating it as a relative local dir
    with pytest.raises(NotImplementedError, match="s3"):
        W.list_parquet_snapshots("s3://bucket/table")


def test_registry_extension_point(tmp_path):
    """An object-store backend plugs in via REGISTRY and the manifest
    layer lights up without touching writers.py — proven with a
    scheme-translating fake that maps mem://tbl onto a local dir."""
    root = str(tmp_path / "memstore")

    class MemFS(FS.LocalFS):
        @staticmethod
        def resolve(path: str) -> str:
            return os.path.normpath(root + "/" + path.removeprefix("mem://"))

    FS.REGISTRY["mem"] = MemFS()
    try:
        names = FS.for_path("mem://tbl").list_names(
            FS.for_path("mem://tbl").resolve("mem://tbl")
        )
        assert names == []
    finally:
        del FS.REGISTRY["mem"]


# ---------------------------------------------------------------------------
# file:-URI end-to-end through the snapshot layer
# ---------------------------------------------------------------------------


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_snapshot_table_end_to_end_with_file_uri(spark, tmp_path):
    uri = f"file://{tmp_path}/tbl"
    local = str(tmp_path / "tbl")

    # publish (overwrite, then append) through the URI
    v1 = W.write_parquet_snapshot(_df(spark, 0, 10), uri)
    v2 = W.write_parquet_snapshot(_df(spark, 10, 15), uri, mode="append")
    assert (v1, v2) == (1, 2)

    # read latest + time travel through the URI
    assert W.read_parquet_snapshot(spark, uri).count() == 15
    assert W.read_parquet_snapshot(spark, uri, version=1).count() == 10

    # the manifests landed where a plain-path caller would look, and
    # vice versa: URI and plain spellings address ONE table
    assert [s["version"] for s in W.list_parquet_snapshots(local)] == [1, 2]
    assert W.read_parquet_snapshot(spark, local).count() == 15

    # compact through the URI
    res = W.compact_parquet_snapshot(spark, uri, target_files=1)
    assert res["compacted"] and res["version"] == 3

    # DML delete through the URI
    d = W.delete_from_snapshot(spark, uri, "id <= 4")
    assert d["deleted"] == 5
    assert W.read_parquet_snapshot(spark, uri).count() == 10

    # change feed through the URI
    changes = W.snapshot_changes(spark, uri, 3, 4)
    assert {r["_change_type"] for r in changes.collect()} == {"delete"}

    # vacuum through the URI: old versions drop, the live version stays
    rep = W.vacuum_parquet_snapshots(uri, keep=1, orphan_grace_sec=0)
    assert rep["dropped_versions"] == [1, 2, 3]
    assert W.read_parquet_snapshot(spark, uri).count() == 10
    assert [s["version"] for s in W.list_parquet_snapshots(uri)] == [4]
    # and the dropped versions' bytes are actually reclaimed
    data_dirs = os.listdir(os.path.join(local, "data"))
    live = {
        os.path.basename(os.path.dirname(W._local_path(f)))
        for s in W.list_parquet_snapshots(uri)
        for f in s["files"]
    }
    assert set(data_dirs) == live


def test_ingest_markers_end_to_end_with_file_uri(tmp_path):
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup as D

    uri = f"file://{tmp_path}/ckpt"
    local = str(tmp_path / "ckpt")
    assert D.ingest_high_water_mark(uri) == -1
    D._mark_batch_committed(uri, 0, "3:12345")
    D._mark_batch_committed(uri, 1, "2:777")
    # a replay's duplicate marker is a no-op and never rewrites content
    D._mark_batch_committed(uri, 1, "999:999")
    assert D.ingest_high_water_mark(uri) == 1
    assert D._committed_fingerprint(uri, 1) == "2:777"
    # URI and plain spellings address ONE marker set
    assert D.ingest_high_water_mark(local) == 1
    assert D._committed_fingerprint(local, 0) == "3:12345"
    assert sorted(os.listdir(os.path.join(local, "_ingest_hwm"))) == [
        "b0", "b1",
    ]


def test_checkpoint_rewrites_with_file_uri(spark, tmp_path):
    """Compaction and stamp migration accept the same ``file:`` URI
    spelling as the checkpoint writers, the ingest and the hwm reader:
    the staged swap runs on the resolved local path, keeps rows, stamps
    and markers, and leaves no staging or backup directory behind."""
    from pyspark.sql import functions as F

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup as D

    corpus = spark.createDataFrame(
        [(d, f"some shingled text body number {d} for banding")
         for d in range(6)],
        "doc_id long, text string",
    )
    more = corpus.withColumn("doc_id", F.col("doc_id") + 100)
    families = (
        ("bands", D.write_band_checkpoint, D.read_band_checkpoint,
         D.compact_band_checkpoint, D.migrate_band_checkpoint_stamps),
        ("chunks", D.write_chunk_checkpoint, D.read_chunk_checkpoint,
         D.compact_chunk_checkpoint, D.migrate_chunk_checkpoint_stamps),
    )
    for name, write, read, compact, migrate in families:
        uri = f"file://{tmp_path}/{name}"
        local = str(tmp_path / name)
        write(corpus, uri, "doc_id", "text")
        write(more, uri, "doc_id", "text", mode="append", batch_id=0)
        want = sorted(map(tuple, read(spark, uri, "doc_id").collect()))

        stats = compact(spark, uri)
        assert stats["rows"] == len(want) and stats["hwm"] == 0
        res = migrate(spark, uri)
        assert res["rows"] == len(want) and res["had_stamp_col"] is True

        # URI and plain spellings address ONE checkpoint
        assert sorted(map(tuple, read(spark, local, "doc_id").collect())) \
            == want
        assert D.ingest_high_water_mark(uri) == 0
        assert [p for p in os.listdir(tmp_path)
                if p.startswith(f"{name}.")] == []


@pytest.mark.parametrize(
    "op", ["audit", "compact", "merge", "sized", "recover"]
)
def test_path_table_ops_accept_file_uri(spark, tmp_path, op):
    """The staged-swap path-table ops resolve a ``file:`` URI at entry,
    like the snapshot and checkpoint ops: each gives the plain-path
    answer and leaves no staging, backup or marker beside the table."""
    import shutil

    local = str(tmp_path / "tbl")
    uri = f"file://{local}"
    df = spark.range(0, 50, numPartitions=5).selectExpr("id", "id * 2 AS v")
    df.write.parquet(local)
    left = ["tbl"]
    if op == "audit":
        assert W.audit_parquet_layout(uri)["n_files"] == 5
        assert W.audit_parquet_layout(uri) == W.audit_parquet_layout(local)
    elif op == "compact":
        assert W.compact_parquet(spark, uri, 1) == 50
        assert W.audit_parquet_layout(local)["n_files"] == 1
    elif op == "merge":
        updates = spark.createDataFrame([(1, 777), (99, 1)], "id long, v long")
        res = W.merge_upsert_parquet(spark, uri, updates, ["id"])
        assert res == {"updated": 1, "inserted": 1, "rows": 51}
        got = {r.id: r.v for r in spark.read.parquet(local).collect()}
        assert got[1] == 777 and got[99] == 1 and len(got) == 51
    elif op == "sized":
        big = spark.range(1000)
        want = W.write_parquet_sized(
            big, str(tmp_path / "plain"), target_file_mb=1
        )
        got = W.write_parquet_sized(
            big, f"file://{tmp_path}/sized", target_file_mb=1
        )
        assert got == want < 1024 * 1024  # the probe measured real bytes
        assert spark.read.parquet(str(tmp_path / "sized")).count() == 1000
        left = ["plain", "sized", "tbl"]
    else:
        # a crash between the swap's two renames: the table sits in the
        # backup and the verified staged output is complete
        staged, backup = local + "_compacting", local + "_precompact"
        shutil.copytree(local, staged)
        os.rename(local, backup)
        with open(local + ".swap-in-progress", "w") as fh:
            json.dump({"path": local, "staged": staged, "backup": backup}, fh)
        assert W.recover_staged_swap(uri) == {"action": "rolled_forward"}
        assert spark.read.parquet(local).count() == 50
    assert sorted(os.listdir(tmp_path)) == left


def test_manifest_is_json_complete_after_claim(spark, tmp_path):
    """put_if_absent publishes complete content: every listed manifest
    parses as JSON with the protocol's required keys (the no-torn-read
    invariant, asserted at the JSON layer)."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), path)
    W.write_parquet_snapshot(_df(spark, 5, 8), path, mode="append")
    d = os.path.join(path, "_snapshots")
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n)) as fh:
            m = json.load(fh)
        assert {"version", "files", "rows", "mode"} <= set(m)


_RACER = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark_bigdata_sars_cov_2_analysis_spark.io import fs as FS

d = {d!r}
me = int(sys.argv[1])
claimed = []
# optimistic-publish loop, exactly the writers' shape: read the latest
# version, try to claim the next name, lost race -> recompute
for _ in range(200):
    names = FS.LOCAL.list_names(d)
    versions = sorted(
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    )
    nxt = (versions[-1] + 1) if versions else 1
    if nxt > {k}:
        break
    payload = json.dumps({{"version": nxt, "writer": me, "pad": "x" * 2000}})
    if FS.LOCAL.put_if_absent(os.path.join(d, f"v{{nxt:08d}}.json"), payload):
        claimed.append(nxt)
print("CLAIMED:" + json.dumps(claimed))
"""


def test_put_if_absent_cross_process_race(tmp_path):
    """The cluster story: N independent PROCESSES (not threads) race
    the optimistic-publish loop over one directory. Exactly-once claim
    per version, every manifest complete and attributable to exactly
    the process that claimed it, zero stray staging files."""
    import subprocess
    import sys

    d = str(tmp_path / "_snapshots")
    K = 24
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _RACER.format(repo=repo, d=d, k=K)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(i)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for i in range(6)
    ]
    claims: dict[int, int] = {}
    for i, p in enumerate(procs):
        out, _ = p.communicate(timeout=120)
        assert p.returncode == 0, out
        line = [l for l in out.splitlines() if l.startswith("CLAIMED:")][-1]
        for v in json.loads(line[len("CLAIMED:"):]):
            assert v not in claims, (
                f"version {v} claimed by BOTH process {claims[v]} and {i}"
            )
            claims[v] = i
    # every version claimed exactly once, by somebody
    assert sorted(claims) == list(range(1, K + 1))
    # the surviving content is complete and matches the claimant
    names = sorted(os.listdir(d))
    assert names == [f"v{v:08d}.json" for v in range(1, K + 1)], names
    for v, owner in claims.items():
        with open(os.path.join(d, f"v{v:08d}.json")) as fh:
            m = json.load(fh)  # complete JSON — no torn manifest
        assert m["version"] == v and m["writer"] == owner

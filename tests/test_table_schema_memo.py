"""``plans.registry.table`` memoizes the inferred parquet schema per file
version: a repeat read of an unchanged file launches no footer-inference
job, a rewritten file is inferred again, and the events ``ts`` rebuild
reads the same values from a memoized schema as from a fresh one."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job ids reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_table_call_launches_no_inference_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
                   tmp_path / "t.parquet")
    first, jobs = _jobs_in_group(
        spark, "memo-miss", lambda: table(spark, str(tmp_path), "t"))
    assert jobs, "the first read infers the schema with a Spark job"
    second, jobs = _jobs_in_group(
        spark, "memo-hit", lambda: table(spark, str(tmp_path), "t"))
    assert jobs == [], f"memo hit launched jobs {jobs}"
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert table(spark, str(tmp_path), "t").columns == ["k"]
    old = os.stat(path)
    pq.write_table(pa.table({"k": [1, 2], "extra": [10, 20]}), path)
    os.utime(path, (old.st_atime, old.st_mtime + 5))
    df = table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(1, 10), (2, 20)]
    # same mtime as the memoized version, different size: still re-inferred
    pq.write_table(pa.table({"k": [1, 2]}), path)
    os.utime(path, (old.st_atime, old.st_mtime + 5))
    assert table(spark, str(tmp_path), "t").columns == ["k"]


def test_nanos_events_ts_truncates_to_micros_on_memo_hit(spark, tmp_path):
    """No committed table stores ``ts`` as TIMESTAMP(NANOS); this file
    does, so the nanos-as-long → ``ts DIV 1000`` branch runs on both the
    inferring call and the memo-hit call."""
    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999,
          1_000_999, -1_000_001]
    pq.write_table(
        pa.table({"ts": pa.array(ns, pa.timestamp("ns")),
                  "event_id": list(range(len(ns)))}),
        tmp_path / "events.parquet", version="2.6",
    )
    assert pq.ParquetFile(tmp_path / "events.parquet").schema_arrow.field(
        "ts").type == pa.timestamp("ns")
    # SQL DIV truncates toward zero
    want = [(i, v // 1000 if v >= 0 else -(-v // 1000)) for i, v in enumerate(ns)]
    for _call in ("infer", "memo"):
        ev = table(spark, str(tmp_path), "events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        got = sorted(ev.select("event_id", F.unix_micros("ts")).collect())
        assert [tuple(r) for r in got] == want

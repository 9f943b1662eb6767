"""Record the reference results the benchmark checks every run against.

For each registry item of the query workloads, on each committed table set
(``data/sf0.01`` and ``data/sf0.001``), this runs the query in Spark,
verifies it against its DuckDB oracle with the repository's own harness
(``tests/oracle_harness.compare``), and only then records the row count and
digest in ``expected.json``. Run it from a full checkout after a change that
legitimately alters a result or the tables:

    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    work = os.path.join(run.WORK, "record")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (run.ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = os.path.join(work, "tmp")
    sys.path.insert(0, run.ROOT)

    from pyspark_bigdata_sars_cov_2_analysis_spark import plans, start_session
    from tests.oracle_harness import compare

    spark = start_session("perfbench-record", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    path = os.path.join(HERE, "expected.json")
    expected: dict[str, dict] = {}
    items = sorted({i for w in workloads.WORKLOADS.values() for i in w.items
                    if i not in workloads.JOB_OUTPUTS})
    bad = 0
    for dataset in sorted(run.SCALES.values()):
        data = os.path.join(run.DATA, dataset)
        rec = expected.setdefault(dataset, {})
        for item in items:
            name = workloads.registry_name(plans, item)
            fn = plans.QUERIES[name]
            try:
                compare(spark, name, fn, plans.ORACLES[name], data)
                df = fn(spark, data)
                rows = [tuple(r) for r in df.collect()]
                rec[item] = {"rows": len(rows),
                             "digest": workloads.digest(list(df.columns), rows)}
                print(f"{dataset} {item}: ok rows={len(rows)}", flush=True)
            except Exception as e:
                bad += 1
                print(f"{dataset} {item}: NOT RECORDED {type(e).__name__}: "
                      f"{str(e)[:400]}", flush=True)
            spark.catalog.clearCache()
            plans.registry.release_plan_caches()
    spark.stop()
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

"""Registry wiring query implementations to their DuckDB oracle SQL.

Contract (driver, see ``__spark_entry__.py``): every registered query is a
callable ``(spark, sf_dir) -> DataFrame``; ``oracle`` is equivalent ANSI SQL
DuckDB runs against the same parquet files (views pre-registered with the
table names). Column names must match exactly — the driver sorts columns by
name and hash-compares values.

Conventions that make the hashes match (SURVEY.md §7.3 "hard parts"):
- timestamps/dates are returned as ``yyyy-MM-dd[ HH:mm:ss]`` strings;
- floating aggregates are ``round``-ed (2-6 dp depending on magnitude);
- integer-ish computed columns are cast to BIGINT on both sides;
- every ``limit`` is preceded by a total order with a unique tiebreaker.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import (  # noqa: F401
    pround,
    pyround,
    sql_round,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.io import fs as _fs

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` → driver does a rows-only check
    (reserved for genuinely non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Caller-owned lifetime for the plan-level caches (ADVICE r9 / VERDICT
# r10 #5b): several queries cache small text-free frames that MULTIPLE
# consumers read (the curation score frame, o11's tokenized mixture
# frame, d24's signature frame, s05's embeddings) — correct for the
# bench/attestation harnesses, which clearCache() between runs, but a
# resident service embedding these plans needs a narrower release than
# nuking the whole session cache. Every such cache registers here;
# ``release_plan_caches()`` unpersists exactly them and nothing else.
#
# Concurrency contract (ADVICE r11): the list is guarded by a lock so
# concurrent requests can't corrupt it, but release is still
# WHOLE-REGISTRY — a release issued while another request is mid-action
# unpersists that request's caches too (harmless for correctness, the
# frames re-materialize lazily, but it wastes their work). A resident
# service should therefore serialize release points: call
# release_plan_caches() only at request boundaries when no other plan
# is executing (the "never mid-action" note in SKILL.md).
import threading as _threading

_TRACKED_CACHES: list[DataFrame] = []
_TRACKED_LOCK = _threading.Lock()


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + registration for :func:`release_plan_caches`."""
    df.cache()
    with _TRACKED_LOCK:
        _TRACKED_CACHES.append(df)
    return df


def release_plan_caches() -> int:
    """Unpersist every frame the plan layer cached via
    :func:`tracked_cache`; returns how many were released. Safe to call
    at any time — consumers re-materialize lazily if re-run. See the
    concurrency contract above: call at request boundaries, never while
    another request's plan is mid-action."""
    with _TRACKED_LOCK:
        drained = list(_TRACKED_CACHES)
        _TRACKED_CACHES.clear()
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing left to pin
    return n


# Inferred parquet schemas, keyed by resolved absolute path, each held
# with the (mtime, size) stamp it was inferred at. Catalog metadata
# only, never data: every action still scans the file. A missed stamp
# re-infers, so a file rewritten in place is read under its new schema.
_SCHEMA_MEMO: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``spark.read.parquet(path)`` and its schema. Spark infers a
    schema by running a one-task job over the footer; for a regular
    file whose stamp matches the memo, the read takes the memoized
    schema instead and launches no job. Directories (whose mtime does
    not change when a part file is rewritten in place) and paths the
    filesystem seam cannot stat are inferred every call, as before."""
    try:
        fs = _fs.for_path(path)
        key = fs.absolute(fs.resolve(path))
        stamp = None if fs.is_dir(key) else (fs.mtime(key), fs.size(key))
    except (OSError, ValueError, NotImplementedError):
        key = stamp = None
    hit = _SCHEMA_MEMO.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    schema = df.schema
    if stamp is not None:
        _SCHEMA_MEMO[key] = (stamp, schema)
    return df, schema


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (TESTDATA.md).

    The generated ``events.parquet`` stores ``ts`` as TIMESTAMP(MICROS)
    (pyarrow reads it as ``timestamp[us]`` at every scale) and lands as
    a plain TIMESTAMP. An ``events.parquet`` written with TIMESTAMP(NANOS),
    which Spark's vectorized reader rejects, lands under
    ``spark.sql.legacy.parquet.nanosAsLong`` as a bigint of nanos, and
    the timestamp is rebuilt by integer ``DIV`` to micros — the same
    truncation DuckDB applies reading ns into its µs-precision
    TIMESTAMP, so both engines see identical values.

    The schema is inferred once per file version (``_read_parquet``);
    the conf pins below are set on every call, before any inference.

    The session timezone is pinned to UTC here (not only in
    ``start_session``) so that under the driver's vanilla SparkSession
    date_format/window/year over timestamps match DuckDB's naive reads
    regardless of the host TZ.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Spark 4 defaults spark.sql.parquet.inferTimestampNTZ.enabled=true, so a
    # parquet timestamp[us] without tz lands as TIMESTAMP_NTZ — which
    # unix_micros()/window() callers reject. With the session tz pinned UTC
    # the instant interpretation is identical either way (and matches
    # DuckDB's naive read), so pin inference off for a plain TIMESTAMP.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df, schema = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and "ts" in schema.fieldNames():
        ts_type = schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer DIV, not double division — nanos ~1.7e18 exceed
            # double's 53-bit exact range, so float division drifts by
            # microseconds
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # belt-and-braces: if the conf pin above didn't take (e.g. a
            # reader cached before this call), the cast under the UTC pin is
            # value-preserving
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

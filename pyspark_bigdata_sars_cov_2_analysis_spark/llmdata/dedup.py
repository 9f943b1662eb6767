"""Deduplication operators for training-data pipelines (LLM-data surface).

Four text families (embedding near-dup lives in :mod:`.similarity`), all
DataFrame compositions (no Python UDFs, no driver collects) sized for
100 TB:

- exact: md5-fingerprint groupBy — the shuffle key is a 16-byte hash, never
  the document text itself;
- MinHash + LSH: shingle → per-seed min-hash → band → bucket-grouped
  row-local pair expansion; the only quadratic work happens inside a
  bucket, and the signature pipeline executes once (no self-join);
- SimHash: per-token 32-bit hashes, bit-majority vote → one signature per
  doc; near-dup pairs via byte-band candidates + exact
  ``bit_count(xor)`` Hamming verify;
- n-gram Jaccard: exact set similarity over pairs sharing ≥1 shingle
  (inverted-index join), with a lossless AllPairs prefix-filtered variant
  for corpora whose hottest shingles make the naive join quadratic.

Plus the two dedup-adjacent corpus-hygiene ops: benchmark decontamination
(``contamination_hits`` — train×eval shingle collision, fan-out-free) and
quality-argmax dup resolution (``dedup_keep_best``), and the keyed-state
checkpoint the two incremental families (MinHash bands, first-occurrence
chunk hashes) persist between ingest batches — one write / read /
rewrite / per-batch ingest / streaming implementation for both (see the
"Keyed-state checkpoints" section).

Hashing is md5-based everywhere — deterministic, seed-stable, and
reproducible in any engine (this is what the DuckDB oracles rely on).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_bigdata_sars_cov_2_analysis_spark.functions.compat import pround
from pyspark_bigdata_sars_cov_2_analysis_spark.functions.localrel import (
    local_frame,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.io import fs as _fs
from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as _writers
from pyspark_bigdata_sars_cov_2_analysis_spark.operators.relational import spread_compute


def _normalize(col: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: one row per distinct normalized text with the
    canonical (minimum) id and the group size. Groups on the md5 of the
    text so the shuffle moves 32-byte keys, not documents."""
    fp = F.md5(_normalize(F.col(text_col))).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_array(col: Column, k: int = 3) -> Column:
    """Word k-shingles of a text column as a per-row array (row-local; no
    explode). Documents shorter than k tokens yield an empty array.

    The token array is BOUND ONCE per row by making it the argument of a
    single-element ``transform`` and building the shingles inside the
    lambda from the lambda VARIABLE (optimization r15, guide §1.2 "per-
    task work"). A higher-order function evaluates its argument once per
    row but re-evaluates free subexpressions in the lambda body on
    EVERY element — the previous form had ``toks`` (regexp normalize +
    split over the full text) free inside the per-shingle lambda, so a
    300-token document re-ran the regexp ~300 times. Interpreted HOFs
    get no codegen subexpression elimination, and CollapseProject can't
    help inside one Column. MEASURED on the sf0.1 corpus (noop sink,
    explode of the array): k=2 4.56s -> 0.53s, k=3 4.94s -> 0.51s (~9x);
    result arrays verified identical at k=2/3/5 including null/short
    texts."""
    toks = F.split(_normalize(col), " ")

    def shingles(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(t) - (k - 1))
        sh = F.transform(idx, lambda i: F.array_join(F.slice(t, i, k), " "))
        # sequence(1, n<1) counts DOWN, so guard short documents explicitly
        return F.when(F.size(t) >= k, sh).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(toks), shingles), 1)


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """Word k-shingles per document → (id, shingle) exploded. Documents
    shorter than k tokens produce no rows. The scan is spread to full
    parallelism first — shingling is the CPU-heavy step.

    ``distinct=False`` skips array_distinct, which is interpreted and
    O(n²) per array — MEASURED as ~4× the cost of the whole MinHash
    pipeline at 50k docs. Set-semantics consumers (Jaccard counts) need
    it; idempotent-aggregate consumers (min-hash) must not pay for it."""
    sh = shingle_array(F.col(text_col), k)
    if distinct:
        sh = F.array_distinct(sh)
    # hash-spread on the doc id (not round-robin): skips the
    # sort-before-repartition of the text rows and lets the MinHash
    # signature aggregate's groupBy(id) reuse this exchange outright
    # (spread_compute key rationale; plan-verified: the signature
    # pipeline's id Exchange disappears)
    return spread_compute(df, key=id_col).select(
        F.col(id_col), F.explode(sh).alias("shingle")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """One row per document with columns ``mh_0..mh_{n-1}`` — the MinHash
    signature as ``num_hashes`` bigints.

    Hash family: seed ``j`` is the 8-hex-char chunk ``j % 4`` of
    ``md5(shingle || '#' || (j // 4))`` parsed as an unsigned 32-bit int,
    so 12 seeds cost only 3 md5 evaluations per shingle; fixed-width hex
    parses order-preservingly, and every engine agrees on integer min.
    Documents shorter than ``k`` tokens drop out.

    Scale shape: explode → aggregate, not per-row array transforms —
    Aggregate is a pipeline breaker, so shingling runs exactly once per
    document and each md5 exactly once per shingle (higher-order array
    functions are interpreted, and projection collapse would re-evaluate
    the chain once per signature column). The min buffers are primitive
    longs, so the agg plans as HashAggregate with map-side partials
    reducing each partition to one row per doc before the only shuffle."""
    if num_hashes % 4:
        raise ValueError("num_hashes must be a multiple of 4")
    groups = num_hashes // 4
    # min() is duplicate-insensitive — skip the O(n²) array_distinct
    sh = word_shingles(df, id_col, text_col, k, distinct=False)
    hashed = sh.select(
        F.col(id_col),
        *[
            F.md5(F.concat_ws("#", "shingle", F.lit(str(g)))).alias(f"hg_{g}")
            for g in range(groups)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[
            F.min(
                F.conv(
                    F.substring(F.col(f"hg_{j // 4}"), 8 * (j % 4) + 1, 8), 16, 10
                ).cast("bigint")
            ).alias(f"mh_{j}")
            for j in range(num_hashes)
        ]
    )


# Persisted band_sig encoding version (optimization r16, VERDICT r15 #8):
# 'bin32-v2' = each min-hash (u32 by the in-repo hash family) as its
# 4-byte big-endian image, concatenated (fixed-width ⇒ injective). Pre-r16 checkpoints
# ('csv-v1', comma-joined decimals — stamped implicitly when the sidecar
# lacks the field) are refused with a re-seed instruction by
# _validate_band_params: signatures from the two encodings can never
# band-match, in either direction.
_SIG_ENCODING = "bin32-v2"


def lsh_bands(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 12,
    band_rows: int = 3,
) -> DataFrame:
    """(id, band, band_sig): concatenate each ``band_rows`` consecutive
    min-hashes into a band signature and unpivot — ``num_hashes/band_rows``
    small rows per document are all that ever reaches a shuffle. When
    ``band_rows`` does not divide ``num_hashes`` the trailing
    ``num_hashes % band_rows`` hashes form a narrower remainder band
    (review r14, the simhash_band_layout rule applied here): without it
    those hashes were computed and paid for in the signature aggregate
    but belonged to no band — pairs agreeing only there were never
    candidates, a silent recall loss.

    ``band_sig`` encoding (optimization r16, VERDICT r15 #8 / guide
    §2.3 "narrower types"): fixed-width BINARY — each min-hash as its
    4-byte big-endian image, concatenated — instead of the comma-joined
    decimal string (~27 B measured for 3 hashes at sf0.1). 12 B per sig
    through the hottest dedup shuffle key (groupBy(band, band_sig) in
    every LSH family member) and through the persisted band-checkpoint
    state. 4 bytes suffice BY CONSTRUCTION of the in-repo hash family:
    :func:`minhash_signatures` parses 8 hex chars, so every mh value is
    an unsigned 32-bit int — that precondition is part of this
    function's contract (it already shares the family's seed layout),
    and a value outside [0, 2^32) raises instead of being truncated.
    The encoding is INJECTIVE (fixed width ⇒ concatenation decodes
    uniquely), so sig equality ≡ min-hash tuple equality — unlike the
    8-byte lossy hash considered and REJECTED in OPTIMIZATION_r16.md: a
    hash collision would merge two different buckets and alter
    candidate pairs at scale, a silent semantics change no test scale
    would catch. Sig comparisons only ever happen within one band, so
    the remainder band's narrower width is immaterial. Persisted
    checkpoints record the encoding in their parameter sidecar
    (``sig_encoding``) and refuse a mismatched reuse — see
    write_band_checkpoint."""
    n_bands = num_hashes // band_rows
    slices = [
        range(b * band_rows, (b + 1) * band_rows) for b in range(n_bands)
    ]
    if num_hashes % band_rows:
        slices.append(range(n_bands * band_rows, num_hashes))

    def _be4(name: str) -> Column:
        # u32 bigint -> 4-byte big-endian binary: hex() of a value in
        # [0, 2^32) is at most 8 chars, lpad+unhex fixes the width.
        # lpad TRUNCATES a longer hex string, so an out-of-range value
        # would silently collide with an in-range one — it raises
        # instead. All of it runs inside whole-stage codegen.
        c = F.col(name)
        msg = F.concat(F.lit(f"lsh_bands: {name} outside [0, 2^32): "), c.cast("string"))
        checked = F.when((c < 0) | (c > 0xFFFFFFFF), F.raise_error(msg)).otherwise(c)
        return F.unhex(F.lpad(F.hex(checked), 8, "0"))

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(*[_be4(f"mh_{j}") for j in sl]).alias("band_sig"),
            )
            for b, sl in enumerate(slices)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(bands).alias("bs")
    ).select(F.col(id_col), F.col("bs.band"), F.col("bs.band_sig"))


def _doc_bands(
    df: DataFrame, id_col: str, text_col: str, k: int, num_hashes: int,
    band_rows: int,
) -> DataFrame:
    """(id, band, band_sig) of raw documents: signatures, then bands."""
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes)
    return lsh_bands(sig, id_col, num_hashes, band_rows)


def lsh_candidate_pairs(
    banded: DataFrame, id_col: str
) -> DataFrame:
    """Distinct candidate pairs (a < b) of docs sharing a
    (band, band_signature) bucket.

    Shape: groupBy bucket → sorted id list → row-local combination
    expansion — NOT a self-join, which would execute the whole upstream
    signature pipeline twice (once per join side) and is quadratic in the
    bucket via the join anyway. One shuffle on the bucket key; the
    collect_list state is bounded by bucket size (near-dup group), the
    same bound the join shape has."""
    buckets = (
        banded.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
) -> DataFrame:
    """Full MinHash+LSH near-dup candidate pipeline (signature → bands →
    bucket self-join; one shuffle end-to-end)."""
    banded = _doc_bands(df, id_col, text_col, k, num_hashes, band_rows)
    return lsh_candidate_pairs(banded, id_col)


# ---------------------------------------------------------------------------
# Keyed-state checkpoints
# ---------------------------------------------------------------------------
#
# Both incremental dedup families — MinHash bands (d11/d20) and
# first-occurrence chunk hashes (d14/d19) — persist their between-batches
# state through ONE implementation, parameterised by a ``_StateLayout``:
#
# - batch-id stamps: every state row carries ``src_batch``, the id of the
#   micro-batch that wrote it (-1 = seed corpus), so an ingest replay
#   excludes exactly its own (possibly torn) prior append;
# - commit markers: each committed batch drops a first-writer-wins marker
#   holding its content fingerprint under ``_ingest_hwm``; ids below the
#   high-water mark are refused and an ``== hwm`` arrival must carry the
#   committed content;
# - a parameter sidecar pins what state rows are only comparable under;
#   appends validate it and never re-stamp it;
# - a hash-bucket partition grid ``<grid> = pmod(xxhash64(<key>), n)``
#   lets each batch probe only the state buckets it hashes into;
# - a count-verified staged swap rewrites the state (compaction, stamp
#   migration) with the sidecar and markers carried through.


def _hwm_dir(path: str) -> str:
    """Directory holding the checkpoint's committed-batch markers
    (underscore-prefixed: hidden from parquet partition discovery, like
    the parameter sidecars). Resolved through the filesystem seam
    (``io/fs.py``) so marker I/O follows the table onto whatever store
    the checkpoint lives on."""
    f = _fs.for_path(path)
    return f.join(f.resolve(path), "_ingest_hwm")


def ingest_high_water_mark(path: str) -> int:
    """Highest batch id ever COMMITTED into the checkpoint at ``path``
    (-1 = none yet / pre-hwm checkpoint). Read from append-only marker
    files — one tiny file per committed batch, published first-writer-
    wins through the filesystem seam (an object-store deployment swaps
    the local create for a conditional put). Listing cost is one readdir
    over filenames; there is no torn-delete window because nothing is
    ever rewritten."""
    names = _fs.for_path(path).list_names(_hwm_dir(path))
    ids = [int(n[1:]) for n in names if n.startswith("b") and n[1:].isdigit()]
    return max(ids, default=-1)


def _batch_fingerprint(batch_df: DataFrame, id_col: str, text_col: str) -> str:
    """Order- and partitioning-independent fingerprint of a batch's
    CONTENT (``count:sum-of-bounded-(id,text)-hashes``) — cheap enough
    for one tiny agg per micro-batch, discriminating enough to tell
    "the same batch replayed" from "a DIFFERENT batch reusing the same
    ids". The hash covers id AND text: ids alone miss the common restart
    shape where a new incarnation's sequential id assignment reproduces
    the exact id range with different documents. The per-row hash is
    bounded below 2^30 so the sum stays far from bigint overflow (ANSI
    would throw) at any plausible batch size. Changing this definition
    invalidates ``== hwm`` replay verification across the code-version
    boundary — upgrade at a clean boundary (no crashed in-flight batch),
    the stamp-migration rule."""
    row = batch_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.pmod(
                F.xxhash64(F.col(id_col), F.col(text_col)),
                F.lit(1_000_000_007),
            )
        ).alias("h"),
    ).collect()[0]
    return f"{int(row['n'])}:{int(row['h'] or 0)}"


def _mark_batch_committed(
    path: str, batch_id: int, fingerprint: str = ""
) -> None:
    """Record ``batch_id`` as committed into the checkpoint at ``path``.
    Idempotent (a replay's duplicate marker is a no-op, and a legitimate
    replay carries the identical fingerprint anyway); written only AFTER
    the batch's output and state appends both succeeded, so a crash
    mid-batch leaves the mark absent and the replay passes the
    high-water-mark guard as ``batch_id == hwm + 1`` (or ``== hwm`` when
    the marker landed but the stream checkpoint commit did not —
    at-least-once replay, which the stamp-scoped exclusion makes
    idempotent). The marker FILE CONTENT is the committed batch's
    content fingerprint, published through the filesystem seam's
    first-writer-wins ``put_if_absent`` (``io/fs.py``): the FIRST
    publisher wins and a later racer's content is discarded WHOLE —
    never interleaved, never overwritten. A crash can leave a stale
    unique ``.tmp``, never a truncated marker, so an existing marker's
    content is trustworthy (empty = legacy pre-fingerprint marker, which
    the guard treats as unverifiable and allows); stale tmps are ignored
    by the hwm reader and dropped by the state rewrite's marker copy.
    Concurrency contract: at most one LOGICAL writer per state path (the
    streaming engine serializes micro-batches); the claim protocol only
    makes a rogue second process fail-safe."""
    f = _fs.for_path(path)
    final = f.join(_hwm_dir(path), f"b{int(batch_id)}")
    if not f.exists(final):
        # False = a racer committed first: its content stands, ours drops
        f.put_if_absent(final, fingerprint)


def _committed_fingerprint(path: str, batch_id: int) -> str | None:
    """Content of batch ``batch_id``'s commit marker (None = no marker,
    "" = legacy empty marker)."""
    f = _fs.for_path(path)
    try:
        return f.read_text(f.join(_hwm_dir(path), f"b{int(batch_id)}")).strip()
    except FileNotFoundError:
        return None


def _guard_batch_id_monotonic(
    path: str, batch_id: int, what: str, fingerprint: str | None = None
) -> None:
    """Raise when ``batch_id`` has fallen BELOW the checkpoint's
    committed high-water mark — the batch-id-collision hazard of the
    stamp-scoped replay exclusion. ``foreachBatch`` epoch ids restart at
    0 whenever the STREAMING checkpoint is deleted or relocated (or a
    second pipeline targets the same state path), and a colliding id
    would (a) exclude a PRIOR incarnation's legitimately committed
    same-id state rows from the corpus side — silently re-admitting
    their duplicates — and (b) clobber that incarnation's same-id output
    partition via the dynamic overwrite. ``batch_id == hwm`` is allowed
    ONLY as the legitimate replay-after-crash of the newest batch, and
    that claim is VERIFIED: an ``== hwm`` arrival whose content
    fingerprint differs from the marker's is a restarted incarnation
    whose first epoch collides with the newest committed batch (the
    hwm==0 blind spot of a strictly-below check) and is refused. Legacy
    empty markers are unverifiable and stay allowed. Equal-or-higher ids
    never collide within one incarnation because its ids are
    monotonic."""
    hwm = ingest_high_water_mark(path)
    if int(batch_id) < hwm:
        raise ValueError(
            f"batch_id {batch_id} is below the {what}'s committed "
            f"high-water mark {hwm} at {path}: batch ids restarted (new "
            "streaming checkpoint over kept dedup state?) or a second "
            "pipeline shares this state path. A colliding id would "
            "exclude the prior incarnation's committed same-id state "
            "from the replay-exclusion filter and overwrite its output "
            "partition. Continue numbering above the mark (keep the "
            "original stream checkpoint), or seed a fresh state path "
            "for a genuinely new corpus run."
        )
    if int(batch_id) == hwm and fingerprint is not None:
        committed = _committed_fingerprint(path, hwm)
        if committed and committed != fingerprint:
            raise ValueError(
                f"batch_id {batch_id} equals the {what}'s committed "
                f"high-water mark at {path} but carries DIFFERENT "
                "content than the committed batch (fingerprint "
                f"{fingerprint} != {committed}): this is not a replay "
                "— batch ids restarted at the newest committed id (new "
                "streaming checkpoint over kept state, or a second "
                "pipeline on this path). Proceeding would exclude the "
                "committed batch's state from the replay filter and "
                "overwrite its output partition. Continue numbering "
                "above the mark or seed a fresh state path."
            )


# (sidecar-path, mtime) -> params. A checkpoint's parameter sidecar is
# IMMUTABLE once written (appends skip the rewrite; only a full re-seed
# replaces the sidecar directory, which changes its mtime and
# invalidates the entry), so the per-micro-batch sidecar read in the
# ingest loop — one Spark job each — is answered in-process after
# the first read. This memoizes CONFIG METADATA of a state path, never
# query results.
_PARAMS_MEMO: dict[str, tuple[float, dict]] = {}


def _memoized_sidecar(spark, sidecar: str, loader):
    try:
        mt = _fs.for_path(sidecar).mtime(sidecar)
    except Exception:
        return loader()
    hit = _PARAMS_MEMO.get(sidecar)
    if hit is None or hit[0] != mt:
        hit = _PARAMS_MEMO[sidecar] = (mt, dict(loader()))
    return dict(hit[1])


def _lh_bucket(col: Column, n_buckets: int) -> Column:
    """Stable bucket id in [0, n_buckets) for a chunk-hash (hex md5
    string) or band-sig (binary) column — the partition key of a
    bucketed checkpoint. xxhash64 accepts both types; pmod folds the
    signed hash non-negative."""
    return F.pmod(F.xxhash64(col), F.lit(int(n_buckets)))


def _band_sidecar(got: dict) -> dict:
    # pre-bucketing sidecars read as a flat grid; sidecars without an
    # encoding field hold the comma-joined decimal band_sig ('csv-v1')
    got["n_sig_buckets"] = int(got.get("n_sig_buckets", 0) or 0)
    got["sig_encoding"] = got.get("sig_encoding") or "csv-v1"
    return got


def _validate_band_params(path: str, params: dict, want: dict) -> None:
    """Raise unless the caller's banding parameters match the sidecar's.
    Also validated: the band_sig ENCODING — a checkpoint persisted under
    the comma-joined decimal encoding ('csv-v1', stamped onto any
    sidecar missing the field) can never band-match signatures computed
    by this code ('bin32-v2', fixed-width binary), in EITHER direction;
    the refusal names the re-seed migration instead of silently
    admitting every duplicate."""
    stored = {kk: params[kk] for kk in want}
    if stored != want:
        raise ValueError(
            f"band checkpoint at {path} was written with {stored}, "
            f"caller expects {want}: signatures would never match"
        )
    enc = params.get("sig_encoding") or "csv-v1"
    if enc != _SIG_ENCODING:
        raise ValueError(
            f"band checkpoint at {path} stores band_sig as {enc!r}, this "
            f"engine computes {_SIG_ENCODING!r}: cross-side signatures "
            "would never match and every batch would silently dedupe "
            "against nothing. Migrate by re-seeding the checkpoint "
            "(write_band_checkpoint(mode='overwrite') from the corpus) "
            "at a clean batch boundary."
        )


def _chunk_sidecar(got: dict) -> dict:
    return {
        "chunk_words": int(got["chunk_words"]),
        "n_buckets": int(got.get("n_buckets", 0) or 0),
    }


def _validate_chunk_words(path: str, params: dict, want: dict) -> None:
    if params["chunk_words"] != want["chunk_words"]:
        raise ValueError(
            f"chunk checkpoint at {path} was written with chunk_words="
            f"{params['chunk_words']}, caller expects "
            f"{want['chunk_words']}: chunk boundaries would never align"
        )


class _StateLayout(NamedTuple):
    """What distinguishes one dedup family's checkpoint from the other's;
    everything else is the shared protocol below."""

    what: str  # label in error messages
    sidecar: str  # parameter sidecar directory inside the checkpoint
    key: str  # column hashed into the bucket grid
    grid: str  # bucket-grid partition column
    parts: tuple[str, ...]  # fixed partition columns ahead of the grid
    grid_field: str  # sidecar field holding the grid size (0 = flat)
    grid_default: int  # grid of a fresh write when the caller passes None
    extra: dict  # sidecar fields beyond the caller's params and the grid
    normalize: Callable[[dict], dict]  # raw sidecar row -> params dict
    validate: Callable[[str, dict, dict], None]  # (path, params, want)
    cols: Callable[[str], list]  # state columns (src_batch aside) by id col


_BANDS = _StateLayout(
    what="band checkpoint", sidecar="_band_params",
    key="band_sig", grid="sigb", parts=("band",),
    grid_field="n_sig_buckets", grid_default=16,
    extra={"sig_encoding": _SIG_ENCODING},
    normalize=_band_sidecar, validate=_validate_band_params,
    # partition discovery re-types ``band`` — pin it back to int
    cols=lambda id_col: [
        F.col(id_col), F.col("band").cast("int").alias("band"), "band_sig",
    ],
)

_CHUNKS = _StateLayout(
    what="chunk checkpoint", sidecar="_chunk_params",
    key="lh", grid="lhb", parts=(),
    grid_field="n_buckets", grid_default=64, extra={},
    normalize=_chunk_sidecar, validate=_validate_chunk_words,
    cols=lambda id_col: ["lh", id_col, "pos"],
)


def _read_params(spark, lay: _StateLayout, path: str) -> dict:
    """The checkpoint's parameter sidecar as a normalized dict, memoized
    per (sidecar path, mtime) — see ``_PARAMS_MEMO``."""
    sidecar = f"{path}/{lay.sidecar}"
    return _memoized_sidecar(
        spark,
        sidecar,
        lambda: lay.normalize(spark.read.parquet(sidecar).collect()[0].asDict()),
    )


def _src_stamp(df: DataFrame) -> Column:
    """The rows' writer stamp with unstamped legacy rows as seed rows
    (-1). Read under mergeSchema: a checkpoint upgraded mid-life can hold
    pre-``src_batch`` files next to stamped ones, and without merging
    Spark takes one arbitrary footer's schema and either NULLs the legacy
    rows (the replay filter then drops the whole legacy corpus from the
    probe) or hides the stamps entirely (a torn append would
    self-match)."""
    if "src_batch" not in df.columns:
        return F.lit(-1)
    return F.coalesce(F.col("src_batch").cast("int"), F.lit(-1))


def _write_grid(lay: _StateLayout, rows: DataFrame, path: str, n: int,
                mode: str) -> None:
    """Write stamped state rows onto the layout's partition grid. On a
    bucketed grid the rows are clustered on the partition key first: a
    plain ``partitionBy`` write sprays one file per (task, bucket) pair
    — up to tasks x n tiny files per write, compounding every append —
    while clustered each touched bucket gets exactly one file."""
    parts = list(lay.parts)
    if n:
        parts.append(lay.grid)
        rows = rows.withColumn(
            lay.grid, _lh_bucket(F.col(lay.key), n)
        ).repartition(*parts)
    writer = rows.write.mode(mode)
    (writer.partitionBy(*parts) if parts else writer).parquet(path)


def _write_state(
    lay: _StateLayout, corpus_df: DataFrame,
    rows_fn: Callable[[], DataFrame], path: str, id_col: str,
    text_col: str, want: dict, mode: str, batch_id: int | None,
    n: int | None,
) -> None:
    """Seed (``mode='overwrite'``) or append the state rows ``rows_fn()``
    computes from ``corpus_df`` — the one write path both families'
    ``write_*_checkpoint`` use.

    Modes: only ``overwrite`` (seed) and ``append`` (ingest) — anything
    else is refused (``mode='ignore'`` would no-op the data write yet
    still stamp the sidecar with the CALLER's values, relabeling state
    computed under different parameters).

    Stamps: every row carries ``src_batch = batch_id``; ``None`` means
    -1 (seed) on an overwrite and is REFUSED on an append — a silently
    seed-stamped append sits outside the ingest replay exclusion,
    re-opening the torn-append silent-loss path the stamps close. An
    explicit ``batch_id=-1`` append remains the operator's clean-boundary
    seed-extension assertion. A stamped append (``batch_id >= 0``) is
    fingerprinted, refused below the committed high-water mark
    (:func:`_guard_batch_id_monotonic`), and records its commit marker
    LAST, after the data landed.

    Sidecar: an append VALIDATES the existing sidecar and never re-stamps
    it — re-stamping would relabel old rows (computed under the previous
    parameters) with the caller's, recreating the undetected zero-match
    state the sidecar exists to prevent; with a validated sidecar in
    place the rewrite is skipped entirely (the values are identical, and
    the delete-then-commit overwrite would re-open a torn-sidecar window
    on every micro-batch). An append onto data files WITHOUT a sidecar
    (a writer crashed between the data and sidecar writes) is refused;
    recover by re-seeding. ONE sidecar read serves the parameter check,
    the grid check and the grid default.

    Grid: ``n`` buckets (0 = flat). ``None`` resolves to the layout's
    default on a fresh write and to the EXISTING sidecar's grid on an
    append — so appending to a flat or differently-sized checkpoint with
    defaults keeps working; an explicit int ASSERTS the grid, since rows
    appended off the sidecar's grid would land outside the probe's
    literal partition filter."""
    if mode not in ("overwrite", "append"):
        raise ValueError(
            f"{lay.what} mode must be 'overwrite' (seed) or 'append' "
            f"(ingest), got {mode!r}"
        )
    if batch_id is None and mode == "append":
        raise ValueError(
            f"appending to a {lay.what} requires an explicit batch_id: pass "
            "the writing batch's id (>= 0) so the ingest replay "
            "exclusion can scope a torn append to its writer, or "
            "batch_id=-1 to assert a clean-boundary seed extension "
            "(no crashed in-flight batch)"
        )
    batch_id = -1 if batch_id is None else int(batch_id)
    batch_fp = None
    if mode == "append" and batch_id >= 0:
        batch_fp = _batch_fingerprint(corpus_df, id_col, text_col)
        _guard_batch_id_monotonic(path, batch_id, lay.what, batch_fp)
    spark = corpus_df.sparkSession
    params = None
    if mode == "append":
        try:
            params = _read_params(spark, lay, path)
        except Exception:
            params = None
        if params is not None:
            lay.validate(path, params, want)
            stored = params[lay.grid_field]
            if n is None:
                n = stored
            elif stored != n:
                raise ValueError(
                    f"{lay.what} at {path} is bucketed with "
                    f"{lay.grid_field}={stored}, caller expects {n}: "
                    "appended rows would land outside the probe's "
                    "partition grid"
                )
        else:
            try:
                has_data = bool(spark.read.parquet(path).columns)
            except Exception:
                has_data = False
            if has_data:
                raise ValueError(
                    f"{lay.what} at {path} has data files but no "
                    "parameter sidecar (torn earlier write?): refusing to "
                    "append — existing rows may have been computed under "
                    "different parameters. Re-seed with mode='overwrite'."
                )
    if n is None:
        n = lay.grid_default
    rows = rows_fn().withColumn("src_batch", F.lit(int(batch_id)))
    _write_grid(lay, rows, path, n, mode)
    if params is None:
        # local_frame, not createDataFrame: its Python-RDD form cost
        # ~5 s of Python worker spawn per seed (functions/localrel.py)
        side = {**want, lay.grid_field: n, **lay.extra}
        schema = ", ".join(
            f"{k} {'string' if isinstance(v, str) else 'int'}" for k, v in side.items()
        )
        sidecar = local_frame(spark, [tuple(side.values())], schema)
        sidecar.coalesce(1).write.mode("overwrite").parquet(f"{path}/{lay.sidecar}")
    if batch_fp is not None:
        _mark_batch_committed(path, batch_id, batch_fp)


def _read_state(
    spark, lay: _StateLayout, path: str, id_col: str, want: dict,
    buckets: list[int] | None = None, params: dict | None = None,
) -> DataFrame:
    """The checkpoint as ``lay.cols(id_col) + src_batch`` after
    validating the caller's parameters against the sidecar (a mismatch
    means no state row could ever match and every batch would silently
    dedup against nothing). ``buckets`` restricts a bucketed checkpoint
    to those grid values as a LITERAL partition filter — the scan never
    opens the other buckets' files; ignored on a flat layout.
    ``params``: an already-read sidecar dict, skipping a second read.

    Stamp scope: mergeSchema + :func:`_src_stamp` keep a legacy CORPUS
    correct, but cannot re-attribute a legacy TORN append — unstamped
    rows a pre-stamp build's crashed batch wrote look identical to
    legacy seed rows, so a replay of that batch would still self-match
    them. Run the family's ``migrate_*_checkpoint_stamps`` at a CLEAN
    boundary before the first post-upgrade ingest."""
    if params is None:
        params = _read_params(spark, lay, path)
    lay.validate(path, params, want)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if params[lay.grid_field] and buckets is not None:
        df = df.where(F.col(lay.grid).isin([int(b) for b in buckets]))
    return df.select(*lay.cols(id_col), _src_stamp(df).alias("src_batch"))


def _rewrite_state(spark, lay: _StateLayout, path: str, migrate: bool) -> dict:
    """Rewrite a checkpoint through the count-verified staged swap the
    parquet maintenance ops use (crash mid-swap → marker →
    :func:`io.writers.recover_staged_swap`), keeping the partition grid,
    the parameter sidecar and the ``_ingest_hwm`` markers — losing the
    sidecar would re-arm the torn-sidecar append refusal, losing the
    markers would reset the hwm to -1 and DISARM the batch-id collision
    guard. Every bucket directory comes out as ONE file (a flat layout
    as a single file). The staged copy's row count is verified from its
    parquet footers before the swap. ``file:`` URIs are resolved to the
    local path first, since the swap and the copies are local-FS
    operations.

    ``migrate=False`` — compaction. Each ingest micro-batch appends one
    file per touched bucket, so after N batches the pruned probe degrades
    into a small-files scan; compaction restores ~1 file per bucket.
    Clean-boundary refusal: rows stamped ABOVE the committed high-water
    mark belong to an in-flight (or crashed, not-yet-replayed) batch,
    and compacting concurrently with its writer would swap away whatever
    it appends after the snapshot read. Stamps are preserved verbatim;
    legacy unstamped rows rewrite as explicit NULL stamps, which the
    readers coalesce to -1 — observably identical, and NOT a migration.
    Returns ``{rows, files_before, files_after, hwm}``.

    ``migrate=True`` — one-time stamp migration: every row gets an
    EXPLICIT ``src_batch`` (existing stamps kept, unstamped legacy rows
    stamped -1). Returns ``{rows, seed_rows, had_stamp_col}``.

    The sidecar (which decides the grid) is read only AFTER
    ``recover_staged_swap``: a crash between the swap's two renames
    leaves no table at ``path``, and rerunning the op is the documented
    self-heal. Idempotent."""
    path = _fs.for_path(path).resolve(path)
    _writers.recover_staged_swap(path)
    n = _read_params(spark, lay, path)[lay.grid_field]
    parts = [*lay.parts, lay.grid] if n else list(lay.parts)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    files_before = len(df.inputFiles())
    had_stamp_col = "src_batch" in df.columns
    src = _src_stamp(df)
    # ONE pre-write scan for every figure either op needs
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(src).alias("mx"),
        F.sum((src == -1).cast("long")).alias("seed"),
    ).collect()[0]
    want = int(stats["n"])
    hwm = ingest_high_water_mark(path)
    if migrate:
        op, stage, backup = "stamp migration", ".migrating", ".pre-stamp-migration"
        df = df.withColumn("src_batch", src)
    else:
        op, stage, backup = "checkpoint compaction", ".compacting", ".pre-compaction"
        max_src = -1 if stats["mx"] is None else int(stats["mx"])
        if max_src > hwm:
            raise ValueError(
                f"{lay.what} at {path} holds rows stamped src_batch="
                f"{max_src}, above the committed high-water mark {hwm}: "
                "an ingest batch is in flight (or crashed and not yet "
                "replayed). Compaction would swap away anything that "
                "batch appends after the snapshot read — let it commit "
                "or replay to completion first."
            )
    tmp = path + stage
    shutil.rmtree(tmp, ignore_errors=True)
    if parts:
        # repartition ON the grid: each partition value combination
        # lands in one task, so every bucket directory gets one file
        df.repartition(*parts).write.partitionBy(*parts).parquet(tmp)
    else:
        df.coalesce(1).write.parquet(tmp)
    shutil.copytree(
        os.path.join(path, lay.sidecar), os.path.join(tmp, lay.sidecar)
    )
    if os.path.isdir(_hwm_dir(path)):
        # stale .tmp stages from killed marker publishers are dead
        # weight — carry only the committed markers forward
        shutil.copytree(
            _hwm_dir(path), _hwm_dir(tmp),
            ignore=shutil.ignore_patterns("*.tmp"),
        )
    staged = sorted(spark.read.parquet(tmp).inputFiles())
    got = _writers._footer_row_count(staged)
    if got != want:
        raise RuntimeError(
            f"{op} row-count mismatch ({got} != {want}); staged output "
            f"left at {tmp}, original untouched"
        )
    _writers._swap_in(path, tmp, backup)
    if migrate:
        return {"rows": want, "seed_rows": int(stats["seed"] or 0),
                "had_stamp_col": had_stamp_col}
    return {"rows": want, "files_before": files_before,
            "files_after": len(staged), "hwm": hwm}


def _ingest_batch(
    lay: _StateLayout, batch_df: DataFrame, batch_id: int, path: str,
    out_path: str, id_col: str, text_col: str, want: dict,
    batch_state_fn: Callable[[], DataFrame], core: Callable,
) -> None:
    """One replay-safe micro-batch against the checkpoint at ``path``.
    ``batch_state_fn()`` computes the batch's own state rows (cached for
    the batch scope: they feed the bucket probe, the family's dedup core
    and the state append). ``core(batch_state, state, cache)`` is the
    family's dedup: given the pruned prior state it returns ``(out,
    add)`` — the rows to publish and the batch's state rows to append —
    and registers any frame it wants reused through ``cache``.

    Protocol:

    1. ``batch_id >= 0`` (-1 is the seed stamp), content fingerprint,
       and the high-water-mark guard;
    2. bucket probe: on a bucketed checkpoint the batch's own DISTINCT
       grid values (bounded by the sidecar's grid) become a literal
       partition filter on the state scan — a batch spanning every
       bucket degrades to the full scan;
    3. replay exclusion: state rows STAMPED with this ``batch_id`` — the
       batch's own possibly-torn prior append, and nothing else — are
       dropped by a row-local filter, so a replay sees exactly the
       pre-batch state and recomputes the identical output however much
       of the previous attempt landed. Scoping by writer batch id rather
       than by the batch's doc ids keeps at-least-once upstreams honest:
       an id re-delivered in a LATER batch still meets its own
       earlier-batch state and is deduplicated;
    4. ``out`` is published to ``ingest_batch=<id>`` via DYNAMIC
       partition overwrite, so a replay rewrites its own partition
       instead of appending a second copy;
    5. ``add`` is appended stamped with ``batch_id`` onto the grid; a
       replay may duplicate state rows, which both cores tolerate (band
       pairs are ``distinct()``-ed, the chunk probe is a left_anti on
       the hash);
    6. the commit marker LAST: a crash anywhere above leaves it absent
       and the replay re-enters as ``batch_id >= hwm``.

    Every cached frame is released in ``finally`` — in a long-lived
    ``foreachBatch`` session a raise that skipped it would pin another
    batch frame in executor storage on every failed retry."""
    if int(batch_id) < 0:
        raise ValueError(
            f"batch_id must be >= 0 (got {batch_id}): -1 is reserved for "
            "seed-corpus checkpoint rows and would exclude them"
        )
    batch_fp = _batch_fingerprint(batch_df, id_col, text_col)
    _guard_batch_id_monotonic(path, batch_id, lay.what, batch_fp)
    s = batch_df.sparkSession
    cached: list[DataFrame] = []

    def cache(df: DataFrame) -> DataFrame:
        cached.append(df.cache())
        return df

    try:
        params = _read_params(s, lay, path)
        n = params[lay.grid_field]
        batch_state = cache(batch_state_fn())
        buckets = None
        if n:
            probe = batch_state.select(_lh_bucket(F.col(lay.key), n))
            buckets = sorted(r[0] for r in probe.distinct().collect())
        state = (
            _read_state(s, lay, path, id_col, want, buckets, params)
            .where(F.col("src_batch") != int(batch_id))
            .drop("src_batch")
        )
        out, add = core(batch_state, state, cache)
        (
            out.withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(out_path)
        )
        _write_grid(
            lay, add.withColumn("src_batch", F.lit(int(batch_id))), path,
            n, "append",
        )
        _mark_batch_committed(path, batch_id, batch_fp)
    finally:
        for df in cached:
            df.unpersist()


def _stream_ingest(
    spark, lay: _StateLayout, path: str, id_col: str, want: dict,
    source_dir: str, schema: str, stream_checkpoint: str,
    max_files_per_trigger: int, compact_every: int,
    ingest: Callable[[DataFrame, int], None],
):
    """``availableNow`` ``foreachBatch`` loop over ``ingest`` (one
    family's per-batch function). The checkpoint is validated before any
    micro-batch runs (fail fast, parameters pinned). Restart semantics:
    the STREAMING checkpoint records which source files each micro-batch
    consumed, so a restart over the same source re-processes nothing,
    and a crash INSIDE a micro-batch replays it with the same batch_id,
    which the per-batch protocol makes idempotent.

    ``compact_every=N`` compacts the state after every Nth committed
    batch (ids N-1, 2N-1, …), keeping per-bucket file counts O(N)
    instead of one more file per batch forever. It runs AFTER the
    batch's commit marker lands, so the in-flight refusal cannot fire
    here, and it is itself crash-safe (a crash before the swap completes
    leaves the state valid; the next run self-heals). 0 disables."""
    _read_state(spark, lay, path, id_col, want)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        ingest(batch_df, batch_id)
        if compact_every and (int(batch_id) + 1) % compact_every == 0:
            _rewrite_state(spark, lay, path, migrate=False)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
    )


# -- band checkpoint (MinHash LSH bands; d11/d20) ---------------------------


def write_band_checkpoint(
    corpus_df: DataFrame, path: str, id_col: str, text_col: str,
    k: int = 3, num_hashes: int = 12, band_rows: int = 3,
    mode: str = "overwrite", batch_id: int | None = None,
    n_sig_buckets: int | None = None,
) -> None:
    """Persist a corpus's LSH band frame ``(id, band, band_sig,
    src_batch)`` — the between-batches dedup state an ingestion pipeline
    maintains (the at-rest form of ``similarity.write_bucketed_layout``).
    Re-deriving bands from the whole corpus text on EVERY incoming batch
    is the dominant repeated ingest cost; this checkpoint is
    ~num_hashes/band_rows tiny rows per document, written once and
    reused by every :func:`ingest_batch_idempotent` /
    ``incremental_neardup_pairs(corpus_bands=...)`` call. Append a new
    batch's own bands with ``mode='append'`` after it clears dedup.

    Partitioned by ``band`` and, with ``n_sig_buckets`` (default 16 on a
    fresh write), by ``sigb = pmod(xxhash64(band_sig), n_sig_buckets)``
    so the ingest probe reads only the signature buckets its batch hashes
    into; 0 = flat per-band layout. The sidecar ``_band_params`` records
    ``(k, num_hashes, band_rows, n_sig_buckets, sig_encoding)``: band
    signatures only match between sides computed with the same
    parameters and encoding, and a mismatched reuse would silently
    return zero pairs. ``batch_id`` stamps, append validation, the
    torn-sidecar refusal and the grid default follow the shared write
    contract (:func:`_write_state`); ``batch_id=-1`` on an append
    asserts a clean-boundary seed extension."""
    _write_state(
        _BANDS, corpus_df,
        lambda: _doc_bands(
            corpus_df, id_col, text_col, k, num_hashes, band_rows
        ),
        path, id_col, text_col,
        {"k": k, "num_hashes": num_hashes, "band_rows": band_rows},
        mode, batch_id, n_sig_buckets,
    )


def read_band_params(spark, path: str) -> dict:
    """The band checkpoint's parameter sidecar as a dict; pre-bucketing
    sidecars read as n_sig_buckets=0 (flat per-band layout), sidecars
    without an encoding as ``sig_encoding='csv-v1'``. Memoized per (path,
    sidecar mtime) — see ``_PARAMS_MEMO``."""
    return _read_params(spark, _BANDS, path)


def read_band_checkpoint(
    spark, path: str, id_col: str,
    k: int = 3, num_hashes: int = 12, band_rows: int = 3,
    sig_buckets: list[int] | None = None, params: dict | None = None,
) -> DataFrame:
    """Load a band checkpoint written by :func:`write_band_checkpoint` as
    ``(id_col, band, band_sig, src_batch)`` — the shape
    ``incremental_neardup_pairs`` / :func:`ingest_batch_idempotent`
    expect; pre-src_batch rows read as src_batch=-1 (seed rows). The
    ``k``/``num_hashes``/``band_rows`` the CALLER bands its batch with
    (and the encoding) are validated against the sidecar.
    ``sig_buckets`` prunes a sub-bucketed checkpoint to those ``sigb``
    values; ``params`` is a sidecar dict already read via
    :func:`read_band_params`. See :func:`_read_state`."""
    return _read_state(
        spark, _BANDS, path, id_col,
        {"k": k, "num_hashes": num_hashes, "band_rows": band_rows},
        sig_buckets, params,
    )


def migrate_band_checkpoint_stamps(spark, path: str) -> dict:
    """ONE-TIME upgrade migration for band checkpoints written (fully or
    partially) by pre-``src_batch`` builds: rewrites the state so every
    row carries an explicit stamp — existing stamps preserved, unstamped
    legacy rows stamped -1 (seed) — keeping the grid, sidecar and hwm
    markers.

    Why it exists: the readers' mergeSchema+coalesce keeps a legacy
    CORPUS correct, but an unstamped row written by a pre-stamp build's
    crashed (torn) append is indistinguishable from a legacy seed row —
    a replay of that same batch under stamped code would self-match it.
    No row-level rule can tell those two apart, so the operator asserts
    the distinction: run this at a CLEAN boundary (no crashed in-flight
    batch), at which point stamping everything unstamped as seed is
    exactly right. Idempotent; returns ``{rows, seed_rows,
    had_stamp_col}``. See :func:`_rewrite_state`."""
    return _rewrite_state(spark, _BANDS, path, migrate=True)


def compact_band_checkpoint(spark, path: str) -> dict:
    """Compact a band checkpoint's accumulated per-batch append files to
    one file per ``(band, sigb)`` bucket directory (one per ``band`` on
    a flat layout), preserving grid, sidecar, hwm markers and every
    ``src_batch`` stamp; refuses while a batch is in flight. Run it on
    the maintenance cadence that keeps per-bucket file counts O(1)
    between compactions (e.g. every N batches). Returns ``{rows,
    files_before, files_after, hwm}``; see :func:`_rewrite_state`."""
    return _rewrite_state(spark, _BANDS, path, migrate=False)


def ingest_batch_idempotent(
    batch_df: DataFrame, batch_id: int, band_path: str, out_path: str,
    id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, num_hashes: int = 12, band_rows: int = 3,
) -> None:
    """One micro-batch of the streaming near-dup ingest, REPLAY-SAFE:
    dedup ``batch_df`` against the persisted band checkpoint, publish the
    survivors to ``out_path/ingest_batch=<batch_id>``, append the
    survivors' bands. The batch is banded ONCE and the bands shared by
    the bucket probe, the pair expansion and the state append.

    Replay, torn-append, re-delivery and batch-id collision semantics
    are the shared per-batch protocol's (:func:`_ingest_batch`): a replay
    over a full or torn band append recomputes the identical survivor
    set (two intra-batch near-dups that survived would otherwise
    cross-match each other's landed bands and both drop), an id
    re-delivered in a later batch is dropped as the duplicate it is, and
    ids below the committed high-water mark are refused.

    Degenerate text: a NULL-text doc has no shingles, is never a dup
    candidate, and PASSES THROUGH to the output — unlike the chunk
    ingest, where NULL text drops the doc (SQL NULL propagation; see
    :func:`chunk_dedup_keep_first`)."""

    def core(batch_bands, corpus_bands, cache):
        pairs = incremental_neardup_pairs(
            batch_df, None, id_col, text_col,
            k=k, num_hashes=num_hashes, band_rows=band_rows,
            corpus_bands=corpus_bands, new_bands=batch_bands,
        )
        # the dup id set feeds the output write and the append's
        # semi-join: cache it so the probe chain behind it runs once
        dup_ids = cache(
            pairs.select(F.col("new_id").alias(id_col)).distinct()
        )
        clean = batch_df.join(dup_ids, on=id_col, how="left_anti")
        add = batch_bands.join(
            F.broadcast(clean.select(id_col)), on=id_col, how="left_semi"
        )
        return clean, add

    _ingest_batch(
        _BANDS, batch_df, batch_id, band_path, out_path, id_col, text_col,
        {"k": k, "num_hashes": num_hashes, "band_rows": band_rows},
        lambda: _doc_bands(
            batch_df, id_col, text_col, k, num_hashes, band_rows
        ),
        core,
    )


def streaming_neardup_ingest(
    spark, source_dir: str, schema: str, band_path: str, out_path: str,
    stream_checkpoint: str, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, num_hashes: int = 12, band_rows: int = 3,
    max_files_per_trigger: int = 1, compact_every: int = 0,
):
    """Streaming form of the d11 band checkpoint: an ``availableNow``
    ``foreachBatch`` loop running :func:`ingest_batch_idempotent` per
    micro-batch — each batch dedups against the PERSISTED bands (the
    corpus text is never scanned), publishes its survivors, and appends
    its own bands, so later batches dedup against everything earlier
    ones admitted. The band checkpoint must already exist (seed it once
    with :func:`write_band_checkpoint`); it pins the (k, num_hashes,
    band_rows) every batch must use. ``compact_every=N`` runs
    :func:`compact_band_checkpoint` after every Nth committed batch.
    Returns a ``DataStreamWriter``; callers ``.start()`` it. See
    :func:`_stream_ingest`."""
    return _stream_ingest(
        spark, _BANDS, band_path, id_col,
        {"k": k, "num_hashes": num_hashes, "band_rows": band_rows},
        source_dir, schema, stream_checkpoint, max_files_per_trigger,
        compact_every,
        lambda df, bid: ingest_batch_idempotent(
            df, bid, band_path, out_path, id_col, text_col, k, num_hashes,
            band_rows),
    )


# -- chunk checkpoint (first-occurrence span hashes; d14/d19) ---------------


def write_chunk_checkpoint(
    corpus_df: DataFrame, path: str, id_col: str, text_col: str,
    chunk_words: int = 10, mode: str = "overwrite",
    batch_id: int | None = None, n_buckets: int | None = None,
) -> None:
    """Persist a corpus's span-dedup state — the FIRST occurrence
    ``(lh, id, pos)`` of every distinct chunk hash — the between-batches
    state of :func:`chunk_dedup_keep_first`. Re-chunking the admitted
    corpus on every incoming batch is the dominant repeated cost; this
    checkpoint is one 16-byte hash + two ids per DISTINCT chunk, probed
    by every :func:`chunk_ingest_batch_idempotent` call. The sidecar
    ``_chunk_params`` records ``(chunk_words, n_buckets)``: a mismatched
    reuse would chunk on different boundaries and silently drop nothing.

    ``n_buckets`` (default 64 on a fresh write) hash-partitions the state
    by ``lhb = pmod(xxhash64(lh), n_buckets)`` so each batch prunes whole
    state DIRECTORIES it cannot match; 0 = flat layout. SIZE the grid to
    the state, not the default: each bucket is a partition directory
    whose per-write commit has a fixed cost (measured ~35 ms/dir on local
    FS, worse on object stores), so aim for per-bucket state around
    file-sized (100 MB-1 GB at scale) — a 10k-row state over 64 buckets
    pays more in commits than in data (2.75s vs 0.45s flat, measured;
    the attestation queries use 16). ``batch_id`` stamps, append
    validation, the torn-sidecar refusal and the grid default follow the
    shared write contract (:func:`_write_state`)."""

    def firsts() -> DataFrame:
        return (
            _doc_chunks(corpus_df, id_col, text_col, chunk_words)
            .groupBy("lh")
            .agg(
                F.min(
                    F.struct(F.col(id_col).alias("id"), F.col("pos"))
                ).alias("fo")
            )
            .select(
                "lh", F.col("fo.id").alias(id_col),
                F.col("fo.pos").alias("pos"),
            )
        )

    _write_state(
        _CHUNKS, corpus_df, firsts, path, id_col, text_col,
        {"chunk_words": chunk_words}, mode, batch_id, n_buckets,
    )


def read_chunk_params(spark, path: str) -> dict:
    """The chunk checkpoint's parameter sidecar as ``{"chunk_words",
    "n_buckets"}``; pre-bucketing sidecars read as n_buckets=0 (flat
    layout). Memoized per (path, sidecar mtime) — see
    ``_PARAMS_MEMO``."""
    return _read_params(spark, _CHUNKS, path)


def read_chunk_checkpoint(
    spark, path: str, id_col: str, chunk_words: int = 10,
    buckets: list[int] | None = None, params: dict | None = None,
) -> DataFrame:
    """Load a chunk checkpoint written by :func:`write_chunk_checkpoint`
    as ``(lh, id_col, pos, src_batch)``, validating the caller's
    ``chunk_words`` against the sidecar; pre-src_batch rows read as
    src_batch=-1 (seed rows). ``buckets`` prunes a bucketed checkpoint
    to those ``lhb`` values; ``params`` is a sidecar dict already read
    via :func:`read_chunk_params`. See :func:`_read_state`."""
    return _read_state(
        spark, _CHUNKS, path, id_col, {"chunk_words": chunk_words},
        buckets, params,
    )


def migrate_chunk_checkpoint_stamps(spark, path: str) -> dict:
    """:func:`migrate_band_checkpoint_stamps` for chunk checkpoints —
    same one-time upgrade window, same clean-boundary precondition,
    same semantics."""
    return _rewrite_state(spark, _CHUNKS, path, migrate=True)


def compact_chunk_checkpoint(spark, path: str) -> dict:
    """:func:`compact_band_checkpoint` for chunk checkpoints — one file
    per ``lhb`` bucket directory (a single file on a flat layout), same
    preservation and refusal contract."""
    return _rewrite_state(spark, _CHUNKS, path, migrate=False)


def chunk_ingest_batch_idempotent(
    batch_df: DataFrame, batch_id: int, chunk_path: str, out_path: str,
    id_col: str = "doc_id", text_col: str = "text", chunk_words: int = 10,
) -> None:
    """One micro-batch of streaming span dedup, replay-safe — d14's
    incremental form. Each batch: (1) drop every chunk whose hash is
    already in the persisted first-occurrence checkpoint — the admitted
    corpus is never re-chunked; (2) keep the within-batch first
    occurrence of each remaining hash (the batch operator's min(struct)
    aggregate — no window over the hot boilerplate keys); (3) reassemble
    surviving spans per document and publish to
    ``out_path/ingest_batch=<batch_id>``; (4) append the batch's own new
    first occurrences to the checkpoint. Replay, torn-append,
    re-delivery, bucket pruning and batch-id collision semantics are the
    shared per-batch protocol's (:func:`_ingest_batch`).

    Batches with increasing ids reproduce :func:`chunk_dedup_keep_first`
    on the concatenated corpus exactly — PROVIDED doc ids are monotone
    with batch order (d19's delivery contract). When a later batch
    delivers a SMALLER id sharing a chunk with an admitted doc, the
    stream keeps the admitted copy (arrival order) while the batch
    operator's min(struct(id, pos)) would keep the smaller id.

    Degenerate text follows the batch operator: a NULL-text doc has no
    chunks and is absent from the batch's output partition — gate
    upstream if it must be surfaced."""

    def core(chunks, prior, cache):
        fresh = chunks.join(prior.select("lh"), on="lh", how="left_anti")
        # kept feeds the output write and the state append: cache it so
        # the anti-join and first-occurrence aggregate run once
        kept = cache(_first_occurrence_survivors(fresh, id_col))
        out = _reassemble_chunks(chunks, kept, id_col)
        return out, kept.select("lh", id_col, "pos")

    _ingest_batch(
        _CHUNKS, batch_df, batch_id, chunk_path, out_path, id_col, text_col,
        {"chunk_words": chunk_words},
        lambda: _doc_chunks(batch_df, id_col, text_col, chunk_words),
        core,
    )


def streaming_chunk_dedup_ingest(
    spark, source_dir: str, schema: str, chunk_path: str, out_path: str,
    stream_checkpoint: str, id_col: str = "doc_id", text_col: str = "text",
    chunk_words: int = 10, max_files_per_trigger: int = 1,
    compact_every: int = 0,
):
    """Streaming loop for :func:`chunk_ingest_batch_idempotent` — the
    same ``availableNow`` + ``foreachBatch`` loop, restart semantics and
    ``compact_every`` cadence as :func:`streaming_neardup_ingest`. Seed
    the chunk checkpoint once from the initial corpus with
    :func:`write_chunk_checkpoint`. Returns a ``DataStreamWriter``;
    callers ``.start()`` it."""
    return _stream_ingest(
        spark, _CHUNKS, chunk_path, id_col, {"chunk_words": chunk_words},
        source_dir, schema, stream_checkpoint, max_files_per_trigger,
        compact_every,
        lambda df, bid: chunk_ingest_batch_idempotent(
            df, bid, chunk_path, out_path, id_col, text_col, chunk_words),
    )


def incremental_neardup_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame | None,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
    corpus_bands: DataFrame | None = None,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates of an INCOMING batch against an EXISTING
    corpus — the dedup an ingestion pipeline runs on every new crawl
    slice before appending it. Returns distinct (new_id, corpus_id)
    pairs sharing ≥1 LSH band bucket.

    The corpus side comes from either ``corpus_df`` (raw text — bands are
    recomputed, self-contained form) or ``corpus_bands`` (a persisted
    ``(id, band, band_sig)`` frame from :func:`write_band_checkpoint` —
    the production form: batch N+1 never re-tokenizes or even scans the
    corpus text, plan-shape-tested in tests/test_plan_shape.py).

    Scale shape: the new batch runs the one-shuffle signature→bands
    pipeline, then one union reaches a single bucket-grouped expansion
    that emits ONLY cross-side pairs: the row-local nested transform
    iterates new-members × corpus-members, so intra-corpus pairs — the
    quadratic bulk of an established corpus's buckets, already found by
    prior batches — are never materialized, not even pre-filter. Cost per
    bucket is |new ∩ bucket| · |corpus ∩ bucket|, which a small incoming
    batch keeps near-linear in corpus size."""
    if (corpus_df is None) == (corpus_bands is None):
        raise ValueError("pass exactly one of corpus_df / corpus_bands")
    # ``new_bands``: an already-banded (id, band, band_sig) frame for the
    # NEW side — :func:`ingest_batch_idempotent` bands its batch once and
    # shares the frame between the pruning probe, this expansion, and
    # the checkpoint append, instead of re-minhashing per consumer
    bn = (
        new_bands.select(F.col(id_col), "band", "band_sig")
        if new_bands is not None
        else _doc_bands(new_df, id_col, text_col, k, num_hashes, band_rows)
    ).withColumn("side", F.lit(1))
    if corpus_bands is None:
        corpus_bands = _doc_bands(
            corpus_df, id_col, text_col, k, num_hashes, band_rows
        )
    bc = corpus_bands.select(F.col(id_col), "band", "band_sig").withColumn(
        "side", F.lit(0)
    )
    buckets = (
        bn.unionByName(bc)
        .groupBy("band", "band_sig")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("side", F.col(id_col).alias("id")))
            ).alias("ms")
        )
    )
    news = F.filter(F.col("ms"), lambda s: s["side"] == 1)
    olds = F.filter(F.col("ms"), lambda s: s["side"] == 0)
    pairs = F.flatten(
        F.transform(
            news,
            lambda n: F.transform(
                olds,
                lambda o: F.struct(
                    n["id"].alias("new_id"), o["id"].alias("corpus_id")
                ),
            ),
        )
    )
    return (
        buckets.where((F.size(news) >= 1) & (F.size(olds) >= 1))
        .select(F.explode(pairs).alias("p"))
        .select("p.new_id", "p.corpus_id")
        .distinct()
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id,
    cluster_id), where cluster_id is the MINIMUM doc id in the component —
    the step that turns pairwise dedup output into keep-one-per-cluster
    decisions (keeper = the row where doc_id == cluster_id).

    Algorithm: iterative min-label propagation over the CLOSED
    neighborhood — self-loops are planted in the edge frame, so each
    round is ONE shuffle join + ONE aggregate on (id, label) pairs
    (optimization r15: the open-neighborhood form needed a second
    labels⋈nb_min join per round to mix in the node's own label — at
    scale that was a second full shuffle of the label frame every
    round, and locally a second join stage). Converges in
    O(graph diameter) rounds; near-dup graphs are dense clique-ish
    clusters with tiny diameters (LSH buckets emit all intra-bucket
    pairs), so this beats the O(log n) large-star/small-star alternates
    that exist for long-path graphs. Round 1 is FUSED into the seed:
    initial labels are the ids themselves, so the first round's
    min-over-closed-neighborhood is just min(dst) per src over the
    self-looped edges — a plain aggregate, no join, replacing both the
    old distinct-ids seed pass and the first loop round. Convergence:
    the self-loop row carries each node's own previous label through
    the round's aggregate, so the exact changed-row count is a
    filter+count over the round's tiny checkpointed (id, label, own)
    frame — type-agnostic (ids need not be numeric), no second join,
    and everything else stays distributed.
    """
    # Both directions AND the self-loops are generated ROW-LOCALLY with
    # one explode — four (src, dst) structs per pair row — instead of
    # the old three-way union (optimization r15, guide §1.2/§2.4): the
    # union's branches each embedded the whole upstream pair pipeline
    # (minhash shingle/signature/band/self-join for d07) and no longer
    # canonicalized equal after the keyed-spread change, so the pipeline
    # executed more than twice per edges fill (measured 2.5 s vs 1.1 s
    # for a single pass at sf0.1). One pass, same distinct, same rows:
    # self-loops for BOTH endpoints ride along (dst-side nodes included,
    # exactly what the old sym-of-sym union produced).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_a).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_b).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .cache()
    )

    def release_checkpoint(ckpt: DataFrame) -> None:
        # Dataset.unpersist() does NOT free localCheckpoint blocks (they
        # live on the internal LogicalRDD, not in the CacheManager —
        # verified empirically); without this, every round's (id, label)
        # snapshot stays in executor storage until JVM GC. Private-API
        # reach-in, so failure just defers cleanup to the ContextCleaner
        # (the status quo), never breaks the computation.
        try:
            ckpt._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass

    # round 1, fused: labels start as the ids, so min over the closed
    # neighborhood is min(dst) within the self-looped edge groups.
    # eager localCheckpoint MATERIALIZES each round's result and
    # truncates its lineage before the predecessor is released — a plain
    # cache().unpersist() sequence here left each round recomputing the
    # full i-deep plan from `edges` (quadratic total work, linearly
    # growing plan). Label frames are (id, label) pairs, so the
    # checkpointed blocks are tiny.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("label"))
        .select(F.col("src").alias("id"), "label")
        .localCheckpoint(eager=True)
    )
    converged = False
    prev_ckpt: DataFrame = labels
    for _ in range(max_iterations):
        # the self-loop row (dst == src) carries the node's OWN previous
        # label into its group, so the same aggregate yields both the new
        # label and the old one — the exact per-round change count costs
        # one filter+count on the tiny checkpointed frame, works for any
        # id type, and needs no second labels join
        stepped = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(
                F.min("label").alias("label"),
                F.max(
                    F.when(F.col("dst") == F.col("src"), F.col("label"))
                ).alias("__own"),
            )
            .select(F.col("src").alias("id"), "label", "__own")
            .localCheckpoint(eager=True)
        )
        changed = stepped.where(F.col("label") != F.col("__own")).count()
        labels = stepped.select("id", "label")
        release_checkpoint(prev_ckpt)
        prev_ckpt = stepped
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge within {max_iterations} "
            "iterations (graph diameter exceeds max_iterations); labels "
            "would be silently wrong — raise max_iterations"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Per-document DISTINCT shingle arrays ``(id, __sh_arr, __n_sh)``,
    computed in ONE spread shingling pass and cached through the
    plan-cache registry (released by ``registry.release_plan_caches()``
    like t09's tf frame / d18's score frame).

    Why (optimization r15, guide §2.4/§5): every exact-similarity
    consumer branch previously re-ran ``word_shingles`` — d16's prefix
    plan held SIX Generate nodes re-shingling the corpus (frequency,
    rank, probe, full index, and two collect_list array rebuilds),
    because each branch projects differently and ReuseExchange never
    canonicalizes them together. One cached array pass replaces all of
    them; downstream views are a cheap ``explode`` (inverted index), a
    ``size`` projection (doc sizes — no aggregate at all), and the
    arrays themselves (row-local verification — the two
    collect_list+Exchange array rebuilds disappear outright). The cache
    is ~k× the text bytes and spillable (MEMORY_AND_DISK default);
    recomputing the interpreted ``array_distinct`` shingling 3-6× per
    query costs more at every scale measured."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
        tracked_cache,
    )

    arr = F.array_distinct(shingle_array(F.col(text_col), k))
    # keyed spread (see spread_compute): same shuffle, minus the
    # round-robin determinism sort of the text rows
    return tracked_cache(
        spread_compute(df, key=id_col)
        .select(F.col(id_col), arr.alias("__sh_arr"))
        .withColumn("__n_sh", F.size("__sh_arr").cast("bigint"))
    )


def _exploded_shingles(arrs: DataFrame, id_col: str) -> DataFrame:
    """(id, shingle) inverted-index view of :func:`_shingle_arrays` —
    documents shorter than k tokens (empty arrays) produce no rows,
    exactly like ``word_shingles``."""
    return arrs.select(F.col(id_col), F.explode("__sh_arr").alias("shingle"))


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.1,
    _arrs: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold with LOSSLESS prefix filtering
    (the AllPairs/PPJoin bound): if J(A,B) ≥ t, the pair must share a
    shingle among each side's first ``|X| - ⌈t·|X|⌉ + 1`` shingles in a
    global rarest-first order — so the inverted index only stores those
    prefixes, and hot shingles (the quadratic blowup in a naive
    shingle-join) fall out of candidate generation entirely.

    Verification is row-local: candidates join each side's (small) full
    shingle array once and compute ``size(array_intersect)`` — no second
    pass over the inverted index. Output is identical to ``jaccard_pairs``
    (tested). MEASURED crossover: at sf0.1 (5k docs, short texts) the
    extra shuffles cost 7× more than the naive join saves, so the naive
    form stays the default; this one is for corpora whose hottest shingle
    appears in a large fraction of documents (inverted-list length ~N →
    naive candidate pairs ~N², while prefixes only index rare shingles).

    Physical shape (optimization r15): shingling runs ONCE into the
    cached :func:`_shingle_arrays` frame; the inverted index explodes
    from it, doc sizes are a ``size()`` projection of it (the former
    per-doc count aggregate + exchange is gone), and verification reads
    the cached arrays directly instead of rebuilding them with two
    collect_list aggregates."""
    arrs = (
        _shingle_arrays(df, id_col, text_col, k) if _arrs is None else _arrs
    )
    sh = _exploded_shingles(arrs, id_col)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    sizes = arrs.select(F.col(id_col), F.col("__n_sh").alias("n_sh"))
    w = Window.partitionBy(id_col).orderBy(F.asc("df_"), F.asc("shingle"))
    ranked = (
        sh.join(freq, on="shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, on=id_col)
    )
    # ceil(t*n) via an epsilon guard: fp overshoot (0.1*40 = 4.0000…01)
    # would shorten the prefix and break losslessness; undershooting only
    # admits extra candidates.
    need = F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
    prefix = ranked.where(F.col("rn") <= F.col("n_sh") - need + 1)
    a = prefix.select(F.col(id_col).alias("id_a"), "shingle")
    b = prefix.select(F.col(id_col).alias("id_b"), "shingle")
    cands = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    j = cands.join(
        arrs.select(
            F.col(id_col).alias("id_a"),
            F.col("__sh_arr").alias("sa"),
            F.col("__n_sh").alias("n_a"),
        ),
        on="id_a",
    ).join(
        arrs.select(
            F.col(id_col).alias("id_b"),
            F.col("__sh_arr").alias("sb"),
            F.col("__n_sh").alias("n_b"),
        ),
        on="id_b",
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("bigint")
    jac = j.select(
        "id_a",
        "id_b",
        pround(
            inter / (F.col("n_a") + F.col("n_b") - inter), 4
        ).alias("jaccard"),
    )
    return jac.where(F.col("jaccard") >= threshold)


def _cooccurrence_counts(
    arrs: DataFrame, id_col: str
) -> DataFrame:
    """(id_a, id_b, n_inter, n_a, n_b) for every ordered (id_a < id_b)
    pair sharing ≥1 shingle — the inverted-index co-occurrence frame
    shared by :func:`jaccard_pairs` and :func:`containment_pairs`
    (review r14: the ~25-line block lived verbatim in both, so a fix to
    the shared shape had to be applied twice). One shingle-keyed
    self-join + one pair aggregate, never all-pairs. Input is the
    cached :func:`_shingle_arrays` frame (optimization r15): the
    inverted index explodes from it and doc sizes are a projection of
    it — the former per-doc count aggregate (a full extra exchange) is
    gone."""
    sh = _exploded_shingles(arrs, id_col)
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = arrs.select(F.col(id_col).alias("id_a"), F.col("__n_sh").alias("n_a"))
    sb = arrs.select(F.col(id_col).alias("id_b"), F.col("__n_sh").alias("n_b"))
    return inter.join(sa, on="id_a").join(sb, on="id_b")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.1,
    _arrs: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle (full
    inverted-index join) — fastest below the hot-shingle crossover
    (see ``jaccard_pairs_prefix`` for the skew-proof variant)."""
    arrs = (
        _shingle_arrays(df, id_col, text_col, k) if _arrs is None else _arrs
    )
    jac = _cooccurrence_counts(arrs, id_col).withColumn(
        "jaccard",
        pround(
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            4,
        ),
    )
    return jac.where(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    _arrs: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle CONTAINMENT |A∩B| / min(|A|, |B|) —
    catches a document embedded inside a larger one (boilerplate-wrapped
    reposts, code files pasted into bigger files), which symmetric
    Jaccard structurally misses: a 50-shingle doc fully contained in a
    500-shingle doc scores J ≈ 0.1 (below any dedup threshold) but
    containment 1.0. Same inverted-index shape as ``jaccard_pairs`` —
    pairs sharing ≥1 shingle, one co-occurrence count aggregate, never
    all-pairs — with the pair oriented (small, big) by shingle count
    (id tiebreak) so the score reads as 'fraction of the smaller doc
    found inside the bigger'."""
    arrs = (
        _shingle_arrays(df, id_col, text_col, k) if _arrs is None else _arrs
    )
    j = _cooccurrence_counts(arrs, id_col)
    a_small = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )
    out = j.select(
        F.when(a_small, F.col("id_a")).otherwise(F.col("id_b")).alias("id_small"),
        F.when(a_small, F.col("id_b")).otherwise(F.col("id_a")).alias("id_big"),
        pround(
            F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")), 4
        ).alias("containment"),
    )
    return out.where(F.col("containment") >= threshold)


def _containment_prefix_candidates(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from the asymmetric prefix bound —
    the frame :func:`containment_pairs_prefix` verifies. Split out so the
    structural claim ('the prefix probe expands strictly fewer candidates
    than the naive inverted-index join in the hot-shingle regime') is
    testable as a row count, not a wall-clock assertion
    (tests/test_properties.py::test_containment_prefix_prunes_candidates).
    ``sizes``: an optional pre-computed ``(id, n_sh)`` frame (the
    :func:`_shingle_arrays` projection) — skips the per-doc count
    aggregate over ``sh``."""
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    if sizes is None:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    w = Window.partitionBy(id_col).orderBy(F.asc("df_"), F.asc("shingle"))
    ranked = (
        sh.join(freq, on="shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, on=id_col)
    )
    # epsilon guard as in jaccard_pairs_prefix: fp overshoot must never
    # shorten the prefix (losslessness); undershoot only adds candidates
    need = F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
    prefix = ranked.where(F.col("rn") <= F.col("n_sh") - need + 1)
    probe = prefix.select(F.col(id_col).alias("id_p"), "shingle")
    full = sh.select(F.col(id_col).alias("id_f"), "shingle")
    return (
        probe.join(full, on="shingle")
        .where(F.col("id_p") != F.col("id_f"))
        .select(
            F.least("id_p", "id_f").alias("id_a"),
            F.greatest("id_p", "id_f").alias("id_b"),
        )
        .distinct()
    )


def containment_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    _arrs: DataFrame | None = None,
) -> DataFrame:
    """LOSSLESS prefix-filtered containment — the hot-regime scale path
    for :func:`containment_pairs` (a Jaccard-LSH prefilter CANNOT serve
    here: it recalls by symmetric similarity and misses the embedded
    high-containment/low-Jaccard pairs this family exists for). The
    asymmetric prefix bound: if |A∩B| ≥ ⌈t·|A|⌉ for the SMALLER set A,
    at least one shared shingle lies in A's rarest-first prefix of
    length |A| − ⌈t·|A|⌉ + 1 (else all shared shingles fit in the
    ⌈t·|A|⌉−1 suffix — contradiction). So candidates = every doc's tiny
    prefix (~(1−t)·|A| shingles) probed against the FULL inverted index
    — the containing side cannot be pruned, but hot shingles leave the
    PROBE side entirely unless they are a document's rarest, which
    bounds candidate generation by prefix-shingle document frequencies.
    Verification is row-local array_intersect per candidate pair,
    oriented small→big; output identical to the naive form
    (property-tested, embedded-pair case included).

    Physical shape (optimization r15): same single-pass cached
    :func:`_shingle_arrays` skeleton as ``jaccard_pairs_prefix`` — one
    shingling pass, sizes as a projection, verification from the cached
    arrays (no collect_list rebuild aggregates)."""
    arrs = (
        _shingle_arrays(df, id_col, text_col, k) if _arrs is None else _arrs
    )
    sh = _exploded_shingles(arrs, id_col)
    sizes = arrs.select(F.col(id_col), F.col("__n_sh").alias("n_sh"))
    cands = _containment_prefix_candidates(sh, id_col, threshold, sizes=sizes)
    j = cands.join(
        arrs.select(
            F.col(id_col).alias("id_a"),
            F.col("__sh_arr").alias("sa"),
            F.col("__n_sh").alias("n_a"),
        ),
        on="id_a",
    ).join(
        arrs.select(
            F.col(id_col).alias("id_b"),
            F.col("__sh_arr").alias("sb"),
            F.col("__n_sh").alias("n_b"),
        ),
        on="id_b",
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("bigint")
    a_small = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )
    out = j.select(
        F.when(a_small, F.col("id_a")).otherwise(F.col("id_b")).alias("id_small"),
        F.when(a_small, F.col("id_b")).otherwise(F.col("id_a")).alias("id_big"),
        pround(inter / F.least(F.col("n_a"), F.col("n_b")), 4).alias(
            "containment"
        ),
    )
    return out.where(F.col("containment") >= threshold)


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: for every training document, count the
    distinct word ``k``-shingles it shares with ANY document in the eval
    set — the n-gram-collision check run before training so benchmark
    text leaking into the corpus can't inflate eval scores. Returns
    (id, n_hit_shingles) for contaminated docs only; dropping or auditing
    them is the caller's policy.

    Scale shape: the eval side collapses to a DISTINCT shingle set —
    benchmark suites are tiny next to a training corpus, so AQE
    broadcasts it and the train side is never shuffled (the join is left
    unhinted so a pathological giant eval set degrades to a shuffle join
    instead of an OOM). Because the eval set is distinct, each train
    (doc, shingle) row matches AT MOST ONE eval row — zero fan-out even
    on stopword-dense shingles, so the hot-key quadratic blowup of
    doc-to-doc shingle joins cannot occur here. Train shingles are
    per-doc distinct, making the count exactly "distinct shared
    shingles"."""
    tr = word_shingles(train, id_col, text_col, k)
    ev = word_shingles(eval_df, id_col, text_col, k).select("shingle").distinct()
    return (
        tr.join(ev, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )


def dedup_keep_best(
    df: DataFrame, id_col: str, text_col: str, score: Column
) -> DataFrame:
    """Exact-dup resolution with a QUALITY policy: one row per distinct
    normalized text keeping the highest-``score`` member (ties → minimum
    id), plus the group size — the keep-best-per-cluster step a training
    pipeline runs instead of d01's keep-first when members differ in
    metadata quality.

    Scale shape: a single hash AGGREGATE on the 32-byte fingerprint —
    ``max(struct(score, -id))`` is an argmax that map-side partials
    combine associatively, so no per-group sort and no window (group
    sizes are dup multiplicities, but the aggregate shape doesn't even
    rely on them being small). The score is rounded (compat grid) BEFORE
    the argmax so fp noise can't flip keeper choices between engines."""
    scored = df.select(
        F.md5(_normalize(F.col(text_col))).alias("fp"),
        F.col(id_col),
        pround(score, 4).alias("q"),
    )
    best = F.max(
        F.struct(F.col("q"), (-F.col(id_col)).alias("negid"))
    ).alias("b")
    return (
        scored.groupBy("fp")
        .agg(best, F.count(F.lit(1)).alias("n_copies"))
        .select(
            "fp",
            (-F.col("b.negid")).alias("keeper"),
            F.col("b.q").alias("best_quality"),
            F.col("n_copies").cast("bigint").alias("n_copies"),
        )
    )


def fuzzy_dedup_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    score: Column,
    k: int = 3,
    num_hashes: int = 12,
    band_rows: int = 3,
    max_iterations: int = 20,
    broadcast_max_members: int = 8_000_000,
) -> DataFrame:
    """The FUZZY counterpart of the d12 chain: MinHash-LSH candidate
    pairs → connected components → keep-best-per-cluster. One row per
    near-dup cluster (≥2 members): (cluster_id, keeper, best_quality,
    n_members) — which document survives each fuzzy-duplicate group and
    how many it replaces. Singletons never enter the pair graph, so they
    are implicitly all keepers and excluded here (resolving them costs
    nothing: every doc outside this frame keeps itself).

    ``score`` may reference ``text_col`` (and the join keys) ONLY: the
    corpus side of the members join is projected to (id, text) so the
    quality battery runs on members, not the whole corpus (ADVICE r15 —
    documenting the restriction the r15 projection introduced; a score
    over other metadata columns belongs in :func:`dedup_keep_best`,
    whose input keeps the caller's full row).

    ``broadcast_max_members`` (ADVICE r15): the members frame is only
    broadcast when its exact row count — a cheap scan of the already-
    localCheckpointed cluster frame — stays under this cap. 'Members ≪
    corpus' is the common case, not a construction: on a heavily
    duplicated corpus the members frame can approach the corpus size,
    and an unconditional broadcast would hit the 8 GB / 512M-row
    broadcast hard cap (driver OOM) where a shuffle join degrades
    gracefully. 8M rows of (long, long) ≈ low hundreds of MB framed —
    comfortably inside executor memory at real scale; above the cap the
    planner picks the join strategy from its own estimates.

    Scale shape: the signature→bands→bucket-expansion pipeline is d02's
    single-shuffle form; clustering is d07's per-round (id, label) join
    — both already scale-audited. The keep-best tail joins the (small:
    dup members only) cluster frame back to a quality projection of the
    corpus on the id key and runs ONE argmax aggregate per cluster
    (d10's max(struct) shape, no window). The quality score is rounded
    before the argmax so keeper choice is engine-stable."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, k, num_hashes, band_rows)
    # (doc_id, cluster_id), members only
    clusters = dup_clusters(pairs, max_iterations=max_iterations)
    # score AFTER the members join, not in a pre-join projection
    # (optimization r15, guide §3 "pre-filter the big side"): the score
    # expression (t16's regexp battery in d13) is row-local, and the
    # cluster frame holds dup members only — a tiny fraction of the
    # corpus — so computing it on the joined rows scores exactly the
    # members instead of every corpus document. Catalyst cannot hoist a
    # projection above a join by itself; written this way the corpus
    # side of the (broadcast) join carries raw (id, text) and the regex
    # work runs on members only.
    # broadcast the MEMBERS side explicitly WHEN IT FITS: the
    # checkpointed cluster frame has no stats (ExistingRDD), so the
    # planner otherwise guesses — at sf0.1 it picked the corpus TEXT
    # side as the build, exactly backwards for scale. The hint is gated
    # on the frame's exact row count (ADVICE r15): the frame is already
    # localCheckpoint-materialized, so the count is an in-memory scan,
    # and a heavily duplicated corpus (members ≈ corpus) falls back to
    # the planner's shuffle join instead of tripping the 8 GB broadcast
    # hard cap.
    if clusters.count() <= broadcast_max_members:
        clusters = F.broadcast(clusters)
    j = clusters.join(
        df.select(F.col(id_col).alias("__sid"), F.col(text_col)),
        clusters.doc_id == F.col("__sid"),
    ).select("cluster_id", "doc_id", pround(score, 4).alias("q"))
    best = F.max(
        F.struct(F.col("q"), (-F.col("doc_id")).alias("negid"))
    ).alias("b")
    return (
        j.groupBy("cluster_id")
        .agg(best, F.count(F.lit(1)).alias("n_members"))
        .select(
            "cluster_id",
            (-F.col("b.negid")).alias("keeper"),
            F.col("b.q").alias("best_quality"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


def decontaminate_resolve_split(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    score: Column,
    k: int = 5,
    train_rate: float = 0.9,
    salt: str = "split",
) -> DataFrame:
    """The ingest tail as ONE composed plan: decontaminate (d09) → resolve
    exact dups keep-best (d10) → leakage-free split (d08). Returns one row
    per surviving distinct content: (fp, keeper, best_quality, n_copies,
    split) — which document to keep and which side of the train/eval
    boundary its content group lands on.

    The operators compose without inter-stage shuffles on the big side:
    the contamination frame is id-only and joins back LEFT ANTI (small by
    construction — AQE broadcasts it); keep-best is the single fp hash
    aggregate; and the split gate hashes the fp ALREADY produced by that
    aggregate, so d08's projection adds zero work. Keying the split on
    the normalized-content fp (rather than d08's raw-text md5) is
    deliberate: whitespace/case variants of a kept document cannot land
    across the boundary. One big-side shuffle end-to-end
    (plan-shape-tested)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
        leakage_free_split,
    )

    hits = contamination_hits(train, eval_df, id_col, text_col, k)
    clean = train.join(hits.select(id_col), id_col, "left_anti")
    keep = dedup_keep_best(clean, id_col, text_col, score)
    return leakage_free_split(
        keep, "keeper", F.col("fp"), train_rate=train_rate, salt=salt
    )


def _sampled_shingle_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    sample_fraction: float | None,
    salt: str,
    _arrs: DataFrame | None = None,
) -> dict:
    """The corpus measurement both dispatch choosers share: shingle-
    frequency aggregate over a deterministic md5-gated doc sample, with
    unbiased scale-up. Doc-level p-sampling thins each shingle's doc
    list binomially, so E[L̂·(L̂−1)] = p²·L·(L−1) and E[Σ L̂] = p·Σ L —
    hence quad /= p² and rows /= p are unbiased. ``l_max`` scales by
    1/p as an INDICATOR only (the max of thinned lists is not the
    thinned max — it under-reaches for rare tails; exact when
    sample_fraction is None). The gate is md5-keyed, never rand(), so
    the dispatch is reproducible run to run."""
    if sample_fraction is not None and not (0.0 < sample_fraction <= 1.0):
        raise ValueError(
            f"sample_fraction must be in (0, 1], got {sample_fraction}"
        )
    p = 1.0 if sample_fraction is None else sample_fraction
    if _arrs is not None:
        # derive the sample from the caller's cached shingle-array frame
        # (optimization r15): the md5 gate keys on the id either way, so
        # the sampled doc set — and therefore the stats — is identical
        # to shingling the gated raw corpus, without a second shingling
        # pass just to pick a physical plan.
        src = _arrs
        if p < 1.0:
            from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
                hash_gate,
            )

            src = src.where(hash_gate(F.col(id_col), p, salt=salt))
        sh = _exploded_shingles(src, id_col)
    else:
        if p < 1.0:
            from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata.sampling import (
                hash_gate,
            )

            df = df.where(hash_gate(F.col(id_col), p, salt=salt))
        sh = word_shingles(df, id_col, text_col, k)
    st = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("L"))
        .agg(
            F.sum(F.col("L") * (F.col("L") - 1) / 2).alias("quad"),
            F.sum("L").alias("rows"),
            F.max("L").alias("l_max"),
        )
        .first()
    )
    return {
        "quad": (st.quad or 0.0) / (p * p),
        "rows": (st.rows or 0) / p,
        "l_max": round((st.l_max or 0) / p),
        "sample_fraction": p,
    }


def choose_jaccard_variant(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.1,
    sample_fraction: float | None = 0.25,
    _arrs: DataFrame | None = None,
) -> tuple[str, dict]:
    """Pick ``naive`` vs ``prefix`` Jaccard from ONE measured corpus stat
    instead of making the caller guess (the round-4 advice item).

    The shingle-frequency aggregate yields, in a single columnar scan +
    one shuffle on the shingle key (noise next to the O(quad) join it
    sizes):

    - ``rows``  = total (doc, shingle) rows — every linear pass costs this;
    - ``quad``  = Σ_s L_s·(L_s−1)/2 — the EXACT candidate-pair count the
      naive inverted-index join will expand (not a model).

    The prefix variant keeps ≈ (1−t) of each doc's shingles, so under a
    uniform shingle-rank model it expands ≈ (1−t)²·quad candidates,
    saving quad·(1−(1−t)²) — but pays fixed extra passes (frequency
    join, per-doc rank window) that scale with ``rows``. MEASURED on both
    ends: the sf0.01 corpus (Lmax=7, quad≈0.5·rows) has naive faster at
    every threshold 0.1-0.7 (prefix 1.6-2× slower), and the 50k-replica
    probe corpus (README) has naive 4.5× faster even at t=0.1 with
    quad≈4.5·rows. Prefix only wins when a hot shingle appears in a
    large fraction of documents (L_max ~ N → quad ~ N²/2 ≫ rows) — the
    skew case candidate generation must not expand. β=2 places the
    crossover safely past both measured naive-wins points:
    choose prefix iff quad·(1−(1−t)²) > 2·rows.

    ``sample_fraction`` (default 0.25): deterministic md5-gated
    doc-level sample with unbiased scale-up — the shared
    :func:`_sampled_shingle_stats` measurement (estimator math and the
    l_max caveat documented there); pass ``None`` for the exact scan."""
    stats = _sampled_shingle_stats(
        df, id_col, text_col, k, sample_fraction, salt="jacchoose|",
        _arrs=_arrs,
    )
    saved = stats["quad"] * (1.0 - (1.0 - threshold) ** 2)
    stats["saved_candidates_est"] = saved
    return ("prefix" if saved > 2.0 * stats["rows"] else "naive"), stats


def jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Single Jaccard entry point: measures the corpus
    (``choose_jaccard_variant``) and dispatches to ``jaccard_pairs`` or
    ``jaccard_pairs_prefix`` — both emit identical pairs (lossless
    property test), so the choice is purely physical. The chooser's
    stats job and the chosen variant SHARE one cached
    :func:`_shingle_arrays` frame (optimization r15) — the corpus is
    shingled once for both, instead of once for the measurement and
    3-6 more times inside the variant's plan."""
    import logging

    arrs = _shingle_arrays(df, id_col, text_col, k)
    variant, stats = choose_jaccard_variant(
        df, id_col, text_col, k, threshold, _arrs=arrs
    )
    logging.getLogger(__name__).info(
        "jaccard_pairs_auto: variant=%s stats=%s threshold=%s",
        variant, stats, threshold,
    )
    fn = jaccard_pairs_prefix if variant == "prefix" else jaccard_pairs
    return fn(df, id_col, text_col, k, threshold, _arrs=arrs)


def choose_containment_variant(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    sample_fraction: float | None = 0.25,
    _arrs: DataFrame | None = None,
) -> tuple[str, dict]:
    """d16's measured dispatch (VERDICT r7 Next-round #4) — the
    :func:`choose_jaccard_variant` pattern with the ASYMMETRIC cost
    model. Same shingle-frequency aggregate (``rows``, ``quad``,
    ``l_max``), different saving formula: the containment prefix prunes
    only the PROBE side (the containing side can never be pruned),
    keeping ≈ (1−t)·|A|+1 of each doc's shingles, so under the uniform
    shingle-rank model it expands ≈ 2·(1−t)·quad candidates against
    naive's quad — saving quad·(2t−1), which is non-positive for
    t ≤ 0.5 (the probe prefix then covers over half of every doc and
    prefix can only lose). Fixed-cost bar β=8 (RECALIBRATED,
    optimization r15 — was 2): prefix pays rank-window + candidate
    distinct passes that scale with ``rows``, and — the term the old
    β=2 bar under-counted — its verification is a per-candidate
    ``array_intersect`` (O(avg shingles/doc) each), where naive's
    verification is an O(1)-per-row count aggregate over the same
    co-occurrence join it already ran. Measured at sf0.1 (saved/rows
    ≈ 3): naive 1.7s vs prefix 4.1s on a warm shingle cache — the old
    bar picked prefix, 2.4× the cost. Measured on planted hot corpora:
    prefix first wins around saved/rows ≈ 40 (1.3×), with a flat tie
    zone between ~20 and ~40; β=8 puts the shipped regime (≤3) firmly
    on naive and the hot regimes (≥18) on prefix, the decision the
    planted-regime tests pin from both sides. Choose prefix iff
    quad·(2t−1) > 8·rows.

    ``sample_fraction`` (default 0.25) measures a DETERMINISTIC
    hash-gated subset of documents instead of the full corpus — the
    right chooser shape at 100 TB, where a full stat scan just to pick a
    physical plan is real money (shared :func:`_sampled_shingle_stats`;
    the unbiased estimator math and the l_max caveat live there). The
    decision needs only an order-of-magnitude margin (the two regimes
    sit decades apart on quad/rows), so estimator noise cannot flip it
    anywhere near the measured corpora — asserted by a test that the
    sampled decision matches the full-scan decision on both planted
    regimes. Pass ``None`` to measure the full corpus."""
    stats = _sampled_shingle_stats(
        df, id_col, text_col, k, sample_fraction, salt="contchoose|",
        _arrs=_arrs,
    )
    saved = stats["quad"] * max(2.0 * threshold - 1.0, 0.0)
    stats["saved_candidates_est"] = saved
    return ("prefix" if saved > 8.0 * stats["rows"] else "naive"), stats


def containment_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Single containment entry point: measures the corpus
    (:func:`choose_containment_variant`) and dispatches to
    :func:`containment_pairs` or :func:`containment_pairs_prefix` — both
    emit identical (id_small, id_big, containment) rows (lossless
    property test), so the choice is purely physical. As in
    :func:`jaccard_pairs_auto`, the stats job and the chosen variant
    share ONE cached :func:`_shingle_arrays` frame (optimization r15) —
    one shingling pass total instead of one for the measurement plus
    3-6 inside the variant."""
    import logging

    arrs = _shingle_arrays(df, id_col, text_col, k)
    variant, stats = choose_containment_variant(
        df, id_col, text_col, k, threshold, _arrs=arrs
    )
    logging.getLogger(__name__).info(
        "containment_pairs_auto: variant=%s stats=%s threshold=%s",
        variant, stats, threshold,
    )
    fn = containment_pairs_prefix if variant == "prefix" else containment_pairs
    return fn(df, id_col, text_col, k, threshold, _arrs=arrs)


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """(id, simhash): bit-majority SimHash over distinct whitespace tokens.
    Token hash = first ``ceil(bits/4)`` hex chars of md5 (8 chars — an
    unsigned 32-bit int — at the default), so every signature bit has a
    live vote source. ``bits`` caps at 60: the hash must stay below
    2^63 for the signed-bigint ``conv`` (review r14 — the hash was
    FIXED at 32 bits, so ``bits=64`` silently voted -n_tokens on every
    bit >= 32: all-zero upper halves, dead bands whose (band, val) was
    identical for every doc, and a quadratic candidate blowup in the
    banded self-join instead of an error).

    Scale shape: each token row carries its ``bits`` ±1 votes as ``bits``
    sum columns into ONE ``groupBy(id)`` — map-side partial sums combine
    per bit, the shuffle moves one row of ``bits`` longs per (map
    partition, id), and the signature is assembled from the votes as a
    pure column expression. No joins, no row fan-out, single exchange
    (the earlier formulation crossJoined every token with a broadcast
    bit index, multiplying pre-shuffle rows ``bits``×, and needed a
    second aggregate to fold bytes into the signature)."""
    if not 1 <= bits <= 60:
        raise ValueError(
            f"bits must be in [1, 60] (the token hash is built from "
            f"ceil(bits/4) md5 hex chars and must fit a signed bigint), "
            f"got {bits}"
        )
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(_normalize(F.col(text_col)), " "))
        ).alias("tok"),
    )
    n_hex = (bits + 3) // 4  # 8 at bits=32 — the historical hash exactly
    h = F.conv(F.substring(F.md5("tok"), 1, n_hex), 16, 10).cast("bigint")
    t = toks.select(F.col(id_col), h.alias("h"))
    # bit b of h via shiftright with a LITERAL shift (stays in codegen);
    # vote = +1 when set, -1 when clear
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = t.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("bigint")
    for b in range(bits):
        sim = sim + F.when(
            F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_band_layout(bits: int, band_bits: int) -> list[tuple[int, int]]:
    """Band layout as (shift, width) slices covering EVERY signature bit
    exactly once. When ``band_bits`` does not divide ``bits`` the top
    ``bits % band_bits`` bits get a narrower remainder band — without it
    they would sit outside every band and two signatures differing only
    there would never become candidates (silent recall loss)."""
    if not 0 < band_bits <= bits:
        raise ValueError(f"band_bits must be in (0, {bits}], got {band_bits}")
    layout = [(b * band_bits, band_bits) for b in range(bits // band_bits)]
    rem = bits % band_bits
    if rem:
        layout.append((bits - rem, rem))
    return layout


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bits: int = 32,
    band_bits: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: candidates share at least one band
    slice of the signature, then verified exactly with
    bit_count(xor) ≤ max_hamming. Detection is GUARANTEED (pigeonhole)
    only when the layout has more bands than max_hamming: ≤h differing
    bits touch ≤h bands, so with n_bands > h at least one band matches
    exactly. With n_bands ≤ h a pair inside the Hamming budget can split
    its errors across every band and be missed — the warning below fires
    for such configs (the standard LSH recall trade, made explicit).

    Scale shape: bits/band_bits small (band, value) rows per doc, then a
    self-EQUI-JOIN on (band, value) with id_a < id_b — each side carries
    its signature, so the exact Hamming check is a projection on the
    join output and needs no re-join. This differs from d02's
    bucket-grouped expansion deliberately: there the point is to AVOID
    materializing intra-corpus pairs (they're not the output); here
    every qualifying intra-corpus pair IS the output, and streaming them
    through a join beats building per-bucket pair ARRAYS first —
    measured at sf0.1 (5000 docs, 5.25M pairs): 27-30s array-grouped →
    5.4-9.3s joined, a 4-5x win, because the nested
    transform/slice/flatten materialized ~50k-struct arrays per bucket
    row before exploding. Small inputs broadcast-hash; at scale both
    sides shuffle on (band, value), where the band_bits auto-scaling
    below keeps per-key bucket sizes bounded. Emission is canonicalized
    to the FIRST matching band of each pair's xor mask (a row-local
    when-chain), so every pair surfaces exactly once and the old global
    distinct() exchange over ~5x-duplicated full-width rows disappears.
    MEASURED: at 50k docs a fixed 8-bit banding
    saturates (≤1024 buckets per band → bucket sizes grow with N and pair
    expansion goes quadratic), so ``band_bits=None`` (the default)
    auto-scales with corpus size: ``clamp(ceil(log2(n_docs)), 8,
    bits // 2)`` — bucket count per band then grows at least linearly
    with the corpus. ``n_docs`` (VERDICT r9 #5, d18's probe-hint rule
    applied here): callers that already know the corpus size — an
    ingest loop counting its input anyway, a planner with catalog stats
    — pass it to skip the sizing ``count()`` job entirely; the default
    ``None`` runs one columnar count scan, noise next to the dedup
    itself, and the hint only sizes the LAYOUT (an off-by-2x estimate
    shifts band_bits by at most 1 — recall/cost trade, never
    correctness). Ignored when ``band_bits`` is pinned explicitly.
    Recall trade (standard LSH): fewer, wider
    bands → a pair must agree on one of fewer bands — detection is only
    GUARANTEED when Hamming < n_bands. Pass ``band_bits`` explicitly
    (e.g. the d06 oracle pins 4 → 8 bands > max_hamming=6) when the band
    layout itself is part of the contract; raise ``bits`` to 64 (with a
    widened hash) for corpora past ~100M docs."""
    if band_bits is None:
        import math

        if n_docs is None:
            n_docs = df.count()
        band_bits = min(bits // 2, max(8, math.ceil(math.log2(max(n_docs, 2)))))
    layout = simhash_band_layout(bits, band_bits)
    if len(layout) <= max_hamming:
        import warnings

        warnings.warn(
            f"simhash_neardup_pairs: {len(layout)} bands <= max_hamming="
            f"{max_hamming}; pigeonhole detection is not guaranteed — pairs "
            "within the Hamming budget can split across all bands. Lower "
            "band_bits or raise bits.",
            stacklevel=2,
        )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), shift)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
            for b, (shift, width) in enumerate(layout)
        ]
    )

    def first_match_band(m: Column) -> Column:
        """Index of the LOWEST band whose slice of the xor mask ``m`` is
        all-zero — i.e. the first band where the two signatures agree.
        Literal when-chain over the layout: row-local, codegen. The
        canonical-emission rule: a pair with Hamming ≤ h matches
        ≥ n_bands − h bands (all of them for identical signatures) and
        would otherwise be emitted once per matching band; keeping it
        only where the join band equals this index yields each pair
        exactly once by construction — its first matching band's bucket
        contains both members by definition — so no distinct is
        needed and duplicates never exist at all."""
        expr: Column = F.lit(len(layout))  # sentinel, unreachable in-bucket
        for b, (shift, width) in reversed(list(enumerate(layout))):
            expr = F.when(
                F.shiftright(m, shift).bitwiseAND(F.lit((1 << width) - 1))
                == 0,
                F.lit(b),
            ).otherwise(expr)
        return expr

    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
        tracked_cache,
    )

    sig = simhash_signatures(df, id_col, text_col, bits)
    # Cached through the plan-cache registry (optimization r15, the
    # d16/_shingle_arrays rule applied here): both self-join sides are
    # projections of this ONE frame, but they project different aliases,
    # so ReuseExchange never canonicalizes them together and the whole
    # signature pipeline — tokenize, explode, md5, bit-majority
    # aggregate over the full corpus — executed TWICE, once per side.
    # The cache is tiny (n_bands rows of four ints per doc, no text) and
    # released by registry.release_plan_caches() like every plan cache.
    banded = tracked_cache(
        sig.select(
            F.col(id_col), F.col("simhash"), F.explode(bands).alias("bs")
        ).select(F.col(id_col), "simhash", "bs.band", "bs.val")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sa"),
        "band", "val",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sb"),
        "band", "val",
    )
    m = F.col("sa").bitwiseXOR(F.col("sb"))
    return (
        a.join(b, ["band", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            (F.bit_count(m) <= max_hamming)
            & (F.col("band") == first_match_band(m))
        )
        .select(
            "id_a", "id_b", F.bit_count(m).cast("bigint").alias("hamming")
        )
    )


def _doc_chunks(
    df: DataFrame, id_col: str, text_col: str, chunk_words: int
) -> DataFrame:
    """(id, pos, chunk, lh): consecutive ``chunk_words``-word spans of
    each document with their position and 16-byte hash — the exploded
    frame both the batch (:func:`chunk_dedup_keep_first`) and streaming
    (:func:`chunk_ingest_batch_idempotent`) span dedups run on. Pure
    row-local expressions, no shuffle."""
    return (
        df.select(
            F.col(id_col),
            F.split(F.col(text_col), " ").alias("w"),
        )
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("w") / chunk_words).cast("int") - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice("w", i * chunk_words + 1, chunk_words), " "
                    ),
                )
            ).alias("pos", "chunk"),
        )
        .withColumn("lh", F.md5("chunk"))
    )


def chunk_dedup_keep_first(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 10,
) -> DataFrame:
    """Span-level (CCNet/C4-style) dedup WITHIN documents across the
    whole corpus: split each document into consecutive ``chunk_words``-word
    chunks, keep only the corpus-wide FIRST occurrence of each distinct
    chunk (ordered by (id, position)), and reassemble the surviving
    chunks per document — the pretraining cleanup that strips boilerplate
    spans (headers, license blocks, navigation) repeated across pages,
    which document-level dedup (d01-d07) can never catch because the
    documents differ elsewhere.

    Returns ``(id_col, clean_text, n_chunks, n_dropped)``.

    Degenerate text (pinned by
    tests/test_properties.py::test_chunk_dedup_null_and_empty_text): a
    NULL-text document has no chunks and is ABSENT from the output —
    SQL NULL propagation, and exactly what the d14 DuckDB oracle
    computes — while an empty text is one ``''`` chunk subject to
    normal keep-first. This differs from the d11 band ingest, where a
    NULL-text doc has no shingles and passes through to the output;
    callers wanting NULL-text docs surfaced here must gate them
    upstream (the quality gate emits ``keep=false/'null_text'``).

    Scale shape: first-occurrence selection is a
    ``min(struct(id, pos, chunk))`` AGGREGATE keyed on md5(chunk) —
    never a window over the chunk hash, whose hot keys (the boilerplate
    being removed!) would serialize into single window partitions. The
    corpus is chunked exactly ONCE (optimization r15: per-doc totals
    are the row-local ``ceil(n_tokens/chunk_words)``, no second
    explode, and the survivor text rides the min struct instead of a
    semi-join back onto a third re-chunking); chunk text crosses
    exactly two exchanges (the hash groupBy — where map-side partials
    collapse duplicates first — and the per-doc reassembly, the a08
    ordered-collect aggregate keyed by document id)."""
    chunks = _doc_chunks(df, id_col, text_col, chunk_words)
    kept = _first_occurrence_survivors(chunks, id_col)
    # same tokenization expression as _doc_chunks, so the count matches
    # the explode's row count exactly (incl. empty text = 1 '' chunk);
    # NULL text yields no chunk rows there and is filtered here
    w = F.split(F.col(text_col), " ")
    totals = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.ceil(F.size(w) / chunk_words).cast("long").alias("__n"),
        )
        .groupBy(id_col)
        .agg(F.sum("__n").alias("n_chunks"))
    )
    return _reassemble_chunks(chunks, kept, id_col, totals=totals)


def _first_occurrence_survivors(chunks: DataFrame, id_col: str) -> DataFrame:
    """The chunk rows surviving keep-first: min(struct(id, pos, chunk))
    per chunk hash (an aggregate, never a window over the hot
    boilerplate keys). Shared by the batch operator and the streaming
    ingest (:func:`chunk_ingest_batch_idempotent`).

    The chunk TEXT rides INSIDE the min struct (optimization r15, guide
    §2.4): struct comparison is lexicographic and (id, pos) is unique
    per chunk row, so the text field never decides an ordering — it
    just tags along, and the former semi-join back onto the full
    exploded frame (a second full shuffle of every chunk row, text
    included, plus a third corpus re-chunking in the batch operator) is
    gone. Map-side partial min collapses duplicates before the
    exchange, so the shuffle carries one chunk text per distinct hash
    per map partition — strictly fewer text bytes than the semi-join
    probe side moved."""
    return (
        chunks.groupBy("lh")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("id"), F.col("pos"), F.col("chunk")
                )
            ).alias("fo")
        )
        .select(
            F.col("fo.id").alias(id_col),
            F.col("fo.pos").alias("pos"),
            F.col("fo.chunk").alias("chunk"),
            "lh",
        )
    )


def _reassemble_chunks(
    chunks: DataFrame, kept: DataFrame, id_col: str,
    totals: DataFrame | None = None,
) -> DataFrame:
    """(id, clean_text, n_chunks, n_dropped): per-doc ordered reassembly
    of the surviving chunks against the full chunk totals — the a08
    ordered-collect aggregate, one shuffle keyed by document id. Shared
    by the batch operator and the streaming ingest. ``totals``
    (optimization r15): a caller that can compute per-doc chunk counts
    WITHOUT the exploded frame (row-local ``ceil(n_tokens/k)`` — the
    batch operator) passes them here and skips one full corpus
    re-chunking; the streaming ingest keeps the default (its ``chunks``
    is a cached micro-batch frame, so the count is a cache read)."""
    if totals is None:
        totals = chunks.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_chunks")
        )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        totals.join(rebuilt, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_chunks",
            (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dropped"
            ),
        )
    )

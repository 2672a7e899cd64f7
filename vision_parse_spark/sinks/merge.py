"""S4 result sink — resumable, exactly-once bucketed MERGE emulation.

north_rule: "outputs written as Iceberg MERGE with per-partition
lineage rows (partition id, input split, row counts, bytes, checksum)
enabling exact resume from checkpoint".

On a real cluster this is::

    df.writeTo("db.transcripts_md").using("iceberg")  # MERGE INTO on
    (conv_id, turn_idx)                               # the key

No Iceberg catalog exists in this sandbox, so the same contract is
emulated on parquet with the identical recovery semantics:

* output is hash-bucketed on ``conv_id`` (convs stay co-located for
  downstream per-conversation reads); each bucket is a partition dir.
* a bucket is COMMITTED only when its lineage manifest JSON exists
  under ``_lineage/``; manifests are written atomically (tmp+rename)
  only after the data job commits.
* ``merge_write`` recomputes ONLY buckets without manifests; data
  writes use dynamic partition overwrite, so a crashed run's partial
  bucket output is replaced idempotently on retry -> exactly-once on
  read, regardless of where the previous run died.
* per-bucket checksum = order-insensitive bit_xor of per-row xxhash64
  over (key, payload), so resumed output can be audited without a
  re-read of the source.
* every manifest — committed, staged and the streaming sinks'
  per-batch ones — is built from ``_stats``, written by
  ``_commit_manifest`` and read back on the driver by
  ``read_manifests``; no Spark job reads a manifest.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"
STAGING_PREFIX = "_staging_"


def is_iceberg_target(spark: SparkSession, target: str) -> bool:
    """True when ``target`` names a catalog table (``cat.db.table`` —
    no path separators) whose catalog is configured on the session
    (``spark.sql.catalog.<cat>`` set, the standard Iceberg wiring).
    This is the round-4 dispatch flag: on a real cluster a user points
    the sink at an Iceberg table identifier and flips nothing else;
    local filesystem paths keep the parquet emulation."""
    if "://" in target or "/" in target or "." not in target:
        return False
    cat = target.split(".", 1)[0]
    try:
        return spark.conf.get(f"spark.sql.catalog.{cat}", None) is not None
    except Exception:
        return False


def _iceberg_write(df: DataFrame, table: str) -> dict:
    """merge_write on an Iceberg catalog table: create-or-append via
    the DataFrameV2 API (resume/lineage are Iceberg's own snapshot +
    manifest metadata there — the emulation's manifest JSONs map to
    them 1:1)."""
    spark = df.sparkSession
    if spark.catalog.tableExists(table):
        df.writeTo(table).append()
    else:
        df.writeTo(table).using("iceberg").create()
    return {"written": [table], "skipped": [], "rows": -1}


def _iceberg_upsert(df: DataFrame, table: str,
                    key_cols: Sequence[str]) -> dict:
    """merge_upsert on an Iceberg catalog table: a true
    ``MERGE INTO ... WHEN MATCHED UPDATE / NOT MATCHED INSERT`` —
    exactly the statement the local staging protocol emulates."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        df.writeTo(table).using("iceberg").create()
        return {"updated": [], "inserted": [table], "rows": -1}
    view = "_vps_merge_incoming"
    df.createOrReplaceTempView(view)
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    spark.sql(
        f"MERGE INTO {table} t USING {view} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET * "
        f"WHEN NOT MATCHED THEN INSERT *"
    )
    return {"updated": [table], "inserted": [], "rows": -1}


def _require_local(path: str) -> None:
    """This sink's purge/manifest/rename IO is driver-local ``os``/
    ``shutil`` — correct only for local filesystem paths.  On a real
    cluster the same contract is Iceberg ``MERGE INTO`` (see module
    docstring); silently no-op'ing the purge on ``hdfs://``/``s3a://``
    would reintroduce the stale-uncommitted-bucket audit bug, so the
    local-emulation scope is enforced, not assumed."""
    if "://" in path:
        raise ValueError(
            f"merge sink emulates Iceberg MERGE on LOCAL paths only; "
            f"got {path!r}. Use an Iceberg catalog (writeTo(...).using"
            f"('iceberg')) for remote filesystems."
        )


def _row_checksum_agg(key_cols: Sequence[str], payload_col: str):
    """Order-insensitive, overflow-safe bucket checksum: bit_xor of
    per-row xxhash64 over (key, payload)."""
    cols = ", ".join([*key_cols, payload_col])
    return F.expr(f"bit_xor(xxhash64({cols}))")


def _bucket_col(key_cols: Sequence[str], n_buckets: int):
    """A row's bucket: its first key column hashed modulo ``n_buckets``
    (convs stay co-located)."""
    return F.pmod(F.xxhash64(F.col(key_cols[0])),
                  F.lit(n_buckets)).cast("int")


def _stats(df: DataFrame, key_cols: Sequence[str], payload_col: str,
           by: Sequence[str] = ()) -> dict[tuple, dict]:
    """Manifest stats of ``df`` per ``by`` group: ``{group values:
    {"row_count", "bytes", "checksum"}}``.  With no ``by`` columns the
    one global group is ``()``; over no rows its checksum is
    ``"None"`` (bit_xor of nothing is null)."""
    rows = (
        df.groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(F.length(payload_col)).alias("bytes"),
            _row_checksum_agg(key_cols, payload_col).alias("checksum"),
        )
        .collect()
    )
    return {tuple(r[c] for c in by): {"row_count": int(r["row_count"]),
                                      "bytes": int(r["bytes"] or 0),
                                      "checksum": str(r["checksum"])}
            for r in rows}


def _bucket_stats(spark: SparkSession, root: str, buckets: Sequence[int],
                  key_cols: Sequence[str],
                  payload_col: str) -> dict[int, dict]:
    """:func:`_stats` of each of ``buckets`` from the data stored under
    ``root`` (audits the files, not the plan).  A bucket without a
    ``bucket=`` dir holds no rows: ``(0, 0, "0")`` — and when no bucket
    has one, no Spark job runs (the path may hold no parquet at all)."""
    present = [b for b in buckets
               if os.path.isdir(os.path.join(root, f"bucket={b}"))]
    stats = {}
    if present:
        stored = spark.read.parquet(root).filter(F.col("bucket").isin(present))
        stats = {b: s for (b,), s in
                 _stats(stored, key_cols, payload_col, ("bucket",)).items()}
    empty = {"row_count": 0, "bytes": 0, "checksum": "0"}
    return {b: stats.get(b, empty) for b in buckets}


def _bucket_manifests(spark: SparkSession, root: str, buckets: Sequence[int],
                      run_id: str, n_buckets: int, key_cols: Sequence[str],
                      payload_col: str) -> dict[int, dict]:
    """The lineage manifest of each of ``buckets`` stored under
    ``root`` (without ``committed_unix``, which the commit adds)."""
    stats = _bucket_stats(spark, root, buckets, key_cols, payload_col)
    return {b: {"run_id": run_id, "partition_id": b,
                "input_split": f"bucket={b}/{n_buckets}", **stats[b]}
            for b in buckets}


def _commit_manifest(file: str, record: dict) -> None:
    """Write ``record`` plus ``committed_unix`` to ``file`` atomically
    (tmp + rename): readers see the whole manifest or none of it."""
    os.makedirs(os.path.dirname(file), exist_ok=True)
    tmp = file + ".tmp"
    with open(tmp, "w") as f:
        json.dump({**record, "committed_unix": int(time.time())}, f)
    os.replace(tmp, file)


def read_manifests(d: str) -> list[dict]:
    """Every ``*.json`` manifest directly under ``d``, in file-name
    order; ``[]`` when ``d`` does not exist.  Driver-side: manifests
    are one small file per bucket or batch."""
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out


@contextmanager
def _dynamic_overwrite(spark: SparkSession):
    """Dynamic partition overwrite for the writes inside the block (a
    write replaces only the partitions it has rows for); the session's
    previous mode is restored afterwards."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _manifest_path(path: str, bucket: int) -> str:
    return os.path.join(path, LINEAGE_DIR, f"bucket_{bucket:05d}.json")


def completed_buckets(path: str) -> set[int]:
    d = os.path.join(path, LINEAGE_DIR)
    if not os.path.isdir(d):
        return set()
    out = set()
    for name in os.listdir(d):
        if name.startswith("bucket_") and name.endswith(".json"):
            out.add(int(name[len("bucket_"):-len(".json")]))
    return out


def merge_write(
    df: DataFrame,
    path: str,
    run_id: str = "run-0",
    n_buckets: int = 16,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    payload_col: str = "markdown",
) -> dict:
    """Write ``df`` to ``path`` with bucket-level exactly-once resume.

    Returns a summary dict: buckets written this call, buckets skipped
    (already committed), total rows written.
    """
    spark = df.sparkSession
    if is_iceberg_target(spark, path):
        return _iceberg_write(df, path)
    _require_local(path)
    done = completed_buckets(path)
    todo = sorted(set(range(n_buckets)) - done)
    if not todo:
        return {"written": [], "skipped": sorted(done), "rows": 0}

    pending = (df.withColumn("bucket", _bucket_col(key_cols, n_buckets))
               .filter(F.col("bucket").isin(todo)))

    # purge UNCOMMITTED bucket dirs before writing: dynamic partition
    # overwrite only replaces partitions present in the current df, so
    # a crashed run's partial output in a todo bucket that receives no
    # rows this time would otherwise survive the write and get audited
    # into the manifest as if it were this run's data.
    for b in todo:
        stale = os.path.join(path, f"bucket={b}")
        if os.path.isdir(stale):
            shutil.rmtree(stale)

    with _dynamic_overwrite(spark):
        pending.write.mode("overwrite").partitionBy("bucket").parquet(path)

    manifests = _bucket_manifests(spark, path, todo, run_id, n_buckets,
                                  key_cols, payload_col)
    for b, m in manifests.items():
        _commit_manifest(_manifest_path(path, b), m)
    return {"written": todo, "skipped": sorted(done),
            "rows": sum(m["row_count"] for m in manifests.values())}


def _staged_manifest_path(staging: str, bucket: int) -> str:
    # must NOT start with "bucket=" (that prefix enumerates data dirs)
    return os.path.join(staging, f"manifest_bucket_{bucket:05d}.json")


def _stage_manifests(
    spark: SparkSession,
    staging: str,
    run_id: str,
    n_buckets: int,
    key_cols: Sequence[str],
    payload_col: str,
) -> list[int]:
    """Precompute each staged bucket's lineage manifest FROM THE STAGED
    DATA and store it inside the staging dir — part of the redo log, so
    a crash at any point of the swap can always restore commit state
    (ADVICE r3: refreshing manifests only after the whole swap loop left
    a window where a bucket had neither manifest nor staging copy).
    The swap is a pure rename, so staged stats == post-swap stats.

    Only staged ``bucket=`` dirs without a staged manifest are
    computed, so the swap's own call is free after ``merge_upsert``
    staged them, and a redo log staged without manifests (pre round-4)
    gets them before its swap.  Returns the buckets staged."""
    staged = {int(name.split("=", 1)[1]) for name in os.listdir(staging)
              if name.startswith("bucket=")}
    todo = sorted(staged - {m["partition_id"]
                            for m in read_manifests(staging)})
    manifests = _bucket_manifests(spark, staging, todo, run_id, n_buckets,
                                  key_cols, payload_col)
    for b, m in manifests.items():
        _commit_manifest(_staged_manifest_path(staging, b), m)
    return todo


def _complete_swap(
    spark: SparkSession,
    path: str,
    staging: str,
    run_id: str,
    n_buckets: int,
    key_cols: Sequence[str],
    payload_col: str,
) -> list[int]:
    """Swap fully-staged bucket dirs into place and install their
    precomputed manifests.  Idempotent: callable again after a crash at
    any point (the staging dir IS the redo log — it holds each affected
    bucket's complete post-merge contents AND its manifest, so
    re-running the swap converges).

    Per-bucket commit protocol (crash-safe at every step; buckets are
    enumerated from the staged MANIFESTS, which outlive the staged data
    dir by construction):
      1. remove the bucket's live manifest -> readers stop seeing the
         bucket (``read_merged`` is manifest-gated), old data may
         still be on disk but is invisible;
      2. ``rmtree`` the old bucket dir;
      3. ``os.replace`` the staged data dir into place (atomic);
      4. ``os.replace`` the staged manifest into ``_lineage/``
         (atomic) -> the bucket is committed again.
    Crash between 3 and 4: the staged manifest is still present with
    no staged data dir, so the replay skips to step 4 and commits.
    Crash between 1 and 3: data dir + manifest both staged; replay
    redoes 1-4.  Staged buckets without a manifest get one first
    (:func:`_stage_manifests`)."""
    _stage_manifests(spark, staging, run_id, n_buckets, key_cols,
                     payload_col)
    swapped = sorted(m["partition_id"] for m in read_manifests(staging))
    os.makedirs(os.path.join(path, LINEAGE_DIR), exist_ok=True)
    for b in swapped:
        staged_dir = os.path.join(staging, f"bucket={b}")
        live_dir = os.path.join(path, f"bucket={b}")
        if os.path.isdir(staged_dir):
            mpath = _manifest_path(path, b)
            if os.path.exists(mpath):
                os.remove(mpath)  # uncommit: hide from readers
            if os.path.isdir(live_dir):
                shutil.rmtree(live_dir)
            os.replace(staged_dir, live_dir)
        # else: data already swapped by a crashed attempt — only
        # the manifest install remains
        os.replace(_staged_manifest_path(staging, b), _manifest_path(path, b))
    shutil.rmtree(staging, ignore_errors=True)
    return swapped


def recover_staged(
    spark: SparkSession,
    path: str,
    n_buckets: int = 16,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    payload_col: str = "markdown",
) -> list[int]:
    """Complete any crashed upsert's staged-but-unswapped buckets.
    Only staging dirs with a ``_STAGED`` marker (written after the
    staging job commits; the committer's ``_SUCCESS`` is disabled in
    some Hadoop configs, so the sink writes its own) are replayed;
    partial staging writes are discarded."""
    if not os.path.isdir(path):
        return []
    swapped: list[int] = []
    for name in sorted(os.listdir(path)):
        if not name.startswith(STAGING_PREFIX):
            continue
        staging = os.path.join(path, name)
        if (os.path.exists(os.path.join(staging, "_STAGED"))
                or os.path.exists(os.path.join(staging, "_SUCCESS"))):
            run_id = name[len(STAGING_PREFIX):]
            swapped += _complete_swap(spark, path, staging, run_id,
                                      n_buckets, key_cols, payload_col)
        else:
            shutil.rmtree(staging, ignore_errors=True)
    return swapped


def merge_upsert(
    df: DataFrame,
    path: str,
    run_id: str = "run-0",
    n_buckets: int = 16,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    payload_col: str = "markdown",
) -> dict:
    """True keyed MERGE: the semantics of Iceberg

        MERGE INTO target USING df ON target.key = df.key
        WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT *

    on ``key_cols`` — incoming rows REPLACE committed rows with the
    same key (copy-on-write of each affected bucket), new keys are
    inserted.  This is what ``merge_write`` (resume-only: committed
    buckets are skipped forever) deliberately does not do; use upsert
    for incremental re-extraction after e.g. a formatter fix.

    Scale shape: one anti-join shuffle on ``key_cols`` between the
    affected committed buckets and the incoming frame (both sides
    pruned to the affected buckets first), then a partitioned write.
    Only buckets that receive incoming rows are rewritten — at 100 TB
    with 2^14 buckets an incremental upsert touches a small fraction
    of the table, exactly like Iceberg's copy-on-write MERGE.

    Reference parity: lifts vision-parse's per-PDF overwrite-on-rerun
    behavior (converted_docs re-assignment, parser.py:193) to a keyed,
    distributed table contract.
    """
    spark = df.sparkSession
    if is_iceberg_target(spark, path):
        return _iceberg_upsert(df, path, key_cols)
    _require_local(path)

    # finish any crashed upsert first (staging dirs are redo logs)
    recover_staged(spark, path, n_buckets, key_cols, payload_col)

    incoming = df.withColumn("bucket", _bucket_col(key_cols, n_buckets)).persist()
    affected = sorted(
        int(r["bucket"])
        for r in incoming.select("bucket").distinct().collect()
    )  # bounded by n_buckets, never by data size
    if not affected:
        incoming.unpersist()
        return {"updated": [], "inserted": [], "rows": 0}

    done = completed_buckets(path)
    upd = [b for b in affected if b in done]

    final = incoming
    if upd:
        existing = (
            spark.read.parquet(path)
            .filter(F.col("bucket").isin(upd))
            .select(*incoming.columns)
        )
        survivors = existing.join(
            incoming.select(*key_cols), on=list(key_cols), how="left_anti"
        )
        final = incoming.unionByName(survivors)

    staging = os.path.join(path, f"{STAGING_PREFIX}{run_id}")
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    final.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    # manifests are computed from the STAGED bytes and live inside the
    # redo log BEFORE it is marked valid — the swap can then commit
    # each bucket atomically (data rename, then manifest rename)
    _stage_manifests(spark, staging, run_id, n_buckets, key_cols,
                     payload_col)
    with open(os.path.join(staging, "_STAGED"), "w") as f:
        f.write(run_id)  # staging job committed -> redo log is valid
    incoming.unpersist()

    _complete_swap(spark, path, staging, run_id, n_buckets,
                   key_cols, payload_col)
    rows = sum(m["row_count"]
               for m in read_manifests(os.path.join(path, LINEAGE_DIR))
               if m["partition_id"] in affected)
    return {"updated": upd,
            "inserted": [b for b in affected if b not in set(upd)],
            "rows": rows}


# lineage row columns: alphabetical, integers as bigint — what Spark's
# JSON reader infers from the manifests, kept for read_lineage callers
_LINEAGE_SCHEMA = ("bytes bigint, checksum string, committed_unix bigint, "
                   "input_split string, partition_id bigint, "
                   "row_count bigint, run_id string")


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    """Lineage manifests as a DataFrame (north_rule lineage rows)."""
    return spark.createDataFrame(
        read_manifests(os.path.join(path, LINEAGE_DIR)), _LINEAGE_SCHEMA)


def read_merged(spark: SparkSession, path: str) -> DataFrame:
    """Read back only COMMITTED buckets (manifest-gated, so a killed
    run's uncommitted partial bucket is invisible)."""
    done = sorted(completed_buckets(path))
    df = spark.read.parquet(path)
    return df.filter(F.col("bucket").isin([int(b) for b in done]))


def verify_lineage(spark: SparkSession, path: str,
                   key_cols: Sequence[str] = ("conv_id", "turn_idx"),
                   payload_col: str = "markdown") -> bool:
    """Audit: recompute per-bucket row counts and checksums from the
    stored data and compare them with every manifest, zero-row ones
    included (rows that appear later in an empty committed bucket are
    served by ``read_merged``, so they are audited too)."""
    lin = read_manifests(os.path.join(path, LINEAGE_DIR))
    stored = _bucket_stats(spark, path, [m["partition_id"] for m in lin],
                           key_cols, payload_col)
    return all(
        (stored[m["partition_id"]]["row_count"],
         stored[m["partition_id"]]["checksum"])
        == (m["row_count"], m["checksum"])
        for m in lin
    )

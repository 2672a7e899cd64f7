"""Resumable MERGE-emulation sink tests: exactly-once after a
simulated mid-run kill (north_rule resume requirement)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from vision_parse_spark import ExtractConfig, extract
from vision_parse_spark.sinks.merge import (
    completed_buckets,
    merge_write,
    read_lineage,
    read_merged,
    verify_lineage,
)
from vision_parse_spark.synth import synth_transcripts_spark

N_TURNS = 400
N_BUCKETS = 8


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "merged")


@pytest.fixture(scope="module")
def result_df(spark):
    df = synth_transcripts_spark(spark, N_TURNS, partitions=4)
    return extract(df, ExtractConfig()).select(
        "conv_id", "turn_idx", "markdown", "status"
    )


def test_full_write_and_readback(spark, result_df, out_dir):
    summary = merge_write(result_df, out_dir, n_buckets=N_BUCKETS)
    assert summary["written"] == list(range(N_BUCKETS))
    back = read_merged(spark, out_dir)
    assert back.count() == N_TURNS
    # key-level exactly-once
    assert back.select("conv_id", "turn_idx").distinct().count() == N_TURNS
    assert verify_lineage(spark, out_dir)


def test_lineage_rows_shape(spark, result_df, out_dir):
    merge_write(result_df, out_dir, run_id="r1", n_buckets=N_BUCKETS)
    lin = read_lineage(spark, out_dir)
    rows = lin.collect()
    assert len(rows) == N_BUCKETS
    cols = set(lin.columns)
    assert {"run_id", "partition_id", "input_split", "row_count",
            "bytes", "checksum"} <= cols
    assert sum(r["row_count"] for r in rows) == N_TURNS


def test_resume_after_simulated_kill(spark, result_df, out_dir):
    """Kill scenario: first run committed only 3 buckets (we drop the
    other manifests + their data to simulate dying mid-write); rerun
    must recompute exactly the missing buckets and end exactly-once."""
    merge_write(result_df, out_dir, run_id="r1", n_buckets=N_BUCKETS)
    # simulate: manifests for buckets >= 3 never written, their data
    # partially present (we leave bucket dirs in place -> overwrite
    # path) or absent (we delete one -> recompute path)
    for b in range(3, N_BUCKETS):
        os.remove(os.path.join(out_dir, "_lineage", f"bucket_{b:05d}.json"))
    shutil.rmtree(os.path.join(out_dir, "bucket=5"))

    assert completed_buckets(out_dir) == {0, 1, 2}
    summary = merge_write(result_df, out_dir, run_id="r2", n_buckets=N_BUCKETS)
    assert summary["written"] == [3, 4, 5, 6, 7]
    assert summary["skipped"] == [0, 1, 2]

    back = read_merged(spark, out_dir)
    assert back.count() == N_TURNS
    assert back.select("conv_id", "turn_idx").distinct().count() == N_TURNS
    assert verify_lineage(spark, out_dir)
    # committed buckets kept their original run_id (not recomputed)
    lin = {r["partition_id"]: r["run_id"]
           for r in read_lineage(spark, out_dir).collect()}
    assert lin[0] == "r1" and lin[5] == "r2"


def test_rerun_is_noop(spark, result_df, out_dir):
    merge_write(result_df, out_dir, n_buckets=N_BUCKETS)
    summary = merge_write(result_df, out_dir, n_buckets=N_BUCKETS)
    assert summary["written"] == [] and summary["rows"] == 0


def test_uncommitted_bucket_invisible_to_readers(spark, result_df, out_dir):
    merge_write(result_df, out_dir, n_buckets=N_BUCKETS)
    os.remove(os.path.join(out_dir, "_lineage", "bucket_00004.json"))
    back = read_merged(spark, out_dir)
    full = spark.read.parquet(out_dir)
    assert back.count() < full.count()  # bucket 4 filtered out
    assert back.filter(F.col("bucket") == 4).count() == 0


def test_stale_uncommitted_bucket_purged(spark, result_df, out_dir):
    """A crashed run over DIFFERENT input leaves partial files in an
    uncommitted bucket; the next run must not audit that stale data
    into its manifest (dynamic overwrite alone would keep it if the
    bucket receives no rows from the current df)."""
    merge_write(result_df, out_dir, n_buckets=N_BUCKETS)
    # simulate: bucket 6 never committed, and its dir holds stale data
    # from a previous run over different input
    os.remove(os.path.join(out_dir, "_lineage", "bucket_00006.json"))
    stale_dir = os.path.join(out_dir, "bucket=6")
    shutil.rmtree(stale_dir)
    stale = result_df.limit(5).withColumn(
        "markdown", F.lit("STALE-GARBAGE")
    ).drop("bucket") if "bucket" in result_df.columns else result_df.limit(5)
    stale.withColumn("bucket", F.lit(6)).write.parquet(stale_dir)

    # rerun with a df that sends NO rows to bucket 6 (empty filter) —
    # the stale dir must be purged, manifest must say 0 rows
    none_df = result_df.filter(F.lit(False))
    summary = merge_write(none_df, out_dir, n_buckets=N_BUCKETS)
    assert summary["written"] == [6]
    lin = {r["partition_id"]: r["row_count"]
           for r in read_lineage(spark, out_dir).collect()}
    assert lin[6] == 0
    back = read_merged(spark, out_dir)
    assert back.filter(F.col("markdown") == "STALE-GARBAGE").count() == 0


def test_first_write_empty_df(spark, result_df, out_dir):
    """All-empty first write: no readable parquet under path; the
    manifest pass must not crash and must commit 0-row buckets."""
    summary = merge_write(result_df.filter(F.lit(False)), out_dir,
                          n_buckets=N_BUCKETS)
    assert summary["written"] == list(range(N_BUCKETS))
    assert summary["rows"] == 0
    assert completed_buckets(out_dir) == set(range(N_BUCKETS))


def test_submit_job_entry_end_to_end(spark, tmp_path):
    """tools/run_extract_job.py (the spark-submit entry) composes
    read -> extract -> merge_write -> verify_lineage; drive it in
    local mode against synth input."""
    import sys

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    synth_transcripts_spark(spark, 300, partitions=2) \
        .write.mode("overwrite").parquet(inp)
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    import run_extract_job

    old_argv = sys.argv
    try:
        sys.argv = ["run_extract_job.py", inp, outp, "4"]
        run_extract_job.main()  # asserts verify_lineage internally
    finally:
        sys.argv = old_argv
    back = read_merged(spark, outp)
    assert back.count() == 300


# ---------------------------------------------------------------------------
# merge_upsert — true keyed MERGE (WHEN MATCHED THEN UPDATE)
# ---------------------------------------------------------------------------


def test_upsert_updates_committed_keys(spark, result_df, out_dir):
    """write v1 -> re-extract a subset with changed markdown -> read
    back shows the UPDATED payloads (merge_write would silently no-op)."""
    from vision_parse_spark.sinks.merge import merge_upsert

    merge_write(result_df, out_dir, run_id="v1", n_buckets=N_BUCKETS)
    # simulate a formatter fix re-extracting a subset of turns
    changed = (
        result_df.filter(F.col("turn_idx") == 0)
        .withColumn("markdown", F.concat(F.lit("FIXED:"), F.col("markdown")))
    )
    n_changed = changed.count()
    assert 0 < n_changed < N_TURNS
    summary = merge_upsert(changed, out_dir, run_id="v2",
                           n_buckets=N_BUCKETS)
    back = read_merged(spark, out_dir)
    # no duplicates introduced, total row count unchanged
    assert back.count() == N_TURNS
    assert back.select("conv_id", "turn_idx").distinct().count() == N_TURNS
    # every changed key shows the new payload
    fixed = back.filter(F.col("markdown").startswith("FIXED:"))
    assert fixed.count() == n_changed
    assert back.filter(
        (F.col("turn_idx") == 0)
        & ~F.col("markdown").startswith("FIXED:")).count() == 0
    # lineage still audits clean after the rewrite
    assert verify_lineage(spark, out_dir)
    assert summary["rows"] > 0 and summary["updated"]


def test_upsert_inserts_new_keys(spark, result_df, out_dir):
    """Keys not present in the target are inserted (WHEN NOT MATCHED)."""
    from vision_parse_spark.sinks.merge import merge_upsert

    first = result_df.filter(F.col("turn_idx") < 2)
    rest = result_df.filter(F.col("turn_idx") >= 2)
    n_first, n_rest = first.count(), rest.count()
    merge_write(first, out_dir, n_buckets=N_BUCKETS)
    merge_upsert(rest, out_dir, run_id="ins", n_buckets=N_BUCKETS)
    back = read_merged(spark, out_dir)
    assert back.count() == n_first + n_rest == N_TURNS
    assert verify_lineage(spark, out_dir)


def test_upsert_is_idempotent(spark, result_df, out_dir):
    """Re-running the same upsert converges to the same table."""
    from vision_parse_spark.sinks.merge import merge_upsert

    merge_write(result_df, out_dir, n_buckets=N_BUCKETS)
    changed = result_df.withColumn(
        "markdown", F.concat(F.lit("v2:"), F.col("markdown")))
    merge_upsert(changed, out_dir, run_id="u1", n_buckets=N_BUCKETS)
    merge_upsert(changed, out_dir, run_id="u2", n_buckets=N_BUCKETS)
    back = read_merged(spark, out_dir)
    assert back.count() == N_TURNS
    assert back.filter(~F.col("markdown").startswith("v2:")).count() == 0
    assert verify_lineage(spark, out_dir)


def test_upsert_crash_recovery_from_staging(spark, result_df, out_dir):
    """A staged-but-unswapped upsert (crash between staging write and
    swap) is completed by the next call; no data loss, no dup."""
    from vision_parse_spark.sinks.merge import (
        STAGING_PREFIX, merge_upsert, recover_staged,
    )

    merge_write(result_df, out_dir, n_buckets=N_BUCKETS)
    changed = (
        result_df.filter(F.col("turn_idx") == 1)
        .withColumn("markdown", F.lit("CRASHED-UPSERT"))
    )
    n_changed = changed.count()
    # simulate the crash: run ONLY the staging write, never the swap
    bucket = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(N_BUCKETS)).cast("int")
    incoming = changed.withColumn("bucket", bucket)
    upd = sorted(r["bucket"] for r in
                 incoming.select("bucket").distinct().collect())
    existing = (spark.read.parquet(out_dir)
                .filter(F.col("bucket").isin(upd))
                .select(*incoming.columns))
    survivors = existing.join(incoming.select("conv_id", "turn_idx"),
                              on=["conv_id", "turn_idx"], how="left_anti")
    staging = os.path.join(out_dir, STAGING_PREFIX + "crashed")
    incoming.unionByName(survivors).write.mode("overwrite") \
        .partitionBy("bucket").parquet(staging)
    with open(os.path.join(staging, "_STAGED"), "w") as f:
        f.write("crashed")  # what merge_upsert writes post-commit

    # recovery completes the swap
    swapped = recover_staged(spark, out_dir, n_buckets=N_BUCKETS)
    assert sorted(swapped) == [int(b) for b in upd]
    back = read_merged(spark, out_dir)
    assert back.count() == N_TURNS
    assert back.filter(F.col("markdown") == "CRASHED-UPSERT").count() \
        == n_changed
    assert verify_lineage(spark, out_dir)


def test_upsert_crash_recovery_mid_swap(spark, result_df, out_dir):
    """ADVICE r3 window: crash AFTER a bucket's staged data dir was
    renamed into place but BEFORE its manifest was installed.  The
    staged manifest (precomputed from staged bytes, part of the redo
    log) must let recovery commit the bucket instead of leaving it
    permanently uncommitted — and a later upsert must not drop its
    rows."""
    import shutil

    from vision_parse_spark.sinks.merge import (
        STAGING_PREFIX, _manifest_path, _stage_manifests, merge_upsert,
        read_merged, recover_staged, verify_lineage,
    )

    merge_write(result_df, out_dir, n_buckets=N_BUCKETS)
    changed = (
        result_df.filter(F.col("turn_idx") == 1)
        .withColumn("markdown", F.lit("MIDSWAP"))
    )
    n_changed = changed.count()
    bucket = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(N_BUCKETS)).cast("int")
    incoming = changed.withColumn("bucket", bucket)
    upd = sorted(int(r["bucket"]) for r in
                 incoming.select("bucket").distinct().collect())
    existing = (spark.read.parquet(out_dir)
                .filter(F.col("bucket").isin(upd))
                .select(*incoming.columns))
    survivors = existing.join(incoming.select("conv_id", "turn_idx"),
                              on=["conv_id", "turn_idx"], how="left_anti")
    staging = os.path.join(out_dir, STAGING_PREFIX + "midswap")
    incoming.unionByName(survivors).write.mode("overwrite") \
        .partitionBy("bucket").parquet(staging)
    _stage_manifests(spark, staging, "midswap", N_BUCKETS,
                     ("conv_id", "turn_idx"), "markdown")
    with open(os.path.join(staging, "_STAGED"), "w") as f:
        f.write("midswap")

    # crash mid-swap on the first bucket: data renamed, manifest NOT
    b0 = upd[0]
    os.remove(_manifest_path(out_dir, b0))
    shutil.rmtree(os.path.join(out_dir, f"bucket={b0}"))
    os.replace(os.path.join(staging, f"bucket={b0}"),
               os.path.join(out_dir, f"bucket={b0}"))

    swapped = recover_staged(spark, out_dir, n_buckets=N_BUCKETS)
    assert sorted(swapped) == upd  # b0 committed via its staged manifest
    back = read_merged(spark, out_dir)
    assert back.count() == N_TURNS
    assert back.filter(F.col("markdown") == "MIDSWAP").count() == n_changed
    assert verify_lineage(spark, out_dir)
    # a later upsert sees the bucket as committed (no silent row drop)
    again = merge_upsert(changed.withColumn(
        "markdown", F.lit("MIDSWAP2")), out_dir, run_id="after",
        n_buckets=N_BUCKETS)
    assert sorted(again["updated"]) == upd
    assert read_merged(spark, out_dir).count() == N_TURNS


def test_merge_sink_rejects_remote_paths(result_df):
    """The driver-local purge/manifest IO is honest about its scope:
    URI-scheme paths raise instead of silently no-op'ing the purge."""
    from vision_parse_spark.sinks.merge import merge_upsert

    with pytest.raises(ValueError, match="LOCAL"):
        merge_write(result_df, "s3a://bucket/table", n_buckets=4)
    with pytest.raises(ValueError, match="LOCAL"):
        merge_upsert(result_df, "hdfs://nn/table", n_buckets=4)


def test_iceberg_dispatch_with_stubbed_catalog(spark, result_df, monkeypatch):
    """Round-4 VERDICT item: when the sink target is a catalog table
    identifier whose catalog is configured, merge_write/merge_upsert
    dispatch to the DataFrameV2 writeTo(...).using('iceberg') / MERGE
    INTO path instead of the local parquet emulation (no Iceberg jar
    in this env, so the catalog is stubbed and the calls captured)."""
    from unittest.mock import MagicMock

    import pyspark.sql
    from pyspark.sql import SparkSession

    from vision_parse_spark.sinks.merge import (
        is_iceberg_target, merge_upsert,
    )

    spark.conf.set("spark.sql.catalog.demo",
                   "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert is_iceberg_target(spark, "demo.db.turns")
        assert not is_iceberg_target(spark, "/tmp/local/table")
        assert not is_iceberg_target(spark, "s3a://bucket/table")
        assert not is_iceberg_target(spark, "other.db.turns")

        writeto = MagicMock()
        # patch the CONCRETE DataFrame class (pyspark.sql.DataFrame is
        # an abstract base in PySpark 4; its subclass wins resolution)
        monkeypatch.setattr(type(result_df), "writeTo",
                            lambda self, t: writeto(t),
                            raising=True)
        sqls: list[str] = []

        # table missing -> create via writeTo(...).using("iceberg")
        monkeypatch.setattr(spark.catalog, "tableExists",
                            lambda name: False)
        out = merge_write(result_df, "demo.db.turns")
        assert out["written"] == ["demo.db.turns"]
        writeto.assert_any_call("demo.db.turns")
        chain = writeto.return_value
        chain.using.assert_called_with("iceberg")
        chain.using.return_value.create.assert_called_once()

        # table exists -> MERGE INTO on the key columns
        monkeypatch.setattr(spark.catalog, "tableExists",
                            lambda name: True)
        monkeypatch.setattr(
            SparkSession, "sql",
            lambda self, q, **kw: sqls.append(q), raising=True)
        out = merge_upsert(result_df, "demo.db.turns")
        assert out["updated"] == ["demo.db.turns"]
        assert len(sqls) == 1
        assert sqls[0].startswith("MERGE INTO demo.db.turns t USING")
        assert "t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx" in sqls[0]
        assert "WHEN MATCHED THEN UPDATE SET *" in sqls[0]
        assert "WHEN NOT MATCHED THEN INSERT *" in sqls[0]
    finally:
        spark.conf.unset("spark.sql.catalog.demo")


def test_sinks_restore_partition_overwrite_mode(spark, result_df, out_dir):
    """merge_write's dynamic partition overwrite is scoped to its own
    write: afterwards a user's overwrite + partitionBy write must
    still run in the session's own mode."""
    from vision_parse_spark.sinks.merge import merge_upsert

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        merge_write(result_df, out_dir, n_buckets=N_BUCKETS)
        assert spark.conf.get(key) == "STATIC"
        merge_upsert(result_df.filter(F.col("turn_idx") == 0), out_dir,
                     run_id="u", n_buckets=N_BUCKETS)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, prev)


def test_verify_lineage_audits_zero_row_buckets(spark, result_df, tmp_path):
    """Rows that appear in a committed zero-row bucket are served by
    read_merged, so the audit must catch them; a table whose buckets
    are all empty (no parquet file at all) audits clean."""
    empty_dir = str(tmp_path / "empty")
    merge_write(result_df.filter(F.lit(False)), empty_dir,
                n_buckets=N_BUCKETS)
    assert verify_lineage(spark, empty_dir)

    out_dir = str(tmp_path / "merged")
    bucket = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(N_BUCKETS))
    written = result_df.filter(bucket != 0)
    n = written.count()
    merge_write(written, out_dir, n_buckets=N_BUCKETS)
    lin = {r["partition_id"]: r["row_count"]
           for r in read_lineage(spark, out_dir).collect()}
    assert lin[0] == 0
    assert verify_lineage(spark, out_dir)

    src = os.path.join(out_dir, "bucket=1")
    name = next(f for f in sorted(os.listdir(src)) if f.endswith(".parquet"))
    os.makedirs(os.path.join(out_dir, "bucket=0"))
    shutil.copy(os.path.join(src, name), os.path.join(out_dir, "bucket=0"))
    assert read_merged(spark, out_dir).count() > n
    assert not verify_lineage(spark, out_dir)


def test_manifest_key_order_pinned(spark, result_df, tmp_path):
    """Every manifest kind keeps its keys, in order: the batch MERGE
    bucket manifest (also what a staged upsert installs), the
    streaming MERGE batch manifest and the streaming dedup-append
    batch manifest."""
    import json

    from vision_parse_spark.sinks.merge import merge_upsert
    from vision_parse_spark.streaming.stream import (
        foreach_batch_dedup_append, foreach_batch_merge,
    )

    def keys(path):
        with open(path) as f:
            return list(json.load(f))

    bucket_keys = ["run_id", "partition_id", "input_split", "row_count",
                   "bytes", "checksum", "committed_unix"]
    out_dir = str(tmp_path / "merged")
    merge_write(result_df, out_dir, run_id="w", n_buckets=N_BUCKETS)
    lin = os.path.join(out_dir, "_lineage")
    assert keys(os.path.join(lin, "bucket_00000.json")) == bucket_keys
    up = merge_upsert(result_df.filter(F.col("turn_idx") == 0), out_dir,
                      run_id="u", n_buckets=N_BUCKETS)
    staged = os.path.join(lin, f"bucket_{up['updated'][0]:05d}.json")
    with open(staged) as f:
        assert json.load(f)["run_id"] == "u"
    assert keys(staged) == bucket_keys

    stream_dir = str(tmp_path / "stream")
    foreach_batch_merge(stream_dir, n_buckets=4)(result_df, 0)
    assert keys(os.path.join(stream_dir, "_lineage", "stream",
                             "batch_0000000000.json")) \
        == ["batch_id", "row_count", "bytes", "checksum", "committed_unix"]

    dedup_dir = str(tmp_path / "dedup")
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    foreach_batch_dedup_append(dedup_dir)(docs, 0)
    assert keys(os.path.join(dedup_dir, "_lineage", "stream",
                             "batch_0000000000.json")) \
        == ["batch_id", "row_count", "checksum", "committed_unix"]

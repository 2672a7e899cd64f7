"""Salted two-phase aggregation equivalence + stateful streaming
conversation assembly."""

import os

import pytest
from pyspark.sql import functions as F

from vision_parse_spark.operators.aggregate import (
    conv_stats_direct,
    conv_stats_salted,
)
from vision_parse_spark.synth import synth_transcripts_spark


def test_salted_agg_equals_direct(spark):
    df = synth_transcripts_spark(spark, 2000, partitions=8)
    a = {r.conv_id: (r.n_turns, r.total_chars, r.min_text, r.max_text)
         for r in conv_stats_salted(df, salt_buckets=16).collect()}
    b = {r.conv_id: (r.n_turns, r.total_chars, r.min_text, r.max_text)
         for r in conv_stats_direct(df).collect()}
    assert a == b


def test_salted_agg_two_exchanges(spark):
    """Plan shape: exactly two hash exchanges (conv+salt, then conv) —
    the skew-spread shuffle followed by the tiny combine."""
    df = synth_transcripts_spark(spark, 500, partitions=4)
    plan = conv_stats_salted(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2


def test_stateful_conversation_assembly(spark, tmp_path):
    """Streamed assembly equals the batch path's ordered collect for
    every conversation held in one state store: synth turns 0..126
    are conv-000000 through conv-000007, each complete.  A sentinel
    turn one day later, in a second file (so a later micro-batch),
    moves the watermark past every synth conversation; the
    sentinel's own conversation stays open and never emits."""
    import datetime as dt

    from vision_parse_spark import ExtractConfig, extract
    from vision_parse_spark.schema import TRANSCRIPT_SCHEMA
    from vision_parse_spark.streaming.stateful import assembled_stream_event
    from vision_parse_spark.streaming.stream import extract_stream
    from vision_parse_spark.synth import synth_transcripts_pdf

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    n = 127  # CONV_LEN_PATTERN: 96 + 3 + 5 + 2 + 8 + 4 + 3 + 6 turns
    turns_pdf = synth_transcripts_pdf(n)
    assert turns_pdf["conv_id"].nunique() == 8
    spark.createDataFrame(turns_pdf).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    late = turns_pdf["ts"].max().to_pydatetime() + dt.timedelta(days=1)
    spark.createDataFrame([("sentinel", 0, "user", "sentinel turn", None,
                            late)], TRANSCRIPT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(in_dir)

    turns = extract_stream(spark, in_dir, ExtractConfig(),
                           max_files_per_trigger=1).select(
        "conv_id", "turn_idx", "markdown", "ts"
    )
    q = (
        assembled_stream_event(turns)
        .writeStream.format("memory").queryName("assembled")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "availableNow drain timed out"
    finally:
        q.stop()
    rows = {r.conv_id: r for r in spark.sql(
        "select * from assembled where conv_id is not null").collect()}

    batch = extract(synth_transcripts_spark(spark, n, partitions=2),
                    ExtractConfig())
    expected = (
        batch.groupBy("conv_id")
        .agg(F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(turn_idx, markdown))), x -> x.markdown), '\\n')"
        ).alias("document"), F.count(F.lit(1)).alias("n_turns"))
        .collect()
    )
    assert "sentinel" not in rows
    assert set(rows) == {e.conv_id for e in expected}
    assert len(rows) == 8
    for e in expected:
        got = rows[e.conv_id]
        assert got.n_turns == e.n_turns
        assert got.document == e.document, e.conv_id


def test_event_time_assembly_is_replay_deterministic(spark, tmp_path):
    """EventTimeTimeout variant: out-of-order turns across micro-
    batches assemble in turn order, emission is driven by the
    WATERMARK (data), and two runs over the same input produce
    identical emissions (round-2 robustness item 6)."""
    import datetime as dt
    import os

    from vision_parse_spark.schema import TRANSCRIPT_SCHEMA
    from vision_parse_spark.streaming.stateful import assembled_stream_event

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    # batch file 1: conv A out of order, conv B opener
    rows1 = [
        ("A", 2, "user", "a-two", None, ts(2)),
        ("A", 0, "user", "a-zero", None, ts(0)),
        ("A", 1, "user", "a-one", None, ts(1)),
        ("B", 0, "user", "b-zero", None, ts(3)),
    ]
    # batch file 2: much later event time -> watermark passes A's
    # (max_ts + gap), so A must emit; B's timeout also passes
    rows2 = [
        ("C", 0, "user", "c-zero", None, ts(120)),
    ]

    def run(tag):
        in_dir = str(tmp_path / f"in_{tag}")
        os.makedirs(in_dir)
        spark.createDataFrame(rows1, TRANSCRIPT_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        spark.createDataFrame(rows2, TRANSCRIPT_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .select("conv_id", "turn_idx",
                    F.col("text").alias("markdown"), "ts")
        )
        name = f"assembled_evt_{tag}"
        q = (
            assembled_stream_event(stream, gap_ms=5000,
                                   watermark="2 seconds")
            .writeStream.format("memory").queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.conv_id, r.n_turns, r.document)
                for r in spark.sql(
                    f"select * from {name} where conv_id is not null"
                ).collect()}

    got1 = run("r1")
    # conv A assembled IN TURN ORDER despite out-of-order arrival
    assert ("A", 3, "a-zero\na-one\na-two") in got1
    # emissions are a pure function of the data: replay == original
    got2 = run("r2")
    assert got1 == got2


def test_top_k_per_group_rank_and_ties(spark):
    from vision_parse_spark.operators.aggregate import top_k_per_group

    df = spark.createDataFrame(
        [("a", 1, 90), ("a", 2, 95), ("a", 3, 95), ("a", 4, 10),
         ("b", 5, 50)],
        ["grp", "id", "score"])
    out = {(r.grp, r.id): r.rank for r in
           top_k_per_group(df, "grp", "score", k=2,
                           tiebreak_col="id").collect()}
    # 95-tie breaks on lower id; 90 pushed to rank 3 and cut
    assert out == {("a", 2): 1, ("a", 3): 2, ("b", 5): 1}


def test_top_k_per_group_ascending_and_validation(spark):
    import pytest

    from vision_parse_spark.operators.aggregate import top_k_per_group

    df = spark.createDataFrame([("a", 1, 9), ("a", 2, 1)],
                               ["grp", "id", "score"])
    rows = top_k_per_group(df, "grp", "score", k=1, tiebreak_col="id",
                           descending=False).collect()
    assert [(r.id, r.rank) for r in rows] == [(2, 1)]
    with pytest.raises(ValueError):
        top_k_per_group(df, "grp", "score", k=0, tiebreak_col="id")
    # pre-existing rank column must not be silently clobbered
    with pytest.raises(ValueError):
        top_k_per_group(df.withColumn("rank", F.lit(1)),
                        "grp", "score", k=1, tiebreak_col="id")
    # ...unless routed to another name
    out = top_k_per_group(df.withColumn("rank", F.lit(7)),
                          "grp", "score", k=1, tiebreak_col="id",
                          rank_col="sel_rank").collect()
    assert out[0].rank == 7 and out[0].sel_rank == 1

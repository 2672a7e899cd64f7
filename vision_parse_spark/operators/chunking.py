"""Token-bounded document chunking with overlap — the standard
training-data windowing op (context-length packing).

Catalyst-native: tokenize with ``split``, build chunk windows with
``sequence``/``slice``/``concat_ws``, explode to one row per chunk.
No UDF, whole plan stays JVM-side; the explode is a narrow Generate
(no shuffle), so it scales with scan splits like the extraction stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import spread


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """One row per chunk: (id, chunk_idx, chunk_text, n_tokens).

    Windows start every ``max_tokens - overlap`` tokens; the final
    window may be short.  Empty/whitespace docs yield one empty chunk
    (row preserved, P1 ethos)."""
    if not 0 <= overlap < max_tokens:
        raise ValueError(f"need 0 <= overlap < max_tokens, got {overlap}, {max_tokens}")
    import math

    import pandas as pd

    from ..functions.text_stats import JAVA_WS_RE

    stride = max_tokens - overlap
    id_type = df.schema[id_col].dataType.simpleString()

    # Arrow kernel (round 7): the chunk windows were an interpreted
    # Catalyst transform/slice lambda — O(n_chunks * max_tokens) per
    # doc outside codegen.  The kernel builds string-identical chunks
    # (split(trim(text), '\\s+') tokens — Java \\s class, NO empty
    # filter, so an empty doc tokenizes to [''] and yields one empty
    # chunk, row preserved); ``n_tokens`` stays a Catalyst expression
    # over the chunk strings, unchanged.
    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, idxs, texts = [], [], []
            for rid, t in zip(pdf[id_col], pdf[text_col]):
                # Spark's trim() strips SPACE chars only (not \t\n) —
                # and unlike the ws_tokens recipe there is no empty-
                # token filter here, so the exact strip set matters
                toks = JAVA_WS_RE.split((t or "").strip(" "))
                n = len(toks)
                n_chunks = 1 + math.ceil(max(n - max_tokens, 0) / stride)
                for i in range(n_chunks):
                    ids.append(rid)
                    idxs.append(i)
                    texts.append(
                        " ".join(toks[i * stride:i * stride + max_tokens]))
            yield pd.DataFrame({id_col: ids, "chunk_idx": idxs,
                                "chunk_text": texts})

    out = spread(df).select(id_col, text_col).mapInPandas(
        kernel, f"{id_col} {id_type}, chunk_idx int, chunk_text string")
    return out.withColumn(
        "n_tokens",
        F.when(F.length("chunk_text") == 0, F.lit(0)).otherwise(
            F.size(F.split("chunk_text", " "))
        ).cast("int"),
    )


def pack_contexts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 2048,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sequence packing (concatenate-and-cut): assign each document a
    position in a virtual token stream ordered by ``id_col``, then cut
    the stream into ``capacity``-token contexts — the standard
    pretraining packing where documents may straddle a boundary.

    Returns (id, n_tokens, bin_id, bin_offset): the context the doc
    STARTS in and its offset there.  Deterministic given the id order,
    so the layout is reproducible across runs and engines.

    Scale design — distributed two-phase prefix sum (the global cumsum
    MUST NOT be an unpartitioned window, which Spark executes as
    ``Exchange SinglePartition``: the whole corpus through one task):

    1. ``repartitionByRange(id)`` + ``sortWithinPartitions(id)`` —
       ONE range exchange; partition *p* holds a contiguous id range
       and range partitions are index-ordered by key, then
       ``localCheckpoint`` pins that exact partitioning for both
       passes (and lets the context cleaner reclaim it on GC, unlike
       ``persist`` which leaks in the cache manager until unpersist).
    2. Pass A (tiny): per-partition token totals via a one-row-per-
       partition ``mapInPandas``; the driver prefix-sums the ≤
       ``num_partitions`` totals (control-plane sized, like Spark's
       own range-boundary sampling).
    3. Pass B: per-partition streaming cumsum in ``mapInPandas`` with
       each partition's global offset shipped in the closure — no
       second full-data exchange, no broadcast join, no per-row
       Python (numpy ``cumsum`` per Arrow batch).
    """
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    toks = F.expr(
        f"size(filter(split(trim({text_col}), '\\\\s+'), x -> x != ''))"
    )
    base = df.select(id_col, toks.alias("n_tokens"))
    sess = df.sparkSession
    n_parts = num_partitions or sess.sparkContext.defaultParallelism
    parted = (
        base.repartitionByRange(n_parts, id_col)
        .sortWithinPartitions(id_col)
        .localCheckpoint(eager=True)
    )

    def _totals(batches):
        pid = TaskContext.get().partitionId()
        total = 0
        for pdf in batches:
            total += int(pdf["n_tokens"].sum())
        yield pd.DataFrame({"pid": [pid], "total": [total]})

    totals = {
        r["pid"]: r["total"]
        for r in parted.mapInPandas(_totals, "pid int, total long").collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]

    out_schema = StructType(
        [parted.schema[id_col], StructField("n_tokens", parted.schema["n_tokens"].dataType)]
        + [StructField("_start", LongType())]
    )

    def _cumsum(batches):
        pid = TaskContext.get().partitionId()
        running = offsets.get(pid, 0)
        for pdf in batches:
            nt = pdf["n_tokens"].to_numpy(dtype="int64")
            if len(nt) == 0:
                continue
            starts = running + np.concatenate(([0], np.cumsum(nt)[:-1]))
            running += int(nt.sum())
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_tokens": pdf["n_tokens"],
                "_start": starts,
            })

    local = parted.mapInPandas(_cumsum, out_schema)
    start = F.col("_start")
    return local.select(
        id_col, "n_tokens",
        F.floor(start / capacity).cast("long").alias("bin_id"),
        F.pmod(start, F.lit(capacity)).cast("long").alias("bin_offset"),
    )

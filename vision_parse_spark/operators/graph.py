"""Graph centrality over corpus-derived transition graphs.

Not in the reference (no graph ops); PageRank over the event-type
transition graph is the standard "which states matter" primitive for
behavioural corpora (Page et al. 1999), and the same rank iteration
serves any bounded-node graph an LLM-data pipeline derives (domain
link graphs, near-dup cluster graphs, topic transitions).

Scale design (100 TB): the CORPUS-SIZED work is exactly one pass —
a lag window per user (one ``partitionBy(user)`` Exchange, shared
with every other per-user temporal op) that emits consecutive
``(src, dst)`` event-type pairs, followed by a BOUNDED-KEY count
aggregation (map-side combine collapses the stream to at most
|types|² + |types| rows per task before the tiny shuffle).  The rank
iteration then runs as ONE grouped-map task over that bounded
relation — outdegrees and every round in Python, no Spark job per
round — so the corpus is never touched again.

Determinism (cross-engine): every floating-point reduction in the
iteration is an ORDERED left fold from 0.0 (incoming contributions
in source-node order; dangling ranks in node order), so the task and
the DuckDB oracle replay produce BIT-IDENTICAL doubles — no
merge-order drift, the ``unigram_logprob`` lesson.  Edge extraction
orders each user's events by ``(ts, id_col)``; the unique id
tiebreak makes duplicate-timestamp pair streams deterministic (the
``top_k_per_group`` / ``asof_join`` lesson).  Events with a NULL ts
(no defined position) or a NULL type (no node to hold mass) are
dropped before the window.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def _type_pairs(events: DataFrame, user_col: str, type_col: str,
                ts_col: str, id_col: str) -> DataFrame:
    """``(src, dst, cnt)`` over consecutive events of each user, with
    ``src`` NULL for a user's first event — so every event type
    appears as some row's ``dst``."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (Window.partitionBy(user_col)
               .orderBy(us.asc(), F.col(id_col).asc()))
    return (events
            .filter(F.col(ts_col).isNotNull()
                    & F.col(type_col).isNotNull())
            .withColumn("_src", F.lag(type_col).over(w))
            .groupBy(F.col("_src").alias("src"),
                     F.col(type_col).alias("dst"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def transition_edges(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Consecutive-event transition edges with counts: one row per
    observed ``(src, dst)`` event-type pair with ``cnt`` = number of
    adjacent occurrences across all users.  NULL-ts and NULL-type
    events are dropped before pairing.  One corpus shuffle (the
    per-user window); the count agg is bounded-key."""
    return (_type_pairs(events, user_col, type_col, ts_col, id_col)
            .filter(F.col("src").isNotNull()))


def transition_pagerank(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    damping: float = 0.85,
    n_iter: int = 5,
) -> DataFrame:
    """PageRank over the event-type transition graph.

    Nodes = every event type observed (isolated types included);
    edge weight u→v = cnt(u,v) / outdeg(u).  Iteration (classic
    dangling-mass formulation)::

        rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)·cnt(u,v)/out(u)
                                  + dangling/N)

    where ``dangling`` = Σ rank(u) over nodes with no out-edges.
    Fixed ``n_iter`` synchronous iterations from the uniform start
    (1/N) — fixed-round replayability is what makes the DuckDB
    oracle a finite CTE chain (the ``kmeans_fit`` pattern).

    Output: ``(node, rank)`` — one row per event type, ranks summing
    to 1 (up to float).  All per-node incoming sums and the dangling
    sum are ordered folds → bit-identical across engines.  Building
    the DataFrame runs no Spark job; empty events give no rows.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"transition_pagerank: damping {damping} "
                         "must be in (0, 1)")
    if n_iter < 1:
        raise ValueError(f"transition_pagerank: n_iter {n_iter} < 1")

    def power_iterate(pdf: pd.DataFrame) -> pd.DataFrame:
        nodes = sorted(set(pdf["dst"]))
        edges = sorted(pdf.dropna(subset=["src"])
                          .itertuples(index=False, name=None))
        outdeg: dict = {}
        for u, _, c in edges:
            outdeg[u] = outdeg.get(u, 0) + c
        dangling = [v for v in nodes if v not in outdeg]
        nd = float(len(nodes))
        rank = {v: 1.0 / nd for v in nodes}
        # explicit left folds, not sum(): from Python 3.12 on, sum()
        # of floats is compensated and would not round like the oracle
        for _ in range(n_iter):
            inc = dict.fromkeys(nodes, 0.0)
            for u, v, c in edges:        # src order within each dst
                inc[v] += rank[u] * c / outdeg[u]
            dang = 0.0
            for v in dangling:
                dang += rank[v]
            rank = {v: (1.0 - damping) / nd
                    + damping * (inc[v] + dang / nd) for v in nodes}
        return pd.DataFrame({"node": nodes,
                             "rank": [rank[v] for v in nodes]})

    node_t = events.schema[type_col].dataType.simpleString()
    return (_type_pairs(events, user_col, type_col, ts_col, id_col)
            # one group; a bare integer literal would read as an ordinal
            .groupBy(F.lit("all").alias("_g"))
            .applyInPandas(power_iterate,
                           schema=f"node {node_t}, rank double"))


def transition_pagerank_sql(
    damping: float = 0.85,
    n_iter: int = 5,
    src: str = "events",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """DuckDB replay of :func:`transition_pagerank` — the fixed
    iteration count unrolled as CTEs (the ``kmeans_fit`` oracle
    pattern), every float constant cast to DOUBLE in-engine and
    every reduction an ordered ``list_reduce`` left fold seeded by a
    prepended 0.0 (bit-identical to the task's ordered sums from
    0.0)."""
    d = f"CAST({damping} AS DOUBLE)"
    fold = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list({val} ORDER BY {ord})), (a, b) -> a + b)")
    ctes = [f"""base AS (
      SELECT {user_col} AS u, {id_col} AS eid,
             epoch_us({ts_col}) AS us, {type_col} AS et
      FROM {src}
      WHERE {ts_col} IS NOT NULL AND {type_col} IS NOT NULL)""",
            """pairs AS (
      SELECT lag(et) OVER (PARTITION BY u ORDER BY us, eid) AS src,
             et AS dst
      FROM base)""",
            """edges AS (
      SELECT src, dst, count(*) AS cnt
      FROM pairs WHERE src IS NOT NULL GROUP BY src, dst)""",
            """outd AS (
      SELECT src, CAST(sum(cnt) AS BIGINT) AS outdeg
      FROM edges GROUP BY src)""",
            """e AS (
      SELECT edges.src, edges.dst, edges.cnt, outd.outdeg
      FROM edges JOIN outd USING (src))""",
            """nodes AS (SELECT DISTINCT et AS node FROM base)""",
            """nn AS (
      SELECT CAST(count(*) AS DOUBLE) AS nd FROM nodes)""",
            """r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) / nd AS rank
      FROM nodes, nn)"""]
    for i in range(1, n_iter + 1):
        p = f"r{i - 1}"
        inc_fold = fold.format(val="c", ord="src")
        dang_fold = fold.format(val="rank", ord="node")
        ctes.append(f"""c{i} AS (
      SELECT e.dst AS node, e.src AS src,
             {p}.rank * e.cnt / e.outdeg AS c
      FROM {p} JOIN e ON {p}.node = e.src)""")
        ctes.append(f"""i{i} AS (
      SELECT node, {inc_fold} AS inc FROM c{i} GROUP BY node)""")
        ctes.append(f"""d{i} AS (
      SELECT COALESCE({dang_fold}, CAST(0.0 AS DOUBLE)) AS dang
      FROM {p} WHERE node NOT IN (SELECT src FROM e))""")
        ctes.append(f"""r{i} AS (
      SELECT nodes.node,
             (CAST(1.0 AS DOUBLE) - {d}) / nd
             + {d} * (COALESCE(inc, CAST(0.0 AS DOUBLE))
                      + dang / nd) AS rank
      FROM nodes LEFT JOIN i{i} USING (node), d{i}, nn)""")
    return ("WITH " + ",\n    ".join(ctes)
            + f"\n    SELECT node, rank FROM r{n_iter}")


def cohort_retention_sql(
    src: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB replay of :func:`cohort_retention`.  Both engines
    truncate to ISO-Monday weeks, so the day diff is always a
    multiple of 7 and the integer division is exact (``//`` guards
    against DuckDB's round-on-cast anyway)."""
    return f"""
        WITH du AS (
          SELECT DISTINCT {user_col} AS u,
                 CAST(date_trunc('week', {ts_col}) AS DATE) AS wk
          FROM {src} WHERE {ts_col} IS NOT NULL),
        cw AS (
          SELECT u, min(wk) AS cohort_week FROM du GROUP BY u)
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, wk) // 7
                    AS INTEGER) AS week_offset,
               count(*) AS n_users
        FROM du JOIN cw USING (u)
        GROUP BY cohort_week, week_offset
    """


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of
    their first event; for each (cohort week, week offset), how many
    of that cohort were active that week.

    Output: ``(cohort_week date, week_offset int, n_users long)``
    with ``week_offset`` = whole weeks since the cohort week;
    offset 0 always carries the full cohort size.  All counts are
    integers — hash-exact across engines.

    Scale shape: TWO bounded shuffles — ``groupBy(user)`` collapses
    each user to one row (min week + the distinct-week set via
    ``collect_set``, bounded by the calendar, map-side combined),
    then the exploded (cohort, offset) pairs aggregate on a key
    bounded by weeks² — no distinct over the raw event stream, no
    join back, no window.  NULL-ts events are dropped."""
    wk = F.to_date(F.date_trunc("week", F.col(ts_col)))
    per_user = (events
                .filter(F.col(ts_col).isNotNull())
                .select(user_col, wk.alias("_wk"))
                .groupBy(user_col)
                .agg(F.min("_wk").alias("cohort_week"),
                     F.collect_set("_wk").alias("_wks")))
    return (per_user
            .select("cohort_week",
                    F.explode("_wks").alias("_wk"))
            .select("cohort_week",
                    (F.datediff("_wk", "cohort_week") / 7)
                    .cast("int").alias("week_offset"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_users")))

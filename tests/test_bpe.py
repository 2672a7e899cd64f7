"""BPE merge learning / encoding vs a direct python model."""

import re
from collections import Counter

import pytest


def _toks(text):
    return [t for t in re.split(r"[ \t\n\x0b\f\r]+",
                                (text or "").strip().lower()) if t]


def _apply_merge(syms, a, b):
    out = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def _bpe_py(texts, n_merges):
    vocab = Counter()
    for t in texts:
        vocab.update(_toks(t))
    words = {w: list(w) for w in vocab}
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += vocab[w]
        cands = sorted(((f, p) for p, f in pairs.items() if f >= 2),
                       key=lambda x: (-x[0], x[1]))
        if not cands:
            break
        freq, (a, b) = cands[0]
        merges.append((rank, a, b, freq))
        words = {w: _apply_merge(s, a, b) for w, s in words.items()}
    return merges


def test_bpe_merges_match_python_model_on_real_docs(spark):
    from vision_parse_spark.operators.bpe import bpe_merges

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = [(r.rank, r.left_sym, r.right_sym, r.freq)
           for r in bpe_merges(docs, n_merges=10).collect()]
    texts = [t for (t,) in docs.select("text").collect()]
    assert got == _bpe_py(texts, 10)


def test_bpe_greedy_chain_and_tiebreak(spark):
    """Run-of-same-symbol pairing is greedy left-to-right (aaaa ->
    aa,aa); frequency ties break on the lexicographically smallest
    pair."""
    from vision_parse_spark.operators.bpe import bpe_apply, bpe_merges

    df = spark.createDataFrame(
        [(0, "aaaa aaaa")], ["doc_id", "text"])
    m = bpe_merges(df, n_merges=2).collect()
    assert (m[0].left_sym, m[0].right_sym, m[0].freq) == ("a", "a", 6)
    # after (a,a): words are [aa, aa]; pair (aa, aa) freq 2
    assert (m[1].left_sym, m[1].right_sym, m[1].freq) == ("aa", "aa", 2)

    out = bpe_apply(df, [("a", "a"), ("aa", "aa")]).collect()[0]
    assert out.bpe_tokens == ["aaaa", "aaaa"]

    # tie: 'ab' and 'cd' both occur twice -> (a,b) < (c,d) wins
    df2 = spark.createDataFrame([(0, "ab cd ab cd")], ["doc_id", "text"])
    m2 = bpe_merges(df2, n_merges=1).collect()
    assert (m2[0].left_sym, m2[0].right_sym) == ("a", "b")

    # ties break in code-point order: U+FF41 < U+1F600, though in
    # UTF-16 U+1F600's lead surrogate 0xD83D sorts below 0xFF41;
    # quote and backslash symbols stay literal (no SQL escaping)
    for text in ("\uff41b \U0001f600b \uff41b \U0001f600b",
                 r"a\'b it's x\ny a\'b it's x\ny a\'b"):
        df3 = spark.createDataFrame([(0, text)], ["doc_id", "text"])
        m3 = [(r.rank, r.left_sym, r.right_sym, r.freq)
              for r in bpe_merges(df3, n_merges=8).collect()]
        assert m3 == _bpe_py([text], 8), text


def test_bpe_merges_build_with_no_spark_job(spark):
    """The fit is one grouped-map task: building the DataFrame runs no
    job, and materializing it a bounded few."""
    from vision_parse_spark.operators.bpe import bpe_merges

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    m, n = jobs("bpe-build", lambda: bpe_merges(docs, n_merges=12))
    assert n == 0, n
    _, n = jobs("bpe-write", lambda: m.write.format("noop")
                .mode("overwrite").save())
    assert 0 < n <= 6, n


def test_bpe_early_stop_and_validation(spark):
    """No pair with freq >= 2 -> zero merges; n_merges < 1 raises."""
    from vision_parse_spark.operators.bpe import bpe_merges

    df = spark.createDataFrame([(0, "ab cd ef")], ["doc_id", "text"])
    assert bpe_merges(df, n_merges=5).count() == 0
    with pytest.raises(ValueError):
        bpe_merges(df, n_merges=0)


def test_bpe_apply_matches_python_encoder(spark):
    """Encoding real docs with the learned merges equals the python
    encoder (merges applied in rank order, greedy within word)."""
    from vision_parse_spark.operators.bpe import bpe_apply, bpe_merges

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(50))
    merges = [(r.left_sym, r.right_sym)
              for r in bpe_merges(docs, n_merges=6).collect()]
    got = {r.doc_id: r.bpe_tokens
           for r in bpe_apply(docs, merges).collect()}
    for doc_id, text in docs.select("doc_id", "text").collect():
        pieces = []
        for w in _toks(text):
            syms = list(w)
            for a, b in merges:
                syms = _apply_merge(syms, a, b)
            pieces.extend(syms)
        assert got[doc_id] == pieces, doc_id


def test_bpe_fertility_hand_corpus(spark):
    from vision_parse_spark.operators.bpe import bpe_fertility

    df = spark.createDataFrame(
        [("X", "ab ab c"), ("Y", "   ")], ["source", "text"])
    rows = {r.source: r
            for r in bpe_fertility(df, [("a", "b")]).collect()}
    x = rows["X"]
    assert (x.n_docs, x.n_words, x.n_chars, x.n_pieces) == (1, 3, 5, 3)
    assert x.pieces_per_word == 1.0
    assert x.chars_per_piece == round(5 / 3, 6)
    y = rows["Y"]          # wordless doc still counts, ratios NULL
    assert (y.n_docs, y.n_words, y.n_pieces) == (1, 0, 0)
    assert y.pieces_per_word is None and y.chars_per_piece is None


def test_bpe_fertility_null_text_counts_as_empty(spark):
    from vision_parse_spark.operators.bpe import bpe_fertility

    df = spark.createDataFrame(
        [("X", "ab"), ("X", None)], "source string, text string")
    r = bpe_fertility(df, [("a", "b")]).collect()[0]
    # NULL doc counted, never size(NULL) = -1 corrupting the sums
    assert (r.n_docs, r.n_words, r.n_pieces) == (2, 1, 1)

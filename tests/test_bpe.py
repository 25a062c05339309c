"""Learned-BPE tokenizer (fixtures/bpe_vocab.py via tools/train_bpe.py):
the replace-chain encoder must agree with a pure-Python replay, survive
edge inputs, and be losslessly decodable through TOKEN_SURFACE."""

from pyspark.sql import functions as F

from logboost_spark.fixtures.bpe_vocab import MERGES, N_MERGES, TOKEN_SURFACE
from logboost_spark.functions.textfns import bpe_encode, bpe_token_count


def py_encode(s: str) -> str:
    for a, b, n in MERGES:
        s = s.replace(a + b, n)
    return s


def decode(s: str) -> str:
    return "".join(TOKEN_SURFACE.get(c, c) for c in s)


def test_vocab_shape():
    assert N_MERGES == len(MERGES) > 0
    news = [n for _, _, n in MERGES]
    # each merged token is a distinct single private-use-area char
    assert len(set(news)) == len(news)
    assert all(len(n) == 1 and 0xE000 <= ord(n) < 0xF8FF for n in news)
    # surface strings expand recursively (no dangling symbols)
    for n in news:
        assert all(ord(c) < 0xE000 for c in TOKEN_SURFACE[n]), n


def test_spark_matches_python_and_decodes(spark):
    texts = [
        "the customer table joins the orders table",  # in-vocab text
        "",  # empty → 0 tokens
        "   ",
        "ZZZ@@@ unseen čhärs 北京",  # outside training alphabet
        "scan scan scan scan",  # repetition
        "a",  # single char
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    rows = df.select(
        "i", "t",
        bpe_encode(F.col("t")).alias("enc"),
        bpe_token_count(F.col("t")).alias("n"),
    ).collect()
    for r in rows:
        want = py_encode(texts[r.i])
        assert r.enc == want, texts[r.i]
        assert r.n == len(want)
        # lossless: expanding every symbol reproduces the input exactly
        assert decode(r.enc) == texts[r.i]


def test_compression_on_documents(spark):
    """The learned vocab must actually compress in-domain text (>2x) and
    never exceed one token per char on any input."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    agg = d.select(
        F.sum(F.length("text")).alias("chars"),
        F.sum(bpe_token_count(F.col("text"))).alias("toks"),
    ).collect()[0]
    assert agg.toks <= agg.chars
    assert agg.chars / agg.toks > 2.0


def test_bpe_decode_roundtrip_property():
    """Property (pure Python, no Spark): encode→decode is lossless for
    ARBITRARY text, including chars outside the training alphabet and
    adversarial near-vocab strings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # exclude the PUA token space itself (reserved; the trainer asserts
    # the corpus never contains it) and lone surrogates
    chars = st.characters(
        blacklist_categories=("Cs",), blacklist_characters=[chr(c) for c in range(0xE000, 0xE000 + 256)]
    )

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet=chars, max_size=200))
    def check(s):
        assert decode(py_encode(s)) == s

    check()


def test_lm_score_ranks_quality_and_matches_python(spark):
    """In-domain text must outscore out-of-vocab gibberish; empty docs
    score NULL; the Spark fold equals a pure-Python replay."""
    import math

    from logboost_spark.fixtures.bpe_vocab import TOKEN_LOGPROB, UNK_LOGPROB
    from logboost_spark.functions.textfns import bpe_lm_score_from_encoded

    texts = [
        "the customer table joins the orders table",  # in-domain
        "zzqx jjvw qqpp zxzx",                        # gibberish
        "",                                            # empty -> NULL
        "北京 čhärs ∆∆∆",                              # fully OOV
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    score = bpe_lm_score_from_encoded(bpe_encode(F.col("t")))
    got = {r.i: r.s for r in df.select("i", score.alias("s")).collect()}

    def py_score(s):
        enc = py_encode(s)
        if not enc:
            return None
        return sum(TOKEN_LOGPROB.get(c, UNK_LOGPROB) for c in enc) / len(enc)

    for i, t in enumerate(texts):
        want = py_score(t)
        if want is None:
            assert got[i] is None
        else:
            assert math.isclose(got[i], want, rel_tol=1e-12), (i, got[i], want)
    # in-domain text dominates both kinds of junk (their relative order
    # depends on how many in-vocab spaces/letters each happens to contain)
    assert got[0] > got[1] and got[0] > got[3]


def test_scalable_encoder_equals_chain_pure_python():
    """The priority-queue encoder must be byte-identical to the replace
    chain on adversarial inputs — overlap runs, near-vocab strings,
    arbitrary unicode — at the fixture vocab."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logboost_spark.functions.textfns import _bpe_encode_str, bpe_ranks

    ranks = bpe_ranks(MERGES)
    fixed = ["", "a", "aaa", "aaaa", "the the the", "  s s  s", "aaaa bbbb"]
    for s in fixed:
        assert _bpe_encode_str(s, ranks) == py_encode(s), s

    chars = st.characters(
        blacklist_categories=("Cs",),
        blacklist_characters=[chr(c) for c in range(0xE000, 0xE000 + 2048)],
    )

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet=chars, max_size=300))
    def check(s):
        assert _bpe_encode_str(s, ranks) == py_encode(s)

    check()


def test_scalable_encoder_2k_vocab_and_spark_udf(spark):
    """Production-vocab path: the 2000-merge JSON table gives identical
    output to its replace chain (pure Python); at the fixture vocab the
    Python encoder and the Spark pandas UDF's count match the JVM replace
    chain per document."""
    import os

    from logboost_spark.functions.textfns import (
        _bpe_encode_str,
        _make_str_encoder,
        bpe_ranks,
        load_merges_json,
        make_bpe_token_count_udf,
    )

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data", "lookups", "bpe_merges_2k.json",
    )
    m2k = load_merges_json(path)
    assert len(m2k) == 2000
    r2k = bpe_ranks(m2k)

    def chain(s, merges):
        for a, b, n in merges:
            s = s.replace(a + b, n)
        return s

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = [r.text for r in d.limit(50).collect()] + ["", "aaa", "scan scan"]
    for s in texts:
        assert _bpe_encode_str(s, r2k) == chain(s, m2k)

    # fixture vocab: the Python encoder and the Spark UDF's count vs the
    # JVM replace chain, every doc
    enc = _make_str_encoder(MERGES)
    cnt = make_bpe_token_count_udf()
    rows = d.select(
        "text",
        bpe_encode(F.col("text")).alias("jvm"),
        bpe_token_count(F.col("text")).alias("n_jvm"),
        cnt(F.col("text")).alias("n_py"),
    ).collect()
    assert rows and all(
        enc(r.text) == r.jvm and r.n_jvm == r.n_py for r in rows
    )

    # 2k vocab must compress strictly better than the 192 fixture vocab
    agg = d.select(
        F.sum(bpe_token_count(F.col("text"))).alias("t192"),
        F.sum(make_bpe_token_count_udf(m2k)(F.col("text"))).alias("t2k"),
    ).collect()[0]
    assert agg.t2k < agg.t192


def test_encoder_selector_chain_vs_heap_equivalence():
    """_make_str_encoder picks the C replace chain for small vocabs and
    the heap for large ones; both must stay byte-identical (the r07
    optimization swapped the small-vocab path)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logboost_spark.functions.textfns import (
        _REPLACE_CHAIN_MAX_MERGES,
        _bpe_encode_str,
        _make_str_encoder,
        bpe_ranks,
        load_merges_json,
    )
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data", "lookups", "bpe_merges_2k.json",
    )
    m2k = load_merges_json(path)
    assert len(m2k) <= _REPLACE_CHAIN_MAX_MERGES  # bench rides the chain
    enc_chain = _make_str_encoder(m2k)
    ranks = bpe_ranks(m2k)

    fixed = ["", "a", "aaaa", "the the the", "scan scan scan", "  s s  s"]
    for s in fixed:
        assert enc_chain(s) == _bpe_encode_str(s, ranks), s

    chars = st.characters(
        blacklist_categories=("Cs",),
        blacklist_characters=[chr(c) for c in range(0xE000, 0xE000 + 4096)],
    )

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet=chars, max_size=200))
    def check(s):
        assert enc_chain(s) == _bpe_encode_str(s, ranks)

    check()

    # a vocab past the bound must select the heap encoder
    big = m2k + [
        (chr(0xE000 + 2000 + i), chr(0xE000 + 2001 + i), chr(0xE800 + i))
        for i in range(_REPLACE_CHAIN_MAX_MERGES)
    ]
    enc_big = _make_str_encoder(big)
    assert enc_big("the the the") == _bpe_encode_str("the the the", bpe_ranks(big))

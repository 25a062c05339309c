"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting. All native column
expressions (JVM regex / array ops), oracle-expressible in ANSI SQL.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import MERSENNE_P, md5_long

#: stopword markers per language for the n-gram/markers heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def whitespace_token_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish proxy: count of letter-runs, digit-runs, and
    punctuation singletons (a deterministic BPE stand-in)."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1)
    )


def bpe_encode(text: Column) -> Column:
    """REAL learned-BPE encoding (merge table trained offline by
    tools/train_bpe.py — Gage 1994 / Sennrich 2016). Each learned token
    is one private-use-area char, so applying the merge list in rank
    order as literal string replacements IS the tokenizer: the whole
    thing stays a JVM-side ``replace`` chain (whole-stage codegen, no
    Python, no UDF) and the DuckDB oracle replays the identical chain.
    Every char of the result is one token; characters outside the
    training alphabet pass through as single-char tokens.

    Scale honesty: the chain is O(len × n_merges) per doc — ~190 string
    passes is cheap JVM work and beats an Arrow round-trip at this vocab
    size, but it does NOT extrapolate to a production 50k-merge vocab;
    there the right shape is mapInPandas batching a real BPE
    implementation (priority-queue, O(len log len)) with this fixture's
    merge list as its model."""
    from ..fixtures.bpe_vocab import MERGES

    c = text
    for a, b, n in MERGES:
        c = F.replace(c, F.lit(a + b), F.lit(n))
    return c


def bpe_token_count(text: Column) -> Column:
    """Token count under the learned BPE vocabulary = length of the
    encoded symbol string (one char per token)."""
    return F.length(bpe_encode(text))


def bpe_ranks(merges) -> dict:
    """Merge list → ``{(left, right): (rank, new_symbol)}`` lookup for
    the priority-queue encoder. A repeated (left, right) pair would
    silently last-win here while the definitional replace chain (and the
    DuckDB oracle) applies the FIRST occurrence — impossible from
    tools/train_bpe.py output, so fail loudly on external/hand-edited
    tables instead of mis-tokenizing (ADVICE r05)."""
    ranks = {(a, b): (i, n) for i, (a, b, n) in enumerate(merges)}
    if len(ranks) != len(merges):
        raise ValueError(
            "duplicate (left, right) pair in BPE merge table: the "
            "priority-queue encoder would diverge from the rank-order "
            "replace chain"
        )
    return ranks


def _bpe_encode_str(s: str, ranks: dict) -> str:
    """Priority-queue BPE application: O(len · log len) per document,
    independent of vocabulary size — the production-vocab shape the
    replace chain (O(len · n_merges)) can't reach.

    PROVABLY identical output to applying the merge list in rank order
    as global left-to-right replacements (``bpe_encode`` /
    ``py_encode``): a merge's output symbol is a fresh private-use
    char, and any merge whose inputs mention that symbol was
    necessarily learned LATER — so no merge can ever create an
    occurrence of a lower-ranked pair, and processing occurrences
    globally in (rank, position) order is exactly the replace chain.
    Overlaps ("aaa" under (a,a)) resolve left-to-right in both.
    """
    n = len(s)
    if n < 2:
        return s
    import heapq

    sym = list(s)
    # doubly-linked list over live positions
    nxt = list(range(1, n)) + [-1]
    prv = [-1] + list(range(n - 1))
    alive = [True] * n
    heap = []
    for i in range(n - 1):
        r = ranks.get((sym[i], sym[i + 1]))
        if r is not None:
            heap.append((r[0], i, sym[i], sym[i + 1]))
    heapq.heapify(heap)
    push = heapq.heappush
    pop = heapq.heappop
    while heap:
        rank, i, a, b = pop(heap)
        # stale-entry check: the pair must still exist at i exactly as
        # recorded (the b side may have been merged away, or sym[i]
        # itself replaced by a later merge at this position)
        if not alive[i] or sym[i] != a:
            continue
        j = nxt[i]
        if j == -1 or sym[j] != b:
            continue
        new = ranks[(a, b)][1]
        sym[i] = new
        alive[j] = False
        k = nxt[j]
        nxt[i] = k
        if k != -1:
            prv[k] = i
            r = ranks.get((new, sym[k]))
            if r is not None:
                push(heap, (r[0], i, new, sym[k]))
        p = prv[i]
        if p != -1:
            r = ranks.get((sym[p], new))
            if r is not None:
                push(heap, (r[0], p, sym[p], new))
    return "".join(c for c, ok in zip(sym, alive) if ok)


#: vocab size up to which the C-level replace chain beats the Python
#: heap encoder. The chain is O(len·n_merges) but each pass is a native
#: str.find/str.replace (SIMD substring search); the heap is
#: O(len·log len) but every step is interpreted Python. Measured on the
#: sf0.1 documents fixture at 2000 merges: replace chain 2.2 Mchar/s vs
#: heap 1.4 Mchar/s per core — crossover is far above this bound, while
#: a 50k-merge production vocabulary still rides the heap path.
_REPLACE_CHAIN_MAX_MERGES = 4096


def _make_str_encoder(merges):
    """str → encoded-symbol-string callable; picks the faster of the two
    PROVABLY equivalent encoders for the vocab size (see
    :func:`_bpe_encode_str`'s equivalence argument; cross-checked by
    tests/test_bpe.py and the doc_bpe_scalable* driver gates)."""
    ranks = bpe_ranks(merges)  # keeps the duplicate-pair fail-loud guard
    if len(merges) <= _REPLACE_CHAIN_MAX_MERGES:
        pairs = [(a + b, n) for a, b, n in merges]

        def _enc_chain(s: str) -> str:
            for ab, n in pairs:
                if ab in s:
                    s = s.replace(ab, n)
            return s

        return _enc_chain
    return lambda s: _bpe_encode_str(s, ranks)


def make_bpe_token_count_udf(merges=None):
    """Arrow-batched scalar pandas UDF counting the learned-BPE tokens of
    each text: the fixture vocabulary by default, or ``merges`` (e.g. the
    2k-merge JSON under data/lookups/). The encoder is the replace chain
    at fixture/2k vocab sizes and the priority-queue heap for production
    vocabularies — identical output, see :func:`_make_str_encoder`. The
    merge table rides the task closure; only the count comes back
    through Arrow."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    if merges is None:
        from ..fixtures.bpe_vocab import MERGES as merges
    enc = _make_str_encoder(merges)

    @pandas_udf(T.LongType())
    def _cnt(texts: pd.Series) -> pd.Series:
        return texts.map(lambda s: None if s is None else len(enc(s)))

    return _cnt


def load_merges_json(path: str) -> list:
    """Load a merge table written by ``tools/train_bpe.py --json``."""
    import json

    with open(path) as f:
        obj = json.load(f)
    return [tuple(m) for m in obj["merges"]]


def bpe_lm_score_from_encoded(enc: Column) -> Column:
    """CCNet-style perplexity-filter signal (Wenzek et al. 2019,
    arXiv:1911.00359) over a ``bpe_encode``-d symbol string: mean
    unigram log-prob of the doc's BPE tokens under the training-corpus
    LM (fixtures/bpe_vocab.TOKEN_LOGPROB, Laplace add-1; unseen symbols
    get UNK_LOGPROB). Higher = more in-domain; filter the low tail.
    Entirely JVM-side: encode is the replace chain, the log-prob table
    is a constant-foldable literal map, and the fold over tokens is a
    sequential array aggregate — bit-identical to the DuckDB oracle's
    list_aggregate fold. Empty docs score NULL.

    Stage ``bpe_encode`` into a column once when the token count
    (``F.length``) is needed too: inlining both ran the ~190-pass
    replace chain twice per row (Catalyst does not CSE across aggregate
    expressions)."""
    from ..fixtures.bpe_vocab import TOKEN_LOGPROB, UNK_LOGPROB

    toks = F.split(enc, "")
    m = F.map_from_arrays(
        F.array(*[F.lit(k) for k in TOKEN_LOGPROB]),
        F.array(*[F.lit(v) for v in TOKEN_LOGPROB.values()]),
    )
    total = F.aggregate(
        toks,
        F.lit(0.0).cast("double"),
        lambda a, c: a + F.coalesce(F.element_at(m, c), F.lit(UNK_LOGPROB)),
    )
    n = F.length(enc)
    return F.when(n > 0, total / n)


def _marker_hits(text: Column, words: list[str]) -> Column:
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(text: Column) -> Column:
    """Marker-word vote → language code, 'und' when nothing matches.
    Ties break by language-code order (deterministic)."""
    scores = [(code, _marker_hits(text, words)) for code, words in sorted(LANG_MARKERS.items())]
    best_code = F.lit("und")
    best_score = F.lit(0)
    for code, s in scores:
        is_better = s > best_score
        best_code = F.when(is_better, F.lit(code)).otherwise(best_code)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_code


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword ratios (doc-quality heuristics)."""
    t = F.trim(text)
    n_chars = F.length(t)
    toks = F.split(F.lower(t), r"\s+")
    n_tokens = F.when(n_chars == 0, F.lit(0)).otherwise(F.size(toks))
    n_punct = F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", ""))
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    mean_tok_len = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6),
        "mean_token_len": F.round(mean_tok_len, 6),
    }


def quality_score(text: Column) -> Column:
    """Single [0,1] score: rewards stopword presence and sane token
    lengths, penalizes punctuation soup. Deterministic, SQL-equivalent."""
    f = quality_features(text)
    score = (
        F.least(f["stopword_ratio"] * 4, F.lit(1.0)) * 0.4
        + F.when((f["mean_token_len"] >= 3) & (f["mean_token_len"] <= 10), 0.4).otherwise(0.0)
        + F.when(f["punct_ratio"] < 0.2, 0.2).otherwise(0.0)
    )
    return F.round(score, 6)


def doc_fingerprint(text: Column) -> Column:
    """Position-weighted token-hash fingerprint:
    sum((i+1) · h(token_i)) mod P — order-sensitive (unlike a set hash),
    cheap, and expressible identically in the SQL oracle."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    weighted = F.transform(
        toks, lambda t, i: F.pmod((i + 1) * F.pmod(md5_long(t), F.lit(MERSENNE_P)), F.lit(MERSENNE_P))
    )
    return F.aggregate(
        weighted,
        F.lit(0).cast("bigint"),
        lambda acc, v: F.pmod(acc + v, F.lit(MERSENNE_P)),
    )


#: PII redaction patterns, applied in ORDER (emails first — an address
#: contains dot-runs a later pattern could mangle; IPs before phones —
#: the phone digit-group pattern would otherwise eat dotted quads).
#: Plain RE2-compatible syntax so the DuckDB oracle replays them
#: verbatim (no lookaround, no backrefs).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # Country/area prefix is OPTIONAL — requiring it made the most common
    # plain formats leak straight through the scrub ('555-123-4567',
    # '(555) 123-4567', '555.123.4567'). Prefix and its separator form ONE
    # optional group so a bare number can't consume the preceding space as
    # a "separator". Still RE2-safe (no lookaround/backrefs).
    ("phone", r"(?:\+?\d{1,3}[-. ]?)?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
]


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-type match counts on the ORIGINAL text (pre-scrub)."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        for name, pat, _ in PII_PATTERNS
    }


def pii_scrub(text: Column) -> Column:
    """Typed redaction: sequential global regexp_replace in
    PII_PATTERNS order — the standard training-data scrub pass, all
    JVM-side regex (no Python)."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out

"""Deterministic sampling / splitting / dedup application."""

from pyspark.sql import functions as F

from logboost_spark.operators.sampling import apply_dedup, hash_sample, split_assign


def _docs(spark, n=2000):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def test_hash_sample_deterministic_and_near_rate(spark):
    d = _docs(spark)
    a = {r.doc_id for r in hash_sample(d, 10.0).collect()}
    b = {r.doc_id for r in hash_sample(d, 10.0).collect()}
    assert a == b                                   # same keys every run
    assert 0.07 <= len(a) / 2000 <= 0.13            # near the nominal rate
    # repartitioning must not change membership (per-partition RNG would)
    c = {r.doc_id for r in hash_sample(d.repartition(13), 10.0).collect()}
    assert c == a
    # a different salt draws an (almost surely) different sample
    s2 = {r.doc_id for r in hash_sample(d, 10.0, salt="other").collect()}
    assert s2 != a
    # rate monotonicity: the 10% sample nests inside the 20% sample
    big = {r.doc_id for r in hash_sample(d, 20.0).collect()}
    assert a <= big


def test_split_assign_partitions_exactly(spark):
    d = _docs(spark)
    out = split_assign(d).collect()
    assert len(out) == 2000                          # every row assigned
    counts = {}
    for r in out:
        assert r.split in {"train", "val", "test"}
        counts[r.split] = counts.get(r.split, 0) + 1
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert 0.95 <= counts["train"] / 2000 <= 0.995
    # deterministic: same assignment on rerun
    again = {(r.doc_id, r.split) for r in split_assign(d).collect()}
    assert again == {(r.doc_id, r.split) for r in out}


def test_apply_dedup_drops_only_nonkeep(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id bigint, text string"
    )
    clusters = spark.createDataFrame(
        [(1, 1, True), (3, 1, False), (7, 1, False), (5, 5, True)],
        "doc_id bigint, cluster bigint, keep boolean",
    )
    kept = sorted(r.doc_id for r in apply_dedup(docs, clusters).collect())
    # 3 and 7 dropped; cluster canonicals (1, 5) and unclustered docs kept
    assert kept == [0, 1, 2, 4, 5, 6, 8, 9]
    # plan: broadcast anti join, no shuffle of the corpus
    plan = apply_dedup(docs, clusters)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_group_capped_sample(spark):
    from logboost_spark.operators.sampling import group_capped_sample

    rows = [(i, "big") for i in range(1000)] + [(1000 + i, "small") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, grp string")
    out = group_capped_sample(df, "grp", cap=50).collect()
    by = {}
    for r in out:
        by.setdefault(r.grp, set()).add(r.doc_id)
    # under-cap group passes through WHOLE (no hash jitter)
    assert by["small"] == {1000 + i for i in range(20)}
    # over-cap group lands near the cap (binomial jitter ~ sqrt(cap))
    assert 25 <= len(by["big"]) <= 80, len(by["big"])
    # deterministic
    again = {r.doc_id for r in group_capped_sample(df, "grp", cap=50).collect()}
    assert again == {r.doc_id for r in out}


def test_token_repetition_vs_python_oracle(spark):
    from collections import Counter

    from logboost_spark.operators.quality import token_repetition

    rows = [
        (0, "spam spam spam spam ham"),
        (1, "all tokens here are unique"),
        (2, "  "),
        (3, "a"),
        (4, "x y x y x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in token_repetition(df).collect()}
    for i, text in rows:
        toks = text.strip().lower().split()
        c = Counter(toks)
        n = sum(c.values())
        r = got[i]
        assert r.n_tokens == n, (i, r)
        if n:
            assert abs(r.distinct_ratio - len(c) / n) < 1e-6
            assert abs(r.top_token_ratio - max(c.values()) / n) < 1e-6
        else:
            assert r.distinct_ratio == 0.0 and r.top_token_ratio == 0.0
    # the spam doc is flagged by both signals relative to the unique doc
    assert got[0].top_token_ratio > got[1].top_token_ratio
    assert got[0].distinct_ratio < got[1].distinct_ratio


def test_vocab_topk_plan_and_values(spark):
    from logboost_spark.operators.quality import vocab_topk

    rows = [(0, "a a a b b c"), (1, "b c d"), (2, "a e")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = vocab_topk(df, k=3)
    got = [(r.token, r.cnt) for r in out.collect()]
    assert got == [("a", 4), ("b", 3), ("c", 2)]
    # scale shape: per-partition k-heap merge, NOT a global sort
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_events_funnel_strict_ordering(spark):
    """Strict funnel: step k counts only users whose step-k event is AT
    OR AFTER their step-(k-1) min-time."""
    import datetime as dt

    from logboost_spark.entry_queries import events_funnel

    base = dt.datetime(2024, 1, 1)

    def t(m):
        return base + dt.timedelta(minutes=m)

    rows = [
        # u1: full ordered path
        (1, t(0), 1, "view", 0.0, "{}"),
        (2, t(1), 1, "click", 0.0, "{}"),
        (3, t(2), 1, "purchase", 0.0, "{}"),
        # u2: clicked BEFORE viewing, purchase after nothing -> stops at view
        (4, t(5), 2, "click", 0.0, "{}"),
        (5, t(6), 2, "view", 0.0, "{}"),
        # u3: view + purchase but no click -> stops at view
        (6, t(0), 3, "view", 0.0, "{}"),
        (7, t(9), 3, "purchase", 0.0, "{}"),
        # u4: never viewed -> not even step 1
        (8, t(0), 4, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    import tempfile

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r.step: r.users for r in events_funnel(spark, d).collect()}
    assert got == {1: 3, 2: 1, 3: 1}, got


def test_pack_sequences_invariants_and_partition_invariance(spark):
    """Packing must (a) conserve the token total, (b) keep offsets in
    [0, budget), (c) produce consecutive bins each fed >= budget tokens
    before the next opens (streaming packing), and (d) be IDENTICAL
    regardless of partition count — the per-partition cumsum + offset
    join must reproduce the single global order."""
    from logboost_spark.operators.sampling import pack_sequences

    rows = [(i, 50 + (i * 37) % 400) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    budget = 1000
    out1 = pack_sequences(df, budget, n_parts=1).collect()
    out8 = pack_sequences(df, budget, n_parts=8).collect()
    as_map = lambda rs: {r.doc_id: (r.bin_id, r.offset_in_bin) for r in rs}
    assert as_map(out1) == as_map(out8)  # partition-count invariant
    assert all(0 <= r.offset_in_bin < budget for r in out8)
    total = sum(n for _, n in rows)
    # reconstruct the stream: offset equals running-total % budget in key order
    by_pos = sorted(out8, key=lambda r: (r.bin_id, r.offset_in_bin))
    cum = 0
    for r in by_pos:
        assert r.bin_id == cum // budget
        assert r.offset_in_bin == cum % budget
        cum += r.n_tokens
    assert cum == total


def test_pack_sequences_oversized_doc(spark):
    """A doc longer than the budget owns the boundary it lands on; the
    next doc starts in a later bin (no infinite loop, no drop)."""
    from logboost_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(1, 100), (2, 5000), (3, 100)], "doc_id bigint, n_tokens bigint"
    )
    out = pack_sequences(df, 1000).collect()
    assert len(out) == 3
    assert sum(r.n_tokens for r in out) == 5200


def test_decontaminate_flags_exact_ngram_overlap(spark):
    """Docs sharing an n-gram with the benchmark are flagged with the
    distinct collision count; clean docs are absent; the flagged set
    anti-joins away."""
    from logboost_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "a quick brown fox appeared"),        # shares 'quick brown fox'
            (2, "totally unrelated words here now"),  # clean
            (3, "the quick brown fox jumps again"),   # shares 2 trigrams + more
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in decontaminate(corpus, bench).collect()}
    assert set(out) == {1, 3}
    assert out[1].hit_shingles == 1
    assert out[1].example_shingle == "quick brown fox"
    assert out[3].hit_shingles >= 2
    clean = corpus.join(
        decontaminate(corpus, bench).select("doc_id"), "doc_id", "left_anti"
    )
    assert [r.doc_id for r in clean.collect()] == [2]


def test_decontaminate_plan_is_broadcast(spark):
    """The benchmark side must broadcast (no corpus-side shuffle before
    the per-doc agg)."""
    from logboost_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    corpus = spark.createDataFrame([(2, "a b c d e")], "doc_id bigint, text string")
    plan = decontaminate(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_documents_coverage_and_stride(spark):
    """Windows advance by budget-overlap, cover every token, cap the
    last end at n, and never emit a fully-redundant tail; zero-token
    docs emit nothing; the plan has no shuffle."""
    from logboost_spark.operators.sampling import chunk_documents

    df = spark.createDataFrame(
        [(1, 10), (2, 16), (3, 17), (4, 40), (5, 0)],
        "doc_id bigint, n_tokens bigint",
    )
    out = chunk_documents(df, budget=16, overlap=4)
    rows = sorted(out.collect(), key=lambda r: (r.doc_id, r.chunk_idx))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.start_tok, r.end_tok))
    assert by_doc[1] == [(0, 10)]
    assert by_doc[2] == [(0, 16)]        # exactly budget -> one window
    assert by_doc[3] == [(0, 16), (12, 17)]
    # n=40: starts 0,12,24; window [24,40) reaches n -> stop
    assert by_doc[4] == [(0, 16), (12, 28), (24, 40)]
    assert 5 not in by_doc
    for spans in by_doc.values():
        assert spans[-1][1] == max(e for _, e in spans)  # last window reaches n
        for (s1, _), (s2, _) in zip(spans, spans[1:]):
            assert s2 - s1 == 12  # stride
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map-side


def test_pack_and_chunk_match_python_replay_randomized(spark):
    """Randomized cross-check against pure-Python replays (fixed seed):
    pack_sequences must equal sort-by-(md5key,id)+cumsum, and
    chunk_documents must equal the stride arithmetic, across uneven
    budgets and token distributions."""
    import hashlib
    import random

    from logboost_spark.operators.sampling import chunk_documents, pack_sequences

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 900)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")

    def key(i, salt="pack"):
        return int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:15], 16) % 1_000_000_000

    for budget in (64, 1000, 999_983):
        got = {
            r.doc_id: (r.bin_id, r.offset_in_bin)
            for r in pack_sequences(df, budget, n_parts=5).collect()
        }
        cum = 0
        want = {}
        for i, n in sorted(rows, key=lambda r: (key(r[0]), r[0])):
            want[i] = (cum // budget, cum % budget)
            cum += n
        assert got == want, budget

    for budget, overlap in ((16, 0), (16, 8), (37, 11)):
        stride = budget - overlap
        got = {}
        for r in chunk_documents(df, budget, overlap).collect():
            got.setdefault(r.doc_id, []).append((r.chunk_idx, r.start_tok, r.end_tok))
        want = {}
        for i, n in rows:
            if n <= 0:
                continue
            kmax = 0 if n <= budget else (n - budget + stride - 1) // stride
            want[i] = [(k, k * stride, min(k * stride + budget, n)) for k in range(kmax + 1)]
        got = {k: sorted(v) for k, v in got.items()}
        assert got == want, (budget, overlap)


def test_pack_sequences_plan_shape(spark):
    """Scale shape: ONE range exchange for the global order, windows only
    per-partition (never an unpartitioned global window), offsets joined
    by broadcast — no sort-merge join anywhere."""
    from logboost_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame([(i, 10) for i in range(100)], "doc_id bigint, n_tokens bigint")
    plan = pack_sequences(df, 100)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_mixture_sample_weights_and_determinism(spark):
    """w=2.5 gives 2 or 3 copies per doc (mean ~2.5); w=0 drops the
    source; default 1.0 passes through single; reruns identical; rep
    indexes are contiguous from 0."""
    from logboost_spark.operators.sampling import mixture_sample

    rows = [(i, f"s{i % 3}") for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = mixture_sample(df, {"s0": 2.5, "s1": 0.0}).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault((r.doc_id, r.source), []).append(r.rep)
    assert not any(s == "s1" for _, s in by_doc)          # dropped
    s0_copies = [len(v) for (d, s), v in by_doc.items() if s == "s0"]
    assert set(s0_copies) <= {2, 3}
    assert 2.2 < sum(s0_copies) / len(s0_copies) < 2.8    # ~2.5 mean
    assert all(len(v) == 1 for (d, s), v in by_doc.items() if s == "s2")
    for reps in by_doc.values():
        assert sorted(reps) == list(range(len(reps)))      # contiguous reps
    again = mixture_sample(df, {"s0": 2.5, "s1": 0.0}).collect()
    assert {(r.doc_id, r.rep) for r in again} == {(r.doc_id, r.rep) for r in out}
    # map-side only
    plan = mixture_sample(df, {"s0": 2.5})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

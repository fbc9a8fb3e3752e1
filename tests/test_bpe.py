"""Distributed BPE trainer (plans/bpe.py) vs an independent pure-
Python reference implementation of the greedy merge algorithm."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401  (parity with suite style)

from ong_tsdb_spark.plans import bpe


def _py_train(texts, n_merges, min_count=2):
    """Independent reference trainer: per-occurrence pair counts,
    (count desc, 'a b' string asc) argmax, greedy merge application."""
    words = [list(w) for t in texts for w in t.split(" ") if len(w) >= 1]
    merges = []
    for _ in range(n_merges):
        cnt: dict[str, int] = {}
        for syms in words:
            for i in range(len(syms) - 1):
                p = syms[i] + " " + syms[i + 1]
                cnt[p] = cnt.get(p, 0) + 1
        if not cnt:
            break
        pair, n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_count:
            break
        a, b = pair.split(" ")
        merges.append((a, b))
        words = [bpe.merge_word_py(s, a, b) for s in words]
    return merges


def test_train_bpe_merges_matches_python(spark):
    texts = [
        "the theatre then thens",
        "there is the thesis these theses",
        "other ether tether the",
        "aaaa aaa aa the",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = bpe.train_bpe_merges(df, n_merges=8)
    want = _py_train(texts, 8)
    assert got == want
    assert len(got) == 8  # this corpus has at least 8 frequent pairs


def test_train_bpe_merges_regex_specials_and_early_stop(spark):
    """Merged symbols containing regex/replacement metacharacters
    ($, ., \\, +) must merge correctly, and training stops once the
    best pair drops under min_count."""
    texts = ["$a. $a. $a. x\\y+ x\\y+ zq"]
    df = spark.createDataFrame([(0, texts[0])], "doc_id long, text string")
    got = bpe.train_bpe_merges(df, n_merges=20)
    want = _py_train(texts, 20)
    assert got == want
    # 'zq' occurs once -> never merged; everything frequent got merged
    assert ("z", "q") not in got


def test_apply_merges_py_roundtrip():
    merges = [("t", "h"), ("th", "e")]
    assert bpe.apply_merges_py("the", merges) == ["the"]
    assert bpe.apply_merges_py("then", merges) == ["the", "n"]
    assert bpe.apply_merges_py("tth", merges) == ["t", "th"]
    # overlapping occurrences merge greedily left-to-right
    assert bpe.merge_word_py(list("aaa"), "a", "a") == ["aa", "a"]


def test_tokenize_with_merges_matches_python(spark):
    """Distributed tokenization under a learned merge table equals the
    per-word pure-Python reference (word boundaries flattened),
    including regex-special merged symbols."""
    texts = [
        "the theatre then",
        "other ether tether",
        "$a. $a. thens x\\y+",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe.train_bpe_merges(df, n_merges=6)
    got = {
        r["doc_id"]: (r["tokens"], r["n_tokens"])
        for r in bpe.tokenize_with_merges(df, merges).collect()
    }
    for i, t in enumerate(texts):
        want = [s for w in t.split(" ") for s in bpe.apply_merges_py(w, merges)]
        assert got[i] == (want, len(want)), (i, got[i], want)


def test_tokenize_expr_is_shuffle_free(spark):
    df = spark.createDataFrame([(0, "the the the")], "doc_id long, text string")
    out = bpe.tokenize_with_merges(df, [("t", "h"), ("th", "e")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bpe_newlines_and_empty_words(spark):
    """Line terminators are ordinary symbols (DOTALL symbolization;
    \\z anchoring so a trailing newline symbol cannot be merged
    across), and empty words from consecutive spaces contribute no
    tokens — both pinned against the pure-Python reference."""
    texts = ["a\nb a\nb qa\n qa\n", "the  the", " lead trail "]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe.train_bpe_merges(df, n_merges=6)
    want_merges = _py_train(texts, 6)
    assert merges == want_merges
    got = {
        r["doc_id"]: (r["tokens"], r["n_tokens"])
        for r in bpe.tokenize_with_merges(df, merges).collect()
    }
    for i, t in enumerate(texts):
        want = [
            s
            for w in t.split(" ")
            if len(w) >= 1
            for s in bpe.apply_merges_py(w, merges)
        ]
        assert got[i] == (want, len(want)), (i, got[i], want)


def test_exact_batch_unit_guards():
    """The prefix/disjoint/new-pair/floor guards of _exact_batch, on
    hand-built rankings (no Spark)."""
    # new-pair bound: accepting (a,b) bounds fresh pairs by the old
    # counts of (x,a)/(b,y); a tied disjoint candidate must NOT ride
    top = [("a b", 4), ("c d", 4), ("x a", 4)]
    assert bpe._exact_batch(top, floor=0, limit=10, min_count=2) == [("a", "b")]
    # disjoint + strictly above every bound: batches freely
    top = [("a b", 9), ("c d", 5), ("e f", 3)]
    assert bpe._exact_batch(top, floor=0, limit=10, min_count=2) == [
        ("a", "b"), ("c", "d"), ("e", "f")]
    # shared symbol ends the batch
    top = [("a b", 9), ("b c", 5), ("e f", 3)]
    assert bpe._exact_batch(top, floor=0, limit=10, min_count=2) == [("a", "b")]
    # floor guard: a candidate at the collection horizon could tie an
    # uncollected pair -> ends the batch
    top = [("a b", 9), ("c d", 5)]
    assert bpe._exact_batch(top, floor=5, limit=10, min_count=2) == [("a", "b")]
    # self-pair always ends the batch (interacts with its own output)
    top = [("a a", 9), ("c d", 5)]
    assert bpe._exact_batch(top, floor=0, limit=10, min_count=2) == [("a", "a")]
    # min_count stops acceptance
    top = [("a b", 9), ("c d", 1)]
    assert bpe._exact_batch(top, floor=0, limit=10, min_count=2) == [("a", "b")]


def test_train_bpe_rejects_unknown_guard():
    """Only the two exact modes exist; anything else fails before any
    Spark work (so no DataFrame is needed)."""
    import pytest

    for guard in ("greedy", "EXACT", ""):
        with pytest.raises(ValueError, match="'cascade' or 'exact'"):
            bpe.train_bpe_merges(None, guard=guard)


def test_train_bpe_batched_equals_sequential(spark):
    """The batched trainer must produce the IDENTICAL merge table as
    the one-merge-per-round loop (and the pure-Python reference) —
    including on the adversarial shape where a merge CREATES a pair
    that outranks the next disjoint candidate ((a,b) -> (ab,c) beats
    (d,e)), which naive disjoint batching gets wrong."""
    corpora = [
        # natural-ish corpus (the existing parity fixture)
        ["the theatre then thens", "there is the thesis these theses",
         "other ether tether the", "aaaa aaa aa the"],
        # adversarial: merging (a,b) creates (ab,c) with count 4 > (d,e)=2
        ["abc abc abc abc de de"],
        # tie-heavy: equal counts everywhere, order decided by name
        ["xy xy xz xz qr qr"],
    ]
    for texts in corpora:
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        want = _py_train(texts, 12)
        seq = bpe.train_bpe_merges(df, n_merges=12, batch=1)
        bat = bpe.train_bpe_merges(df, n_merges=12, batch=16)
        assert seq == want, texts
        assert bat == want, texts


def test_train_bpe_batched_randomized(spark):
    """Seeded random corpora (skewed small alphabet -> heavy pair
    interaction) — batched output must match the pure-Python greedy
    reference on every one, and batching must actually reduce rounds
    on at least one corpus."""
    import random

    rng = random.Random(42)
    saved_rounds = []
    for _ in range(6):
        words = [
            "".join(rng.choice("abcdef") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(5, 40))
        ]
        texts = [" ".join(words[i::3]) for i in range(3)]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        want = _py_train(texts, 10)
        got = bpe.train_bpe_merges(df, n_merges=10, batch=16)
        assert got == want, texts
        saved_rounds.append((bpe.LAST_TRAIN_ROUNDS, len(got)))
    assert any(r < m for r, m in saved_rounds if m > 1), saved_rounds


def test_cascade_equals_sequential_and_cuts_rounds(spark):
    """guard="cascade" must (a) produce the identical merge table to
    the sequential loop on every parity corpus, and (b) actually
    follow merge chains: the natural-ish fixture's 12 merges must land
    in far fewer summary rounds than 12."""
    corpora = [
        ["the theatre then thens", "there is the thesis these theses",
         "other ether tether the", "aaaa aaa aa the"],
        ["abc abc abc abc de de"],          # created pair outranks next
        ["xy xy xz xz qr qr"],              # tie-heavy
        ["a\nb a\nb qa\n qa\n", "the  the", " lead trail "],
    ]
    for texts in corpora:
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        want = _py_train(texts, 12)
        got = bpe.train_bpe_merges(df, n_merges=12, batch=64, guard="cascade")
        assert got == want, texts
    # chain-following: the fixture corpus has deep chains (t,h)->(th,e);
    # it exhausts (best pair < min_count) at 9 merges, same as the
    # reference — those 9 chained merges must land in <= 4 summary
    # rounds (sequential needs 9 + 1 exhaustion round)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpora[0])], "doc_id long, text string"
    )
    got = bpe.train_bpe_merges(df, n_merges=12, batch=64, guard="cascade")
    assert got == _py_train(corpora[0], 12)
    assert len(got) == 9
    assert bpe.LAST_TRAIN_ROUNDS <= 4, bpe.LAST_TRAIN_ROUNDS


def test_cascade_randomized(spark):
    """Seeded random skewed-alphabet corpora: cascade output must match
    the pure-Python greedy reference on every one."""
    import random

    rng = random.Random(1234)
    for _ in range(5):
        words = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(4, 50))
        ]
        texts = [" ".join(words[i::3]) for i in range(3)]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        want = _py_train(texts, 10)
        got = bpe.train_bpe_merges(df, n_merges=10, batch=64, guard="cascade")
        assert got == want, texts


def test_cascade_fallback_when_summary_too_small(spark, monkeypatch):
    """With a crippled summary (top-2 grams, depth 2) the cascade can
    prove almost nothing — the single-merge fallback must keep the
    table identical instead of truncating training."""
    monkeypatch.setattr(bpe, "CASCADE_G", 2)
    monkeypatch.setattr(bpe, "CASCADE_TOPK", 2)
    texts = ["the theatre then thens", "other ether tether the"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want = _py_train(texts, 8)
    got = bpe.train_bpe_merges(df, n_merges=8, batch=64, guard="cascade")
    assert got == want
    # this corpus exhausts at 5 merges; the crippled summary can prove
    # almost none of them, so fallback single-merge jobs must have run
    # (rounds > merges counts both the summary job and the fallback)
    assert len(got) == 5
    assert bpe.LAST_TRAIN_ROUNDS > len(got), bpe.LAST_TRAIN_ROUNDS


def test_gram_summary_interval_soundness():
    """Property: for random corpora and the true greedy merge
    sequence, _GramSummary.query bounds always CONTAIN the true count
    of every queried gram at every depth — the invariant the whole
    cascade's exactness rests on.  Pure driver-side, no Spark."""
    import random

    rng = random.Random(99)

    def brute_count(words, gram):
        n = len(gram)
        return sum(
            1
            for syms in words
            for i in range(len(syms) - n + 1)
            if tuple(syms[i:i + n]) == gram
        )

    for trial in range(20):
        words = [
            list("".join(rng.choice("abc") for _ in range(rng.randint(1, 6))))
            for _ in range(rng.randint(3, 25))
        ]
        # summary at state 0
        grams: dict[tuple, int] = {}
        floors: dict[int, int] = {}
        G, topk = 4, 6  # tiny => truncation paths exercised
        for n in range(1, G + 1):
            cnt: dict[tuple, int] = {}
            for syms in words:
                for i in range(len(syms) - n + 1):
                    g = tuple(syms[i:i + n])
                    cnt[g] = cnt.get(g, 0) + 1
            top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            keep = top if n == 1 else top[:topk]
            if n > 1:
                floors[n] = keep[-1][1] if len(keep) == topk else 0
            grams.update(keep)
        S = bpe._GramSummary(grams, floors, G)
        # walk the true greedy merge sequence, checking bounds per depth
        state = [list(s) for s in words]
        for depth in range(4):
            cnt = {}
            for syms in state:
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    cnt[p] = cnt.get(p, 0) + 1
            if not cnt:
                break
            (a, b), _n = min(
                cnt.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
            )
            if a == b or a + b in {s for syms in state for s in syms}:
                break  # cascade ends the round here too
            S.merges.append((a, b, a + b))
            state = [bpe.merge_word_py(s, a, b) for s in state]
            symset = sorted({s for syms in state for s in syms})
            checks = [
                (x, y) for x in symset for y in symset
            ][:200]
            for gram in checks:
                lo, hi = S.query(gram)
                true = brute_count(state, gram)
                assert lo <= true <= hi, (trial, depth, gram, lo, true, hi)


def test_train_history_sums_to_table(spark):
    """LAST_TRAIN_HISTORY (round-8 instrumentation): per-round accepted
    counts sum to the returned table length in every mode, and a
    cascade fallback round records the 0-then-1 pair."""
    df = spark.createDataFrame(
        [(i, "the cat sat on the mat " * 3) for i in range(4)],
        "doc_id long, text string",
    )
    for kwargs in ({"guard": "cascade", "batch": 8}, {"guard": "exact", "batch": 4},
                   {"guard": "cascade", "batch": 8, "cascade_g": 3}):
        got = bpe.train_bpe_merges(df, n_merges=6, **kwargs)
        hist = list(bpe.LAST_TRAIN_HISTORY)
        assert sum(hist) == len(got), (kwargs, hist, got)
        assert len(hist) == bpe.LAST_TRAIN_ROUNDS or 0 in hist, (kwargs, hist)
        # rounds counter counts fallback rounds too: history length
        # equals rounds exactly (each entry is one aggregate round)
        assert len(hist) == bpe.LAST_TRAIN_ROUNDS, (kwargs, hist)


def test_train_history_invariant_on_exhaustion(spark):
    """ADVICE r8: len(LAST_TRAIN_HISTORY) == LAST_TRAIN_ROUNDS must
    hold on the break-without-accept exits too — cascade exhaustion,
    empty single-merge fallback, and an empty exact batch all record a
    trailing 0 round instead of silently dropping the final probe."""
    df = spark.createDataFrame(
        [(0, "ab ab ab ab")], "doc_id long, text string"
    )
    # tiny corpus: merges exhaust long before n_merges in every mode
    for kwargs in (
        {"guard": "cascade", "batch": 8},
        {"guard": "exact", "batch": 4},
    ):
        got = bpe.train_bpe_merges(df, n_merges=50, **kwargs)
        hist = list(bpe.LAST_TRAIN_HISTORY)
        assert sum(hist) == len(got), (kwargs, hist, got)
        assert len(hist) == bpe.LAST_TRAIN_ROUNDS, (kwargs, hist,
                                                    bpe.LAST_TRAIN_ROUNDS)
        assert hist and hist[-1] == 0, (kwargs, hist)  # final probe recorded


def test_curve_eighths_covers_every_round():
    """ADVICE r8: the acceptance curve must account for EVERY round —
    eight contiguous ceil-boundary slices, no truncated tail — and the
    slice means must reconstruct the exact total."""
    import importlib.util
    import os as _os

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bpe_scale_mod", _os.path.join(repo, "tools", "bpe_scale.py")
    )
    bs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bs)

    for n in (1, 3, 7, 8, 9, 15, 16, 17, 100, 117):
        hist = list(range(n))  # distinct values so a dropped tail shows
        bounds = [round(i * n / min(8, n)) for i in range(min(8, n) + 1)]
        curve = bs._curve_eighths(hist)
        assert len(curve) == min(8, n), (n, curve)
        # weighted sum over slice widths == total accepted (nothing dropped)
        total = sum(
            c * (hi - lo) for c, lo, hi in zip(curve, bounds, bounds[1:])
        )
        assert abs(total - sum(hist)) < 0.5 * n + 1e-9, (n, curve, total)
    assert bs._curve_eighths([]) == []


# ----------------------------------------------------------------------
# driver-memory contract (VERDICT r11 #2): the driver never holds
# corpus-derived state beyond the O(G * top-K) summary, the memo is
# hard-capped, and the round checkpoints rotate (exactly one live
# corpus copy; zero blocks leaked after training)
# ----------------------------------------------------------------------

def test_driver_rows_bounded_by_summary_width(spark):
    """Per-round driver collects are bounded by (G-1)*topK pair/gram
    rows plus the (never-truncated) level-1 symbol universe — a
    corpus-INDEPENDENT function of the summary knobs.  A tight topk
    makes the bound bite: any future edit that collects a corpus-sized
    table (the r11 16-GiB-driver failure shape) trips this."""
    texts = [
        "the theatre then thens there is the thesis these theses",
        "other ether tether the aaaa aaa aa the banana bandana",
    ] * 4
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    topk, g, n_merges = 16, 4, 10
    got = bpe.train_bpe_merges(
        df, n_merges=n_merges, cascade_g=g, cascade_topk=topk
    )
    rows = list(bpe.LAST_DRIVER_ROWS)
    assert rows and len(rows) == bpe.LAST_TRAIN_ROUNDS
    alphabet = len({c for t in texts for w in t.split(" ") for c in w})
    bound = (g - 1) * topk + alphabet + n_merges
    assert max(rows) <= bound, (rows, bound)
    assert bpe.LAST_MEMO_PEAK <= bpe.CASCADE_MEMO_CAP
    assert got == _py_train(texts, n_merges)  # narrow summary stays exact


def test_checkpoint_rotation_leaves_no_blocks(spark):
    """Training rotates its round checkpoints (superseded blocks freed
    deterministically, not left to the 30-min periodic-GC sweep) and
    releases the final one — the block store must hold NOTHING of the
    trainer's after it returns.  This is the fix for the r11 10x-Zipf
    OOM: one live corpus copy, ever."""
    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = persistent_ids()
    texts = ["the theatre then thens these theses the the"] * 8
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe.train_bpe_merges(df, n_merges=12, batch=4)
    assert len(merges) >= 8  # multi-round run: rotation actually exercised
    leaked = persistent_ids() - before
    assert not leaked, f"trainer leaked checkpoint blocks: {leaked}"


def test_memo_budget_ends_round_but_stays_exact(spark, monkeypatch):
    """Blowing CASCADE_MEMO_CAP mid-round must END the round after the
    merges already proven and recount — never truncate training or
    deviate from the sequential reference table."""
    texts = [
        "the theatre then thens there is the thesis these theses",
        "other ether tether the banana bandana cabana",
    ] * 2
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    baseline = bpe.train_bpe_merges(df, n_merges=10)
    rounds_unbudgeted = bpe.LAST_TRAIN_ROUNDS
    monkeypatch.setattr(bpe, "CASCADE_MEMO_CAP", 8)
    got = bpe.train_bpe_merges(df, n_merges=10)
    assert got == baseline == _py_train(texts, 10)
    assert bpe.LAST_MEMO_PEAK <= 8
    assert bpe.LAST_TRAIN_ROUNDS >= rounds_unbudgeted  # less batching, never less output
